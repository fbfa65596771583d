#!/usr/bin/env python3
"""List public members of src/main/scala that no shipped code names.

Usage:
    python3 tools/unreached.py

Run from the repository root. Prints one row per public member declared
in src/main/scala whose name occurs nowhere in src/main/scala,
perfbench/src or tools except where it is declared:

    path:line  Owner.name  kind  test:yes|no

`test:yes` means src/test names it, so the member is reached by specs
only; `test:no` means nothing names it at all. The last row counts the
members listed.

Rules:
  - a member is a def, val, var, type, object, class or trait declared
    directly in a package, object, class or trait body, and not marked
    private, protected, override or implicit (those are reached without
    being named, or cannot be reached from outside);
  - `main` and the objects that declare it are entry points, and
    apply/unapply/update are called by syntax, so none of them is
    listed;
  - a reference is the name as a whole word in code. Comments, scaladoc
    `[[...]]` links included, are not code (count_lines.lex splits them
    off). Words in string literals do count, because Spark resolves
    columns and registered functions by name;
  - every declaration of a name, local ones included, is subtracted
    from its count, so a name counts as reached when some code other
    than a declaration spells it. The scan matches names, not symbols:
    two members with one name hide each other, so treat the list as a
    lower bound of what is unreached.
"""

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from count_lines import lex  # noqa: E402

MAIN = "src/main/scala"
CONSUMERS = [MAIN, "perfbench/src", "tools"]
TESTS = ["src/test"]
SCALA = (".scala", ".java")
SOURCES = SCALA + (".py", ".sh")

DECL = {"def", "val", "var", "type", "object", "class", "trait"}
TEMPLATE = {"object", "class", "trait"}
HIDDEN = {"private", "protected", "override", "implicit"}
BY_SYNTAX = {"main", "apply", "unapply", "unapplySeq", "update"}
TOKEN = re.compile(r"[A-Za-z_][A-Za-z0-9_]*|[{}()\[\]]|\n|[^\s]")
WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def files(roots, exts=SOURCES):
    for root in roots:
        for dirpath, dirs, names in os.walk(root):
            dirs.sort()
            for f in sorted(names):
                if f.endswith(exts):
                    yield os.path.join(dirpath, f)


def code_text(path):
    """The file's text, comments blanked for Scala/Java (scripts as is)."""
    with open(path, encoding="utf-8") as fh:
        text = fh.read()
    if not path.endswith(SCALA):
        return text
    return "\n".join(code for code, _, _, _ in lex(text))


def declarations(path):
    """Yield (line, owner, name, kind, member) for each declaration.

    `member` is True for a public member of a template or package body.
    The walk runs over the lexer's `bare` text, so braces in literals
    and comments do not move the nesting.
    """
    with open(path, encoding="utf-8") as fh:
        bare = "\n".join(b for _, b, _, _ in lex(fh.read()))
    toks = [(m.group(), bare.count("\n", 0, m.start()) + 1)
            for m in TOKEN.finditer(bare)]
    stack = []  # one (is_template, owner name) per open brace
    parens = 0
    pending = None  # name of a template whose body `{` may follow
    mods = set()
    for i, (tok, line) in enumerate(toks):
        if tok in "([":
            parens += 1
        elif tok in ")]":
            parens -= 1
        elif tok == "{":
            stack.append((pending is not None, pending))
            pending = None
            mods = set()
        elif tok == "}":
            if stack:
                stack.pop()
            pending = None
            mods = set()
        elif tok in ("\n", ";") and parens == 0:
            mods = set()
            nxt = next((t for t, _ in toks[i + 1:] if t != "\n"), None)
            if nxt not in ("extends", "with", "{"):
                pending = None
        elif tok in HIDDEN and parens == 0:
            mods.add(tok)
        elif tok in DECL and parens == 0:
            name = toks[i + 1][0] if i + 1 < len(toks) else ""
            pending = name if tok in TEMPLATE else None
            if WORD.fullmatch(name):
                member = all(t for t, _ in stack) and not mods
                owner = ".".join(o for t, o in stack if t)
                yield line, owner, name, tok, member
            mods = set()


def word_counts(roots):
    counts = {}
    for path in files(roots):
        for w in WORD.findall(code_text(path)):
            counts[w] = counts.get(w, 0) + 1
    return counts


def main(argv):
    if argv:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    decls = [(path,) + d for path in files([MAIN], SCALA)
             for d in declarations(path)]
    entry = {(p, o) for p, _, o, name, kind, _ in decls if name == "main"}
    declared = {}
    for path, _, _, name, _, _ in decls:
        declared[name] = declared.get(name, 0) + 1
    used = word_counts(CONSUMERS)
    tested = word_counts(TESTS)
    rows = []
    for path, line, owner, name, kind, member in decls:
        if not member or name in BY_SYNTAX:
            continue
        inner = f"{owner}.{name}" if owner else name
        if kind == "object" and (path, inner) in entry:
            continue
        if used.get(name, 0) - declared[name] > 0:
            continue
        flag = "yes" if tested.get(name, 0) else "no"
        rows.append(f"{path}:{line}  {inner}  {kind}  test:{flag}")
    for r in rows:
        print(r)
    print(f"{len(rows)} unreached")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
