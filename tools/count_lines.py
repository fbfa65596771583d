#!/usr/bin/env python3
"""Count code, comment and total lines of Scala/Java sources.

Usage:
    python3 tools/count_lines.py PATH [PATH ...]

Each PATH is a source file or a directory (searched recursively for
*.scala and *.java). Prints one row per file, then a total row:

    code  comment  total  path

Counting rule:
  - a code line is a non-blank line with at least one non-whitespace
    character outside comments (`//` to end of line, and `/* */` blocks,
    which nest as in Scala);
  - string and character literals are code, and comment markers inside
    them do not open a comment ("//" in a string is code);
  - a comment line is a non-blank line that is not a code line;
  - total counts every line, blank lines included.
"""

import os
import sys

EXTS = (".scala", ".java")


def lex(text):
    """Split one source into lines and mark what each character is.

    Returns one (code, bare, is_code, is_comment) tuple per line:
      - code: the line with every comment character blanked to a space;
      - bare: `code` with the contents of string and character literals
        blanked too (their quotes stay), so braces and words inside
        literals do not look like program text;
      - is_code / is_comment: the per-line flags of the counting rule.
    Both strings keep the line's length, so columns line up.
    """
    lines = text.split("\n")
    if lines and lines[-1] == "":
        lines.pop()  # a trailing newline does not start another line
    out = []
    depth = 0  # block-comment nesting depth
    in_triple = False  # inside a """...""" literal (spans lines)
    for line in lines:
        n = len(line)
        code = list(line)
        bare = list(line)
        is_code = is_comment = False

        def blank(a, b, both=True):
            for k in range(a, min(b, n)):
                bare[k] = " "
                if both:
                    code[k] = " "

        i = 0
        while i < n:
            c = line[i]
            if depth > 0:
                if not c.isspace():
                    is_comment = True
                if line.startswith("*/", i):
                    depth -= 1
                    blank(i, i + 2)
                    i += 2
                elif line.startswith("/*", i):
                    depth += 1
                    blank(i, i + 2)
                    i += 2
                else:
                    blank(i, i + 1)
                    i += 1
                continue
            if in_triple:
                if line.startswith('"""', i):
                    # a run of quotes closes on its LAST three
                    j = i
                    while j < n and line[j] == '"':
                        j += 1
                    blank(i, j - 3, both=False)
                    in_triple = False
                    i = j
                else:
                    blank(i, i + 1, both=False)
                    i += 1
                is_code = True
                continue
            if c.isspace():
                i += 1
            elif line.startswith("//", i):
                is_comment = True
                blank(i, n)
                break
            elif line.startswith("/*", i):
                is_comment = True
                depth = 1
                blank(i, i + 2)
                i += 2
            elif line.startswith('"""', i):
                is_code = True
                in_triple = True
                i += 3
            elif c == '"':
                is_code = True
                i += 1
                j = i
                while i < n and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                blank(j, i, both=False)
                i += 1
            elif c == "'":
                is_code = True
                if i + 1 < n and line[i + 1] == "\\":
                    end = line.find("'", i + 2)
                    end = n if end < 0 else end
                    blank(i + 1, end, both=False)
                    i = end + 1
                elif i + 2 < n and line[i + 2] == "'":
                    blank(i + 1, i + 2, both=False)
                    i += 3
                else:
                    i += 1  # a Scala symbol or a lone quote
            else:
                is_code = True
                i += 1
        out.append(("".join(code), "".join(bare), is_code, is_comment))
    return out


def classify(text):
    """Return (code_lines, comment_lines, total_lines) for one source."""
    lines = lex(text)
    n_code = sum(1 for _, _, is_code, _ in lines if is_code)
    n_comment = sum(1 for _, _, is_code, is_comment in lines
                    if is_comment and not is_code)
    return n_code, n_comment, len(lines)


def sources(path):
    if os.path.isfile(path):
        yield path
        return
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(EXTS):
                yield os.path.join(root, f)


def main(argv):
    if not argv:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    total = [0, 0, 0]
    for p in argv:
        if not os.path.exists(p):
            print(f"no such path: {p}", file=sys.stderr)
            return 2
        for f in sources(p):
            with open(f, encoding="utf-8") as fh:
                row = classify(fh.read())
            total = [a + b for a, b in zip(total, row)]
            print(f"{row[0]:6d} {row[1]:6d} {row[2]:6d}  {f}")
    print(f"{total[0]:6d} {total[1]:6d} {total[2]:6d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
