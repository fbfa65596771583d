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


def classify(text):
    """Return (code_lines, comment_lines, total_lines) for one source."""
    lines = text.split("\n")
    if lines and lines[-1] == "":
        lines.pop()  # a trailing newline does not start another line
    code = [False] * len(lines)
    comment = [False] * len(lines)
    depth = 0  # block-comment nesting depth
    in_triple = False  # inside a """...""" literal (spans lines)
    for ln, line in enumerate(lines):
        i, n = 0, len(line)
        while i < n:
            c = line[i]
            if depth > 0:
                if not c.isspace():
                    comment[ln] = True
                if line.startswith("*/", i):
                    depth -= 1
                    i += 2
                elif line.startswith("/*", i):
                    depth += 1
                    i += 2
                else:
                    i += 1
                continue
            if in_triple:
                if line.startswith('"""', i):
                    # a run of quotes closes on its LAST three
                    j = i
                    while j < n and line[j] == '"':
                        j += 1
                    in_triple = False
                    i = j
                else:
                    i += 1
                code[ln] = True
                continue
            if c.isspace():
                i += 1
            elif line.startswith("//", i):
                comment[ln] = True
                break
            elif line.startswith("/*", i):
                comment[ln] = True
                depth = 1
                i += 2
            elif line.startswith('"""', i):
                code[ln] = True
                in_triple = True
                i += 3
            elif c == '"':
                code[ln] = True
                i += 1
                while i < n and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
            elif c == "'":
                code[ln] = True
                if i + 1 < n and line[i + 1] == "\\":
                    end = line.find("'", i + 2)
                    i = n if end < 0 else end + 1
                elif i + 2 < n and line[i + 2] == "'":
                    i += 3
                else:
                    i += 1  # a Scala symbol or a lone quote
            else:
                code[ln] = True
                i += 1
    n_code = sum(code)
    n_comment = sum(1 for k in range(len(lines)) if comment[k] and not code[k])
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
