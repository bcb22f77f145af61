#!/usr/bin/env python3
"""Count the non-comment, non-blank lines of each Scala/Java file under src/main.

A line counts when it holds any character outside a comment: `//` line
comments and `/* ... */` block comments (Scaladoc included, nesting as in
Scala) are skipped; string and char literals ("...", triple-quoted strings
across lines, '"') are code.

    python3 tools/loc.py [repo-root]      # per-file counts, then the total

Prints one `<lines>  <path>` row per file, largest first, then `total`.
"""
import os
import re
import sys

EXTS = (".scala", ".java")
CHAR = re.compile(r"'(\\.|[^\\'])'")


def code_lines(text):
    n = 0
    in_block = 0  # nesting depth (Scala block comments nest)
    in_triple = False
    for line in text.splitlines():
        code = False
        i = 0
        while i < len(line):
            if in_block:
                if line.startswith("/*", i):
                    in_block += 1
                    i += 2
                elif line.startswith("*/", i):
                    in_block -= 1
                    i += 2
                else:
                    i += 1
                continue
            if in_triple:
                code = True
                end = line.find('"""', i)
                if end < 0:
                    break
                in_triple = False
                i = end + 3
                continue
            c = line[i]
            if c.isspace():
                i += 1
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                in_block = 1
                i += 2
            elif line.startswith('"""', i):
                code = True
                in_triple = True
                i += 3
            elif CHAR.match(line, i):
                code = True
                i = CHAR.match(line, i).end()
            elif c == '"':
                code = True
                i += 1
                while i < len(line) and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
            else:
                code = True
                i += 1
        if code or in_triple:
            n += 1
    return n


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..")
    main_dir = os.path.join(root, "src", "main")
    rows = []
    for d, _, files in os.walk(main_dir):
        for f in files:
            if f.endswith(EXTS):
                p = os.path.join(d, f)
                with open(p, encoding="utf-8") as fh:
                    rows.append((code_lines(fh.read()),
                                 os.path.relpath(p, root)))
    for n, p in sorted(rows, key=lambda r: (-r[0], r[1])):
        print(f"{n:7d}  {p}")
    print(f"{sum(n for n, _ in rows):7d}  total")


if __name__ == "__main__":
    main()
