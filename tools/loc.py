#!/usr/bin/env python3
"""Count code lines in Scala sources: lines that hold something other than
whitespace and comments.

    python3 tools/loc.py <file-or-dir>...

Prints one `<lines>  <path>` row per .scala file (directories are walked
recursively, files sorted by path) and a final total row. A line counts
when any character outside a `//` or `/* ... */` comment remains on it;
comment markers inside string literals ("...", triple-quoted and char
literals) do not open comments. Nested block comments are tracked, as
Scala allows them.
"""
import os
import sys


def code_lines(text):
    n = 0
    depth = 0  # block-comment nesting carried across lines
    in_triple = False  # inside a """...""" literal carried across lines
    for line in text.splitlines():
        has_code = False
        i = 0
        while i < len(line):
            if in_triple:
                has_code = True
                end = line.find('"""', i)
                if end < 0:
                    break
                i = end + 3
                in_triple = False
                continue
            if depth > 0:
                if line.startswith("/*", i):
                    depth += 1
                    i += 2
                elif line.startswith("*/", i):
                    depth -= 1
                    i += 2
                else:
                    i += 1
                continue
            c = line[i]
            if line.startswith("//", i):
                break
            if line.startswith("/*", i):
                depth = 1
                i += 2
                continue
            if c.isspace():
                i += 1
                continue
            has_code = True
            if line.startswith('"""', i):
                in_triple = True
                i += 3
            elif c == '"':
                i += 1
                while i < len(line) and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
            elif c == "'" and i + 2 < len(line) and (line[i + 2] == "'" or line[i + 1] == "\\"):
                # a char literal ('x' or '\n'); a lone ' is a symbol literal
                i += 1
                while i < len(line) and line[i] != "'":
                    i += 2 if line[i] == "\\" else 1
                i += 1
            else:
                i += 1
        if has_code:
            n += 1
    return n


def scala_files(paths):
    for p in paths:
        if os.path.isdir(p):
            for root, _, names in os.walk(p):
                for name in names:
                    if name.endswith(".scala"):
                        yield os.path.join(root, name)
        else:
            yield p


def main(argv):
    if not argv:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    total = 0
    for path in sorted(set(scala_files(argv))):
        with open(path, encoding="utf-8") as f:
            n = code_lines(f.read())
        total += n
        print(f"{n:6d}  {path}")
    print(f"{total:6d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
