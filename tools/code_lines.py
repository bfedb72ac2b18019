#!/usr/bin/env python3
"""Count code lines of Scala sources.

A code line is a line that still holds a non-blank character once every
/* ... */ block comment (Scaladoc included, nesting honoured) and every
// line comment is removed; text inside string literals is kept.

Usage:
    python3 tools/code_lines.py PATH [PATH ...]

Each PATH is a .scala file or a directory searched recursively for
.scala files. Prints one line per PATH (code lines, then the path) and,
for several PATHs, a total.
"""
import os
import sys


def code_lines(text):
    """The number of code lines in one Scala source text."""
    count = 0
    depth = 0          # open /* */ comments
    in_str = None      # '"' or '"""' while inside a string literal
    for line in text.splitlines():
        code = False
        i, n = 0, len(line)
        while i < n:
            if depth:
                if line.startswith("*/", i):
                    depth -= 1
                    i += 2
                elif line.startswith("/*", i):
                    depth += 1
                    i += 2
                else:
                    i += 1
            elif in_str:
                code = True
                if in_str == '"' and line[i] == "\\":
                    i += 2
                elif line.startswith(in_str, i):
                    i += len(in_str)
                    in_str = None
                else:
                    i += 1
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                depth += 1
                i += 2
            elif line.startswith('"""', i):
                in_str, code = '"""', True
                i += 3
            elif line[i] == '"':
                in_str, code = '"', True
                i += 1
            elif line[i] == "'" and i + 2 < n and line[i + 2] == "'":
                code = True  # a char literal such as '"'
                i += 3
            else:
                code = code or not line[i].isspace()
                i += 1
        if in_str == '"':
            in_str = None  # a single-line string never spans lines
        count += code
    return count


def files(path):
    if os.path.isfile(path):
        return [path]
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(path)
                  for f in fs if f.endswith(".scala"))


def main(paths):
    if not paths:
        sys.exit(__doc__)
    total = 0
    for p in paths:
        n = sum(code_lines(open(f, encoding="utf-8").read()) for f in files(p))
        total += n
        print(f"{n:>7}  {p}")
    if len(paths) > 1:
        print(f"{total:>7}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
