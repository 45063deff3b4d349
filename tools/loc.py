#!/usr/bin/env python3
"""Count non-blank, non-comment Scala lines per package under src/main.

Usage: python3 tools/loc.py [ROOT]   (ROOT defaults to the repo root)

A line counts when anything other than whitespace is left after removing
`//` line comments and `/* ... */` block comments (scaladoc included).
Comment markers inside string literals are not comments. The package of a
file is its directory below src/main/scala, dotted.
"""
import os
import sys
from collections import Counter


def code_lines(text):
    """Number of lines holding code once comments are removed."""
    n = 0
    depth = 0  # block comments nest in Scala
    in_str = None  # None, '"' or '"""'
    for line in text.splitlines():
        has_code = False
        i = 0
        while i < len(line):
            if depth:
                if line.startswith("*/", i):
                    depth -= 1
                    i += 2
                elif line.startswith("/*", i):
                    depth += 1
                    i += 2
                else:
                    i += 1
                continue
            if in_str:
                has_code = True
                if in_str == '"' and line[i] == "\\":
                    i += 2
                elif line.startswith(in_str, i):
                    i += len(in_str)
                    in_str = None
                else:
                    i += 1
                continue
            if line.startswith("//", i):
                break
            if line.startswith("/*", i):
                depth += 1
                i += 2
                continue
            c = line[i]
            if line.startswith('"""', i):
                in_str = '"""'
                i += 3
                has_code = True
                continue
            if c == '"':
                in_str = '"'
            elif c == "'" and i + 2 < len(line) and line[i + 2] == "'":
                i += 3  # a char literal such as '"'
                has_code = True
                continue
            if not c.isspace():
                has_code = True
            i += 1
        if in_str == '"':
            in_str = None  # single-quoted strings end at the line break
        n += has_code
    return n


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..")
    base = os.path.join(root, "src", "main", "scala")
    per_pkg = Counter()
    files = Counter()
    for d, _, names in os.walk(base):
        for name in names:
            if not name.endswith(".scala"):
                continue
            with open(os.path.join(d, name), encoding="utf-8") as f:
                lines = code_lines(f.read())
            pkg = os.path.relpath(d, base).replace(os.sep, ".")
            per_pkg[pkg] += lines
            files[pkg] += 1
    width = max(len(p) for p in per_pkg)
    for pkg in sorted(per_pkg):
        print(f"{pkg:<{width}}  {files[pkg]:>4} files  {per_pkg[pkg]:>7}")
    print(f"{'total':<{width}}  {sum(files.values()):>4} files  "
          f"{sum(per_pkg.values()):>7}")


if __name__ == "__main__":
    main()
