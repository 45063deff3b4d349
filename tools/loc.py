#!/usr/bin/env python3
"""Count non-blank, non-comment Scala lines per package under src/main.

Usage: python3 tools/loc.py [ROOT]   (ROOT defaults to the repo root)
       python3 tools/loc.py --against REV [ROOT]

`--against REV` prints each package's code lines at the git revision REV
(read with `git show`, no checkout), in the working tree, and the delta.

A line counts when anything other than whitespace is left after removing
`//` line comments and `/* ... */` block comments (scaladoc included).
Comment markers inside string literals are not comments. The package of a
file is its directory below src/main/scala, dotted.
"""
import os
import subprocess
import sys
from collections import Counter

SCALA = os.path.join("src", "main", "scala")


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


def count_tree(root):
    """(lines, files) per package in the working tree under `root`."""
    base = os.path.join(root, SCALA)
    per_pkg, files = Counter(), Counter()
    for d, _, names in os.walk(base):
        for name in names:
            if name.endswith(".scala"):
                with open(os.path.join(d, name), encoding="utf-8") as f:
                    pkg = os.path.relpath(d, base).replace(os.sep, ".")
                    per_pkg[pkg] += code_lines(f.read())
                    files[pkg] += 1
    return per_pkg, files


def count_rev(root, rev):
    """(lines, files) per package at git revision `rev`."""
    def git(*args):
        return subprocess.run(["git", "-C", root, *args], check=True,
                              capture_output=True, text=True).stdout
    per_pkg, files = Counter(), Counter()
    prefix = SCALA.replace(os.sep, "/") + "/"
    for path in git("ls-tree", "-r", "--name-only", rev, prefix).splitlines():
        if path.endswith(".scala"):
            pkg = os.path.dirname(path)[len(prefix):].replace("/", ".")
            per_pkg[pkg] += code_lines(git("show", f"{rev}:{path}"))
            files[pkg] += 1
    return per_pkg, files


def main():
    args = sys.argv[1:]
    rev = None
    if args[:1] == ["--against"]:
        if len(args) < 2:
            sys.exit("usage: loc.py --against REV [ROOT]")
        rev, args = args[1], args[2:]
    root = args[0] if args else os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..")
    per_pkg, files = count_tree(root)
    if rev is None:
        width = max(len(p) for p in per_pkg)
        for pkg in sorted(per_pkg):
            print(f"{pkg:<{width}}  {files[pkg]:>4} files  {per_pkg[pkg]:>7}")
        print(f"{'total':<{width}}  {sum(files.values()):>4} files  "
              f"{sum(per_pkg.values()):>7}")
        return
    old, _ = count_rev(root, rev)
    pkgs = sorted(set(per_pkg) | set(old))
    width = max(len(p) for p in pkgs + ["total"])
    print(f"{'package':<{width}}  {rev[:12]:>12}  {'now':>7}  {'delta':>6}")
    for pkg in pkgs + ["total"]:
        a = sum(old.values()) if pkg == "total" else old[pkg]
        b = sum(per_pkg.values()) if pkg == "total" else per_pkg[pkg]
        print(f"{pkg:<{width}}  {a:>12}  {b:>7}  {b - a:>+6}")


if __name__ == "__main__":
    main()
