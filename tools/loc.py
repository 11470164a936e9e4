#!/usr/bin/env python3
"""Non-blank line count of the program's Scala sources, in total and per package.

    python3 tools/loc.py [ROOT]

Counts the non-blank lines of every `.scala` file under `ROOT/src/main/scala`
(ROOT defaults to the repository this script sits in) and prints one row per
package directory (`graft/index`, `graft/rules`, ...) and a total row.
Standard library only.
"""
import os
import sys


def count(path):
    with open(path, encoding="utf-8") as f:
        return sum(1 for line in f if line.strip())


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    src = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(src):
        sys.exit(f"no {src}")
    packages = {}
    for dirpath, _, files in os.walk(src):
        scala = [f for f in files if f.endswith(".scala")]
        if scala:
            pkg = os.path.relpath(dirpath, src)
            packages[pkg] = (len(scala), sum(count(os.path.join(dirpath, f)) for f in scala))
    width = max([len("total")] + [len(p) for p in packages])
    print(f"{'package':<{width}}  {'files':>5}  {'lines':>6}")
    for pkg in sorted(packages):
        files, lines = packages[pkg]
        print(f"{pkg:<{width}}  {files:>5}  {lines:>6}")
    print(f"{'total':<{width}}  {sum(f for f, _ in packages.values()):>5}  "
          f"{sum(n for _, n in packages.values()):>6}")


if __name__ == "__main__":
    main()
