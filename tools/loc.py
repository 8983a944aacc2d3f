#!/usr/bin/env python3
"""Count code lines in Scala sources.

Usage: python3 tools/loc.py [path ...]     (default: src/main)

A path is a directory (every `.scala` file under it counts) or a
single file (it counts as itself, whatever its extension). A path that
does not exist is an error: the script names it on stderr and exits 1.

A code line is any line that is not blank, not a `//` line and not
inside a `/* ... */` block (scaladoc included). A block opens on a line
whose text starts with `/*` and closes on the first line containing
`*/`. Prints one count per path, then the total when more than one
path is given.
"""
import os
import sys


def code_lines(path):
    n = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for raw in f:
            line = raw.strip()
            if in_block:
                in_block = "*/" not in line
                continue
            if not line or line.startswith("//"):
                continue
            if line.startswith("/*"):
                in_block = "*/" not in line[2:]
                continue
            n += 1
    return n


def count(root):
    if os.path.isfile(root):
        return code_lines(root)
    total = 0
    for d, _, files in os.walk(root):
        total += sum(code_lines(os.path.join(d, f))
                     for f in files if f.endswith(".scala"))
    return total


def main():
    roots = sys.argv[1:] or ["src/main"]
    missing = [r for r in roots if not os.path.exists(r)]
    if missing:
        sys.exit("loc.py: no such file or directory: " + ", ".join(missing))
    counts = [count(r) for r in roots]
    for r, c in zip(roots, counts):
        print(f"{c}\t{r}")
    if len(roots) > 1:
        print(f"{sum(counts)}\ttotal")


if __name__ == "__main__":
    main()
