#!/usr/bin/env python3
"""Count code lines in the Scala sources under a directory.

Usage: python3 tools/loc.py [dir ...]     (default: src/main)

A code line is any line of a `.scala` file that is not blank, not a
`//` line and not inside a `/* ... */` block (scaladoc included). A
block opens on a line whose text starts with `/*` and closes on the
first line containing `*/`. Prints one count per directory, then the
total when more than one directory is given.
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
    total = 0
    for d, _, files in os.walk(root):
        total += sum(code_lines(os.path.join(d, f))
                     for f in files if f.endswith(".scala"))
    return total


def main():
    roots = sys.argv[1:] or ["src/main"]
    counts = [count(r) for r in roots]
    for r, c in zip(roots, counts):
        print(f"{c}\t{r}")
    if len(roots) > 1:
        print(f"{sum(counts)}\ttotal")


if __name__ == "__main__":
    main()
