#!/usr/bin/env python3
"""Non-comment lines of the Scala sources under a directory.

Usage:

    python3 tools/loc.py [dir]          # default src/main

Counts every line of every `.scala` file except blank lines, `//` line
comments and the lines of `/* ... */` block comments (scaladoc included).
A line that closes a block comment and then carries code counts. Prints
the total, then the ten largest files.
"""
import argparse
import os


def count(path):
    """Non-comment lines of one Scala file."""
    n, in_block = 0, False
    with open(path, encoding="utf-8") as f:
        for line in f:
            s = line.strip()
            if in_block:
                if "*/" not in s:
                    continue
                in_block, s = False, s.split("*/", 1)[1].strip()
            elif s.startswith("/*"):
                if "*/" not in s[2:]:
                    in_block = True
                    continue
                s = s[2:].split("*/", 1)[1].strip()
            if s and not s.startswith("//"):
                n += 1
    return n


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("dir", nargs="?", default="src/main")
    args = ap.parse_args()
    per_file = {}
    for root, _, files in os.walk(args.dir):
        for name in files:
            if name.endswith(".scala"):
                p = os.path.join(root, name)
                per_file[p] = count(p)
    print(f"{sum(per_file.values()):,} non-comment lines in "
          f"{len(per_file)} files under {args.dir}")
    for p, n in sorted(per_file.items(), key=lambda kv: -kv[1])[:10]:
        print(f"{n:>7,}  {p}")


if __name__ == "__main__":
    main()
