#!/usr/bin/env python3
"""Count repeated 6-line windows in the main Scala sources.

Every file under src/main/scala is read as stripped lines. A window is
six consecutive lines; windows that hold a blank line, a comment line
(`//`, `/*`, `*`, `*/`) or a bare closer (only `)`, `]`, `}` and an
optional trailing `,`/`;`) are skipped, so the count is of code, not of
scaladoc or brace tails. A window is repeated when the same six lines
already occurred earlier (in path order, then line order); each such
occurrence counts once, against the file it sits in.

Usage: python3 scripts/dup_windows.py [ROOT] [--top N]
ROOT defaults to src/main/scala. Prints the total and the top files.
"""
import argparse
import os
import re
import sys
from collections import Counter

WINDOW = 6
CLOSER = re.compile(r"^[)\]}]+[,;]?$")


def skipped(line):
    return (not line or line.startswith("//") or line.startswith("/*")
            or line.startswith("*") or CLOSER.match(line) is not None)


def scala_files(root):
    for d, _, names in sorted(os.walk(root)):
        for n in sorted(names):
            if n.endswith(".scala"):
                yield os.path.join(d, n)


def repeated_windows(root):
    seen = set()
    per_file = Counter()
    for path in scala_files(root):
        with open(path, encoding="utf-8") as f:
            lines = [l.strip() for l in f]
        for i in range(len(lines) - WINDOW + 1):
            w = tuple(lines[i:i + WINDOW])
            if any(skipped(l) for l in w):
                continue
            if w in seen:
                per_file[os.path.relpath(path, root)] += 1
            else:
                seen.add(w)
    return per_file


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("root", nargs="?", default="src/main/scala")
    ap.add_argument("--top", type=int, default=10)
    a = ap.parse_args()
    if not os.path.isdir(a.root):
        sys.exit(f"no such directory: {a.root}")
    per_file = repeated_windows(a.root)
    print(f"repeated {WINDOW}-line windows: {sum(per_file.values())}")
    for path, n in per_file.most_common(a.top):
        print(f"{n:6d}  {path}")


if __name__ == "__main__":
    main()
