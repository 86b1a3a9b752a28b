#!/usr/bin/env python3
"""Count code lines: non-blank lines that are not comments.

A line counts unless its stripped text is empty or starts with `//`,
`/**` or `*` (Scaladoc and block-comment bodies). Prints one line per
file and a total; the size measure simplicity changes are judged by.

Usage: python3 scripts/loc.py <path>...
"""
import sys

COMMENT = ("//", "/**", "*")


def code_lines(path):
    with open(path, encoding="utf-8") as f:
        return sum(1 for line in f
                   if line.strip() and not line.strip().startswith(COMMENT))


def main():
    paths = sys.argv[1:]
    if not paths:
        sys.exit(__doc__)
    total = 0
    for p in paths:
        n = code_lines(p)
        total += n
        print(f"{n:7d}  {p}")
    print(f"{total:7d}  total")


if __name__ == "__main__":
    main()
