#!/usr/bin/env python3
"""Count repeated runs of source lines.

Usage: tools/repeats.py --width N [--list] FILE...

The files are read in sorted path order. Each line has all of its
whitespace removed. A line is a gap when what is left has 2 characters
or fewer, or starts with `//`, `/*` or `*`. A window is a run of N
consecutive lines of one file with no gap among them; a window is
repeated when its text occurs two or more times, in one file or across
files. The scan prints the number of distinct repeated windows and the
number of lines covered by every occurrence but the first. `--list`
also prints each repeated window's occurrences as `path:line`.
"""
import argparse
import re
from collections import defaultdict

SPACE = re.compile(r"\s+")


def is_gap(text):
    return len(text) <= 2 or text.startswith(("//", "/*", "*"))


def scan(paths, width):
    """Return {window text: [(path, first line), ...]} for repeated windows."""
    seen = defaultdict(list)
    for path in sorted(paths):
        with open(path, encoding="utf-8") as f:
            lines = [SPACE.sub("", line) for line in f]
        for i in range(len(lines) - width + 1):
            window = lines[i:i + width]
            if not any(is_gap(t) for t in window):
                seen["\n".join(window)].append((path, i + 1))
    return {w: occ for w, occ in seen.items() if len(occ) > 1}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--width", type=int, required=True)
    ap.add_argument("--list", action="store_true")
    ap.add_argument("files", nargs="+")
    args = ap.parse_args()
    repeated = scan(args.files, args.width)
    covered = {(path, line + k)
               for occ in repeated.values()
               for path, line in occ[1:]
               for k in range(args.width)}
    if args.list:
        for occ in sorted(repeated.values()):
            print(" ".join(f"{p}:{l}" for p, l in occ))
    print(f"width {args.width}: {len(repeated)} repeated windows, "
          f"{len(covered)} covered lines")


if __name__ == "__main__":
    main()
