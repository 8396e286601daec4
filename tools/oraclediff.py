#!/usr/bin/env python3
"""Compare two oracle dumps and print the keys whose oracle SQL differs.

Usage: tools/oraclediff.py BEFORE_JSON AFTER_JSON

Each file is an `oracle_sql.json` as `graft.Verify` writes it: one JSON
object mapping every key to its flat DuckDB oracle string. The two are
compared as parsed maps, so the raw files' key order does not matter,
and each string must match byte for byte.

The script prints `N vs M keys; differing: ...`, naming every key that
is missing on a side or whose strings differ (`none` when they all
match). It exits with 1 when any key differs.
"""
import json
import sys


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__.strip().splitlines()[2])
    before, after = (json.load(open(p, encoding="utf-8")) for p in argv[1:3])
    diff = sorted(k for k in before.keys() | after.keys()
                  if before.get(k) != after.get(k))
    print(len(before), "vs", len(after), "keys; differing:",
          ", ".join(diff) if diff else "none")
    return 1 if diff else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
