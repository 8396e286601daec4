#!/usr/bin/env python3
"""List public operator defs that nothing in the product calls.

Usage: tools/entrypoints.py [--root DIR] [--check DOC]

The scan reads every `.scala` file under
`src/main/scala/graft/{operators,streaming,sources,functions}` with its
`//` and `/* */` comments stripped. A def is public unless the
modifiers in front of it on its line include a bare `private`,
`protected` or `override`; `private[x]` counts as public. A caller of a
def is a whole-word occurrence of its name, comments stripped, in a
`.scala` file under `src/main` (the def's own line excepted) or under
`perfbench/src`. The scan prints each public def with no caller as
`path:line name (N test uses)`, where N counts whole-word occurrences
of the name under `src/test`, then the number of public defs and of
uncalled ones.

`--check DOC` reads the markdown table of documented uncalled defs in
DOC (relative to the current directory): each row whose first two
cells are `` `Object.name` `` and `` `path` ``. It prints every
uncalled def no row names, and every row that names no public def of
that name in that file, and exits 1 if it printed either; else 0.
"""
import argparse
import os
import re
import sys
from collections import Counter

SCOPE = ("operators", "streaming", "sources", "functions")
COMMENT = re.compile(r"//[^\n]*|/\*.*?\*/", re.S)
DEF = re.compile(r"^([^\n]*?)\bdef\s+([A-Za-z_][A-Za-z0-9_]*)", re.M)
BARE = re.compile(r"\b(?:private|protected)\b(?!\s*\[)|\boverride\b")
WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
ROW = re.compile(r"^\|\s*`\w+\.(\w+)`\s*\|\s*`([^`]+)`\s*\|", re.M)


def strip(text):
    """Blank out comments, keeping every newline so lines still count."""
    return COMMENT.sub(lambda m: re.sub(r"[^\n]", " ", m.group(0)), text)


def scala_files(top):
    for d, _, names in sorted(os.walk(top)):
        for n in sorted(names):
            if n.endswith(".scala"):
                yield os.path.join(d, n)


def read(path):
    with open(path, encoding="utf-8") as f:
        return strip(f.read())


def words(paths):
    """Whole-word counts over the files."""
    counts = Counter()
    for p in paths:
        counts.update(WORD.findall(read(p)))
    return counts


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--root", default=".")
    ap.add_argument("--check", metavar="DOC")
    args = ap.parse_args()
    j = lambda *p: os.path.join(args.root, *p)
    defs = []
    for sub in SCOPE:
        for path in scala_files(j("src/main/scala/graft", sub)):
            text = read(path)
            lines = text.split("\n")
            for m in DEF.finditer(text):
                if not BARE.search(m.group(1)):
                    line = text.count("\n", 0, m.start()) + 1
                    own = WORD.findall(lines[line - 1]).count(m.group(2))
                    defs.append((os.path.relpath(path, args.root), line,
                                 m.group(2), own))
    called = words(scala_files(j("src/main")))
    called.update(words(scala_files(j("perfbench/src"))))
    tests = words(scala_files(j("src/test")))
    uncalled = [d for d in defs if called[d[2]] == d[3]]
    for path, line, name, _ in uncalled:
        print(f"{path}:{line} {name} ({tests[name]} test uses)")
    print(f"{len(defs)} public defs, {len(uncalled)} uncalled")
    if args.check:
        with open(args.check, encoding="utf-8") as f:
            rows = {(path, name) for name, path in ROW.findall(f.read())}
        missing = [d for d in uncalled if (d[0], d[2]) not in rows]
        public = {(d[0], d[2]) for d in defs}
        stale = sorted(rows - public)
        for path, line, name, _ in missing:
            print(f"not in {args.check}: {path}:{line} {name}")
        for path, name in stale:
            print(f"{args.check} names no public def {name} in {path}")
        return 1 if missing or stale else 0
    return 0


if __name__ == "__main__":
    sys.exit(main())
