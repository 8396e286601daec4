#!/usr/bin/env python3
"""List public operator defs that nothing in the product calls.

Usage: tools/entrypoints.py [--root DIR]

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
"""
import argparse
import os
import re
from collections import Counter

SCOPE = ("operators", "streaming", "sources", "functions")
COMMENT = re.compile(r"//[^\n]*|/\*.*?\*/", re.S)
DEF = re.compile(r"^([^\n]*?)\bdef\s+([A-Za-z_][A-Za-z0-9_]*)", re.M)
BARE = re.compile(r"\b(?:private|protected)\b(?!\s*\[)|\boverride\b")
WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


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


if __name__ == "__main__":
    main()
