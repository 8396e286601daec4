#!/usr/bin/env python3
"""Compare two sets of physical plans and print the keys whose plans differ.

Usage: tools/plandiff.py BEFORE_DIR AFTER_DIR

Each directory holds one `<key>_<suffix>.txt` file per key, as
`GRAFT_EXPLAIN_OUT=DIR sbt "runMain graft.ExplainMain"` writes them (the
suffix may differ between the two directories). Before comparing, each
plan is masked:

1. what varies from run to run: expression ids (`#123`), `plan_id=N`,
   RDD ids (`MapPartitionsRDD[N]`), source lines (`.scala:N`), the
   source file of an RDD's call site (`at X.scala:`), lambda class
   names, the numbers of Column-API lambda variables (`lambda x_12`,
   drawn from one counter per JVM, so they shift with every lambda
   built before), and the checkout's path in files it writes under
   `target/`;
2. object hashes (`@1a2b3c`), such as the model arrays and sketches a
   kernel carries;
3. every kernel call becomes `<kernel>(args)`, whichever way it is
   spelled: by the SQL name of a graft function (`nearest_centroids(...)`)
   or as Spark's `static_invoke(graft.functions.X.m(...))`, matched by
   balanced parentheses, across lines (string literals in a plan may
   hold newlines). A call left open at the end of the file keeps only
   the token.

The script prints one line per key that is missing on a side or whose
masked plans differ, then a summary line. With `--show`, it also prints
a unified diff of each differing pair. It exits with 1 when any key
differs.
"""
import argparse
import difflib
import os
import re
import sys

KERNELS = (
    "bloom_might_contain_long", "char_shingle_hashes", "char_trigrams",
    "chunk_md5s", "cms_bucket", "cosine_sim", "deflate_ratio",
    "dup_ngram_coverage", "graft_hash64", "hyperplane_sig", "lower_icu",
    "minhash_signature", "multiprobe_sigs", "nearest_centroids",
    "pca_project", "pq_cosine", "pq_cosine_residual", "pq_encode",
    "pq_encode_residual", "shingle_hashes", "simhash64", "token_dropout",
    "token_ngrams", "token_shingle_hashes", "top_ngram_stats",
    "upper_icu", "winnow_md5_fingerprints",
)
# a kernel call's opening: `static_invoke(graft.functions.X.m(` (two
# parentheses to close) or `name(` (one)
CALL = re.compile(
    r"static_invoke\(graft\.functions\.\w+\.\w+\("
    r"|(?<![\w.])(?:" + "|".join(sorted(KERNELS, key=len, reverse=True)) + r")\(")

MASKS = (
    (re.compile(r"\$\$Lambda[\w$/]*"), "$$Lambda"),
    (re.compile(r"\b(lambda [a-z]+)_\d+\b"), r"\1_"),
    (re.compile(r"@[0-9a-f]+\b"), "@"),
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"\bat [\w$]+\.scala:\d+"), "at X.scala:"),
    (re.compile(r"\.scala:\d+"), ".scala:"),
    (re.compile(r"file:\S*?/target/"), "file:target/"),
)


def mask_kernels(text):
    """Rewrite each kernel call to `<kernel>(args)`, inner calls too."""
    out, pos = [], 0
    while True:
        m = CALL.search(text, pos)
        if m is None:
            out.append(text[pos:])
            return "".join(out)
        out.append(text[pos:m.start()])
        opens = m.group().count("(")
        depth, i = opens, m.end()
        while i < len(text) and depth > 0:
            depth += {"(": 1, ")": -1}.get(text[i], 0)
            i += 1
        if depth > 0:  # never closed: keep the token only
            out.append("<kernel>")
            pos = i
            continue
        # the arguments sit inside the innermost opening parenthesis
        args = text[m.end():i - opens]
        out.append("<kernel>(" + mask_kernels(args) + ")")
        pos = i


def masked(path):
    with open(path, encoding="utf-8") as f:
        text = f.read()
    for pattern, repl in MASKS:
        text = pattern.sub(repl, text)
    return mask_kernels(text)


def plans(directory):
    """{key: path} for the `<key>_<suffix>.txt` files of a directory."""
    return {name.rsplit("_", 1)[0]: os.path.join(directory, name)
            for name in os.listdir(directory) if name.endswith(".txt")}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("before")
    ap.add_argument("after")
    ap.add_argument("--show", action="store_true",
                    help="print a unified diff of each differing pair")
    args = ap.parse_args()
    before, after = plans(args.before), plans(args.after)
    differing = 0
    for key in sorted(before.keys() | after.keys()):
        if key not in before or key not in after:
            print(f"{key}: only in {'after' if key in after else 'before'}")
            differing += 1
            continue
        a, b = masked(before[key]), masked(after[key])
        if a != b:
            print(f"{key}: plans differ")
            differing += 1
            if args.show:
                sys.stdout.writelines(difflib.unified_diff(
                    a.splitlines(True), b.splitlines(True),
                    before[key], after[key]))
    same = len(before.keys() | after.keys()) - differing
    print(f"== {same} identical, {differing} differing")
    return 1 if differing else 0


if __name__ == "__main__":
    sys.exit(main())
