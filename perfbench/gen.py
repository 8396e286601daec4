"""Seeded input generator for the graft benchmark.

Everything the program reads is made here from one integer seed: the
same seed gives byte-identical inputs: the `documents` and
`embeddings` tables that graft's `Tables` catalog reads (one parquet
file per table, written through pandas/pyarrow), and the two sales
sources of the retail ETL job (an in-store CSV file and an
online-sales load file for the embedded JDBC table).
"""
import numpy as np
import pandas as pd

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def _days(lo, hi, n, rng):
    """n uniform calendar days in [lo, hi], as datetime64[D]."""
    a = np.datetime64(lo, "D")
    b = np.datetime64(hi, "D")
    return a + rng.integers(0, int((b - a).astype(int)) + 1, n)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def documents(rng, n, sources):
    """Random texts over a 30-word vocabulary: 5% are near-duplicates
    (another document's text plus " dup") and about 0.2% are exact
    copies, so every dedup stage of the curation funnel has work.
    Documents go round-robin to `sources` sources."""
    lens = rng.integers(10, 100, n)
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lens]
    kinds = rng.random(n)
    for i in np.flatnonzero(kinds < 0.05):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    for i in np.flatnonzero((kinds >= 0.05) & (kinds < 0.052)):
        texts[i] = texts[int(rng.integers(0, n))]
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % sources}" for i in range(n)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})


def embeddings(rng, n, dim=64):
    v = rng.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(v),
        "label": rng.integers(0, 10, n).astype(np.int32)})


def write_tables(out_dir, tables):
    for name, df in tables.items():
        df.to_parquet(f"{out_dir}/{name}.parquet", index=False)


def corpus(out_dir, seed, n_docs, n_vecs, sources):
    """The two tables the curation funnel reads, as graft's `Tables`
    catalog reads them."""
    rng = np.random.default_rng(seed)
    write_tables(out_dir, {"documents": documents(rng, n_docs, sources),
                           "embeddings": embeddings(rng, n_vecs)})


# ---- retail ETL sources ----------------------------------------------

SALES_COLS = ["sale_id", "product_id", "quantity", "sale_amount", "sale_date"]


def retail(out_dir, seed, n_rows, n_products):
    """The two sales sources of the daily ETL job plus the pre-seeded
    summary table, and `truth.parquet`: every generated row with its
    `valid` flag, from which the expected summary is computed.

    Rows split between the in-store CSV (`l_linestatus='F'`) and the
    online JDBC table (`'O'`). A seed-chosen share of rows is dirty:
    malformed CSV fields, NULL fields and non-positive quantities or
    amounts, none of which may reach the summary. The seeded summary
    holds stale totals for about half the products plus product ids
    that never sell; the upsert must replace the former and keep the
    latter untouched.
    """
    rng = np.random.default_rng(seed)
    order = rng.integers(0, n_rows // 4, n_rows)
    line = rng.integers(1, 8, n_rows)
    df = pd.DataFrame({
        "sale_id": order * 10 + line,
        "product_id": rng.integers(0, n_products, n_rows),
        "quantity": rng.integers(1, 51, n_rows).astype(np.float64),
        "sale_amount": _money(rng, 900, 105000, n_rows),
        "sale_date": _days("1995-01-02", "2001-11-04", n_rows, rng)})
    online = rng.random(n_rows) < 0.5
    dirty_share = rng.uniform(0.01, 0.03)
    kind = np.where(rng.random(n_rows) < dirty_share,
                    rng.integers(1, 6, n_rows), 0)
    # 1 NULL field, 2 zero/negative quantity, 3 non-positive amount,
    # 4 unparsable number (CSV) / NULL date (JDBC), 5 missing fields
    # (CSV) / NULL product (JDBC)
    df.loc[kind == 2, "quantity"] = -rng.integers(0, 5, int((kind == 2).sum()))
    df.loc[kind == 3, "sale_amount"] = -_money(rng, 0, 500, int((kind == 3).sum()))
    df["valid"] = kind == 0
    # as text: 1 empty (NULL) field anywhere, 4 unparsable quantity
    # (CSV) / NULL date (JDBC), 5 truncated line (CSV) / NULL product
    # id (JDBC); an empty field loads as NULL through both sources
    f = {c: df[c].astype(str) for c in SALES_COLS}
    f["quantity"] = df["quantity"].map(repr)
    f["sale_amount"] = df["sale_amount"].map(repr)
    null_col = rng.integers(0, len(SALES_COLS), n_rows)
    for j, c in enumerate(SALES_COLS):
        f[c] = f[c].mask((kind == 1) & (null_col == j), "")
    f["quantity"] = f["quantity"].mask((kind == 4) & ~online, "n/a")
    f["sale_date"] = f["sale_date"].mask((kind == 4) & online, "")
    f["product_id"] = f["product_id"].mask((kind == 5) & online, "")
    head = f["sale_id"] + "," + f["product_id"] + "," + f["quantity"]
    lines = head.where((kind == 5) & ~online,
                       head + "," + f["sale_amount"] + "," + f["sale_date"])
    with open(f"{out_dir}/in_store_sales.csv", "w") as out:
        out.write(",".join(SALES_COLS) + "\n")
        out.write("\n".join(lines[~online]) + "\n")
    with open(f"{out_dir}/online_sales.del", "w") as out:
        out.write("\n".join(lines[online]) + "\n")

    seeded = np.flatnonzero(rng.random(n_products) < 0.5)
    absent = np.arange(n_products, n_products + max(1, n_products // 50))
    ids = np.concatenate([seeded, absent])
    pd.DataFrame({
        "product_id": ids,
        "total_quantity": rng.integers(1, 500, len(ids)).astype(np.float64),
        "total_sale_amount": _money(rng, 1000, 1e6, len(ids))}).to_csv(
        f"{out_dir}/sales_summary_seed.del", index=False, header=False)
    df["sale_date"] = df["sale_date"].astype("datetime64[us]")
    df.to_parquet(f"{out_dir}/truth.parquet", index=False)
    return {"rows": n_rows, "online_rows": int(online.sum()),
            "dirty_rows": int((kind > 0).sum()), "seeded_rows": len(ids)}
