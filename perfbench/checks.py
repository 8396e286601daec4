"""Output checks: every timed unit's result against an independent
DuckDB computation over the generated inputs.

Comparison rules are those of tools/check.py: columns sorted by name,
rows sorted by every column, numeric kinds must agree, floats compare
with rtol 1e-9 / atol 1e-12, everything else exactly.
"""
import sys

import duckdb
import numpy as np

def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _kind(dtype):
    if np.issubdtype(dtype, np.bool_):
        return "bool"
    if np.issubdtype(dtype, np.integer):
        return "int"
    if np.issubdtype(dtype, np.floating):
        return "float"
    if str(dtype).startswith("datetime64"):
        return "datetime"
    return "object"


def compare(got, want):
    """None when equal under the rules above, else the first difference."""
    a, b = _canon(got), _canon(want)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    for c in a.columns:
        x, y = a[c], b[c]
        if _kind(x.dtype) != _kind(y.dtype):
            return f"type of {c}: {x.dtype} vs {y.dtype}"
        if _kind(x.dtype) == "float":
            ok = np.isclose(x.to_numpy(), y.to_numpy(), rtol=1e-9, atol=1e-12,
                            equal_nan=True)
            if not ok.all():
                i = int(np.argmin(ok))
                return f"value of {c} row {i}: {x[i]!r} vs {y[i]!r}"
        elif not x.equals(y):
            i = int((x != y).idxmax())
            return f"value of {c} row {i}: {x[i]!r} vs {y[i]!r}"
    return None


def _parquet(con, path):
    return con.execute(
        f"SELECT * FROM read_parquet('{path}/*.parquet')").df()


def _report(name, err):
    if err:
        print(f"[perfbench] check failed: {name}: {err}", flush=True,
              file=sys.stderr)
    return err is None


def units(res):
    """Every timed unit of a run, in the order run.py counts them."""
    return (res["units"] + res.get("traced_units", [])
            + res.get("untraced_units", []))


# ---- retail_etl_daily --------------------------------------------------

def etl_expected(con, data):
    """(parquet summary, summary table after the upsert), computed from
    the generated rows' validity flags — not by replaying the job."""
    con.execute(f"CREATE OR REPLACE VIEW truth AS "
                f"SELECT * FROM read_parquet('{data}/truth.parquet')")
    summary = con.execute(
        "SELECT CAST(product_id AS BIGINT) AS product_id, "
        "sum(quantity) AS total_quantity, sum(sale_amount) AS total_sale_amount "
        "FROM truth WHERE valid GROUP BY product_id").df()
    con.register("want_summary", summary)
    table = con.execute(
        f"SELECT * FROM want_summary UNION ALL "
        f"SELECT s.* FROM read_csv('{data}/sales_summary_seed.del', header=false, "
        f"columns={{'product_id': 'BIGINT', 'total_quantity': 'DOUBLE', "
        f"'total_sale_amount': 'DOUBLE'}}) s "
        f"WHERE s.product_id NOT IN (SELECT product_id FROM want_summary)").df()
    return summary, table


def check_etl(con, res, data):
    """Also sets each unit's `update_hit_ratio`: summary rows that
    replaced a seeded row, over summary rows written."""
    summary, table = etl_expected(con, data)
    seeded = con.execute(f"SELECT count(*) FROM read_csv("
                         f"'{data}/sales_summary_seed.del', header=false)").fetchone()[0]
    out = []
    for u in units(res):
        if u["error"]:
            out.append(_report(u["name"], u["error"]))
            continue
        got_pq = _parquet(con, f"{u['dir']}/summary")
        got_db = con.execute(
            f"SELECT * FROM read_csv('{u['dir']}/db.csv', header=true, "
            f"columns={{'product_id': 'BIGINT', 'total_quantity': 'DOUBLE', "
            f"'total_sale_amount': 'DOUBLE'}})").df()
        u["update_hit_ratio"] = (seeded + len(got_pq) - len(got_db)) / len(got_pq)
        err = compare(got_pq, summary)
        err = err and f"parquet sink: {err}"
        if err is None:
            err = compare(got_db, table)
            err = err and f"summary table: {err}"
        out.append(_report(u["dir"], err))
    return out


# ---- curation_cold -----------------------------------------------------

def check_curation(con, res, data, out_dir):
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE OR REPLACE VIEW {t} AS "
                    f"SELECT * FROM read_parquet('{data}/{t}.parquet')")
    with open(f"{out_dir}/oracle.sql") as f:
        want = con.sql(f.read()).df()
    out = []
    for u in units(res):
        if u["error"]:
            out.append(_report(u["name"], u["error"]))
        else:
            out.append(_report(u["dir"], compare(_parquet(con, u["dir"]), want)))
    return out


def check(workload, res, data, out_dir, tmp):
    """One boolean per unit, in the order of `units`."""
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp}'")
    try:
        if workload == "retail_etl_daily":
            return check_etl(con, res, data)
        return check_curation(con, res, data, out_dir)
    finally:
        con.close()
