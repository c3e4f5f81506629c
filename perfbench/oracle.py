"""Result check for the query workloads: each query's Spark output
(parquet, written after the timed loop) against the DuckDB run of its
oracle SQL over the same input tables. Rows are compared as a sorted
multiset of per-cell ``repr`` strings over name-sorted columns, so
row order never matters and every value must match exactly."""
import glob
import json
import os

import duckdb
import numpy as np
import pandas as pd


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    s = df.astype(object).apply(lambda c: c.map(repr))
    return s.sort_values(by=list(s.columns)).reset_index(drop=True)


def check(data_dir, out_dir):
    """Return {query: None if it matches, else a one-line reason}."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for f in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    verdicts = {}
    for name, sql in sorted(oracle.items()):
        verdicts[name] = _one(con, sql, os.path.join(out_dir, name))
    con.close()
    return verdicts


def _one(con, sql, result_dir):
    if sql is None:
        return "no oracle SQL registered"
    try:
        want = con.execute(sql).fetchdf()
    except Exception as e:  # noqa: BLE001 - reported, never raised
        return f"oracle error: {e}"[:300]
    files = glob.glob(os.path.join(result_dir, "*.parquet"))
    if not files:
        return "spark output missing"
    got = pd.concat([pd.read_parquet(p) for p in files])
    if sorted(got.columns) != sorted(want.columns):
        return f"columns differ: {sorted(got.columns)} vs {sorted(want.columns)}"[:300]
    if len(got) != len(want):
        return f"row count: spark={len(got)} oracle={len(want)}"
    g, w = _canon(got), _canon(want)
    if g.equals(w):
        return None
    diff = (g != w).values
    r, c = [int(x[0]) for x in np.where(diff)]
    return (f"{int(diff.sum())} cells differ; first at row {r} col {g.columns[c]}: "
            f"spark={g.iloc[r, c]} oracle={w.iloc[r, c]}")[:300]
