"""Checks the analytics workloads' results against the DuckDB oracle.

The harness dumps each query's cold-pass result as parquet and writes the
query's `SparkEntry.oracleSql` text beside it. This module runs that SQL
in DuckDB on the same generated tables and compares the two results
exactly, with the canonicalisation of `tools/selfcheck.py`. Expected
results are derived once for each table set and oracle text, and kept
beside the tables.
"""
import glob
import hashlib
import json
import os

import duckdb
import pandas as pd
import pyarrow.parquet as pq


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Column-sorted, row-sorted, type-normalised frame (selfcheck.py)."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]")
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def expected(con, sql, cache):
    if os.path.exists(cache):
        return pd.read_pickle(cache)
    df = canon(con.execute(sql).fetchdf())
    tmp = cache + ".tmp"
    df.to_pickle(tmp)
    os.replace(tmp, cache)
    return df


def compare(name, got, want):
    """None when equal, else a one-line reason."""
    if list(got.columns) != list(want.columns):
        return f"{name}: columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"{name}: {len(got)} rows, oracle has {len(want)}"
    g, w = got.astype(str), want.astype(str)
    if g.equals(w):
        return None
    bad = (g != w).any(axis=1)
    return (f"{name}: {int(bad.sum())}/{len(got)} rows differ, e.g. "
            f"{g[bad].head(1).to_dict('records')} vs "
            f"{w[bad].head(1).to_dict('records')}")


def check(data_dir, out_dir):
    """Returns ({query: reason} for every mismatch, queries checked)."""
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    cache_dir = os.path.join(data_dir, "expected")
    os.makedirs(cache_dir, exist_ok=True)
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    bad, checked = {}, []
    for name, sql in sorted(oracle.items()):
        res = os.path.join(out_dir, "results", name)
        if not glob.glob(os.path.join(res, "*.parquet")):
            continue  # already verified, or failed in the harness
        checked.append(name)
        if not sql:
            bad[name] = f"{name}: no oracle SQL"
            continue
        # keyed by the oracle text, so a changed oracle is run afresh
        key = hashlib.sha256(sql.encode()).hexdigest()[:16]
        try:
            diff = compare(name, canon(pq.read_table(res).to_pandas()),
                           expected(con, sql, os.path.join(
                               cache_dir, f"{name}-{key}.pkl")))
        except Exception as e:  # an oracle that cannot run is a failed check
            diff = f"{name}: {type(e).__name__}: {e}"
        if diff:
            bad[name] = diff
    con.close()
    return bad, checked
