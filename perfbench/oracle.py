"""Checks each query output against its DuckDB oracle SQL on the same tables.

Rows are compared after sorting columns by name and rows by every column;
floats must agree to 1e-9 (the repo's oracle comparison, tools/check_oracle.py).
"""
import glob
import json
import os

import duckdb
import numpy as np
import pandas as pd


def _norm(df):
    df = df[sorted(df.columns)]
    if len(df) and len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def _diff(got, want):
    a, b = _norm(got), _norm(want)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} != {len(b)}"
    for c in a.columns:
        if np.issubdtype(a[c].dtype, np.floating) or np.issubdtype(b[c].dtype, np.floating):
            af = pd.to_numeric(a[c]).astype(float).values
            bf = pd.to_numeric(b[c]).astype(float).values
            if not np.allclose(af, bf, rtol=0, atol=1e-9, equal_nan=True):
                return f"values differ in {c}"
        else:
            av = pd.Series(a[c].values).astype(object).where(pd.notna(a[c].values), None).tolist()
            bv = pd.Series(b[c].values).astype(object).where(pd.notna(b[c].values), None).tolist()
            if av != bv:
                return f"values differ in {c}"
    return None


def check(data_dir, out_dir, oracle_json):
    """Returns [(query, ok, detail)] for every query in `oracle_json`."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    results = []
    for name, sql in sorted(json.load(open(oracle_json)).items()):
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not sql:
            results.append((name, False, "no oracle SQL"))
        elif not files:
            results.append((name, False, "no output"))
        else:
            got = con.execute(f"SELECT * FROM read_parquet({files!r})").df()
            d = _diff(got, con.execute(sql).df())
            results.append((name, d is None, d or ""))
    con.close()
    return results
