"""Strict DuckDB oracle check of query results.

Each query's Spark result (a parquet directory) is compared with its
`SparkEntry.oracleSql` run by DuckDB over the same input tables. The rules
are strict: both frames get their columns sorted by name, object columns
stringified and rows sorted; then column names, row count and every value's
string form must be equal.

Usage: python3 oracle_check.py <tables_dir> <results_dir> <oracle_sql.json>
"""
import glob
import json
import os
import sys

import duckdb
import pandas as pd


def canon(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare(spark_df, duck_df):
    """None when equal, else a one-line reason."""
    s, d = canon(spark_df), canon(duck_df)
    if list(s.columns) != list(d.columns):
        return f"columns {list(s.columns)} != {list(d.columns)}"
    if len(s) != len(d):
        return f"rows {len(s)} != {len(d)}"
    for c in s.columns:
        a, b = s[c].astype(str).values, d[c].astype(str).values
        if not (a == b).all():
            i = int((a != b).argmax())
            return f"column {c}: {a[i]!r} != {b[i]!r}"
    return None


def check(tables_dir, results_dir, oracle):
    con = duckdb.connect()
    for f in sorted(glob.glob(os.path.join(tables_dir, "*.parquet"))):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    failures = {}
    for name, sql in sorted(oracle.items()):
        files = glob.glob(os.path.join(results_dir, name, "*.parquet"))
        if sql is None or not files:
            failures[name] = "no oracle SQL" if sql is None else "no Spark output"
            continue
        try:
            s = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
            why = compare(s, con.execute(sql).df())
        except Exception as e:  # an unreadable result or failing oracle is a failed check
            why = f"{type(e).__name__}: {e}"
        if why:
            failures[name] = why
    return failures


if __name__ == "__main__":
    with open(sys.argv[3]) as fh:
        print(json.dumps(check(sys.argv[1], sys.argv[2], json.load(fh))))
