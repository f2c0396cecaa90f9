"""DuckDB oracle check for `SparkEntry.queries` results: the repository's
correctness-gate rules (tools/compare.py), as a function.

A key passes when its Spark result, read back from parquet, equals the
DuckDB result of its oracle SQL over the same tables after both sides are
canonicalised: columns sorted by name, doubles rounded to 6 places,
floats to 5, timestamps to microseconds. Rows are compared in order; an
integer column on one side against a float column on the other is a
mismatch, as the gate hashes the two differently.
"""
import os

import duckdb
import numpy as np

from tables import NAMES


def connect(data_dir, temp_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{temp_dir}'")
    for t in NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data_dir, t)}.parquet'")
    return con


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == np.float64:
            df[c] = df[c].round(6)
        elif df[c].dtype == np.float32:
            df[c] = df[c].astype(np.float64).round(5)
        elif str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
    return df.reset_index(drop=True)


def check(con, result_dir, sql):
    """None when the parquet result under `result_dir` matches `sql`, else
    a one-line reason."""
    if sql is None:
        return "no oracle SQL"
    spark_df = con.sql(f"SELECT * FROM '{result_dir}/*.parquet'").df()
    try:
        duck_df = con.sql(sql).df()
    except duckdb.Error as e:
        return f"oracle SQL error: {e}".splitlines()[0]
    a, b = _canon(spark_df), _canon(duck_df)
    if list(a.columns) != list(b.columns):
        return f"columns spark={list(a.columns)} oracle={list(b.columns)}"
    if len(a) != len(b):
        return f"rows spark={len(a)} oracle={len(b)}"
    for c in a.columns:
        av, bv = a[c], b[c]
        if av.dtype != bv.dtype:
            ka, kb = av.dtype.kind, bv.dtype.kind
            if {ka, kb} <= {"i", "u", "f"} and ("f" in (ka, kb)) != (ka == kb == "f"):
                return f"{c}: int-vs-float ({av.dtype} vs {bv.dtype})"
            try:
                av = av.astype(bv.dtype)
            except (TypeError, ValueError):
                return f"{c}: dtype {av.dtype} vs {bv.dtype}"
        eq = (av == bv) | (av.isna() & bv.isna())
        if not eq.all():
            i = (~eq).idxmax()
            return f"{c}: {int((~eq).sum())} diffs, first at row {i}: {av[i]!r} vs {bv[i]!r}"
    return None
