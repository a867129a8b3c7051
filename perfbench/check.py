"""Compares the check pass's dumped results with their DuckDB oracles.

Same rules as the repository's `tools/check.py`: columns sorted by name,
dtype kinds must match (int-vs-float fails), rows sorted by every column,
floats compared bit-exactly (0.0 and -0.0 differ, NaN equals NaN). The
rules are kept here rather than imported so that a parent and a change
are judged by identical code.
"""
import glob
import json
import math
import os

import duckdb
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def cell_equal(x, y):
    xnull = x is None or (isinstance(x, float) and math.isnan(x))
    ynull = y is None or (isinstance(y, float) and math.isnan(y))
    if xnull or ynull:
        return xnull == ynull and (isinstance(x, float) == isinstance(y, float)
                                   or (x is None and y is None))
    if isinstance(x, float) and isinstance(y, float):
        return x == y and math.copysign(1.0, x) == math.copysign(1.0, y)
    if isinstance(x, float) != isinstance(y, float):
        return False
    return str(x) == str(y)


def mismatch(con, sql, out):
    """Why the dumped result in `out` differs from the oracle, or None."""
    if not glob.glob(f"{out}/*.parquet"):
        return "no result written"
    sdf = con.sql(f"SELECT * FROM '{out}/*.parquet'").df()
    odf = con.sql(sql).df()
    sdf = sdf.reindex(sorted(sdf.columns), axis=1)
    odf = odf.reindex(sorted(odf.columns), axis=1)
    if list(sdf.columns) != list(odf.columns):
        return f"columns {list(sdf.columns)} != oracle {list(odf.columns)}"
    if sdf.shape != odf.shape:
        return f"shape {sdf.shape} != oracle {odf.shape}"
    kinds = [(c, a.kind, b.kind) for c, a, b
             in zip(sdf.columns, sdf.dtypes, odf.dtypes) if a.kind != b.kind]
    if kinds:
        return f"dtype kinds differ {kinds}"
    if len(sdf) and any(isinstance(sdf[c].iloc[0], (np.ndarray, list, dict))
                        for c in sdf.columns if sdf[c].dtype == object):
        return "array/map column cannot be compared"
    cols = list(sdf.columns)
    sdf = sdf.sort_values(cols, kind="mergesort").reset_index(drop=True)
    odf = odf.sort_values(cols, kind="mergesort").reset_index(drop=True)
    for c in cols:
        for i, (x, y) in enumerate(zip(sdf[c].tolist(), odf[c].tolist())):
            if not cell_equal(x, y):
                return f"column {c} row {i}: {x!r} != oracle {y!r}"
    return None


def compare(sf_dir, check_dir, names):
    """Returns {query: reason} for every query whose result is wrong."""
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for t in TABLES:
        src = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(src):
            src = f"{src}/*.parquet"
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    with open(f"{check_dir}/oracle_sql.json") as fh:
        oracle = json.load(fh)
    bad = {}
    for name in names:
        if name not in oracle:
            bad[name] = "no oracle"
            continue
        try:
            why = mismatch(con, oracle[name], f"{check_dir}/{name}")
        except Exception as e:  # a failing oracle or unreadable dump
            why = f"{type(e).__name__}: {e}"
        if why:
            bad[name] = why
    return bad
