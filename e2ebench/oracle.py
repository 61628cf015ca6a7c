"""Compares each gate's result with its DuckDB oracle.

The rules are the engine's own local verifier's: columns sorted by name,
rows sorted by every column, exact equality. A float column that differs
at all fails (its maximum difference is reported), and so does a column
whose numeric kind differs between the engines.
"""
import glob
import json
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "documents"]


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: str(v) if v is not None else None)
    return df.sort_values(by=list(df.columns), na_position="first").reset_index(drop=True)


def compare(spark_df, duck_df):
    """None when equal, else what differs."""
    a, b = _norm(spark_df), _norm(duck_df)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != {list(b.columns)}"
    if len(a) != len(b):
        return f"{len(a)} rows != {len(b)}"
    issues = []
    for c in a.columns:
        av, bv = a[c], b[c]
        numeric = set("iuf")
        if av.dtype.kind != bv.dtype.kind and (av.dtype.kind in numeric or bv.dtype.kind in numeric):
            issues.append(f"{c}: dtype {av.dtype} != {bv.dtype}")
        elif pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
            x, y = av.astype(float).to_numpy(), bv.astype(float).to_numpy()
            if not np.array_equal(x, y, equal_nan=True):
                issues.append(f"{c}: float max diff {np.nanmax(np.abs(x - y)):.3e}")
        elif not av.astype(str).equals(bv.astype(str)):
            issues.append(f"{c}: {int((av.astype(str) != bv.astype(str)).sum())} values differ")
    return "; ".join(issues) or None


def check(data_dir, results_dir):
    """(gate, ok, why) for every gate with an oracle in results_dir."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                    f"'{os.path.join(data_dir, t + '.parquet')}')")
    oracles = json.load(open(os.path.join(results_dir, "oracle_sql.json")))
    out = []
    for name, sql in sorted(oracles.items()):
        files = sorted(glob.glob(os.path.join(results_dir, name, "*.parquet")))
        if not files:
            out.append((name, False, "no engine result"))
            continue
        try:
            why = compare(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True),
                          con.execute(sql).df())
        except Exception as e:  # an oracle that cannot run is a failed check
            why = f"{type(e).__name__}: {e}"
        out.append((name, why is None, why or ""))
    return out
