"""DuckDB comparison of registry query results with their oracle SQL.

The benchmark JVM writes each oracled query's rows (one parquet file per
query, in the query's own row order) plus `oracle_sql.json`. Each oracle
runs in DuckDB over the same parquet tables; columns are compared in name
order, row by row, with exact values and matching dtype kinds.
"""
import json
import math
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _same(x, y):
    try:
        if pd.isna(x) and pd.isna(y):
            return True
    except (TypeError, ValueError):
        pass
    if isinstance(x, float) and isinstance(y, float):
        return (math.isnan(x) and math.isnan(y)) or (
            x == y and math.copysign(1, x) == math.copysign(1, y))
    if hasattr(x, "tolist") and hasattr(y, "tolist"):
        return x.tolist() == y.tolist()
    return x == y


def mismatch(con, name, sql, out_dir):
    """None when the query's rows equal its oracle's, else a reason."""
    ours = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df()
    theirs = con.sql(sql).df()
    ours = ours.reindex(sorted(ours.columns), axis=1)
    theirs = theirs.reindex(sorted(theirs.columns), axis=1)
    if list(ours.columns) != list(theirs.columns):
        return f"columns {list(ours.columns)} vs oracle {list(theirs.columns)}"
    if len(ours) != len(theirs):
        return f"{len(ours)} rows vs oracle {len(theirs)}"
    for c in ours.columns:
        for i, (x, y) in enumerate(zip(ours[c].tolist(), theirs[c].tolist())):
            if not _same(x, y):
                return f"column {c} row {i}: {x!r} vs oracle {y!r}"
    kinds = [(c, ours[c].dtype.kind, theirs[c].dtype.kind) for c in ours.columns
             if ours[c].dtype.kind != theirs[c].dtype.kind]
    if kinds:
        return f"dtype kinds differ {kinds}"
    return None


def compare(out_dir, tables_dir):
    """Returns (number of queries compared, list of failure messages)."""
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    failures = []
    for name, sql in sorted(oracles.items()):
        try:
            why = mismatch(con, name, sql, out_dir)
        except Exception as e:  # an oracle or a result that cannot be read
            why = f"error {e}"
        if why:
            failures.append(f"{name}: {why}")
    con.close()
    return len(oracles), failures
