"""Driver-style correctness check: run every queries() entry on Spark
at a given sf dir and compare with oracle_sql() through DuckDB —
row count, column names, and order-insensitive values.

The comparison helpers here (TABLES, norm_cell, canon, duck_views,
mismatch) are also what tests/test_oracles.py gates every registered
query with, so the script and Tier-1 apply one rule.

Usage: python scripts/oracle_check.py [sf_dir] [name1,name2,...]
Exits 1 if any query mismatches or errors.
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def canon(pdf: pd.DataFrame) -> list:
    """Column-sorted, order-insensitive rows of normalised cells."""
    cols = sorted(pdf.columns)
    return sorted(tuple(norm_cell(r[c]) for c in cols)
                  for _, r in pdf[cols].iterrows())


def duck_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per sf-dir parquet table."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when Spark's frame equals the oracle's — same column set,
    same row count, same canon() values — else what differs."""
    if sorted(got.columns) != sorted(want.columns):
        return (f"spark cols {sorted(got.columns)} != "
                f"duckdb cols {sorted(want.columns)}")
    if len(got) != len(want):
        return f"rows spark {len(got)} != duckdb {len(want)}"
    a, b = canon(got), canon(want)
    if a == b:
        return None
    diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
    return "values differ:" + "".join(
        f"\n    spark : {x}\n    duckdb: {y}" for x, y in diffs)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as ent
    from geographiclib_go_spark.session import build_session

    spark = build_session(app="oracle-check", master="local[8]",
                          shuffle_partitions=16)
    con = duck_views(sf_dir)

    qs = ent.queries()
    if len(sys.argv) > 2:  # optional name filter
        want = set(sys.argv[2].split(","))
        qs = {k: v for k, v in qs.items() if k in want}
    oracles = ent.oracle_sql()
    bad = []
    for name, fn in qs.items():
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
            wall = time.time() - t0
            odf = con.sql(oracles[name]).df()
        except Exception as e:
            bad.append(name)
            print(f"{name:32s} ERROR: {type(e).__name__}: {e}")
            continue
        finally:
            # queries cache() intra-query intermediates; don't let the
            # whole registry's caches pile up in the one local-mode JVM
            spark.catalog.clearCache()
        problem = mismatch(sdf, odf)
        if problem:
            bad.append(name)
        print(f"{name:32s} {'MISMATCH' if problem else 'OK':9s} "
              f"rows {len(sdf)}/{len(odf)}  {wall:5.1f}s")
        if problem:
            print(f"    {problem}")

    print(f"\n{len(qs) - len(bad)}/{len(qs)} clean; problems: {bad}")
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
