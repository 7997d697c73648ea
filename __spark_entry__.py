"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship spatial pipeline on sf0.001.
queries()     — one callable per key of queries.ORACLE_SQL, in that
                dict's order.  ORACLE_SQL is the only place a query is
                registered: a query without an oracle is not a query.
oracle_sql()  — the DuckDB SQL for every registered query: the
                sphere/relational/sketch paths are recomputed by
                DuckDB directly; the WGS84 kernel paths hash against
                kernel-precomputed fixture parquet
                (scripts/build_fixtures.py); IVF re-derives its
                seed-row centroids from the data.  tests/test_oracles.py
                runs every query against its oracle; exactness is
                additionally pytest-gated (GeodTest-style kernel
                conformance, brute-force join oracles, LSH recall).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402

from geographiclib_go_spark import queries as Q  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: sphere kNN join (ring-expansion, Karney kernel) of
    customer-derived points x landmarks on sf0.001 — exercises scan,
    cell index, broadcast join, Arrow kernel, window top-k."""
    return Q.sphere_knn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: getattr(Q, name) for name in Q.ORACLE_SQL}


def oracle_sql() -> dict[str, str]:
    return dict(Q.ORACLE_SQL)
