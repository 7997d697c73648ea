"""Every registered query against its DuckDB oracle.

One case per key of queries.ORACLE_SQL (the registry __spark_entry__
exposes): the Spark result must match oracle_sql()[name] in column
set, row count, and column-sorted, order-insensitive values — the
rule scripts/oracle_check.py applies, imported from there.
"""

import pytest

import __spark_entry__ as ent
from scripts.oracle_check import duck_views, mismatch


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_views(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", list(ent.queries()))
def test_query_matches_oracle(name, spark, sf_dir, duck, tmp_path,
                              monkeypatch):
    # lineage snapshots some queries persist go to a throwaway store
    monkeypatch.setenv("SPARK_GRAFT_STORE", str(tmp_path))
    try:
        got = ent.queries()[name](spark, sf_dir).toPandas()
    finally:
        spark.catalog.clearCache()
    want = duck.sql(ent.oracle_sql()[name]).df()
    problem = mismatch(got, want)
    assert problem is None, f"{name}: {problem}"
