"""Contract pins for __spark_entry__.py: ORACLE_SQL is the
registry, so a query written without an oracle (or an oracle left
behind by a deleted query) must fail here, and the flagship entry()
returns rows with its documented schema."""

import inspect
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

import __spark_entry__ as ent
from geographiclib_go_spark import queries as Q


def test_every_query_has_a_full_oracle():
    """The registry (ORACLE_SQL's keys) is exactly the set of public
    functions in queries.py shaped like a query: (spark, sf_dir)."""
    written = {name for name, fn in vars(Q).items()
               if inspect.isfunction(fn) and fn.__module__ == Q.__name__
               and not name.startswith("_")
               and list(inspect.signature(fn).parameters)
               == ["spark", "sf_dir"]}
    o = ent.oracle_sql()
    assert set(o) == written, (
        f"queries without an oracle: {sorted(written - set(o))}; "
        f"orphaned oracles: {sorted(set(o) - written)}")
    assert len(o) >= 85
    for name, sql in o.items():
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name


def test_entry_flagship_runs(spark):
    df = ent.entry(spark)
    assert [f.name for f in df.schema.fields] == ["qid", "rank",
                                                  "dist_m"]
    assert df.count() > 0
