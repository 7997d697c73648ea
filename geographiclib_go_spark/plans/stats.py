"""Row counts a planner can use before it runs anything.

A plan over parquet files carries its row count in the file footers.
``footer_rows`` reads them on the driver: a listing and one footer
read per file, no Spark job.  A walk of the optimized plan's nodes
decides what that count says about a derived plan: ``exact_rows``
takes it as the row count when every node keeps its rows as they
are, ``row_upper_bound`` as a bound when no node can add rows.
spatial_join's row estimate and dedup.phash_clusters' plan choice
both read the footers through here.
"""

from __future__ import annotations

import urllib.parse

from py4j.protocol import Py4JError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame

# optimized-plan nodes that emit exactly the rows they read
_SAME_ROWS_NODES = frozenset({"Project", "Sort", "Repartition",
                              "RepartitionByExpression"})
# ... and those that never emit more rows than they read
_NO_GROWTH_NODES = _SAME_ROWS_NODES | {"Filter", "Aggregate",
                                       "Deduplicate"}


def footer_rows(df: DataFrame) -> int | None:
    """Total row count in the parquet footers of `df`'s input files,
    read driver-side, or None when `df` has no input files or one is
    not a local parquet file."""
    import pyarrow.parquet as pq
    try:
        files = list(df.inputFiles())
    except (Py4JError, PySparkException):
        return None
    if not files or not all(f.endswith(".parquet") for f in files):
        return None
    total = 0
    for f in files:
        p = urllib.parse.urlparse(f)
        if p.scheme not in ("file", ""):  # no footer access here
            return None
        try:
            total += pq.ParquetFile(p.path).metadata.num_rows
        except OSError:
            return None
    return total


def _node_names(plan) -> list:
    names, todo = [], [plan]
    while todo:
        node = todo.pop()
        names.append(node.nodeName())
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return names


def _scan_rows(df: DataFrame, allowed: frozenset) -> int | None:
    """Footer rows of `df`'s one parquet scan when every other node of
    its optimized plan is in `allowed`, else None."""
    try:
        names = _node_names(df._jdf.queryExecution().optimizedPlan())
    except (Py4JError, PySparkException):
        return None
    if [n for n in names if n not in allowed] != ["LogicalRelation"]:
        return None
    return footer_rows(df)


def exact_rows(df: DataFrame) -> int | None:
    """The row count of `df`, found without a Spark job: the footer
    row count of its one parquet scan when every other node of the
    optimized plan is a Project, Sort or Repartition.  None for any
    other plan (a Filter, Limit, Join, ...), a non-file leaf, or an
    input that is not local parquet."""
    return _scan_rows(df, _SAME_ROWS_NODES)


def row_upper_bound(df: DataFrame) -> int | None:
    """An upper bound on the rows of `df`, found without a Spark job:
    the footer row count of its one parquet scan when every other
    node of the optimized plan is a Project, Sort, Repartition,
    Filter, Aggregate or Deduplicate.  None when the bound is
    unknown: any node that can add rows (Join, Generate, Union,
    Expand, a Python UDF or map, ...), a non-file leaf, or an input
    that is not local parquet."""
    return _scan_rows(df, _NO_GROWTH_NODES)
