"""Seeded input tables for the registered queries the traced run times
(layers.query_probes).

The queries read TPC-H-shaped tables plus a `documents` corpus from a
directory of one parquet file per table.  These generators write that
layout with the column names, types, sizes and value distributions of
the repository's sf0.1 test data (TESTDATA.md), drawn from a seed:

- 15,000 customers, 150,000 orders and 600,000 line items, foreign
  keys uniform (about 10 orders per customer and 4 items per order);
- 5,000 documents of 10 to 99 words (uniform), each word drawn
  uniformly from the 30-word vocabulary below; then, one after the
  other, 250 randomly chosen documents are replaced by another random
  document's text plus the token "dup" (so a copy of a copy ends in
  "dup dup"): the near-duplicate and shared-span mass the corpus
  queries look for;
- lang `en` for 41% of documents and the four others about 15% each,
  source `src<doc_id mod 20>`.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

CUSTOMERS = 15_000
DOCS = 5_000
NEAR_DUPS = 250
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
WORDS = ("a the data row column table key value query scan filter join "
         "group agg sort merge hash window stream batch spark line part "
         "order customer vector fast slow big small").split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)


def _day(rng, n):
    start = np.datetime64("1995-01-01")
    return (start + rng.integers(0, 2500, n).astype("timedelta64[D]")) \
        .astype("datetime64[us]")


def _documents(rng, n: int) -> pd.DataFrame:
    texts = [" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k))
             for k in rng.integers(10, 100, n)]
    for _ in range(NEAR_DUPS):
        i, j = rng.choice(n, 2, replace=False)
        texts[i] = texts[j] + " dup"
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def write_tables(out_dir: str, seed: int) -> dict:
    """Write region, nation, customer, orders, lineitem and documents
    under out_dir.  Returns {table: rows}."""
    rng = np.random.default_rng(seed)
    customers, n_o, n_l = CUSTOMERS, 10 * CUSTOMERS, 40 * CUSTOMERS
    tables = {
        "region": pd.DataFrame({
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": list(REGIONS)}),
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": np.arange(25, dtype=np.int32) % 5}),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(customers, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(customers)],
            "c_nationkey": rng.integers(0, 25, customers).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999, 9999, customers), 2),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, customers)]}),
        "orders": pd.DataFrame({
            "o_orderkey": np.arange(n_o, dtype=np.int64),
            "o_custkey": rng.integers(0, customers, n_o),
            "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_o)],
            "o_totalprice": np.round(rng.uniform(900, 500_000, n_o), 2),
            "o_orderdate": _day(rng, n_o),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_o)]}),
        "lineitem": pd.DataFrame({
            "l_orderkey": rng.integers(0, n_o, n_l),
            "l_partkey": rng.integers(0, 20_000, n_l),
            "l_suppkey": rng.integers(0, 1_000, n_l),
            "l_linenumber": rng.integers(1, 8, n_l).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 105_000, n_l), 2),
            "l_discount": rng.integers(0, 11, n_l) / 100.0,
            "l_tax": rng.integers(0, 9, n_l) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_l)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_l)],
            "l_shipdate": _day(rng, n_l)}),
        "documents": _documents(rng, DOCS),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                       os.path.join(out_dir, f"{name}.parquet"))
    return {k: len(v) for k, v in tables.items()}
