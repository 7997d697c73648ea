"""Sequence packing (operators/packing.py).

Spark vs ORACLE_SQL (the tests/test_oracles.py rule, at operator
level), alongside an independent pure-Python packer and the packing
invariants.
"""

import collections
import re

import duckdb
import pytest

from geographiclib_go_spark.operators import packing

L = packing.SEQ_LEN
S = packing.N_SHARDS


def _py_reference(id_text_pairs):
    """Independent sequential packer: per-shard concat-and-chunk."""
    shards = collections.defaultdict(list)
    for doc_id, text in id_text_pairs:
        n = len([w for w in re.split(r"\s+", text) if w])
        if n > 0:
            shards[doc_id % S].append((doc_id, n))
    out = {}
    for sh, docs in shards.items():
        pos = 0
        for doc_id, n in sorted(docs):
            start, end = pos, pos + n
            c0, c1 = start // L, (end - 1) // L
            for c in range(c0, c1 + 1):
                nd, ns, nt = out.get((sh, c), (0, 0, 0))
                out[(sh, c)] = (nd + 1, ns + (1 if c1 > c0 else 0),
                                nt + min(end, (c + 1) * L)
                                - max(start, c * L))
            pos = end
    return sorted((sh, c, *v) for (sh, c), v in out.items())


@pytest.fixture(scope="module")
def corpus(sf_dir):
    import pyarrow.parquet as pq
    t = pq.read_table(f"{sf_dir}/documents.parquet",
                      columns=["doc_id", "text"])
    return list(zip(t.column("doc_id").to_pylist(),
                    t.column("text").to_pylist()))


def test_spark_matches_python_reference(spark, sf_dir, corpus):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = sorted(tuple(r) for r in packing.seq_pack(docs).collect())
    assert got == _py_reference(corpus)


def test_oracle_sql_matches_python_reference(sf_dir, corpus):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')")
    got = [tuple(r) for r in
           con.execute(packing.seq_pack_oracle_sql()).fetchall()]
    assert sorted(got) == _py_reference(corpus)


def test_packing_invariants(spark, sf_dir, corpus):
    """Full chunks carry exactly L tokens; only each shard's LAST
    chunk may be partial; total packed tokens equal the corpus token
    count; chunk ids are dense per shard."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = packing.seq_pack(docs).collect()
    per_shard = collections.defaultdict(list)
    for r in rows:
        per_shard[r["shard"]].append(r)
    for sh, rs in per_shard.items():
        rs.sort(key=lambda r: r["chunk_id"])
        assert [r["chunk_id"] for r in rs] == list(range(len(rs)))
        assert all(r["n_tokens"] == L for r in rs[:-1])
        assert 0 < rs[-1]["n_tokens"] <= L
    total = sum(r["n_tokens"] for r in rows)
    expect = sum(len([w for w in re.split(r"\s+", t) if w])
                 for _, t in corpus)
    assert total == expect


def test_boundary_split_counting(spark):
    """A doc spanning a chunk boundary is counted as split in EVERY
    chunk it touches; single-chunk docs are not."""
    # shard 0 only: ids 0,8,16 -> 200, 100, 60 tokens at L=256
    docs = spark.createDataFrame(
        [(0, " ".join(["a"] * 200)), (8, " ".join(["b"] * 100)),
         (16, " ".join(["c"] * 60))], ["doc_id", "text"])
    rows = sorted(tuple(r) for r in packing.seq_pack(docs).collect())
    # doc0 [0,200) chunk0; doc8 [200,300) chunks 0-1 (split);
    # doc16 [300,360) chunk1
    assert rows == [(0, 0, 2, 1, 256), (0, 1, 2, 1, 104)]
