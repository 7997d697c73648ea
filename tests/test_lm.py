"""Bigram-LM scoring (operators/lm.py).

Spark vs ORACLE_SQL vs an independent pure-Python scorer.
"""

import collections
import math
import re

import duckdb
import pytest

from geographiclib_go_spark.operators import lm


def _py_reference(id_text_pairs):
    """Independent sequential replay: same word spec, same add-one
    smoothing, same 4-decimal rounding."""
    def words(t):
        return [w for w in re.split(r"\s+", t)
                if w and re.fullmatch(r"[A-Za-z0-9]+", w)]

    uni = collections.Counter()
    bi = collections.Counter()
    per_doc = {}
    for doc_id, t in id_text_pairs:
        ws = words(t)
        uni.update(ws)
        pairs = list(zip(ws, ws[1:]))
        bi.update(pairs)
        per_doc[doc_id] = pairs
    v = len(uni)
    out = []
    for doc_id, pairs in per_doc.items():
        if not pairs:
            continue
        lp = sum(math.log((bi[p] + 1) / (uni[p[0]] + v))
                 for p in pairs)
        out.append((doc_id, len(pairs), round(lp, lm.LOGP_ROUND)))
    return sorted(out)


@pytest.fixture(scope="module")
def corpus(sf_dir):
    import pyarrow.parquet as pq
    t = pq.read_table(f"{sf_dir}/documents.parquet",
                      columns=["doc_id", "text"])
    return list(zip(t.column("doc_id").to_pylist(),
                    t.column("text").to_pylist()))


def test_spark_matches_python_reference(spark, sf_dir, corpus):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    uni, bi = lm.lm_counts(docs)
    got = sorted(tuple(r)
                 for r in lm.lm_score(docs, uni, bi).collect())
    assert got == _py_reference(corpus)


def test_oracle_sql_matches_python_reference(sf_dir, corpus):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')")
    got = [tuple(r) for r in
           con.execute(lm.lm_score_oracle_sql()).fetchall()]
    assert sorted(got) == _py_reference(corpus)


def test_score_discriminates(spark):
    """A document of corpus-typical bigrams must outscore (higher
    avg logp) one of corpus-rare bigrams — the quality-gate
    contract."""
    common = " ".join(["the quick fox"] * 30)
    docs = spark.createDataFrame(
        [(i, common) for i in range(9)]
        + [(9, "zq xv qk jw vz wq kx jq")],
        ["doc_id", "text"])
    uni, bi = lm.lm_counts(docs)
    rows = {r["doc_id"]: r["logp"] / r["n_bigrams"]
            for r in lm.lm_score(docs, uni, bi).collect()}
    assert rows[0] > rows[9]


def test_reference_lm_is_pluggable(spark):
    """lm_score accepts counts trained on a DIFFERENT corpus (the
    true CCNet shape): unseen bigrams score the smoothed value
    ln((0 + 1) / (c_a + V)) instead of silently dropping — every
    doc with bigrams gets a row, and the add-one smoothing actually
    does its job on out-of-distribution pairs.  Values pinned
    against hand-computed math."""
    ref = spark.createDataFrame(
        [(0, "a b a b a b")], ["doc_id", "text"])
    uni, bi = lm.lm_counts(ref)   # V = 2 (a, b)
    target = spark.createDataFrame(
        [(1, "a b zz"), (2, "zz yy")], ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in
            lm.lm_score(target, uni, bi).collect()}
    # every doc with >=1 bigram is scored
    assert set(rows) == {1, 2}
    # doc1: ("a","b") seen c_ab=3 c_a=3 -> ln(4/5); ("b","zz")
    # unseen -> ln(1/(3+2)); doc2: ("zz","yy") fully unseen ->
    # ln(1/(0+2))
    assert rows[1]["n_bigrams"] == 2
    assert rows[2]["n_bigrams"] == 1
    assert rows[2]["logp"] == round(math.log(1 / 2), lm.LOGP_ROUND)
    assert rows[1]["logp"] == round(
        math.log(4 / 5) + math.log(1 / 5), lm.LOGP_ROUND)
