"""Distributed BPE merge training (operators/bpe.py).

Three-way gate: the Spark trainer, its DuckDB ORACLE_SQL replay, and
an independent pure-Python reference trainer must produce the exact
same merge sequence (round, a, b, merged, cnt) on the sf0.001
documents corpus.
"""

import collections
import re

import duckdb
import pytest

from geographiclib_go_spark.operators import bpe

ROUNDS = 20


def _py_reference(texts, rounds):
    """Independent sequential BPE trainer: word-frequency table,
    greedy left-to-right merge application, ties on (count DESC,
    pair ASC)."""
    freq = collections.Counter()
    for t in texts:
        for w in re.split(r"\s+", t):
            if w and re.fullmatch(r"[A-Za-z0-9]+", w):
                freq[w] += 1
    vocab = {tuple(w): n for w, n in freq.items()}
    merges = []
    for r in range(1, rounds + 1):
        pc = collections.Counter()
        for syms, n in vocab.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += n
        if not pc:
            break
        (a, b), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((r, a, b, a + b, cnt))
        nv = {}
        for syms, n in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nv[tuple(out)] = nv.get(tuple(out), 0) + n
        vocab = nv
    return merges


@pytest.fixture(scope="module")
def corpus_texts(sf_dir):
    import pyarrow.parquet as pq
    return pq.read_table(f"{sf_dir}/documents.parquet",
                        columns=["text"]).column("text").to_pylist()


def test_spark_matches_python_reference(spark, sf_dir, corpus_texts):
    ref = _py_reference(corpus_texts, ROUNDS)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = sorted((r["round"], r["a"], r["b"], r["merged"], r["cnt"])
                 for r in bpe.train_bpe(docs, ROUNDS).collect())
    assert got == ref


def test_oracle_sql_matches_python_reference(sf_dir, corpus_texts):
    ref = _py_reference(corpus_texts, ROUNDS)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')")
    got = [tuple(r) for r in
           con.execute(bpe.bpe_oracle_sql(ROUNDS)).fetchall()]
    assert got == ref


def test_fold_merge_edge_cases(spark):
    """The left-to-right non-overlapping fold on self-pairs: the
    merged symbol can never re-match the pattern's first element, so
    'a a a' -> [aa, a] and 'a a a a' -> [aa, aa]."""
    docs = spark.createDataFrame(
        [("d1", "aaa"), ("d2", "aaaa"), ("d3", "aab"), ("d4", "ab")],
        ["doc_id", "text"])
    rows = sorted((r["round"], r["a"], r["b"], r["merged"], r["cnt"])
                  for r in bpe.train_bpe(docs, 2).collect())
    ref = _py_reference(["aaa", "aaaa", "aab", "ab"], 2)
    assert rows == ref
    # round 1 merges the most frequent pair (a,a): counts are
    # aaa->2, aaaa->3, aab->1, ab->0 adjacent (a,a) pairs = 6
    assert rows[0] == (1, "a", "a", "aa", 6)


def test_vocabulary_exhaustion_truncates(spark):
    """Fewer than `rounds` output rows when no adjacent pairs
    remain, in BOTH engines — and rounds past exhaustion are
    IDENTITY on the vocabulary, never a wipe: train_vocab still
    returns every word and apply_bpe still tokenizes (the empty-best
    crossJoin regression the review caught would have persisted an
    empty vocab snapshot)."""
    docs = spark.createDataFrame([(1, "ab ab cd")],
                                 ["doc_id", "text"])
    rows = bpe.train_bpe(docs, 6).collect()
    # ab->merge1, cd->merge2, then every word is one symbol
    assert len(rows) == 2
    vocab = bpe.train_vocab(docs, 6)
    vrows = {r["w"]: r["n_syms"] for r in vocab.collect()}
    assert vrows == {"ab": 1, "cd": 1}
    applied = [tuple(r) for r in bpe.apply_bpe(docs, vocab).collect()]
    assert applied == [(1, 3, 3, 6)]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents AS SELECT 1 AS doc_id, "
                "'ab ab cd' AS text")
    assert len(con.execute(bpe.bpe_oracle_sql(6)).fetchall()) == 2
    assert con.execute(bpe.bpe_apply_oracle_sql(6)).fetchall() == [
        (1, 3, 3, 6)]


def test_training_is_deterministic(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = sorted(map(tuple, bpe.train_bpe(docs, 6).collect()))
    b = sorted(map(tuple, bpe.train_bpe(docs, 6).collect()))
    assert a == b


def _py_apply(texts, rounds):
    """Reference tokenization with the trained merges: per-doc
    (n_words, n_tokens, n_chars) over alnum words."""
    merges = [(a, b) for _, a, b, _, _
              in _py_reference([t for _, t in texts], rounds)]

    def tokenize(word):
        syms = list(word)
        for a, b in merges:
            out, i = [], 0
            while i < len(syms):
                if (i + 1 < len(syms) and syms[i] == a
                        and syms[i + 1] == b):
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return len(syms)

    cache = {}
    rows = []
    for doc_id, t in texts:
        nw = nt = nc = 0
        for w in re.split(r"\s+", t):
            if w and re.fullmatch(r"[A-Za-z0-9]+", w):
                if w not in cache:
                    cache[w] = tokenize(w)
                nw += 1
                nt += cache[w]
                nc += len(w)
        if nw:
            rows.append((doc_id, nw, nt, nc))
    return sorted(rows)


@pytest.fixture(scope="module")
def corpus_with_ids(sf_dir):
    import pyarrow.parquet as pq
    t = pq.read_table(f"{sf_dir}/documents.parquet",
                      columns=["doc_id", "text"])
    return list(zip(t.column("doc_id").to_pylist(),
                    t.column("text").to_pylist()))


def test_apply_matches_python_reference(spark, sf_dir, tmp_path,
                                        corpus_with_ids, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_STORE", str(tmp_path))
    from geographiclib_go_spark import queries as Q
    got = sorted(tuple(r) for r in
                 Q.doc_bpe_apply(spark, sf_dir).collect())
    assert got == _py_apply(corpus_with_ids, 20)


def test_apply_oracle_matches_python_reference(sf_dir,
                                               corpus_with_ids):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')")
    got = [tuple(r) for r in
           con.execute(bpe.bpe_apply_oracle_sql(20)).fetchall()]
    assert sorted(got) == _py_apply(corpus_with_ids, 20)


def test_apply_vocab_snapshot_resumes(spark, sf_dir, tmp_path,
                                      monkeypatch):
    """Second invocation must probe the committed vocab snapshot,
    not retrain: the lineage stage is complete after the first call
    and the outputs are identical."""
    monkeypatch.setenv("SPARK_GRAFT_STORE", str(tmp_path))
    from geographiclib_go_spark import queries as Q
    from geographiclib_go_spark.plans import lineage as lin
    first = sorted(map(tuple, Q.doc_bpe_apply(spark, sf_dir).collect()))
    import os as _os
    fp = f"{_os.path.abspath(sf_dir)}|bpe_vocab|rounds=20|v1"
    assert lin.stage_is_complete(str(tmp_path), "bpe_vocab_documents",
                                 fp)
    second = sorted(map(tuple, Q.doc_bpe_apply(spark, sf_dir).collect()))
    assert first == second


def test_streaming_tokenize_matches_batch(spark, sf_dir, tmp_path,
                                          monkeypatch):
    """streaming_bpe_tokenize_events probing the SAME persisted vocab
    snapshot, folded per doc, must equal the batch doc_bpe_apply
    output exactly."""
    from geographiclib_go_spark.streaming import polygon_stream as ps
    monkeypatch.setenv("SPARK_GRAFT_STORE", str(tmp_path / "store"))
    from geographiclib_go_spark import queries as Q
    batch = sorted(map(tuple, Q.doc_bpe_apply(spark, sf_dir).collect()))

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    vpath = str(tmp_path / "vocab")
    bpe.train_vocab(docs, 20).write.parquet(vpath)
    vocab = spark.read.parquet(vpath)

    pdf = docs.select("doc_id", "text").toPandas()
    src = tmp_path / "arrivals"
    src.mkdir()
    half = len(pdf) // 2
    spark.createDataFrame(pdf.iloc[:half]).coalesce(1).write.parquet(
        str(src / "b0"))
    spark.createDataFrame(pdf.iloc[half:]).coalesce(1).write.parquet(
        str(src / "b1"))
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(str(src / "*")))

    out = ps.streaming_bpe_tokenize_events(stream, vocab)
    q = (out.writeStream.format("memory").queryName("bpe_events")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        ev = spark.sql(
            "SELECT doc_id, count(*) AS n_words, "
            "sum(n_syms) AS n_tokens, "
            "CAST(sum(length(w)) AS BIGINT) AS n_chars "
            "FROM bpe_events GROUP BY doc_id").collect()
    finally:
        q.stop()
    assert sorted(map(tuple, ev)) == batch
