"""Dedup + similarity operators vs brute-force oracles on planted
duplicates (the synthetic corpus has no natural near-dups, so we plant
them)."""

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from geographiclib_go_spark.operators import dedup as ded
from geographiclib_go_spark.operators import similarity as sim
from geographiclib_go_spark.operators import text as tx

WORDS = ("spark shuffle join window batch stream table scan merge sort "
         "hash part order key value row group file block page cache").split()


def _docs_pdf(n=300, seed=3):
    rng = np.random.default_rng(seed)
    texts = [" ".join(rng.choice(WORDS, size=rng.integers(20, 60)))
             for _ in range(n)]
    # plant exact dups and near dups
    texts[10] = texts[0]
    texts[11] = texts[1]
    texts[12] = texts[2] + " extra"
    toks = texts[3].split()
    toks[5] = "changed"
    texts[13] = " ".join(toks)
    return pd.DataFrame({"doc_id": np.arange(n), "text": texts})


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(_docs_pdf()).cache()


def _brute_jaccard(a: str, b: str, k=5):
    sa = {a[i:i + k] for i in range(len(a) - k + 1)}
    sb = {b[i:i + k] for i in range(len(b) - k + 1)}
    return len(sa & sb) / len(sa | sb)


def test_exact_dedup(spark, docs_df):
    kept = ded.exact_dedup(docs_df).collect()
    ids = {r.doc_id for r in kept}
    assert 0 in ids and 10 not in ids
    assert 1 in ids and 11 not in ids
    assert len(kept) == 298


def test_minhash_lsh_finds_planted_near_dups(spark, docs_df):
    pairs = ded.minhash_dedup_pairs(docs_df, threshold=0.5).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    # exact dups always collide in every band
    assert (0, 10) in got and (1, 11) in got
    # near dups planted above threshold
    assert (2, 12) in got and (3, 13) in got
    # verified jaccard values match the brute-force python oracle
    pdf = _docs_pdf()
    for r in pairs:
        want = _brute_jaccard(pdf.text[r.id_a], pdf.text[r.id_b])
        assert r.jaccard == pytest.approx(want, abs=1e-12)


def test_simhash_near_dups(spark, docs_df):
    pairs = ded.simhash_near_dups(docs_df, max_hamming=10).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (0, 10) in got  # exact dup -> hamming 0
    for r in pairs:
        if (r.id_a, r.id_b) == (0, 10):
            assert r.hamming == 0


def _emb_pdf(n=200, seed=9):
    rng = np.random.default_rng(seed)
    X = rng.normal(size=(n, 32))
    X[50] = X[0] + rng.normal(scale=0.01, size=32)  # planted near-dup
    return pd.DataFrame({"vec_id": np.arange(n),
                         "embedding": [r.tolist() for r in X]})


@pytest.fixture(scope="module")
def emb_df(spark):
    return spark.createDataFrame(_emb_pdf()).cache()


def test_cosine_topk_matches_numpy(spark, emb_df):
    pdf = _emb_pdf()
    X = np.array(pdf.embedding.tolist())
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    queries = emb_df.filter(F.col("vec_id") < 5) \
                    .withColumnRenamed("vec_id", "qid")
    got = sim.cosine_topk_bruteforce(emb_df, queries, k=4).toPandas()
    for q in range(5):
        sims = Xn @ Xn[q]
        want = set(np.argsort(-sims, kind="stable")[:4].tolist())
        sub = set(got[got.qid == q].vec_id.tolist())
        assert sub == want, f"qid {q}"


def test_ivf_recall(spark, emb_df):
    queries = emb_df.filter(F.col("vec_id") < 20) \
                    .withColumnRenamed("vec_id", "qid")
    exact = sim.cosine_topk_bruteforce(emb_df, queries, k=5).toPandas()
    approx = sim.ivf_topk(emb_df, queries, k=5, n_centroids=8,
                          nprobe=4).toPandas()
    hits = 0
    for q in range(20):
        e = set(exact[exact.qid == q].vec_id)
        a = set(approx[approx.qid == q].vec_id)
        hits += len(e & a)
    recall = hits / (20 * 5)
    assert recall >= 0.8, recall


def test_embedding_near_dup_pairs(spark, emb_df):
    pairs = sim.cosine_near_dup_pairs(emb_df, threshold=0.95, dim=32,
                                      bits=8, n_tables=6).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (0, 50) in got


def test_fingerprint_invariance(spark, docs_df):
    fp = tx.fingerprint_udf()
    out = docs_df.select("doc_id", fp(F.col("text")).alias("f")).collect()
    fps = {r.doc_id: r.f for r in out}
    assert fps[0] == fps[10]  # exact dups share the fingerprint
    # deterministic across runs
    out2 = docs_df.select("doc_id", fp(F.col("text")).alias("f")).collect()
    assert fps == {r.doc_id: r.f for r in out2}


def test_ivf_deterministic_across_runs_and_partitioning(spark, emb_df):
    """IVF output must be identical run to run (north-rule invariant):
    centroids come from a hash-ordered sample, so repartitioning the
    corpus must not change them (VERDICT r1 item 3)."""
    queries = emb_df.filter(F.col("vec_id") < 10) \
                    .withColumnRenamed("vec_id", "qid")
    def run(corpus):
        out = sim.ivf_topk(corpus, queries, k=5, n_centroids=8,
                           nprobe=3).toPandas()
        return sorted(map(tuple, out[["qid", "rank", "vec_id"]]
                          .to_numpy().tolist()))
    a = run(emb_df)
    b = run(emb_df.repartition(13))
    c = run(emb_df.coalesce(1))
    assert a == b == c and len(a) == 50


def test_hll_accuracy_and_mergeability(spark):
    """HLL estimates within the expected error band (~1.04/sqrt(64)
    ~= 13% at m=64; allow 3 sigma), and register tables built from
    disjoint halves merge (groupBy max) to exactly the full-data
    sketch — the associativity that makes the sketch unionable
    across partitions/snapshots."""
    from geographiclib_go_spark.operators import hll

    n = 3000
    pdf = pd.DataFrame({
        "doc_id": np.arange(n),
        "grp": ["g1"] * n,
        "text": [f"unique document number {i} payload" for i in range(n)],
    })
    df = spark.createDataFrame(pdf)
    est = hll.hll_distinct(df, "text", ["grp"]).collect()[0]
    assert abs(est.hll_estimate - n) / n < 0.40, est.hll_estimate

    # mergeability: sketch(half A) max-merge sketch(half B) ==
    # sketch(all), register for register
    a = hll.hll_registers(df.filter(F.col("doc_id") < n // 2),
                          "text", ["grp"])
    b = hll.hll_registers(df.filter(F.col("doc_id") >= n // 2),
                          "text", ["grp"])
    merged = (a.unionByName(b).groupBy("grp", "bucket")
              .agg(F.max("max_rho").alias("max_rho")))
    full = hll.hll_registers(df, "text", ["grp"])
    mm = sorted(map(tuple, merged.collect()))
    ff = sorted(map(tuple, full.collect()))
    assert mm == ff

    # duplicates do not move the sketch at all
    dup = hll.hll_registers(df.unionByName(df), "text", ["grp"])
    assert sorted(map(tuple, dup.collect())) == ff


def test_simhash_tokenless_docs_pair_in_both_engines(spark):
    """Token-less documents get the all-zero SimHash in the kernel,
    so two of them must pair with hamming 0 — and the SQL oracle must
    agree (it UNIONs an all-zero signature sentinel for documents
    with no tokens; ADVICE r2: without it the oracle silently dropped
    them while Spark paired them)."""
    import duckdb
    from geographiclib_go_spark.operators import sketch_hash as sk
    pdf = pd.DataFrame({
        "doc_id": [0, 1, 2, 3],
        "text": ["", "   \t  ", "spark shuffle join", "spark shuffle join"],
    })
    docs = spark.createDataFrame(pdf)
    got = ded.simhash_near_dups(docs, max_hamming=3).toPandas()
    got_pairs = sorted(zip(got.id_a, got.id_b, got.hamming))
    con = duckdb.connect()
    con.register("documents", pdf)
    want = con.execute(sk.simhash_pairs_oracle_sql(max_hamming=3)).df()
    want_pairs = sorted(zip(want.id_a, want.id_b, want.hamming))
    assert got_pairs == want_pairs
    assert (0, 1, 0) in got_pairs  # the two token-less docs pair
    assert (2, 3, 0) in got_pairs


def test_image_phash_fixture_matches_generator(spark, tmp_path):
    """The distributed image generator and the driver-side numpy
    replication (images.phash_for_ids) must produce IDENTICAL
    phash/fmt per image_id — this equality is what lets the committed
    fixture parquet act as the oracle for the image-dedup queries —
    and the committed fixture must equal a fresh rebuild."""
    import importlib.util
    import os

    import pyarrow.parquet as pq
    from geographiclib_go_spark.sources import images as im
    n = 1200
    got = (im.generate_images(spark, n)
           .select("image_id", "fmt", "phash").toPandas()
           .sort_values("image_id").reset_index(drop=True))
    ids = np.arange(n, dtype=np.uint64)
    want_ph = im.phash_for_ids(ids)
    assert np.array_equal(got.phash.to_numpy(), want_ph)
    lossy = (im.splitmix64(ids ^ np.uint64(13))
             % np.uint64(100)) < np.uint64(30)
    assert np.array_equal(got.fmt.to_numpy() == "jpeg-sim", lossy)

    _spec = importlib.util.spec_from_file_location(
        "build_fixtures", os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "scripts", "build_fixtures.py"))
    bf = importlib.util.module_from_spec(_spec)
    _spec.loader.exec_module(bf)
    fresh = pq.read_table(
        bf.build_images_phash(n, out_dir=str(tmp_path))).to_pandas()
    com = pq.read_table(os.path.join(
        bf.FIXTURE_DIR, "images_phash.parquet")).to_pandas().head(n)
    for col in ("image_id", "fmt", "phash"):
        assert np.array_equal(fresh[col].to_numpy(),
                              com[col].to_numpy()), col


def test_image_row_invariants_fixture_parity(tmp_path):
    """The committed invariants fixture equals a fresh driver-side
    rebuild, every lossless row has sse == 0, and every lossy row
    passes the integer PSNR>=40 bound (q=8 quantization error)."""
    import importlib.util
    import os

    import pyarrow.parquet as pq
    _spec = importlib.util.spec_from_file_location(
        "build_fixtures", os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "scripts", "build_fixtures.py"))
    bf = importlib.util.module_from_spec(_spec)
    _spec.loader.exec_module(bf)
    n = 800
    fresh = pq.read_table(
        bf.build_images_invariants(n, out_dir=str(tmp_path))).to_pandas()
    com = pq.read_table(os.path.join(
        bf.FIXTURE_DIR, "images_invariants.parquet")).to_pandas().head(n)
    for col in ("image_id", "caption", "fmt", "pix_sum", "sse", "n_px"):
        assert np.array_equal(fresh[col].to_numpy(), com[col].to_numpy()), col
    lossless = fresh.fmt == "ppm"
    assert (fresh.sse[lossless] == 0).all()
    # q=8 quantization averages ~40.9 dB, so psnr_ok is a per-row
    # FLAG (both engines compute it identically under the hash gate),
    # not a universal invariant: most lossy rows pass, some dip below
    ok = fresh.sse * 10000 <= 65025 * fresh.n_px
    assert ok[lossless].all()
    assert ok[~lossless].mean() > 0.9
    assert (~lossless).sum() > 100 and lossless.sum() > 100


def test_image_index_matches_full_generator(spark):
    """generate_image_index (the bytes-free projection path used by
    the dedup queries) must agree with generate_images on every
    shared column — same splitmix chains, no byte assembly."""
    from geographiclib_go_spark.sources import images as im
    n = 1500
    full = (im.generate_images(spark, n)
            .select("image_id", "fmt", "phash", "lat", "lon")
            .toPandas().sort_values("image_id").reset_index(drop=True))
    idx = (im.generate_image_index(spark, n)
           .toPandas().sort_values("image_id").reset_index(drop=True))
    assert np.array_equal(full.image_id.to_numpy(), idx.image_id.to_numpy())
    assert np.array_equal(full.fmt.to_numpy(), idx.fmt.to_numpy())
    assert np.array_equal(full.phash.to_numpy(), idx.phash.to_numpy())
    assert np.array_equal(full.lat.to_numpy(), idx.lat.to_numpy())
    assert np.array_equal(full.lon.to_numpy(), idx.lon.to_numpy())


def test_hamming_band_pairs_equals_brute_force(spark):
    """The pigeonhole chunk-band join must equal the exhaustive
    threshold join exactly — random 64-bit signatures plus planted
    near-pairs (<= max_hamming bit flips), verified for two chunking
    regimes."""
    rng = np.random.default_rng(53)
    n = 3000
    sigs = rng.integers(-(2**63), 2**63, n, dtype=np.int64)
    # plant near-dups: copies of earlier sigs with k random bit flips
    for t in range(200):
        src = rng.integers(0, n - 200)
        k = rng.integers(0, 5)
        v = sigs[src:src + 1].view(np.uint64).copy()
        for b in rng.choice(64, k, replace=False):
            v ^= np.uint64(1) << np.uint64(b)
        sigs[n - 200 + t] = v.view(np.int64)[0]
    ids = np.arange(n)
    df = spark.createDataFrame(pd.DataFrame({"sid": ids, "sig": sigs}))
    u = sigs.view(np.uint64)
    for h in (2, 4):
        got = ded.hamming_band_pairs(df, "sig", "sid",
                                     max_hamming=h).toPandas()
        got_set = {(r.id_a, r.id_b, r.hamming) for r in got.itertuples()}
        x = u[:, None] ^ u[None, :]
        hd = np.zeros(x.shape, np.uint64)
        for s in range(64):
            hd += (x >> np.uint64(s)) & np.uint64(1)
        ii, jj = np.nonzero((hd <= h) & (ids[:, None] < ids[None, :]))
        want = {(int(i), int(j), int(hd[i, j])) for i, j in zip(ii, jj)}
        assert got_set == want and len(want) > 100, (h, len(want))


def test_minhash_cross_pairs_asymmetric(spark):
    """The ingest-time probe (both band tables from
    minhash_band_table, then minhash_probe_pairs — the
    docs_incremental_dedup composition) must (a) find every
    batch->corpus near-dup the symmetric self-join finds, (b) never
    emit batch x batch or corpus x corpus pairs, and (c) orient
    output as (batch id, corpus id)."""
    import pandas as pd
    from geographiclib_go_spark.operators import dedup as ded

    base = ("the quick brown fox jumps over the lazy dog while the "
            "cat watches from the warm windowsill in the afternoon ")
    docs = []
    # corpus: 20 distinct docs; batch: near-dups of some, plus novel
    for i in range(20):
        docs.append((i, "corpus", base + f"corpus tail {i} " * 3))
    docs.append((100, "batch", base + "corpus tail 3 " * 3))   # exact
    docs.append((101, "batch", base + "corpus tail 5 " * 3 + "x"))
    docs.append((102, "batch", "completely different text about "
                               "spark partitions and shuffles " * 4))
    # two batch docs that are near-dups of EACH OTHER but nothing in
    # the corpus: must NOT pair
    docs.append((103, "batch", "zebra yak xylophone wombat " * 12))
    docs.append((104, "batch", "zebra yak xylophone wombat " * 12))
    df = spark.createDataFrame(
        pd.DataFrame(docs, columns=["doc_id", "side", "text"]))
    batch = df.filter(df.side == "batch")
    corpus = df.filter(df.side == "corpus")
    got = ded.minhash_probe_pairs(
        ded.minhash_band_table(batch, num_hashes=64, bands=8),
        ded.minhash_band_table(corpus, num_hashes=64, bands=8),
        batch, corpus, threshold=0.8).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in got}
    assert (100, 3) in pairs                 # exact text -> jaccard 1
    assert (101, 5) in pairs                 # near-dup found
    assert all(a >= 100 and b < 100 for a, b in pairs)  # orientation
    assert not any(a in (103, 104) for a, _ in pairs)   # intra-batch
    assert not any(b in (103, 104) for _, b in pairs)
    for r in got:
        if r["id_a"] == 100 and r["id_b"] == 3:
            assert r["jaccard"] == 1.0


def test_bruteforce_oracle_twins_capped(spark):
    """VERDICT r3 item 3: the declared-O(n^2) oracle twins must raise
    past BRUTE_FORCE_MAX_ROWS instead of silently launching a
    quadratic job; the guard itself is a limit-probe count."""
    import pytest
    from pyspark.sql import functions as F
    from geographiclib_go_spark.operators import similarity as sim

    big = (spark.range(sim.BRUTE_FORCE_MAX_ROWS + 1)
           .select(F.col("id").alias("vec_id"),
                   F.array(F.lit(1.0), F.lit(0.0)).alias("embedding")))
    q = spark.createDataFrame([(1, [1.0, 0.0])],
                              "qid long, embedding array<double>")
    with pytest.raises(ValueError, match="fixture-sized oracle"):
        sim.cosine_topk_bruteforce(big, q, k=1)
    with pytest.raises(ValueError, match="fixture-sized oracle"):
        sim.assert_fixture_sized(big, "emb_similar_pairs")


def test_incremental_dedup_probes_persisted_corpus_index(
        spark, tmp_path, monkeypatch):
    """VERDICT r3 item 2: the corpus LSH band table is a write-once
    lineage snapshot; a rerun must (a) NOT recompute corpus
    signatures (minhash_band_table runs only for the batch side),
    (b) keep exactly one committed snapshot, and (c) return the
    identical classification."""
    from geographiclib_go_spark import queries as Q
    from geographiclib_go_spark.plans import lineage as lin

    monkeypatch.setenv("SPARK_GRAFT_STORE", str(tmp_path))
    sf = "/root/testdata/sf0.001"

    calls = []
    real = ded.minhash_band_table

    def spy(docs, *a, **kw):
        calls.append(1)
        return real(docs, *a, **kw)

    monkeypatch.setattr(ded, "minhash_band_table", spy)

    first = Q.docs_incremental_dedup(spark, sf).collect()
    n_first = len(calls)          # corpus build + batch probe
    assert n_first == 2
    hist1 = lin.snapshot_history(str(tmp_path), "incdedup_corpus_bands")
    assert len(hist1) == 1

    second = Q.docs_incremental_dedup(spark, sf).collect()
    assert len(calls) - n_first == 1   # batch side only: resume hit
    hist2 = lin.snapshot_history(str(tmp_path), "incdedup_corpus_bands")
    assert len(hist2) == 1 and hist2[0]["version"] == hist1[0]["version"]
    assert first == second


def test_ivf_index_is_persisted_and_probed(spark, tmp_path, monkeypatch):
    """emb_ivf_topk writes the cluster-partitioned IVF index once per
    corpus fingerprint (lineage snapshot) and probes the committed
    parquet on reruns: second call must not re-run ivf_index, must
    keep one snapshot version, and must return identical rows."""
    from geographiclib_go_spark import queries as Q
    from geographiclib_go_spark.plans import lineage as lin

    monkeypatch.setenv("SPARK_GRAFT_STORE", str(tmp_path))
    sf = "/root/testdata/sf0.001"

    calls = []
    real = sim.ivf_index

    def spy(corpus, *a, **kw):
        calls.append(1)
        return real(corpus, *a, **kw)

    monkeypatch.setattr(sim, "ivf_index", spy)

    first = Q.emb_ivf_topk(spark, sf).collect()
    assert calls == [1]
    hist1 = lin.snapshot_history(str(tmp_path), "ivf_index_embeddings")
    assert len(hist1) == 1
    # the snapshot is physically partitioned by cluster (probe-pruned)
    import os as _os
    data = _os.path.join(str(tmp_path), "ivf_index_embeddings",
                         "snapshots", "v00001", "data")
    assert any(d.startswith("cluster=") for d in _os.listdir(data))

    second = Q.emb_ivf_topk(spark, sf).collect()
    assert calls == [1]          # resume: no index recompute
    hist2 = lin.snapshot_history(str(tmp_path), "ivf_index_embeddings")
    assert len(hist2) == 1 and hist2[0]["version"] == hist1[0]["version"]
    assert first == second


def test_image_tiles_fixture_matches_spark_kernel(spark, tmp_path):
    """The committed (image_id, tile_id) fixture must equal BOTH a
    fresh numpy rebuild (latlon_for_ids -> cell_from_latlon) and the
    distributed generate -> assign_tiles chain the
    tile_image_brightness query actually runs."""
    import importlib.util
    import os

    import pyarrow.parquet as pq
    from geographiclib_go_spark.operators import tiling
    from geographiclib_go_spark.sources import images as im

    n = 1200
    got = (tiling.assign_tiles(im.generate_images(spark, n), 6)
           .select("image_id", "tile_id").toPandas()
           .sort_values("image_id").reset_index(drop=True))

    _spec = importlib.util.spec_from_file_location(
        "build_fixtures", os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "scripts", "build_fixtures.py"))
    bf = importlib.util.module_from_spec(_spec)
    _spec.loader.exec_module(bf)
    fresh = pq.read_table(
        bf.build_images_tiles(n, out_dir=str(tmp_path))).to_pandas()
    com = pq.read_table(os.path.join(
        bf.FIXTURE_DIR, "images_tiles.parquet")).to_pandas().head(n)
    assert np.array_equal(got.tile_id.to_numpy(),
                          fresh.tile_id.to_numpy())
    for col in ("image_id", "tile_id"):
        assert np.array_equal(fresh[col].to_numpy(),
                              com[col].to_numpy()), col


def test_image_zones_fixture_matches_spark_pip(spark, tmp_path):
    """The committed (image_id, zone_id) memberships must equal BOTH a
    fresh numpy rebuild (southward-ray even-odd, which itself asserts
    agreement with the northward-ray pip kernel at build time) and the
    distributed generate -> pip_join chain the image_zonal_stats query
    actually runs."""
    import importlib.util
    import os

    import pyarrow.parquet as pq
    from geographiclib_go_spark.operators import spatial_join as sj
    from geographiclib_go_spark.sources import images as im

    n = 1200
    got = (sj.pip_join(im.generate_images(spark, n), im.IMAGE_ZONES,
                       res=4)
           .select("image_id", F.col("poly_id").cast("long")
                   .alias("zone_id"))
           .toPandas().sort_values(["zone_id", "image_id"])
           .reset_index(drop=True))

    _spec = importlib.util.spec_from_file_location(
        "build_fixtures", os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "scripts", "build_fixtures.py"))
    bf = importlib.util.module_from_spec(_spec)
    _spec.loader.exec_module(bf)
    fresh = pq.read_table(bf.build_images_zones(
        n, out_dir=str(tmp_path))).to_pandas() \
        .sort_values(["zone_id", "image_id"]).reset_index(drop=True)
    com = pq.read_table(os.path.join(
        bf.FIXTURE_DIR, "images_zones.parquet")).to_pandas()
    com = com[com.image_id < f"img_{n:012d}"] \
        .sort_values(["zone_id", "image_id"]).reset_index(drop=True)

    assert len(got) == len(fresh) == len(com) > 0
    for col in ("image_id", "zone_id"):
        assert np.array_equal(got[col].to_numpy(), fresh[col].to_numpy())
        assert np.array_equal(fresh[col].to_numpy(), com[col].to_numpy())


def test_ngram_jaccard_prefix_filter_equals_bruteforce(spark, docs_df):
    """The prefix-filtered exact-Jaccard join emits exactly the pairs
    an exhaustive all-pairs set comparison finds — prefix filtering
    is lossless (the same claim the DuckDB oracle checks with its
    filterless shared-shingle join)."""
    from geographiclib_go_spark.operators import sketch_hash as sk

    got = {(r.id_a, r.id_b): (r.n_inter, r.n_union)
           for r in ded.ngram_jaccard_pairs(docs_df, shingle=5,
                                            tau100=60).collect()}
    pdf = docs_df.orderBy("doc_id").toPandas()
    _h1, hw, offs = sk.shingle_sets(pdf["text"].tolist(), 5)
    sets = [set(hw[offs[i]:offs[i + 1]].tolist())
            for i in range(offs.size - 1)]
    want = {}
    for a in range(len(sets)):
        for b in range(a + 1, len(sets)):
            inter = len(sets[a] & sets[b])
            union = len(sets[a]) + len(sets[b]) - inter
            if 100 * inter >= 60 * union:
                want[(int(pdf.doc_id[a]), int(pdf.doc_id[b]))] = \
                    (inter, union)
    assert got == want
    # the planted exact dups are found with Jaccard exactly 1
    assert got[(0, 10)][0] == got[(0, 10)][1]
    assert got[(1, 11)][0] == got[(1, 11)][1]


def test_ngram_jaccard_short_doc_sentinel(spark):
    """Documents shorter than the shingle width carry the {0} sentinel
    set: two short docs are mutual duplicates (J=1), a short and a
    long doc are not — the same convention as minhash_sigs."""
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3],
                      "text": ["ab", "xy",
                               "a much longer document body here"]}))
    got = {(r.id_a, r.id_b): (r.n_inter, r.n_union)
           for r in ded.ngram_jaccard_pairs(df).collect()}
    assert got == {(1, 2): (1, 1)}


def test_images_placements_fixture_matches_spark_generator(spark,
                                                           tmp_path):
    """The committed (image_id, lat, lon) placement fixture must
    equal BOTH a fresh numpy rebuild (phash_for_ids ->
    latlon_for_ids) and — bit for bit — the distributed generator's
    placement columns (the corridor-join oracle trusts these
    doubles: queries.route_corridor_images)."""
    import importlib.util
    import os

    import pyarrow.parquet as pq
    from geographiclib_go_spark.sources import images as im

    n = 1200
    got = (im.generate_image_index(spark, n)
           .select("image_id", "lat", "lon").toPandas()
           .sort_values("image_id").reset_index(drop=True))

    _spec = importlib.util.spec_from_file_location(
        "build_fixtures", os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "scripts", "build_fixtures.py"))
    bf = importlib.util.module_from_spec(_spec)
    _spec.loader.exec_module(bf)
    fresh = pq.read_table(
        bf.build_images_placements(n, out_dir=str(tmp_path))).to_pandas()
    com = pq.read_table(os.path.join(
        bf.FIXTURE_DIR, "images_placements.parquet")).to_pandas().head(n)
    for col in ("lat", "lon"):
        assert np.array_equal(got[col].to_numpy(),
                              fresh[col].to_numpy()), col
        assert np.array_equal(fresh[col].to_numpy(),
                              com[col].to_numpy()), col
    assert list(fresh.image_id) == list(com.image_id)


def test_emb_quality_gate_matches_numpy(spark, sf_dir):
    import numpy as np
    from geographiclib_go_spark.operators import similarity as sim
    pdf = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .select("label", "embedding").toPandas())
    unit = sim.QGATE_SCALE * sim.QGATE_SCALE
    want = {}
    for _, r in pdf.iterrows():
        x = np.asarray(r.embedding, dtype=np.float64) * sim.QGATE_SCALE
        # Spark round() / DuckDB ROUND: half away from zero (np.rint
        # would tie to even)
        q = np.copysign(np.floor(np.abs(x) + 0.5), x).astype(np.int64)
        n2 = int((q * q).sum())
        qmax = int(np.abs(q).max())
        st = want.setdefault(int(r.label),
                             [0, 0, 0, None, None, 0])
        st[0] += 1
        st[1] += int(abs(n2 - unit) <= sim.QGATE_NORM_TOL)
        st[2] += int(qmax >= sim.QGATE_SPIKE)
        st[3] = n2 if st[3] is None else min(st[3], n2)
        st[4] = n2 if st[4] is None else max(st[4], n2)
        st[5] = max(st[5], qmax)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = {r["label"]: [r["n_vecs"], r["n_norm_ok"], r["n_spiky"],
                        r["min_n2"], r["max_n2"], r["max_qabs"]]
           for r in sim.quality_gate(emb).collect()}
    assert got == want


def test_streaming_vector_qa_matches_batch(spark, tmp_path):
    """streaming_vector_qa_events over micro-batched arrivals must
    make the same per-vector decisions the batch emb_quality_gate
    aggregates (cross-checked against the numpy quantizer)."""
    import numpy as np
    from geographiclib_go_spark.operators import similarity as sim
    from geographiclib_go_spark.streaming import polygon_stream as ps

    sf = "/root/testdata/sf0.001"
    pdf = (spark.read.parquet(f"{sf}/embeddings.parquet")
           .select("vec_id", "embedding").toPandas())
    unit = sim.QGATE_SCALE * sim.QGATE_SCALE
    want = {}
    for _, r in pdf.iterrows():
        x = np.asarray(r.embedding, dtype=np.float64) * sim.QGATE_SCALE
        q = np.copysign(np.floor(np.abs(x) + 0.5), x).astype(np.int64)
        n2 = int((q * q).sum())
        qmax = int(np.abs(q).max())
        want[int(r.vec_id)] = (n2, qmax,
                               abs(n2 - unit) <= sim.QGATE_NORM_TOL,
                               qmax >= sim.QGATE_SPIKE)

    src = tmp_path / "arrivals"
    src.mkdir()
    half = len(pdf) // 2
    emb = spark.read.parquet(f"{sf}/embeddings.parquet") \
        .select("vec_id", "embedding")
    emb.filter(f"vec_id < {half}").coalesce(1).write.parquet(
        str(src / "b0"))
    emb.filter(f"vec_id >= {half}").coalesce(1).write.parquet(
        str(src / "b1"))
    stream = (spark.readStream
              .schema("vec_id long, embedding array<float>")
              .option("maxFilesPerTrigger", 1).parquet(str(src / "*")))
    out = ps.streaming_vector_qa_events(stream)
    q = (out.writeStream.format("memory").queryName("vec_qa")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        ev = spark.sql("SELECT * FROM vec_qa").toPandas()
    finally:
        q.stop()
    got = {int(r.vec_id): (int(r.n2), int(r.qmax), bool(r.norm_ok),
                           bool(r.spiky))
           for _, r in ev.iterrows()}
    assert got == want
