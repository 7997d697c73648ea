"""Connected-components (large/small-star) vs a driver-side
union-find on random and adversarial graphs, plus the dedup-cluster
composition the registered queries use."""

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from geographiclib_go_spark.operators import components as cc


def _union_find(n_nodes, edges):
    """Reference labeling: component id = min node id (plain DSU)."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    return {x: find(x) for x in list(parent)}


def _labels(df):
    return {int(r["id"]): int(r["component_id"]) for r in df.collect()}


def _check(spark, edges):
    """Both paths must equal the union-find reference (so the
    single-task numpy closure and the distributed star alternation
    are parity-tested against each other on every graph here)."""
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    out, rounds = cc.connected_components(df, with_stats=True)
    assert rounds == 0  # local closure
    got = _labels(out)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(cc, "LOCAL_MAX_EDGES", 0)  # star alternation
        got_star = _labels(cc.connected_components(df))
    want = _union_find(None, edges)
    # canonicalize union-find roots to the component minimum
    comp_min = {}
    for x, r in want.items():
        comp_min[r] = min(comp_min.get(r, x), x)
    want = {x: comp_min[r] for x, r in want.items()}
    assert got == want
    assert got_star == want
    return got


def test_simple_merge(spark):
    # A~B, B~C, D~E: two clusters {1,2,3} and {7,8}
    got = _check(spark, [(1, 2), (2, 3), (7, 8)])
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}


def test_duplicate_and_reversed_pairs(spark):
    got = _check(spark, [(2, 1), (1, 2), (2, 3), (3, 1)])
    assert set(got.values()) == {1}


def test_long_path_converges_in_log_rounds(spark, monkeypatch):
    # worst-case diameter: a 400-node path; large/small-star must
    # land the single min label in O(log n) alternations, not O(n)
    edges = [(i, i + 1) for i in range(400)]
    random.Random(7).shuffle(edges)
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    monkeypatch.setattr(cc, "LOCAL_MAX_EDGES", 0)
    out, rounds = cc.connected_components(df, with_stats=True)
    got = _labels(out)
    want = _union_find(None, edges)
    assert set(got.values()) == {0}
    assert len(got) == 401
    assert len(want) == 401
    assert rounds <= 14, rounds


def test_random_graphs_match_union_find(spark):
    rng = random.Random(42)
    for trial in range(3):
        nodes = rng.sample(range(10_000), 120)
        edges = [(rng.choice(nodes), rng.choice(nodes))
                 for _ in range(90)]
        edges = [(a, b) for a, b in edges if a != b]
        _check(spark, edges)


def test_singletons_not_emitted_and_empty_input(spark):
    df = spark.createDataFrame([(5, 5)], "id_a long, id_b long")
    out = cc.connected_components(df)
    assert out.count() == 0
    assert out.columns == ["id", "component_id"]


def test_nonconvergence_raises(spark, monkeypatch):
    df = spark.createDataFrame([(i, i + 1) for i in range(64)],
                               "id_a long, id_b long")
    monkeypatch.setattr(cc, "LOCAL_MAX_EDGES", 0)
    monkeypatch.setattr(cc, "MAX_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="did not converge"):
        cc.connected_components(df)


def test_auto_dispatches_by_edge_count(spark, monkeypatch):
    """local below LOCAL_MAX_EDGES, star above it; identical labels
    either way."""
    edges = [(i, i + 1) for i in range(50)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    out, rounds = cc.connected_components(df, with_stats=True)
    assert rounds == 0  # local path
    monkeypatch.setattr(cc, "LOCAL_MAX_EDGES", 10)
    out2, rounds2 = cc.connected_components(df, with_stats=True)
    assert rounds2 >= 1  # forced onto the star path
    assert _labels(out) == _labels(out2)


def test_image_dup_components_consistent_with_pairs(spark, sf_dir):
    """Every pair's endpoints share a label; labels are component
    minima; cluster image counts tie out to the full table."""
    from geographiclib_go_spark import queries as Q
    from geographiclib_go_spark.operators import dedup as ded
    from geographiclib_go_spark.sources import images as im

    out = Q.image_dup_components(spark, sf_dir)
    rows = out.collect()
    n_total = sum(int(r["n_images"]) for r in rows)
    assert n_total == Q._IMG_QUERY_N
    # labels of paired phashes agree
    imgs = im.generate_image_index(spark, Q._IMG_QUERY_N)
    sigs = imgs.select("phash").distinct()
    pairs = ded.hamming_band_pairs(sigs, sig_col="phash",
                                   id_col="phash", max_hamming=4)
    lab = _labels(cc.connected_components(pairs))
    for p in pairs.collect():
        assert lab[int(p["id_a"])] == lab[int(p["id_b"])]
    for node, label in lab.items():
        assert label <= node
        assert lab[label] == label


def test_image_near_dup_keep_best_vs_union_find(spark, sf_dir):
    """Independent python union-find + argmax over the pinned fixtures
    must reproduce every (cluster, survivor) the distributed
    min(struct) aggregation picks."""
    import numpy as np
    import pandas as pd
    from geographiclib_go_spark import queries as Q

    fix = Q._FIXTURE_DIR
    ph = pd.read_parquet(f"{fix}/images_phash.parquet")
    inv = pd.read_parquet(f"{fix}/images_invariants.parquet")
    npx = dict(zip(inv.image_id, inv.n_px))

    sig = np.unique(ph.phash.to_numpy(np.int64))
    parent = {int(s): int(s) for s in sig}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    xor = sig[:, None] ^ sig[None, :]
    # popcount via uint8 view + unpackbits (vectorized)
    u8 = xor.astype(np.uint64).view(np.uint8).reshape(len(sig),
                                                      len(sig), 8)
    hd = np.unpackbits(u8, axis=2).sum(axis=2)
    ia, ib = np.where((hd <= 4) & (sig[:, None] < sig[None, :]))
    for a, b in zip(sig[ia], sig[ib]):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min-label convention: canonical = min member
    want = {}
    for _, r in ph.iterrows():
        cid = find(int(r.phash))
        st = want.setdefault(cid, [0, None])
        st[0] += 1
        key = (-npx[r.image_id], r.image_id)
        if st[1] is None or key < st[1]:
            st[1] = key
    got = {int(r["component_id"]):
           [int(r["n_images"]), (-int(r["best_npx"]), r["best_id"])]
           for r in Q.image_near_dup_keep_best(spark, sf_dir).collect()}
    assert got == want


def _phash_nodes(seed):
    """Distinct signed 64-bit phashes: random singletons, near-dup
    chains (1-2 bit flips), and one SKEWED chunk bucket (260 phashes
    whose low 12-bit chunk is 0).  Partners at Hamming distance
    exactly 4, one flip in each of the four other 12-bit chunks,
    share ONE chunk with their base, so only that bucket can pair
    them: skewed-bucket members (the bucket's largest phash among
    them, the last position of its sorted run) and random bases.
    Plus one null phash.  Returns (image_id, phash) rows."""
    rng = np.random.default_rng(seed)

    def flip(x, bits):
        for b in bits:
            x ^= np.int64(1) << np.int64(int(b))
        return x

    def one_chunk_partner(x, keep):
        return flip(x, [12 * c + rng.integers(12)
                        for c in range(5) if c != keep])

    vals = list(rng.integers(-2**63, 2**63 - 1, size=80, dtype=np.int64))
    skew = sorted(rng.integers(-2**63, 2**63 - 1, size=260,
                               dtype=np.int64) & np.int64(~0xFFF))
    for x in vals[:20]:  # chains: x -> x' -> x''
        for _ in range(2):
            x = flip(x, rng.choice(64, size=int(rng.integers(1, 3)),
                                   replace=False))
            vals.append(x)
    for i, x in enumerate(vals[20:40]):
        vals.append(one_chunk_partner(x, keep=1 + i % 4))
    picks = [skew[-1]] + list(rng.choice(skew[:-1], size=39, replace=False))
    vals += skew + [one_chunk_partner(x, keep=0) for x in picks]
    vals = sorted({int(v) for v in vals})
    rows = [(i, v) for i, v in enumerate(vals)]
    rows.append((len(rows), None))
    return rows


def _phash_reference(rows):
    """{image_id: cid}: brute-force Hamming <= PHASH_MAX_HAMMING pairs
    -> union-find, cid = min phash of the cluster, null stays null."""
    from geographiclib_go_spark.operators import dedup as ded
    vals = [v for _, v in rows if v is not None]
    edges = [(a, b) for i, a in enumerate(vals) for b in vals[i + 1:]
             if bin((a ^ b) & (2**64 - 1)).count("1")
             <= ded.PHASH_MAX_HAMMING]
    root = _union_find(None, edges)
    comp_min = {}
    for x, r in root.items():
        comp_min[r] = min(comp_min.get(r, x), x)
    return {i: (None if v is None else comp_min.get(root.get(v), v))
            for i, v in rows}


@pytest.mark.parametrize("seed", [0, 1])
def test_phash_clusters_single_task_matches_distributed(
        spark, tmp_path, monkeypatch, seed):
    """The single-task near-dup clustering (parquet input under
    LOCAL_MAX_NODES) and the distributed band join + components both
    equal a union-find reference, on phash sets with a skewed chunk
    bucket and a null phash."""
    from geographiclib_go_spark.operators import dedup as ded
    rows = _phash_nodes(seed)
    path = str(tmp_path / "nodes")
    spark.createDataFrame(rows, "image_id long, phash long") \
        .write.parquet(path)
    nodes = spark.read.parquet(path)
    want = _phash_reference(rows)
    assert len(set(want.values())) < len(rows) - 20  # real clusters

    def labels(df):
        return {r["image_id"]: r["cid"] for r in df.collect()}

    local = ded.phash_clusters(nodes)
    plan = local._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan and "Join" not in plan, plan
    assert local.columns == ["image_id", "phash", "cid"]
    assert labels(local) == want
    monkeypatch.setattr(ded, "LOCAL_MAX_NODES", len(rows) - 1)
    dist = ded.phash_clusters(nodes)
    assert "MapInArrow" not in \
        dist._jdf.queryExecution().executedPlan().toString()
    assert labels(dist) == want


def test_clean_pipeline_on_parquet_clusters_in_one_task(
        spark, sf_dir, tmp_path, monkeypatch):
    """images_clean_pipeline's chain over a parquet copy of its image
    index: the footer bound sends phash_clusters down the single-task
    path (as in the pipeline's dedup_split stage), corpus_split gives
    the same rows on the distributed path, and the per-split summary
    equals the query's DuckDB oracle."""
    import __spark_entry__ as ent
    from scripts.oracle_check import duck_views, mismatch
    from geographiclib_go_spark import queries as Q
    from geographiclib_go_spark.operators import dedup as ded
    from geographiclib_go_spark.sources import images as im
    path = str(tmp_path / "images")
    im.generate_image_index(spark, Q._IMG_QUERY_N) \
        .select("image_id", "phash").write.parquet(path)
    imgs = spark.read.parquet(path)

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    local = ded.corpus_split(imgs)
    assert "MapInArrow" in plan(local)
    local_rows = sorted(map(tuple, local.collect()))
    summary = Q._clean_split_summary(imgs).toPandas()
    monkeypatch.setattr(ded, "LOCAL_MAX_NODES", 0)
    dist = ded.corpus_split(imgs)
    assert "MapInArrow" not in plan(dist)
    assert sorted(map(tuple, dist.collect())) == local_rows

    con = duck_views(sf_dir)
    try:
        want = con.sql(ent.oracle_sql()["images_clean_pipeline"]).df()
    finally:
        con.close()
    problem = mismatch(summary, want)
    assert problem is None, problem
