"""Connected-components (large/small-star) vs a driver-side
union-find on random and adversarial graphs, plus the dedup-cluster
composition the registered queries use."""

import random

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
