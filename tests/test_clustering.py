"""Geodesic DBSCAN vs a driver-side brute-force reference on random
point sets, plus role-semantics and determinism checks."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geographiclib_go_spark.operators import clustering as cl
from geographiclib_go_spark.operators import nearest as nn

SPHERE_A = 6371000.0


def _ref_dbscan(ids, lat, lon, eps_m, min_pts):
    """Brute-force reference: numpy haversine + union-find."""
    la, lo = np.radians(lat), np.radians(lon)
    d = 2 * SPHERE_A * np.arcsin(np.sqrt(
        np.sin((la[:, None] - la[None, :]) / 2) ** 2
        + np.cos(la[:, None]) * np.cos(la[None, :])
        * np.sin((lo[:, None] - lo[None, :]) / 2) ** 2))
    within = d <= eps_m
    core = within.sum(1) >= min_pts  # self included
    parent = {int(i): int(i) for i in ids[core]}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    ci = np.where(core)[0]
    for i in ci:
        for j in ci:
            if within[i, j]:
                ra, rb = find(int(ids[i])), find(int(ids[j]))
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    clab = {x: find(x) for x in parent}
    # canonicalize to component min
    cmin = {}
    for x, r in clab.items():
        cmin[r] = min(cmin.get(r, x), x)
    clab = {x: cmin[r] for x, r in clab.items()}
    out = {}
    for i, pid in enumerate(ids):
        pid = int(pid)
        if core[i]:
            out[pid] = ("core", clab[pid])
        else:
            nbr = [clab[int(ids[j])] for j in np.where(within[i])[0]
                   if core[j]]
            if nbr:
                out[pid] = ("border", min(nbr))
            else:
                out[pid] = ("noise", None)
    return out


def _run(spark, ids, lat, lon, eps_m, min_pts):
    df = spark.createDataFrame(
        [(int(i), float(la), float(lo))
         for i, la, lo in zip(ids, lat, lon)],
        "id long, lat double, lon double")
    got = cl.dbscan(df, eps_m, min_pts, id_col="id",
                    a=SPHERE_A, f=0.0)
    return {int(r["id"]):
            (r["role"],
             None if r["cluster_id"] is None else int(r["cluster_id"]))
            for r in got.collect()}


def _clear_eps(lat, lon, target_m):
    """An eps near target with guaranteed clearance: the midpoint of
    the two consecutive sorted pair distances straddling it."""
    la, lo = np.radians(lat), np.radians(lon)
    d = 2 * SPHERE_A * np.arcsin(np.sqrt(
        np.sin((la[:, None] - la[None, :]) / 2) ** 2
        + np.cos(la[:, None]) * np.cos(la[None, :])
        * np.sin((lo[:, None] - lo[None, :]) / 2) ** 2))
    flat = np.sort(np.unique(d[np.triu_indices(len(lat), 1)]))
    k = int(np.searchsorted(flat, target_m))
    if k == 0:
        return target_m
    if k >= flat.size:
        return flat[-1] + 1.0
    return float((flat[k - 1] + flat[k]) / 2)


def test_random_points_match_reference(spark):
    rng = np.random.default_rng(11)
    for trial in range(3):
        n = 60
        ids = rng.choice(100_000, size=n, replace=False)
        lat = rng.uniform(-65, 65, n)
        lon = rng.uniform(-179, 179, n)
        eps = _clear_eps(lat, lon, 2_000_000.0)
        want = _ref_dbscan(ids, lat, lon, eps, 4)
        got = _run(spark, ids, lat, lon, eps, 4)
        assert got == want


def test_role_semantics_constructed(spark):
    # dense blob of 4 (mutually within eps), one border point within
    # eps of exactly one blob member, one far noise point
    ids = [10, 11, 12, 13, 50, 99]
    lat = [0.0, 0.05, 0.0, 0.05, 0.0, 40.0]
    lon = [0.0, 0.0, 0.05, 0.05, 0.14, 120.0]
    # blob spacing ~5.6-7.9 km; border at ~10-15.6 km from blob
    got = _run(spark, np.array(ids), np.array(lat), np.array(lon),
               eps_m=12_000.0, min_pts=4)
    assert got[10] == ("core", 10)
    assert got[11] == ("core", 10)
    assert got[12] == ("core", 10)
    assert got[13] == ("core", 10)
    assert got[50] == ("border", 10)   # within eps of 12 only
    assert got[99] == ("noise", None)


def test_all_noise_when_sparse(spark):
    ids = np.array([1, 2, 3])
    lat = np.array([0.0, 30.0, -30.0])
    lon = np.array([0.0, 60.0, -60.0])
    got = _run(spark, ids, lat, lon, eps_m=1000.0, min_pts=2)
    assert got == {1: ("noise", None), 2: ("noise", None),
                   3: ("noise", None)}


def test_repartition_invariance(spark):
    rng = np.random.default_rng(5)
    n = 40
    ids = rng.choice(10_000, size=n, replace=False)
    lat = rng.uniform(-60, 60, n)
    lon = rng.uniform(-179, 179, n)
    eps = _clear_eps(lat, lon, 3_000_000.0)
    df = spark.createDataFrame(
        [(int(i), float(la), float(lo))
         for i, la, lo in zip(ids, lat, lon)],
        "id long, lat double, lon double")
    a = cl.dbscan(df, eps, 3, id_col="id", a=SPHERE_A, f=0.0)
    b = cl.dbscan(df.repartition(7, "lon"), eps, 3, id_col="id",
                  a=SPHERE_A, f=0.0)
    rows = lambda x: sorted((int(r["id"]), r["role"], r["cluster_id"])
                            for r in x.collect())
    assert rows(a) == rows(b)


def test_query_role_mix_at_gate_sf(spark):
    """The registered planted-cluster query has a non-trivial
    core/border/noise mix at the driver's gate scale."""
    import os
    from geographiclib_go_spark import queries as Q
    gate = "/root/testdata/sf0.01"
    if not os.path.isdir(gate):
        pytest.skip("gate-sf testdata absent")
    out = Q.pts_dbscan(spark, gate)
    mix = {r["role"]: r["n"] for r in
           out.groupBy("role").agg(F.count("*").alias("n")).collect()}
    assert mix["core"] == 1367
    assert mix["border"] == 9
    assert mix["noise"] == 124
    # noise rows carry the -1 sentinel
    assert (out.filter((F.col("role") == "noise")
                       & (F.col("cluster_id") != -1)).count() == 0)


def test_cover_strategy_matches_scan(spark, monkeypatch):
    """The eps-adaptive symmetric celled self-join (eps_self_edges,
    VERDICT r3 item 5) must produce the identical clustering as the
    closure-scan strategy on the same input."""
    rng = np.random.default_rng(17)
    for trial, target in ((0, 500_000.0), (1, 2_000_000.0)):
        n = 80
        ids = rng.choice(100_000, size=n, replace=False)
        lat = rng.uniform(-65, 65, n)
        lon = rng.uniform(-179, 179, n)
        eps = _clear_eps(lat, lon, target)
        got_scan = _run(spark, ids, lat, lon, eps, 3)
        with monkeypatch.context() as m:
            m.setattr(nn, "SCAN_MAX_QUERIES", 0)  # force the cover
            got_cover = _run(spark, ids, lat, lon, eps, 3)
        assert got_cover == got_scan
