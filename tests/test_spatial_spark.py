"""End-to-end Spark spatial operators vs brute-force oracles on small
data: distance join, kNN join, PIP join, tiling/salting, distributed
polygon aggregation, and the images source invariants."""

import math

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from geographiclib_go_spark.kernels import caps as C
from geographiclib_go_spark.kernels import inverse as kinverse
from geographiclib_go_spark.kernels.geodesic import wgs84_model
from geographiclib_go_spark.operators import nearest as nn
from geographiclib_go_spark.operators import spatial_join as sj
from geographiclib_go_spark.operators import tiling
from geographiclib_go_spark.operators import pip as kpip
from geographiclib_go_spark.sources import images as im

G = wgs84_model()
RNG = np.random.default_rng(5)


def _points_pdf(n, seed=5):
    rng = np.random.default_rng(seed)
    return pd.DataFrame({
        "pid": np.arange(n),
        "lat": np.degrees(np.arcsin(rng.uniform(-1, 1, n))),
        "lon": rng.uniform(-180, 180, n),
    })


@pytest.fixture(scope="module")
def points_df(spark):
    return spark.createDataFrame(_points_pdf(4000)).cache()


@pytest.fixture(scope="module")
def queries_pdf():
    rng = np.random.default_rng(17)
    q = pd.DataFrame({
        "qid": np.arange(25),
        "lat": np.degrees(np.arcsin(rng.uniform(-1, 1, 25))),
        "lon": rng.uniform(-180, 180, 25),
    })
    # adversarial probes: poles + dateline
    q.loc[0, ["lat", "lon"]] = (89.99, 10.0)
    q.loc[1, ["lat", "lon"]] = (-89.99, -170.0)
    q.loc[2, ["lat", "lon"]] = (0.0, 179.999)
    return q


def _brute_pairs(qpdf, ppdf, radius):
    out = []
    for _, qr in qpdf.iterrows():
        inv = kinverse.inverse(
            G, np.full(len(ppdf), qr.lat), np.full(len(ppdf), qr.lon),
            ppdf.lat.to_numpy(), ppdf.lon.to_numpy(), C.DISTANCE)
        m = inv["s12"] <= radius
        for pid, s in zip(ppdf.pid.to_numpy()[m], inv["s12"][m]):
            out.append((int(qr.qid), int(pid), float(s)))
    return set((q, p) for q, p, _ in out)


def test_distance_join_matches_brute_force(spark, points_df, queries_pdf):
    radius = 500e3
    qdf = spark.createDataFrame(queries_pdf)
    got = sj.distance_join(points_df, qdf, radius).select(
        "q_qid", "pid", "s12").toPandas()
    got_pairs = set(zip(got.q_qid.astype(int), got.pid.astype(int)))
    want_pairs = _brute_pairs(queries_pdf, _points_pdf(4000), radius)
    assert got_pairs == want_pairs
    # no duplicate pairs from the cover explode
    assert len(got) == len(got_pairs)


def test_knn_join_matches_brute_force(spark, points_df, queries_pdf):
    k = 5
    ppdf = _points_pdf(4000)
    qdf = spark.createDataFrame(queries_pdf)
    got = sj.knn_join(points_df, qdf, k=k, res=4).select(
        "q_qid", "pid", "s12", "rank").toPandas()
    for _, qr in queries_pdf.iterrows():
        inv = kinverse.inverse(
            G, np.full(len(ppdf), qr.lat), np.full(len(ppdf), qr.lon),
            ppdf.lat.to_numpy(), ppdf.lon.to_numpy(), C.DISTANCE)
        order = np.argsort(inv["s12"], kind="stable")[:k]
        want = set(ppdf.pid.to_numpy()[order].tolist())
        sub = got[got.q_qid == qr.qid]
        assert len(sub) == k, f"qid {qr.qid}: got {len(sub)} rows"
        # compare by distance set (ties can reorder ids legitimately)
        want_d = np.sort(inv["s12"][order])
        got_d = np.sort(sub.s12.to_numpy())
        assert np.allclose(got_d, want_d, rtol=0, atol=1e-6), qr.qid


ANTARCTICA = (
    [-63.1, -72.9, -71.9, -74.9, -74.3, -77.5, -77.4, -71.7, -65.9,
     -65.7, -66.6, -66.9, -69.8, -70.0, -71.0, -77.3, -77.9, -74.7],
    [-58, -74, -102, -102, -131, -163, 163, 172, 140, 113, 88, 59, 25,
     -4, -14, -33, -46, -61],
)
POLE_RING_N = ([89.0, 89.0, 89.0, 89.0], [0.0, 90.0, 180.0, 270.0])
BOX_DATELINE = ([10.0, 10.0, -10.0, -10.0], [170.0, -170.0, -170.0, 170.0])


def test_points_in_ring_fixtures():
    # Antarctica contains the S pole region
    assert kpip.points_in_ring([-80.0], [0.0], *ANTARCTICA)[0]
    assert not kpip.points_in_ring([-60.0], [0.0], *ANTARCTICA)[0]
    assert not kpip.points_in_ring([40.0], [10.0], *ANTARCTICA)[0]
    # north pole ring
    assert kpip.points_in_ring([89.5], [45.0], *POLE_RING_N)[0]
    assert not kpip.points_in_ring([88.0], [45.0], *POLE_RING_N)[0]
    # dateline-straddling box
    assert kpip.points_in_ring([0.0], [179.0], *BOX_DATELINE)[0]
    assert kpip.points_in_ring([0.0], [-179.0], *BOX_DATELINE)[0]
    assert not kpip.points_in_ring([0.0], [0.0], *BOX_DATELINE)[0]
    assert not kpip.points_in_ring([20.0], [179.0], *BOX_DATELINE)[0]


def test_pip_join_matches_brute_force(spark, points_df):
    polys = {1: ANTARCTICA, 2: POLE_RING_N, 3: BOX_DATELINE}
    got = sj.pip_join(points_df, polys, res=5).select(
        "poly_id", "pid").toPandas()
    got_pairs = set(zip(got.poly_id.astype(int), got.pid.astype(int)))
    ppdf = _points_pdf(4000)
    want = set()
    for pid_, (la, lo) in polys.items():
        inside = kpip.points_in_ring(ppdf.lat.to_numpy(),
                                     ppdf.lon.to_numpy(), la, lo)
        for p in ppdf.pid.to_numpy()[inside]:
            want.add((pid_, int(p)))
    assert got_pairs == want


def test_polygon_area_agg_spark(spark):
    vr = []
    for i, (la, lo) in enumerate(zip(*ANTARCTICA)):
        vr.append((1, i, float(la), float(lo)))
    for i, (la, lo) in enumerate(zip(*POLE_RING_N)):
        vr.append((2, i, float(la), float(lo)))
    vdf = spark.createDataFrame(vr, "poly_id long, seq int, lat double, lon double")
    got = {r.poly_id: r for r in
           tiling.polygon_area_agg(vdf).collect()}
    assert got[1].perimeter == pytest.approx(16831067.893, abs=1e-3)
    assert got[1].area == pytest.approx(13662703680020.1, abs=1e-1)
    assert got[2].area == pytest.approx(24952305678.0, abs=1)

    # distributed (hi,lo) partial+final path agrees
    got2 = {r.poly_id: r for r in
            tiling.polygon_area_distributed(vdf).collect()}
    assert got2[1].perimeter == pytest.approx(16831067.893, abs=1e-3)
    assert got2[1].area == pytest.approx(13662703680020.1, abs=1e-1)
    assert got2[2].area == pytest.approx(24952305678.0, abs=1)


def test_tile_assignment_deterministic(spark, points_df):
    t1 = tiling.assign_tiles(points_df, 7).select("pid", "tile_id")
    t2 = tiling.assign_tiles(points_df, 7).select("pid", "tile_id")
    assert t1.exceptAll(t2).isEmpty() and t2.exceptAll(t1).isEmpty()


def test_images_source_invariants(spark):
    df = im.generate_images(spark, 500, skew_pct=5).cache()
    rows = df.collect()
    assert len(rows) == 500
    ids = sorted(r.image_id for r in rows)
    assert ids[0] == "img_000000000000"
    by_id = {r.image_id: r for r in rows}
    # determinism: regenerate and compare a sample row exactly
    df2 = im.generate_images(spark, 500, skew_pct=5)
    r2 = {r.image_id: r for r in df2.collect()}
    for iid in list(by_id)[:20]:
        a, b = by_id[iid], r2[iid]
        assert bytes(a.bytes) == bytes(b.bytes)
        assert a.caption == b.caption and a.phash == b.phash
        assert a.lat == b.lat and a.lon == b.lon
    # per-row invariants (input_hint): decode + PSNR + caption equality
    for r in rows[:100]:
        pix = im.decode_image(bytes(r.bytes), r.fmt)
        assert pix.shape == (r.h, r.w, 3)
        if r.fmt == "ppm":
            # lossless: re-encode must be identical
            assert im.ppm_encode(pix) == bytes(r.bytes)
        else:
            # lossy: PSNR vs the deterministic original >= 40 dB
            orig = im._pixels_for(
                np.array([int(r.image_id.split("_")[1])],
                         dtype=np.uint64), r.w, r.h)[0]
            assert im.psnr(orig, pix) >= 40.0
        assert f"({r.lat:.3f},{r.lon:.3f})" in r.caption
    # skew stratum present: some rows inside hot discs
    hot = [r for r in rows
           if any(abs(r.lat - c[0]) <= im.HOT_RADIUS_DEG
                  and abs(r.lon - c[1]) <= im.HOT_RADIUS_DEG
                  for c in im.HOT_CENTERS)]
    assert len(hot) >= 10


def _per_row_invariants(pdf):
    """Reference for decode_invariants: one decode_image parse and one
    pristine regeneration per row."""
    pix_sum, sse = [], []
    for r in pdf.itertuples():
        decoded = im.decode_image(r.bytes, r.fmt).astype(np.int64)
        pristine = im._pixels_for(
            np.array([int(r.image_id.split("_")[1])], np.uint64),
            r.w, r.h)[0].astype(np.int64)
        pix_sum.append(decoded.sum())
        sse.append(((decoded - pristine) ** 2).sum())
    return pix_sum, sse


def test_decode_invariants_batches_match_per_row_decode(spark):
    """The per-size batch sums equal the per-row reference for
    generated rows of both codecs, a non-square image, a flipped pixel
    and a header with a double space; a truncated payload still fails
    the job."""
    pdf = im.generate_images(spark, 200, skew_pct=5).toPandas()

    def pristine(i, w, h):
        return im._pixels_for(np.array([i], np.uint64), w, h)[0]

    flipped = pristine(1001, 16, 16).copy()
    flipped[3, 5, 1] ^= 0x40
    odd = [(1000, im.ppm_encode(pristine(1000, 24, 16)), 24, 16),
           (1001, im.ppm_encode(flipped), 16, 16),
           (1002, b"P6\n16  16\n255\n" + pristine(1002, 16, 16).tobytes(),
            16, 16)]
    extra = pd.DataFrame([{**pdf.iloc[0].to_dict(), "bytes": b,
                           "image_id": f"img_{i:012d}", "w": w, "h": h,
                           "fmt": "ppm"} for i, b, w, h in odd])
    pdf = pd.concat([pdf, extra], ignore_index=True)
    got = (im.decode_invariants(spark.createDataFrame(pdf, im.IMAGES_SCHEMA))
           .toPandas().set_index("image_id").loc[pdf.image_id])
    pix_sum, sse = _per_row_invariants(pdf)
    assert got.pix_sum.tolist() == pix_sum
    assert got.sse.tolist() == sse
    assert got.loc["img_000000001001"].sse == 0x40 ** 2
    assert set(got.fmt) == {"ppm", "jpeg-sim"}

    bad = pdf.iloc[:1].copy()
    bad["bytes"] = [bad.bytes.iloc[0][:-3]]
    with pytest.raises(Exception, match="reshape"):
        im.decode_invariants(
            spark.createDataFrame(bad, im.IMAGES_SCHEMA)).collect()


def test_knn_strategies_agree(spark, points_df, queries_pdf, monkeypatch):
    """scan (single-scan partial top-k) and ring expansion must
    return the same per-query distance sets."""
    k = 3
    qdf = spark.createDataFrame(queries_pdf.head(8))
    a = nn.knn_points_topk(points_df, qdf, k=k).select(
        "q_qid", "pid", "s12").toPandas()
    monkeypatch.setattr(nn, "SCAN_MAX_QUERIES", 0)  # force the ring
    b = sj.knn_join(points_df, qdf, k=k, res=4).select(
        "q_qid", "pid", "s12").toPandas()
    assert len(a) == len(b) == 8 * k
    for qid in a.q_qid.unique():
        da = np.sort(a[a.q_qid == qid].s12.to_numpy())
        db = np.sort(b[b.q_qid == qid].s12.to_numpy())
        np.testing.assert_array_equal(da, db)


def test_distance_strategies_agree(spark, points_df, queries_pdf,
                                   monkeypatch):
    """scan (map-only chord prefilter) and cover (cell equi-join) must
    produce the identical pair set with identical distances."""
    radius = 800e3
    qdf = spark.createDataFrame(queries_pdf)
    a = nn.radius_dim_join(points_df, qdf, radius).select(
        "q_qid", "pid", "s12").toPandas()
    monkeypatch.setattr(nn, "SCAN_MAX_QUERIES", 0)  # force the cover
    b = sj.distance_join(points_df, qdf, radius).select(
        "q_qid", "pid", "s12").toPandas()
    pa = {(r.q_qid, r.pid): r.s12 for r in a.itertuples()}
    pb = {(r.q_qid, r.pid): r.s12 for r in b.itertuples()}
    assert pa.keys() == pb.keys() and len(pa) > 0
    for key in pa:
        assert pa[key] == pb[key]


def test_pip_autoplan_matches_explicit(spark, points_df):
    """pip_join with auto-planned resolution returns the same point
    set as an explicit resolution; planner picks sane levels."""
    polys = {1: ANTARCTICA, 2: BOX_DATELINE}
    r_auto = sj.plan_polygon_res(polys)
    assert 2 <= r_auto <= 12
    # small box alone should plan finer than the Antarctica ring
    assert sj.plan_polygon_res({2: BOX_DATELINE}) >= r_auto
    a = sj.pip_join(points_df, polys).select("poly_id", "pid").toPandas()
    b = sj.pip_join(points_df, polys, res=6).select(
        "poly_id", "pid").toPandas()
    sa = set(zip(a.poly_id, a.pid))
    sb = set(zip(b.poly_id, b.pid))
    assert sa == sb and len(sa) > 0


def test_knn_ring_large_query_side(spark):
    """Ring expansion with a query side far above the scan cutoff
    (50k rows): the driver must never hold per-query state (resolved
    ids live in DataFrames, VERDICT r1 item 2) and results must match
    the closed-form sphere oracle."""
    R = 6371000.0
    n_pts, n_q, k = 1500, 50_000, 3
    rng = np.random.default_rng(11)
    ppdf = pd.DataFrame({
        "pid": np.arange(n_pts),
        "lat": np.degrees(np.arcsin(rng.uniform(-1, 1, n_pts))),
        "lon": rng.uniform(-180, 180, n_pts)})
    qpdf = pd.DataFrame({
        "qid": np.arange(n_q),
        "lat": np.degrees(np.arcsin(rng.uniform(-1, 1, n_q))),
        "lon": rng.uniform(-180, 180, n_q)})
    pts = spark.createDataFrame(ppdf).repartition(8)
    qdf = spark.createDataFrame(qpdf).repartition(8)
    got = sj.knn_join(pts, qdf, k=k, a=R, f=0.0).select(
        "q_qid", "pid", "s12").toPandas()
    assert len(got) == n_q * k
    # closed-form great-circle oracle, chunked matmul
    def unit(lat, lon):
        la, lo = np.radians(lat), np.radians(lon)
        cl = np.cos(la)
        return np.stack([cl * np.cos(lo), cl * np.sin(lo),
                         np.sin(la)], axis=-1)
    pv = unit(ppdf.lat.to_numpy(), ppdf.lon.to_numpy())
    got = got.sort_values(["q_qid", "s12"])
    got_d = got.s12.to_numpy().reshape(n_q, k)
    want_d = np.empty((n_q, k))
    for lo_i in range(0, n_q, 10_000):
        sl = slice(lo_i, lo_i + 10_000)
        qv = unit(qpdf.lat.to_numpy()[sl], qpdf.lon.to_numpy()[sl])
        ang = np.arccos(np.clip(qv @ pv.T, -1, 1))
        want_d[sl] = np.sort(ang, axis=1)[:, :k] * R
    assert np.allclose(got_d, want_d, rtol=0, atol=1e-5)


def test_knn_rejects_duplicate_query_ids(spark, points_df, queries_pdf):
    """kNN output is keyed on qid, so duplicate ids are a semantic
    error in every strategy (ADVICE r1).  The ring path validates
    INSIDE the plan (a per-qid window count + distributed assert — no
    standalone planning job, VERDICT r2 item 4), so its error surfaces
    on action rather than at call time."""
    qdup = pd.concat([queries_pdf.head(6)] * 2, ignore_index=True)
    qdf = spark.createDataFrame(qdup)
    with pytest.raises(Exception, match="unique"):
        sj.knn_join(points_df, qdf, k=2, res=4).collect()
    with pytest.raises(ValueError, match="unique"):
        nn.knn_points_topk(points_df, qdf, k=2)


def test_distance_join_duplicate_ids_fall_back_to_cover(
        spark, points_df, queries_pdf):
    """distance_join auto must not route duplicate-id query sides to
    the scan path (which re-joins on qid); the cover path preserves
    per-row identity, so each duplicated row yields its own pairs."""
    radius = 900e3
    single = spark.createDataFrame(queries_pdf)
    doubled = spark.createDataFrame(
        pd.concat([queries_pdf] * 2, ignore_index=True))
    a = sj.distance_join(points_df, single, radius).select(
        "q_qid", "pid").toPandas()
    b = sj.distance_join(points_df, doubled, radius).select(
        "q_qid", "pid").toPandas()
    assert len(b) == 2 * len(a) > 0
    # and auto without an id column routes to cover instead of failing
    no_id = single.drop("qid")
    c = sj.distance_join(points_df, no_id, radius).select(
        "q_lat", "pid").toPandas()
    assert len(c) == len(a)


def test_radius_scan_rejects_duplicate_ids(spark, points_df, queries_pdf):
    qdup = pd.concat([queries_pdf.head(6)] * 2, ignore_index=True)
    with pytest.raises(ValueError, match="unique"):
        nn.radius_dim_join(points_df, spark.createDataFrame(qdup), 500e3)


def test_small_query_side_read_once(spark, points_df, queries_pdf):
    """distance_join and knn_join pick the plan from one bounded read
    of a small query side and hand those rows to the scan: building
    either (no action) runs at most one Spark job, that read."""
    qdf = spark.createDataFrame(queries_pdf.head(8))
    sc = spark.sparkContext
    for name, build in (
            ("distance", lambda: sj.distance_join(points_df, qdf, 500e3)),
            ("knn", lambda: sj.knn_join(points_df, qdf, k=2))):
        group = f"small-side-read-once-{name}"
        sc.setJobGroup(group, "build only")
        try:
            build()
        finally:
            sc.setJobGroup(None, None)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        assert len(jobs) <= 1, (name, list(jobs))


def test_distance_join_null_query_id_takes_cover(spark, points_df):
    """A query side with a null id is not scanned (the scan re-joins
    on the id); the cover path keeps every row, the null-id row's
    matches included."""
    rows = [(0, 40.0, -74.0), (1, -33.9, 151.2), (None, 51.5, -0.1),
            (3, 0.0, 179.999), (4, 89.99, 10.0)]
    qdf = spark.createDataFrame(rows, "qid long, lat double, lon double")
    radius = 800e3
    out = sj.distance_join(points_df, qdf, radius)
    assert "MapInPandas" not in out._jdf.queryExecution() \
        .executedPlan().toString()
    pairs = out.select("q_qid", "pid").toPandas()
    got = {(None if pd.isna(r.q_qid) else int(r.q_qid), int(r.pid))
           for r in pairs.itertuples()}
    assert len(got) == len(pairs)
    ppdf = _points_pdf(4000)
    want = set()
    for qid, la, lo in rows:
        s12 = kinverse.inverse(
            G, np.full(len(ppdf), la), np.full(len(ppdf), lo),
            ppdf.lat.to_numpy(), ppdf.lon.to_numpy(), C.DISTANCE)["s12"]
        want |= {(qid, int(p)) for p in ppdf.pid.to_numpy()[s12 <= radius]}
    assert got == want
    assert any(q is None for q, _ in got)


def test_route_distance_kernel_properties(spark):
    """Cross-track kernel sanity: points on the route are at ~0,
    points past the endpoints clamp to endpoint distance, and the
    midpoint's cross-track matches the closed-form check."""
    from geographiclib_go_spark.operators import route as rt
    R = 6371000.0
    lats, lons = [0.0, 0.0], [0.0, 10.0]   # equatorial segment
    frames = rt.route_frames(lats, lons)
    # on-route points: distance ~ 0
    d = rt.segment_distances(np.array([0.0, 0.0]),
                             np.array([3.0, 7.0]), frames, R)
    assert np.all(d < 1e-6)
    # directly north of the segment interior: pure cross-track
    d = rt.segment_distances(np.array([5.0]), np.array([5.0]),
                             frames, R)
    assert abs(d[0, 0] - R * math.radians(5.0)) < 1.0
    # beyond the end: clamps to the endpoint great-circle distance
    d = rt.segment_distances(np.array([0.0]), np.array([20.0]),
                             frames, R)
    assert abs(d[0, 0] - R * math.radians(10.0)) < 1.0
    # Spark operator end-to-end matches the kernel
    pts = spark.createDataFrame(
        [(1, 5.0, 5.0), (2, 0.0, 20.0)], "pid long, lat double, lon double")
    got = rt.route_distance_join(pts, lats, lons, radius=R).toPandas()
    want = rt.segment_distances(np.array([5.0, 0.0]),
                                np.array([5.0, 20.0]), frames, R)
    for r in got.itertuples():
        i = 0 if r.pid == 1 else 1
        assert abs(r.route_dist_m - want[i, r.seg]) < 1e-9


def test_route_intercept_ellipsoidal(spark):
    """Geodesic interception refine: on the sphere it must agree with
    the closed-form cross-track kernel; on WGS84 it must beat every
    densified sampling of the segment (it IS the minimum)."""
    from geographiclib_go_spark.operators import route as rt
    from geographiclib_go_spark.kernels import caps as Cc
    from geographiclib_go_spark.kernels import inverse as kinv
    from geographiclib_go_spark.kernels.geodesic import (
        GeodesicModel, WGS84_A, WGS84_F, wgs84_model)
    R = 6371000.0
    lats, lons = [10.0, 52.0, 36.0], [-70.0, 0.0, 140.0]
    rng = np.random.default_rng(3)
    pla = rng.uniform(0, 60, 40)
    plo = rng.uniform(-90, 150, 40)

    # sphere: refine == closed form (within ternary tolerance)
    gs = GeodesicModel(R, 0.0)
    frames = rt.route_frames(lats, lons)
    d_closed = rt.segment_distances(pla, plo, frames, R)
    seg = d_closed.argmin(axis=1)
    _t, d_ref = rt.intercept_on_segments(
        gs, np.array(lats[:-1]), np.array(lons[:-1]),
        np.array(lats[1:]), np.array(lons[1:]), seg, pla, plo)
    # Newton converges to machine precision (the old ternary search
    # only guaranteed 0.5 m here)
    assert np.allclose(d_ref, d_closed.min(axis=1), rtol=0, atol=1e-6)

    # WGS84: the intercept is <= any sampled point on the segment
    g = wgs84_model()
    _t2, d_e = rt.intercept_on_segments(
        g, np.array(lats[:-1]), np.array(lons[:-1]),
        np.array(lats[1:]), np.array(lons[1:]), seg, pla, plo)
    from geographiclib_go_spark.kernels import direct as kdir
    for frac in np.linspace(0, 1, 21):
        a1 = np.array(lats[:-1])[seg]; o1 = np.array(lons[:-1])[seg]
        a2 = np.array(lats[1:])[seg]; o2 = np.array(lons[1:])[seg]
        base = kinv.inverse(g, a1, o1, a2, o2,
                            Cc.DISTANCE | Cc.AZIMUTH)
        line = kdir.line_init(g, a1, o1, base["azi1"],
                              Cc.LATITUDE | Cc.LONGITUDE | Cc.DISTANCE_IN)
        pos = kdir.gen_position(g, line, False, base["s12"] * frac,
                                Cc.LATITUDE | Cc.LONGITUDE)
        ds = kinv.gen_inverse(g, pos["lat2"], pos["lon2"], pla, plo,
                              Cc.DISTANCE)["s12"]
        assert np.all(d_e <= ds + 1e-3)

    # Spark operator end-to-end
    pts = spark.createDataFrame(
        pd.DataFrame({"pid": np.arange(40), "lat": pla, "lon": plo}))
    got = rt.route_nearest_ellipsoidal(pts, lats, lons,
                                       WGS84_A, WGS84_F).toPandas()
    got = got.sort_values("pid")
    assert np.allclose(got.route_dist_m.to_numpy(), d_e, rtol=0,
                       atol=1e-6)
    assert np.array_equal(got.seg.to_numpy(), seg)


def test_route_intercept_global_sweep():
    """Newton intercept vs the closed-form sphere kernel over 5000
    points spread across the whole globe — exercises every endpoint-
    derivative sign pattern, in particular rise-fall segments (the
    interior-MAX case, where the minimum sits at the far endpoint and
    a naive 'derivative >= 0 at start => foot at start' rule returns
    a point ~9000 km wrong)."""
    from geographiclib_go_spark.operators import route as rt
    from geographiclib_go_spark.kernels.geodesic import GeodesicModel
    R = 6371000.0
    lats, lons = [10.0, 52.0, 36.0], [-70.0, 0.0, 140.0]
    rng = np.random.default_rng(17)
    pla = rng.uniform(-89, 89, 5000)
    plo = rng.uniform(-180, 180, 5000)
    gs = GeodesicModel(R, 0.0)
    frames = rt.route_frames(lats, lons)
    d, phi = rt.segment_distances(pla, plo, frames, R, return_foot=True)
    seg = d.argmin(axis=1)
    arc = frames[4]
    frac = np.clip(phi[np.arange(len(seg)), seg] / arc[seg], 0.0, 1.0)
    _t, d_ref = rt.intercept_on_segments(
        gs, np.array(lats[:-1]), np.array(lons[:-1]),
        np.array(lats[1:]), np.array(lons[1:]), seg, pla, plo,
        t0_frac=frac)
    err = np.abs(d_ref - d.min(axis=1))
    assert err.max() < 1e-6


def test_route_frames_rejects_degenerate_segments():
    from geographiclib_go_spark.operators import route as rt
    with pytest.raises(ValueError, match="degenerate"):
        rt.route_frames([10.0, 10.0, 20.0], [5.0, 5.0, 6.0])
    with pytest.raises(ValueError, match="degenerate"):
        rt.route_frames([10.0, -10.0], [5.0, -175.0])  # antipodal
    with pytest.raises(ValueError, match="at least 2"):
        rt.route_frames([10.0], [5.0])


def test_ellip_fixture_parquet_fresh(tmp_path):
    """The committed WGS84 fixture parquet (the driver's hash oracle
    for the two ellipsoidal queries) must equal a fresh kernel
    recompute — guards against editing route/inverse kernels without
    re-running scripts/build_fixtures.py.

    Float columns compare at 1e-6 m / 1e-12 deg rather than bit-exact:
    numpy's SIMD transcendental kernels pick CPU-specific code paths,
    so the same code can drift by an ulp between hosts (observed:
    47/1500 s_along rows differed sub-nanometer after a sandbox
    migration).  A real kernel edit moves results by far more than a
    micrometer; the driver's hash gate rounds to 1e-2 m, so ulp drift
    never reaches it."""
    import importlib.util
    import os

    import pyarrow.parquet as pq
    _spec = importlib.util.spec_from_file_location(
        "build_fixtures", os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "scripts", "build_fixtures.py"))
    bf = importlib.util.module_from_spec(_spec)
    _spec.loader.exec_module(bf)
    n = 1500  # sf0.01 coverage is what the driver gate exercises
    fresh_lm = pq.read_table(
        bf.build_landmark_dist(n, out_dir=str(tmp_path))).to_pandas()
    fresh_rt = pq.read_table(
        bf.build_route_nearest(n, out_dir=str(tmp_path))).to_pandas()
    com_lm = pq.read_table(os.path.join(
        bf.FIXTURE_DIR, "ellip_point_landmark_dist.parquet")).to_pandas()
    com_rt = pq.read_table(os.path.join(
        bf.FIXTURE_DIR, "ellip_route_nearest.parquet")).to_pandas()
    com_lm = com_lm[com_lm.c_custkey < n].sort_values(
        ["c_custkey", "qid"]).reset_index(drop=True)
    fresh_lm = fresh_lm.sort_values(
        ["c_custkey", "qid"]).reset_index(drop=True)
    assert np.allclose(fresh_lm.dist_m.to_numpy(),
                       com_lm.dist_m.to_numpy(), rtol=0, atol=1e-6)
    com_rt = com_rt[com_rt.c_custkey < n].reset_index(drop=True)
    assert np.array_equal(fresh_rt.seg.to_numpy(), com_rt.seg.to_numpy())
    assert np.allclose(fresh_rt.s_along.to_numpy(),
                       com_rt.s_along.to_numpy(), rtol=0, atol=1e-6)
    assert np.allclose(fresh_rt.dist_m.to_numpy(),
                       com_rt.dist_m.to_numpy(), rtol=0, atol=1e-6)
    fresh_rx = pq.read_table(
        bf.build_route_crossings(n, out_dir=str(tmp_path))).to_pandas()
    com_rx = pq.read_table(os.path.join(
        bf.FIXTURE_DIR, "ellip_route_crossings.parquet")).to_pandas()
    com_rx = com_rx[com_rx.c_custkey < n].reset_index(drop=True)
    assert len(fresh_rx) == len(com_rx) > 0
    for col in ("c_custkey", "seg"):
        assert np.array_equal(fresh_rx[col].to_numpy(),
                              com_rx[col].to_numpy()), col
    for col in ("ilat", "ilon"):
        assert np.allclose(fresh_rx[col].to_numpy(),
                           com_rx[col].to_numpy(),
                           rtol=0, atol=1e-12), col


def test_cap_covers_by_cell_dedup_and_superset(monkeypatch):
    """The cover path computes ONE cap_cover per unique base cell
    (Python cost ~ distinct cells, not rows), and every per-cell
    cover is a superset of the per-point cover it replaces — so the
    exact refine sees at least the same candidates."""
    from geographiclib_go_spark.operators import cells as kc
    from geographiclib_go_spark.operators import spatial_join as sjm
    calls = {"n": 0}
    orig = kc.cap_cover

    def counting(*a, **k):
        calls["n"] += 1
        return orig(*a, **k)

    monkeypatch.setattr(kc, "cap_cover", counting)
    rng = np.random.default_rng(23)
    la = rng.uniform(10.0, 11.0, 5000)
    lo = rng.uniform(20.0, 21.0, 5000)
    res, rad = sjm.plan_radius(100e3)
    covers = sjm.cap_covers_by_cell(la, lo, res, rad)
    n_cells = len(np.unique(kc.cell_from_latlon(la, lo, res)))
    assert calls["n"] == n_cells
    assert n_cells < len(la) / 10  # clustered: real dedup happened
    for i in rng.choice(len(la), 40, replace=False):
        per_point = set(orig(float(la[i]), float(lo[i]), res,
                             rad).tolist())
        assert per_point <= set(covers[i])


def test_geodesic_intersections_known_point():
    """Ground truth by construction: build two WGS84 geodesics
    THROUGH a common point (direct problem, +/- along two azimuths);
    the iterated-gnomonic intersection must recover that point to
    kernel precision from a badly perturbed seed."""
    from geographiclib_go_spark.kernels import caps as Cc
    from geographiclib_go_spark.kernels import direct as kdir
    from geographiclib_go_spark.kernels import inverse as kinv
    from geographiclib_go_spark.kernels.geodesic import wgs84_model
    from geographiclib_go_spark.operators import intersect as ix
    g = wgs84_model()
    rng = np.random.default_rng(31)
    n = 40
    x0la = rng.uniform(-60, 60, n)
    x0lo = rng.uniform(-180, 180, n)
    azi_a = rng.uniform(0, 180, n)
    azi_b = azi_a + rng.uniform(30, 150, n)

    def endpoint(azi, s):
        L = kdir.line_init(g, x0la, x0lo, azi,
                           Cc.LATITUDE | Cc.LONGITUDE | Cc.DISTANCE_IN)
        p = kdir.gen_position(g, L, False, s,
                              Cc.LATITUDE | Cc.LONGITUDE)
        return p["lat2"], p["lon2"]

    s1 = rng.uniform(500e3, 3000e3, n)
    s2 = rng.uniform(500e3, 3000e3, n)
    a1la, a1lo = endpoint(azi_a, -s1)
    a2la, a2lo = endpoint(azi_a, s2)
    b1la, b1lo = endpoint(azi_b, -s2)
    b2la, b2lo = endpoint(azi_b, s1)
    la, lo = ix.refine_intersections_gnomonic(
        g, a1la, a1lo, a2la, a2lo, b1la, b1lo, b2la, b2lo,
        x0la + rng.uniform(-0.3, 0.3, n),
        x0lo + rng.uniform(-0.3, 0.3, n), iters=5)
    err = kinv.gen_inverse(g, la, lo, x0la, x0lo, Cc.DISTANCE)["s12"]
    assert np.nanmax(err) < 1e-6


def test_route_intersections_sphere_operator(spark):
    """Spark operator end-to-end at f=0: every emitted crossing lies
    on BOTH great-circle segments (closed-form distance < 1e-6 m) and
    the emitted set equals the numpy kernel's."""
    from geographiclib_go_spark.operators import intersect as ix
    from geographiclib_go_spark.operators import route as rt
    R = 6371000.0
    lats, lons = [10.0, 52.0, 36.0], [-70.0, 0.0, 140.0]
    rng = np.random.default_rng(41)
    n = 500
    pdf = pd.DataFrame({
        "sid": np.arange(n),
        "lat1": rng.uniform(-80, 80, n),
        "lon1": rng.uniform(-180, 180, n),
        "lat2": rng.uniform(-80, 80, n),
        "lon2": rng.uniform(-180, 180, n),
    })
    got = ix.route_intersections(spark.createDataFrame(pdf),
                                 lats, lons, R, 0.0).toPandas()
    hit, ilat, ilon, fi, fr = ix.sphere_segment_intersections(
        pdf.lat1.to_numpy(), pdf.lon1.to_numpy(),
        pdf.lat2.to_numpy(), pdf.lon2.to_numpy(),
        rt.route_frames(lats, lons))
    ii, jj = np.nonzero(hit)
    assert len(got) == len(ii) > 10
    want = {(int(i), int(j)): (ilat[i, j], ilon[i, j])
            for i, j in zip(ii, jj)}
    frames = rt.route_frames(lats, lons)
    for r in got.itertuples():
        wla, wlo = want[(r.sid, r.seg)]
        assert abs(r.ilat - wla) < 1e-12 and abs(r.ilon - wlo) < 1e-12
        # on the route segment
        d_rt = rt.segment_distances(np.array([r.ilat]),
                                    np.array([r.ilon]), frames, R)
        assert d_rt[0, r.seg] < 1e-6
        # on the input segment
        sf = rt.route_frames([r.lat1, r.lat2], [r.lon1, r.lon2])
        d_in = rt.segment_distances(np.array([r.ilat]),
                                    np.array([r.ilon]), sf, R)
        assert d_in[0, 0] < 1e-6


def test_knn_auto_res_requires_stats_or_exact_count(spark, monkeypatch):
    """When the points side exposes no parquet footer stats AND the
    bounded probe saturates (row count only a lower bound), auto
    resolution must refuse with a clear error instead of scanning the
    fact table (VERDICT r2 item 4); passing res explicitly works."""
    big = spark.range(0, 300_000).selectExpr(
        "id as pid",
        "cast(id % 90 as double) - 45.0 as lat",
        "cast(id % 360 as double) - 180.0 as lon")
    qdf = spark.createDataFrame(
        pd.DataFrame({"qid": [0, 1],
                      "lat": [10.0, -20.0], "lon": [30.0, 100.0]}))
    n, exact = sj._estimate_row_count(big)
    assert not exact and n == (1 << 18)
    monkeypatch.setattr(nn, "SCAN_MAX_QUERIES", 0)  # force the ring
    with pytest.raises(ValueError, match="pass res"):
        sj.knn_join(big, qdf, k=2)
    out = sj.knn_join(big, qdf, k=2, res=3)
    assert out.count() == 4


def test_corridor_cover_is_lossless_and_bounded():
    """route.corridor_cover must contain the cell of EVERY point
    within radius_m of the route (completeness — the property the
    exhaustive corridor-query oracle gates at driver time), while
    staying a small fraction of the cell space (it is a broadcast
    prefilter, not a table)."""
    from geographiclib_go_spark.operators import cells
    from geographiclib_go_spark.operators import route as rt
    from geographiclib_go_spark import queries as Q

    r_m, res = Q._CORRIDOR_M, Q._CORRIDOR_RES
    cover = set(rt.corridor_cover(Q._ROUTE_LATS, Q._ROUTE_LONS,
                                  r_m, res, Q.SPHERE_A).tolist())
    # every generated image placement within the corridor (and a 25%
    # margin band around it) must land in a covered cell
    ids = np.arange(20_000, dtype=np.uint64)
    ph = im.phash_for_ids(ids)
    lat, lon = im.latlon_for_ids(ids, ph)
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    frames = rt.route_frames(Q._ROUTE_LATS, Q._ROUTE_LONS)
    d = rt.segment_distances(lat, lon, frames, Q.SPHERE_A).min(axis=1)
    inside = d <= r_m * 1.25
    got_cells = cells.cell_from_latlon(lat[inside], lon[inside], res)
    missing = [c for c in np.unique(got_cells)
               if c not in cover and
               d[inside][got_cells == c].min() <= r_m]
    assert missing == []
    # bounded: a thin sausage, far below the full cell space
    assert len(cover) < 0.2 * 6 * (1 << res) ** 2


def test_route_corridor_images_matches_bruteforce(spark):
    """The registered corridor query (cover prune -> kernel refine)
    must emit EXACTLY the filterless brute-force (image, seg, dist)
    set — prune-then-refine loses nothing and adds nothing."""
    from geographiclib_go_spark.operators import route as rt
    from geographiclib_go_spark import queries as Q

    got = {(r.image_id, int(r.seg), float(r.dist_r))
           for r in Q.route_corridor_images(spark, None).collect()}

    n = Q._IMG_QUERY_N
    ids = np.arange(n, dtype=np.uint64)
    ph = im.phash_for_ids(ids)
    lat, lon = im.latlon_for_ids(ids, ph)
    frames = rt.route_frames(Q._ROUTE_LATS, Q._ROUTE_LONS)
    d = rt.segment_distances(np.asarray(lat, np.float64),
                             np.asarray(lon, np.float64),
                             frames, Q.SPHERE_A)
    want = set()
    for s in range(d.shape[1]):
        dr = np.round(d[:, s], 2)
        for i in np.flatnonzero(dr <= Q._CORRIDOR_M):
            want.add((f"img_{int(i):012d}", s, float(dr[i])))
    assert got == want and len(want) > 50
