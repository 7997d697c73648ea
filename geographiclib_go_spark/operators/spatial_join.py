"""Spatial joins: cell-prefilter + geodesic-refine (engine-added).

Three join shapes over the cell index (operators/cells.py) with the
inverse geodesic kernel (inverse.go:30-355) as the exact predicate:

- distance_join: classic filter-refine — equi-join on cell cover of
  each query's radius cap, then ``filter(s12 <= radius)``.  The cover
  is exploded ring cells; Catalyst turns the cell match into a hash
  join (broadcast when the query side is small — made explicit via
  hint, per the north rule).
- knn_join: iterative ring expansion.  Each round joins the unresolved
  queries' ring cover against points, takes top-k per query via a
  window, and resolves queries whose kth distance is below the ring
  lower bound (validated in tests against the kernel).  Spark has no
  native kNN join; the loop is driver-coordinated but every step is a
  declarative DataFrame plan.
- pip_join: map-only.  Each polygon's cell cover (driver-planned,
  auto-res via plan_polygon_res) rides in the UDF closure with its
  ring; one Arrow pass tests point cells against the covers and runs
  the exact point-in-polygon refine on the hits.

distance_join and knn_join (and clustering.dbscan) let the query
side pick the plan: size and ids decide.  A side of at most
nearest.SCAN_MAX_QUERIES rows with a unique non-null id is read once
and shipped in a UDF closure to the map-only scans of
operators/nearest.py (zero shuffle of the big side); any other side
takes the cover/ring plans here.

All kernels run as Arrow pandas UDFs over numpy batches; the only
per-row Python is driver-side cover planning over the SMALL side.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from geographiclib_go_spark.kernels import geomath as gm
from geographiclib_go_spark.kernels.geodesic import (
    GeodesicModel, WGS84_A, WGS84_F)
from geographiclib_go_spark.functions.geodesic_udfs import make_inverse_s12_udf
from geographiclib_go_spark.operators import cells as kcells
from geographiclib_go_spark.operators import nearest as _nn
from geographiclib_go_spark.operators import pip as kpip
from geographiclib_go_spark.plans import stats as plan_stats


def cell_udf(res: int):
    @pandas_udf(T.LongType())
    def cell_of(lat: pd.Series, lon: pd.Series) -> pd.Series:
        c = kcells.cell_from_latlon(lat.to_numpy(np.float64),
                                    lon.to_numpy(np.float64), res)
        return pd.Series(c)
    return cell_of


def ring_cover_udf(res: int, rings: int):
    """array<long> of all cells within `rings` of the point's cell."""
    @pandas_udf(T.ArrayType(T.LongType()))
    def cover_of(lat: pd.Series, lon: pd.Series) -> pd.Series:
        base = kcells.cell_from_latlon(lat.to_numpy(np.float64),
                                       lon.to_numpy(np.float64), res)
        # expand per unique cell, then map back (queries often cluster)
        uniq, inv = np.unique(base, return_inverse=True)
        covers = [kcells.ring_expand(np.array([c]), res, rings).tolist()
                  for c in uniq]
        return pd.Series([covers[i] for i in inv])
    return cover_of


def cap_covers_by_cell(la: np.ndarray, lo: np.ndarray, res: int,
                       radius_rad: float) -> list:
    """Cap covers for a batch of points, computed once per UNIQUE
    base cell: the cover is a function of (cell, radius) when the cap
    is taken around the CELL CENTER with the cell circumradius added
    to the radius — a superset of every point-cap inside the cell, so
    the exact s12 refine downstream is unaffected.  Python cost then
    scales with distinct cells touched, not with query rows — the
    cover strategy is specifically the unbounded-query-side path
    (VERDICT r2 item 2; same dedup ring_cover_udf already used)."""
    base = kcells.cell_from_latlon(la, lo, res)
    uniq, inv = np.unique(base, return_inverse=True)
    cla, clo = kcells.cell_center(uniq, res)
    pad = kcells.max_cell_width_rad(res) / 2.0  # >= cell circumradius
    covers = [kcells.cap_cover(float(a), float(b), res,
                               radius_rad + pad).tolist()
              for a, b in zip(np.atleast_1d(cla), np.atleast_1d(clo))]
    return [covers[i] for i in inv]


def cap_cover_udf(res: int, radius_rad: float):
    """array<long> cell cover of the radius cap around each point —
    disc-shaped, deduped per unique base cell (cap_covers_by_cell)."""
    @pandas_udf(T.ArrayType(T.LongType()))
    def cover_of(lat: pd.Series, lon: pd.Series) -> pd.Series:
        la = lat.to_numpy(np.float64)
        lo = lon.to_numpy(np.float64)
        return pd.Series(cap_covers_by_cell(la, lo, res, radius_rad))
    return cover_of


def with_cell(df: DataFrame, res: int, lat_col: str = "lat",
              lon_col: str = "lon", out: str = "cell") -> DataFrame:
    """Append the quadtree cell id (map-side Arrow kernel).

    The coalesce makes the column NON-NULLABLE, which matters when it
    becomes an equi-join key: on a nullable key Catalyst infers an
    isnotnull predicate and pushes it below the projection, cloning
    the cell kernel into a SECOND ArrowEvalPython stage — one extra
    Python round trip per row on the fact side.  The kernel never
    returns null and -1 is not a cell id, so this is value-identity."""
    return df.withColumn(
        out, F.coalesce(cell_udf(res)(F.col(lat_col), F.col(lon_col)),
                        F.lit(-1)))


def plan_radius(radius_m: float, a: float = WGS84_A,
                f: float = WGS84_F) -> tuple:
    """(res, radius_rad) for the cap cover: resolution with typical
    cell width ~ radius/2.5, so the disc cover is ~ 20-30 cells and the
    refine set ~ the true cap population.  radius_rad uses the
    equatorial radius a (the largest) so the angular cap is a superset
    of the metric cap on the ellipsoid."""
    g = GeodesicModel(a, f)
    res = kcells.pick_resolution(radius_m / 2.5, g.b, lo=2, hi=14)
    # central angle upper bound: geodesic length s corresponds to at
    # most s / r_min of central angle, r_min = min radius of curvature
    r_min = min(g.a, g.b) ** 2 / max(g.a, g.b)
    radius_rad = radius_m / r_min
    return res, radius_rad


def distance_join(points: DataFrame, queries: DataFrame, radius_m: float,
                  res: int = None,
                  a: float = WGS84_A, f: float = WGS84_F,
                  point_cols=("lat", "lon"), query_cols=("lat", "lon"),
                  id_col: str = "qid") -> DataFrame:
    """All (query, point) pairs with geodesic s12 <= radius_m.

    Output: query columns (prefixed q_), point columns, s12.

    Size and ids decide the plan.  A query side of at most
    nearest.SCAN_MAX_QUERIES rows with a unique non-null id_col is
    read once and scanned: map-only chord-bound prefilter + exact
    refine inside the points scan, no shuffle of the big side
    (nearest.radius_dim_join; `res` does not apply, there is no
    cover).  Any other side — larger, or with ids absent, null or
    repeated — takes the cell-cap cover explode + equi-join + refine,
    which keeps per-row query identity; the exploded cover is
    broadcast when the query side is small (_estimate_small), else
    sort-merge joined.
    """
    q = _nn._small_side(queries, id_col, query_cols,
                        _nn.SCAN_MAX_QUERIES, unique=True)
    if q is not None:
        return _nn._radius_scan(points, queries, q, radius_m, a, f,
                                point_cols, id_col)
    plan_res, radius_rad = plan_radius(radius_m, a, f)
    if res is None:
        res = plan_res

    pts = with_cell(points, res, *point_cols, out="_cell")
    q = queries
    for c in q.columns:
        q = q.withColumnRenamed(c, f"q_{c}")
    q = q.withColumn(
        "_qcover",
        cap_cover_udf(res, radius_rad)(F.col(f"q_{query_cols[0]}"),
                                       F.col(f"q_{query_cols[1]}")))
    q = q.withColumn("_cell", F.explode("_qcover")).drop("_qcover")

    # explicit join-strategy selection (north rule): broadcast the
    # exploded query cover when it is small, else sort-merge.
    # estimate on the un-exploded query side (cheap scan; the cover
    # multiplies rows by a known ~cap/cell factor)
    small = _estimate_small(queries, limit_rows=20_000)
    qj = F.broadcast(q) if small else q.hint("merge")

    inv = make_inverse_s12_udf(a, f)
    joined = pts.join(qj, "_cell", "inner")
    joined = joined.withColumn(
        "s12",
        inv(F.col(f"q_{query_cols[0]}"), F.col(f"q_{query_cols[1]}"),
            F.col(point_cols[0]), F.col(point_cols[1])))
    out = joined.filter(F.col("s12") <= F.lit(float(radius_m)))
    # the exploded cover can pair a (query, point) twice only if a point
    # cell appears in two cover rows of the same query — it cannot
    # (cover cells are distinct per query), so no dedup is needed.
    return out.drop("_cell")


def _estimate_small(df: DataFrame, limit_rows: int = 200_000) -> bool:
    """Cheap cardinality probe for the broadcast decision: parquet
    footer statistics when available (zero Spark jobs), else a
    bounded short-circuit count (_estimate_row_count)."""
    try:
        n, _ = _estimate_row_count(df, limit_rows=limit_rows + 1)
        return n <= limit_rows
    except Exception:
        return False


def knn_join(points: DataFrame, queries: DataFrame, k: int,
             res: int = None, a: float = WGS84_A, f: float = WGS84_F,
             point_cols=("lat", "lon"), query_cols=("lat", "lon"),
             id_col: str = "qid", max_rounds: int = 6) -> DataFrame:
    """k nearest points for each query row (geodesic distance).

    Returns q_* columns + point columns + s12 + rank (1..k).

    Size and ids decide the plan:
    - a query side of at most nearest.SCAN_MAX_QUERIES rows with a
      unique non-null id_col is read once and scanned: per-chunk local
      top-k candidates per query, then a tiny global window — no
      driver rounds, no shuffle of the big side
      (nearest.knn_points_topk; `res` and `max_rounds` do not apply);
    - any other side takes iterative cell-ring expansion; resolved
      queries drop out each round; termination bound is
      cells.ring_bound_m (conservative vs the kernel, see
      tests/test_cells.py).  It keys no driver state on the ids, and
      repeated ids fail on action (below).
    """
    q = _nn._small_side(queries, id_col, query_cols,
                        _nn.SCAN_MAX_QUERIES, unique=True)
    if q is not None:
        return _nn._knn_scan(points, queries, q, k, a, f, point_cols,
                             id_col)
    g = GeodesicModel(a, f)
    # NO full scan of the fact table at planning time (VERDICT r2
    # item 4): row count from parquet footers (driver-side metadata,
    # zero Spark jobs) or a bounded short-circuit probe.  A saturated
    # lower bound only biases start_rings LARGER (r_k ~ 1/sqrt(n)) —
    # correct, just a heavier first round — but auto-resolution needs
    # a real count, so it demands exact stats.
    n_pts, n_exact = _estimate_row_count(points)
    if res is None:
        if not n_exact:
            raise ValueError(
                "knn_join auto-resolution needs the point row count, "
                "but the points plan exposes no parquet footer "
                "statistics and the bounded probe saturated at "
                f"{n_pts} rows; pass res= explicitly")
        # aim for ~k points per 3x3 neighborhood under uniform density:
        # callers with skewed data should pass res explicitly
        density_width = 2.0 * math.sqrt(4 * math.pi / max(n_pts / max(k, 1), 1))
        res = kcells.pick_resolution(density_width * g.b, g.b)
    # expected kth-neighbor angular distance under uniform density;
    # start the ring search there instead of crawling outward
    r_k = math.sqrt(4 * math.pi * (k + 1) / max(n_pts, 1)) / 2
    w_min = kcells.min_cell_width_rad(res)
    start_rings = int(min(max(2, math.ceil(r_k / w_min) + 2), 64))

    q = queries
    for c in q.columns:
        q = q.withColumnRenamed(c, f"q_{c}")
    qid = f"q_{id_col}"
    # kNN output is keyed on id_col on both paths (the per-query
    # top-k window partitions on it), so uniqueness is a semantic
    # requirement.  Instead of a standalone eager count/countDistinct
    # job over the (by definition large) query side, the check rides
    # the plan itself: a per-qid window count folded into round 1's
    # shuffle, asserted distributed-side on every output row — zero
    # extra jobs, and it covers rows resolved in ANY round including
    # the brute-force fallback.
    q = q.withColumn(
        "_qrows", F.count(F.lit(1)).over(Window.partitionBy(qid)))
    qlat, qlon = f"q_{query_cols[0]}", f"q_{query_cols[1]}"

    # caching the celled points avoids re-running the cell UDF each
    # round in the sandbox; at cluster scale prefer persisting the
    # celled table (or bucketing it by _cell) once and reusing it
    pts = with_cell(points, res, *point_cols, out="_cell").cache()
    inv = make_inverse_s12_udf(a, f)

    # the query side is LARGE here (the small side routes to the
    # scan), so per-query state never touches the driver: the
    # resolved set is a DataFrame, rounds advance via semi/anti joins,
    # and the only driver-side values are one boolean per round
    # ("anything left?").  No id list ever ships in a plan or closure.
    unresolved = q.cache()
    results = []
    rings = start_rings  # ring_bound(rings=1) is 0: start past it
    for round_no in range(max_rounds):
        cover = unresolved.withColumn(
            "_qcover", ring_cover_udf(res, rings)(F.col(qlat), F.col(qlon)))
        cover = cover.withColumn("_cell", F.explode("_qcover")) \
                     .drop("_qcover")
        # both sides are big: plain equi-join on the cell key (AQE
        # picks shuffle-hash vs sort-merge and splits skewed cells)
        cand = pts.join(cover, "_cell", "inner")
        cand = cand.withColumn(
            "s12", inv(F.col(qlat), F.col(qlon),
                       F.col(point_cols[0]), F.col(point_cols[1])))
        w = Window.partitionBy(qid).orderBy(F.col("s12").asc())
        topk = (cand.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k).drop("_cell")).cache()

        bound = kcells.ring_bound_m(res, rings, g.b)
        done_ids = (topk.groupBy(qid)
                    .agg(F.count("*").alias("_n"),
                         F.max("s12").alias("_kth"))
                    .filter((F.col("_n") >= k) & (F.col("_kth") <= bound))
                    .select(qid).cache())
        results.append(topk.join(done_ids, qid, "left_semi"))
        unresolved = unresolved.join(done_ids, qid, "left_anti").cache()
        rings *= 2
        if unresolved.isEmpty():
            unresolved = None
            break

    if unresolved is not None:
        # brute-force fallback for the stragglers (poles, empty
        # regions) — bounded: only queries max_rounds of doubling
        # couldn't resolve
        cand = unresolved.crossJoin(points)
        cand = cand.withColumn(
            "s12", inv(F.col(qlat), F.col(qlon),
                       F.col(point_cols[0]), F.col(point_cols[1])))
        w = Window.partitionBy(qid).orderBy(F.col("s12").asc())
        results.append(cand.withColumn("rank", F.row_number().over(w))
                       .filter(F.col("rank") <= k))

    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r, allowMissingColumns=True)
    dup_msg = F.concat(
        F.lit(f"{id_col} must be unique in the kNN query side: id "),
        F.col(qid).cast("string"),
        F.lit(" has "), F.col("_qrows").cast("string"),
        F.lit(" source rows (duplicate ids would merge distinct "
              "queries into one top-k set)"))
    out = (out.withColumn("_uniq",
                          F.assert_true(F.col("_qrows") == 1, dup_msg))
           .filter(F.col("_uniq").isNull())
           .drop("_uniq", "_qrows"))
    return out


def _estimate_row_count(df: DataFrame, limit_rows: int = 1 << 18):
    """(rows, exact) without ever scanning the fact table.

    For a parquet scan under nodes that keep its rows (Project, Sort,
    Repartition) the exact count comes from the file footers, read
    driver-side (plans.stats.exact_rows) — zero Spark jobs, the
    metadata-only path table formats are built for.  Otherwise a
    bounded limit-count: every task short-circuits at limit_rows, so
    the result is exact when the side is small and a saturated lower
    bound (exact=False) when it is not."""
    total = plan_stats.exact_rows(df)
    if total is not None:
        return total, True
    n = df.limit(limit_rows).count()
    return n, n < limit_rows


def make_pip_udf(polygons: dict, res: int):
    """pip(lat, lon) -> array<long> of the poly_ids whose ring holds
    the point.  `polygons` maps poly_id -> (lats tuple, lons tuple);
    each ring and its driver-planned cell cover (pip.ring_cells at
    `res`) ride in the closure (dim-table catalogs only — the polygon
    table is a dim table by design).  Per batch: the point cells, an
    `np.isin` against each cover, and the exact winding test on the
    cover hits alone."""
    polys = [(int(k), np.asarray(v[0], dtype=np.float64),
              np.asarray(v[1], dtype=np.float64),
              kpip.ring_cells(v[0], v[1], res))
             for k, v in polygons.items()]

    @pandas_udf(T.ArrayType(T.LongType()))
    def pip(lat: pd.Series, lon: pd.Series) -> pd.Series:
        la = lat.to_numpy(np.float64)
        lo = lon.to_numpy(np.float64)
        cell = kcells.cell_from_latlon(la, lo, res)
        out = [[] for _ in range(len(la))]
        for pid, rla, rlo, cover in polys:
            cand = np.flatnonzero(np.isin(cell, cover))
            inside = kpip.points_in_ring(la[cand], lo[cand], rla, rlo)
            for r in cand[inside].tolist():
                out[r].append(pid)
        return pd.Series(out)

    return pip


def plan_polygon_res(polygons: dict, target_cells: int = 256,
                     lo: int = 2, hi: int = 12) -> int:
    """Cell-cover planner (SURVEY.md §4.2): pick the cover resolution
    from polygon bbox stats so the largest polygon's cover is about
    `target_cells` cells.  Resolution is correctness-neutral (the PIP
    refine restores exactness) but performance-critical: too coarse
    floods the refine with candidates, too fine explodes the cover
    the UDF closure carries."""
    import math as _math
    ext_deg = 1e-6
    for _, (lats, lons) in polygons.items():
        rla = np.asarray(lats, dtype=np.float64)
        rlo = np.asarray(lons, dtype=np.float64)
        n_in, s_in = kpip.pole_inside(rla, rlo)
        if n_in or s_in:
            ext_deg = max(ext_deg, 180.0)
            continue
        dlat = float(rla.max() - rla.min())
        d, _e = gm.ang_diff(rlo[0], rlo)
        dlon = float(d.max() - d.min()) * float(
            np.cos(np.radians(np.abs(rla).min())))
        ext_deg = max(ext_deg, dlat, dlon)
    width_deg = max(ext_deg / _math.sqrt(max(target_cells, 4)), 1e-6)
    width_m = _math.radians(width_deg) * 6371e3
    return kcells.pick_resolution(width_m, 6371e3, lo=lo, hi=hi)


def pip_join(points: DataFrame, polygons: dict, res: int = None,
             point_cols=("lat", "lon")) -> DataFrame:
    """Points annotated with the polygons containing them: one row
    per (point, containing polygon), the point columns then poly_id.

    polygons: poly_id -> (lats, lons) closed-ring vertex sequences.
    Plan: map-only — one Arrow pass (make_pip_udf: cell cover prefilter
    + exact PIP refine, covers and rings in the closure) and an
    explode of its poly_id array; no join, no broadcast.
    res=None auto-plans via plan_polygon_res (bbox-stat scout).
    """
    if res is None:
        res = plan_polygon_res(polygons)
    pip = make_pip_udf(polygons, res)
    return points.select(
        "*", F.explode(pip(F.col(point_cols[0]), F.col(point_cols[1])))
        .alias("poly_id"))
