"""Map-only nearest-dim join: for every row of a big fact table, the
k nearest rows of a SMALL dim table (landmarks, stations, hubs) by
exact geodesic distance (inverse.go:30-355 kernel as the metric).

This is the scale-critical shape of the flagship pipeline ("images
tiled + spatially joined per second"): the dim side is tiny, so the
correct 100 TB plan is NOT a shuffle join at all — the dim table is
baked into the UDF closure (effectively a broadcast) and the whole
join is a single map-only Arrow stage over the fact table.  No
shuffle, no window, no driver loop; scales linearly with executors.

Exactness: a chord-angle prefilter ranks dim rows per fact row on the
unit sphere (geographic lat/lon -> 3-vectors, one N x M matmul); a dim
row is a candidate only if it could beat the kth chord candidate.  The
candidate margin (_chord_margin) uses the bound
  b * sigma12 <= s12 <= a * sigma12
(geodesic arc on the auxiliary sphere, line.go:114 k2 range: the
integrand sqrt(1 + k^2 sin^2 sigma) is within [1, a/b]), widened by a
safety factor for the (reduced-latitude vs geocentric) angle mismatch,
and is verified against the exhaustive N x M kernel evaluation in
tests/test_nearest.py.  For f = 0 the chord order IS the geodesic
order and the margin collapses to ties-only.

For k = 1 the join is two scalar columns with one UDF each, so
Spark's column pruning acts as an output mask.  The nn_id UDF
(nearest_id_kernel) takes a row's single candidate as proven by the
bound (~93% of rows with the 12 default landmarks) and runs the exact
inverse only on rows with two or more candidates, all of a batch's
pairs in one call, then an argmin per row.  The s12 UDF runs one
inverse per row, against the winner only; a plan that never reads
s12 drops it, and the inverse with it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from geographiclib_go_spark.functions import localdf as _ldf
from geographiclib_go_spark.kernels import caps as C
from geographiclib_go_spark.kernels.geodesic import (
    GeodesicModel, WGS84_A, WGS84_F)
from geographiclib_go_spark.kernels.inverse import inverse as kinverse

MAX_DIM_ROWS = 100_000  # closure-broadcast budget (3 float64 arrays)
CHUNK = 8192  # rows per kernel slice (keeps temporaries in cache)
# query sides up to this size are scanned by the spatial joins
# (spatial_join.distance_join / knn_join, clustering.dbscan); larger
# ones, or ones whose ids are null or repeated, take the cell plans
SCAN_MAX_QUERIES = 4096


def _unit_vectors(lat_deg: np.ndarray, lon_deg: np.ndarray) -> np.ndarray:
    la = np.radians(lat_deg)
    lo = np.radians(lon_deg)
    cl = np.cos(la)
    return np.stack([cl * np.cos(lo), cl * np.sin(lo), np.sin(la)],
                    axis=-1)


def _chord_margin(g: GeodesicModel):
    """(ratio, pad): a dim row at chord angle ang can beat one at
    chord angle t in geodesic distance only if ang <= t * ratio + pad
    (b * ang < a * t, plus slack for the geographic-vs-auxiliary-sphere
    angle difference, O(f) small)."""
    f_abs = abs(g.f)
    return (g.a / g.b) * (1.0 + 8.0 * f_abs) + 1e-12, 4.0 * f_abs + 1e-12


def nearest_id_kernel(g: GeodesicModel, lat: np.ndarray, lon: np.ndarray,
                      dim_ids: np.ndarray, dim_lat: np.ndarray,
                      dim_lon: np.ndarray, dim_vec: np.ndarray) -> np.ndarray:
    """k = 1, ids only: int64[n] id of the dim row at minimum exact
    geodesic distance (the lowest dim index on exact ties), -1 where
    lat/lon is NaN.  Equal to nearest_dim_kernel(..., k=1)[0][:, 0]."""
    ratio, pad = _chord_margin(g)
    cand = np.empty((lat.size, dim_ids.size), dtype=bool)
    # sliced so the float temporaries stay cache-resident
    for i in range(0, lat.size, CHUNK):
        sl = slice(i, i + CHUNK)
        ang = np.arccos(np.clip(_unit_vectors(lat[sl], lon[sl]) @ dim_vec.T,
                                -1.0, 1.0))
        # fmin skips NaN dim rows, as nearest_dim_kernel's partition does
        cand[sl] = ang <= np.fmin.reduce(ang, axis=1)[:, None] * ratio + pad
    n_cand = cand.sum(axis=1)
    # a lone candidate is proven nearest: no other dim row is in the bound
    out = np.where(n_cand > 0, dim_ids[cand.argmax(axis=1)], -1)
    amb = np.flatnonzero(n_cand > 1)
    if amb.size:
        sub = cand[amb]
        rows, cols = np.nonzero(sub)
        s12 = np.full(sub.shape, np.inf)
        s12[rows, cols] = kinverse(g, lat[amb[rows]], lon[amb[rows]],
                                   dim_lat[cols], dim_lon[cols],
                                   C.DISTANCE)["s12"]
        out[amb] = dim_ids[s12.argmin(axis=1)]
    return out


def nearest_dim_kernel(g: GeodesicModel, lat: np.ndarray, lon: np.ndarray,
                       dim_ids: np.ndarray, dim_lat: np.ndarray,
                       dim_lon: np.ndarray, dim_vec: np.ndarray,
                       k: int = 1):
    """Pure-numpy core: (ids[n,k] int64, s12[n,k] float64), columns
    ordered by ascending exact geodesic distance.  Pads with -1/NaN
    when k > len(dim)."""
    n = lat.size
    m = dim_ids.size
    kk = min(k, m)
    p = _unit_vectors(lat, lon)                      # (n, 3)
    cosang = np.clip(p @ dim_vec.T, -1.0, 1.0)       # (n, m)
    ang = np.arccos(cosang)                          # central angle, rad

    # kth smallest chord angle per row
    if kk < m:
        kth = np.partition(ang, kk - 1, axis=1)[:, kk - 1]
    else:
        kth = ang.max(axis=1)

    ratio, pad = _chord_margin(g)
    cand = ang <= (kth[:, None] * ratio + pad)

    rows, cols = np.nonzero(cand)
    s12 = kinverse(g, lat[rows], lon[rows],
                   dim_lat[cols], dim_lon[cols], C.DISTANCE)["s12"]

    sel, pos = _first_k(rows, s12, kk)
    out_ids = np.full((n, kk), -1, dtype=np.int64)
    out_s12 = np.full((n, kk), np.nan)
    out_ids[rows[sel], pos] = dim_ids[cols[sel]]
    out_s12[rows[sel], pos] = s12[sel]
    return out_ids, out_s12


def _first_k(group: np.ndarray, s12: np.ndarray, k: int):
    """(idx, pos): the indices of the k smallest s12 within each group,
    ordered by (group, s12) with ties in input order (stable lexsort),
    and each one's 0-based rank in its group."""
    order = np.lexsort((s12, group))
    g = group[order]
    first = np.r_[True, g[1:] != g[:-1]]
    start = np.maximum.accumulate(np.where(first, np.arange(g.size), 0))
    pos = np.arange(g.size) - start
    keep = pos < k
    return order[keep], pos[keep]


def _small_side(side, id_col: str = None, cols=("lat", "lon"),
                limit: int = MAX_DIM_ROWS, unique: bool = False):
    """(ids int64, lat, lon) of a small side, read with one bounded
    collect, or None when the side is not small: empty, over `limit`
    rows, without an `id_col` column, with a null id, or (unique=True)
    with a repeated id.  side: a DataFrame (its id_col and lat/lon
    `cols` are read) or an iterable of (id, lat, lon)."""
    if isinstance(side, DataFrame):
        if id_col not in side.columns:
            return None
        # limit BEFORE materializing: an oversized side must come back
        # as "not small", not OOM the driver inside collect()
        rows = side.select(id_col, *cols).limit(limit + 1).collect()
    else:
        rows = list(side)
    if not rows or len(rows) > limit or any(r[0] is None for r in rows):
        return None
    ids = np.array([int(r[0]) for r in rows], dtype=np.int64)
    if unique and np.unique(ids).size != ids.size:
        return None
    return (ids, np.array([float(r[1]) for r in rows]),
            np.array([float(r[2]) for r in rows]))


def _dim_arrays(side, what: str = "dim", id_col: str = None,
                cols=("lat", "lon"), unique: bool = False):
    """_small_side of a side that must be small; ValueError if not."""
    q = _small_side(side, id_col, cols, unique=unique)
    if q is None:
        raise ValueError(
            f"{what} side must have 1..{MAX_DIM_ROWS} rows and non-null"
            + (" unique" if unique else "") + " ids")
    return q


def make_nearest_dim_udf(dim_rows, k: int = 1,
                         a: float = WGS84_A, f: float = WGS84_F):
    """dim_rows: iterable of (id, lat, lon).  Returns a pandas UDF
    nearest(lat, lon):
      k == 1 -> nn_id long (nearest_id_kernel; the distance is the
               separate make_nearest_s12_udf column)
      k > 1  -> struct<nn_ids array<long>, nn_s12 array<double>>
               (ascending distance)."""
    dim_ids, dim_lat, dim_lon = _dim_arrays(dim_rows)
    dim_vec = _unit_vectors(dim_lat, dim_lon)
    g = GeodesicModel(a, f)

    if k == 1:
        @pandas_udf(T.LongType())
        def nn_id(lat: pd.Series, lon: pd.Series) -> pd.Series:
            return pd.Series(nearest_id_kernel(
                g, lat.to_numpy(np.float64), lon.to_numpy(np.float64),
                dim_ids, dim_lat, dim_lon, dim_vec))

        return nn_id

    schema = T.StructType([
        T.StructField("nn_ids", T.ArrayType(T.LongType()), False),
        T.StructField("nn_s12", T.ArrayType(T.DoubleType()), False),
    ])

    @pandas_udf(schema)
    def nearest(lat: pd.Series, lon: pd.Series) -> pd.DataFrame:
        la = lat.to_numpy(np.float64)
        lo = lon.to_numpy(np.float64)
        ids, s12 = nearest_dim_kernel(g, la, lo, dim_ids, dim_lat,
                                      dim_lon, dim_vec, k)
        return pd.DataFrame({"nn_ids": list(ids), "nn_s12": list(s12)})

    return nearest


def make_nearest_s12_udf(dim_rows, a: float = WGS84_A, f: float = WGS84_F):
    """Pandas UDF nn_s12(lat, lon, nn_id) -> double: the exact geodesic
    distance to the dim row with that id, NaN where nn_id is not a dim
    id (the -1 of a NaN row).  Ids must be unique, since the id is all
    that names the winner."""
    dim_ids, dim_lat, dim_lon = _dim_arrays(dim_rows)
    if np.unique(dim_ids).size != dim_ids.size:
        raise ValueError("dim ids must be unique for k=1 (s12 looks up "
                         "the nearest dim row by its id)")
    order = np.argsort(dim_ids)
    sorted_ids = dim_ids[order]
    g = GeodesicModel(a, f)

    @pandas_udf(T.DoubleType())
    def nn_s12(lat: pd.Series, lon: pd.Series,
               nn_id: pd.Series) -> pd.Series:
        ids = nn_id.to_numpy(np.int64)
        pos = np.minimum(np.searchsorted(sorted_ids, ids),
                         sorted_ids.size - 1)
        hit = sorted_ids[pos] == ids
        j = order[pos[hit]]
        out = np.full(ids.size, np.nan)
        out[hit] = kinverse(g, lat.to_numpy(np.float64)[hit],
                            lon.to_numpy(np.float64)[hit],
                            dim_lat[j], dim_lon[j], C.DISTANCE)["s12"]
        return pd.Series(out)

    return nn_s12


def _scan_join(points: DataFrame, queries, q, id_col: str, point_cols,
               g: GeodesicModel, cand, keep, k: int = None) -> DataFrame:
    """One map-only scan of `points` against the small side
    q = (ids, lat, lon), CHUNK rows at a time: cand(ang) marks the
    (point, query) candidates from the chord angles, the exact kernel
    measures them, keep(cols, s12) picks the rows to emit.  k set:
    a global window keeps each query's k nearest.  Then the q_-prefixed
    query columns are broadcast-joined back on q_<id_col>."""
    qids, qlat, qlon = q
    qvec = _unit_vectors(qlat, qlon)
    lat_col, lon_col = point_cols
    qkey = f"q_{id_col}"
    out_schema = T.StructType(
        list(points.schema.fields)
        + [T.StructField(qkey, T.LongType(), False),
           T.StructField("s12", T.DoubleType(), False)])

    def gen(batches):
        for pdf in batches:
            for lo_i in range(0, len(pdf), CHUNK):
                sub = pdf.iloc[lo_i:lo_i + CHUNK]
                la = sub[lat_col].to_numpy(np.float64)
                lo = sub[lon_col].to_numpy(np.float64)
                ang = np.arccos(np.clip(_unit_vectors(la, lo) @ qvec.T,
                                        -1.0, 1.0))
                rows, cols = np.nonzero(cand(ang))
                if rows.size == 0:
                    continue
                s12 = kinverse(g, la[rows], lo[rows], qlat[cols],
                               qlon[cols], C.DISTANCE)["s12"]
                sel = keep(cols, s12)
                out = sub.iloc[rows[sel]].copy()
                out[qkey] = qids[cols[sel]]
                out["s12"] = s12[sel]
                yield out

    out = points.mapInPandas(gen, out_schema)
    if k is not None:
        w = Window.partitionBy(qkey).orderBy(F.col("s12").asc())
        out = (out.withColumn("rank", F.row_number().over(w))
               .filter(F.col("rank") <= k))
    if not isinstance(queries, DataFrame):
        queries = _ldf.literal_df(
            points.sparkSession, zip(*(v.tolist() for v in q)),
            f"{id_col} long, lat double, lon double")
    return out.join(F.broadcast(queries.select(
        [F.col(c).alias(f"q_{c}") for c in queries.columns])), qkey)


def _knn_scan(points: DataFrame, queries, q, k: int, a: float, f: float,
              point_cols, id_col: str) -> DataFrame:
    """knn_points_topk over an already-read small side q."""
    g = GeodesicModel(a, f)
    ratio, pad = _chord_margin(g)

    def cand(ang):
        # a point is a candidate for a query if it could beat the
        # chunk's kth chord-nearest point to that query
        kk = min(k, ang.shape[0])
        kth = (np.partition(ang, kk - 1, axis=0)[kk - 1]
               if kk < ang.shape[0] else ang.max(axis=0))
        return ang <= kth * ratio + pad

    return _scan_join(points, queries, q, id_col, point_cols, g, cand,
                      lambda cols, s12: _first_k(cols, s12, k)[0], k=k)


def _radius_scan(points: DataFrame, queries, q, radius_m: float,
                 a: float, f: float, point_cols,
                 id_col: str) -> DataFrame:
    """radius_dim_join over an already-read small side q."""
    g = GeodesicModel(a, f)
    ratio, pad = _chord_margin(g)
    ang_max = (radius_m / g.b) * ratio + pad
    return _scan_join(points, queries, q, id_col, point_cols, g,
                      lambda ang: ang <= ang_max,
                      lambda cols, s12: np.flatnonzero(s12 <= radius_m))


def knn_points_topk(points: DataFrame, queries, k: int,
                    a: float = WGS84_A, f: float = WGS84_F,
                    point_cols=("lat", "lon"),
                    query_cols=("lat", "lon"),
                    id_col: str = "qid") -> DataFrame:
    """k nearest POINTS for each of a SMALL set of queries — the
    transposed shape of nearest_dim_join, as a classic distributed
    top-k: one scan of the points emits per-chunk local top-k
    candidates per query (chord prefilter + exact kernel, same margin
    bound as nearest_dim_kernel), then a tiny global window keeps the
    true top-k.  No ring logic, no driver rounds, no shuffle of the
    big side — the scale plan for "nearest images to each landmark"
    at 10^12 rows.

    queries: DataFrame (id, lat, lon) or iterable of (id, lat, lon),
    1..MAX_DIM_ROWS rows with unique non-null ids (the window keys on
    the id).  Output matches spatial_join.knn_join: q_* columns +
    point columns + s12 + rank.
    """
    q = _dim_arrays(queries, "query", id_col, query_cols, unique=True)
    return _knn_scan(points, queries, q, k, a, f, point_cols, id_col)


def radius_dim_join(points: DataFrame, queries, radius_m: float,
                    a: float = WGS84_A, f: float = WGS84_F,
                    point_cols=("lat", "lon"),
                    query_cols=("lat", "lon"),
                    id_col: str = "qid") -> DataFrame:
    """All (query, point) pairs with geodesic s12 <= radius_m, for a
    SMALL query set — map-only: the chord-angle bound sigma <= R/b
    (s12 >= b * sigma on the auxiliary sphere), widened by the same
    safety margin as nearest_dim_kernel, prefilters candidates inside
    the scan; the exact kernel refines.  No cover explode, no
    broadcast join, no shuffle of the big side.

    queries as in knn_points_topk (unique ids: the join back on the id
    would multiply rows).  Output matches spatial_join.distance_join:
    q_* columns + point columns + s12.
    """
    q = _dim_arrays(queries, "query", id_col, query_cols, unique=True)
    return _radius_scan(points, queries, q, radius_m, a, f, point_cols,
                        id_col)


def nearest_dim_join(big: DataFrame, dim, k: int = 1,
                     a: float = WGS84_A, f: float = WGS84_F,
                     lat_col: str = "lat", lon_col: str = "lon",
                     id_out: str = "nn_id", s12_out: str = "s12",
                     rank_out: str = "rank") -> DataFrame:
    """Annotate `big` with its k nearest dim rows (exact geodesic).

    dim: DataFrame with (id-like first column, lat, lon) OR an iterable
    of (id, lat, lon) tuples.  k=1 adds scalar columns (nn_id, s12),
    each from its own UDF, so a plan that never reads s12 never
    computes it; k>1 posexplodes to one output row per (big row, rank).
    """
    if isinstance(dim, DataFrame):
        dim = list(zip(*_dim_arrays(dim, id_col=dim.columns[0])))
    else:
        dim = list(dim)  # read twice for k=1
    udf = make_nearest_dim_udf(dim, k=k, a=a, f=f)
    lat, lon = F.col(lat_col), F.col(lon_col)
    if k == 1:
        s12 = make_nearest_s12_udf(dim, a=a, f=f)
        out = big.withColumn(id_out, udf(lat, lon))
        return out.withColumn(s12_out, s12(lat, lon, F.col(id_out)))
    out = big.withColumn("_nn", udf(lat, lon))
    zipped = F.arrays_zip(F.col("_nn.nn_ids").alias("i"),
                          F.col("_nn.nn_s12").alias("d"))
    out = out.select("*", F.posexplode(zipped).alias("_pos", "_pair"))
    return (out.withColumn(id_out, F.col("_pair.i"))
            .withColumn(s12_out, F.col("_pair.d"))
            .withColumn(rank_out, (F.col("_pos") + 1).cast("int"))
            .filter(F.col(id_out) >= 0)
            .drop("_nn", "_pos", "_pair"))
