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

from pyspark.sql import DataFrame
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

    # per-row top-k among candidates: sort by (row, s12), take first kk
    order = np.lexsort((s12, rows))
    rows_o, cols_o, s_o = rows[order], cols[order], s12[order]
    # position of each candidate within its row group
    first = np.r_[True, rows_o[1:] != rows_o[:-1]]
    grp_start = np.maximum.accumulate(np.where(first,
                                               np.arange(rows_o.size), 0))
    pos = np.arange(rows_o.size) - grp_start
    keep = pos < kk

    out_ids = np.full((n, kk), -1, dtype=np.int64)
    out_s12 = np.full((n, kk), np.nan)
    out_ids[rows_o[keep], pos[keep]] = dim_ids[cols_o[keep]]
    out_s12[rows_o[keep], pos[keep]] = s_o[keep]
    return out_ids, out_s12


def _dim_arrays(dim_rows):
    """dim_rows: iterable of (id, lat, lon) -> (ids int64, lat, lon)."""
    dim = list(dim_rows)
    if not dim or len(dim) > MAX_DIM_ROWS:
        raise ValueError(f"dim side must have 1..{MAX_DIM_ROWS} rows")
    return (np.array([int(r[0]) for r in dim], dtype=np.int64),
            np.array([float(r[1]) for r in dim]),
            np.array([float(r[2]) for r in dim]))


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

    queries: DataFrame (id, lat, lon) or iterable of (id, lat, lon).
    Output matches spatial_join.knn_join: q_* columns + point columns
    + s12 + rank.
    """
    spark = points.sparkSession
    if isinstance(queries, DataFrame):
        qdf = queries
        # limit-probe BEFORE materializing: an oversized query side must
        # raise, not OOM the driver inside collect()
        qrows = [(r[id_col], r[query_cols[0]], r[query_cols[1]])
                 for r in qdf.limit(MAX_DIM_ROWS + 1).collect()]
    else:
        qrows = list(queries)
        qdf = _ldf.literal_df(
            spark, [(int(i), float(la), float(lo)) for i, la, lo in qrows],
            f"{id_col} long, lat double, lon double")
    if not qrows or len(qrows) > MAX_DIM_ROWS:
        raise ValueError(f"query side must have 1..{MAX_DIM_ROWS} rows")
    qids = np.array([int(r[0]) for r in qrows], dtype=np.int64)
    if np.unique(qids).size != qids.size:
        raise ValueError(
            f"{id_col} must be unique for the scan-topk strategy "
            "(the global window merges duplicate ids into one top-k); "
            "dedupe the query side or use the cover/ring strategy")
    qlat = np.array([float(r[1]) for r in qrows])
    qlon = np.array([float(r[2]) for r in qrows])
    qvec = _unit_vectors(qlat, qlon)
    g = GeodesicModel(a, f)
    ratio, pad = _chord_margin(g)
    lat_col, lon_col = point_cols

    qkey = f"q_{id_col}"
    from pyspark.sql import types as T
    out_schema = T.StructType(
        list(points.schema.fields)
        + [T.StructField(qkey, T.LongType(), False),
           T.StructField("s12", T.DoubleType(), False)])

    def gen(batches):
        for pdf in batches:
            n_all = len(pdf)
            for lo_i in range(0, n_all, CHUNK):
                sub = pdf.iloc[lo_i:lo_i + CHUNK]
                la = sub[lat_col].to_numpy(np.float64)
                lo = sub[lon_col].to_numpy(np.float64)
                kk = min(k, la.size)
                if kk == 0:
                    continue
                p = _unit_vectors(la, lo)
                ang = np.arccos(np.clip(p @ qvec.T, -1.0, 1.0))
                if kk < la.size:
                    kth = np.partition(ang, kk - 1, axis=0)[kk - 1, :]
                else:
                    kth = ang.max(axis=0)
                cand = ang <= (kth[None, :] * ratio + pad)
                rows, cols = np.nonzero(cand)
                s12 = kinverse(g, la[rows], lo[rows], qlat[cols],
                               qlon[cols], C.DISTANCE)["s12"]
                order = np.lexsort((s12, cols))
                rows_o, cols_o, s_o = (rows[order], cols[order],
                                       s12[order])
                first = np.r_[True, cols_o[1:] != cols_o[:-1]]
                grp = np.maximum.accumulate(
                    np.where(first, np.arange(cols_o.size), 0))
                keep = (np.arange(cols_o.size) - grp) < kk
                out = sub.iloc[rows_o[keep]].copy()
                out[qkey] = qids[cols_o[keep]]
                out["s12"] = s_o[keep]
                yield out

    cand_df = points.mapInPandas(gen, out_schema)
    from pyspark.sql import Window
    w = Window.partitionBy(qkey).orderBy(F.col("s12").asc())
    top = (cand_df.withColumn("rank", F.row_number().over(w))
           .filter(F.col("rank") <= k))
    q_pref = qdf
    for c in q_pref.columns:
        q_pref = q_pref.withColumnRenamed(c, f"q_{c}")
    return top.join(F.broadcast(q_pref), qkey)


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

    Output matches spatial_join.distance_join: q_* columns + point
    columns + s12.
    """
    spark = points.sparkSession
    if isinstance(queries, DataFrame):
        qdf = queries
        # limit-probe BEFORE materializing (see knn_points_topk)
        qrows = [(r[id_col], r[query_cols[0]], r[query_cols[1]])
                 for r in qdf.limit(MAX_DIM_ROWS + 1).collect()]
    else:
        qrows = list(queries)
        qdf = _ldf.literal_df(
            spark, [(int(i), float(la), float(lo)) for i, la, lo in qrows],
            f"{id_col} long, lat double, lon double")
    if not qrows or len(qrows) > MAX_DIM_ROWS:
        raise ValueError(f"query side must have 1..{MAX_DIM_ROWS} rows")
    qids = np.array([int(r[0]) for r in qrows], dtype=np.int64)
    if np.unique(qids).size != qids.size:
        raise ValueError(
            f"{id_col} must be unique for the scan strategy (the "
            "re-join on the id would multiply candidate rows); dedupe "
            "the query side or use the cover strategy")
    qlat = np.array([float(r[1]) for r in qrows])
    qlon = np.array([float(r[2]) for r in qrows])
    qvec = _unit_vectors(qlat, qlon)
    g = GeodesicModel(a, f)
    ratio, pad = _chord_margin(g)
    ang_max = (radius_m / g.b) * ratio + pad
    lat_col, lon_col = point_cols
    qkey = f"q_{id_col}"
    out_schema = T.StructType(
        list(points.schema.fields)
        + [T.StructField(qkey, T.LongType(), False),
           T.StructField("s12", T.DoubleType(), False)])

    def gen(batches):
        for pdf in batches:
            n_all = len(pdf)
            for lo_i in range(0, n_all, CHUNK):
                sub = pdf.iloc[lo_i:lo_i + CHUNK]
                la = sub[lat_col].to_numpy(np.float64)
                lo = sub[lon_col].to_numpy(np.float64)
                if la.size == 0:
                    continue
                p = _unit_vectors(la, lo)
                ang = np.arccos(np.clip(p @ qvec.T, -1.0, 1.0))
                rows, cols = np.nonzero(ang <= ang_max)
                if rows.size == 0:
                    continue
                s12 = kinverse(g, la[rows], lo[rows], qlat[cols],
                               qlon[cols], C.DISTANCE)["s12"]
                keep = s12 <= radius_m
                out = sub.iloc[rows[keep]].copy()
                out[qkey] = qids[cols[keep]]
                out["s12"] = s12[keep]
                yield out

    cand_df = points.mapInPandas(gen, out_schema)
    q_pref = qdf
    for c in q_pref.columns:
        q_pref = q_pref.withColumnRenamed(c, f"q_{c}")
    return cand_df.join(F.broadcast(q_pref), qkey)


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
        cols = dim.columns
        # limit-probe BEFORE materializing; make_nearest_dim_udf re-checks
        # the exact 1..MAX_DIM_ROWS bound on whatever list arrives
        dim = [(r[cols[0]], r["lat"], r["lon"])
               for r in dim.limit(MAX_DIM_ROWS + 1).collect()]
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
