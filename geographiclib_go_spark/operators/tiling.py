"""Tiling, skew handling, and the distributed polygon aggregate.

- tile assignment: tile_id = cell id at tile resolution — one
  vectorized kernel call, no shuffle (map-side only).
- hot cells (north rule's explicit skew handling): no salt on an
  aggregate, whose partial aggregation already folds a hot key to one
  row per map task (the pipeline's tile_stats is one groupBy).  A hot
  key really lands in one task only in a holistic operator: the salted
  (tile, salt) Window of queries.image_tile_rebalance.  AQE skew-join
  splitting stays on as the runtime backstop for joins.
- polygon_area_agg: groupBy(poly_id).applyInPandas running the
  vectorized edge fold (polygon.go:85-168 semantics; exactly-rounded
  accumulation) — one Arrow batch per polygon.
- polygon_area_distributed: the scale path for polygons too large for
  one group: window lead() pairs consecutive vertices, the edge kernel
  runs map-side, and the (hi, lo) double-double partial sums merge
  associatively (accumulator.go:50-85) through a two-stage aggregation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from geographiclib_go_spark.kernels import caps as C
from geographiclib_go_spark.kernels.geodesic import (
    GeodesicModel, WGS84_A, WGS84_F)
from geographiclib_go_spark.kernels import polygon as kpoly
from geographiclib_go_spark.functions.geodesic_udfs import make_inverse_udf
from geographiclib_go_spark.operators.spatial_join import with_cell


def assign_tiles(df: DataFrame, tile_res: int, lat_col: str = "lat",
                 lon_col: str = "lon", out: str = "tile_id") -> DataFrame:
    """tile_id = cell at tile resolution (map-side, shuffle-free)."""
    return with_cell(df, tile_res, lat_col, lon_col, out=out)


POLY_RESULT_SCHEMA = T.StructType([
    T.StructField("poly_id", T.LongType(), False),
    T.StructField("num", T.IntegerType(), False),
    T.StructField("perimeter", T.DoubleType(), True),
    T.StructField("area", T.DoubleType(), True),
])


def polygon_area_agg(vertices: DataFrame, a: float = WGS84_A,
                     f: float = WGS84_F, polyline: bool = False,
                     reverse: bool = False, sign: bool = True,
                     poly_col: str = "poly_id", seq_col: str = "seq",
                     lat_col: str = "lat",
                     lon_col: str = "lon") -> DataFrame:
    """Perimeter/area per polygon from a (poly_id, seq, lat, lon)
    vertex table — grouped-map kernel, one vectorized fold per group."""

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(seq_col)
        g = GeodesicModel(a, f)
        r = kpoly.polygon_compute(
            g, pdf[lat_col].to_numpy(np.float64),
            pdf[lon_col].to_numpy(np.float64),
            polyline=polyline, reverse=reverse, sign=sign)
        return pd.DataFrame({
            "poly_id": [pdf[poly_col].iloc[0]],
            "num": [r["num"]],
            "perimeter": [r["perimeter"]],
            "area": [r["area"]],
        })

    return vertices.groupBy(poly_col).applyInPandas(
        fold, POLY_RESULT_SCHEMA)


_EDGE_SCHEMA = T.StructType([
    T.StructField("s12", T.DoubleType(), True),
    T.StructField("s12area", T.DoubleType(), True),
    T.StructField("transit", T.IntegerType(), True),
])


def polygon_area_distributed(vertices: DataFrame, a: float = WGS84_A,
                             f: float = WGS84_F, reverse: bool = False,
                             sign: bool = True, poly_col: str = "poly_id",
                             seq_col: str = "seq", lat_col: str = "lat",
                             lon_col: str = "lon") -> DataFrame:
    """Scale path for giant polygons: lead() vertex pairing -> map-side
    edge kernel -> double-double (hi, lo) partial+final aggregation.

    The 2Sum merge keeps the reference's 106-bit accumulation guarantee
    across arbitrary partitioning (accumulator.go:18-97); the final
    area reduction runs in a tiny finishing UDF per polygon.
    """
    w = Window.partitionBy(poly_col).orderBy(seq_col)
    # close the ring: last vertex pairs with the first
    first_lat = F.first(lat_col).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    first_lon = F.first(lon_col).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    v = vertices.withColumn("_nlat", F.lead(lat_col).over(w)) \
                .withColumn("_nlon", F.lead(lon_col).over(w)) \
                .withColumn("_nlat", F.coalesce("_nlat", first_lat)) \
                .withColumn("_nlon", F.coalesce("_nlon", first_lon))

    @pandas_udf(_EDGE_SCHEMA)
    def edge_kernel(lat1: pd.Series, lon1: pd.Series, lat2: pd.Series,
                    lon2: pd.Series) -> pd.DataFrame:
        g = GeodesicModel(a, f)
        from geographiclib_go_spark.kernels import inverse as kinv
        inv = kinv.gen_inverse(
            g, lat1.to_numpy(np.float64), lon1.to_numpy(np.float64),
            lat2.to_numpy(np.float64), lon2.to_numpy(np.float64),
            kpoly.POLYGON_CAPS)
        tr = kpoly.transit(lon1.to_numpy(np.float64),
                           lon2.to_numpy(np.float64))
        return pd.DataFrame({"s12": inv["s12"], "s12area": inv["S12area"],
                             "transit": tr.astype(np.int32)})

    edges = v.withColumn(
        "_e", edge_kernel(F.col(lat_col), F.col(lon_col),
                          F.col("_nlat"), F.col("_nlon")))

    # double-double partial aggregation per (poly, shuffle partition)
    part_schema = T.StructType([
        T.StructField("poly_id", T.LongType(), False),
        T.StructField("num", T.LongType(), False),
        T.StructField("per_hi", T.DoubleType(), False),
        T.StructField("per_lo", T.DoubleType(), False),
        T.StructField("area_hi", T.DoubleType(), False),
        T.StructField("area_lo", T.DoubleType(), False),
        T.StructField("crossings", T.LongType(), False),
    ])

    def partial(pdf: pd.DataFrame) -> pd.DataFrame:
        per_hi, per_lo = kpoly.dd_sum_array(pdf["s12"].to_numpy())
        ar_hi, ar_lo = kpoly.dd_sum_array(pdf["s12area"].to_numpy())
        return pd.DataFrame({
            "poly_id": [pdf["poly_id"].iloc[0]],
            "num": [len(pdf)],
            "per_hi": [per_hi], "per_lo": [per_lo],
            "area_hi": [ar_hi], "area_lo": [ar_lo],
            "crossings": [int(pdf["transit"].sum())],
        })

    flat = edges.select(
        F.col(poly_col).alias("poly_id"),
        F.col("_e.s12").alias("s12"),
        F.col("_e.s12area").alias("s12area"),
        F.col("_e.transit").alias("transit"),
        F.spark_partition_id().alias("_pid"))
    partials = flat.groupBy("poly_id", "_pid").applyInPandas(
        lambda pdf: partial(pdf), part_schema)

    def final(pdf: pd.DataFrame) -> pd.DataFrame:
        g = GeodesicModel(a, f)
        hi = np.float64(0.0)
        lo = np.float64(0.0)
        for h, l in zip(pdf["per_hi"], pdf["per_lo"]):
            hi, lo = kpoly.dd_add(hi, lo, np.float64(l))
            hi, lo = kpoly.dd_add(hi, lo, np.float64(h))
        per = float(hi)
        hi = np.float64(0.0)
        lo = np.float64(0.0)
        for h, l in zip(pdf["area_hi"], pdf["area_lo"]):
            hi, lo = kpoly.dd_add(hi, lo, np.float64(l))
            hi, lo = kpoly.dd_add(hi, lo, np.float64(h))
        area = kpoly.area_reduce(float(hi), g.ellipsoid_area,
                                 int(pdf["crossings"].sum()),
                                 reverse, sign)
        return pd.DataFrame({
            "poly_id": [pdf["poly_id"].iloc[0]],
            "num": [int(pdf["num"].sum())],
            "perimeter": [per],
            "area": [area],
        })

    return partials.groupBy("poly_id").applyInPandas(
        final, POLY_RESULT_SCHEMA)
