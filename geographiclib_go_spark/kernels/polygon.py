"""Geodesic polygon perimeter/area — vectorized edge fold.

Semantics from the reference's PolygonArea
(/root/reference/geodesic/polygon.go:29-339): fold Inverse over
consecutive vertex pairs, accumulate S12 (perimeter) and S12Area at
extended precision, count prime-meridian transits, and reduce the raw
area by the ellipsoid area with pole-crossing correction.

The batch entry point `polygon_compute` takes a whole polygon's vertex
arrays and runs ONE vectorized inverse over all edges (np.roll
pairing).  Accumulation uses math.fsum (exactly-rounded sum — at
least as accurate as the reference's double-double accumulator,
accumulator.go:18-97).  The Spark layer maps polygons to groups via
``groupBy(poly_id).applyInPandas`` so every group runs this kernel;
for distributed partial aggregation the (hi, lo) 2Sum merge in
``dd_add`` keeps the 106-bit guarantee across partitions.
"""

from __future__ import annotations

import math

import numpy as np

from geographiclib_go_spark.kernels import caps as C
from geographiclib_go_spark.kernels import geomath as gm
from geographiclib_go_spark.kernels import inverse as kinverse
from geographiclib_go_spark.kernels import direct as kdirect
from geographiclib_go_spark.kernels.geodesic import GeodesicModel

POLYGON_CAPS = C.LATITUDE | C.LONGITUDE | C.DISTANCE | C.AREA | C.LONG_UNROLL
POLYLINE_CAPS = C.LATITUDE | C.LONGITUDE | C.DISTANCE


def transit(lon1, lon2):
    """Prime-meridian crossing count for an edge, elementwise
    (polygon.go:262-275): +1 east-going, -1 west-going, else 0."""
    lon12, _ = gm.ang_diff(lon1, lon2)
    l1 = gm.ang_normalize(lon1)
    l2 = gm.ang_normalize(lon2)
    east = (lon12 > 0) & (((l1 < 0) & (l2 >= 0)) | ((l1 > 0) & (l2 == 0)))
    west = (lon12 < 0) & (l1 >= 0) & (l2 < 0)
    return np.where(east, 1, np.where(west, -1, 0)).astype(np.int64)


def transit_direct(lon1, lon2):
    """Transit counter for direct-problem longitudes
    (polygon.go:279-287): floor(lon2/360) - floor(lon1/360), exactly."""
    lon1 = gm.remainder(gm.arr(lon1), 720.0)
    lon2 = gm.remainder(gm.arr(lon2), 720.0)
    t2 = np.where((lon2 >= 0) & (lon2 < 360), 0, 1)
    t1 = np.where((lon1 >= 0) & (lon1 < 360), 0, 1)
    return (t2 - t1).astype(np.int64)


def area_reduce(area: float, area0: float, crossings: int,
                reverse: bool, sign: bool) -> float:
    """Reduce raw area sum to the convention-correct value
    (polygon.go:315-339)."""
    area = math.remainder(area, area0)
    if crossings & 1:
        area += (1 if area < 0 else -1) * area0 / 2
    if not reverse:
        area *= -1
    if sign:
        if area > area0 / 2:
            area -= area0
        elif area <= -area0 / 2:
            area += area0
    else:
        if area >= area0:
            area -= area0
        elif area < 0:
            area += area0
    return 0.0 + area


def polygon_compute(g: GeodesicModel, lats, lons, polyline: bool = False,
                    reverse: bool = False, sign: bool = True) -> dict:
    """Perimeter/area of one polygon (vertex arrays, in order).

    Matches PolygonArea.Compute(reverse, sign) after AddPoint of every
    vertex (polygon.go:85-99, 154-168).  Returns
    {"num", "perimeter", "area"}.
    """
    lats = gm.arr(lats)
    lons = gm.arr(lons)
    num = int(lats.size)
    if num < 2:
        return {"num": num, "perimeter": 0.0,
                "area": math.nan if polyline else 0.0}

    caps = POLYLINE_CAPS if polyline else POLYGON_CAPS
    if polyline:
        la1, lo1 = lats[:-1], lons[:-1]
        la2, lo2 = lats[1:], lons[1:]
    else:  # close the ring: edges i -> i+1 plus last -> first
        la1, lo1 = lats, lons
        la2, lo2 = np.roll(lats, -1), np.roll(lons, -1)
    inv = kinverse.gen_inverse(g, la1, lo1, la2, lo2, caps)
    perimeter = math.fsum(inv["s12"].tolist())
    if polyline:
        return {"num": num, "perimeter": perimeter, "area": math.nan}

    raw_area = math.fsum(inv["S12area"].tolist())
    crossings = int(transit(lo1, lo2).sum())
    area = area_reduce(raw_area, g.ellipsoid_area, crossings, reverse, sign)
    return {"num": num, "perimeter": perimeter, "area": area}


# --- double-double (hi, lo) accumulation for distributed merges ----------

def dd_add(hi, lo, y):
    """Shewchuk accumulator add (accumulator.go:50-85), elementwise:
    state (hi, lo) += y with ~106-bit precision."""
    y2, u = gm.sum2(y, lo)
    hi2, lo2 = gm.sum2(y2, hi)
    zero = hi2 == 0
    hi2 = np.where(zero, u, hi2)
    lo2 = np.where(zero, 0.0, lo2 + u)
    return hi2, lo2


def dd_sum_array(values: np.ndarray) -> tuple:
    """Fold an array into a (hi, lo) pair (driver/partition-side)."""
    hi = 0.0
    lo = 0.0
    hi = np.float64(0.0)
    lo = np.float64(0.0)
    for v in values:
        hi, lo = dd_add(hi, lo, np.float64(v))
    return float(hi), float(lo)
