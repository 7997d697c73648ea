"""Arrow pandas UDFs wrapping the vectorized geodesic kernels.

The factory functions bake the ellipsoid (a, f) and capability mask
into the UDF closure at plan-build time — the engine's analog of the
reference's capabilities gating (capabilities.go:15-68): Catalyst can
prune unused top-level columns, but it cannot see inside a Python UDF,
so the UDF itself must compute only the requested outputs.  Every UDF
is Series→Series over Arrow batches; there is no per-row Python
anywhere.

Output columns are emitted as a struct and immediately expanded to
top-level columns by the helper ``with_geodesic`` so downstream
Catalyst column pruning works.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from geographiclib_go_spark.kernels import caps as C
from geographiclib_go_spark.kernels import direct as kdirect
from geographiclib_go_spark.kernels import gnomonic as kgnomonic
from geographiclib_go_spark.kernels import inverse as kinverse
from geographiclib_go_spark.kernels import rhumb as krhumb
from geographiclib_go_spark.kernels.geodesic import (
    GeodesicModel, WGS84_A, WGS84_F)

# output field -> (kernel dict key, required capability bit).
# NOTE: Spark's analyzer is case-insensitive by default, so the
# reference's m12 (reduced length) vs M12 (geodesic scale) would
# collide as struct fields; the scales are exposed as scale_m12 /
# scale_m21.
_INV_FIELDS = (
    ("s12", "s12", C.DISTANCE),
    ("azi1", "azi1", C.AZIMUTH),
    ("azi2", "azi2", C.AZIMUTH),
    ("a12", "a12", 0),
    ("m12", "m12", C.REDUCED_LENGTH),
    ("scale_m12", "M12", C.GEODESIC_SCALE),
    ("scale_m21", "M21", C.GEODESIC_SCALE),
    ("s12_area", "S12area", C.AREA),
)

_DIR_FIELDS = (
    ("lat2", "lat2", C.LATITUDE),
    ("lon2", "lon2", C.LONGITUDE),
    ("azi2", "azi2", C.AZIMUTH),
    ("s12", "s12", C.DISTANCE),
    ("a12", "a12", 0),
    ("m12", "m12", C.REDUCED_LENGTH),
    ("scale_m12", "M12", C.GEODESIC_SCALE),
    ("scale_m21", "M21", C.GEODESIC_SCALE),
    ("s12_area", "S12area", C.AREA),
)


def _schema(fields) -> T.StructType:
    return T.StructType(
        [T.StructField(n, T.DoubleType(), True) for n in fields])


def _out_fields(field_table, mask: int):
    return [out for out, _, bit in field_table
            if bit == 0 or (mask & bit) == bit]


def make_inverse_udf(a: float = WGS84_A, f: float = WGS84_F,
                     mask: int = C.STANDARD):
    """geod_inverse(lat1, lon1, lat2, lon2) -> struct — THE spatial-join
    distance kernel (inverse.go:30-355 re-expressed in numpy)."""
    fields = _out_fields(_INV_FIELDS, mask)
    schema = _schema(fields)

    @pandas_udf(schema)
    def geod_inverse(lat1: pd.Series, lon1: pd.Series, lat2: pd.Series,
                     lon2: pd.Series) -> pd.DataFrame:
        g = GeodesicModel(a, f)  # tiny; rebuilt once per Arrow batch
        out = kinverse.inverse(
            g, lat1.to_numpy(np.float64), lon1.to_numpy(np.float64),
            lat2.to_numpy(np.float64), lon2.to_numpy(np.float64), mask)
        key = {o: k for o, k, _ in _INV_FIELDS}
        return pd.DataFrame({n: out[key[n]] for n in fields})

    return geod_inverse


def make_inverse_s12_udf(a: float = WGS84_A, f: float = WGS84_F):
    """Scalar geod_s12(lat1, lon1, lat2, lon2) -> double.  Join
    predicates use this instead of the struct UDF: a struct-field
    extraction referenced by both a Filter and a Project makes
    Catalyst evaluate the Python UDF twice; a scalar output becomes
    one attribute reused by both."""

    @pandas_udf(T.DoubleType())
    def geod_s12(lat1: pd.Series, lon1: pd.Series, lat2: pd.Series,
                 lon2: pd.Series) -> pd.Series:
        g = GeodesicModel(a, f)
        out = kinverse.gen_inverse(
            g, lat1.to_numpy(np.float64), lon1.to_numpy(np.float64),
            lat2.to_numpy(np.float64), lon2.to_numpy(np.float64),
            C.DISTANCE)
        return pd.Series(out["s12"])

    return geod_s12


def make_direct_udf(a: float = WGS84_A, f: float = WGS84_F,
                    mask: int = C.STANDARD, arcmode: bool = False):
    """geod_direct(lat1, lon1, azi1, s12_or_a12) -> struct
    (direct.go:13-22)."""
    fields = _out_fields(_DIR_FIELDS, mask)
    schema = _schema(fields)

    @pandas_udf(schema)
    def geod_direct(lat1: pd.Series, lon1: pd.Series, azi1: pd.Series,
                    s12: pd.Series) -> pd.DataFrame:
        g = GeodesicModel(a, f)
        fn = kdirect.arc_direct if arcmode else kdirect.direct
        out = fn(g, lat1.to_numpy(np.float64), lon1.to_numpy(np.float64),
                 azi1.to_numpy(np.float64), s12.to_numpy(np.float64), mask)
        key = {o: k for o, k, _ in _DIR_FIELDS}
        return pd.DataFrame({n: out[key[n]] for n in fields})

    return geod_direct


def make_waypoint_udf(a: float = WGS84_A, f: float = WGS84_F,
                      mask: int = C.STANDARD | C.LONG_UNROLL):
    """line_position(lat1, lon1, azi1, s) for exploded waypoint rows:
    each row is one (line, distance) pair; the whole Arrow batch
    vectorizes line setup + stepping together (line.go:75-454).  Use
    after ``explode(sequence(0, n))`` to fan a line out to waypoints."""
    fields = _out_fields(_DIR_FIELDS, mask)
    schema = _schema(fields)

    @pandas_udf(schema)
    def line_position(lat1: pd.Series, lon1: pd.Series, azi1: pd.Series,
                      s: pd.Series) -> pd.DataFrame:
        g = GeodesicModel(a, f)
        out = kdirect.direct(g, lat1.to_numpy(np.float64),
                             lon1.to_numpy(np.float64),
                             azi1.to_numpy(np.float64),
                             s.to_numpy(np.float64), mask)
        key = {o: k for o, k, _ in _DIR_FIELDS}
        return pd.DataFrame({n: out[key[n]] for n in fields})

    return line_position


def make_gnomonic_fwd_udf(a: float = WGS84_A, f: float = WGS84_F):
    schema = _schema(["x", "y", "azi", "rk"])

    @pandas_udf(schema)
    def gnomonic_fwd(lat0: pd.Series, lon0: pd.Series, lat: pd.Series,
                     lon: pd.Series) -> pd.DataFrame:
        g = GeodesicModel(a, f)
        out = kgnomonic.gnomonic_forward(
            g, lat0.to_numpy(np.float64), lon0.to_numpy(np.float64),
            lat.to_numpy(np.float64), lon.to_numpy(np.float64))
        return pd.DataFrame(out)

    return gnomonic_fwd


def make_rhumb_inverse_udf(a: float = WGS84_A, f: float = WGS84_F):
    """rhumb_inverse(lat1, lon1, lat2, lon2) -> struct(s12, azi12):
    loxodrome length + constant course (kernels/rhumb.py — not in the
    Go port; follows the published geographiclib Rhumb semantics)."""
    schema = _schema(["s12", "azi12"])

    @pandas_udf(schema)
    def rhumb_inv(lat1: pd.Series, lon1: pd.Series, lat2: pd.Series,
                  lon2: pd.Series) -> pd.DataFrame:
        r = krhumb.RhumbModel(a, f)
        out = krhumb.rhumb_inverse(
            r, lat1.to_numpy(np.float64), lon1.to_numpy(np.float64),
            lat2.to_numpy(np.float64), lon2.to_numpy(np.float64))
        return pd.DataFrame({"s12": out["s12"], "azi12": out["azi12"]})

    return rhumb_inv


def make_rhumb_direct_udf(a: float = WGS84_A, f: float = WGS84_F):
    """rhumb_direct(lat1, lon1, azi12, s12) -> struct(lat2, lon2)."""
    schema = _schema(["lat2", "lon2"])

    @pandas_udf(schema)
    def rhumb_dir(lat1: pd.Series, lon1: pd.Series, azi12: pd.Series,
                  s12: pd.Series) -> pd.DataFrame:
        r = krhumb.RhumbModel(a, f)
        out = krhumb.rhumb_direct(
            r, lat1.to_numpy(np.float64), lon1.to_numpy(np.float64),
            azi12.to_numpy(np.float64), s12.to_numpy(np.float64))
        return pd.DataFrame({"lat2": out["lat2"], "lon2": out["lon2"]})

    return rhumb_dir


def with_geodesic(df: DataFrame, udf_col: Column, prefix: str = "",
                  struct_name: str = "_geo") -> DataFrame:
    """Apply a struct-returning kernel UDF and expand to top-level
    columns so Catalyst prunes what downstream doesn't use."""
    df = df.withColumn(struct_name, udf_col)
    names = [f.name for f in df.schema[struct_name].dataType.fields]
    for n in names:
        df = df.withColumn(prefix + n, F.col(f"{struct_name}.{n}"))
    return df.drop(struct_name)
