"""Per-layer probes for the traced run.  Each probe times calls into
one layer's public functions from outside, on inputs drawn from the
run's seed, and reports the median of a few repetitions.  The same
probes run on every workload, so every traced run reports every
layer.  The Spark, UDF-profiler and tracing-overhead numbers come from
the workload's own traced iterations instead (see run.py), and so do
the snapshot-store numbers on staged_resume.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd

from perfbench import datagen, workloads
from perfbench.metrics import PROBE_QUERIES
from perfbench.trace import job_group

REPS = 3
KERNEL_ROWS = 65_536  # per repetition, for the in-process kernels
PROBE_ROWS = 500_000  # cached placements for the Spark stage probes
PROBE_IMAGES = 5_000
TILE_RES = workloads.TILE_RES


def _median_s(fn, reps: int = REPS) -> float:
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _points(rng, n: int):
    """Area-uniform points on the sphere, in degrees."""
    return (np.degrees(np.arcsin(rng.uniform(-1.0, 1.0, n))),
            rng.uniform(-180.0, 180.0, n))


def kernel_probes(ctx) -> dict:
    """Single-core, in-process rates of the numpy kernels and of the
    nearest-landmark kernel behind its pandas UDF."""
    from geographiclib_go_spark.kernels import caps as C
    from geographiclib_go_spark.kernels import inverse as kinv
    from geographiclib_go_spark.kernels.direct import direct
    from geographiclib_go_spark.kernels.geodesic import (
        GeodesicModel, WGS84_A, WGS84_F)
    from geographiclib_go_spark.operators import cells, nearest
    from geographiclib_go_spark.plans.pipeline import DEFAULT_LANDMARKS
    rng = np.random.default_rng(ctx.seed + 1)
    g = GeodesicModel(WGS84_A, WGS84_F)
    lat1, lon1 = _points(rng, KERNEL_ROWS)
    lat2, lon2 = _points(rng, KERNEL_ROWS)
    m = {}
    for label, b in (("b1k", 1024), ("b8k", 8192), ("b64k", 65536)):
        def run():
            for j in range(0, KERNEL_ROWS, b):
                kinv.inverse(g, lat1[j:j + b], lon1[j:j + b],
                             lat2[j:j + b], lon2[j:j + b], C.DISTANCE)
        with ctx.tracer.span("kernels.inverse", batch=b):
            m[f"kernels.inverse.pairs_per_s.{label}"] = KERNEL_ROWS / _median_s(run)
    azi = rng.uniform(-180.0, 180.0, KERNEL_ROWS)
    s12 = rng.uniform(0.0, 2.0e7, KERNEL_ROWS)
    with ctx.tracer.span("kernels.direct", batch=KERNEL_ROWS):
        m["kernels.direct.rows_per_s.b64k"] = KERNEL_ROWS / _median_s(
            lambda: direct(g, lat1, lon1, azi, s12, C.STANDARD))
    with ctx.tracer.span("operators.cells.cell_from_latlon"):
        m["operators.cells.rows_per_s"] = KERNEL_ROWS / _median_s(
            lambda: cells.cell_from_latlon(lat1, lon1, TILE_RES))

    udf = nearest.make_nearest_dim_udf(DEFAULT_LANDMARKS, k=1).func
    lat_s, lon_s = pd.Series(lat1), pd.Series(lon1)
    with ctx.tracer.span("operators.nearest.kernel"):
        m["operators.nearest.kernel_rows_per_s"] = KERNEL_ROWS / _median_s(
            lambda: udf(lat_s, lon_s))
    # count the pairs that reach the exact inverse kernel: every
    # inverse call funnels through kernels.inverse.gen_inverse
    pairs = [0]
    gen_inverse = kinv.gen_inverse

    def counting(g_, lat, *args, **kw):
        pairs[0] += np.size(lat)
        return gen_inverse(g_, lat, *args, **kw)
    kinv.gen_inverse = counting
    try:
        udf(lat_s, lon_s)
    finally:
        kinv.gen_inverse = gen_inverse
    m["operators.nearest.inverse_pairs_per_row"] = pairs[0] / KERNEL_ROWS
    return m


def spark_probes(ctx) -> dict:
    """The tiling and nearest Spark steps alone over cached rows, the
    pandas-UDF boundary with an identity UDF over the same two
    columns, and the image source's generate and decode steps."""
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf
    from geographiclib_go_spark.operators import nearest, tiling
    from geographiclib_go_spark.plans.pipeline import DEFAULT_LANDMARKS
    from geographiclib_go_spark.sources import images as im
    spark, m = ctx.spark, {}

    @pandas_udf(T.StructType([T.StructField("lat", T.DoubleType()),
                              T.StructField("lon", T.DoubleType())]))
    def identity(lat: pd.Series, lon: pd.Series) -> pd.DataFrame:
        return pd.DataFrame({"lat": lat, "lon": lon})

    job_group(spark, "probe:spark")
    cached = workloads.cached_placements(spark, ctx.seed, PROBE_ROWS)
    with ctx.tracer.span("operators.tiling.assign_tiles"):
        m["operators.tiling.stage_s"] = _median_s(
            lambda: _noop(tiling.assign_tiles(cached, TILE_RES)))
    with ctx.tracer.span("operators.nearest.nearest_dim_join"):
        m["operators.nearest.stage_s"] = _median_s(lambda: _noop(
            nearest.nearest_dim_join(cached, DEFAULT_LANDMARKS, k=1)))
    with ctx.tracer.span("udf.identity"):
        m["udf.identity_rows_per_s"] = PROBE_ROWS / _median_s(
            lambda: _noop(cached.select(identity("lat", "lon").alias("p"))))
    cached.unpersist()

    with ctx.tracer.span("sources.images.generate_images"):
        m["sources.images.generate_rows_per_s"] = PROBE_IMAGES / _median_s(
            lambda: _noop(im.generate_images(spark, PROBE_IMAGES, skew_pct=3)))
    images = im.generate_images(spark, PROBE_IMAGES, skew_pct=3).cache()
    images.count()
    with ctx.tracer.span("sources.images.decode_invariants"):
        m["sources.images.decode_invariants_rows_per_s"] = \
            PROBE_IMAGES / _median_s(lambda: _noop(im.decode_invariants(images)))
    images.unpersist()
    return m


def lineage_probes(ctx, outcome) -> dict:
    """Snapshot-store numbers.  On staged_resume they come from the
    workload's traced cycles (six stages per build); elsewhere from
    one probe stage, run_stage over PROBE_ROWS generated placements
    tiled, and its resume.  partition_lineage and verify_stage are
    timed on the committed `tiles` stage (staged_resume) or the probe
    stage."""
    from geographiclib_go_spark.operators import tiling
    from geographiclib_go_spark.plans import lineage
    spark = ctx.spark
    job_group(spark, "probe:lineage")
    if outcome.lineage is not None:
        cycles = ([c for c in outcome.lineage["cycles"] if c["traced"]]
                  or outcome.lineage["cycles"])
        root, stage = outcome.lineage["root"], "tiles"
        ctx.notes["commits"] = [c["commits"] for c in cycles]
        ctx.notes["plans.lineage.build_s_by_stage"] = {
            s: statistics.median(c["stage_build_s"][s] for c in cycles)
            for s in cycles[0]["stage_build_s"]}
        m = {"plans.lineage.build_s": statistics.median(
                sum(c["stage_build_s"].values()) for c in cycles)}
        for key, name in (("stored_bytes", "bytes_written"),
                          ("n_files", "n_files"), ("resume_s", "resume_s")):
            m[f"plans.lineage.{name}"] = statistics.median(c[key] for c in cycles)
    else:
        root, stage = f"{ctx.work}/lineage_probe", "probe_tiles"

        def run():
            return lineage.run_stage(
                spark, root, stage, lambda: tiling.assign_tiles(
                    workloads.placements(spark, ctx.seed, PROBE_ROWS),
                    TILE_RES), input_fingerprint="probe")
        with ctx.tracer.span("plans.lineage.run_stage", mode="build"):
            run()
        with ctx.tracer.span("plans.lineage.run_stage", mode="resume"):
            resume = _median_s(run)
        commit = lineage.current_snapshot(root, stage)
        ctx.notes["commits"] = [{stage: commit}]
        m = {"plans.lineage.build_s": commit["wall_s"],
             "plans.lineage.bytes_written": workloads.stored_bytes(root, stage),
             "plans.lineage.n_files": commit["n_files"],
             "plans.lineage.resume_s": resume}
    with ctx.tracer.span("plans.lineage.partition_lineage"):
        m["plans.lineage.partition_lineage_s"] = _median_s(
            lambda: lineage.partition_lineage(
                lineage.read_stage(spark, root, stage)).collect())
    verified = []
    with ctx.tracer.span("plans.lineage.verify_stage"):
        m["plans.lineage.verify_stage_s"] = _median_s(
            lambda: verified.append(lineage.verify_stage(spark, root, stage)))
    ctx.checks.expect(f"verify_stage {stage}", all(verified), str(verified))
    return m


def query_probes(ctx) -> dict:
    """Registered queries timed to the noop sink over seeded tables of
    the sf0.1 test data's shape (datagen): the relational star join and
    the two corpus queries whose r5 slowdowns were left unexplained."""
    import __spark_entry__ as entry
    spark, fns, m = ctx.spark, entry.queries(), {}
    data = f"{ctx.work}/query_data"
    datagen.write_tables(data, ctx.seed)
    for q in PROBE_QUERIES:
        job_group(spark, f"probe:query:{q}")

        def run():
            _noop(fns[q](spark, data))
            spark.catalog.clearCache()
        # the first run of a plan shape pays code generation (2-3x a
        # warm run at local[4]), so it is left out
        with ctx.tracer.span(f"queries.{q}.warmup"):
            run()
        with ctx.tracer.span(f"queries.{q}"):
            m[f"queries.{q}_s"] = _median_s(run, reps=1)
    return m
