"""The workloads.  Each prepares its inputs (set-up), warms up,
then runs timed iterations until the measuring window is used, and
checks every output it times.

Sizes are fixed here rather than passed in, so every run of a
workload does the same work; they were chosen so that one run of
each workload, set-up included, fits the time a run may take.
"""

from __future__ import annotations

import functools
import hashlib
import os
import shutil
import statistics
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from perfbench.trace import job_group

# tile_join: cached placements per run.  One warm iteration takes
# about 2.8 s at local[4].
TILE_ROWS = 1_000_000
TILE_RES = 6
TILE_WARMUP = 3
NN_SAMPLE = 2_000
# staged_resume: images per build.  Build cost is mostly per-stage
# job overhead, so the size barely moves it.
STAGED_IMAGES = 10_000
STAGED_WARMUP = 2
# input preparation that can be redone without changing state is
# repeated, and its median counted in setup_s
SETUP_REPEATS = 3


class Checks:
    """Counts operations attempted and failed; a failed output check
    and a raised error both count as a failure."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems = []

    def expect(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(f"{name}: {detail}")
        return ok

    def error(self, name: str) -> None:
        self.attempted += 1
        self.failed += 1
        self.problems.append(f"{name}: {traceback.format_exc(limit=3)}")


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    traced: bool
    work: str
    tracer: object
    checks: Checks = field(default_factory=Checks)
    setup: dict = field(default_factory=dict)
    notes: dict = field(default_factory=dict)  # trace-file only


@dataclass
class Outcome:
    """What a workload measured.  `samples` holds one wall time per
    timed iteration, `traced[i]` says whether iteration i ran with
    tracing on, and `groups[i]` names its Spark job groups."""
    samples: list = field(default_factory=list)
    traced: list = field(default_factory=list)
    groups: list = field(default_factory=list)
    record: dict = field(default_factory=dict)
    lineage: dict | None = None

    def untraced(self) -> list:
        return [s for s, t in zip(self.samples, self.traced) if not t]

    def job_s(self) -> float:
        """Median wall of the untraced timed iterations."""
        return statistics.median(self.untraced())


def setup_phase(ctx: Ctx, name: str, fn, repeats: int = 1):
    """Run a set-up phase `repeats` times; its median wall time goes
    into setup_s.  Returns the last result."""
    walls, out = [], None
    for r in range(repeats):
        with ctx.tracer.span(f"setup.{name}", repeat=r):
            t0 = time.perf_counter()
            out = fn()
            walls.append(time.perf_counter() - t0)
    ctx.setup[name] = statistics.median(walls)
    return out


def measure(ctx: Ctx, step, out: Outcome) -> None:
    """Call step(i, traced) until the timed walls it returns add up to
    the window, so the number of samples does not depend on how long
    the output checks between them take.  In a traced run iterations
    alternate untraced/traced, at least one of each, so the tracing
    overhead is measured in the same session.  A raised error counts as
    a failed operation and ends the window."""
    i = 0
    while i < (2 if ctx.traced else 1) or sum(out.samples) < ctx.seconds:
        traced = ctx.traced and i % 2 == 1
        if traced:
            ctx.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        try:
            with ctx.tracer.span("iteration", i=i, traced=traced):
                wall, groups = step(i, traced)
        except Exception:
            ctx.checks.error(f"iteration {i}")
            break
        finally:
            if traced:
                ctx.spark.conf.unset("spark.sql.pyspark.udf.profiler")
        out.samples.append(wall)
        out.traced.append(traced)
        out.groups.append(groups)
        i += 1


def frame_digest(pdf: pd.DataFrame, keys: list) -> str:
    pdf = pdf.sort_values(keys).reset_index(drop=True)
    h = hashlib.sha256()
    for c in sorted(pdf.columns):
        h.update(c.encode())
        h.update(pdf[c].to_numpy().tobytes())
    return h.hexdigest()


# ---------------------------------------------------------------- tile_join

def placements(spark, seed: int, n: int):
    """(image_id, phash, lat, lon) for ids seed<<32 .. seed<<32 + n - 1:
    the columns and derivation of sources.images.generate_placements,
    with the id range moved by the seed."""
    from geographiclib_go_spark.sources import images as im
    off = int(seed) << 32

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy(np.int64)
            ph = im.splitmix64(ids.astype(np.uint64)).astype(np.int64)
            lat, lon = im.latlon_from_phash(ph)
            yield pd.DataFrame({"image_id": ids, "phash": ph,
                                "lat": lat, "lon": lon})

    # two partitions per core: with one, the job is a single wave set by
    # its slowest task, and per-run medians spread 12% across runs
    # instead of 3%, for about 25% more per-task overhead
    parts = 2 * spark.sparkContext.defaultParallelism
    return spark.range(off, off + n, 1, parts).mapInPandas(
        gen, "image_id long, phash long, lat double, lon double")


def cached_placements(spark, seed: int, n: int):
    df = placements(spark, seed, n).cache()
    df.count()
    return df


def exhaustive_nearest(lat, lon, landmarks) -> np.ndarray:
    """Landmark id at minimum WGS84 distance, from the inverse kernel
    over every (point, landmark) pair."""
    from geographiclib_go_spark.kernels import caps as C
    from geographiclib_go_spark.kernels.geodesic import (
        GeodesicModel, WGS84_A, WGS84_F)
    from geographiclib_go_spark.kernels.inverse import inverse
    g = GeodesicModel(WGS84_A, WGS84_F)
    ids = np.array([r[0] for r in landmarks])
    s12 = np.stack([inverse(g, lat, lon, np.full_like(lat, la),
                            np.full_like(lat, lo), C.DISTANCE)["s12"]
                    for _, la, lo in landmarks], axis=1)
    return ids[np.argmin(s12, axis=1)]


def tile_join_plan(cached):
    """The timed plan up to the aggregate: tiles, then the nearest
    landmark of every row."""
    from geographiclib_go_spark.operators import nearest, tiling
    from geographiclib_go_spark.plans.pipeline import DEFAULT_LANDMARKS
    return nearest.nearest_dim_join(tiling.assign_tiles(cached, TILE_RES),
                                    DEFAULT_LANDMARKS, k=1)


def check_joined_sample(ctx: Ctx, cached) -> None:
    """Run the timed plan once more over every cached row and keep
    about NN_SAMPLE of them by a hash of (image_id, tile_id, nn_id).
    The filter reads the UDF outputs, so it stays above them: the UDFs
    see the same rows in the same Arrow batches as in a timed job.
    Each kept row's tile_id must equal cells.cell_from_latlon and its
    nn_id the argmin of an exhaustive inverse over all landmarks."""
    from pyspark.sql import functions as F
    from geographiclib_go_spark.operators import cells
    from geographiclib_go_spark.plans.pipeline import DEFAULT_LANDMARKS
    keep = TILE_ROWS // NN_SAMPLE
    got = (tile_join_plan(cached)
           .where(F.pmod(F.xxhash64("image_id", "tile_id", "nn_id"),
                         F.lit(keep)) == ctx.seed % keep)
           .select("lat", "lon", "tile_id", "nn_id").toPandas())
    lat, lon = got["lat"].to_numpy(), got["lon"].to_numpy()
    checks = ctx.checks
    checks.expect("sample size", len(got) >= NN_SAMPLE // 2,
                  f"{len(got)} rows kept, about {NN_SAMPLE} expected")
    bad = int((got["tile_id"].to_numpy()
               != cells.cell_from_latlon(lat, lon, TILE_RES)).sum())
    checks.expect("sample tile_id vs cells.cell_from_latlon", bad == 0,
                  f"{bad} of {len(got)} rows differ")
    bad = int((got["nn_id"].to_numpy()
               != exhaustive_nearest(lat, lon, DEFAULT_LANDMARKS)).sum())
    checks.expect("sample nn_id vs exhaustive inverse", bad == 0,
                  f"{bad} of {len(got)} rows differ")


def tile_join(ctx: Ctx) -> Outcome:
    from pyspark.sql import functions as F
    spark, checks, out = ctx.spark, ctx.checks, Outcome()

    held = []

    def prep():
        while held:
            held.pop().unpersist(blocking=True)
        held.append(cached_placements(spark, ctx.seed, TILE_ROWS))
        return held[0]
    cached = setup_phase(ctx, "inputs", prep, SETUP_REPEATS)
    first = {}

    def job(i, traced):
        group = f"tile_join:{i}"
        job_group(spark, group)
        t0 = time.perf_counter()
        pdf = (tile_join_plan(cached).groupBy("tile_id", "nn_id")
               .agg(F.count("*").alias("n_images"),
                    F.approx_count_distinct("phash").alias("n_phash"))
               .toPandas())
        wall = time.perf_counter() - t0
        n = int(pdf["n_images"].sum())
        checks.expect(f"{group} sum(n_images)", n == TILE_ROWS,
                      f"{n} != {TILE_ROWS}")
        d = frame_digest(pdf, ["tile_id", "nn_id"])
        first.setdefault("digest", d)
        checks.expect(f"{group} digest", d == first["digest"],
                      "output differs from the first iteration")
        return wall, [group]

    def warm():
        for i in range(TILE_WARMUP):
            job(-1 - i, False)
    setup_phase(ctx, "warmup", warm)
    measure(ctx, job, out)

    job_group(spark, "tile_join:check")
    with ctx.tracer.span("check.joined_sample"):
        try:
            check_joined_sample(ctx, cached)
        except Exception:
            checks.error("joined sample check")
    if out.untraced():
        out.record = {"images": TILE_ROWS,
                      "images_per_s": TILE_ROWS / out.job_s()}
    return out


# ------------------------------------------------------------ staged_resume

# lineage stage name -> key of the dict plans.pipeline.tile_and_join returns
STAGE_KEYS = {"tiles": "tiles", "nearest_landmark": "nearest",
              "pip": "in_polygon", "invariants": "invariants",
              "dedup_split": "dedup_split", "tile_stats": "tile_stats"}


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def stored_bytes(root: str, stage: str) -> int:
    """Bytes of every committed snapshot of a stage: data plus the
    _lineage sidecar."""
    snaps = os.path.join(root, stage, "snapshots")
    return sum(_dir_bytes(os.path.join(snaps, v, part))
               for v in os.listdir(snaps) for part in ("data", "_lineage"))


def _lineage_totals(lin_df) -> tuple:
    """(rows, xor of partition checksums): independent of how the rows
    were partitioned."""
    from pyspark.sql import functions as F
    r = lin_df.agg(F.sum("rows").alias("n"),
                   F.bit_xor("checksum").alias("x")).collect()[0]
    return int(r["n"] or 0), int(r["x"] or 0)


@functools.lru_cache(maxsize=1)
def expected_invariants() -> pd.DataFrame:
    """Ground truth, computed in this process, for the invariants stage of the staged
    build, sorted by image_id.  psnr_ok is a per-row flag, not a
    universal invariant: lossy rows may fail it, lossless ones never."""
    from geographiclib_go_spark.sources import images as im
    r = im.row_invariants_for_ids(np.arange(STAGED_IMAGES))
    return pd.DataFrame({
        "image_id": r["image_id"], "fmt": r["fmt"].astype(str),
        "pix_sum": r["pix_sum"], "sse": r["sse"],
        "psnr_ok": r["sse"] * 10000 <= 65025 * r["n_px"]}) \
        .sort_values("image_id").reset_index(drop=True)


def staged_cycle(ctx: Ctx, root: str, tag: str,
                 reference: dict | None = None) -> dict:
    """One cold build of plans.pipeline.tile_and_join into a fresh stage
    root (six snapshots written), then the same call against that root
    (the resume).  Checks, outside the timed calls, that the resume
    added no snapshot version, that the resumed data recomputes to the
    committed lineage (rows and checksums) and matches `reference` from
    an earlier build, and that every invariants row (decoded pixel sum,
    squared error, psnr_ok) equals images.row_invariants_for_ids."""
    from geographiclib_go_spark.plans import lineage, pipeline
    from geographiclib_go_spark.sources import images as im
    spark, checks = ctx.spark, ctx.checks
    fp = f"perfbench|images={STAGED_IMAGES}"
    images = im.generate_images(spark, STAGED_IMAGES, skew_pct=3)

    job_group(spark, f"{tag}:build")
    with ctx.tracer.span("plans.pipeline.tile_and_join", mode="build"):
        t0 = time.perf_counter()
        pipeline.tile_and_join(spark, images, stage_root=root, fingerprint=fp)
        build = time.perf_counter() - t0
    commits = {s: lineage.current_snapshot(root, s) for s in STAGE_KEYS}
    history = {s: len(lineage.snapshot_history(root, s)) for s in STAGE_KEYS}

    job_group(spark, f"{tag}:resume")
    with ctx.tracer.span("plans.pipeline.tile_and_join", mode="resume"):
        t0 = time.perf_counter()
        res = pipeline.tile_and_join(spark, images, stage_root=root,
                                     fingerprint=fp)
        resume = time.perf_counter() - t0

    job_group(spark, f"{tag}:check")
    totals = {}
    with ctx.tracer.span("check.resume"):
        for s, key in STAGE_KEYS.items():
            now = lineage.current_snapshot(root, s)
            checks.expect(
                f"{tag} {s} adds no version",
                now["version"] == commits[s]["version"]
                and len(lineage.snapshot_history(root, s)) == history[s],
                f"version {commits[s]['version']} -> {now['version']}")
            stored = _lineage_totals(lineage.read_lineage(spark, root, s))
            got = _lineage_totals(lineage.partition_lineage(res[key]))
            checks.expect(f"{tag} {s} resumed lineage",
                          got == stored and got[0] == commits[s]["rows"],
                          f"resumed {got}, committed {stored}, "
                          f"rows {commits[s]['rows']}")
            if reference is not None:
                checks.expect(f"{tag} {s} same as first build",
                              stored == reference[s],
                              f"{stored} != {reference[s]}")
            totals[s] = stored
        got = res["invariants"].toPandas().sort_values("image_id")
        want = expected_invariants()
        bad = sum(int((got[c].to_numpy() != want[c].to_numpy()).sum())
                  for c in want.columns) if len(got) == len(want) else -1
        checks.expect(f"{tag} invariants", len(got) == len(want) and bad == 0,
                      f"{len(got)} rows, {bad} values differ from "
                      "images.row_invariants_for_ids")
        lossless_bad = int((~got["psnr_ok"] & (got["fmt"] == "ppm")).sum())
        checks.expect(f"{tag} lossless psnr_ok", lossless_bad == 0,
                      f"{lossless_bad} lossless rows fail")
    return {"build_s": build, "resume_s": resume, "lineage": totals,
            "commits": commits,
            "stage_build_s": {s: c["wall_s"] for s, c in commits.items()},
            "n_files": sum(c["n_files"] for c in commits.values()),
            "stored_bytes": sum(stored_bytes(root, s) for s in STAGE_KEYS)}


def staged_resume(ctx: Ctx) -> Outcome:
    out, cycles, first = Outcome(), [], {}
    stages = os.path.join(ctx.work, "stages")

    def cycle(i):
        shutil.rmtree(stages, ignore_errors=True)
        info = staged_cycle(ctx, os.path.join(stages, str(i)),
                            f"staged_resume:{i}", first.get("lineage"))
        first.setdefault("lineage", info["lineage"])
        return info

    def warm():
        for i in range(STAGED_WARMUP):
            cycle(-1 - i)
    setup_phase(ctx, "warmup", warm)

    def step(i, traced):
        info = cycle(i)
        cycles.append(dict(info, traced=traced))
        tag = f"staged_resume:{i}"
        return info["build_s"] + info["resume_s"], [f"{tag}:build",
                                                    f"{tag}:resume"]
    measure(ctx, step, out)

    plain = [c for c in cycles if not c["traced"]]
    if not plain:
        return out
    build = statistics.median(c["build_s"] for c in plain)
    out.record = {
        "images": STAGED_IMAGES, "build_s": build,
        "resume_s": statistics.median(c["resume_s"] for c in plain),
        "images_per_s": STAGED_IMAGES / build,
        "stored_mb": statistics.median(c["stored_bytes"] for c in plain) / 2**20,
        "cycles": [{k: c[k] for k in ("build_s", "resume_s", "stage_build_s",
                                      "traced")} for c in cycles]}
    out.lineage = {"cycles": cycles,
                   "root": os.path.join(stages, str(len(cycles) - 1))}
    return out


WORKLOADS = {"tile_join": tile_join, "staged_resume": staged_resume}
