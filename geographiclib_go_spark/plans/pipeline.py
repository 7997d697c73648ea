"""The flagship end-to-end job: images tiled + spatially joined.

This is the north-rule headline pipeline (BASELINE.json metric:
"images tiled + spatially joined per second"):

  1. scan images (or generate deterministically)
  2. assign tile_id = cell at tile resolution      (map-only kernel)
  3. nearest landmark per image                    (map-only chord
                                                    argmin + geodesic
                                                    refine)
  4. PIP join images x polygon catalog             (map-only: covers
                                                    in the closure +
                                                    winding refine)
  5. decode invariants; corpus dedup + split       (Arrow decode;
                                                    near-dup clusters)
  6. per-tile aggregates                           (one groupBy;
                                                    hot tiles observed
                                                    during the write)
  7. stage snapshots with lineage + metrics        (resumable)

Every stage is a declarative DataFrame plan; custom physics live only
inside Arrow-batch kernels.  Stage boundaries go through
plans.lineage.run_stage so a rerun resumes from the last committed
stage.

The stages form a two-level DAG.  `tiles` and `invariants` read only
the image source; `nearest_landmark`, `pip`, `dedup_split` and
`tile_stats` read only the `tiles` snapshot.  A staged build submits
each stage from its own thread as soon as its input is committed:
`tiles` and `invariants` first, then, once `tiles` is committed, the
four stages that read it, longest first (`dedup_split`, whose
near-dup clustering is one task, then `tile_stats`,
`nearest_landmark` and `pip`).  Spark runs jobs submitted from
separate threads of one application at the same time, so the tasks of
one stage fill the cores another leaves idle.  Unstaged, the stages
are lazy frames built in the same order.
"""

from __future__ import annotations

from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait

import pyspark
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from geographiclib_go_spark.operators import dedup as ded
from geographiclib_go_spark.operators import nearest
from geographiclib_go_spark.operators import spatial_join as sj
from geographiclib_go_spark.operators import tiling
from geographiclib_go_spark.plans import lineage
from geographiclib_go_spark.sources import images as im

# Default landmark set: world cities-ish reference points (engine test
# fixture — any small dim table works here).
DEFAULT_LANDMARKS = [
    (0, 40.7128, -74.0060), (1, 51.5074, -0.1278), (2, 35.6762, 139.6503),
    (3, -33.8688, 151.2093), (4, -23.5505, -46.6333), (5, 55.7558, 37.6173),
    (6, 30.0444, 31.2357), (7, 28.6139, 77.2090), (8, 1.3521, 103.8198),
    (9, -1.2921, 36.8219), (10, 64.1466, -21.9426), (11, -77.8463, 166.6683),
]

# a tile is hot when it holds >= 1% of the images and >= 1000 of them
HOT_TILE_RATIO = 0.01
HOT_TILE_MIN_ROWS = 1000

# one thread per stage of the DAG: no stage waits for a thread
STAGE_THREADS = 6

ANTARCTICA_RING = (
    (-63.1, -72.9, -71.9, -74.9, -74.3, -77.5, -77.4, -71.7, -65.9,
     -65.7, -66.6, -66.9, -69.8, -70.0, -71.0, -77.3, -77.9, -74.7),
    (-58, -74, -102, -102, -131, -163, 163, 172, 140, 113, 88, 59, 25,
     -4, -14, -33, -46, -61),
)


def tile_and_join(spark: SparkSession, images: DataFrame,
                  tile_res: int = 6, knn_k: int = 1,
                  stage_root: str = None,
                  fingerprint: str = "") -> dict:
    """Run the flagship pipeline; returns dict of result DataFrames
    plus "hot_tiles", the sorted list of hot tiles (HOT_TILE_RATIO,
    HOT_TILE_MIN_ROWS).  Only a staged run knows them; unstaged it is
    None, and a caller that wants them filters "tile_stats".

    With stage_root set, stages snapshot + resume via lineage, and a
    resume of a complete root runs no Spark job.  The stages of a
    staged build run concurrently, each from its own thread carrying
    the caller's job group and job tags; the call returns when every
    started stage has, and a stage's error is raised only then (the
    stages that committed resume on a rerun).
    """
    hot = {"hot_tiles": None}

    def _stage(name, build):
        if stage_root is None:
            return build()
        return lineage.run_stage(spark, stage_root, name, build,
                                 input_fingerprint=fingerprint,
                                 extra=hot if name == "tile_stats" else None)

    # level 1: the stages that read only the image source
    sources = {
        # 2. tile assignment (map-only)
        "tiles": lambda: tiling.assign_tiles(
            images.select("image_id", "phash", "lat", "lon"), tile_res),
        # 5. per-row invariant stage: decode every payload and verify
        # pixel closeness vs the pristine regeneration (the north
        # rule's decoded-pixel + caption contract), snapshotted so a
        # resume skips the re-decode
        "invariants": lambda: im.decode_invariants(images).select(
            "image_id", "fmt", "pix_sum", "sse", "psnr_ok"),
    }

    def _readers(tiles: DataFrame) -> dict:
        """Level 2: the stages that read only `tiles`, longest first."""
        # 6. per-tile aggregates: one groupBy.  Spark plans
        # countDistinct as a shuffle on (tile_id, phash) and then a
        # merge of one partial row per tile per task, so a hot tile's
        # rows never meet in one task and no hand salt is needed.  A
        # staged build observes the hot tiles while it writes the
        # aggregate and commits them with it, so a resume reads them
        # from the commit and runs no job.
        def _tile_stats():
            stats = tiles.groupBy("tile_id").agg(
                F.count("*").alias("n_images"),
                F.countDistinct("phash").alias("n_distinct_phash"))
            if stage_root is None:
                return stats
            obs = Observation()
            n = F.col("n_images")
            hot["hot_tiles"] = lambda: _hot_tiles(obs.get)
            return stats.observe(
                obs, F.sum(n).alias("n"),
                F.collect_list(F.when(n >= HOT_TILE_MIN_ROWS, F.struct(
                    "tile_id", n))).alias("cand"))

        # 3. nearest landmark per image: the dim side is tiny, so the
        # scale-correct plan is the map-only broadcast-argmin join
        # (operators/nearest.py) — zero shuffle, one Arrow stage over
        # the images; NOT a shuffle join or a driver-looped kNN.
        def _near():
            out = nearest.nearest_dim_join(
                tiles.select("image_id", "lat", "lon"), DEFAULT_LANDMARKS,
                k=knn_k).withColumnRenamed("nn_id", "landmark_id")
            cols = ["image_id", "landmark_id", "s12"]
            return out.select(*(cols + (["rank"] if knn_k > 1 else [])))

        return {
            # 5b. corpus prep: exact dedup (min-id survivor per phash)
            # -> near-dup cluster resolution (Hamming band pairs ->
            # connected components) -> deterministic train/val/test
            # split of the survivors (dedup.corpus_split).  tiles holds
            # the same (image_id, phash) rows as images; staged, it is
            # a snapshot read, not another image-generation pass, and
            # its footer row count bounds the phash count, so the
            # clustering runs in one task (dedup.phash_clusters): the
            # longest stage of this level, so it goes first.
            "dedup_split": lambda: ded.corpus_split(tiles),
            "tile_stats": _tile_stats,
            "nearest_landmark": _near,
            # 4. PIP join vs polygon catalog (Antarctica fixture)
            "pip": lambda: sj.pip_join(
                tiles.select("image_id", "lat", "lon"),
                {1: ANTARCTICA_RING}, res=5).select("image_id", "poly_id"),
        }

    if stage_root is None:
        built = {name: _stage(name, b) for name, b in sources.items()}
        built.update((name, _stage(name, b))
                     for name, b in _readers(built["tiles"]).items())
    else:
        # 7. each stage is submitted once its input is committed; the
        # `with` waits for every started stage, also when one raises
        built = {}
        with ThreadPoolExecutor(max_workers=STAGE_THREADS) as pool:
            def submit(stages: dict) -> dict:
                # wrapped per stage, in this thread: each stage thread
                # gets its own copy of the caller's local properties
                # (job group, job tags), so run_stage's per-call tag
                # stays in its own thread
                inherit = pyspark.inheritable_thread_target
                return {pool.submit(inherit(spark)(_stage), name, b): name
                        for name, b in stages.items()}
            running = submit(sources)
            while running:
                done, _ = wait(running, return_when=FIRST_COMPLETED)
                for fut in done:
                    name = running.pop(fut)
                    built[name] = fut.result()
                    if name == "tiles":
                        running.update(submit(_readers(built[name])))

    return {"tiles": built["tiles"], "nearest": built["nearest_landmark"],
            "in_polygon": built["pip"], "invariants": built["invariants"],
            "dedup_split": built["dedup_split"],
            "tile_stats": built["tile_stats"], "hot_tiles": hot["hot_tiles"]}


def _hot_tiles(seen: dict) -> list:
    """Tiles holding >= HOT_TILE_RATIO of all images (and at least
    HOT_TILE_MIN_ROWS), from the observed total and candidates."""
    thresh = max(int((seen["n"] or 0) * HOT_TILE_RATIO), HOT_TILE_MIN_ROWS)
    return sorted(t for t, n in seen["cand"] if n >= thresh)
