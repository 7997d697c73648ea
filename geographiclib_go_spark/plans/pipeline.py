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
  6. hot tiles -> salt -> per-tile aggregates      (scout + salted
                                                    partial agg)
  7. stage snapshots with lineage + metrics        (resumable)

Every stage is a declarative DataFrame plan; custom physics live only
inside Arrow-batch kernels.  Stage boundaries go through
plans.lineage.run_stage so a rerun resumes from the last committed
stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
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
    plus "hot_tiles", the list of salted tiles.

    With stage_root set, stages snapshot + resume via lineage, and a
    resume of a complete root runs no Spark job.
    """
    def _stage(name, build, **kw):
        if stage_root is None:
            return build()
        return lineage.run_stage(spark, stage_root, name, build,
                                 input_fingerprint=fingerprint, **kw)

    # 2. tile assignment (map-only)
    tiles = _stage("tiles", lambda: tiling.assign_tiles(
        images.select("image_id", "phash", "lat", "lon"), tile_res))

    # 3. nearest landmark per image: the dim side is tiny, so the
    # scale-correct plan is the map-only broadcast-argmin join
    # (operators/nearest.py) — zero shuffle, one Arrow stage over the
    # images; NOT a shuffle join or a driver-looped kNN.
    def _near():
        out = nearest.nearest_dim_join(
            tiles.select("image_id", "lat", "lon"), DEFAULT_LANDMARKS,
            k=knn_k).withColumnRenamed("nn_id", "landmark_id")
        cols = ["image_id", "landmark_id", "s12"]
        return out.select(*(cols + (["rank"] if knn_k > 1 else [])))
    near = _stage("nearest_landmark", _near)

    # 4. PIP join vs polygon catalog (Antarctica fixture)
    polys = {1: ANTARCTICA_RING}
    in_poly = _stage("pip", lambda: sj.pip_join(
        tiles.select("image_id", "lat", "lon"), polys, res=5)
        .select("image_id", "poly_id"))

    # 5. per-row invariant stage: decode every payload and verify
    # pixel closeness vs the pristine regeneration (the north rule's
    # decoded-pixel + caption contract), snapshotted so a resume
    # skips the re-decode
    invariants = _stage("invariants", lambda: im.decode_invariants(
        images).select("image_id", "fmt", "pix_sum", "sse", "psnr_ok"))

    # 5b. corpus prep: exact dedup (min-id survivor per phash) ->
    # near-dup cluster resolution (Hamming band pairs -> connected
    # components) -> deterministic train/val/test split of the
    # survivors (dedup.corpus_split).  tiles holds the same
    # (image_id, phash) rows as images; staged, it is a snapshot read,
    # not another image-generation pass, and its footer row count
    # bounds the phash count, so the clustering runs in one task
    # (dedup.phash_clusters).  Snapshotted, so a resume skips it.
    dedup_split = _stage("dedup_split", lambda: ded.corpus_split(tiles))

    # 6. hot-tile detection + salting (explicit skew handling), then
    # per-tile aggregates through the salted key (two-phase: partial
    # on salted key, final on true tile).  The hot tiles are found
    # only when this stage builds and are committed with it, so a
    # resume reads them from the commit and runs no job.
    hot = {"hot_tiles": None}

    def _tile_stats():
        hot["hot_tiles"] = tiling.detect_hot_keys(
            tiles, "tile_id", threshold_ratio=0.01, min_rows=1000)
        # the salt is a function of phash, so each phash lands in ONE
        # salt bucket and the per-bucket approx distinct counts add up
        salted = tiling.salt_hot_keys(tiles, "tile_id", hot["hot_tiles"],
                                      row_cols=["phash"])
        partial = (salted.groupBy("salted_key")
                   .agg(F.count("*").alias("_n"),
                        F.approx_count_distinct("phash").alias("_d"),
                        F.first("tile_id").alias("tile_id")))
        return (partial.groupBy("tile_id")
                .agg(F.sum("_n").alias("n_images"),
                     F.sum("_d").alias("approx_distinct_phash")))
    tile_stats = _stage("tile_stats", _tile_stats, extra=hot)

    return {"tiles": tiles, "nearest": near, "in_polygon": in_poly,
            "invariants": invariants, "dedup_split": dedup_split,
            "tile_stats": tile_stats, "hot_tiles": hot["hot_tiles"]}
