"""Structured Streaming surface (engine-optional; the reference has no
streaming — semantics reuse its PolygonArea/TestPoint contract,
polygon.go:85-218).

- running_polygon_area: applyInPandasWithState keyed by poly_id over
  an append stream of vertices; each micro-batch folds new vertices
  into the (accumulator, last-vertex, crossings) state and emits the
  running TestPoint-style result — the streaming analog of
  PolygonArea.AddPoint + Compute.  Contract: vertices of a polygon
  must arrive in seq order ACROSS micro-batches (the fold is
  order-sensitive, exactly like the reference's AddPoint); within a
  batch they are sorted by seq.
- windowed_event_counts: watermark + tumbling window aggregation for
  the events stream (late rows beyond the watermark are dropped by
  Spark and surface in the metrics).
"""

from __future__ import annotations

import math

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from geographiclib_go_spark.kernels import polygon as kpoly
from geographiclib_go_spark.kernels.api import Geodesic

RUNNING_SCHEMA = T.StructType([
    T.StructField("poly_id", T.LongType(), False),
    T.StructField("num", T.LongType(), False),
    T.StructField("perimeter", T.DoubleType(), True),
    T.StructField("area", T.DoubleType(), True),
])

STATE_SCHEMA = T.StructType([
    T.StructField("num", T.LongType(), False),
    T.StructField("crossings", T.LongType(), False),
    T.StructField("per_hi", T.DoubleType(), False),
    T.StructField("per_lo", T.DoubleType(), False),
    T.StructField("area_hi", T.DoubleType(), False),
    T.StructField("area_lo", T.DoubleType(), False),
    T.StructField("lat0", T.DoubleType(), False),
    T.StructField("lon0", T.DoubleType(), False),
    T.StructField("lat1", T.DoubleType(), False),
    T.StructField("lon1", T.DoubleType(), False),
])


def _fold_vertices(key, pdf_iter, state: GroupState):
    """Stateful fold: reference AddPoint semantics (polygon.go:85-99)
    with double-double accumulation, emitting the running Compute()."""
    geod = Geodesic()
    poly_id = key[0]
    if state.exists:
        (num, crossings, per_hi, per_lo, area_hi, area_lo,
         lat0, lon0, lat1, lon1) = state.get
    else:
        num, crossings = 0, 0
        per_hi = per_lo = area_hi = area_lo = 0.0
        lat0 = lon0 = lat1 = lon1 = math.nan

    acc_per = kpoly  # namespacing only
    import numpy as np

    for pdf in pdf_iter:
        pdf = pdf.sort_values("seq")
        for la, lo in zip(pdf["lat"], pdf["lon"]):
            if num == 0:
                lat0, lon0 = la, lo
            else:
                r = geod.inverse(lat1, lon1, la, lo,
                                 kpoly.POLYGON_CAPS)
                per_hi, per_lo = kpoly.dd_add(
                    np.float64(per_hi), np.float64(per_lo),
                    np.float64(r.s12))
                area_hi, area_lo = kpoly.dd_add(
                    np.float64(area_hi), np.float64(area_lo),
                    np.float64(r.S12))
                crossings += int(kpoly.transit(lon1, lo))
            lat1, lon1 = la, lo
            num += 1

    state.update((int(num), int(crossings), float(per_hi),
                  float(per_lo), float(area_hi), float(area_lo),
                  float(lat0), float(lon0), float(lat1), float(lon1)))

    # running result: close the ring tentatively (TestPoint analog)
    if num < 2:
        yield pd.DataFrame({"poly_id": [poly_id], "num": [num],
                            "perimeter": [0.0], "area": [0.0]})
        return
    r = geod.inverse(lat1, lon1, lat0, lon0, kpoly.POLYGON_CAPS)
    perimeter = float(per_hi) + r.s12
    tmp_area = float(area_hi) + r.S12
    cr = crossings + int(kpoly.transit(lon1, lon0))
    area = kpoly.area_reduce(tmp_area, geod.model.ellipsoid_area, cr,
                             False, True)
    yield pd.DataFrame({"poly_id": [poly_id], "num": [num],
                        "perimeter": [perimeter], "area": [area]})


def running_polygon_area(vertex_stream: DataFrame) -> DataFrame:
    """vertex_stream: streaming DF (poly_id long, seq long, lat double,
    lon double) -> running per-polygon perimeter/area."""
    return (vertex_stream
            .groupBy("poly_id")
            .applyInPandasWithState(
                _fold_vertices, RUNNING_SCHEMA, STATE_SCHEMA,
                "update", GroupStateTimeout.NoTimeout))


def windowed_event_counts(events: DataFrame,
                          watermark: str = "10 minutes",
                          window: str = "1 hour") -> DataFrame:
    """Tumbling-window counts with late-data drop via watermark."""
    return (events
            .withWatermark("ts", watermark)
            .groupBy(F.window(F.col("ts"), window), F.col("event_type"))
            .agg(F.count("*").alias("n_events"),
                 F.approx_count_distinct("user_id").alias("n_users")))


def streaming_tile_counts(image_points: DataFrame, tile_res: int = 6,
                          watermark: str = "10 minutes",
                          window: str = "1 hour") -> DataFrame:
    """Streaming analog of the flagship tile rollup: an append stream
    of image placements (ts timestamp, image_id, phash, lat, lon) is
    tile-assigned with the cell kernel (map-only, same operator as the
    batch path) and aggregated into watermarked tumbling windows —
    late placements beyond the watermark are dropped by Spark and
    visible in each query's streaming metrics."""
    from geographiclib_go_spark.operators import tiling
    tiles = tiling.assign_tiles(image_points, tile_res)
    return (tiles
            .withWatermark("ts", watermark)
            .groupBy(F.window(F.col("ts"), window), F.col("tile_id"))
            .agg(F.count("*").alias("n_images"),
                 F.approx_count_distinct("phash").alias("n_phash")))


def streaming_exact_dedup(doc_stream: DataFrame,
                          watermark: str = "10 minutes",
                          text_col: str = "text",
                          ts_col: str = "ts") -> DataFrame:
    """First-occurrence exact dedup on a document stream.

    dropDuplicatesWithinWatermark on the md5 text hash: Spark keeps
    dedup state only within the watermark horizon, so state is
    BOUNDED — the correct streaming shape at ingest scale (exactly-
    once within the horizon; cross-horizon duplicates are the batch
    compactor's job, the standard streaming/batch split).  The hash
    column rides along in the output for downstream lineage."""
    return (doc_stream
            .withColumn("text_hash", F.md5(F.col(text_col)))
            .withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(["text_hash"]))


def streaming_doc_signatures(doc_stream: DataFrame,
                             num_hashes: int = 64, shingle: int = 5,
                             text_col: str = "text") -> DataFrame:
    """Map-side MinHash + SimHash signatures over a document stream —
    the same batch-vectorized sketch kernels (operators/sketch_hash)
    run unchanged under readStream because they are stateless per
    Arrow batch.  At scale the signature sink feeds the banding join
    (a batch or stream-stream equi-join on band values)."""
    from geographiclib_go_spark.operators import dedup as ded
    msig = ded.minhash_signature_udf(num_hashes, shingle)
    ssig = ded.simhash_udf()
    return doc_stream.withColumn(
        "minhash_sig", msig(F.col(text_col))).withColumn(
        "simhash", ssig(F.col(text_col)))


def streaming_image_invariants(image_stream: DataFrame) -> DataFrame:
    """Per-row decode + invariant verification on an IMAGE stream:
    sources/images.decode_invariants is stateless per Arrow batch, so
    the identical decode/verify kernel (real codec parse, integer
    sse vs pristine regeneration, caption passthrough) runs unchanged
    under readStream — the streaming analog of the batch pipeline's
    invariants stage, flagging lossy-beyond-40dB rows in flight."""
    from geographiclib_go_spark.sources import images as im
    return im.decode_invariants(image_stream)


# --------------------------------------------------------------------------
# Streaming geofencing: per-device enter/exit transitions
# --------------------------------------------------------------------------

GEOFENCE_SCHEMA = T.StructType([
    T.StructField("device_id", T.LongType(), False),
    T.StructField("seq", T.LongType(), False),
    T.StructField("fence_id", T.LongType(), False),
    T.StructField("transition", T.StringType(), False),
])

_GEOFENCE_STATE = T.StructType([
    T.StructField("mask", T.LongType(), False),
    T.StructField("seq", T.LongType(), False),
])


def _geofence_fold_factory(fences, a, f):
    """Shared fold kernel for the streaming (stateful) and batch
    (stateless applyInPandas) geofence paths.  `fences` is a tuple of
    (fence_id, lat, lon, radius_m), <= 63 entries so the inside-set
    packs into one long — the per-device state is TWO longs, the
    smallest possible stateful-streaming footprint."""
    import numpy as np

    from geographiclib_go_spark.kernels import caps as C
    from geographiclib_go_spark.kernels import inverse as kinv
    from geographiclib_go_spark.kernels.geodesic import GeodesicModel

    if len(fences) > 63:
        raise ValueError("at most 63 fences per fold (one-long mask)")
    fid = np.array([x[0] for x in fences], dtype=np.int64)
    flat = np.array([x[1] for x in fences], dtype=np.float64)
    flon = np.array([x[2] for x in fences], dtype=np.float64)
    frad = np.array([x[3] for x in fences], dtype=np.float64)
    bits = (np.int64(1) << np.arange(len(fences), dtype=np.int64))

    def fold_pings(device_id, pdf, mask0):
        """(out_rows, last_mask, last_seq) for in-order pings."""
        g = GeodesicModel(a, f)
        lat = pdf["lat"].to_numpy(np.float64)
        lon = pdf["lon"].to_numpy(np.float64)
        seq = pdf["seq"].to_numpy(np.int64)
        n, m = lat.size, fid.size
        # n x m geodesic distances in ONE kernel sweep
        s12 = kinv.gen_inverse(
            g, np.repeat(lat, m), np.repeat(lon, m),
            np.tile(flat, n), np.tile(flon, n),
            C.DISTANCE)["s12"].reshape(n, m)
        inside = s12 <= frad[None, :]
        masks = (inside * bits[None, :]).sum(axis=1).astype(np.int64)
        prev = np.concatenate(([np.int64(mask0)], masks[:-1]))
        changed = masks ^ prev
        out = {"device_id": [], "seq": [], "fence_id": [],
               "transition": []}
        rows_i, fences_j = np.nonzero((changed[:, None] & bits[None, :])
                                      != 0)
        for i, j in zip(rows_i, fences_j):
            out["device_id"].append(int(device_id))
            out["seq"].append(int(seq[i]))
            out["fence_id"].append(int(fid[j]))
            out["transition"].append(
                "enter" if (masks[i] & bits[j]) else "exit")
        last_mask = int(masks[-1]) if n else int(mask0)
        last_seq = int(seq[-1]) if n else -1
        return pd.DataFrame(out), last_mask, last_seq

    return fold_pings


def geofence_transitions(ping_stream: DataFrame, fences,
                         a: float = 6378137.0,
                         f: float = 1 / 298.257223563) -> DataFrame:
    """Streaming enter/exit detection against circular geodesic
    fences: applyInPandasWithState keyed by device_id, state = (last
    inside-bitmask, last seq) — two longs per device, so state size
    is O(devices), never O(pings).  Contract (same as the polygon
    fold): a device's pings arrive in seq order ACROSS micro-batches;
    within a batch they are sorted here.  Transitions are emitted the
    instant the inside-set of a ping differs from the previous one,
    including across micro-batch boundaries (the state carries the
    mask over).  Batch parity: geofence_transitions_batch runs the
    IDENTICAL fold stateless — pytest feeds the same pings through a
    two-file stream and the batch path and requires equal output."""
    fences = tuple(tuple(x) for x in fences)
    fold = _geofence_fold_factory(fences, a, f)

    def step(key, pdf_iter, state: GroupState):
        mask0, _ = state.get if state.exists else (0, -1)
        frames = [p.sort_values("seq") for p in pdf_iter]
        pdf = (pd.concat(frames).sort_values("seq") if frames
               else pd.DataFrame(columns=["seq", "lat", "lon"]))
        out, last_mask, last_seq = fold(key[0], pdf, mask0)
        if len(pdf):
            state.update((last_mask, last_seq))
        yield out

    return (ping_stream.groupBy("device_id")
            .applyInPandasWithState(step, GEOFENCE_SCHEMA,
                                    _GEOFENCE_STATE, "update",
                                    GroupStateTimeout.NoTimeout))


def geofence_transitions_batch(pings: DataFrame, fences,
                               a: float = 6378137.0,
                               f: float = 1 / 298.257223563) -> DataFrame:
    """The same geofence fold as a stateless batch operator
    (applyInPandas per device, initial mask 0 = outside everything):
    the oracle twin the streaming test compares against."""
    fences = tuple(tuple(x) for x in fences)
    fold = _geofence_fold_factory(fences, a, f)

    def run(pdf):
        out, _, _ = fold(int(pdf["device_id"].iloc[0]),
                         pdf.sort_values("seq"), 0)
        return out

    return (pings.groupBy("device_id")
            .applyInPandas(run, GEOFENCE_SCHEMA))


def streaming_ingest_dedup_events(doc_stream: DataFrame,
                                  corpus_md5: DataFrame,
                                  corpus_bands: DataFrame,
                                  corpus_texts: DataFrame,
                                  threshold: float = 0.8,
                                  num_hashes: int = 64, bands: int = 8,
                                  shingle: int = 5,
                                  text_col: str = "text",
                                  id_col: str = "doc_id") -> DataFrame:
    """Streaming ingest-time dedup against a PERSISTED corpus index —
    the readStream face of queries.docs_incremental_dedup: the static
    sides are the write-once lineage artifacts (md5 set + MinHash
    band table, plans/lineage snapshots) and every arriving document
    probes them with stream-static joins only (append-safe, no
    stream-stream state, corpus never re-read except for candidate
    text fetch).

    Emits match EVENTS (doc_id, kind 'exact'|'near', matched_id,
    jaccard): 'exact' when the md5 matches a corpus hash, 'near' for
    each banded candidate whose exact n-gram Jaccard >= threshold (a
    pair colliding in several bands repeats, bounded by `bands` —
    event consumers treat the stream as a set, and a stateful
    distinct would cost unbounded streaming state for zero recall).
    Docs with no event are new — absence is the consumer's fold (a
    batch compactor or a stateful session), since "no match" is not
    decidable row-locally in an append stream.  Parity with the batch
    classifier is pytest-gated.

    corpus_md5:   (_h string)                 distinct md5 hashes
    corpus_bands: (doc_id, band, band_key)    dedup.minhash_band_table
    corpus_texts: (doc_id, text)              for the Jaccard refine
    """
    from geographiclib_go_spark.operators import dedup as ded

    exact = (doc_stream
             .withColumn("_h", F.md5(F.col(text_col)))
             .join(corpus_md5.withColumn("_ex", F.lit(1)), "_h", "inner")
             .select(F.col(id_col).alias("doc_id"),
                     F.lit("exact").alias("kind"),
                     F.lit(None).cast("long").alias("matched_id"),
                     F.lit(None).cast("double").alias("jaccard")))

    stream_bands = ded.minhash_band_table(
        doc_stream, text_col=text_col, id_col=id_col,
        num_hashes=num_hashes, bands=bands, shingle=shingle)
    # re-attach the arriving text so the refine never re-reads the
    # stream source (band explode keeps only doc_id/band/band_key)
    stream_bands = stream_bands.join(
        doc_stream.select(F.col(id_col).alias("doc_id"),
                          F.col(text_col).alias("_ta")), "doc_id")
    cand = (stream_bands.alias("a")
            .join(corpus_bands.alias("b"), ["band", "band_key"])
            .select(F.col("a.doc_id").alias("doc_id"),
                    F.col("a._ta").alias("_ta"),
                    F.col("b.doc_id").alias("matched_id")))
    tb = corpus_texts.select(F.col(id_col).alias("matched_id"),
                             F.col(text_col).alias("_tb"))
    jac = ded.ngram_jaccard_udf(shingle).asNondeterministic()
    near = (cand.join(tb, "matched_id")
            .withColumn("jaccard", jac(F.col("_ta"), F.col("_tb")))
            .filter(F.col("jaccard") >= threshold)
            .select("doc_id", F.lit("near").alias("kind"),
                    F.col("matched_id").cast("long"),
                    F.col("jaccard").cast("double")))
    return exact.unionByName(near)


def streaming_image_dedup_events(image_stream: DataFrame,
                                 corpus_chunks: DataFrame,
                                 max_hamming: int = 4,
                                 bits: int = 64,
                                 sig_col: str = "phash",
                                 id_col: str = "image_id") -> DataFrame:
    """Streaming ingest-time IMAGE dedup against a PERSISTED phash
    chunk index — the image-axis twin of
    streaming_ingest_dedup_events: the static side is the write-once
    pigeonhole chunk table of the corpus's DISTINCT perceptual hashes
    (dedup.hamming_chunk_table, a plans/lineage snapshot), and every
    arriving image explodes its 64-bit phash to max_hamming+1 chunks
    and probes it with a stream-static equi-join — append-safe,
    stateless, the corpus never re-read.

    Emits match EVENTS (image_id, matched_phash, hamming):
    hamming == 0 is an exact perceptual dup, 0 < hamming <=
    max_hamming a near dup; pigeonhole recall is lossless, the exact
    popcount refine removes false chunk collisions.  A pair colliding
    in several chunks repeats (bounded by max_hamming+1 events) —
    consumers treat the stream as a set, same contract as the doc
    gate.  Images with no event are new; absence is the consumer's
    fold.  Parity with the batch classifier is pytest-gated.

    corpus_chunks: (_id, _sig, chunk, chunk_val) over distinct corpus
    phashes (dedup.hamming_chunk_table output)."""
    from geographiclib_go_spark.operators import dedup as ded

    probe = ded.hamming_chunk_table(
        image_stream.select(F.col(id_col), F.col(sig_col)),
        sig_col=sig_col, id_col=id_col, max_hamming=max_hamming,
        bits=bits)
    ham = F.bit_count(
        F.col("a._sig").bitwiseXOR(F.col("b._sig"))).cast("long")
    return (probe.alias("a")
            .join(corpus_chunks.alias("b"), ["chunk", "chunk_val"])
            .withColumn("hamming", ham)
            .filter(F.col("hamming") <= max_hamming)
            .select(F.col("a._id").alias("image_id"),
                    F.col("b._sig").alias("matched_phash"),
                    "hamming"))


def streaming_corridor_events(image_stream: DataFrame,
                              route_lats, route_lons,
                              radius_m: float, res: int,
                              sphere_radius: float = 6371000.0,
                              lat_col: str = "lat",
                              lon_col: str = "lon",
                              id_col: str = "image_id") -> DataFrame:
    """Streaming corridor gate — arriving image placements tested
    against the route corridor (the streaming twin of
    queries.route_corridor_images): each row is cell-encoded, pruned
    by the driver-side corridor cover (route.corridor_cover, an InSet
    constant in the plan — no join, no state), and only survivors
    reach the cross-track distance kernel.  Emits
    (image_id, seg, dist_r) per in-corridor (image, segment) pair,
    dist_r rounded to cm like the batch query.  The whole gate is a
    stateless map-only chain, so it is append-safe by construction
    (no watermark, no window, no stream-static join); batch parity is
    pytest-gated."""
    from geographiclib_go_spark.operators import route as rt
    from geographiclib_go_spark.operators import tiling

    cover = rt.corridor_cover(route_lats, route_lons, radius_m, res,
                              sphere_radius)
    cand = (tiling.assign_tiles(image_stream, res,
                                lat_col=lat_col, lon_col=lon_col)
            .filter(F.expr("tile_id IN (%s)"
                           % ",".join(str(int(c)) for c in cover))))
    out = rt.route_distance_join(cand, route_lats, route_lons,
                                 radius=sphere_radius,
                                 lat_col=lat_col, lon_col=lon_col)
    return (out.withColumn("dist_r", F.round("route_dist_m", 2))
            .filter(F.col("dist_r") <= F.lit(float(radius_m)))
            .select(F.col(id_col), "seg", "dist_r"))


def streaming_pq256_near_dup_events(vec_stream: DataFrame,
                                    encoded: DataFrame,
                                    books, seeds,
                                    max_adc: int,
                                    nprobe: int = 8) -> DataFrame:
    """Streaming near-duplicate gate against the REALISTIC-parameter
    IVF-PQ snapshot (operators/pq_arrow: ksub=256, k-means-trained
    residual codebooks) — the ingest face of emb_ivfpq256_topk.
    Arriving quantized vectors (vid, q array<long>) explode to their
    nprobe nearest coarse cells in one Arrow kernel (numpy matmul;
    codebooks/seeds ship via closure, never as literal expressions),
    stream-static-join the committed cell-partitioned code table,
    and a second Arrow kernel scores each surviving pair by exact
    int64 ||q - (seeds[cell] + decode(code))||^2 — algebraically
    identical to the batch LUT-gather ADC (the LUT is a batch-side
    amortization; per-pair reconstruction is the stream shape).
    Threshold semantics (adc <= max_adc), stateless, append-safe;
    numpy-replay parity is pytest-gated."""
    import numpy as np
    import pandas as pd

    from geographiclib_go_spark.operators import pq_arrow as pqa

    b = books.astype(np.int64)
    s = seeds.astype(np.int64)
    m, ksub, sub = b.shape

    def probe(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["q"].to_numpy()).astype(np.int64)
            cells = pqa.coarse_probes(x, s, nprobe)
            n = len(pdf)
            idx = np.repeat(np.arange(n), nprobe)
            yield pd.DataFrame({
                "qid": pdf["vid"].to_numpy(np.int64)[idx],
                "q": [x[i] for i in idx],
                "cell": cells.reshape(-1)})

    q = vec_stream.mapInPandas(
        probe, "qid long, q array<long>, cell int")
    j = q.join(encoded, "cell")

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["q"].to_numpy()).astype(np.int64)
            codes = np.stack(pdf["code"].to_numpy()).astype(np.int64)
            cells = pdf["cell"].to_numpy(np.int64)
            recon = s[cells].copy()
            for jj in range(m):
                recon[:, jj * sub:(jj + 1) * sub] += b[jj][codes[:, jj]]
            d = x - recon
            yield pd.DataFrame({
                "qid": pdf["qid"].to_numpy(np.int64),
                "vec_id": pdf["vid"].to_numpy(np.int64),
                "adc": (d * d).sum(axis=1, dtype=np.int64)})

    return (j.mapInPandas(score, "qid long, vec_id long, adc long")
            .filter(F.col("adc") <= max_adc))


def streaming_decontaminate_events(doc_stream: DataFrame,
                                   eval_gram_df: DataFrame,
                                   ngram: int = None,
                                   text_col: str = "text",
                                   id_col: str = "doc_id") -> DataFrame:
    """Streaming ingest-time decontamination — the readStream face of
    queries.doc_decontaminate: every arriving document's n-token
    windows probe the PERSISTED eval-suite n-gram snapshot
    (corpus.eval_grams via plans/lineage — the write-once artifact)
    with a stream-static broadcast semi-join.  Emits one event per
    contaminated (doc_id, gram) hit; docs with no event are clean —
    absence is the consumer's fold, exactly like the ingest-dedup
    event streams (a stateful per-doc distinct would buy no recall
    for unbounded state).  Stateless map-only chain + stream-static
    join: append-safe, no watermark needed.  Batch parity is
    pytest-gated."""
    from geographiclib_go_spark.operators import corpus as cp

    n = ngram or cp.DECON_NGRAM
    tok = F.split(F.trim(F.col(text_col)), " ")
    g = doc_stream.select(
        F.col(id_col).alias("doc_id"),
        F.explode(cp.ngram_col(tok, n)).alias("gram"))
    return g.join(F.broadcast(eval_gram_df), "gram", "inner") \
        .select("doc_id", "gram")


def streaming_scrub_events(doc_stream: DataFrame,
                           text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """Streaming ingest-time PII-shaped scrubbing — the readStream
    face of queries.doc_regex_scrub: every arriving document is
    counted and globally redacted in-flight, emitting (doc_id,
    n_hits, chars_delta, text_clean).  Stateless map-only JVM regexp
    chain: append-safe by construction, no watermark, no state store
    — the shape an ingest pipeline wants, since the scrub decision
    needs nothing beyond the row itself.  Pattern/replacement are the
    corpus module constants, so batch and stream cannot drift.
    Batch parity is pytest-gated."""
    from geographiclib_go_spark.operators import corpus as cp

    red = F.regexp_replace(text_col, cp.SCRUB_PATTERN, cp.SCRUB_REPL)
    return doc_stream.select(
        F.col(id_col).alias("doc_id"),
        F.regexp_count(F.col(text_col), F.lit(cp.SCRUB_PATTERN))
        .alias("n_hits"),
        (F.length(text_col) - F.length(red)).cast("long")
        .alias("chars_delta"),
        red.alias("text_clean"))


def streaming_vector_qa_events(vec_stream: DataFrame,
                               vec_col: str = "embedding",
                               id_col: str = "vec_id") -> DataFrame:
    """Streaming ingest-time embedding QA — the readStream face of
    queries.emb_quality_gate: every arriving vector is quantized and
    measured in-flight, emitting (vec_id, n2, qmax, norm_ok, spiky)
    so a malformed embedding batch is caught BEFORE it reaches a
    persisted ANN index.  Stateless map-only higher-order array
    expressions (the per-label rollup is the consumer's fold — a
    streaming aggregate would add a state store for what is a pure
    per-row decision).  Constants are the similarity module's, so
    batch and stream cannot drift.  Batch parity is pytest-gated."""
    from geographiclib_go_spark.operators import similarity as sim

    unit = sim.QGATE_SCALE * sim.QGATE_SCALE
    q = F.transform(F.col(vec_col).cast("array<double>"),
                    lambda x: F.round(x * sim.QGATE_SCALE).cast("long"))
    base = vec_stream.select(F.col(id_col).alias("vec_id"),
                             q.alias("_q"))
    n2 = F.aggregate(F.col("_q"), F.lit(0).cast("long"),
                     lambda acc, x: acc + x * x)
    qmax = F.array_max(F.transform(F.col("_q"), F.abs))
    return (base.select("vec_id", n2.alias("n2"), qmax.alias("qmax"))
            .withColumn("norm_ok",
                        F.abs(F.col("n2") - unit)
                        <= sim.QGATE_NORM_TOL)
            .withColumn("spiky", F.col("qmax") >= sim.QGATE_SPIKE))


def streaming_image_embed_events(image_stream: DataFrame,
                                 index: DataFrame,
                                 centroids,
                                 max_ssd: int,
                                 nprobe: int = 3) -> DataFrame:
    """Streaming ingest-time embedding near-dup gate over IMAGE BYTES
    — the readStream face of queries.image_embed_ivf_knn, and the
    last link in the decode->embed->ANN chain's streaming story:
    arriving images are decoded and pooled into integer pixel
    embeddings IN FLIGHT (multimodal.pixel_embeddings, the one
    map-only Python stage; rows whose codec is unavailable degrade to
    NULL and are dropped here, the flip_images contract), coarse-
    quantized to their nprobe nearest cells by the SAME pure-JVM
    integer argmin the batch index uses (similarity.int_ivf_clusters
    — shared expression, so batch and stream cannot drift), and
    probed against the PERSISTED cluster-partitioned IVF snapshot
    with a stream-static equi-join — append-safe, stateless, the
    corpus never re-decoded.

    Emits (image_id, matched_id, ssd) for every candidate within
    exact integer squared-L2 max_ssd — a THRESHOLD, not a top-k,
    because a top-k over an append stream is not append-safe while a
    threshold is (the streaming_pq256_near_dup_events contract).
    Absence of an event means the image is embedding-novel; that
    fold belongs to the consumer.  Batch parity and an independent
    numpy replay are pytest-gated."""
    from geographiclib_go_spark.operators import multimodal as mm
    from geographiclib_go_spark.operators import similarity as sim

    embs = (mm.pixel_embeddings(image_stream)
            .filter(F.col("embedding").isNotNull())
            .withColumnRenamed("embedding", "_qe"))
    probe = embs.withColumn(
        "cluster", F.explode(sim.int_ivf_clusters(
            centroids, vec_col="_qe", top=nprobe)))
    idx = index.select(F.col("image_id").alias("matched_id"),
                       F.col("embedding").alias("_cvec"),
                       "cluster")
    # unrolled codegen SSD — same int64 values as the zip_with HOF,
    # but stays inside whole-stage codegen (similarity.int_sq_l2_unrolled)
    ssd = sim.int_sq_l2_unrolled("_qe", "_cvec", mm.PIXEL_EMBED_DIM)
    return (probe.join(idx, "cluster")
            .filter(F.col("matched_id") != F.col("image_id"))
            .withColumn("ssd", ssd)
            .filter(F.col("ssd") <= F.lit(int(max_ssd)))
            .select("image_id", "matched_id", "ssd"))


def streaming_bpe_tokenize_events(doc_stream: DataFrame,
                                  vocab_df: DataFrame,
                                  text_col: str = "text",
                                  id_col: str = "doc_id") -> DataFrame:
    """Streaming ingest-time tokenization — the readStream face of
    queries.doc_bpe_apply: every arriving document's alphanumeric
    words probe the PERSISTED trained-BPE-vocabulary snapshot
    (bpe.train_vocab via plans/lineage — the train-once write-once
    artifact) with a stream-static broadcast join, emitting one
    (doc_id, w, n_syms) event per word occurrence.  The per-doc
    rollup (n_words, n_tokens, n_chars) is the consumer's fold — a
    streaming aggregate would add a state store for what is a pure
    per-row decision (the decontamination-gate contract).  Stateless
    map-only explode + stream-static join: append-safe, no
    watermark.  The word spec (whitespace split, WORD_RE filter) is
    the bpe module's, so batch and stream cannot drift.  Batch
    parity and checkpoint kill-and-restart recovery are
    pytest-gated."""
    from geographiclib_go_spark.operators import bpe as bp

    words = bp.corpus_words(doc_stream, id_col, text_col)
    return (words.join(F.broadcast(vocab_df.select("w", "n_syms")),
                       "w")
            .select("doc_id", "w", "n_syms"))
