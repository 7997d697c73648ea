"""Synthetic north-rule input table: image + caption rows.

Schema per BASELINE.json input_hint: (image_id string, bytes binary,
w int, h int, fmt string, caption string, phash long), plus derived
placement columns (lat, lon) computed deterministically from phash so
every image is a point feature.

Everything is deterministic from image_id (splitmix64 chains), so any
partition can be regenerated idempotently — the property the resume /
lineage layer relies on.  Pixels use an uncompressed PPM codec (P6)
written in numpy (no image libraries in the sandbox); the "jpeg-sim"
variant quantizes pixels to simulate a lossy codec and is checked with
the PSNR >= 40 dB invariant.  Generation runs distributed via
mapInPandas over spark.range — no driver-side loops.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

IMAGES_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType(), False),
    T.StructField("bytes", T.BinaryType(), False),
    T.StructField("w", T.IntegerType(), False),
    T.StructField("h", T.IntegerType(), False),
    T.StructField("fmt", T.StringType(), False),
    T.StructField("caption", T.StringType(), False),
    T.StructField("phash", T.LongType(), False),
    T.StructField("lat", T.DoubleType(), False),
    T.StructField("lon", T.DoubleType(), False),
])

_ADJECTIVES = ("quiet", "bright", "ancient", "misty", "golden", "stormy",
               "frozen", "emerald", "crimson", "silver")
_NOUNS = ("harbor", "ridge", "forest", "plateau", "lagoon", "glacier",
          "dune", "valley", "reef", "steppe")

# 3 hot discs (lat, lon) for the skew stratum — exercise salting
HOT_CENTERS = ((40.7, -74.0), (51.5, -0.1), (35.7, 139.7))
HOT_RADIUS_DEG = 0.5

# Analysis zones for zonal statistics over the image table:
# zone_id -> (lats, lons) closed-ring vertex sequences (implicit
# closure, same convention as operators/pip.points_in_ring).  Zone 1
# contains the NYC hot disc (skewed membership), zone 2 straddles the
# dateline, zone 3 is an irregular pentagon around the London hot
# disc, zone 4 is a large southern-hemisphere triangle overlapping
# zone 2's latitude band (multi-membership is allowed and counted per
# zone).  Vertices sit on x.xx5 grid offsets so generated points never
# land exactly on an edge (boundary side is unspecified).
IMAGE_ZONES = {
    1: ((39.705, 39.705, 41.705, 41.705),
        (-75.505, -72.505, -72.505, -75.505)),
    2: ((-20.005, -20.005, 20.005, 20.005),
        (165.005, -165.005, -165.005, 165.005)),
    3: ((49.505, 50.205, 53.505, 52.805, 50.005),
        (-2.505, 2.405, 1.505, -3.205, -4.005)),
    4: ((-5.005, -45.005, -35.005),
        (100.005, 140.005, 60.005)),
}


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Public-domain splitmix64 mix function, vectorized on uint64."""
    x = x.astype(np.uint64)
    x = (x + np.uint64(0x9E3779B97F4A7C15))
    z = x
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _unit(x: np.ndarray) -> np.ndarray:
    """uint64 -> float64 in [0, 1)."""
    return (x >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def _pixels_for(ids: np.ndarray, w: int, h: int) -> np.ndarray:
    """Deterministic pixels, shape (n, h, w, 3) uint8: a smooth field
    seeded per image (cheap, reproducible, compressible-ish)."""
    n = ids.size
    s1 = splitmix64(ids)
    s2 = splitmix64(s1)
    s3 = splitmix64(s2)
    fx = 1 + (s1 % np.uint64(5)).astype(np.float64)
    fy = 1 + (s2 % np.uint64(5)).astype(np.float64)
    ph = _unit(s3) * 2 * np.pi
    yy, xx = np.mgrid[0:h, 0:w]
    base = np.sin(fx[:, None, None] * xx[None] * (2 * np.pi / w)
                  + ph[:, None, None]) \
        + np.cos(fy[:, None, None] * yy[None] * (2 * np.pi / h))
    base = ((base + 2) / 4 * 255).astype(np.uint8)
    out = np.stack([base,
                    np.roll(base, w // 3, axis=2),
                    np.roll(base, h // 3, axis=1)], axis=-1)
    return out


def _header(fmt: str, w: int, h: int) -> bytes:
    """The fixed bytes before the pixels of a generated `fmt` payload:
    the P6 header, behind the JSIM tag for jpeg-sim."""
    return (b"JSIM\n" if fmt == "jpeg-sim" else b"") \
        + b"P6\n%d %d\n255\n" % (w, h)


def ppm_encode(pix: np.ndarray) -> bytes:
    """P6 PPM (uncompressed, lossless)."""
    h, w = pix.shape[:2]
    return _header("ppm", w, h) + pix.tobytes()


def ppm_decode(data: bytes) -> np.ndarray:
    if not data.startswith(b"P6"):
        raise ValueError("not a P6 ppm")
    parts = data.split(b"\n", 3)
    w, h = (int(v) for v in parts[1].split())
    return np.frombuffer(parts[3], dtype=np.uint8).reshape(h, w, 3)


def jpegsim_decode(data: bytes) -> np.ndarray:
    """Lossy-sim codec: channels quantized to q-level steps (q = 8),
    stored as a PPM payload behind a JSIM header.  PSNR vs original
    ~ 40.9 dB on average (uniform quantization error, mse ~ q^2/12);
    individual images can dip slightly below 40 — the per-row flag is
    computed exactly (integer sse) by queries.image_row_invariants."""
    if not data.startswith(b"JSIM\n"):
        raise ValueError("not a jpeg-sim payload")
    return ppm_decode(data[5:])


def decode_image(data: bytes, fmt: str) -> np.ndarray:
    """Decode any supported codec.  Real still-image codecs (jpeg/png)
    need libraries absent from this sandbox; the Spark-side plumbing
    (binary column, batch decode, PSNR check) is identical."""
    if fmt == "ppm":
        return ppm_decode(data)
    if fmt == "jpeg-sim":
        return jpegsim_decode(data)
    raise NotImplementedError(f"codec {fmt!r} not available in sandbox")


def phash64_batch(pix: np.ndarray) -> np.ndarray:
    """64-bit perceptual hash for a batch (n, h, w, 3) -> (n,) int64:
    8x8 mean-pool of the luma plane, bit = cell > global mean
    (average-hash construction), fully vectorized."""
    luma = pix.astype(np.float64).mean(axis=-1)        # (n, h, w)
    n, h, w = luma.shape
    bh, bw = max(h // 8, 1), max(w // 8, 1)
    pooled = luma[:, :8 * bh, :8 * bw] \
        .reshape(n, 8, bh, 8, bw).mean(axis=(2, 4))    # (n, 8, 8)
    bits = (pooled > pooled.mean(axis=(1, 2))[:, None, None]) \
        .reshape(n, 64)
    # MSB-first packing matches the scalar shift-left construction
    packed = np.packbits(bits, axis=1)                 # (n, 8) uint8
    return packed.view(">u8")[:, 0].astype(np.int64)


def phash64(pix: np.ndarray) -> np.int64:
    """Single-image wrapper over phash64_batch."""
    return np.int64(phash64_batch(pix[None])[0])


def _size_pick(ids: np.ndarray, sizes) -> np.ndarray:
    """Index into `sizes` of each image's (square) size."""
    return (splitmix64(ids ^ np.uint64(7))
            % np.uint64(len(sizes))).astype(np.int64)


def _is_lossy(ids: np.ndarray, lossy_pct: int) -> np.ndarray:
    """True where an image is stored with the lossy jpeg-sim codec."""
    return (splitmix64(ids ^ np.uint64(13))
            % np.uint64(100)) < np.uint64(lossy_pct)


def _stored_pixels(ids: np.ndarray, sizes, lossy_pct: int):
    """The generator's pixel chain, one size batch at a time: yields
    (mask, wh, pristine, stored) for each size some id picked, where
    pristine is _pixels_for(ids[mask], wh, wh) and stored holds the
    pixels the codec keeps (quantized to q = 8 steps on lossy rows)."""
    size_pick = _size_pick(ids, sizes)
    lossy = _is_lossy(ids, lossy_pct)
    for si, wh in enumerate(sizes):
        m = size_pick == si
        if not m.any():
            continue
        pix = _pixels_for(ids[m], wh, wh)
        q = 8
        qpix = ((pix.astype(np.int32) // q) * q + q // 2) \
            .clip(0, 255).astype(np.uint8)
        yield m, wh, pix, np.where(lossy[m][:, None, None, None], qpix, pix)


def phash_for_ids(ids: np.ndarray, sizes=(16, 32),
                  lossy_pct: int = 30) -> np.ndarray:
    """Driver-side replication of the phash each generated image row
    carries — the same splitmix chains, size pick, lossy quantization
    and average-hash pooling as generate_images, without Spark.  Used
    by scripts/build_fixtures.py to pin image-table oracles; equality
    with the distributed generator is pytest-gated."""
    ids = np.asarray(ids).astype(np.uint64)
    out = np.zeros(ids.size, np.int64)
    for m, _, _, eff in _stored_pixels(ids, sizes, lossy_pct):
        out[m] = phash64_batch(eff)
    return out


def latlon_from_phash(phash: np.ndarray) -> tuple:
    """Deterministic area-uniform placement from phash (FIXTURES.md §3):
    lat = asin(2u-1) in degrees, lon = 360v - 180."""
    hu = splitmix64(phash.astype(np.uint64))
    hv = splitmix64(hu)
    u = _unit(hu)
    v = _unit(hv)
    lat = np.degrees(np.arcsin(2 * u - 1))
    lon = 360 * v - 180
    return lat, lon


def _caption_for(ids: np.ndarray, lat: np.ndarray,
                 lon: np.ndarray) -> list:
    s = splitmix64(ids ^ np.uint64(0xC0FFEE))
    adj = (s % np.uint64(len(_ADJECTIVES))).astype(np.int64)
    noun = ((s >> np.uint64(8)) % np.uint64(len(_NOUNS))).astype(np.int64)
    return [f"{_ADJECTIVES[a]} {_NOUNS[nn]} near ({la:.3f},{lo:.3f})"
            for a, nn, la, lo in zip(adj, noun, lat, lon)]


def latlon_for_ids(ids: np.ndarray, phash: np.ndarray,
                   skew_pct: int = 3) -> tuple:
    """Per-id placement incl. the hot-disc skew stratum — the same
    chains generate_images applies after phash."""
    ids = np.asarray(ids).astype(np.uint64)
    lat, lon = latlon_from_phash(np.asarray(phash, dtype=np.int64))
    hot = (splitmix64(ids ^ np.uint64(99)) % np.uint64(100)
           ) < np.uint64(skew_pct)
    which = (splitmix64(ids ^ np.uint64(101))
             % np.uint64(len(HOT_CENTERS))).astype(np.int64)
    du = _unit(splitmix64(ids ^ np.uint64(103)))
    dv = _unit(splitmix64(ids ^ np.uint64(107)))
    hc = np.array(HOT_CENTERS)
    lat = np.where(hot, hc[which, 0] + (du - 0.5) * 2 * HOT_RADIUS_DEG,
                   lat)
    lon = np.where(hot, hc[which, 1] + (dv - 0.5) * 2 * HOT_RADIUS_DEG,
                   lon)
    return lat, lon


def row_invariants_for_ids(ids: np.ndarray, sizes=(16, 32),
                           lossy_pct: int = 30,
                           skew_pct: int = 3) -> dict:
    """Driver-side ground truth for the north-rule per-row invariant
    (decoded pixels vs pristine + caption equality): for each id, the
    caption string, fmt, decoded-pixel sum, and the INTEGER sum of
    squared errors between the stored (possibly quantized) pixels and
    the pristine regeneration.  All integer-exact, so the driver can
    hash-compare the distributed decode against this fixture."""
    ids = np.asarray(ids).astype(np.uint64)
    n = ids.size
    out = {
        "image_id": [f"img_{int(i):012d}" for i in ids],
        "fmt": np.empty(n, dtype=object),
        "caption": None,
        "pix_sum": np.zeros(n, np.int64),
        "sse": np.zeros(n, np.int64),
        "n_px": np.zeros(n, np.int64),
        "phash": np.zeros(n, np.int64),
    }
    out["fmt"][:] = np.where(_is_lossy(ids, lossy_pct), "jpeg-sim", "ppm")
    for m, wh, pix, eff in _stored_pixels(ids, sizes, lossy_pct):
        out["phash"][m] = phash64_batch(eff)
        out["pix_sum"][m] = eff.astype(np.int64).sum(axis=(1, 2, 3))
        diff = eff.astype(np.int64) - pix.astype(np.int64)
        out["sse"][m] = (diff * diff).sum(axis=(1, 2, 3))
        out["n_px"][m] = 3 * wh * wh
    lat, lon = latlon_for_ids(ids, out["phash"], skew_pct)
    out["caption"] = _caption_for(ids, lat, lon)
    return out


def resized_pix_sums_for_ids(ids: np.ndarray, out_w: int = 16,
                             out_h: int = 16, sizes=(16, 32),
                             lossy_pct: int = 30) -> np.ndarray:
    """Driver-side ground truth for the resize transform
    (operators/multimodal.resize_images): the exact int64 pixel sum of
    each image after decoding its STORED bytes (quantized pixels for
    the lossy rows — the same splitmix chains as phash_for_ids) and
    nearest-neighbor subsampling to (out_w, out_h).  Pins the
    images_resized.parquet fixture for queries.image_resize_stats."""
    ids = np.asarray(ids).astype(np.uint64)
    out = np.zeros(ids.size, np.int64)
    for m, wh, _, eff in _stored_pixels(ids, sizes, lossy_pct):
        yi = np.arange(out_h) * wh // out_h
        xi = np.arange(out_w) * wh // out_w
        out[m] = eff[:, yi][:, :, xi].astype(np.int64).sum(axis=(1, 2, 3))
    return out


def pixel_embed_for_ids(ids: np.ndarray, sizes=(16, 32),
                        lossy_pct: int = 30) -> np.ndarray:
    """Driver-side ground truth for the pixel embedding
    (operators/multimodal.pixel_embeddings): the 64-dim INTEGER
    block-sum vector of each image's STORED pixels — an 8x8 grid of
    per-block sums of (r+g+b), scaled by 1024 // (w*h) so a 16px and
    a 32px image land on the same per-block "mean(r+g+b) x 16" scale
    and distances are size-comparable.  Every component is an exact
    int64, so squared-L2 distances between embeddings are exact
    BIGINTs cross-engine.  Pooling here uses np.add.reduceat (the
    engine UDF uses an 8x8 reshape-sum) so the fixture is an
    independent implementation of the same definition.  Pins
    images_embed.parquet for queries.image_embed_knn."""
    ids = np.asarray(ids).astype(np.uint64)
    out = np.zeros((ids.size, 64), np.int64)
    for m, wh, _, eff in _stored_pixels(ids, sizes, lossy_pct):
        rgb = eff.astype(np.int64).sum(axis=-1)          # (n, wh, wh)
        b = wh // 8
        cuts = np.arange(0, wh, b)
        rows = np.add.reduceat(rgb, cuts, axis=1)        # (n, 8, wh)
        blocks = np.add.reduceat(rows, cuts, axis=2)     # (n, 8, 8)
        out[m] = blocks.reshape(-1, 64) * (1024 // (wh * wh))
    return out


def flipped_wsums_for_ids(ids: np.ndarray, sizes=(16, 32),
                          lossy_pct: int = 30) -> np.ndarray:
    """Driver-side ground truth for the horizontal-flip augmentation
    (operators/multimodal.flip_images): the column-position-weighted
    checksum sum(pix[y,x,c] * (x+1)) of each image's STORED pixels
    after mirroring along x.  The weight makes the checksum
    mirror-SENSITIVE (a plain sum is flip-invariant), so it pins the
    actual pixel movement.  Pins images_flipped.parquet for
    queries.image_augment_flip."""
    ids = np.asarray(ids).astype(np.uint64)
    out = np.zeros(ids.size, np.int64)
    for m, wh, _, eff in _stored_pixels(ids, sizes, lossy_pct):
        flipped = eff[:, :, ::-1, :]
        wgt = np.arange(1, wh + 1, dtype=np.int64)[None, None, :, None]
        out[m] = (flipped.astype(np.int64) * wgt).sum(axis=(1, 2, 3))
    return out


INDEX_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType(), False),
    T.StructField("fmt", T.StringType(), False),
    T.StructField("phash", T.LongType(), False),
    T.StructField("lat", T.DoubleType(), False),
    T.StructField("lon", T.DoubleType(), False),
])

INDEX_CAPTION_SCHEMA = T.StructType(
    INDEX_SCHEMA.fields
    + [T.StructField("caption", T.StringType(), False)])


def generate_placements(spark: SparkSession, n: int,
                        partitions: int = None) -> DataFrame:
    """(image_id long, phash long, lat, lon) — the CHEAP placement
    table for throughput/scaling benchmarks (same shape the
    tile+join flagship consumes; phash is one splitmix64 of the id,
    placement is the shared area-uniform latlon_from_phash chain).
    Unlike generate_image_index this does NOT synthesize pixels, so
    generation cost never pollutes a benchmark window; for
    content-faithful phashes (dedup oracles, fixtures) use
    generate_image_index / generate_images."""
    import pandas as pd  # noqa: F811

    partitions = partitions or max(spark.sparkContext.defaultParallelism,
                                   4)

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy(np.int64).astype(np.uint64)
            if ids.size == 0:
                continue
            ph = splitmix64(ids).astype(np.int64)
            lat, lon = latlon_from_phash(ph)
            yield pd.DataFrame({"image_id": ids.astype(np.int64),
                                "phash": ph, "lat": lat, "lon": lon})

    return (spark.range(0, n, 1, partitions)
            .mapInPandas(gen, "image_id long, phash long, "
                              "lat double, lon double"))


def generate_image_index(spark: SparkSession, n: int, skew_pct: int = 3,
                         sizes=(16, 32), lossy_pct: int = 30,
                         partitions: int = None,
                         with_caption: bool = False,
                         with_size: bool = False) -> DataFrame:
    """The images table WITHOUT the bytes column — hand-rolled
    projection pushdown for the generator source.  Catalyst cannot
    prune columns INSIDE a mapInPandas source (the same blind spot
    the capability-masked geodesic UDFs solve), so queries that only
    need (image_id, fmt, phash, lat, lon) — dedup, tiling, placement
    joins — use this index path and skip per-row byte assembly
    entirely: the whole batch is vectorized numpy, no Python loop.
    phash/fmt/placement are IDENTICAL to generate_images (shared
    splitmix chains; parity pytest-gated via phash_for_ids)."""
    partitions = partitions or max(spark.sparkContext.defaultParallelism,
                                   4)

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy(np.int64).astype(np.uint64)
            if ids.size == 0:
                continue
            ph = phash_for_ids(ids, sizes=sizes, lossy_pct=lossy_pct)
            lossy = _is_lossy(ids, lossy_pct)
            lat, lon = latlon_for_ids(ids, ph, skew_pct)
            row = {
                "image_id": [f"img_{int(i):012d}" for i in ids],
                "fmt": np.where(lossy, "jpeg-sim", "ppm"),
                "phash": ph,
                "lat": lat,
                "lon": lon,
            }
            if with_caption:
                row["caption"] = _caption_for(ids, lat, lon)
            if with_size:
                # same size chain as generate_images /
                # row_invariants_for_ids: splitmix64(id ^ 7) picks wh
                wh = np.asarray(sizes, np.int64)[_size_pick(ids, sizes)]
                row["npx"] = 3 * wh * wh
            yield pd.DataFrame(row)

    schema = INDEX_CAPTION_SCHEMA if with_caption else INDEX_SCHEMA
    if with_size:
        schema = T.StructType(
            schema.fields + [T.StructField("npx", T.LongType(), False)])
    return (spark.range(0, n, 1, partitions)
            .mapInPandas(gen, schema))


def generate_images(spark: SparkSession, n: int, skew_pct: int = 3,
                    sizes=(16, 32), lossy_pct: int = 30,
                    partitions: int = None) -> DataFrame:
    """Distributed deterministic generation of the images table.

    skew_pct percent of rows are forced into 3 hot discs (HOT_CENTERS)
    to exercise hot-cell salting; lossy_pct percent use the jpeg-sim
    codec.
    """
    partitions = partitions or max(spark.sparkContext.defaultParallelism,
                                   4)

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy(np.int64).astype(np.uint64)
            n_b = ids.size
            if n_b == 0:
                continue
            lossy = _is_lossy(ids, lossy_pct)
            rows = {k: [] for k in ("image_id", "bytes", "w", "h", "fmt",
                                    "caption", "phash", "lat", "lon")}
            id_parts = []
            # group by size so pixel generation + phash vectorize per
            # size; only the bytes-object assembly stays per row
            for m, wh, _, eff in _stored_pixels(ids, sizes, lossy_pct):
                sub_lossy = lossy[m]
                ph_all = phash64_batch(eff)
                id_parts.append(ids[m])
                for t, sid in enumerate(ids[m]):
                    fmt = "jpeg-sim" if sub_lossy[t] else "ppm"
                    rows["image_id"].append(f"img_{int(sid):012d}")
                    rows["bytes"].append(_header(fmt, wh, wh)
                                         + eff[t].tobytes())
                    rows["w"].append(wh)
                    rows["h"].append(wh)
                    rows["fmt"].append(fmt)
                    rows["phash"].append(int(ph_all[t]))
            id_arr = np.concatenate(id_parts)
            lat, lon = latlon_for_ids(id_arr, rows["phash"], skew_pct)
            rows["lat"] = lat.tolist()
            rows["lon"] = lon.tolist()
            rows["caption"] = _caption_for(id_arr, lat, lon)
            yield pd.DataFrame(rows)

    return (spark.range(0, n, 1, partitions)
            .mapInPandas(gen, IMAGES_SCHEMA))


# rows per decode batch: bounds a worker's transient pixel arrays
# whatever the Arrow batch size (256 32x32 images: 0.8 MB of uint8,
# 3 MB per int32 and 2 MB per float64 temporary of _pixels_for); as
# fast as 1024 or 4096 rows, with a lower worker peak RSS
_DECODE_CHUNK = 256

INVARIANTS_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType()),
    T.StructField("caption", T.StringType()),
    T.StructField("fmt", T.StringType()),
    T.StructField("pix_sum", T.LongType()),
    T.StructField("sse", T.LongType()),
    T.StructField("psnr_ok", T.BooleanType()),
])


def decode_invariants(images_df: DataFrame) -> DataFrame:
    """Distributed per-row invariant check over an images DataFrame:
    decode every payload (real PPM / jpeg-sim parse), compare against
    a pristine in-UDF regeneration with an INTEGER sum of squared
    errors, and emit psnr_ok — the exact integer form of
    PSNR >= 40 dB (sse * 10^4 <= 255^2 * n_px) — plus the caption.
    Used by queries.image_row_invariants (driver hash gate vs the
    committed fixture) and as a pipeline stage.

    Every row decodes with decode_image (a malformed payload raises
    as that parse does); the decoded pixels of one (w, h) size are
    stacked, up to _DECODE_CHUNK rows at a time, so one _pixels_for
    call and one sum serve the whole chunk."""
    def inv(batches):
        for pdf in batches:
            nb = len(pdf)
            if nb == 0:
                continue
            ids = np.array([int(s.split("_")[1]) for s in pdf.image_id],
                           dtype=np.uint64)
            data, fmt = pdf.bytes.tolist(), pdf.fmt.tolist()
            pix_sum = np.zeros(nb, np.int64)
            sse = np.zeros(nb, np.int64)
            sizes = pdf.groupby(["w", "h"], dropna=False).indices
            for (w, h), rows in sizes.items():
                for lo in range(0, rows.size, _DECODE_CHUNK):
                    part = rows[lo:lo + _DECODE_CHUNK]
                    pristine = _pixels_for(ids[part], int(w), int(h))
                    decoded = np.stack([decode_image(data[t], fmt[t])
                                        for t in part])
                    d = decoded.astype(np.int32) - pristine
                    pix_sum[part] = decoded.sum(axis=(1, 2, 3),
                                                dtype=np.int64)
                    sse[part] = (d * d).sum(axis=(1, 2, 3), dtype=np.int64)
            n_px = 3 * pdf.w.to_numpy(np.int64) * pdf.h.to_numpy(np.int64)
            yield pd.DataFrame({
                "image_id": pdf.image_id,
                "caption": pdf.caption,
                "fmt": pdf.fmt,
                "pix_sum": pix_sum,
                "sse": sse,
                "psnr_ok": sse * 10000 <= 65025 * n_px,
            })

    return images_df.mapInPandas(inv, INVARIANTS_SCHEMA)


PIXSTATS_SCHEMA = T.StructType([
    T.StructField("tile_id", T.LongType(), False),
    T.StructField("pix_sum", T.LongType(), False),
    T.StructField("n_px", T.LongType(), False),
])


def decode_pixel_stats(tiled_images: DataFrame) -> DataFrame:
    """Decode-only pixel statistics per image, keyed by whatever
    tile_id the caller attached upstream: (tile_id, pix_sum, n_px)
    with pix_sum the exact int64 sum of the STORED (post-codec)
    pixels.  Unlike decode_invariants there is no pristine
    regeneration — this is the lean pass a per-tile image aggregate
    wants, one mapInPandas stage appended to the same map-only chain
    as the tile assignment (no join, no shuffle before the caller's
    own aggregate)."""
    def st(batches):
        for pdf in batches:
            nb = len(pdf)
            if nb == 0:
                continue
            pix_sum = np.zeros(nb, np.int64)
            for t in range(nb):
                decoded = decode_image(pdf.bytes.iloc[t],
                                       pdf.fmt.iloc[t])
                pix_sum[t] = decoded.astype(np.int64).sum()
            yield pd.DataFrame({
                "tile_id": pdf.tile_id.to_numpy(np.int64),
                "pix_sum": pix_sum,
                "n_px": 3 * pdf.w.to_numpy(np.int64)
                        * pdf.h.to_numpy(np.int64),
            })

    return tiled_images.mapInPandas(st, PIXSTATS_SCHEMA)


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB between two uint8 images."""
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return 10 * np.log10(255.0 ** 2 / mse)
