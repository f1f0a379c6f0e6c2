"""Multimodal (image) operators over the input_hint corpus table
(image_id, bytes:binary, w, h, fmt, caption, phash).

The graft's payload work: decode, verify (PSNR vs ground truth),
feature-extract (resize / phash), and near-dup by perceptual-hash
hamming distance. Binary payloads stay opaque BinaryType columns; all
pixel work happens inside iterator-of-Arrow-batches UDFs
(`session.map_rows`) — no per-row Python at the Spark boundary
(input_hint mandate).

Scale notes:
* decode/resize/phash are embarrassingly parallel map stages — they
  scale with partitions and never shuffle.
* near-dup is a 64-bit hamming ball search over the corpus' phash or
  the decoded dhash (`with_dhash`); the exact, (r+1)-banded and
  Manku-blocked pair joins live in `operators/pairs.py`, shared with
  the audio and text hash families. This module keeps the pixel
  kernels and the dedup decisions built on those pairs.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from webcollector_spark import codecs, fixtures
from webcollector_spark.operators.pairs import blocked_pairs
from webcollector_spark.session import map_rows

#: output names of an image near-dup pair (operators/pairs.py)
_IMG_PAIR = ("img_a", "img_b")

DECODE_META_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("psnr_db", T.DoubleType()),
        T.StructField("psnr_ok", T.BooleanType()),
        T.StructField("phash_match", T.BooleanType()),
    ]
)

RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("out_w", T.IntegerType()),
        T.StructField("out_h", T.IntegerType()),
        T.StructField("pixel_sum", T.LongType()),
    ]
)


def decode_verify(corpus: DataFrame, psnr_gate_db: float = 40.0) -> DataFrame:
    """Decode every image and verify the per-row invariant from
    input_hint: decoded pixels vs recomputed ground truth — exact for
    lossless (PSNR inf), >= 40 dB for lossy — plus phash equality."""

    def row(r):
        pixels = codecs.decode(bytes(r["bytes"]))
        truth = fixtures.ground_truth_pixels(r["image_id"], r["w"], r["h"])
        psnr = codecs.psnr_db(pixels, truth)
        yield {
            "image_id": r["image_id"],
            "w": int(r["w"]),
            "h": int(r["h"]),
            "fmt": r["fmt"],
            "psnr_db": float(min(psnr, 1e9)),
            "psnr_ok": bool(psnr >= psnr_gate_db),
            "phash_match": codecs.phash64(pixels) == int(r["phash"]),
        }

    return map_rows(corpus, DECODE_META_SCHEMA, row)


UPRIGHT_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("orientation", T.IntegerType()),
        T.StructField("w_stored", T.IntegerType()),
        T.StructField("h_stored", T.IntegerType()),
        T.StructField("w_upright", T.IntegerType()),
        T.StructField("h_upright", T.IntegerType()),
        T.StructField("psnr_db", T.DoubleType()),
        T.StructField("psnr_ok", T.BooleanType()),
        T.StructField("phash_match", T.BooleanType()),
    ]
)


def exif_upright_decode(
    corpus: DataFrame, psnr_gate_db: float = 40.0
) -> DataFrame:
    """Orientation-aware decode: decode the stored pixels, read EXIF tag
    0x0112 from the same bytes, apply the 8-way flip/rotate correction
    (exif.normalize_orientation), and verify the UPRIGHT result against
    recomputed ground truth (PSNR >= 40 dB) and the upright phash — the
    per-row invariant that proves the pipeline's dedup identity and
    training pixels are orientation-independent. Same map-stage shape as
    decode_verify: one Arrow pass, no shuffle."""
    from webcollector_spark.exif import normalize_orientation, parse_exif

    def row(r):
        data = bytes(r["bytes"])
        tag = parse_exif(data)["orientation"]
        stored = codecs.decode(data)
        upright = normalize_orientation(stored, tag)
        uh, uw = upright.shape[:2]
        truth = fixtures.ground_truth_pixels(r["image_id"], uw, uh)
        psnr = codecs.psnr_db(upright, truth)
        yield {
            "image_id": r["image_id"],
            "orientation": tag,
            "w_stored": stored.shape[1],
            "h_stored": stored.shape[0],
            "w_upright": uw,
            "h_upright": uh,
            "psnr_db": float(min(psnr, 1e9)),
            "psnr_ok": bool(psnr >= psnr_gate_db),
            "phash_match": codecs.phash64(upright) == int(r["phash"]),
        }

    return map_rows(corpus, UPRIGHT_SCHEMA, row)


def resize_meanpool(corpus: DataFrame, out: int = 16) -> DataFrame:
    """Feature-extraction shape: decode -> mean-pool resize to out x out
    -> deterministic checksum. Stands in for any per-image embedding /
    thumbnail stage; the Spark plumbing (schema, batching, partitioning)
    is the real deliverable, the kernel is swappable."""

    def row(r):
        px = codecs.decode(bytes(r["bytes"])).astype(np.float64)
        h, w, _ = px.shape
        th, tw = (h // out) * out, (w // out) * out
        if th == 0 or tw == 0:
            small = np.zeros((out, out, 3))
        else:
            small = (
                px[:th, :tw]
                .reshape(out, th // out, out, tw // out, 3)
                .mean(axis=(1, 3))
            )
        yield {
            "image_id": r["image_id"],
            "out_w": out,
            "out_h": out,
            "pixel_sum": int(small.round().astype(np.int64).sum()),
        }

    return map_rows(corpus, RESIZE_SCHEMA, row)


CHANNEL_PARTIALS_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("channel", T.StringType()),
        T.StructField("n_px", T.LongType()),
        T.StructField("s", T.LongType()),
        T.StructField("ss", T.LongType()),
    ]
)


def channel_partials(corpus: DataFrame) -> DataFrame:
    """Per-image, per-channel (count, sum, sum-of-squares) moment
    partials — exact int64, computed in the decode map stage. This is
    the map-side half of dataset normalization statistics; keeping the
    partials integer means the global reduce is EXACT regardless of how
    many partitions contribute, unlike folding floating means."""

    def row(r):
        px = codecs.decode(bytes(r["bytes"])).astype(np.int64)
        n = px.shape[0] * px.shape[1]
        for ci, ch in enumerate("rgb"):
            lane = px[:, :, ci]
            yield {
                "image_id": r["image_id"],
                "channel": ch,
                "n_px": int(n),
                "s": int(lane.sum()),
                "ss": int((lane * lane).sum()),
            }

    return map_rows(corpus, CHANNEL_PARTIALS_SCHEMA, row)


def channel_stats(corpus: DataFrame) -> DataFrame:
    """Dataset per-channel mean/std — the normalization constants every
    vision training run burns a full data pass to compute. Decode map
    stage -> integer partials -> ONE hash-aggregate (3 groups); the
    only floating-point ops are the final per-group divisions, so the
    result is independent of partitioning and bit-reproducible."""
    agg = (
        channel_partials(corpus)
        .groupBy("channel")
        .agg(
            F.sum("n_px").alias("n_px"),
            F.sum("s").alias("s"),
            F.sum("ss").alias("ss"),
        )
    )
    n = F.col("n_px").cast("double")
    mean = F.col("s").cast("double") / n
    var = F.col("ss").cast("double") / n - mean * mean
    return agg.select(
        "channel",
        "n_px",
        (F.round(mean, 6) + F.lit(0.0)).alias("mean"),
        (F.round(F.sqrt(var), 6) + F.lit(0.0)).alias("std"),
    )


def with_dhash(corpus: DataFrame) -> DataFrame:
    """(image_id, dhash) via decode in the Arrow map stage — the
    gradient-structure twin of the corpus' precomputed average-hash
    `phash` column (codecs.dhash64: independent mistake profile)."""
    schema = T.StructType(
        [
            T.StructField("image_id", T.StringType()),
            T.StructField("dhash", T.LongType()),
        ]
    )

    def row(r):
        yield {
            "image_id": r["image_id"],
            "dhash": codecs.dhash64(codecs.decode(bytes(r["bytes"]))),
        }

    return map_rows(corpus, schema, row)


def image_neardup_keepers(
    corpus: DataFrame,
    max_hamming: int = 4,
    features: DataFrame | None = None,
) -> DataFrame:
    """THE dedup decision a 10^9-image pipeline ships: union the phash
    (global brightness layout) and dhash (local gradient structure)
    hamming balls — two LSH families with independent mistake profiles,
    so the union's recall strictly dominates either alone — then
    connected components over the combined edge set and one
    deterministic keeper (min image_id) per cluster. Singletons keep
    themselves. Output: (image_id, cluster, cluster_size, is_keeper).

    Scale shape: both pair generators are the Manku blocked candidate
    stage (O(candidates), never O(n^2)); components is the BSP
    min-label loop at O(edges)/round; everything downstream of the
    pair union is O(n + edges). Reference anchor: WebCollector dedups
    by exact key only (crawldb merge, `plans/queries.py` O13) — this is
    the content-level twin the image graft needs.

    Pass `features` (a features_fused output) to source dhash from the
    precomputed table instead of re-decoding — the whole decision then
    runs without touching payload bytes."""
    from webcollector_spark.operators.components import dedup_clusters

    dhash = (
        features.select("image_id", "dhash")
        if features is not None
        else with_dhash(corpus)
    )
    pairs = (
        blocked_pairs(corpus, "image_id", "phash", _IMG_PAIR, max_hamming)
        .select("img_a", "img_b")
        .unionByName(
            blocked_pairs(dhash, "image_id", "dhash", _IMG_PAIR, max_hamming)
            .select("img_a", "img_b")
        )
        .distinct()
    )
    return dedup_clusters(
        pairs,
        corpus.select("image_id"),
        id_col="image_id",
        src="img_a",
        dst="img_b",
    )


SHARPNESS_PARTIALS_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("n_lap", T.LongType()),
        T.StructField("s_lap", T.LongType()),
        T.StructField("ss_lap", T.LongType()),
    ]
)


def sharpness_partials(corpus: DataFrame) -> DataFrame:
    """Per-image integer moment partials of the 4-neighbour Laplacian
    over integer luma (codecs.lap_partials) — exact int64, emitted from
    the decode map stage. Same design as channel_partials: integer
    partials make the downstream variance partition-independent and
    bit-reproducible between engines."""

    def row(r):
        n, s, ss = codecs.lap_partials(codecs.decode(bytes(r["bytes"])))
        yield {"image_id": r["image_id"], "n_lap": n, "s_lap": s, "ss_lap": ss}

    return map_rows(corpus, SHARPNESS_PARTIALS_SCHEMA, row)


def image_sharpness(
    corpus: DataFrame,
    threshold: float = 10_000.0,
    partials: DataFrame | None = None,
) -> DataFrame:
    """Blur gate: variance of the Laplacian per image (the classic
    sharpness score), normalized back to 8-bit-luma^2 units (the
    integer luma is x1000), rounded to 4 decimals. A training-data
    curation filter: soft-focus / upscaled thumbnails score orders of
    magnitude below real texture. Decode map stage -> per-image
    in-expression variance — embarrassingly parallel, zero shuffle.

    Pass `partials` (any table with image_id/n_lap/s_lap/ss_lap, e.g.
    a features_fused output) to skip the decode entirely — the gate
    then runs pure-JVM over precomputed features."""
    p = (
        partials.select("image_id", "n_lap", "s_lap", "ss_lap")
        if partials is not None
        else sharpness_partials(corpus)
    )
    n = F.col("n_lap").cast("double")
    mean = F.col("s_lap").cast("double") / n
    lap_var = (
        (F.col("ss_lap").cast("double") / n - mean * mean) / F.lit(1_000_000.0)
    )
    lap_var = F.round(lap_var, 4) + F.lit(0.0)
    return p.select(
        "image_id",
        "n_lap",
        F.when(F.col("n_lap") > 0, lap_var).alias("lap_var"),
        F.when(F.col("n_lap") > 0, lap_var >= F.lit(threshold))
        .otherwise(F.lit(False))
        .alias("is_sharp"),
    )


FUSED_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("n_px", T.LongType()),
        T.StructField("s_r", T.LongType()),
        T.StructField("s_g", T.LongType()),
        T.StructField("s_b", T.LongType()),
        T.StructField("ss_r", T.LongType()),
        T.StructField("ss_g", T.LongType()),
        T.StructField("ss_b", T.LongType()),
        T.StructField("n_lap", T.LongType()),
        T.StructField("s_lap", T.LongType()),
        T.StructField("ss_lap", T.LongType()),
        T.StructField("phash", T.LongType()),
        T.StructField("dhash", T.LongType()),
    ]
)


def features_fused(corpus: DataFrame, exif_upright: bool = False) -> DataFrame:
    """Single-decode fused feature extraction: ONE decode per image,
    every per-image feature off the same pixel buffer — channel moment
    partials (normalization stats), Laplacian moment partials
    (sharpness gate), phash + dhash (both near-dup LSH families), and
    true dimensions. Running channel_partials / sharpness_partials /
    decode hashing as separate operators decodes every image once PER
    OPERATOR; fusing amortizes that to one decode. How much that buys
    depends on the codec (measured, BENCH.md §4i): for compressed
    formats decode dominates (pure-Python JPEG here: 57 ms/img vs
    ~1.9 ms for ALL feature kernels combined; libjpeg-turbo in
    production is ~2-3 ms — still the biggest single term), so k fused
    consumers approach a k× saving; for the cheap vectorized PNG path
    (0.23 ms/img) the win is the Arrow transfer + scan dedup instead.
    All moments stay exact int64, so each
    downstream reduce remains partition-order independent and
    bit-reproducible (same contract as the unfused twins).

    `exif_upright=True` applies the EXIF orientation correction
    (webcollector_spark/exif.py) to the decoded buffer BEFORE any
    feature kernel runs, in the same single pass — without it a rotated
    upload hashes >8 phash bits away from its upright original
    (tests/test_exif.py) and the dedup clusters silently split."""

    from webcollector_spark.exif import normalize_orientation, parse_exif

    def row(r):
        data = bytes(r["bytes"])
        px = codecs.decode(data)
        if exif_upright:
            px = normalize_orientation(px, parse_exif(data)["orientation"])
        lanes = px.astype(np.int64)
        n_lap, s_lap, ss_lap = codecs.lap_partials(px)
        yield {
            "image_id": r["image_id"],
            "w": int(px.shape[1]),
            "h": int(px.shape[0]),
            "n_px": int(px.shape[0] * px.shape[1]),
            "s_r": int(lanes[:, :, 0].sum()),
            "s_g": int(lanes[:, :, 1].sum()),
            "s_b": int(lanes[:, :, 2].sum()),
            "ss_r": int((lanes[:, :, 0] ** 2).sum()),
            "ss_g": int((lanes[:, :, 1] ** 2).sum()),
            "ss_b": int((lanes[:, :, 2] ** 2).sum()),
            "n_lap": n_lap,
            "s_lap": s_lap,
            "ss_lap": ss_lap,
            "phash": codecs.phash64(px),
            "dhash": codecs.dhash64(px),
        }

    return map_rows(corpus, FUSED_FEATURES_SCHEMA, row)


def image_neardup_best_keepers(
    corpus: DataFrame,
    max_hamming: int = 4,
    features: DataFrame | None = None,
) -> DataFrame:
    """Quality-aware dedup decision: same phash ∪ dhash hamming-ball
    clusters as image_neardup_keepers, but the keeper is the SHARPEST
    copy (highest variance-of-Laplacian, min image_id tiebreak) instead
    of the arbitrary min-id — the rule a real curation pipeline wants,
    since near-dup groups on the web are typically one original plus
    recompressed/rescaled/soft copies and training should keep the best
    one. Output: (image_id, cluster, cluster_size, lap_var, is_keeper).

    Scale shape: the cluster machinery is unchanged (blocked candidate
    joins + BSP components); sharpness comes from the decode map stage
    (or the fused features pass); keeper selection is one row_number
    window partitioned by cluster — cluster sizes are duplicate
    multiplicities, so no partition is meaningfully large. lap_var is
    rounded to 4 decimals BEFORE ranking so the keeper choice is
    bit-reproducible across engines.

    Pass `features` (a features_fused output) and the ENTIRE decision —
    clusters, sharpness, keeper — runs pure-JVM over the precomputed
    feature table, zero decodes: the decode-once-decide-anywhere shape
    a 10^9-image pipeline wants."""
    decided = image_neardup_keepers(
        corpus, max_hamming=max_hamming, features=features
    ).drop("is_keeper")
    sharp = image_sharpness(corpus, partials=features).select(
        "image_id", "lap_var"
    )
    w = Window.partitionBy("cluster").orderBy(
        F.col("lap_var").desc_nulls_last(), F.col("image_id")
    )
    return (
        decided.join(sharp, "image_id")
        .withColumn("is_keeper", F.row_number().over(w) == 1)
        .select("image_id", "cluster", "cluster_size", "lap_var", "is_keeper")
    )


LETTERBOX_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("top", T.IntegerType()),
        T.StructField("bottom", T.IntegerType()),
        T.StructField("left", T.IntegerType()),
        T.StructField("right", T.IntegerType()),
        T.StructField("content_w", T.IntegerType()),
        T.StructField("content_h", T.IntegerType()),
        T.StructField("boxed", T.BooleanType()),
    ]
)


def letterbox_geometry(corpus: DataFrame) -> DataFrame:
    """Constant-border crop geometry per image (codecs.border_geometry:
    consecutive uniform lines from each edge) — the crop step a vision
    curation pass runs before aspect bucketing, since letterbox bars
    poison both the aspect ratio and the patch statistics. Decode map
    stage, pure integers out, zero shuffle — embarrassingly parallel at
    any corpus size; feed its output to aspect_bucket_assign on
    (content_w, content_h) instead of the padded (w, h)."""

    def row(r):
        px = codecs.decode(bytes(r["bytes"]))
        h, w = px.shape[:2]
        t, b, l, rt = codecs.border_geometry(px)
        yield {
            "image_id": r["image_id"],
            "w": w,
            "h": h,
            "top": t,
            "bottom": b,
            "left": l,
            "right": rt,
            "content_w": max(0, w - l - rt),
            "content_h": max(0, h - t - b),
            "boxed": (t + b + l + rt) > 0,
        }

    return map_rows(corpus, LETTERBOX_SCHEMA, row)
