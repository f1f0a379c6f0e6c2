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
* phash near-dup is a 64-bit hamming ball search: exact formulation is
  a self-join with bit_count(a XOR b) <= r, JVM-side (whole-stage
  codegen, no Python). Two LSH-shaped alternatives:
  - (r+1)-banding (phash_neardup_banded): pigeonhole on bands; right
    when r is large (r=12 -> 4-5 bit chunks would be useless, so it
    keeps wide bands and tolerates bucket fan-out at moderate n).
  - block-combination keys (phash_neardup_blocked, Manku WWW'07): for
    small r at LARGE n — 32-bit bucket keys keep buckets near-singleton
    at 10^9 uniform hashes, where (r+1)-banding's 12-bit buckets
    measured ~5e9 candidate pairs at just n=2M (BENCH_CAPTIONS.json).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from webcollector_spark import codecs, fixtures
from webcollector_spark.session import map_rows

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


def dhash_neardup_blocked(corpus: DataFrame, max_hamming: int = 4) -> DataFrame:
    """Hamming-ball near-dup over the DIFFERENCE hash, running through
    the exact same block-combination machinery as the phash path — the
    blocking layer is hash-agnostic by construction (it sees only a
    64-bit column), so adding a second LSH family costs one map stage
    and zero new join code. Ensemble rationale in codecs.dhash64."""
    dh = with_dhash(corpus)
    return phash_neardup_blocked(
        dh.select("image_id", F.col("dhash").alias("phash")),
        max_hamming=max_hamming,
    )


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

    dhash_src = (
        features.select("image_id", F.col("dhash").alias("phash"))
        if features is not None
        else None
    )
    dhash_pairs = (
        phash_neardup_blocked(dhash_src, max_hamming=max_hamming)
        if dhash_src is not None
        else dhash_neardup_blocked(corpus, max_hamming=max_hamming)
    )
    pairs = (
        phash_neardup_blocked(corpus, max_hamming=max_hamming)
        .select("img_a", "img_b")
        .unionByName(dhash_pairs.select("img_a", "img_b"))
        .distinct()
    )
    return dedup_clusters(
        pairs,
        corpus.select("image_id"),
        id_col="image_id",
        src="img_a",
        dst="img_b",
    )


def phash_neardup_pairs(corpus: DataFrame, max_hamming: int = 12) -> DataFrame:
    """Exact perceptual near-dup: pairs with hamming(phash) <= r.
    All-JVM (bit_count/xor in whole-stage codegen). O(n^2) — the
    baseline; see `phash_neardup_banded` for the scale path."""
    a = corpus.select(
        F.col("image_id").alias("img_a"), F.col("phash").alias("ph_a")
    )
    b = corpus.select(
        F.col("image_id").alias("img_b"), F.col("phash").alias("ph_b")
    )
    ham = F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b")))
    return (
        a.crossJoin(b)
        .filter(F.col("img_a") < F.col("img_b"))
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("img_a", "img_b", "hamming")
    )


def phash_neardup_banded(
    corpus: DataFrame, max_hamming: int = 12, bands: int | None = None
) -> DataFrame:
    """Scale path: split the 64-bit hash into (max_hamming+1) bands —
    pigeonhole guarantees two hashes within hamming r agree exactly on
    >= 1 band — bucket-join per band, then verify candidates exactly.
    Same result set as `phash_neardup_pairs`, O(n * bucket) work."""
    bands = bands or (max_hamming + 1)
    width = 64 // bands

    def banded(df: DataFrame, id_alias: str, ph_alias: str) -> DataFrame:
        out = df.select(
            F.col("image_id").alias(id_alias), F.col("phash").alias(ph_alias)
        )
        parts = F.array(
            *[
                F.struct(
                    F.lit(i).alias("band"),
                    F.shiftrightunsigned(F.col(ph_alias), i * width)
                    .bitwiseAND(F.lit((1 << width) - 1))
                    .alias("chunk"),
                )
                for i in range(bands)
            ]
        )
        return out.select(id_alias, ph_alias, F.explode(parts).alias("bc")).select(
            id_alias, ph_alias, F.col("bc.band").alias("band"), F.col("bc.chunk").alias("chunk")
        )

    a = banded(corpus, "img_a", "ph_a")
    b = banded(corpus, "img_b", "ph_b")
    ham = F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b")))
    return (
        a.join(b, ["band", "chunk"])
        .filter(F.col("img_a") < F.col("img_b"))
        .select("img_a", "img_b", ham.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def _block_combo_keys(
    df: DataFrame,
    id_alias: str,
    ph_alias: str,
    max_hamming: int = 4,
    m: int = 8,
    id_col: str = "image_id",
    ph_col: str = "phash",
) -> DataFrame:
    """Manku-style block-combination keys for hamming <= k search over
    a 64-bit hash (Manku, Jain & Sarma, WWW'07 §3 — the permuted-table
    construction, expressed as explode+join instead of sorted probes).

    WHY not simple (k+1)-banding at scale: with k=4 a band is only
    64//5 = 12 bits -> 4096 buckets per band. Hashes are uniform, so at
    n rows every bucket holds ~n/4096 rows and the bucket self-join is
    quadratic-within-bucket: measured at n=2M synthetic phashes the
    banded join generates ~5 BILLION candidate pairs. Block-combination
    keys fix the geometry: split into m=8 blocks of 8 bits; hamming <= k
    corrupts at most k blocks, so >= m-k blocks are intact and the two
    hashes agree on SOME (m-k)-block combination. Keying every
    C(m, m-k) combination (70 for k=4) makes a bucket key m-k blocks =
    32 bits wide -> random collisions need 32 matching bits
    (~n/2^32 per bucket, near-singleton even at 10^9 rows). Work is
    O(n * C(m, m-k)) map-side fan-out + true-pair verification, never
    quadratic. Tradeoff knob: larger m widens coverage per key but
    explodes C(m, m-k); m=8/k<=4 is the classic 64-bit operating point.
    """
    t = m - max_hamming
    if t < 1:
        raise ValueError(f"need m > max_hamming (got m={m}, k={max_hamming})")
    width = 64 // m
    mask = (1 << width) - 1

    def block(i: int):
        return F.shiftrightunsigned(F.col(ph_alias), i * width).bitwiseAND(
            F.lit(mask)
        )

    keys = []
    for combo_id, combo in enumerate(_block_combos(m, t)):
        bkey = F.lit(0).cast("long")
        for i in combo:
            bkey = F.shiftleft(bkey, width).bitwiseOR(block(i))
        keys.append(
            F.struct(F.lit(combo_id).alias("combo"), bkey.alias("bkey"))
        )
    out = df.select(F.col(id_col).alias(id_alias), F.col(ph_col).alias(ph_alias))
    return out.select(
        id_alias, ph_alias, F.explode(F.array(*keys)).alias("cb")
    ).select(id_alias, ph_alias, F.col("cb.combo").alias("combo"), F.col("cb.bkey").alias("bkey"))


def _block_combos(m: int, t: int) -> list[tuple[int, ...]]:
    """Canonical enumeration order of the C(m, t) block combinations —
    shared by the key emitter and the minimal-combo dedup LUT so combo
    ids agree by construction."""
    from itertools import combinations

    return list(combinations(range(m), t))


def _min_combo_lut(m: int, t: int) -> list[int]:
    """min_combo_lut[corrupt_bitmap] = id of the FIRST (m,t)-block
    combination containing no corrupted block, -1 when fewer than t
    blocks are intact (unreachable for joined pairs, which agreed on
    some combo's full bkey). Property-tested against a brute-force
    oracle in tests/test_property.py."""
    combos = _block_combos(m, t)
    return [
        next(
            (
                ci
                for ci, c in enumerate(combos)
                if all(not (cmask >> blk_i) & 1 for blk_i in c)
            ),
            -1,
        )
        for cmask in range(1 << m)
    ]


def _min_intact_combo(xor, m: int, t: int):
    """Column expression: id of the FIRST (m,t)-block combination fully
    intact between two hashes whose xor is `xor` — the canonical combo a
    candidate pair is allowed to survive on, so each pair is emitted
    exactly once without a `.distinct()` shuffle. Derives the
    corrupted-block bitmap from the xor, then looks the minimal intact
    combo up in a 2^m-entry literal array."""
    width = 64 // m
    blkmask = (1 << width) - 1
    corrupt = F.lit(0)
    for i in range(m):
        blk = F.shiftrightunsigned(xor, i * width).bitwiseAND(F.lit(blkmask))
        corrupt = corrupt.bitwiseOR(
            F.when(blk != 0, F.lit(1 << i)).otherwise(F.lit(0))
        )
    return F.element_at(
        F.array(*[F.lit(v) for v in _min_combo_lut(m, t)]),
        corrupt.cast("int") + F.lit(1),
    )


def phash_neardup_blocked(
    corpus: DataFrame, max_hamming: int = 4, m: int = 8
) -> DataFrame:
    """Web-scale hamming <= k near-dup pairs via block-combination keys
    (see _block_combo_keys for why plain banding collapses at n >= 10^6).
    Same result set as the exact O(n^2) formulation — completeness by
    pigeonhole on intact blocks.

    Candidate work is keyed on DISTINCT hashes, not rows: a crawl's
    exact-duplicate multiplicity is Zipfian (the same logo/spacer/stock
    image recurs millions of times), and every row of an exact-dup
    cluster shares all C(m, m-k) combination keys, so a row-keyed join
    does C(cluster)^2 x 70 candidate work for pairs that need none.
    Instead: (1) hamming-0 pairs come from a plain self-equi-join on
    phash — true pairs only, output-bound (a Zipfian mega-cluster's
    C(g,2) output is the pair-list CONTRACT, not join waste; its
    oversized shuffle partition is the shape AQE skew-split handles,
    and consumers that only need connectivity — dedup components,
    per-image conflict flags — should aggregate per cluster instead of
    enumerating pairs); (2) the blocked join runs
    over the distinct-hash table (candidates O(distinct^2 within
    32-bit buckets), each surviving hash pair emitted exactly once via
    the minimal-intact-combo filter — no `.distinct()` shuffle); (3)
    members rejoin by hash on both sides. Measured on the 2M-row
    conflict bench (4-row planted clusters): candidate volume 210M
    row-keyed -> 2,034 distinct-keyed, wall 188.7 s -> 59.6 s
    (BENCH.md §4f); at real Zipfian multiplicity the gap widens."""
    t = m - max_hamming
    mem = corpus.select("image_id", "phash")
    # (1) exact duplicates: true pairs, no candidate stage at all
    within = (
        mem.select(F.col("image_id").alias("img_a"), "phash")
        .join(mem.select(F.col("image_id").alias("img_b"), "phash"), "phash")
        .filter(F.col("img_a") < F.col("img_b"))
        .select("img_a", "img_b", F.lit(0).cast("int").alias("hamming"))
    )
    if max_hamming == 0:
        return within
    # (2) hamming 1..k over distinct hashes only
    dh = corpus.select(F.col("phash").alias("ph")).distinct()
    a = _block_combo_keys(dh, "_a", "ph_a", max_hamming, m, "ph", "ph").drop("_a")
    b = _block_combo_keys(dh, "_b", "ph_b", max_hamming, m, "ph", "ph").drop("_b")
    xor = F.col("ph_a").bitwiseXOR(F.col("ph_b"))
    ham = F.bit_count(xor)
    # hint the self-join: the optimizer sizes the join by the
    # pre-Generate distinct-hash table (small) and would BROADCAST the
    # x70-exploded side — a single-threaded 35M-row driver build at 2M
    # input rows (measured: the broadcast build alone took 83 s). Keys
    # are hash-uniform, so per-partition SHJ builds are balanced.
    hash_pairs = (
        a.hint("shuffle_hash").join(b, ["combo", "bkey"])
        .filter(F.col("ph_a") < F.col("ph_b"))
        .filter(ham <= max_hamming)
        .filter(F.col("combo") == _min_intact_combo(xor, m, t))
        .select("ph_a", "ph_b", ham.cast("int").alias("hamming"))
    )
    # (3) expand hash pairs back to image pairs (shuffle joins on the
    # hash — pair-keyed, nothing O(n) broadcast)
    between = (
        hash_pairs.join(
            mem.select(F.col("image_id").alias("ia"), F.col("phash").alias("ph_a")),
            "ph_a",
        )
        .join(
            mem.select(F.col("image_id").alias("ib"), F.col("phash").alias("ph_b")),
            "ph_b",
        )
        .select(
            F.least("ia", "ib").alias("img_a"),
            F.greatest("ia", "ib").alias("img_b"),
            "hamming",
        )
    )
    return within.unionByName(between)


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
