"""Caption-side curation over the input_hint image+caption corpus.

A web crawl of image+caption pairs (the graft's payload) collects
alt-text, and alt-text is noisy: boilerplate ("image", "photo"),
empties, case/whitespace variants, and near-identical images whose
captions disagree (label noise). These operators are the caption half
of the curation pipeline — the pixel half lives in
`operators/images.py` (decode verify, phash near-dup).

All caption work is JVM-side string expressions (no Python in the hot
path); the only join shape is the blocked phash pair join from
`operators/pairs.py`, so every operator here is O(docs) or
O(docs x bucket) and survives a 10^9-image corpus:

* `caption_dedup` / `caption_spam` — one hash-aggregate on the
  normalized caption (map-side combine; no skew beyond the boilerplate
  groups, which aggregate to one row each).
* `caption_conflict` — block-combination phash keys
  (pairs.blocked_pairs, pigeonhole-complete at hamming <= max_hamming
  with 32-bit bucket keys), then two shuffle joins on image_id to
  attach captions; nothing O(n) is broadcast.
* `caption_conflict_flags` — the same candidate stage over distinct
  hashes only (pairs.hash_pairs), aggregated per hash: no pair list.
* `caption_quality` — a pure map stage.

Reference analogue: WebCollector keeps page metadata beside fetched
content (CrawlDatum meta, crawldb/CrawlDatum.java) but has no
curation layer; these operators are the training-data extension the
assignment asks for on top of the crawl core.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from webcollector_spark.operators.pairs import blocked_pairs, hash_pairs


def caption_norm(col: str | Column = "caption") -> Column:
    """Canonical caption key: collapse whitespace, trim, lowercase.
    The oracle twin is DuckDB `lower(trim(regexp_replace(c,'\\s+',' ','g')))`."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.trim(F.regexp_replace(c, r"\s+", " ")))


def caption_dedup(corpus: DataFrame) -> DataFrame:
    """Group the corpus by normalized caption: how many images share
    the caption, how many distinct pictures (phash) among them, and the
    deterministic keeper (min image_id). Single hash-aggregate."""
    return (
        corpus.select(
            caption_norm().alias("caption_norm"), "image_id", "phash"
        )
        .groupBy("caption_norm")
        .agg(
            F.count("*").alias("n_images"),
            F.countDistinct("phash").alias("n_phashes"),
            F.min("image_id").alias("keeper"),
        )
    )


def caption_spam(corpus: DataFrame, min_phashes: int = 3) -> DataFrame:
    """Boilerplate alt-text detector: normalized captions attached to
    >= min_phashes DISTINCT pictures are spam ("image", "photo", ...) —
    a caption that genuinely describes its picture cannot label many
    different pictures. Distinct-phash, not row count, so a heavily
    re-crawled single picture is not flagged."""
    return caption_dedup(corpus).filter(
        F.col("n_phashes") >= min_phashes
    ).select("caption_norm", "n_images", "n_phashes")


def caption_conflict(corpus: DataFrame, max_hamming: int = 4) -> DataFrame:
    """Label-noise pairs: two images whose pixels are near-identical
    (phash hamming <= max_hamming) but whose normalized captions
    DISAGREE. In a training pipeline at least one of the two labels is
    wrong.

    Scale shape: candidates come from the block-combination keys
    (pairs.blocked_pairs — pigeonhole-complete, near-singleton buckets
    even at 10^9 uniform hashes; plain (k+1)-banding measured
    quadratic-within-bucket at n=2M); the two caption-attach joins are
    shuffle joins on image_id (pair-keyed, nothing O(n) broadcast)."""
    pairs = blocked_pairs(
        corpus, "image_id", "phash", ("img_a", "img_b"), max_hamming
    )
    caps = corpus.select("image_id", caption_norm().alias("cap"))
    return (
        pairs.join(caps.withColumnRenamed("cap", "cap_a"), pairs.img_a == caps.image_id)
        .drop("image_id")
        .join(
            caps.withColumnRenamed("cap", "cap_b").alias("cb"),
            F.col("img_b") == F.col("cb.image_id"),
        )
        .drop("image_id")
        .filter(F.col("cap_a") != F.col("cap_b"))
        .select("img_a", "img_b", "hamming", "cap_a", "cap_b")
    )


def caption_quality(corpus: DataFrame, min_tokens: int = 3, min_chars: int = 12) -> DataFrame:
    """Per-caption quality signals + gate, all whole-stage-codegen
    string expressions: token count, char count (normalized), alnum
    ratio, and quality_ok = long enough AND mostly alphanumeric."""
    norm = caption_norm()
    n_chars = F.length(norm)
    n_tokens = F.when(n_chars == 0, F.lit(0)).otherwise(
        F.size(F.split(norm, " "))
    )
    n_alnum = F.length(F.regexp_replace(norm, r"[^a-z0-9]", ""))
    # raw IEEE division, NOT round(): double division is bit-identical
    # between Spark and DuckDB, while round() is half-up in Spark and
    # half-even in DuckDB and diverges on exactly-representable halves
    ratio = F.when(n_chars == 0, F.lit(0.0)).otherwise(n_alnum / n_chars)
    return corpus.select(
        "image_id",
        n_tokens.alias("n_tokens"),
        n_chars.alias("n_chars"),
        ratio.alias("alnum_ratio"),
        (
            (n_tokens >= min_tokens)
            & (n_chars >= min_chars)
            & (F.when(n_chars == 0, F.lit(0.0)).otherwise(n_alnum / n_chars) >= 0.5)
        ).alias("quality_ok"),
    )


def imagetext_filter(
    corpus: DataFrame,
    min_edge: int = 64,
    max_aspect: int = 2,
    min_tokens: int = 2,
    min_chars: int = 8,
) -> DataFrame:
    """LAION/DataComp-style image+text curation gate — the composite
    keep/drop rule a multimodal training pipeline applies to every
    crawled pair before any expensive stage (decode, embedding, dedup):

    * size_ok    — both edges >= min_edge (thumbnails/spacers out);
    * aspect_ok  — max(w,h) <= max_aspect * min(w,h), kept as an
      INTEGER comparison so there is no float division to diverge on;
    * caption_ok — alt text present, and the normalized caption has
      >= min_tokens tokens and >= min_chars characters;
    * keep       — all three.

    Pure whole-stage-codegen expressions over the metadata columns —
    no decode, no Python, no shuffle; composed with `sniff_meta`
    (operators/sniff.py) this prices the keep/drop decision at a
    header read per row. Per-rule booleans are emitted alongside
    `keep` so drop-reason accounting (what fraction died to size vs
    caption?) is one groupBy away, which is how curation budgets are
    actually tuned."""
    size_ok = (F.col("w") >= min_edge) & (F.col("h") >= min_edge)
    aspect_ok = F.greatest("w", "h") <= F.least("w", "h") * F.lit(max_aspect)
    norm = caption_norm()
    n_chars = F.length(norm)
    n_tokens = F.when(n_chars == 0, F.lit(0)).otherwise(F.size(F.split(norm, " ")))
    caption_ok = (
        F.col("caption").isNotNull()
        & (n_tokens >= min_tokens)
        & (n_chars >= min_chars)
    )
    return corpus.select(
        "image_id",
        size_ok.alias("size_ok"),
        aspect_ok.alias("aspect_ok"),
        caption_ok.alias("caption_ok"),
        (size_ok & aspect_ok & caption_ok).alias("keep"),
    )


# SDXL-style training aspect buckets: (name, reduced aspect rw:rh,
# target dims). Order matters — it is the deterministic tie-break.
ASPECT_BUCKETS: tuple[tuple[str, int, int, int, int], ...] = (
    ("square_1_1", 1, 1, 512, 512),
    ("portrait_3_4", 3, 4, 448, 576),
    ("landscape_4_3", 4, 3, 576, 448),
    ("portrait_9_16", 9, 16, 384, 640),
    ("landscape_16_9", 16, 9, 640, 384),
)


def aspect_bucket_assign(corpus: DataFrame) -> DataFrame:
    """Assign every image to the nearest TRAINING ASPECT BUCKET — the
    bucketed-batching trick (NovelAI/SDXL): batches are formed within a
    bucket so images resize to the bucket's target dims without
    destructive cropping, and the bucket column doubles as the
    repartition key that keeps batch assembly shuffle-local.

    Nearness is the scale-free ratio distance max(w*rh, h*rw) /
    min(w*rh, h*rw) — monotone with |log-aspect difference|, computed
    as ONE int64 cross-multiply pair and ONE IEEE division per bucket
    (division is exactly rounded, so Spark and an oracle engine agree
    bit-for-bit; no transcendental ln to diverge on). Argmin over the
    fixed 5-bucket array happens in-row via array_min over (score,
    idx) structs — no row multiplication, no shuffle, whole-stage
    codegen end to end. Ties break to the earliest bucket in
    ASPECT_BUCKETS on both engines."""
    scored = F.array(
        *[
            F.struct(
                (
                    F.greatest(
                        F.col("w") * F.lit(rh), F.col("h") * F.lit(rw)
                    ).cast("double")
                    / F.least(F.col("w") * F.lit(rh), F.col("h") * F.lit(rw))
                ).alias("score"),
                F.lit(i).alias("idx"),
                F.lit(name).alias("bucket"),
                F.lit(tw).alias("target_w"),
                F.lit(th).alias("target_h"),
            )
            for i, (name, rw, rh, tw, th) in enumerate(ASPECT_BUCKETS)
        ]
    )
    best = F.array_min(scored)
    return corpus.select(
        "image_id",
        "w",
        "h",
        best["bucket"].alias("bucket"),
        best["target_w"].alias("target_w"),
        best["target_h"].alias("target_h"),
    )


def caption_conflict_flags(corpus: DataFrame, max_hamming: int = 4) -> DataFrame:
    """Per-image label-noise FLAG — the O(n) consumer of the near-dup
    structure that `caption_conflict`'s pair list cannot be at web
    scale: on a Zipfian corpus a single mega-cluster of g exact
    duplicates contributes C(g,2) conflict pairs (output-bound by the
    pair-list contract), while the flag — "this image sits within
    hamming <= k of a DIFFERENTLY-captioned image" — aggregates per
    cluster and stays linear.

    Formulation, all candidate-bounded (no pair list, ever):

    * per distinct phash: n_caps = countDistinct(normalized caption),
      cap0 = min(caption) — ONE hash-aggregate over the corpus;
    * a cluster with n_caps >= 2 conflicts internally: every member
      has a disagreeing hamming-0 neighbor;
    * cross-hash, over the distinct-hash pairs (pairs.hash_pairs, the
      same candidate stage as pairs.blocked_pairs): a single-caption
      cluster is flagged by a neighbor that is multi-caption (some
      member must disagree) or whose single caption differs;
    * members inherit their cluster's flag by one join on phash.

    Flag set == distinct images of `caption_conflict`'s pair list
    (asserted in tests/test_captions.py); measured on the Zipfian
    corpus in BENCH.md §4g."""
    norm = corpus.select("image_id", "phash", caption_norm().alias("cap"))
    per_hash = norm.groupBy("phash").agg(
        F.countDistinct("cap").alias("n_caps"), F.min("cap").alias("cap0")
    )
    # candidate hash pairs, each emitted once; the per-hash caption
    # summaries attach AFTERWARDS — hp is candidate-sized, so those are
    # two cheap joins
    hp = (
        hash_pairs(per_hash, "phash", max_hamming)
        .select("ph_a", "ph_b")
        .join(
            per_hash.select(
                F.col("phash").alias("ph_a"), "n_caps", "cap0"
            ),
            "ph_a",
        )
        .join(
            per_hash.select(
                F.col("phash").alias("ph_b"),
                F.col("n_caps").alias("n_caps_b"),
                F.col("cap0").alias("cap0_b"),
            ),
            "ph_b",
        )
    )
    # a neighbor flags me when it is multi-caption or we disagree;
    # emitted symmetrically so one pass covers both directions
    flagged_by_neighbor = (
        hp.filter((F.col("n_caps_b") >= 2) | (F.col("cap0") != F.col("cap0_b")))
        .select(F.col("ph_a").alias("phash"))
        .unionAll(
            hp.filter(
                (F.col("n_caps") >= 2) | (F.col("cap0") != F.col("cap0_b"))
            ).select(F.col("ph_b").alias("phash"))
        )
        .distinct()
        .withColumn("__nbr", F.lit(True))
    )
    cluster_flag = per_hash.join(flagged_by_neighbor, "phash", "left").select(
        "phash",
        ((F.col("n_caps") >= 2) | F.coalesce(F.col("__nbr"), F.lit(False))).alias(
            "__cf"
        ),
    )
    # a NULL-caption image never conflicts (matching the pair list's
    # SQL semantics: cap != NULL is never true), even when its cluster
    # is flagged — AND the member's own caption presence in
    return norm.select("image_id", "phash", "cap").join(
        cluster_flag, "phash"
    ).select(
        "image_id",
        (F.col("__cf") & F.col("cap").isNotNull()).alias("conflicted"),
    )
