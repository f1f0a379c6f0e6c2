"""Scale evidence for the caption-curation operators: the registry
queries pin CORRECTNESS on the 240-row noisy fixture; this bench shows
the same operators hold their LINEAR shape on corpora three orders of
magnitude larger, synthesized entirely Spark-side (no bytes — caption
curation touches only the metadata columns, which is exactly why it
stays cheap at 10^9 images).

Corpus model (per row, all JVM expressions over spark.range):
* phash — groups of `group` rows share one exact phash (hamming 0),
  the planted near-dup clusters; group count scales with n, group SIZE
  does not, so conflict pairs stay O(n * group) — never quadratic.
* caption — ~1/13 boilerplate ("image"), ~1/17 empty, rest unique per
  row; odd in-group members get an "alternate view" label (conflict).

Measured: caption_dedup / caption_spam / caption_conflict /
caption_quality wall time at two corpus sizes (default 500k and 2M).
Linear shape = time ratio tracks the 4x size ratio; conflict-pair count
is reported so a quadratic blow-up cannot hide behind a fast box.

Also reported: CANDIDATE-PAIR VOLUME of the two hamming<=4 blocking
schemes, computed analytically as sum over buckets of C(c,2) (a groupBy
count — no need to execute the join). This is the measurement that
caught the original design: (k+1)-banding's 12-bit buckets generate
~5e9 candidates at n=2M (the join never finished), while the Manku
block-combination keys (32-bit buckets) generate within 2x of the true
pair count. See operators/pairs.py blocked_pairs.

Usage: python tools/caption_scale_bench.py  (writes BENCH_CAPTIONS.json)
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SIZES = (500_000, 2_000_000)
GROUP = 4  # rows per exact-phash near-dup cluster


def synth_meta(spark, n: int, group: int = GROUP):
    from pyspark.sql import functions as F

    base = F.xxhash64((F.col("id") / group).cast("long"))
    return spark.range(n).select(
        F.concat(F.lit("img"), F.col("id")).alias("image_id"),
        base.alias("phash"),
        F.when(F.col("id") % 13 == 0, F.lit("image"))
        .when(F.col("id") % 17 == 3, F.lit(""))
        .when(
            F.col("id") % group >= group // 2,
            F.concat(F.lit("alternate view of cluster "),
                     (F.col("id") / group).cast("long")),
        )
        .otherwise(F.concat(F.lit("a unique caption describing picture number "),
                            F.col("id")))
        .alias("caption"),
    )


def main() -> None:
    from pyspark import StorageLevel

    from webcollector_spark.operators import captions
    from webcollector_spark.session import get_spark

    spark = get_spark("caption-scale", cores=32, shuffle_partitions=32)

    def timed(fn, warm=1, reps=3):
        # untimed warm + median-of-3 (bench.py discipline: one steal
        # burst must hit 2 of 3 samples to move the record)
        for _ in range(warm):
            fn()
        samples = []
        for _ in range(reps):
            t0 = time.monotonic()
            fn()
            samples.append(time.monotonic() - t0)
        return round(sorted(samples)[len(samples) // 2], 3)

    def candidate_volume(keyed, key_cols):
        from pyspark.sql import functions as F

        return (
            keyed.groupBy(*key_cols)
            .count()
            .agg(F.sum(F.col("count") * (F.col("count") - 1) / 2))
            .collect()[0][0]
        )

    def banded_keys(meta):
        # the (k+1)-band layout pairs.banded_pairs uses, k=4 -> 12-bit chunks
        from pyspark.sql import functions as F

        bands, width = 5, 64 // 5
        parts = F.array(
            *[
                F.struct(
                    F.lit(i).alias("band"),
                    F.shiftrightunsigned(F.col("phash"), i * width)
                    .bitwiseAND(F.lit((1 << width) - 1))
                    .alias("chunk"),
                )
                for i in range(bands)
            ]
        )
        return meta.select(F.explode(parts).alias("bc")).select(
            "bc.band", "bc.chunk"
        )

    out = {"group": GROUP, "sizes": {}}
    for n in SIZES:
        meta = synth_meta(spark, n).persist(StorageLevel.MEMORY_AND_DISK)
        meta.count()
        from webcollector_spark.operators.pairs import _block_combo_keys

        blocked = _block_combo_keys(meta, "phash", "p", 4, 8)
        # the volume the join ACTUALLY pays since the distinct-hash
        # collapse: keys over distinct phashes only (exact-dup cluster
        # pairs never enter the candidate stage — they come from the
        # linear self-equi-join on phash)
        distinct_ph = meta.select("phash").distinct()
        blocked_distinct = _block_combo_keys(distinct_ph, "phash", "p", 4, 8)
        row = {
            "banded_candidate_pairs": int(
                candidate_volume(banded_keys(meta), ["band", "chunk"])
            ),
            "blocked_candidate_pairs": int(
                candidate_volume(blocked, ["combo", "bkey"])
            ),
            "blocked_distinct_candidate_pairs": int(
                candidate_volume(blocked_distinct, ["combo", "bkey"])
            ),
            "distinct_phashes": distinct_ph.count(),
            "dedup_sec": timed(lambda: captions.caption_dedup(meta).count()),
            "spam_sec": timed(
                lambda: captions.caption_spam(meta, min_phashes=3).count()
            ),
            "conflict_sec": timed(
                lambda: captions.caption_conflict(meta, max_hamming=4).count()
            ),
            "quality_sec": timed(lambda: captions.caption_quality(meta).count()),
            "conflict_pairs": captions.caption_conflict(meta, 4).count(),
        }
        row["total_sec"] = round(
            sum(v for k, v in row.items() if k.endswith("_sec")), 3
        )
        out["sizes"][str(n)] = row
        meta.unpersist()

    lo, hi = (out["sizes"][str(n)] for n in SIZES)
    ratio = SIZES[1] / SIZES[0]
    out["size_ratio"] = ratio
    out["time_ratio"] = round(hi["total_sec"] / lo["total_sec"], 3)
    # pairs must scale linearly with n by construction; record the check
    out["pairs_ratio"] = round(hi["conflict_pairs"] / lo["conflict_pairs"], 3)
    print(json.dumps(out))
    Path("BENCH_CAPTIONS.json").write_text(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
