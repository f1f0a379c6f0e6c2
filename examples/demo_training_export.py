"""Image training-set export: the last mile after crawl + curation —
what a multimodal pretraining team runs to turn kept image+caption rows
into a shard manifest a 1000-writer export job can execute:

    sniff triage (header-only, no decode) -> image+text metadata gate ->
    sharpness (blur) gate -> ensemble near-dup keepers -> aspect buckets
    -> temperature-scaled source mixture -> deterministic byte-bounded
    shard packing + per-shard writer manifest

Scale shape per stage: the sniff/gate/aspect stages are pure
whole-stage-codegen metadata expressions over a 4 KB payload prefix
(no decode, no shuffle); sharpness decodes ONLY gate survivors in the
Arrow map stage; dedup is the blocked-key candidate join (never
all-pairs); packing is the two-level distributed prefix-sum (the only
serial state is a B-row offset table). Nothing in this funnel collects
more than B rows to the driver.

    python examples/demo_training_export.py
"""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F

from webcollector_spark import corpora
from webcollector_spark.session import get_spark


def main() -> None:
    spark = get_spark("demo-export", cores=8, shuffle_partitions=8)
    from webcollector_spark.operators import images, shards, sniff
    from webcollector_spark.operators.captions import (
        aspect_bucket_assign,
        imagetext_filter,
    )

    # input_hint-shaped table: (image_id, bytes, w, h, fmt, caption,
    # phash) — blur-gate corpus (plants 5x5 box-blurred re-encodes for
    # the sharpness stage) unioned with lossy near-dup re-encodes (for
    # the dedup stage), so every funnel stage has real work to do
    corpus = (
        corpora.corpus(spark, "blurgate")
        .unionByName(
            corpora.corpus(spark, "neardups").filter(
                F.col("image_id").startswith("dup")
            )
        )
        .cache()
    )
    n0 = corpus.count()
    print(f"crawled payloads: {n0}")

    # 1. header triage: drop truncated/mislabeled containers without
    # decoding anything (4 KB prefix only)
    ok_ids = sniff.sniff_meta(corpus).filter(F.col("header_ok")).select("image_id")
    n1 = ok_ids.count()
    print(f"after header sniff: {n1}  (-{n0 - n1})")

    # 2. metadata gate: size/aspect/caption floors, still no decode
    gated = imagetext_filter(corpus.join(ok_ids, "image_id")).filter(F.col("keep"))
    survivors = corpus.join(gated.select("image_id"), "image_id")
    n2 = survivors.count()
    print(f"after image+text gate: {n2}  (-{n1 - n2})")

    # 3. blur gate: decode ONLY the survivors; variance-of-Laplacian
    sharp = images.image_sharpness(survivors, threshold=10_000.0)
    sharp_ids = sharp.filter(F.col("is_sharp")).select("image_id")
    n3 = sharp_ids.count()
    print(f"after sharpness gate: {n3}  (-{n2 - n3} blurry)")

    # 4. quality-aware near-dup keepers (phash ∪ dhash hamming balls;
    # keeper = the sharpest copy in each cluster, not an arbitrary id)
    kept = corpus.join(sharp_ids, "image_id")
    decided = images.image_neardup_best_keepers(kept, max_hamming=4)
    keepers = decided.filter(F.col("is_keeper")).select("image_id")
    n4 = keepers.count()
    print(f"after near-dup dedup: {n4}  (-{n3 - n4} dupes, keeping sharpest)")

    final = corpus.join(keepers, "image_id")

    # 5. aspect buckets (the batch repartition key downstream)
    buckets = aspect_bucket_assign(final)
    print("aspect buckets:")
    buckets.groupBy("bucket").count().orderBy("bucket").show(truncate=False)

    # 6. byte-bounded shard packing + writer manifest
    export = final.withColumn("img_key", F.xxhash64("image_id")).withColumn(
        "n_bytes", F.length("bytes").cast("long")
    )
    packed = shards.pack_shards(
        export, key="img_key", size="n_bytes", target_bytes=64 * 1024, n_buckets=8
    )
    man = shards.shard_manifest(packed).orderBy("shard")
    print("shard manifest (64 KiB target):")
    man.show(truncate=False)
    total = export.agg(F.sum("n_bytes")).first()[0]
    print(f"export: {n4} rows, {total} bytes, {man.count()} shards")

    # 7. write the bytes: WebDataset tar shards with sha256 lineage;
    # bit-reproducible (rerun -> identical digests) and resumable
    # (existing shards skipped). Then prove the round trip.
    import tempfile

    out_dir = tempfile.mkdtemp(prefix="wds_export_")
    assigned = export.join(packed.select("img_key", "shard"), "img_key")
    written = shards.write_webdataset(assigned, out_dir).cache()
    print(f"wrote shards to {out_dir}:")
    written.orderBy("shard").show(truncate=48)
    n_back = shards.read_webdataset(spark, out_dir).count()
    print(f"read back: {n_back} samples (expected {n4})")

    # 8. integrity audit vs the lineage manifest — what a resume or a
    # training launch runs before trusting the export. deep=True streams
    # each tar once (member count + sha256); a 10^10-sample fleet would
    # run deep=False first (metadata-only listing, zero byte reads).
    audit = shards.verify_export(spark, out_dir, written)
    print("export audit:")
    audit.groupBy("status").count().orderBy("status").show(truncate=False)
    bad = audit.filter(F.col("status") != "ok").count()
    print(f"audit verdict: {'CLEAN' if bad == 0 else f'{bad} shards need rewrite'}")


if __name__ == "__main__":
    main()
