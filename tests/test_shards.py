"""Training-export operators: shard packing (distributed prefix-sum),
source mixture weights, and the Laplacian-variance sharpness gate.

The shard-packing contract is the scale-critical one: the two-level
scan must reproduce, row for row, what a single global running-sum
window would have produced — independent of input partitioning — while
never planning a single-partition window. Reference anchor: the
count-rotated segment writer (`fetcher/Fetcher.java` segmentWriter)
made deterministic and cluster-wide.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from conftest import corpus_frame

from webcollector_spark import codecs, fixtures
from webcollector_spark.operators import images, shards


def _naive_offsets(pdf: pd.DataFrame, n_buckets: int, target: int):
    """Spark-free oracle: global running sum in (bucket, key) order."""
    d = pdf.copy()
    d["bucket"] = d["doc_id"] % n_buckets
    d = d.sort_values(["bucket", "doc_id"]).reset_index(drop=True)
    d["start_offset"] = d["n_chars"].cumsum().shift(1, fill_value=0)
    d["shard"] = d["start_offset"] // target
    return d


def _docs_df(spark, n=300, seed=7):
    rng = np.random.default_rng(seed)
    pdf = pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "n_chars": rng.integers(50, 4000, size=n, dtype=np.int64),
        }
    )
    return pdf, spark.createDataFrame(pdf)


def test_pack_shards_matches_global_running_sum(spark):
    pdf, df = _docs_df(spark)
    got = {
        r["doc_id"]: (r["bucket"], r["start_offset"], r["shard"])
        for r in shards.pack_shards(
            df, key="doc_id", size="n_chars", target_bytes=8192, n_buckets=16
        ).collect()
    }
    want = _naive_offsets(pdf, 16, 8192)
    assert len(got) == len(want)
    for r in want.to_dict("records"):
        assert got[r["doc_id"]] == (
            r["bucket"],
            r["start_offset"],
            r["shard"],
        )


def test_pack_shards_partition_invariant(spark):
    """Same manifest whether the input arrives in 1 or 13 partitions,
    shuffled — the determinism clause of the export contract."""
    pdf, _ = _docs_df(spark, n=257, seed=11)
    shuffled = pdf.sample(frac=1.0, random_state=3)
    a = shards.pack_shards(
        spark.createDataFrame(shuffled).coalesce(1),
        key="doc_id",
        size="n_chars",
        target_bytes=4096,
        n_buckets=8,
    )
    b = shards.pack_shards(
        spark.createDataFrame(pdf).repartition(13),
        key="doc_id",
        size="n_chars",
        target_bytes=4096,
        n_buckets=8,
    )
    rows_a = sorted(map(tuple, a.collect()))
    rows_b = sorted(map(tuple, b.collect()))
    assert rows_a == rows_b


def test_pack_shards_no_single_partition_window(spark):
    """The physical plan must window-partition by bucket — a global
    (empty partition spec) running-sum window is the 10^10-row trap."""
    _, df = _docs_df(spark, n=64)
    plan = (
        shards.pack_shards(
            df, key="doc_id", size="n_chars", target_bytes=1024, n_buckets=4
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" in plan
    # Spark prints a global window spec as an empty partition list; the
    # bucketed form carries `partitionBy` over bucket in the spec string
    assert "bucket" in plan.split("Window")[1][:400]


def test_shard_manifest_covers_all_rows(spark):
    pdf, df = _docs_df(spark, n=200, seed=5)
    assigned = shards.pack_shards(
        df, key="doc_id", size="n_chars", target_bytes=8192, n_buckets=16
    )
    man = {r["shard"]: r for r in shards.shard_manifest(assigned).collect()}
    assert sum(r["n_rows"] for r in man.values()) == 200
    # shards are contiguous 0..max and every byte span sits inside its shard
    assert sorted(man) == list(range(len(man)))
    for sid, r in man.items():
        assert sid * 8192 <= r["first_offset"] <= r["last_offset"]


def test_lap_partials_exact_and_degenerate():
    px = fixtures.ground_truth_pixels("img00000001", 40, 32)
    n, s, ss = codecs.lap_partials(px)
    g = (
        px[:, :, 0].astype(np.int64) * 299
        + px[:, :, 1].astype(np.int64) * 587
        + px[:, :, 2].astype(np.int64) * 114
    )
    lap = (
        4 * g[1:-1, 1:-1] - g[:-2, 1:-1] - g[2:, 1:-1] - g[1:-1, :-2] - g[1:-1, 2:]
    )
    assert (n, s, ss) == (lap.size, int(lap.sum()), int((lap * lap).sum()))
    # no interior -> all-zero partials, not an exception
    assert codecs.lap_partials(px[:2, :, :]) == (0, 0, 0)


def test_box_blur_reduces_laplacian_variance():
    px = fixtures.ground_truth_pixels("img00000002", 48, 48)
    _, s0, ss0 = codecs.lap_partials(px)
    n0 = codecs.lap_partials(px)[0]
    var_sharp = ss0 / n0 - (s0 / n0) ** 2
    soft = codecs.box_blur(px, k=5)
    n1, s1, ss1 = codecs.lap_partials(soft)
    var_blur = ss1 / n1 - (s1 / n1) ** 2
    assert var_blur < var_sharp / 50


def test_image_sharpness_gate_separates_blurred(spark):
    df = images.image_sharpness(
        corpus_frame(spark, fixtures.make_corpus_blurgate(60, 20)), threshold=10_000.0
    )
    rows = {r["image_id"]: r for r in df.collect()}
    assert len(rows) == 80
    for iid, r in rows.items():
        assert r["is_sharp"] == (not iid.startswith("blr")), (iid, r["lap_var"])


def test_features_fused_equals_unfused_twins(spark):
    """The single-decode fused pass must reproduce, column for column,
    what the separate channel/sharpness/hash operators compute — fusing
    may only amortize the decode, never change a value."""
    corpus = corpus_frame(spark, fixtures.make_corpus(40))
    fused = {r["image_id"]: r for r in images.features_fused(corpus).collect()}
    assert len(fused) == 40

    ch = images.channel_partials(corpus).collect()
    for r in ch:
        f = fused[r["image_id"]]
        assert f["n_px"] == r["n_px"]
        assert f[f"s_{r['channel']}"] == r["s"]
        assert f[f"ss_{r['channel']}"] == r["ss"]

    sh = {r["image_id"]: r for r in images.sharpness_partials(corpus).collect()}
    base = {r["image_id"]: r for r in corpus.collect()}
    for iid, f in fused.items():
        s = sh[iid]
        assert (f["n_lap"], f["s_lap"], f["ss_lap"]) == (
            s["n_lap"], s["s_lap"], s["ss_lap"]
        )
        b = base[iid]
        assert (f["w"], f["h"]) == (b["w"], b["h"])
        assert f["phash"] == b["phash"]
        px = codecs.decode(bytes(b["bytes"]))
        assert f["dhash"] == codecs.dhash64(px)


def test_pack_shards_string_key(spark):
    """Non-numeric keys (image ids, URLs) bucket by xxhash64 — the
    offsets must still be the exact global running sum in
    (bucket, key) order and the manifest must cover every byte."""
    import pandas as pd
    from pyspark.sql import functions as F

    pdf = pd.DataFrame(
        {
            "image_id": [f"img{i:08d}" for i in range(150)],
            "n_bytes": [(i * 37) % 900 + 100 for i in range(150)],
        }
    )
    df = spark.createDataFrame(pdf).repartition(7)
    packed = shards.pack_shards(
        df, key="image_id", size="n_bytes", target_bytes=4096, n_buckets=8
    )
    rows = packed.collect()
    assert len(rows) == 150
    # recompute the oracle locally with the same hash
    hashes = {
        r["image_id"]: r["b"]
        for r in df.select(
            "image_id", F.pmod(F.xxhash64("image_id"), F.lit(8)).alias("b")
        ).collect()
    }
    sizes = dict(zip(pdf["image_id"], pdf["n_bytes"]))
    order = sorted(pdf["image_id"], key=lambda i: (hashes[i], i))
    acc, want = 0, {}
    for iid in order:
        want[iid] = (hashes[iid], acc, acc // 4096)
        acc += int(sizes[iid])
    got = {
        r["image_id"]: (r["bucket"], r["start_offset"], r["shard"]) for r in rows
    }
    assert got == want


def test_pack_shards_carry_equals_join_form(spark):
    """carry= rides columns through the packer's own shuffle; the
    result must be exactly the join-the-assignment-back form it
    replaces (which costs a second full corpus shuffle at scale)."""
    from pyspark.sql import functions as F

    pdf, df = _docs_df(spark)
    sized = df.withColumn("n2", (F.col("n_chars") * 2).cast("long"))
    carried = shards.pack_shards(
        sized, key="doc_id", size="n_chars", target_bytes=8192,
        n_buckets=16, carry=("n2",),
    )
    joined = shards.pack_shards(
        sized, key="doc_id", size="n_chars", target_bytes=8192, n_buckets=16
    ).join(sized.select("doc_id", "n2"), "doc_id")
    cols = ["doc_id", "bucket", "start_offset", "shard", "n2"]
    a = sorted(tuple(r[c] for c in cols) for r in carried.select(*cols).collect())
    b = sorted(tuple(r[c] for c in cols) for r in joined.select(*cols).collect())
    assert a == b


def test_mixture_interleave_rates_and_order(spark, tmp_path):
    """The stride schedule's head must (a) interleave sources at the
    temperature-weight rates (the contract that makes it a SCHEDULE and
    not just a sort), (b) emit each source's samples in rank order, and
    (c) plan as TakeOrderedAndProject over a bucketed window — never a
    global sort or one-task-per-source window."""
    import math

    from webcollector_spark.plans.queries import queries

    rows = []
    for src, n_docs, chars in [("a", 800, 2000), ("b", 300, 900), ("c", 80, 400)]:
        for i in range(n_docs):
            rows.append((len(rows), f"text {src} {i}", "en", src, chars))
    docs = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    q = queries()["mixture_interleave"]
    df = q(spark, str(tmp_path))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan

    out = df.collect()
    assert len(out) == 200
    # (b) within each source, samples appear in rank order 1..k
    seen = {}
    for r in sorted(out, key=lambda r: (r["pos"], r["doc_id"])):
        k = seen.get(r["source"], 0) + 1
        assert r["rank_in_source"] == k
        seen[r["source"]] = k
    # (a) head counts track W_s / sum(W) with only boundary slack
    W = {
        src: math.floor((n * chars) ** 0.7 * 1e6)
        for src, n, chars in [("a", 800, 2000), ("b", 300, 900), ("c", 80, 400)]
    }
    z = sum(W.values())
    for src, w in W.items():
        expect = 200 * w / z
        assert abs(seen.get(src, 0) - expect) <= 3, (src, seen.get(src), expect)
