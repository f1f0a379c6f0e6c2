"""Skew-defense evidence: measure the two explicit skew mitigations on
the deliberately skewed fixture frontier (host 0 owns ~50% of rows).

1. generate: salted two-phase per-host window vs single-phase
   (salt_buckets=1) — the hot host's rank otherwise lands in one task.
2. fetch: round-robin partitioning vs host co-location when no
   politeness budget applies — co-location puts half the frontier in
   one Python worker.

Usage: python tools/skew_bench.py  (writes BENCH_SKEW.json)
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

N_URLS = 200_000


def main() -> None:
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from webcollector_spark import fixtures
    from webcollector_spark.config import CrawlerConfig
    from webcollector_spark.crawler import seed_rows
    from webcollector_spark.operators.fetch import fetch as fetch_op
    from webcollector_spark.operators.generate import generate_per_host
    from webcollector_spark.session import get_spark
    from webcollector_spark.sources.requester import SyntheticRequester

    spark = get_spark("skew", cores=32, shuffle_partitions=32)
    corpus = fixtures.make_corpus(300, sizes=(128, 192))
    graph = fixtures.make_site_graph(N_URLS, n_hosts=24, out_degree=4)
    graph["image_id"] = [f"img{i % len(corpus):08d}" for i in range(N_URLS)]
    req = SyntheticRequester(graph.to_dict("records"), corpus.to_dict("records"))
    bc = spark.sparkContext.broadcast(req)
    frontier = seed_rows(spark, sorted(graph["url"])).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    n = frontier.count()
    hot = frontier.filter(F.col("host") == "h000.test").count()
    out = {"n_urls": n, "hot_host_rows": hot, "hot_share": round(hot / n, 3)}

    def timed(fn, warm=1, reps=3):
        # median-of-3 after an untimed warm pass — same discipline as
        # bench.py: a single hypervisor steal burst (documented in
        # BENCH.md §4) must hit 2 of 3 samples to move the record.
        for _ in range(warm):
            fn()
        samples = []
        for _ in range(reps):
            t0 = time.monotonic()
            fn()
            samples.append(time.monotonic() - t0)
        return round(sorted(samples)[len(samples) // 2], 3)

    # 1. generate: salted vs unsalted per-host top-k. The window sort of
    # a hot host only becomes the bottleneck once its partition is
    # millions of rows, so this test synthesizes a 4M-row frontier
    # Spark-side (hot host = 50%) rather than using the 200k fixture.
    big_n = 4_000_000
    big = (
        spark.range(big_n)
        .select(
            F.concat(F.lit("http://x/"), F.col("id")).alias("key"),
            F.concat(F.lit("http://x/"), F.col("id")).alias("url"),
            F.lit(0).alias("status"),
            F.lit(None).cast("long").alias("execute_time"),
            F.lit(0).alias("execute_count"),
            F.lit(-1).alias("code"),
            F.lit(None).cast("string").alias("location"),
            F.lit(None).cast("map<string,string>").alias("meta"),
            F.when(F.col("id") % 2 == 0, "h000.test")
            .otherwise(F.concat(F.lit("h"), F.pmod("id", 23) + 1))
            .alias("host"),
            F.lit(0).alias("depth"),
            (F.pmod(F.col("id") * 2654435761, 1000) / 1000.0).alias("priority"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    big.count()
    out["generate_frontier_rows"] = big_n
    k = 5000
    for salt in (1, 8):
        out[f"generate_salt{salt}_sec"] = timed(
            lambda s=salt: generate_per_host(big, k, 10, 0, s).count()
        )
    out["generate_salt_speedup"] = round(
        out["generate_salt1_sec"] / out["generate_salt8_sec"], 2
    )
    big.unpersist()

    # 1b. hot-host detection cost over the same 4M-row skewed
    # frontier, two probes:
    #   detect_groupby   - naive full groupBy(host).count() skew scan
    #   detect_filtered  - exact candidate-filtered count (broadcast
    #                      semi-join + groupBy; bounded output too)
    # At 24 hosts both are scan-dominated; the structural difference
    # is the shuffle-OUTPUT bound (one row per distinct host per
    # partition vs at most one per candidate), so both are re-measured
    # at 1M and 4M (all-unique) distinct hosts, where the naive probe's
    # partial-agg hash map and shuffle grow with cardinality.
    big.persist(StorageLevel.MEMORY_AND_DISK).count()
    cand = spark.createDataFrame(
        [("h000.test",), ("h5",), ("h9",)], "host string"
    )

    def detect_filtered(df):
        return (
            df.join(F.broadcast(cand), "host", "left_semi")
            .groupBy("host")
            .count()
            .filter(F.col("count") > 0.2 * big_n)
            .count()
        )

    for tag, df in (
        ("", big),
        (
            "_1m_hosts",
            big.withColumn(
                "host",
                F.when(
                    F.col("host") == "h000.test", F.lit("h000.test")
                ).otherwise(
                    F.concat(
                        F.lit("h"), F.pmod(F.xxhash64("key"), F.lit(1_000_000))
                    )
                ),
            ),
        ),
        (
            "_4m_hosts",
            big.withColumn(
                "host",
                F.when(
                    F.col("host") == "h000.test", F.lit("h000.test")
                ).otherwise(F.concat(F.lit("u"), F.col("key"))),
            ),
        ),
    ):
        if tag:
            df = df.persist(StorageLevel.MEMORY_AND_DISK)
            df.count()
        out[f"detect_groupby{tag}_sec"] = timed(
            lambda d=df: d.groupBy("host").count()
            .filter(F.col("count") > 0.2 * big_n).count()
        )
        out[f"detect_filtered{tag}_sec"] = timed(
            lambda d=df: detect_filtered(d)
        )
        if tag:
            df.unpersist()
    big.unpersist()

    # 2. fetch: co-located (politeness) vs round-robin (no politeness).
    # Same 20k-row generated slice; co-location forced via a tiny
    # nonzero politeness rate (bucket gap ~0 but partitioning by host).
    gen = generate_per_host(frontier, 1000, 10, 20000, 8).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    n_gen = gen.count()
    out["fetch_rows"] = n_gen
    cfg_rr = CrawlerConfig(threads=64, rows_per_fetch_task=500)
    cfg_co = CrawlerConfig(
        threads=64, rows_per_fetch_task=500, per_host_rate=1e9
    )
    out["fetch_roundrobin_sec"] = timed(
        lambda: fetch_op(gen, bc, cfg_rr, n_rows=n_gen).agg(F.count("*")).collect(),
        warm=1, reps=3,
    )
    out["fetch_colocated_sec"] = timed(
        lambda: fetch_op(gen, bc, cfg_co, n_rows=n_gen).agg(F.count("*")).collect(),
        warm=1, reps=3,
    )
    out["fetch_speedup_roundrobin"] = round(
        out["fetch_colocated_sec"] / out["fetch_roundrobin_sec"], 2
    )

    Path("BENCH_SKEW.json").write_text(json.dumps(out, indent=2) + "\n")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
