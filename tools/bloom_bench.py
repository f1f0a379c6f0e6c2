"""Bloom pre-prune evidence: A/B the O6 seen-filter with and without the
distributed bloom at a frontier size ABOVE bloom_min_frontier (the knob
gates the bloom build to frontiers where it can pay off — this writes
the measured numbers behind that default).

Shape: 4M-key frontier (2x the 2M gate), 1M discovered links of which
half are already seen (a steady-state recrawl mix). The exact path is
one shuffle anti-join of all 1M candidates against 4M keys; the bloom
path pays a one-time distributed bitset build + OR-merge, then only the
bloom-positive candidates (seen half + ~1% fpp of the new half) enter
the anti-join while definitely-new links skip the shuffle entirely.

Usage: python tools/bloom_bench.py   (writes BENCH_BLOOM.json)
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

FRONTIER_N = 4_000_000
LINKS_N = 1_000_000
SEEN_FRAC = 0.5


def main() -> None:
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from webcollector_spark.operators.seen import build_bloom, seen_filter
    from webcollector_spark.session import get_spark

    spark = get_spark("bloom-bench", cores=32, shuffle_partitions=32)

    seen = (
        spark.range(FRONTIER_N)
        .select(F.concat(F.lit("http://h/"), F.col("id")).alias("key"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    seen.count()
    # candidates: the seen half maps to ids 2.0M..2.5M (inside the
    # 0..4M frontier), the new half to 4.5M..5.0M (outside it)
    n_old = int(LINKS_N * SEEN_FRAC)
    links = (
        spark.range(LINKS_N)
        .select(
            F.concat(
                F.lit("http://h/"),
                F.when(F.col("id") < n_old, F.col("id") + 2_000_000).otherwise(
                    F.col("id") + FRONTIER_N
                ),
            ).alias("key")
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    links.count()

    def timed(fn, warm=1, reps=3):
        for _ in range(warm):
            fn()
        t0 = time.monotonic()
        for _ in range(reps):
            fn()
        return round((time.monotonic() - t0) / reps, 3)

    out = {
        "frontier_rows": FRONTIER_N,
        "link_rows": LINKS_N,
        "seen_frac": SEEN_FRAC,
    }

    out["exact_antijoin_sec"] = timed(
        lambda: seen_filter(links, seen).count()
    )

    t0 = time.monotonic()
    bloom = build_bloom(seen, "key", capacity=FRONTIER_N, fpp=0.01)
    out["bloom_build_sec"] = round(time.monotonic() - t0, 3)
    out["bloom_bits_mb"] = round(bloom.m / 8 / 1e6, 1)

    out["bloom_filter_sec"] = timed(
        lambda: seen_filter(links, seen, bloom=bloom).count()
    )
    n_fresh = seen_filter(links, seen, bloom=bloom).count()
    n_fresh_exact = seen_filter(links, seen).count()
    out["fresh_rows"] = n_fresh
    out["results_match"] = n_fresh == n_fresh_exact
    out["filter_speedup"] = round(
        out["exact_antijoin_sec"] / out["bloom_filter_sec"], 2
    )
    # rounds needed for the build to amortize at this scale (the build is
    # once-per-round over the frontier; at 10^10 the exact join's shuffle
    # grows with frontier size while the bloom filter stage stays map-side)
    gain = out["exact_antijoin_sec"] - out["bloom_filter_sec"]
    out["build_amortized_after_rounds"] = (
        round(out["bloom_build_sec"] / gain, 1) if gain > 0 else None
    )

    # sharded variant (the 10^10 layout): same semantics, one extra
    # shard-routing shuffle in the build; probe cost is unchanged
    t0 = time.monotonic()
    sb = build_bloom(seen, "key", capacity=FRONTIER_N, fpp=0.01, shards=16)
    out["sharded_build_sec"] = round(time.monotonic() - t0, 3)
    out["sharded_filter_sec"] = timed(
        lambda: seen_filter(links, seen, bloom=sb).count()
    )
    out["sharded_results_match"] = (
        seen_filter(links, seen, bloom=sb).count() == n_fresh_exact
    )

    Path("BENCH_BLOOM.json").write_text(json.dumps(out, indent=2) + "\n")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
