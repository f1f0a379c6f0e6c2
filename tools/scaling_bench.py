"""Scaling-efficiency evidence for the north rule (BASELINE.json):
"run the same job at two cluster sizes (N and 4N executors) with
throughput scaling efficiency >= 0.8".

No real cluster exists in this sandbox, so per the driver instructions
the same fetch-schedule job runs at two parallelism levels (local[8] and
local[32]) on the SAME input, and we report URLs/sec at both plus
efficiency = (thr_4N / thr_N) / 4.

The measured job is one steady-state crawl round at its scale point:
a flat frontier of N_URLS unexecuted rows -> per-host salted top-k
generate -> host-partitioned vectorized fetch + image decode + phash +
link extraction (the Arrow UDF hot path) -> merge. Fetch-schedule
throughput is timed over generate+fetch (the metric's definition);
the full round including the MERGE commit is reported alongside.

Each parallelism level runs in its own subprocess (own JVM) so the
master setting is honest and no JVM state leaks between runs.

Usage:
    python tools/scaling_bench.py                 # both levels + BENCH.md
    python tools/scaling_bench.py --single 8      # one level, JSON line
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

# Sized so the vectorized fetch+decode work (~3 ms/URL) dominates the
# per-round fixed overhead (~8 s of window shuffles + task setup): at
# 10^10 scale a round is millions of URLs and the fixed part vanishes;
# 3*10^5 is the smallest N where that asymptotic regime is visible.
N_URLS = int(os.environ.get("SCALING_BENCH_URLS", "300000"))
N_HOSTS = 24
CORES = tuple(
    int(c) for c in os.environ.get("SCALING_BENCH_CORES", "8,32").split(",")
)


def _cpu_stat() -> tuple[int, int] | None:
    """(total jiffies, steal jiffies) — same self-describing-noise trick
    as bench.py: hypervisor steal is the dominant noise source here
    (BENCH.md §4), and a scaling pair is only meaningful at matched
    steal. None when unreadable (unknown must not read as 0%)."""
    try:
        vals = list(map(int, open("/proc/stat").readline().split()[1:]))
        return sum(vals), vals[7]
    except Exception:
        return None


def run_single(cores: int) -> None:
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from webcollector_spark import fixtures
    from webcollector_spark.config import CrawlerConfig
    from webcollector_spark.crawler import _CORE_COLS, RamCrawler, seed_rows
    from webcollector_spark.operators.fetch import fetch as fetch_op
    from webcollector_spark.operators.generate import generate_per_host
    from webcollector_spark.operators.parse import discovered_links
    from webcollector_spark.session import get_spark
    from webcollector_spark.sources.requester import SyntheticRequester

    spark = get_spark(f"scaling-{cores}", cores=cores, shuffle_partitions=cores)
    # Larger images than the unit-test corpus: decode cost representative
    # of real payloads (128-256 px), still fully deterministic.
    corpus = fixtures.make_corpus(400, sizes=(128, 192, 256))
    graph = fixtures.make_site_graph(N_URLS, n_hosts=N_HOSTS, out_degree=4)
    graph["image_id"] = [f"img{i % len(corpus):08d}" for i in range(N_URLS)]
    req = SyntheticRequester(graph.to_dict("records"), corpus.to_dict("records"))
    cfg = CrawlerConfig(
        per_host_top_k=N_URLS,
        bloom_capacity=0,
        threads=cores * 4,
        rows_per_fetch_task=1000,
    )
    crawler = RamCrawler(spark, req, config=cfg)
    # flat frontier: every URL unexecuted -> one steady-state round
    crawler.store.inject(seed_rows(spark, sorted(graph["url"])), force=False)
    frontier = crawler.store.load()
    bc = spark.sparkContext.broadcast(req)

    # --- warm-up (untimed): the metric is SUSTAINED throughput — a
    # production crawl runs for hours, so steady-state rate is the
    # meaningful figure. The priming pass must touch EVERY Python
    # worker (task count >= fetch partitions) and JIT the window
    # codegen, otherwise the first timed job measures cold-start.
    n_warm = min(40000, N_URLS)
    warm = seed_rows(spark, sorted(graph["url"])[:n_warm])
    warm_gen = generate_per_host(warm, cfg.per_host_top_k, 10, 0, 8)
    fetch_op(warm_gen, bc, cfg).agg(F.count("*")).collect()  # all partitions

    # --- timed: fetch-schedule (generate + fetch/decode) --------------
    stat0 = _cpu_stat()
    t0 = time.monotonic()
    gen = generate_per_host(
        frontier, cfg.per_host_top_k, cfg.max_execute_count,
        cfg.top_n, cfg.host_salt_buckets,
    ).persist(StorageLevel.MEMORY_AND_DISK)
    n_gen = gen.count()
    t_gen = time.monotonic() - t0
    fetched = fetch_op(gen, bc, cfg, n_rows=n_gen).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    n_failed = fetched.agg(
        F.coalesce(F.sum((F.col("status") == 1).cast("long")), F.lit(0))
    ).collect()[0][0]
    t_fetch = time.monotonic() - t0

    # --- merge commit (completes the round); the merge window enforces
    # first-wins so no pre-prune is needed at this frontier size
    links = discovered_links(fetched)
    n_links = crawler.store.merge(fetched.select(*_CORE_COLS), links)
    t_round = time.monotonic() - t0
    stat1 = _cpu_stat()

    print(
        json.dumps(
            {
                "cores": cores,
                # steal during THIS leg, % of all-core CPU time
                "steal_pct_of_cpu": (
                    round(
                        100.0 * (stat1[1] - stat0[1]) / (stat1[0] - stat0[0]), 2
                    )
                    if stat0 and stat1 and stat1[0] > stat0[0]
                    else None
                ),
                "n_urls": n_gen,
                "n_failed": int(n_failed),
                "n_links": n_links,
                "generate_sec": round(t_gen, 3),
                "fetch_schedule_sec": round(t_fetch, 3),
                "round_sec": round(t_round, 3),
                "fetch_urls_per_sec": round(n_gen / t_fetch, 1),
                "round_urls_per_sec": round(n_gen / t_round, 1),
            }
        )
    )


def main() -> None:
    if "--single" in sys.argv:
        run_single(int(sys.argv[sys.argv.index("--single") + 1]))
        return

    results = {}
    for cores in CORES:
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
        # Pin each level to exactly its core budget: an N-core cluster
        # has N cores TOTAL (JVM shuffle/Arrow threads included), so
        # letting the local[8] JVM spill helper threads onto all 32
        # physical cores would overstate the small-cluster baseline and
        # understate scaling efficiency.
        cmd = [sys.executable, __file__, "--single", str(cores)]
        if shutil.which("taskset"):
            cmd = ["taskset", "-c", f"0-{cores - 1}"] + cmd
        out = subprocess.run(
            cmd, capture_output=True, text=True, env=env, check=True,
        )
        line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
        results[cores] = json.loads(line)
        print(line)

    n, n4 = results[CORES[0]], results[CORES[1]]
    ratio = CORES[1] / CORES[0]
    eff_fetch = (n4["fetch_urls_per_sec"] / n["fetch_urls_per_sec"]) / ratio
    eff_round = (n4["round_urls_per_sec"] / n["round_urls_per_sec"]) / ratio
    summary = {
        "metric": (
            f"fetch-schedule scaling efficiency "
            f"local[{CORES[0]}] -> local[{CORES[1]}]"
        ),
        "n_urls": n["n_urls"],
        "results": results,
        "efficiency_fetch_schedule": round(eff_fetch, 3),
        "efficiency_full_round": round(eff_round, 3),
    }
    out_name = (
        "BENCH_SCALING.json"
        if CORES == (8, 32)
        else f"BENCH_SCALING_{CORES[0]}_{CORES[1]}.json"
    )
    Path(out_name).write_text(json.dumps(summary, indent=2) + "\n")
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
