"""Crawl-engine benchmark: one workload, one seed, one run.

    python3 crawlbench/run.py --workload crawl --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run starts Spark, then sets the
workload up three times (seeded input generation, Spark-side inputs, a
warm job that reaches every Python worker) and reports the median as
`setup_s`; the first set-up also carries the session start. A traced
run sets up once. Then the
workload gets its untimed warm-up and timed passes repeat for
`--seconds`, at least once. The reported throughput is the median over
the passes; on a 4-core box a crawl pass takes 15-25 s and a suite pass
6-10 s.

--trace 0 prints the end-to-end metrics; --trace 1 spends half the time
on untraced passes and half on traced ones, times the fetch kernels on a
sample of the workload's own pages, and prints the per-layer metrics.
Either way the last stdout line is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`; the line before it is
the full record (samples, steal, box, versions, checks), which is also
written under `.crawlbench/records/`. Exit code 2 means the engine is
not in the checkout; any other failure raises before a result prints.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
import time
from pathlib import Path

T_START = time.perf_counter()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".crawlbench"
WORKLOADS = ("crawl", "curation_suite")
SETUPS = 3


def _start_session(cores: int):
    from webcollector_spark.session import get_spark

    return get_spark("crawlbench", cores=cores, shuffle_partitions=cores)


def _warm_workers(spark, cores: int) -> None:
    """One task per core, each importing the engine's fetch path, so
    every Python worker exists and has imported the engine."""

    def touch(batches):
        import webcollector_spark.operators.fetch  # noqa: F401

        yield from batches

    spark.range(0, cores, 1, cores).mapInPandas(touch, "id long").collect()


def _shutdown(spark) -> None:
    """Stop Spark and wait for its JVM (which exits when its stdin
    closes) so no process outlives the run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _timed(fn, spark, seconds: float) -> list:
    """Repeat `fn` until `seconds` have passed (at least once)."""
    passes, t0 = [], time.perf_counter()
    while not passes or time.perf_counter() - t0 < seconds:
        passes.append(fn(spark))
    return passes


def _sample(p) -> dict:
    return {"wall_s": p.wall_s, "items": p.items, "failed": p.failed,
            "round_s": p.round_s}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "webcollector_spark" / "__init__.py").is_file():
        print("crawlbench: webcollector_spark is not in this checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    import box

    box.fit_spark_env(ROOT, WORK)
    cores = box.nproc()

    import kernels
    import metrics
    import workloads
    from spans import Tracer

    wl = workloads.WORKLOADS[args.workload](args.seed, WORK)
    stages = {"import_s": time.perf_counter() - T_START}
    t0 = time.perf_counter()
    spark = _start_session(cores)
    session_start_s = time.perf_counter() - t0
    setups = []
    # a traced run reports no setup_s, so it sets up once
    for _ in range(1 if args.trace else SETUPS):
        digest = wl.make_inputs()
        wl.prepare(spark)
        _warm_workers(spark, cores)
        setups.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
    try:
        t0 = time.perf_counter()
        wl.warm(spark)
        stages["warm_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        steal = box.Steal()
        steal.start()
        traced, roots = [], []
        with box.PeakRss() as rss:
            if args.trace:
                passes = _timed(wl.run, spark, args.seconds / 2)
                tr = Tracer(spark.sparkContext)

                def traced_pass(s):
                    p = wl.run_traced(s, tr)
                    roots.append(next(x for x in reversed(tr.spans) if x.parent is None))
                    return p

                traced = _timed(traced_pass, spark, args.seconds / 2)
            else:
                passes = _timed(wl.run, spark, args.seconds)
        steal_pct = steal.stop()
        stages["timed_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        if args.trace:
            sample = wl.kernel_sample()
            values = metrics.per_layer(
                tr, roots,
                kernels.kernel_ms_per_url(*sample) if sample else None,
                cores, [p.wall_s for p in passes], [p.round_s for p in passes],
                session_start_s,
            )
            names = metrics.PER_LAYER
        else:
            values = {
                "items_per_s": statistics.median(p.items / p.wall_s for p in passes),
                "setup_s": statistics.median(setups),
                "peak_rss_mb": rss.peak_mb,
            }
            names = metrics.END_TO_END
        stages["kernels_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        checks = wl.check(spark)
        stages["check_s"] = time.perf_counter() - t0
        about = box.describe(ROOT, spark)
    finally:
        t0 = time.perf_counter()
        _shutdown(spark)
    stages["shutdown_s"] = time.perf_counter() - t0

    done = passes + traced
    items, failed_items = sum(p.items for p in done), sum(p.failed for p in done)
    failed_checks = sum(not ok for _, ok in checks)
    failed = failed_items + failed_checks
    result = {
        "correct": failed == 0,
        "attempted": items + len(checks),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": names[k][0]} for k in names},
    }
    flagged = steal_pct > box.STEAL_FLAG_PCT
    if flagged:
        print(f"crawlbench: steal {steal_pct:.2f}% > {box.STEAL_FLAG_PCT}% "
              "during the timed part; this run is flagged", file=sys.stderr)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "input_digest": digest, "box": about,
        "cores": cores, "steal_pct": steal_pct, "steal_flagged": flagged,
        # rows ending FAILED / rows generated + failed checks / checks run
        "failed_ratio": failed_items / items + failed_checks / max(1, len(checks)),
        "setup_samples_s": setups, "session_start_s": session_start_s,
        "stages": stages,
        "samples": [_sample(p) for p in passes],
        "traced_samples": [_sample(p) for p in traced],
        "checks": [{"name": n, "ok": ok} for n, ok in checks],
        "result": result,
    }
    out = WORK / "records"
    out.mkdir(parents=True, exist_ok=True)
    (out / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(record, indent=1) + "\n"
    )
    print(json.dumps({"record": record}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
