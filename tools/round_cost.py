"""Fixed driver cost of one crawl pass, per engine call.

    python tools/round_cost.py [--seed N]

Sets up the benchmark's `crawl` workload (`crawlbench/workloads.py`, used
as is) the way `crawlbench/run.py` does, warms it up, then runs one
untraced pass with the engine's entry points and DataFrame actions
wrapped. Per call path it prints the number of calls and, inclusive of
nested calls, the wall time, the Spark jobs started (from the status
store) and the py4j round trips (commands the driver sent to the JVM).
The totals line adds how much of the pass's wall time some Spark job was
running; the rest is spent on the driver. The meter's own job-id reads
(two py4j commands per wrapped call, not counted) add a little wall time.
"""

from __future__ import annotations

import argparse
import functools
import os
import sys
import time
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path[:0] = [str(ROOT), str(ROOT / "crawlbench")]


class Meter:
    """Nested frames around wrapped calls. A frame's counts include its
    children's; py4j commands the meter itself sends are not counted."""

    def __init__(self, sc):
        self.sc = sc
        self.py4j = 0
        self._paused = False
        self._stack: list[str] = []
        # call path -> [calls, wall_s, jobs, py4j]
        self.rows: dict[tuple[str, ...], list[float]] = {}
        self.job_ids: list[int] = []

    def _next_job_id(self) -> int:
        self._paused = True
        try:
            return max(self.sc.statusTracker().getJobIdsForGroup(None), default=-1) + 1
        finally:
            self._paused = False

    def count_py4j(self, send):
        @functools.wraps(send)
        def wrapper(conn, *a, **kw):
            if not self._paused:
                self.py4j += 1
            return send(conn, *a, **kw)

        return wrapper

    @contextmanager
    def frame(self, name: str):
        self._stack.append(name)
        path = tuple(self._stack)
        row = self.rows.setdefault(path, [0, 0.0, 0, 0])  # first-call order
        j0, p0, t0 = self._next_job_id(), self.py4j, time.perf_counter()
        try:
            yield
        finally:
            wall, py4j = time.perf_counter() - t0, self.py4j - p0
            j1 = self._next_job_id()
            if len(self._stack) == 1:
                self.job_ids.extend(range(j0, j1))
            for i, v in enumerate((1, wall, j1 - j0, py4j)):
                row[i] += v
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str) -> None:
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            if not self._stack:  # outside the measured pass
                return fn(*a, **kw)
            with self.frame(name):
                return fn(*a, **kw)

        setattr(owner, attr, wrapper)

    def job_busy_s(self) -> float:
        """Wall time during which at least one recorded job ran."""
        store = self.sc._jsc.sc().statusStore()
        ivs = []
        for jid in self.job_ids:
            job = store.job(jid)
            start, end = job.submissionTime(), job.completionTime()
            if start.isDefined() and end.isDefined():
                ivs.append((start.get().getTime(), end.get().getTime()))
        busy, hi = 0, None
        for s, e in sorted(ivs):
            if hi is None or s > hi:
                busy, hi = busy + e - s, e
            elif e > hi:
                busy, hi = busy + e - hi, e
        return busy / 1000.0


def instrument(meter: Meter) -> None:
    """Wrap the py4j send paths, the engine calls a crawl pass makes and
    the DataFrame actions, where the crawler and the workload look them
    up."""
    from py4j import clientserver, java_gateway
    from pyspark.sql.classic.dataframe import DataFrame

    import workloads
    from webcollector_spark import crawler, store
    from webcollector_spark.operators import recrawl

    for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
        cls.send_command = meter.count_py4j(cls.send_command)
    for attr in ("inject", "merge", "load", "count", "_set", "log_round"):
        meter.wrap(store.RamFrontierStore, attr, f"store.{attr}")
    for attr in ("__init__", "_set", "log_round"):
        meter.wrap(store.ParquetFrontierStore, attr, f"parquet.{attr}")
    for attr in ("__post_init__", "start"):
        meter.wrap(crawler.BreadthCrawler, attr, f"crawler.{attr}")
    for attr in ("seed_rows", "generate", "generate_per_host", "fetch_op",
                 "discovered_links", "build_bloom", "seen_filter"):
        meter.wrap(crawler, attr, attr)
    meter.wrap(workloads, "seed_rows", "seed_rows")
    meter.wrap(workloads, "schedule_recrawl", "schedule_recrawl")
    meter.wrap(recrawl, "recrawl_candidates", "recrawl_candidates")
    for attr in ("count", "collect", "first", "toPandas", "localCheckpoint",
                 "persist", "unpersist"):
        meter.wrap(DataFrame, attr, f"df.{attr}")


def report(meter: Meter) -> None:
    (root, (_, wall, jobs, py4j)), *_ = meter.rows.items()
    busy = meter.job_busy_s()
    print(f"pass: {wall:.2f} s wall, {jobs} Spark jobs, {py4j} py4j round trips; "
          f"a job ran for {busy:.2f} s, the driver alone for {wall - busy:.2f} s")
    print(f"{'call path':<52}{'calls':>6}{'wall_s':>9}{'jobs':>6}{'py4j':>7}")

    def show(parent: tuple[str, ...]) -> None:  # children in first-call order
        for path, (n, w, j, p) in meter.rows.items():
            if path[:-1] == parent:
                label = "  " * (len(path) - 2) + path[-1]
                print(f"{label:<52}{n:>6}{w:>9.3f}{j:>6}{p:>7}")
                show(path)

    show(root)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()

    import box
    import run as bench
    import workloads

    work = ROOT / ".crawlbench" / "round_cost"
    box.fit_spark_env(ROOT, work)
    cores = box.nproc()
    wl = workloads.WORKLOADS["crawl"](args.seed, work)
    wl.make_inputs()
    spark = bench._start_session(cores)
    try:
        wl.prepare(spark)
        bench._warm_workers(spark, cores)
        wl.warm(spark)
        meter = Meter(spark.sparkContext)
        instrument(meter)
        with meter.frame("crawl.pass"):
            p = wl.run(spark)
        failed_checks = [n for n, ok in wl.check(spark) if not ok]
        print(f"seed {args.seed}, local[{cores}], {os.cpu_count()} CPUs: "
              f"{p.items} URLs, {p.failed} failed, failed checks: {failed_checks or 'none'}")
        report(meter)
    finally:
        bench._shutdown(spark)


if __name__ == "__main__":
    main()
