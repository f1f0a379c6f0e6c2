"""Fixed cost of a PySpark Python task that runs engine code.

    python tools/worker_task_cost.py [TASKS]

At local[nproc], after a warm-up that starts every Python worker, times
jobs of 1 and of TASKS (default 16) empty engine `mapInPandas` tasks,
median of 7. It splits a one-task job by wall-clock stamps (driver and
worker share the clock in local mode) into the time from `collect()` to
the function's first line (planning, scheduling, task launch and worker
set-up), the time inside the function (reading its one-row Arrow batch
included) and the return (output batch, result, job end). Then, in a
worker that has imported the engine, it counts zipimporters and replays
the worker's per-task set-up: `importlib.invalidate_caches()`, which
pyspark calls before every Python task, and unpickling the UDF.
"""

import os
import statistics
import sys
import time
from pathlib import Path

ROOT = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, (ROOT, os.environ.get("PYTHONPATH"))))


def empty(batches):
    import webcollector_spark.operators.fetch  # noqa: F401

    yield from batches


def stamped(batches):
    import pandas as pd

    t_in = time.time()
    rows = sum(len(b) for b in batches)
    t_read = time.time()
    yield pd.DataFrame({"t_in": [t_in], "t_read": [t_read], "t_out": [time.time()], "rows": [rows]})


def probe(udf_bytes):
    def run(batches):  # unpickling runs in a worker that ran `empty`
        import importlib
        import zipimport

        import pandas as pd
        from pyspark.serializers import CloudPickleSerializer

        n = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
        t0 = time.perf_counter()
        importlib.invalidate_caches()
        t1 = time.perf_counter()
        CloudPickleSerializer().loads(udf_bytes)
        t2 = time.perf_counter()
        yield pd.DataFrame({"zipimporters": [n], "invalidate_ms": [(t1 - t0) * 1e3],
                            "unpickle_ms": [(t2 - t1) * 1e3]})

    return run


def split_ms(spark) -> tuple[float, float, float, float]:
    """(collect -> function start, inside the function, of that the
    input batch read, function end -> collect returns) of one
    single-task job, in ms."""
    df = spark.range(0, 1, 1, 1).mapInPandas(
        stamped, "t_in double, t_read double, t_out double, rows long"
    )
    t0 = time.time()
    row = df.collect()[0]
    t1 = time.time()
    return tuple(x * 1e3 for x in (row.t_in - t0, row.t_out - row.t_in,
                                   row.t_read - row.t_in, t1 - row.t_out))


def main() -> None:
    tasks = int(sys.argv[1]) if len(sys.argv) > 1 else 16
    from webcollector_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    spark = get_spark("worker_task_cost", cores=cores,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})

    def job_ms(parts: int) -> float:
        t0 = time.perf_counter()
        spark.range(0, parts, 1, parts).mapInPandas(empty, "id long").collect()
        return (time.perf_counter() - t0) * 1e3

    for _ in range(3):
        job_ms(max(cores, tasks))
    for parts in (1, tasks):
        walls = sorted(job_ms(parts) for _ in range(7))
        print(f"{parts} task(s) at local[{cores}]: median {statistics.median(walls):.0f} ms/job, "
              f"samples {[round(w) for w in walls]}")
    splits = [split_ms(spark) for _ in range(7)]
    before, inside, read, back = (statistics.median(s[i] for s in splits) for i in range(4))
    print(f"1 task, medians of 7: {before:.1f} ms from collect() to the function, "
          f"{inside:.1f} ms inside it ({read:.1f} ms reading its one-row Arrow batch), "
          f"{back:.1f} ms back to the driver")
    from pyspark.serializers import CloudPickleSerializer

    udf_bytes = CloudPickleSerializer().dumps(empty)
    row = spark.range(0, 1, 1, 1).mapInPandas(
        probe(udf_bytes), "zipimporters long, invalidate_ms double, unpickle_ms double"
    ).first()
    print(f"in a worker: {row.zipimporters} zipimporters, "
          f"importlib.invalidate_caches() {row.invalidate_ms:.1f} ms, "
          f"UDF unpickle {row.unpickle_ms:.2f} ms")
    spark.stop()


if __name__ == "__main__":
    main()
