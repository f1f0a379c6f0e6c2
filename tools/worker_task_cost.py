"""Fixed cost of a PySpark Python task that runs engine code.

    python tools/worker_task_cost.py [TASKS]

At local[nproc], after a warm-up that starts every Python worker, times
jobs of 1 and of TASKS (default 16) empty engine `mapInPandas` tasks,
median of 7. Then, in a worker that has imported the engine, counts
zipimporters and times `importlib.invalidate_caches()`, which pyspark
calls before every Python task.
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


def probe(batches):  # unpickling runs in a worker that ran `empty`
    import importlib
    import zipimport

    import pandas as pd

    n = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
    t0 = time.perf_counter()
    importlib.invalidate_caches()
    yield pd.DataFrame({"zipimporters": [n], "invalidate_ms": [(time.perf_counter() - t0) * 1e3]})


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
    row = spark.range(0, 1, 1, 1).mapInPandas(probe, "zipimporters long, invalidate_ms double").first()
    print(f"in a worker: {row.zipimporters} zipimporters, "
          f"importlib.invalidate_caches() {row.invalidate_ms:.1f} ms")
    spark.stop()


if __name__ == "__main__":
    main()
