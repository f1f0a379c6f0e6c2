"""SparkSession factory tuned for this engine.

Local-mode settings mirror what a 1000-executor cluster deployment would
set per-executor: AQE on (runtime skew-join + partition coalescing),
Arrow on (every hot UDF is iterator-of-Arrow-batches), shuffle
partitions sized to cores (not the 200 default), UTC session timezone so
DuckDB-oracle comparisons are stable.

PySpark 4's DataFrame query-context capture
(`spark.python.sql.dataFrameDebugging.enabled`) is off: with it on,
every DataFrame and Column call pays a `getActiveSession`, a conf read
and an origin set/clear over py4j to record its Python call site for
error messages. A crawl round builds its plans from thousands of such
calls: in one `crawl` benchmark pass, turning the capture off cut the
driver's py4j round trips by about 36% (tools/round_cost.py).
`extra_conf` can turn it back on.

`local_frame` builds small driver-side frames (seeds, probe candidates,
the rounds manifest) as a `LocalRelation` through Arrow. A frame built
from a Python list is a pickled Python RDD instead, and every scan of it
starts a Python worker.

`map_rows` is the executor-side boundary for per-row Python kernels:
it owns the `mapInPandas` batch loop, and `rows_frame` turns the
kernel's output dicts into the pandas frame Spark converts to Arrow.
Integer fields are typed from the Spark schema there, once, for every
operator.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import IntegerType, LongType, StructType


def driver_memory(total_mb: int) -> str:
    """Driver heap for a machine with `total_mb` of memory: a quarter of
    it, between 1 and 8 GiB. In local mode the driver JVM is the only
    JVM; the rest is left to the Python workers and the page cache."""
    return f"{max(1, min(8, total_mb // 4 // 1024))}g"


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def get_spark(
    app_name: str = "webcollector_spark",
    cores: int | str = "*",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` may be an int or "*"; ``shuffle_partitions`` defaults to the
    core count (local mode: one JVM, shuffles hit local disk — more
    partitions than cores just adds scheduling overhead; on a real
    cluster this conf is sized to total executor cores and AQE coalesces
    from there). The driver heap is ``SPARK_GRAFT_DRIVER_MEM`` when set,
    else `driver_memory` of this machine's MemTotal.
    """
    if shuffle_partitions is None:
        shuffle_partitions = os.cpu_count() or 8 if cores == "*" else int(cores)
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or driver_memory(_mem_total_mb())
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows: list[tuple], schema: StructType) -> DataFrame:
    """`rows` (tuples in `schema`'s field order) as a `LocalRelation`,
    built through one Arrow table; a null in a non-nullable field raises.
    Unlike `createDataFrame(pandas_df)`, this path has no silent
    non-Arrow fallback and keeps an empty frame local too."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    cols = [list(c) for c in zip(*rows)] if rows else [[] for _ in schema.fields]
    table = pa.Table.from_arrays(cols, schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)


# pandas dtype of each Spark integer type: nullable, so a None next to
# ints stays an int column instead of float64, which would round 64-bit
# values (phashes) on the way back to Arrow
_NULLABLE_INT = {IntegerType: "Int32", LongType: "Int64"}


def rows_frame(rows: list[dict], schema: StructType):
    """`rows` (dicts keyed by field name; a missing key is null) as a
    pandas frame in `schema`'s column order. `IntegerType`/`LongType`
    fields become nullable `Int32`/`Int64` arrays built from the Python
    values; other columns keep pandas' inference."""
    import pandas as pd

    cols = {}
    for f in schema.fields:
        vals = [r.get(f.name) for r in rows]
        dtype = _NULLABLE_INT.get(type(f.dataType))
        cols[f.name] = pd.array(vals, dtype=dtype) if dtype else vals
    return pd.DataFrame(cols)


def map_rows(
    df: DataFrame, schema: StructType, fn: Callable[[dict], Iterable[dict]]
) -> DataFrame:
    """`df` through a per-row Python kernel in one `mapInPandas` pass:
    `fn(row)` gets each input row as a dict and yields zero or more
    output dicts, which leave each Arrow batch through `rows_frame`."""

    def run(batches: Iterator) -> Iterator:
        for pdf in batches:
            yield rows_frame(
                [o for r in pdf.to_dict("records") for o in fn(r)], schema
            )

    return df.mapInPandas(run, schema=schema)
