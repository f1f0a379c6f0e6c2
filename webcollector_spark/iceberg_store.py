"""IcebergFrontierStore — the production frontier backend.

This module is the deployment path for frontiers too large to rewrite
every round: the FrontierStore contract expressed as Iceberg DDL/MERGE
(merge-on-read with the table's own compaction), activated when a Spark
session has an Iceberg catalog configured, e.g.:

    spark-submit \
      --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver> \
      --conf spark.sql.catalog.wc=org.apache.iceberg.spark.SparkCatalog \
      --conf spark.sql.catalog.wc.type=hadoop \
      --conf spark.sql.catalog.wc.warehouse=hdfs://.../warehouse ...

Semantic mapping (identical to store.py, SURVEY §2.1):
  inject       -> MERGE ... WHEN NOT MATCHED THEN INSERT
                  (force: + WHEN MATCHED THEN UPDATE)
  merge (O9)   -> one MERGE over fetch UNION links with source
                  precedence: fetch rows update matched keys
                  (last-wins), link rows insert only when absent
                  (first-wins across rounds)
  snapshots    -> Iceberg snapshot per MERGE commit; resume reads the
                  current table state; round records -> rounds table
  round commit -> the MERGE, then an INSERT into the rounds table: two
                  steps, where the parquet store has one marker
  per-partition lineage -> Iceberg file-level manifests (free)

Bucket-partitioning by host keeps a host's frontier rows co-located so
the per-host generate window shuffles minimally and politeness
co-location is storage-aligned.

Without Iceberg jars, the SQL text and the MERGE source (built by the
same `_fold` as store.py) are unit-tested; the fold itself runs in every
crawl through `ParquetFrontierStore`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from webcollector_spark.schema import FRONTIER_SCHEMA, ROUNDS_SCHEMA
from webcollector_spark.store import (
    SRC_FETCH,
    SRC_LINK,
    RamFrontierStore,
    _dedup_seeds,
    _fold,
    _union_tagged,
)


def _ddl_columns(schema) -> str:
    """`schema` as a CREATE TABLE column list."""
    return ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schema.fields)


_COLS = [f.name for f in FRONTIER_SCHEMA.fields]
# a fetch row replaces the whole row of its key, as `_fold` does on the
# RAM/parquet stores (a `schedule_recrawl` segment rewrites `priority`)
_UPDATE_COLS = [c for c in _COLS if c != "key"]


def iceberg_available(spark: SparkSession, catalog: str) -> bool:
    """True when `catalog` resolves to an Iceberg catalog."""
    try:
        cls = spark.conf.get(f"spark.sql.catalog.{catalog}")
        return "iceberg" in (cls or "").lower()
    except Exception:
        return False


# -- SQL generation + merge-source construction, as module functions so
#    the semantics are unit-testable in Iceberg-less environments (the
#    class methods below are thin wrappers around them) ------------------

def inject_sql(table: str, force: bool) -> str:
    matched = (
        "WHEN MATCHED THEN UPDATE SET * " if force else ""
    )  # forced seeds overwrite (Crawler.java:72-78)
    return (
        f"MERGE INTO {table} t USING __seeds s ON t.key = s.key "
        f"{matched}WHEN NOT MATCHED THEN INSERT *"
    )


def merge_sql(table: str) -> str:
    """One MERGE (O9): fetch rows update matched keys (last-wins), link
    rows insert only when absent (first-wins across rounds); a link row
    never updates — is_fetch gates the WHEN MATCHED branch."""
    return (
        f"MERGE INTO {table} t USING __segments s ON t.key = s.key "
        "WHEN MATCHED AND s.is_fetch THEN UPDATE SET "
        + ", ".join(f"t.{c} = s.{c}" for c in _UPDATE_COLS)
        + " WHEN NOT MATCHED THEN INSERT ("
        + ", ".join(_COLS)
        + ") VALUES ("
        + ", ".join(f"s.{c}" for c in _COLS)
        + ")"
    )


def build_merge_source(
    fetched: DataFrame | None, links: DataFrame | None
) -> DataFrame | None:
    """The MERGE source: one row per key of fetch ∪ links by store.py's
    `_fold` — fetch deduped last-wins, links first-wins with the same
    deterministic (depth asc, url asc) tiebreak, a fetch row beating a
    link row on a shared key. `is_fetch` gates the MERGE's update."""
    tagged = _union_tagged((fetched, SRC_FETCH), (links, SRC_LINK))
    if tagged is None:
        return None
    return (
        _fold(tagged)
        .withColumn("is_fetch", F.col("__src") == SRC_FETCH)
        .drop("__src")
    )


class IcebergFrontierStore(RamFrontierStore):
    """FrontierStore over an Iceberg table `catalog.db.frontier`."""

    def __init__(
        self,
        spark: SparkSession,
        table: str,
        host_buckets: int = 256,
        resumable: bool = False,
    ):
        catalog = table.split(".", 1)[0]
        if not iceberg_available(spark, catalog):
            raise RuntimeError(
                f"catalog {catalog!r} is not an Iceberg catalog; use "
                "ParquetFrontierStore in environments without Iceberg jars"
            )
        super().__init__(spark)
        self.table = table
        self.rounds_table = table + "_rounds"
        if not resumable:
            spark.sql(f"DROP TABLE IF EXISTS {self.table}")
            spark.sql(f"DROP TABLE IF EXISTS {self.rounds_table}")
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {self.table} "
            f"({_ddl_columns(FRONTIER_SCHEMA)}) "
            f"USING iceberg PARTITIONED BY (bucket({host_buckets}, host))"
        )
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {self.rounds_table} "
            f"({_ddl_columns(ROUNDS_SCHEMA)}) USING iceberg"
        )

    # -- O1 -------------------------------------------------------------
    def inject(self, seeds: DataFrame, force: bool = False) -> None:
        _dedup_seeds(seeds, force).createOrReplaceTempView("__seeds")
        self.spark.sql(inject_sql(self.table, force))
        # the MERGE may have inserted/updated rows — a memoized count
        # taken before inject would feed stale salt/bloom gates and skew
        # merge()'s new-links delta
        self._count = None

    # -- O9 -------------------------------------------------------------
    def merge(self, fetched: DataFrame | None, links: DataFrame | None,
              record: dict | None = None) -> int:
        before = self.count()
        merged = build_merge_source(fetched, links)
        if merged is not None:
            merged.createOrReplaceTempView("__segments")
            self.spark.sql(merge_sql(self.table))
            self._count = None
        n_new = self.count() - before
        if record is not None:
            self.log_round(**{**record, "new_links": n_new})
        return n_new

    # -- state ----------------------------------------------------------
    def load(self) -> DataFrame:
        return self.spark.table(self.table)

    def is_empty(self) -> bool:
        return self.count() == 0

    def count(self) -> int:
        if self._count is None:
            self._count = self.spark.table(self.table).count()
        return self._count

    def _current_snapshot_id(self) -> int:
        row = self.spark.sql(
            f"SELECT snapshot_id FROM {self.table}.snapshots "
            "ORDER BY committed_at DESC LIMIT 1"
        ).collect()
        return int(row[0][0]) if row else -1

    def log_round(self, **metrics) -> None:
        metrics.setdefault("snapshot_id", self._current_snapshot_id())
        super().log_round(**metrics)
        vals = ", ".join(str(metrics[f.name]) for f in ROUNDS_SCHEMA.fields)
        self.spark.sql(f"INSERT INTO {self.rounds_table} VALUES ({vals})")

    def last_round(self) -> int:
        row = self.spark.sql(
            f"SELECT max(round) FROM {self.rounds_table}"
        ).collect()[0][0]
        return -1 if row is None else int(row)

    def destroy(self) -> None:
        self.spark.sql(f"DROP TABLE IF EXISTS {self.table}")
        self.spark.sql(f"DROP TABLE IF EXISTS {self.rounds_table}")
        super().destroy()
