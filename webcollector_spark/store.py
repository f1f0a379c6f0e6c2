"""FrontierStore — the CrawlDB (reference: crawldb/DBManager.java contract,
RocksDB impl plugin/rocks/RocksDBManager.java:40-220).

Two stores behind one semantic contract (O1 inject / O9 merge / resume),
sharing one merge implementation that every frontier write goes through
(`inject` is a `merge`):

* `RamFrontierStore` — in-memory DataFrame with localCheckpoint() per
  merge (truncates the iterative plan lineage), mirroring the reference's
  RamDB (plugin/ram/RamDB.java:30-36) for one-shot crawls and tests.
* `ParquetFrontierStore` — the persistent store: copy-on-write, one
  parquet snapshot per write (`<path>/frontier_v{N}/`), committed by the
  `_SUCCESS` marker the store writes after the data files. The marker
  holds the round records, so a round's fold and record commit as one
  and resume reads both from the newest committed snapshot. Each snapshot
  corresponds to an Iceberg snapshot id; the Iceberg form of the same
  fold is one `MERGE INTO frontier` (iceberg_store.py), which is also
  the merge-on-read path for frontiers too large to rewrite per round.

MERGE conflict rules (the part that is easy to get subtly wrong —
RocksDBManager.java:160-197), all in `_fold`:
  * fetch segment:  put() unconditionally  -> LAST-WINS overwrite-or-insert
  * link  segment:  put() only if absent   -> FIRST-WINS across rounds
  * within a round, the KV segment itself dedups by key (last write wins
    for fetch, any-single-row for links, made deterministic here).

Row counts come from the commit itself: the committing action (the
eager `localCheckpoint`, or the parquet write) carries a
`count(1)` Observation, so `count()`/`cheap_count()` and the
`merge` row-count delta start no Spark job of their own. Only a store
that has not committed in this process (a resumed snapshot) counts
once. Snapshots are read with `FRONTIER_SCHEMA`, so opening one runs
no schema-inference job either.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from webcollector_spark.schema import FRONTIER_SCHEMA
from webcollector_spark.session import local_frame

_CORE_COLS = [f.name for f in FRONTIER_SCHEMA.fields]

# `__src` precedence tags for `_fold`
SRC_FETCH, SRC_FRONTIER, SRC_LINK = 2, 1, 0


def _core(df: DataFrame) -> DataFrame:
    """Project to the persisted CrawlDatum columns in canonical order."""
    return df.select(*_CORE_COLS)


def _tagged(df: DataFrame, src: int) -> DataFrame:
    return _core(df).withColumn("__src", F.lit(src))


def _union_tagged(*segments: tuple[DataFrame | None, int]) -> DataFrame | None:
    """Union of the non-None `(df, __src tag)` segments; None if none."""
    parts = [_tagged(df, src) for df, src in segments if df is not None]
    return reduce(DataFrame.unionByName, parts) if parts else None


def _meta_order() -> F.Column:
    """Canonical serialization of the meta map for deterministic tie-
    breaking: entries key-sorted, Spark to_json compact form (the
    replay oracle emulates the same string with
    json.dumps(separators=(',', ':'))). Without it, two link rows that
    tie on (depth, url) but carry different meta — e.g. the same
    outlink emitted by two parents with different rank/referer — would
    be picked arbitrarily per run."""
    return F.coalesce(
        F.to_json(F.map_from_entries(F.array_sort(F.map_entries(F.col("meta"))))),
        F.lit(""),
    )


def _fold(df: DataFrame) -> DataFrame:
    """Keep the highest-precedence row per key of rows tagged `__src`
    (SRC_FETCH > SRC_FRONTIER > SRC_LINK): one shuffle by key, each
    input scanned once. This is the row-level operation an Iceberg
    `MERGE INTO frontier` performs (fetch ≙ WHEN MATCHED UPDATE, links ≙
    WHEN NOT MATCHED INSERT). Within one tag: last-wins by
    (execute_time, execute_count) (RocksDBManager.java:167-171), then
    (depth, url) so a URL discovered at several depths keeps its minimal
    depth, then the canonical meta — for link rows only, which skips
    the to_json for the non-link majority of rows. Keeps `__src`."""
    w = Window.partitionBy("key").orderBy(
        F.col("__src").desc(),
        F.col("execute_time").desc_nulls_last(),
        F.col("execute_count").desc(),
        F.col("depth").asc(),
        F.col("url").asc(),
        F.when(F.col("__src") == SRC_LINK, _meta_order()).otherwise(F.lit("")).asc(),
    )
    return df.withColumn("__rn", F.row_number().over(w)).filter("__rn = 1").drop("__rn")


def _observed(df: DataFrame) -> tuple[DataFrame, Observation]:
    """`df` with a row-count Observation that the next action fills."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("n")), obs


def _dedup_seeds(seeds: DataFrame, force: bool) -> DataFrame:
    """One seed row per key: forced seeds take the fetch slot (they
    overwrite), plain seeds the link slot (they insert if absent)."""
    return _core(_fold(_tagged(seeds, SRC_FETCH if force else SRC_LINK)))


class RamFrontierStore:
    """In-memory frontier (reference RamDBManager). Not persistent."""

    _version = -1  # the committed snapshot id; a RAM frontier has none

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._df: DataFrame | None = None
        self._count: int | None = None
        self.rounds: list[dict] = []

    # -- O1: inject ----------------------------------------------------
    def inject(self, seeds: DataFrame, force: bool = False) -> None:
        """Insert seeds; skip keys already present unless `force`
        (DBManager.inject contract, RocksDBManager.java:72-100). One
        fold: forced seeds take the fetch slot and overwrite matched
        rows (Crawler.java:72-78), plain seeds the link slot."""
        self.merge(seeds if force else None, None if force else seeds)

    # -- O9: merge -----------------------------------------------------
    def merge(self, fetched: DataFrame | None, links: DataFrame | None,
              record: dict | None = None) -> int:
        """Fold a round's segments into the frontier with `_fold`: fetch
        last-wins, link first-wins. Returns the number of newly inserted
        link rows (frontier row-count delta: the fetch side only updates
        in place). `record`, the round's metrics, commits with the fold
        (`_set`)."""
        tagged = _union_tagged(
            (fetched, SRC_FETCH), (self._df, SRC_FRONTIER), (links, SRC_LINK)
        )
        return self._set(_core(_fold(tagged)), record)

    def load(self) -> DataFrame:
        assert self._df is not None, "store is empty"
        return self._df

    def is_empty(self) -> bool:
        return self._df is None

    def _set(self, df: DataFrame, record: dict | None = None) -> int:
        """Write `df` as the frontier, then commit it with `record`, if
        given, appended to `rounds` with its new_links (the row-count
        growth, returned), snapshot_id and wall_ts filled in and the
        write's time added to its wall_ms."""
        t0, before = time.monotonic(), self.count()
        n = self._write(df)
        rounds = self.rounds
        if record is not None:
            ms = record.get("wall_ms", 0) + int((time.monotonic() - t0) * 1000)
            rounds = [*rounds, self._stamp(
                {**record, "new_links": n - before, "wall_ms": ms})]
        self._commit(rounds)
        self._count = n
        return n - before

    def _write(self, df: DataFrame) -> int:
        """The frontier's data, uncommitted; returns its row count."""
        # localCheckpoint truncates the iterative-loop lineage; eager so
        # each round's plan is materialized once (the reference's
        # per-round segment fold is likewise eager, Fetcher.java:310).
        df, obs = _observed(df)
        self._df = df.localCheckpoint(eager=True)
        return obs.get["n"]

    def _commit(self, rounds: list[dict]) -> None:
        """Commit the written frontier with its round records."""
        self.rounds = rounds

    def _stamp(self, record: dict) -> dict:
        record.setdefault("snapshot_id", self._version)
        record.setdefault("wall_ts", int(time.time() * 1000))
        return record

    def count(self) -> int:
        """Frontier row count: the last commit's observed count, or one
        count job for a snapshot this process did not commit."""
        if self._count is None:
            self._count = 0 if self._df is None else self._df.count()
        return self._count

    def cheap_count(self) -> int:
        """Frontier size for the crawler's salt/bloom gates: the
        memoized exact count, so a gate costs no job after a merge."""
        return self.count()

    # -- lineage -------------------------------------------------------
    def log_round(self, **metrics) -> None:
        """Record a round after its merge: append it to the current
        snapshot's rounds and re-commit that snapshot."""
        self._commit([*self.rounds, self._stamp(metrics)])

    def last_round(self) -> int:
        return max((r["round"] for r in self.rounds), default=-1)

    def rounds_df(self) -> DataFrame:
        """The round records as a typed DataFrame (per-round lineage +
        metrics; ROUNDS_SCHEMA columns, snapshot_id -1 for RAM mode)."""
        from webcollector_spark.schema import ROUNDS_SCHEMA

        cols = [f.name for f in ROUNDS_SCHEMA.fields]
        rows = [
            tuple(int(r.get(c, -1)) for c in cols) for r in self.rounds
        ]
        return local_frame(self.spark, rows, ROUNDS_SCHEMA)

    def destroy(self) -> None:
        self._df = None
        self._count = None
        self.rounds = []


class ParquetFrontierStore(RamFrontierStore):
    """Persistent frontier: one parquet snapshot per write, committed by
    a `_SUCCESS` marker holding the round records. Resume = read the
    newest committed one (reference resumable mode, Crawler.java:101-110)."""

    def __init__(self, spark: SparkSession, path: str, resumable: bool = False):
        super().__init__(spark)
        self.path = path
        if not resumable and os.path.exists(path):
            shutil.rmtree(path)  # non-resumable start wipes the db (Crawler.java:104-110)
        os.makedirs(path, exist_ok=True)
        committed = [int(d.split("_v")[1]) for d in os.listdir(path)
                     if d.startswith("frontier_v")
                     and os.path.exists(os.path.join(path, d, "_SUCCESS"))]
        if committed:
            self._version = max(committed)
            self._df = self._read(self._version)
            with open(os.path.join(self._vdir(self._version), "_SUCCESS")) as fh:
                self.rounds = json.load(fh)

    def _vdir(self, v: int) -> str:
        return os.path.join(self.path, f"frontier_v{v}")

    def _read(self, v: int) -> DataFrame:
        return self.spark.read.schema(FRONTIER_SCHEMA).parquet(self._vdir(v))

    def _write(self, df: DataFrame) -> int:
        v = self._version + 1
        # Plain-parquet snapshot; _SUCCESS marker = commit. No clustered
        # write here on purpose: a parquet scan gives Catalyst no sort
        # order to exploit, so pre-sorting by key would add a range
        # shuffle per round that generate's TakeOrderedAndProject never
        # repays. The production path clusters by bucket(host) via the
        # Iceberg DDL (iceberg_store.py) where the layout IS visible to
        # the per-host generate window and the politeness co-location.
        df, obs = _observed(_core(df))
        df.write.mode("overwrite").option(  # the marker is _commit's
            "mapreduce.fileoutputcommitter.marksuccessfuljobs", "false"
        ).parquet(self._vdir(v))
        self._version = v
        self._df = self._read(v)
        return obs.get["n"]

    def _commit(self, rounds: list[dict]) -> None:
        """Commit the current snapshot: its marker holding `rounds`, via
        a temp file and `os.replace`, so no crash leaves a torn marker."""
        marker = os.path.join(self._vdir(self._version), "_SUCCESS")
        tmp = marker + ".inprogress"
        with open(tmp, "w") as fh:
            fh.write(json.dumps(rounds))
        os.replace(tmp, marker)
        super()._commit(rounds)
        # retain last 2 snapshots (resume needs only the latest)
        old = self._vdir(self._version - 2)
        if os.path.exists(old):
            shutil.rmtree(old)

    def destroy(self) -> None:
        super().destroy()
        if os.path.exists(self.path):
            shutil.rmtree(self.path)
