"""Physical-plan hygiene for the CRAWL CORE.

PLANS.md (tools/explain_plans.py) asserts plan shapes for the query
registry only; these tests pin the generate/merge/inject plans the
100 TB design notes rely on (BENCH.md §5): filters reach the parquet
scan, the reference-exact topN compiles to TakeOrderedAndProject (no
full-sort materialization), merge is a single shuffle by key, inject's
dedup is a LeftAnti join, and no Python eval appears anywhere in the
scheduling path (fetch is mapInPandas by design and is not part of
these plans).

Also unit-tests the broadcast-over-explode checker itself
(tools/explain_plans.py `_explode_broadcasts`) — the guard that caught
the 83 s single-threaded broadcast build of an exploded join side
(BENCH.md §4f) — against the three plan shapes it must distinguish.
"""

from __future__ import annotations

import contextlib
import io
import sys
from pathlib import Path

from pyspark.sql import functions as F

from webcollector_spark.crawler import seed_rows
from webcollector_spark.operators.generate import generate, generate_per_host
from webcollector_spark.store import ParquetFrontierStore

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


URLS = [f"http://h{i % 4:03d}.test/p/{i}" for i in range(64)]


def _parquet_frontier(spark, tmp_path):
    store = ParquetFrontierStore(spark, str(tmp_path / "db"))
    store.inject(seed_rows(spark, URLS))
    return store.load()


class TestCrawlCorePlans:
    def test_generate_pushes_filters_and_takeordered(self, spark, tmp_path):
        """Reference-exact generate: both predicates reach the parquet
        scan as PushedFilters and orderBy(key)+limit compiles to
        TakeOrderedAndProject — the frontier is never fully sorted, the
        property that makes a 10^10-row generate a scan, not a sort."""
        frontier = _parquet_frontier(spark, tmp_path)
        plan = plan_of(generate(frontier, top_n=10))
        assert "PushedFilters" in plan
        # both generate predicates must be pushed, not just listed
        pushed = [l for l in plan.split("\n") if "PushedFilters" in l]
        assert any("status" in l for l in pushed), pushed
        assert any("execute_count" in l for l in pushed), pushed
        assert "TakeOrderedAndProject" in plan
        assert "EvalPython" not in plan

    def test_generate_per_host_two_phase_no_python(self, spark, tmp_path):
        """The salted scheduler is pure window work: two Window nodes
        (salt phase + exact phase), no Python, and the frontier scan
        still sees the pushed generate predicates."""
        frontier = _parquet_frontier(spark, tmp_path)
        plan = plan_of(generate_per_host(frontier, k_per_host=5))
        assert plan.count("Window") >= 2
        assert "PushedFilters" in plan
        assert "EvalPython" not in plan

    def test_merge_single_shuffle_by_key(self, spark, tmp_path):
        """O9 merge folds fetch/frontier/links in ONE shuffle: exactly
        one Exchange hashpartitioning(key) in the plan — the property
        that bounds a round's cost at a 10^10-row frontier. (The plan
        is captured from the same union+window expression merge()
        executes, BEFORE the store materializes it.)"""
        store = ParquetFrontierStore(spark, str(tmp_path / "db"))
        store.inject(seed_rows(spark, URLS))
        cur = store.load()
        fetched = cur.limit(8).withColumn("status", F.lit(5))
        links = seed_rows(spark, ["http://h000.test/new/1"], depth=1)
        src = [
            fetched.withColumn("__src", F.lit(2)),
            cur.withColumn("__src", F.lit(1)),
            links.select(*fetched.drop("__src").columns).withColumn(
                "__src", F.lit(0)
            ),
        ]
        merged = src[0]
        for s in src[1:]:
            merged = merged.unionByName(s)
        from pyspark.sql import Window

        w = Window.partitionBy("key").orderBy(F.col("__src").desc())
        folded = (
            merged.withColumn("__rn", F.row_number().over(w))
            .filter("__rn = 1")
            .drop("__rn", "__src")
        )
        plan = plan_of(folded)
        # formatted explain puts the partitioning on the node's
        # "Arguments:" detail line, not the tree line
        key_exchanges = [
            l
            for l in plan.split("\n")
            if l.startswith("Arguments: hashpartitioning(key")
        ]
        assert len(key_exchanges) == 1, plan
        assert "EvalPython" not in plan

    def test_inject_dedup_is_left_anti(self, spark, tmp_path):
        """O1 inject skips already-present keys via a LeftAnti join on
        key — never a distinct over the union."""
        store = ParquetFrontierStore(spark, str(tmp_path / "db"))
        store.inject(seed_rows(spark, URLS))
        cur = store.load()
        fresh = seed_rows(spark, URLS[:4] + ["http://h000.test/new/2"]).join(
            cur.select("key"), "key", "left_anti"
        )
        plan = plan_of(fresh)
        assert "LeftAnti" in plan
        assert "EvalPython" not in plan


class TestExplodeBroadcastChecker:
    """The checker must flag a Generate feeding a BroadcastExchange
    directly (join sizing happens on pre-explode stats) and accept the
    two safe shapes (an Exchange or a cached relation below the
    broadcast — runtime stats there already include the explosion)."""

    TRAP = """
+- BroadcastHashJoin Inner BuildRight (9)
   :- Project (3)
   +- BroadcastExchange (8)
      +- Project (7)
         +- Generate (6)
            +- Scan parquet  (5)

(5) Scan parquet
"""

    SAFE_EXCHANGE = """
+- BroadcastHashJoin Inner BuildRight (9)
   :- Project (3)
   +- BroadcastExchange (8)
      +- HashAggregate (7)
         +- Exchange (6)
            +- Generate (5)
               +- Scan parquet  (4)

(4) Scan parquet
"""

    SAFE_CACHED = """
+- BroadcastHashJoin Inner BuildRight (9)
   :- Project (3)
   +- BroadcastExchange (8)
      +- Filter (7)
         +- InMemoryTableScan (5)
               +- InMemoryRelation (6)
                     +- Generate (4)

(4) Generate
"""

    def test_checker_shapes(self):
        from explain_plans import _explode_broadcasts

        assert _explode_broadcasts(self.TRAP) is True
        assert _explode_broadcasts(self.SAFE_EXCHANGE) is False
        assert _explode_broadcasts(self.SAFE_CACHED) is False

    def test_live_trap_plan_flagged(self, spark, tmp_path):
        """End-to-end: rebuild the exact trap that cost 83 s — a small
        distinct-hash table whose x70-exploded key table feeds a
        self-join — WITHOUT the shuffle_hash hint, and assert the
        checker flags the resulting plan. (The shipped
        phash_neardup_blocked carries the hint; PLANS.md asserts its
        plan stays clean.)"""
        from explain_plans import _explode_broadcasts

        from webcollector_spark.operators.pairs import _block_combo_keys

        dh = (
            spark.range(200)
            .select(F.xxhash64("id").alias("ph"))
            .distinct()
        )
        a = _block_combo_keys(dh, "ph", "ph_a", 4, 8)
        b = _block_combo_keys(dh, "ph", "ph_b", 4, 8)
        unhinted = a.join(b, ["combo", "bkey"]).filter(
            F.col("ph_a") < F.col("ph_b")
        )
        assert _explode_broadcasts(plan_of(unhinted)) is True

        hinted = a.hint("shuffle_hash").join(b, ["combo", "bkey"]).filter(
            F.col("ph_a") < F.col("ph_b")
        )
        assert _explode_broadcasts(plan_of(hinted)) is False

    def test_conflict_flags_plan_clean(self, spark):
        """caption_conflict_flags is NOT in the registry (round-3
        freeze), so PLANS.md never sees it — assert here that its plan
        carries no broadcast-over-explode and no Python eval."""
        from explain_plans import _explode_broadcasts

        from webcollector_spark.operators.captions import (
            caption_conflict_flags,
        )

        corpus = spark.range(500).select(
            F.concat(F.lit("img"), F.col("id")).alias("image_id"),
            F.xxhash64((F.col("id") / 4).cast("long")).alias("phash"),
            F.concat(F.lit("cap "), (F.col("id") / 4).cast("long")).alias(
                "caption"
            ),
        )
        plan = plan_of(caption_conflict_flags(corpus))
        assert _explode_broadcasts(plan) is False
        assert "EvalPython" not in plan
