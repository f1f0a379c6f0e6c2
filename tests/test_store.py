"""FrontierStore contract tests — the reference DBManagerTest shape
(test/.../DBManagerTest.java:18-47: inject N urls -> generate-all
returns exactly that set) plus the merge conflict rules
(RocksDBManager.java:160-197: fetch last-wins, link first-wins)."""

import pytest

from pyspark.sql import functions as F

from webcollector_spark.crawler import seed_rows
from webcollector_spark.operators.generate import generate
from webcollector_spark.schema import STATUS_DB_SUCCESS
from webcollector_spark.store import ParquetFrontierStore, RamFrontierStore

URLS = [f"http://test.example/p/{i}" for i in range(10)]


@pytest.fixture(params=["ram", "parquet"])
def store(request, spark, tmp_path):
    if request.param == "ram":
        return RamFrontierStore(spark)
    return ParquetFrontierStore(spark, str(tmp_path / "crawldb"))


def test_inject_then_generate_returns_set(spark, store):
    store.inject(seed_rows(spark, URLS))
    got = {r.url for r in generate(store.load()).collect()}
    assert got == set(URLS)


def test_inject_skips_existing_unless_force(spark, store):
    store.inject(seed_rows(spark, URLS))
    # re-inject with different depth: must be a no-op without force
    store.inject(seed_rows(spark, URLS[:3], depth=9))
    assert store.load().filter("depth = 9").count() == 0
    store.inject(seed_rows(spark, URLS[:3], depth=9), force=True)
    assert store.load().filter("depth = 9").count() == 3
    assert store.load().count() == len(URLS)


def test_merge_fetch_last_wins_link_first_wins(spark, store):
    store.inject(seed_rows(spark, URLS[:4]))
    # fetch segment: url 0 marked SUCCESS
    fetched = (
        seed_rows(spark, URLS[:1])
        .withColumn("status", F.lit(STATUS_DB_SUCCESS))
        .withColumn("execute_count", F.lit(1))
        .withColumn("execute_time", F.lit(1000).cast("long"))
    )
    # link segment: url 1 rediscovered (must NOT overwrite), url 99 new
    links = seed_rows(spark, [URLS[1], "http://test.example/p/99"], depth=5)
    store.merge(fetched, links)
    out = {r.key: r for r in store.load().collect()}
    assert out[URLS[0]].status == STATUS_DB_SUCCESS  # fetch overwrote
    assert out[URLS[0]].execute_count == 1
    assert out[URLS[1]].depth == 0  # link did NOT overwrite existing row
    assert out["http://test.example/p/99"].depth == 5  # new link inserted
    assert len(out) == 5


def test_merge_intra_round_dedup(spark, store):
    store.inject(seed_rows(spark, URLS[:2]))
    # two fetch rows same key: later execute_time wins
    f1 = (
        seed_rows(spark, URLS[:1])
        .withColumn("status", F.lit(STATUS_DB_SUCCESS))
        .withColumn("execute_time", F.lit(1000).cast("long"))
    )
    f2 = (
        seed_rows(spark, URLS[:1])
        .withColumn("status", F.lit(1))
        .withColumn("execute_time", F.lit(2000).cast("long"))
    )
    store.merge(f1.unionByName(f2), None)
    row = store.load().filter(F.col("key") == URLS[0]).collect()[0]
    assert row.status == 1 and row.execute_time == 2000


def _row(key, status=0, count=0, etime=None, depth=0):
    return (
        key, f"http://h.test/{key}", status, etime, count, -1, None,
        None, "h.test", depth, 0.0,
    )


def test_merge_rules_across_rounds(spark, store):
    """Three rounds of (fetched, links) segments: a later fetch beats an
    older one, a re-discovered link never displaces an existing row, and
    a URL first discovered at depth 1 keeps depth 1."""
    from webcollector_spark.schema import FRONTIER_SCHEMA

    def df(rows):
        return spark.createDataFrame(rows, FRONTIER_SCHEMA)

    rounds = [
        ([_row("a", 5, 1, 1000)], [_row("b", depth=1), _row("c", depth=1)]),
        # c re-discovered deeper -> keeps depth 1
        ([_row("b", 1, 1, 2000, depth=1)], [_row("c", depth=2), _row("d", depth=2)]),
        # re-discovery of a fetched key loses
        ([_row("b", 5, 2, 3000, depth=1), _row("c", 5, 1, 3000, depth=1)],
         [_row("a", depth=3)]),
    ]
    store.inject(df([_row("a")]))
    for fetched, links in rounds:
        store.merge(df(fetched), df(links))
    got = {
        r.key: (r.status, r.execute_count, r.depth)
        for r in store.load().collect()
    }
    assert got == {
        "a": (5, 1, 0),  # later link re-discovery lost
        "b": (5, 2, 1),  # latest fetch won over the older FAILED fetch
        "c": (5, 1, 1),  # first-wins kept depth 1, then fetched
        "d": (0, 0, 2),
    }
    assert store.count() == 4


def test_crawler_with_injected_store(spark, small_web, tmp_path):
    """End to end through the `store=` seam (the DBManager plugin
    contract): BreadthCrawler(store=ParquetFrontierStore) equals the RAM
    backend on the same crawl."""
    from webcollector_spark import fixtures
    from webcollector_spark.config import CrawlerConfig
    from webcollector_spark.crawler import BreadthCrawler, RamCrawler
    from webcollector_spark.sources.requester import SyntheticRequester

    graph, corpus = small_web
    seeds = fixtures.seeds_for(graph, 3)

    def req():
        return SyntheticRequester(
            graph.to_dict("records"), corpus.to_dict("records")
        )

    def state(crawler):
        return {
            r.key: (r.status, r.execute_count, r.depth)
            for r in crawler.frontier().collect()
        }

    cfg = CrawlerConfig(bloom_capacity=10_000)
    ram = RamCrawler(spark, req(), config=cfg)
    ram.add_seed(list(seeds))
    ram.start(3)

    store = ParquetFrontierStore(spark, str(tmp_path / "db"))
    injected = BreadthCrawler(spark, req(), config=cfg, store=store)
    injected.add_seed(list(seeds))
    injected.start(3)

    assert injected.store is store
    assert state(injected) == state(ram)


def test_parquet_store_ignores_uncommitted_snapshot(spark, tmp_path):
    """Crash-resume: a partially written snapshot (no _SUCCESS marker)
    must be invisible to resume — the store loads the last COMMITTED
    version (Iceberg snapshot-commit semantics on the parquet backend)."""
    import os
    import shutil

    path = str(tmp_path / "db")
    s1 = ParquetFrontierStore(spark, path)
    s1.inject(seed_rows(spark, URLS[:4]))  # commits frontier_v0
    s1.merge(None, seed_rows(spark, URLS[4:6]))  # commits frontier_v1
    s1.log_round(round=0, generated=4, fetched=4, failed=0, new_links=2, wall_ms=1)

    # simulate a crash mid-write of v2: copy v1, drop the marker, add junk
    v1, v2 = os.path.join(path, "frontier_v1"), os.path.join(path, "frontier_v2")
    shutil.copytree(v1, v2)
    os.remove(os.path.join(v2, "_SUCCESS"))

    s2 = ParquetFrontierStore(spark, path, resumable=True)
    assert s2._version == 1  # uncommitted v2 ignored
    assert s2.load().count() == 6
    assert s2.last_round() == 0
    # next commit overwrites the junk cleanly
    s2.merge(None, seed_rows(spark, URLS[6:7]))
    assert s2.load().count() == 7


def test_parquet_store_resume(spark, tmp_path):
    path = str(tmp_path / "db")
    s1 = ParquetFrontierStore(spark, path)
    s1.inject(seed_rows(spark, URLS))
    s1.log_round(round=0, generated=10, fetched=10, failed=0, new_links=0, wall_ms=1)
    # reopen resumable: state + round manifest survive
    s2 = ParquetFrontierStore(spark, path, resumable=True)
    assert s2.last_round() == 0
    assert {r.url for r in s2.load().collect()} == set(URLS)
    # reopen non-resumable: wiped (Crawler.java:104-110)
    s3 = ParquetFrontierStore(spark, path)
    assert s3.is_empty()
