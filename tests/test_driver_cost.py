"""The round's fixed driver costs stay cut.

Store counts come from the committing action, so counting after an
inject or merge starts no Spark job; a committed snapshot opens with its
known schema, without an inference job; driver-built frames are
`LocalRelation`s, not pickled Python RDDs; and PySpark's DataFrame
query-context capture is off.
"""

import uuid

import pytest
from pyspark.sql import functions as F

from webcollector_spark import crawler
from webcollector_spark.crawler import seed_rows
from webcollector_spark.datum import CrawlDatum
from webcollector_spark.schema import FRONTIER_SCHEMA, ROUNDS_SCHEMA, STATUS_DB_SUCCESS
from webcollector_spark.session import driver_memory, local_frame
from webcollector_spark.store import ParquetFrontierStore, RamFrontierStore


def _jobs(spark, fn):
    """(fn's result, the number of Spark jobs it started)."""
    sc = spark.sparkContext
    group = f"driver-cost-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _plan_node(df) -> str:
    return df._jdf.queryExecution().analyzed().getClass().getSimpleName()


@pytest.fixture(params=["ram", "parquet"])
def make_store(request, spark, tmp_path):
    def make(resumable=False):
        if request.param == "ram":
            return RamFrontierStore(spark)
        return ParquetFrontierStore(spark, str(tmp_path / "db"), resumable=resumable)

    return make


def _assert_counted_without_jobs(spark, store, want):
    (n, cheap), jobs = _jobs(spark, lambda: (store.count(), store.cheap_count()))
    assert jobs == 0
    assert n == cheap == store.load().count() == want


def _fetched(spark, urls):
    return seed_rows(spark, urls).withColumns(
        {"status": F.lit(STATUS_DB_SUCCESS), "execute_count": F.lit(1)}
    )


def test_counts_come_from_inject_and_merge(spark, make_store):
    store = make_store()
    store.inject(seed_rows(spark, ["http://a.com/1", "http://a.com/2"]))
    _assert_counted_without_jobs(spark, store, 2)

    # new links: the delta is the inserted rows
    n = store.merge(_fetched(spark, ["http://a.com/1"]),
                    seed_rows(spark, ["http://a.com/2", "http://b.com/3"], depth=1))
    assert n == 1
    _assert_counted_without_jobs(spark, store, 3)

    # a merge that inserts nothing: every link is already known
    assert store.merge(None, seed_rows(spark, ["http://a.com/1", "http://b.com/3"])) == 0
    _assert_counted_without_jobs(spark, store, 3)

    # a merge with no links
    assert store.merge(_fetched(spark, ["http://a.com/2"]), None) == 0
    _assert_counted_without_jobs(spark, store, 3)


def test_empty_inject_counts_zero_without_jobs(spark, make_store):
    store = make_store()
    store.inject(seed_rows(spark, []))
    _assert_counted_without_jobs(spark, store, 0)
    store.inject(seed_rows(spark, ["http://a.com/1"]))
    _assert_counted_without_jobs(spark, store, 1)


def test_resumed_store_opens_without_jobs_and_counts_once(spark, tmp_path):
    path = str(tmp_path / "db")
    ParquetFrontierStore(spark, path).inject(
        seed_rows(spark, ["http://a.com/1", "http://a.com/2"])
    )
    store, jobs = _jobs(spark, lambda: ParquetFrontierStore(spark, path, resumable=True))
    assert jobs == 0  # the snapshot is read with FRONTIER_SCHEMA, nothing inferred
    # the one count a resumed store pays: no more than a plain count's jobs
    n, jobs = _jobs(spark, store.count)
    _, plain = _jobs(spark, store.load().count)
    assert n == 2 and jobs <= plain
    _assert_counted_without_jobs(spark, store, 2)
    assert store.merge(None, seed_rows(spark, ["http://c.com/9"])) == 1
    _assert_counted_without_jobs(spark, store, 3)


SEED_FORMS = {
    "str": ["http://a.com/1", "http://b.com/2"],
    "key_url": [("k1", "http://a.com/1"), ("k2", "http://a.com/1")],
    "datum": [
        CrawlDatum("http://a.com/x").key("task-1").meta("kind", "list").meta("page", 3),
        CrawlDatum("http://b.com/y"),
    ],
}


@pytest.mark.parametrize("form", sorted(SEED_FORMS))
def test_seed_rows_is_a_local_relation_equal_to_the_list_frame(spark, form, monkeypatch):
    seeds = SEED_FORMS[form]
    df = seed_rows(spark, seeds, depth=2, priority=0.5)
    # Arrow fallback is on: a silent fallback would show as a LogicalRDD
    assert _plan_node(df) == "LocalRelation"
    assert df.schema == FRONTIER_SCHEMA
    monkeypatch.setattr(crawler, "local_frame",
                        lambda s, rows, schema: s.createDataFrame(rows, schema=schema))
    assert df.collect() == seed_rows(spark, seeds, depth=2, priority=0.5).collect()


def test_local_frame_keeps_empty_frames_local_and_rejects_nulls(spark):
    assert _plan_node(local_frame(spark, [], FRONTIER_SCHEMA)) == "LocalRelation"
    with pytest.raises(ValueError):
        local_frame(spark, [(None,) * len(FRONTIER_SCHEMA.fields)], FRONTIER_SCHEMA)


def test_rounds_df_is_a_local_relation(spark):
    store = RamFrontierStore(spark)
    store.log_round(round=0, generated=3, fetched=2, failed=1, new_links=5, wall_ms=7)
    df = store.rounds_df()
    assert _plan_node(df) == "LocalRelation"
    assert [tuple(r) for r in df.collect()] == [(0, -1, 3, 2, 1, 5, 7)]
    assert df.schema == ROUNDS_SCHEMA


def test_get_spark_turns_dataframe_debugging_off(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


@pytest.mark.parametrize("total_mb,want", [
    (512, "1g"),        # below the floor
    (4 * 1024, "1g"),
    (15 * 1024, "3g"),  # a quarter, rounded down to whole GiB
    (16 * 1024, "4g"),
    (32 * 1024, "8g"),
    (256 * 1024, "8g"),  # capped
])
def test_driver_memory_is_a_quarter_of_the_machine_within_1_to_8g(total_mb, want):
    assert driver_memory(total_mb) == want
