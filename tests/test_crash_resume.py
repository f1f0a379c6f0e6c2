"""Crash-point matrix for resumable crawls.

A round commits once: its frontier snapshot and its round record share
one marker (store.py). A crawl killed anywhere in a round and restarted
with the same seeds and `resumable=True` must end where the
uninterrupted crawl ends: the same frontier (every column), the same
round records and the same fetched-history and host-metrics tables.

`execute_time` is the wall clock of the fetch, so it is compared as
set or unset; round records are compared without their timing fields
and snapshot ids, which count the resumed run's extra seed inject.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import SparkSession

from webcollector_spark import crawler as crawler_mod
from webcollector_spark import fixtures
from webcollector_spark import store as store_mod
from webcollector_spark.config import CrawlerConfig
from webcollector_spark.crawler import BreadthCrawler
from webcollector_spark.sources.requester import SyntheticRequester

# name -> (config overrides, rounds)
CONFIGS = {
    "bfs": (dict(top_n=7), 4),
    "ranked": (dict(top_n=7, per_host_top_k=2, rank_priorities_every=2), 5),
}


class Crash(Exception):
    pass


def _on_call(n, fn):
    """`fn` that raises Crash instead of running on its n-th call."""
    calls = [0]

    def wrapped(*a, **kw):
        calls[0] += 1
        if calls[0] == n:
            raise Crash
        return fn(*a, **kw)

    return wrapped


# Each patcher makes round `r` of a crawl with config `cfg` crash at one
# point; every hooked call below runs once per round.


def _crash_after_generate(mp, cfg, r):
    mp.setattr(crawler_mod, "fetch_op", _on_call(r + 1, crawler_mod.fetch_op))


def _crash_after_fetch(mp, cfg, r):
    mp.setattr(crawler_mod, "discovered_links",
               _on_call(r + 1, crawler_mod.discovered_links))


def _crash_in_history_write(mp, cfg, r):
    write = crawler_mod._write_round_partition

    def partial(df, path, round_):
        if path == cfg.fetched_history_path and round_ == r:
            write(df.limit(2), path, round_)  # a torn partition
            raise Crash
        write(df, path, round_)

    mp.setattr(crawler_mod, "_write_round_partition", partial)


def _crash_before_marker(mp, cfg, r):
    commit = store_mod.ParquetFrontierStore._commit

    def crashing(self, rounds):
        if rounds and rounds[-1]["round"] == r:
            raise Crash
        commit(self, rounds)

    mp.setattr(store_mod.ParquetFrontierStore, "_commit", crashing)


def _crash_inside_marker(mp, cfg, r):
    class _Json:  # the store's json, failing on round r's marker
        load = staticmethod(json.load)

        @staticmethod
        def dumps(rounds):
            if rounds and rounds[-1]["round"] == r:
                raise Crash
            return json.dumps(rounds)

    mp.setattr(store_mod, "json", _Json)


def _crash_after_commit(mp, cfg, r):
    merge = store_mod.ParquetFrontierStore.merge

    def crashing(self, fetched, links, record=None):
        n = merge(self, fetched, links, record)
        if record is not None and record["round"] == r:
            raise Crash
        return n

    mp.setattr(store_mod.ParquetFrontierStore, "merge", crashing)


def _crash_before_reprioritize(mp, cfg, r):
    rerank = BreadthCrawler._reprioritize_from_ranks

    def crashing(self, done):
        if done == r:
            raise Crash
        rerank(self, done)

    mp.setattr(BreadthCrawler, "_reprioritize_from_ranks", crashing)


# name -> (CONFIGS name, crash round, patcher)
CRASHES = {
    "after_generate": ("bfs", 1, _crash_after_generate),
    "after_fetch": ("bfs", 1, _crash_after_fetch),
    "inside_history_write": ("bfs", 1, _crash_in_history_write),
    "before_marker": ("bfs", 1, _crash_before_marker),
    "inside_marker": ("bfs", 1, _crash_inside_marker),
    "after_commit": ("bfs", 1, _crash_after_commit),
    # rank_priorities_every=2: round 1's commit is followed by the first
    # re-prioritization, which the resumed crawl redoes
    "before_reprioritize": ("ranked", 1, _crash_before_reprioritize),
    # round 2's torn history partition is on disk when the resumed crawl
    # redoes round 1's re-prioritization: it must not be ranked
    "ranked_inside_history_write": ("ranked", 2, _crash_in_history_write),
}


def _config(base: str, overrides: dict, resumable: bool) -> CrawlerConfig:
    return CrawlerConfig(
        **overrides,
        resumable=resumable,
        bloom_capacity=10_000,
        fetched_history_path=os.path.join(base, "fetched"),
        host_metrics_path=os.path.join(base, "hosts"),
    )


def _crawler(spark, small_web, base, overrides, resumable):
    graph, corpus = small_web
    req = SyntheticRequester(graph.to_dict("records"), corpus.to_dict("records"))
    c = BreadthCrawler(spark, req, crawl_path=os.path.join(base, "db"),
                       config=_config(base, overrides, resumable))
    return c.add_seed(fixtures.seeds_for(graph, 3))


def _rows(df) -> list[str]:
    out = []
    for r in df.collect():
        d = r.asDict(recursive=True)
        if "execute_time" in d:
            d["execute_time"] = d["execute_time"] is not None
        out.append(json.dumps(d, sort_keys=True, default=repr))
    return sorted(out)


def _state(spark: SparkSession, c: BreadthCrawler) -> dict:
    cfg = c.config
    return {
        "frontier": _rows(c.frontier()),
        "rounds": [
            {k: v for k, v in r.items()
             if k not in ("wall_ms", "wall_ts", "snapshot_id")}
            for r in c.store.rounds
        ],
        "fetched": _rows(spark.read.parquet(cfg.fetched_history_path)),
        "hosts": _rows(spark.read.parquet(cfg.host_metrics_path)),
    }


@pytest.fixture(scope="module")
def uninterrupted(spark, small_web, tmp_path_factory):
    done = {}

    def get(name):
        if name not in done:
            overrides, rounds = CONFIGS[name]
            base = str(tmp_path_factory.mktemp("uninterrupted"))
            c = _crawler(spark, small_web, base, overrides, resumable=False)
            c.start(rounds)
            done[name] = _state(spark, c)
        return done[name]

    return get


@pytest.mark.parametrize("crash", list(CRASHES))
def test_resume_after_crash_reaches_the_uninterrupted_state(
    spark, small_web, tmp_path, monkeypatch, uninterrupted, crash
):
    name, r, patch = CRASHES[crash]
    overrides, rounds = CONFIGS[name]
    base = str(tmp_path)
    with monkeypatch.context() as mp:
        c = _crawler(spark, small_web, base, overrides, resumable=False)
        patch(mp, c.config, r)
        with pytest.raises(Crash):
            c.start(rounds)
    resumed = _crawler(spark, small_web, base, overrides, resumable=True)
    resumed.start(rounds)
    want = uninterrupted(name)
    assert len(want["rounds"]) > r + 1
    got = _state(spark, resumed)
    for part in want:
        assert got[part] == want[part], part
