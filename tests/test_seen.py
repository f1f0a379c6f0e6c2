"""URL-seen filter tests: the distributed bloom build + bloom-assisted
anti-join must return EXACTLY the same rows as the plain left-anti join
(the bloom only pre-prunes; false positives fall through to the exact
join), and the crawl loop with the bloom path forced on must match the
replay oracle."""

from __future__ import annotations

import pandas as pd

from webcollector_spark import fixtures
from webcollector_spark.config import CrawlerConfig
from webcollector_spark.crawler import RamCrawler
from webcollector_spark.operators.seen import Bloom, build_bloom, seen_filter
from webcollector_spark.oracle import OracleCrawler
from webcollector_spark.sources.requester import SyntheticRequester


def test_bloom_filter_matches_exact_antijoin(spark):
    seen = spark.createDataFrame(
        [(f"http://h.test/{i}",) for i in range(0, 1000, 2)], "key string"
    )
    cand = spark.createDataFrame(
        [(f"http://h.test/{i}",) for i in range(500, 1500)], "key string"
    )
    bloom = build_bloom(seen, "key", capacity=2000, fpp=0.01)
    with_bloom = {r.key for r in seen_filter(cand, seen, "key", bloom).collect()}
    exact = {r.key for r in seen_filter(cand, seen, "key", None).collect()}
    assert with_bloom == exact
    # sanity: evens < 1000 seen, so candidates 500-999 keep only odds
    assert f"http://h.test/501" in exact and f"http://h.test/502" not in exact


def test_distributed_bloom_build_deterministic(spark):
    """Partition-built + OR-merged bloom answers like a single-process
    build (hashing must be identical across processes)."""
    keys = [f"k{i}" for i in range(5000)]
    df = spark.createDataFrame([(k,) for k in keys], "key string").repartition(8)
    dist = build_bloom(df, "key", capacity=10_000, fpp=0.01)
    local = Bloom(capacity=10_000, fpp=0.01)
    local.add_series(pd.Series(keys))
    assert (dist.bits == local.bits).all()
    assert dist.maybe_contains(pd.Series(keys)).all()
    fpp = dist.maybe_contains(pd.Series([f"absent{i}" for i in range(20000)])).mean()
    assert fpp < 0.03


def test_crawl_with_bloom_path_matches_oracle(spark, small_web):
    """Force the bloom pre-prune on (bloom_min_frontier=0): final state
    must equal the oracle — the bloom is invisible to semantics."""
    graph, corpus = small_web
    seeds = fixtures.seeds_for(graph, 3)
    req = SyntheticRequester(graph.to_dict("records"), corpus.to_dict("records"))

    oracle = OracleCrawler(
        SyntheticRequester(graph.to_dict("records"), corpus.to_dict("records"))
    )
    oracle.inject(seeds)
    oracle.start(4)

    cfg = CrawlerConfig(bloom_capacity=10_000, bloom_min_frontier=0)
    crawler = RamCrawler(spark, req, config=cfg)
    crawler.add_seed(list(seeds))
    crawler.start(4)
    got = {
        r.key: (r.status, r.execute_count, r.code)
        for r in crawler.frontier().collect()
    }
    assert got == oracle.state()


class TestShardedBloom:
    """Bloom(shards=S) (the 10^10-key layout): must return exactly the
    exact-anti-join rows, agree between distributed and local builds,
    and actually spread keys across shards."""

    def test_sharded_filter_matches_exact(self, spark):
        seen = spark.createDataFrame(
            [(f"http://h.test/{i}",) for i in range(0, 1000, 2)], "key string"
        )
        cand = spark.createDataFrame(
            [(f"http://h.test/{i}",) for i in range(500, 1500)], "key string"
        )
        sb = build_bloom(seen, "key", capacity=2000, fpp=0.01, shards=8)
        got = {r.key for r in seen_filter(cand, seen, "key", sb).collect()}
        exact = {r.key for r in seen_filter(cand, seen, "key", None).collect()}
        assert got == exact

    def test_distributed_build_equals_local(self, spark):
        keys = [f"http://h{i % 7}.test/p{i}" for i in range(2000)]
        df = spark.createDataFrame([(k,) for k in keys], "key string").repartition(6)
        dist = build_bloom(df, "key", capacity=4000, shards=8)
        local = Bloom(4000, 0.01, 8)
        local.add_series(pd.Series(keys))
        for s in range(8):
            assert dist.shard(s).tobytes() == local.shard(s).tobytes()
        # no false negatives; shards genuinely used
        assert local.maybe_contains(pd.Series(keys)).all()
        occupied = sum(1 for s in range(8) if dist.shard(s).any())
        assert occupied >= 6

    def test_crawl_with_sharded_bloom_matches_oracle(self, spark, small_web, monkeypatch):
        """Sharded-bloom path forced on (a per-shard cap that splits the
        10k-key filter four ways): final crawl state must equal the
        replay oracle — sharding is invisible to semantics."""
        monkeypatch.setattr(
            "webcollector_spark.operators.seen._MAX_SHARD_BYTES", 3_000
        )
        assert Bloom(10_000).shards == 4
        graph, corpus = small_web
        seeds = fixtures.seeds_for(graph, 3)
        req = SyntheticRequester(graph.to_dict("records"), corpus.to_dict("records"))

        oracle = OracleCrawler(
            SyntheticRequester(graph.to_dict("records"), corpus.to_dict("records"))
        )
        oracle.inject(seeds)
        oracle.start(4)

        cfg = CrawlerConfig(bloom_capacity=10_000, bloom_min_frontier=0)
        crawler = RamCrawler(spark, req, config=cfg)
        crawler.add_seed(list(seeds))
        crawler.start(4)
        got = {
            r.key: (r.status, r.execute_count, r.code)
            for r in crawler.frontier().collect()
        }
        assert got == oracle.state()


def test_false_positive_rate_near_configured():
    """The measured fpp must track the configured 1% for BOTH layouts.
    Regression: two SipHash keys that truncated to the same 16 bytes
    once degenerated double hashing (2.6% mono) and a shard id derived
    from the probe hash correlated shard and bit positions (47%
    sharded). Pure numpy — no Spark session needed."""
    keys = pd.Series([f"http://h{i % 11}.t/p{i}" for i in range(100_000)])
    new = pd.Series([f"http://x{i % 11}.t/q{i}" for i in range(50_000)])

    b = Bloom(100_000, fpp=0.01)
    b.add_series(keys)
    assert b.maybe_contains(keys).all()  # no false negatives
    assert b.maybe_contains(new).mean() < 0.02

    sb = Bloom(100_000, fpp=0.01, shards=16)
    sb.add_series(keys)
    assert sb.maybe_contains(keys).all()
    assert sb.maybe_contains(new).mean() < 0.02


def test_single_shard_bits_pinned():
    """Pin the shards=1 layout — m, k and the bits for fixed keys — so a
    change to the hashing or the bit layout cannot pass unnoticed."""
    import hashlib

    b = Bloom(1000, fpp=0.01)
    b.add_series(pd.Series([f"k{i}" for i in range(500)]))
    assert (b.m, b.k) == (9600, 7)
    assert hashlib.sha256(b.bits.tobytes()).hexdigest() == (
        "bd50787f46cc6a477f9b8673a95ceab3f7530dfb9f0f9d9c13c5c281b7e26ca8"
    )
