"""Smaller contracts: robots.txt parsing + TTL cache, priority-ordered
generation, rounds lineage DataFrame."""

from __future__ import annotations

from pyspark.sql import functions as F

from webcollector_spark.crawler import seed_rows
from webcollector_spark.operators.generate import generate_per_host
from webcollector_spark.sources.requester import Requester, RobotsCache
from webcollector_spark.store import RamFrontierStore


class _RobotsOnly(Requester):
    def __init__(self, bodies):
        self.bodies = bodies
        self.calls = 0

    def robots_txt(self, host):
        self.calls += 1
        return self.bodies.get(host)


class TestRobots:
    BODY = """
# comment
User-agent: other
Disallow: /everything
User-agent: *
Disallow: /private
Disallow: /tmp/   # trailing comment
User-agent: another
Disallow: /
"""

    def test_parse_disallows_star_section_only(self):
        assert RobotsCache.parse_disallows(self.BODY) == ["/private", "/tmp/"]

    def test_allowed_paths(self):
        req = _RobotsOnly({"h.test": self.BODY})
        rc = RobotsCache(req, ttl_s=3600)
        assert rc.allowed("h.test", "http://h.test/public/x")
        assert not rc.allowed("h.test", "http://h.test/private/doc")
        assert not rc.allowed("h.test", "http://h.test/tmp/f")
        assert rc.allowed("other.test", "http://other.test/private")  # no robots

    def test_ttl_expiry_refetches(self):
        req = _RobotsOnly({"h.test": self.BODY})
        rc = RobotsCache(req, ttl_s=100)
        rc.allowed("h.test", "http://h.test/a", now=0.0)
        rc.allowed("h.test", "http://h.test/b", now=50.0)
        assert req.calls == 1  # cached
        rc.allowed("h.test", "http://h.test/c", now=200.0)
        assert req.calls == 2  # expired -> refetched


def test_priority_orders_generation(spark):
    """Lower priority value generates first within a host — the
    partitioned-priority-queue semantics of the graft scheduler."""
    urls = [f"http://h.test/p/{i}" for i in range(6)]
    rows = seed_rows(spark, urls).withColumn(
        "priority", (5 - F.col("url").substr(-1, 1).cast("int")).cast("double")
    )
    # priorities: url 5 -> 0.0 (soonest) ... url 0 -> 5.0
    store = RamFrontierStore(spark)
    store.inject(rows)
    gen = generate_per_host(store.load(), k_per_host=2)
    got = sorted(r.url for r in gen.collect())
    assert got == [urls[4], urls[5]]  # the two lowest priority values


def test_politeness_rate_bounds_fetch(spark, small_web):
    """Engine-side politeness: with per_host_rate enforced, fetching n
    URLs of ONE host cannot finish faster than (n-1)/rate seconds
    (host co-location makes the partition-local bucket a true cap)."""
    import time

    from webcollector_spark import fixtures
    from webcollector_spark.config import CrawlerConfig
    from webcollector_spark.operators.fetch import fetch as fetch_op
    from webcollector_spark.sources.requester import SyntheticRequester

    graph, corpus = small_web
    req = SyntheticRequester(graph.to_dict("records"), corpus.to_dict("records"))
    one_host = [u for u in graph["url"] if u.startswith("http://h000")][:8]
    assert len(one_host) >= 5
    cfg = CrawlerConfig(per_host_rate=20.0, threads=8)
    gen = seed_rows(spark, one_host)
    t0 = time.monotonic()
    n = fetch_op(gen, req, cfg).count()
    wall = time.monotonic() - t0
    assert n == len(one_host)
    assert wall >= (n - 1) / 20.0


def test_typed_datum_seeding(spark, small_web):
    """Seed with CrawlDatum objects: custom key (key != url), type tag,
    and meta must land in the frontier and survive the fetch round
    (DemoBingCrawler pattern: CrawlDatum.java:54-59, meta plumbing)."""
    from webcollector_spark import CrawlDatum, CrawlDatums, fixtures
    from webcollector_spark.config import CrawlerConfig
    from webcollector_spark.crawler import RamCrawler
    from webcollector_spark.sources.requester import SyntheticRequester

    graph, corpus = small_web
    req = SyntheticRequester(graph.to_dict("records"), corpus.to_dict("records"))
    url = fixtures.seeds_for(graph, 1)[0]
    seeds = CrawlDatums()
    seeds.add_and_return(CrawlDatum(url).key("task:page1")).type("list").meta(
        "rank", 7
    )
    c = RamCrawler(spark, req, config=CrawlerConfig())
    c.add_seed(list(seeds))
    c.start(1)
    row = c.frontier().filter("key = 'task:page1'").collect()[0]
    assert row.url == url
    assert row.status == 5  # fetched via its custom key
    assert row.meta["s_t"] == "list" and row.meta["rank"] == "7"


def test_host_stats(spark, small_web):
    from webcollector_spark import fixtures
    from webcollector_spark.config import CrawlerConfig
    from webcollector_spark.crawler import RamCrawler
    from webcollector_spark.sources.requester import SyntheticRequester

    graph, corpus = small_web
    req = SyntheticRequester(graph.to_dict("records"), corpus.to_dict("records"))
    c = RamCrawler(spark, req, config=CrawlerConfig())
    c.add_seed(fixtures.seeds_for(graph, 3))
    c.start(3)
    stats = {r["host"]: r for r in c.host_stats().collect()}
    assert stats
    front_total = c.frontier().count()
    assert sum(r["n_rows"] for r in stats.values()) == front_total
    for r in stats.values():
        assert r["n_rows"] == r["pending"] + r["succeeded"] + r["failed"]


def test_rounds_df_lineage(spark):
    store = RamFrontierStore(spark)
    store.log_round(round=0, generated=5, fetched=4, failed=1, new_links=7, wall_ms=100)
    store.log_round(round=1, generated=7, fetched=7, failed=0, new_links=2, wall_ms=90)
    df = store.rounds_df()
    assert df.count() == 2
    row = df.filter("round = 1").collect()[0]
    assert row.generated == 7 and row.new_links == 2
    assert "snapshot_id" in df.columns


class TestProxies:
    def test_seeded_selection_and_empty(self):
        from webcollector_spark.sources.requester import Proxies

        assert Proxies().next_random() is None
        p = Proxies(["http://p1:80", "http://p2:80", None], seed=7)
        picks = [p.next_random() for _ in range(20)]
        # deterministic under the injected seed
        q = Proxies(["http://p1:80", "http://p2:80", None], seed=7)
        assert picks == [q.next_random() for _ in range(20)]
        # uniform-ish: every slot (incl. the direct None slot) appears
        assert set(picks) == {"http://p1:80", "http://p2:80", None}

    def test_pickle_roundtrip(self):
        import pickle

        from webcollector_spark.sources.requester import Proxies

        p = Proxies(["http://p1:80"], seed=1)
        p2 = pickle.loads(pickle.dumps(p))
        assert list(p2) == ["http://p1:80"]
        assert p2.next_random() == "http://p1:80"

    def test_http_requester_opener_gets_proxy(self):
        import urllib.request

        from webcollector_spark.sources.requester import HttpRequester

        r = HttpRequester(proxies=["http://proxy.example:3128"])
        opener = r._build_opener()
        assert any(
            isinstance(h, urllib.request.ProxyHandler)
            and h.proxies.get("http") == "http://proxy.example:3128"
            for h in opener.handlers
        )
        # no proxies -> no ProxyHandler in the chain
        direct = HttpRequester()._build_opener()
        assert not any(
            isinstance(h, urllib.request.ProxyHandler) for h in direct.handlers
        )


class TestWriteJdbc:
    def test_passthrough_args(self):
        from webcollector_spark.sinks import write_jdbc

        calls = {}

        class _W:
            def jdbc(self, url, table, mode, properties):
                calls.update(url=url, table=table, mode=mode, properties=properties)

        class _DF:
            write = _W()

        write_jdbc(
            _DF(), "jdbc:mysql://db/crawl", "fetched",
            properties={"user": "u"}, batch_size=500,
        )
        assert calls["url"] == "jdbc:mysql://db/crawl"
        assert calls["table"] == "fetched"
        assert calls["mode"] == "append"
        assert calls["properties"] == {"batchsize": "500", "user": "u"}


def test_python_generator_filter(spark, small_web):
    """Arbitrary-Python GeneratorFilter (crawldb/GeneratorFilter.java:6-14):
    a crc32-parity predicate no SQL expression can state; applied inside
    the generate scan before topN (filter-then-count order)."""
    import zlib

    from webcollector_spark import fixtures
    from webcollector_spark.config import CrawlerConfig
    from webcollector_spark.crawler import RamCrawler
    from webcollector_spark.schema import STATUS_DB_UNEXECUTED
    from webcollector_spark.sources.requester import SyntheticRequester

    graph, corpus = small_web

    def keep(row):
        return zlib.crc32(row["url"].encode()) % 2 == 0

    cfg = CrawlerConfig(bloom_capacity=10_000, generator_filter=keep)
    crawler = RamCrawler(
        spark,
        SyntheticRequester(graph.to_dict("records"), corpus.to_dict("records")),
        config=cfg,
    )
    crawler.add_seed(fixtures.seeds_for(graph, 4))
    crawler.start(4)
    rows = crawler.frontier().collect()
    executed = [r for r in rows if r.status != STATUS_DB_UNEXECUTED]
    skipped = [r for r in rows if r.status == STATUS_DB_UNEXECUTED]
    assert executed and all(keep({"url": r.url}) for r in executed)
    # odd-parity discoveries were left unexecuted in the frontier
    assert any(not keep({"url": r.url}) for r in skipped)


class TestCrawlDelay:
    BODY = """
User-agent: other
Crawl-delay: 99
User-agent: *
Disallow: /private
Crawl-delay: 0.05
"""

    def test_parse_rules(self):
        rules, delay = RobotsCache.parse_rules(self.BODY)
        assert rules == [("/private", False)]
        assert delay == 0.05  # star section only, not 'other'

    def test_cached_per_host(self):
        req = _RobotsOnly({"slow.test": self.BODY})
        rc = RobotsCache(req, ttl_s=3600)
        assert rc.crawl_delay("slow.test") == 0.05
        assert rc.crawl_delay("fast.test") is None
        rc.crawl_delay("slow.test")
        assert req.calls == 2  # one fetch per host, then cached

    def test_bucket_enforces_robots_delay(self):
        import time as _t

        from webcollector_spark.operators.fetch import _HostBucket

        b = _HostBucket(rate_per_s=0.0, fixed_interval_ms=0)  # no budget
        t0 = _t.monotonic()
        for _ in range(3):
            b.wait("slow.test", extra_gap=0.05)
        assert _t.monotonic() - t0 >= 0.1  # 2 gaps at 50ms
        t0 = _t.monotonic()
        for _ in range(3):
            b.wait("free.test", extra_gap=None)
        assert _t.monotonic() - t0 < 0.05  # no delay -> no wait

    def test_delay_in_fetch_pass(self, spark, small_web):
        """End-to-end: a host with Crawl-delay is throttled inside the
        fetch UDF (wall time reflects the per-host gap)."""
        from webcollector_spark import fixtures
        from webcollector_spark.config import CrawlerConfig
        from webcollector_spark.crawler import seed_rows
        from webcollector_spark.operators.fetch import fetch as fetch_op
        from webcollector_spark.sources.requester import SyntheticRequester

        graph, corpus = small_web
        host = graph["url"].iloc[0].split("://")[1].split("/")[0]
        urls = [u for u in graph["url"] if host in u][:5]
        robots = {host: "User-agent: *\nCrawl-delay: 0.2"}
        req = SyntheticRequester(
            graph.to_dict("records"), corpus.to_dict("records"), robots=robots
        )
        # strict mode forces host co-location so the robots delay is a
        # true per-host cap (no separate rate budget needed)
        cfg = CrawlerConfig(threads=4, strict_robots_delay=True)
        gen = seed_rows(spark, urls)
        import time as _t

        t0 = _t.monotonic()
        rows = fetch_op(gen, req, cfg, n_rows=len(urls)).collect()
        wall = _t.monotonic() - t0
        assert len(rows) == len(urls)
        assert all(r.status == 5 for r in rows)
        assert wall >= 0.2 * (len(urls) - 1)  # 4 gaps at 200ms


class TestRobotsAllow:
    """RFC 9309 Allow with longest-match precedence."""

    BODY = """User-agent: *
Disallow: /private
Allow: /private/pub
Disallow: /private/pub/secret
Allow: /
"""

    def test_longest_match_wins(self):
        from webcollector_spark.sources.requester import RobotsCache

        class _R:
            def robots_txt(self, host):
                return TestRobotsAllow.BODY

        rc = RobotsCache(_R(), ttl_s=3600)
        assert not rc.allowed("h", "http://h/private/doc")       # /private
        assert rc.allowed("h", "http://h/private/pub/x")         # longer Allow
        assert not rc.allowed("h", "http://h/private/pub/secret/y")  # longer Disallow
        assert rc.allowed("h", "http://h/open")                  # Allow: /

    def test_consecutive_user_agents_share_group(self):
        from webcollector_spark.sources.requester import RobotsCache

        body = "User-agent: foo\nUser-agent: *\nDisallow: /x\n"
        rules, _ = RobotsCache.parse_rules(body)
        assert rules == [("/x", False)]
        # a NEW group for another agent does not leak into *
        body2 = "User-agent: *\nDisallow: /a\nUser-agent: foo\nDisallow: /b\n"
        rules2, _ = RobotsCache.parse_rules(body2)
        assert rules2 == [("/a", False)]


def test_host_metrics_history(spark, small_web, tmp_path):
    """host_metrics_path writes one row per (round, host) with fetch /
    fail / robots / link aggregates, idempotent per round partition."""
    from webcollector_spark import fixtures
    from webcollector_spark.config import CrawlerConfig
    from webcollector_spark.crawler import RamCrawler
    from webcollector_spark.sources.requester import SyntheticRequester

    graph, corpus = small_web
    req = SyntheticRequester(graph.to_dict("records"), corpus.to_dict("records"))
    path = str(tmp_path / "host_metrics")
    c = RamCrawler(
        spark, req, config=CrawlerConfig(host_metrics_path=path)
    )
    c.add_seed(fixtures.seeds_for(graph, 3))
    metrics = c.start(2)
    hm = spark.read.parquet(path)
    assert {"host", "fetched", "failed", "robots_denied",
            "avg_execute_count", "links_emitted", "round"} <= set(hm.columns)
    assert hm.select("round").distinct().count() == len(metrics)
    # per-round fetched totals reconcile with the round metrics
    per_round = {
        r["round"]: r["s"]
        for r in hm.groupBy("round").agg(F.sum("fetched").alias("s")).collect()
    }
    for m in metrics:
        assert per_round[m.round] == m.generated
    # one row per (round, host)
    assert (
        hm.groupBy("round", "host").count().filter("count > 1").count() == 0
    )


def test_round_partition_rewrite_replaces_only_that_round(spark, tmp_path):
    """A crash-resume re-run of round 1 replaces round 1's history
    partition, leaves round 0's alone, and does not change the session's
    partitionOverwriteMode."""
    from webcollector_spark.crawler import _write_round_partition

    key = "spark.sql.sources.partitionOverwriteMode"
    mode = spark.conf.get(key)
    path = str(tmp_path / "hist")
    _write_round_partition(spark.range(3), path, 0)
    _write_round_partition(spark.range(5), path, 1)
    _write_round_partition(spark.range(2), path, 1)
    counts = {
        r["round"]: r["count"]
        for r in spark.read.parquet(path).groupBy("round").count().collect()
    }
    assert counts == {0: 3, 1: 2}
    assert spark.conf.get(key) == mode


class TestRobotsWildcards:
    """RFC 9309 2.2.3 metacharacters: '*' any-sequence, trailing '$'."""

    BODY = """User-agent: *
Disallow: /*.pdf
Disallow: /private*/data
Allow: /page$
Disallow: /page
"""

    def _rc(self):
        from webcollector_spark.sources.requester import RobotsCache

        class _R:
            def robots_txt(self, host):
                return TestRobotsWildcards.BODY

        return RobotsCache(_R(), ttl_s=3600)

    def test_star_matches_any_sequence(self):
        rc = self._rc()
        assert not rc.allowed("h", "http://h/docs/report.pdf")
        assert not rc.allowed("h", "http://h/a.pdf")
        assert rc.allowed("h", "http://h/docs/report.txt")
        assert not rc.allowed("h", "http://h/private2024/data")
        assert rc.allowed("h", "http://h/private2024/other")

    def test_dollar_anchors_end(self):
        rc = self._rc()
        assert rc.allowed("h", "http://h/page")       # Allow: /page$ exact
        assert not rc.allowed("h", "http://h/page2")  # prefix Disallow wins


class TestHostBudgetLiveClamp:
    """config.host_budget_target_ms: round N's observed robots
    Crawl-delays clamp round N+1's per-host generate budget so no
    host's serial politeness drain overshoots the wall-time target."""

    def test_learn_folds_max_and_skips_zero(self, spark, small_web):
        from webcollector_spark.config import CrawlerConfig
        from webcollector_spark.crawler import BreadthCrawler, host_round_stats
        from webcollector_spark.sources.requester import SyntheticRequester

        graph, corpus = small_web
        req = SyntheticRequester(
            graph.to_dict("records"), corpus.to_dict("records")
        )
        cfg = CrawlerConfig(host_budget_target_ms=1000)
        c = BreadthCrawler(spark, req, config=cfg)

        def learn(rows):
            # one fetched row per (host, robots_delay_ms): a success
            # with one link, so every fetch is a trial and a yield
            c._fold_host_state(host_round_stats(spark.createDataFrame(
                [(h, d, 5, 200, 1, ["http://x/"], None) for h, d in rows],
                "host string, robots_delay_ms long, status int, code int,"
                " execute_count int, links array<string>,"
                " next_datums array<string>",
            )))
            state = {r.host: r for r in c._host_state.collect()}
            return state, {
                h: r.delay_ms for h, r in state.items() if r.delay_ms is not None
            }

        state, got = learn([("a.test", 500), ("a.test", 200), ("z.test", 0),
                            ("n.test", None)])
        # per-round max; 0/null rows never learn a delay (DIV-by-zero
        # guard) — they keep a null one, which means the full k
        assert got == {"a.test": 500}
        assert state["z.test"].delay_ms is None
        assert state["n.test"].delay_ms is None
        # later rounds fold MAX, never last-wins (conservative politeness)
        state, got = learn([("a.test", 100), ("b.test", 300)])
        assert got == {"a.test": 500, "b.test": 300}
        # trials and yields are summed across the two rounds
        assert (state["a.test"].n_trials, state["a.test"].n_yield) == (3, 3)
        assert (state["b.test"].n_trials, state["b.test"].n_yield) == (1, 1)

    def test_configured_gap_is_max_of_rate_and_interval(self):
        from webcollector_spark.operators.fetch import _HostBucket, min_gap_ms

        def gap(rate=0.0, interval=0):
            ms = min_gap_ms(rate, interval)
            # the fetch bucket enforces the same gap the clamp prices
            assert _HostBucket(rate, interval).min_gap == ms / 1000.0
            return ms

        assert gap() == 0                              # unlimited
        assert gap(rate=4.0) == 250                    # 1000/rate
        assert gap(interval=400) == 400
        assert gap(rate=4.0, interval=400) == 400

    def test_learned_delay_clamps_next_round(self, spark):
        """End-to-end: round 1 fetches a Crawl-delay-0.4s host unclamped,
        round 2's generate hands it only target DIV delay = 2 picks."""
        from webcollector_spark import fixtures
        from webcollector_spark.config import CrawlerConfig
        from webcollector_spark.crawler import RamCrawler
        from webcollector_spark.sources.requester import SyntheticRequester

        # hand-built single-host chain (make_site_graph is multi-host
        # even at n_hosts=1): page i links to i+1..i+3
        host = "slow.test"
        urls = [f"http://{host}/p/{i:02d}" for i in range(12)]
        corpus = fixtures.make_corpus(12)
        graph = [
            {
                "url": urls[i],
                "host": host,
                "image_id": f"img{i:08d}",
                "out_links": urls[i + 1 : i + 4],
                "http_code": 200,
                "location": None,
            }
            for i in range(12)
        ]
        robots = {host: "User-agent: *\nCrawl-delay: 0.4"}
        req = SyntheticRequester(
            graph, corpus.to_dict("records"), robots=robots
        )
        cfg = CrawlerConfig(
            per_host_top_k=10,
            host_budget_target_ms=1000,
            threads=2,
        )
        c = RamCrawler(spark, req, config=cfg)
        c.add_seed(urls[:4])
        c.start(2)
        # round 1 ran unclamped (no learned delays yet) and learned 400ms
        assert c.metrics[0].generated == 4
        got = {r.host: r.delay_ms for r in c._host_state.collect()}
        assert got == {host: 400}
        # round 2: fit_k = 1000 DIV 400 = 2, despite k_per_host=10 and
        # >2 pending links (pages 04..06 discovered by round 1)
        assert len(c.metrics) >= 2 and c.metrics[1].generated == 2

    @staticmethod
    def _hub_crawler(spark, tmp_path, hosts, robots, **kw):
        """A hub seed linking to 12 pages on each of `hosts`; pages of a
        host named rich*/slow* link back to their host's first page (a
        yield), the others link nowhere. Returns the crawler and a
        function giving {host: rows fetched} for one round."""
        from webcollector_spark.config import CrawlerConfig
        from webcollector_spark.crawler import RamCrawler
        from webcollector_spark.sources.requester import SyntheticRequester

        def page(url, links):
            return {"url": url, "http_code": 200, "location": None,
                    "image_id": None, "out_links": links}

        seed = "http://hub.test/seed"
        pages = {h: [f"http://{h}/p{i:02d}" for i in range(12)] for h in hosts}
        graph = [page(seed, [u for us in pages.values() for u in us])]
        for h, us in pages.items():
            back = [us[0]] if h.startswith(("rich", "slow")) else []
            graph += [page(u, back) for u in us]
        hist = str(tmp_path / "hist")
        cfg = CrawlerConfig(fetched_history_path=hist, **kw)
        c = RamCrawler(spark, SyntheticRequester(graph, [], robots=robots),
                       config=cfg)
        c.add_seed([seed])

        def fetched_in(r):
            rows = spark.read.parquet(hist).filter(F.col("round") == r)
            return {x["host"]: x["count"]
                    for x in rows.groupBy("host").count().collect()}

        return c, fetched_in

    def test_host_without_delay_keeps_full_k(self, spark, tmp_path):
        """Only slow.test declares a Crawl-delay; fast.test has no
        learned delay and must keep the full k in round 2 — a null fit,
        never the floor of 1 (greatest() skips nulls)."""
        c, fetched_in = self._hub_crawler(
            spark, tmp_path, ["slow.test", "fast.test"],
            {"slow.test": "User-agent: *\nCrawl-delay: 0.4"},
            per_host_top_k=3, host_budget_target_ms=1000,
        )
        c.start(3)
        # round 1: nothing learned yet about either host -> full k
        assert fetched_in(1) == {"slow.test": 3, "fast.test": 3}
        # round 2: slow.test clamped to 1000 DIV 400 = 2, fast.test not
        assert fetched_in(2) == {"slow.test": 2, "fast.test": 3}

    def test_delay_and_ucb_budgets_take_the_per_host_minimum(
        self, spark, tmp_path
    ):
        """host_budget_target_ms with ucb_host_budget: each host's round-2
        budget is the least of its Crawl-delay fit and its UCB budget.
        dead.test (delayed, unproductive) is bound by UCB, slow.test
        (heavily delayed, productive) by its delay, rich.test (no delay)
        by UCB alone."""
        from webcollector_spark.operators.rank import ucb_budget_k

        k = 6
        c, fetched_in = self._hub_crawler(
            spark, tmp_path, ["dead.test", "slow.test", "rich.test"],
            {"dead.test": "User-agent: *\nCrawl-delay: 0.2",
             "slow.test": "User-agent: *\nCrawl-delay: 0.5"},
            per_host_top_k=k, host_budget_target_ms=1000,
            ucb_host_budget=True,
        )
        c.start(2)  # round 0: the hub; round 1: k pages of every host
        assert fetched_in(1) == {"dead.test": k, "slow.test": k,
                                 "rich.test": k}
        state = c._host_state
        ucb = {r["host"]: r["__fit_k"]
               for r in ucb_budget_k(state, k).collect()}
        delay = {r["host"]: 1000 // r["delay_ms"]
                 for r in state.collect() if r["delay_ms"] is not None}
        assert delay == {"dead.test": 5, "slow.test": 2}
        # the two budgets disagree in both directions, so neither one
        # alone (nor their max) reproduces the schedule
        assert ucb["dead.test"] < delay["dead.test"]
        assert delay["slow.test"] < ucb["slow.test"]
        assert ucb["rich.test"] < k

        c.start(3)
        assert fetched_in(2) == {
            "dead.test": min(ucb["dead.test"], delay["dead.test"]),
            "slow.test": min(ucb["slow.test"], delay["slow.test"]),
            "rich.test": ucb["rich.test"],
        }
