"""PageRank operator (operators/rank.py): convergence sanity on a known
graph, dangling-node handling, and the priority-wiring helper that
feeds the frontier scheduler."""

from pyspark.sql import functions as F


def test_pagerank_star_graph(spark):
    """Hub-and-spoke: everything links to the hub, so the hub must end
    far above the spokes, and ranks stay positive everywhere."""
    from webcollector_spark.operators.rank import pagerank

    edges = spark.createDataFrame(
        [(f"s{i}", "hub") for i in range(9)] + [("hub", "s0")],
        "src string, dst string",
    )
    r = {row["node"]: row["rank"] for row in pagerank(edges, iters=5).collect()}
    assert r["hub"] > 5 * r["s1"]
    assert all(v > 0 for v in r.values())
    # s0 receives the hub's whole outflow -> above the other spokes
    assert r["s0"] > r["s1"]


def test_pagerank_dangling_nodes_keep_teleport_rank(spark):
    from webcollector_spark.operators.rank import pagerank

    # b and c have no out-edges (dangling): they keep base + inflow
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c")], "src string, dst string"
    )
    r = {row["node"]: row["rank"] for row in pagerank(edges, iters=3).collect()}
    assert r["b"] == r["c"]          # symmetric inflow
    assert r["a"] < r["b"]           # a only gets teleport mass


def test_pagerank_empty_edges_returns_empty_ranks(spark):
    """A crawl round with no discovered links must not crash a
    scheduler that wires pagerank in unconditionally (no 1/0 at the
    uniform-start division)."""
    from webcollector_spark.operators.rank import pagerank

    edges = spark.createDataFrame([], "src string, dst string")
    out = pagerank(edges, iters=3)
    assert out.columns == ["node", "rank"]
    assert out.count() == 0


def test_pagerank_deep_iterations_checkpoint(spark):
    """iters > checkpoint_every exercises the lineage truncation path;
    ranks must still sum to a sane mass and stay positive."""
    from webcollector_spark.operators.rank import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    r = {
        row["node"]: row["rank"]
        for row in pagerank(edges, iters=12, checkpoint_every=4).collect()
    }
    # a 3-cycle converges to the uniform distribution
    assert all(abs(v - 1 / 3) < 1e-6 for v in r.values()), r


def test_pagerank_scheduling_through_start(spark, tmp_path):
    """End-to-end through the round loop (VERDICT r2 item 5): with
    rank_priorities_every=1, the crawler re-prioritizes the frontier
    from PageRank over the observed link graph after each round, and
    the NEXT round's generate schedules the most-linked-to pages first.

    The graph is built so rank order and key order disagree: the
    heavily in-linked leaves have lexicographically LATE urls while the
    one-in-link leaves sort first — so the round-2 schedule can only be
    explained by the rank-driven priorities, not the reference's
    default key order (crawldb/Generator.java:49-78)."""
    from webcollector_spark.config import CrawlerConfig
    from webcollector_spark.crawler import RamCrawler
    from webcollector_spark.sources.requester import SyntheticRequester

    seed = "http://hub.test/seed"
    mids = [f"http://hub.test/p{i}" for i in range(8)]
    pop = "http://leaf.test/zz-popular"    # linked by all 8 mid pages
    second = "http://leaf.test/zy-second"  # linked by 4
    poor = [f"http://leaf.test/aa-{i}" for i in range(8)]  # 1 in-link each

    def page(url, links):
        return {
            "url": url, "http_code": 200, "location": None,
            "image_id": None, "out_links": links,
        }

    graph = [page(seed, mids)]
    for i, m in enumerate(mids):
        links = [pop, poor[i]] + ([second] if i < 4 else [])
        graph.append(page(m, links))
    for leaf in [pop, second] + poor:
        graph.append(page(leaf, []))

    hist = str(tmp_path / "hist")
    cfg = CrawlerConfig(
        top_n=0,
        per_host_top_k=50,  # the priority-aware scheduler (reference-
        # exact generate() orders by KEY and ignores priority)
        rank_priorities_every=1,
        fetched_history_path=hist,
        pagerank_iters=3,
    )
    c = RamCrawler(spark, SyntheticRequester(graph, []), config=cfg)
    c.add_seed([seed])
    c.start(2)  # round 0: seed; round 1: all mids; leaves now pending

    # the in-loop re-prioritization ran after round 1: pending leaves
    # carry -rank priorities ordered by in-link mass
    prio = {
        r["key"]: r["priority"]
        for r in c.frontier().filter(F.col("status") == 0).collect()
    }
    assert prio[pop] < prio[second] < prio[poor[0]] < 0

    # round 2 under a budget of 2: must pick the two top-rank leaves,
    # which sort LAST by key — key order would have picked aa-0/aa-1
    c.config.top_n = 2
    c.start(3)
    import pyspark.sql.functions as SF

    scheduled = {
        r["url"]
        for r in spark.read.parquet(hist).filter(SF.col("round") == 2).collect()
    }
    assert scheduled == {pop, second}


def test_rank_priorities_requires_history_path(spark):
    import pytest

    from webcollector_spark.config import CrawlerConfig
    from webcollector_spark.crawler import RamCrawler
    from webcollector_spark.sources.requester import SyntheticRequester

    c = RamCrawler(
        spark,
        SyntheticRequester([], []),
        config=CrawlerConfig(rank_priorities_every=1),
    )
    c.add_seed(["http://h.test/"])
    with pytest.raises(ValueError, match="fetched_history_path"):
        c.start(1)


def test_priorities_from_ranks(spark):
    from webcollector_spark.crawler import seed_rows
    from webcollector_spark.operators.rank import (
        pagerank,
        priorities_from_ranks,
    )

    frontier = seed_rows(
        spark, ["http://h/a", "http://h/b", "http://h/unranked"]
    )
    edges = spark.createDataFrame(
        [("http://h/a", "http://h/b"), ("http://h/b", "http://h/a"),
         ("http://h/a", "http://h/b")],
        "src string, dst string",
    )
    ranks = pagerank(edges.distinct(), iters=3)
    out = {
        r["key"]: r["priority"]
        for r in priorities_from_ranks(frontier, ranks).collect()
    }
    assert out["http://h/unranked"] == 0.0   # untouched
    assert out["http://h/a"] < 0 and out["http://h/b"] < 0
    # higher rank -> smaller (more negative) priority -> scheduled sooner
    rk = {r["node"]: r["rank"] for r in ranks.collect()}
    assert (out["http://h/a"] < out["http://h/b"]) == (
        rk["http://h/a"] > rk["http://h/b"]
    )


def test_rank_ordering_survives_adaptive_salting(spark, tmp_path):
    """VERDICT r3 item 6: pagerank -> merge -> SALTED generate ->
    ordering, end to end at skew. One host owns the whole pending
    frontier, and salt_min_frontier=0 forces the two-phase salted window
    — the salted top-k must still emit the highest-rank pages first (the
    phase-1 per-bucket supersets must never drop a true top-k row). As in
    test_pagerank_scheduling_through_start, rank order and key order
    disagree, so the schedule can only be explained by the rank-driven
    priorities surviving the salted path."""
    from webcollector_spark.config import CrawlerConfig
    from webcollector_spark.crawler import RamCrawler
    from webcollector_spark.sources.requester import SyntheticRequester

    seed = "http://hub.test/seed"
    mids = [f"http://hot.test/mid-{i}" for i in range(8)]
    pop = "http://hot.test/zz-popular"    # linked by all 8 mid pages
    second = "http://hot.test/zy-second"  # linked by 4
    poor = [f"http://hot.test/aa-{i}" for i in range(8)]  # 1 in-link each

    def page(url, links):
        return {
            "url": url, "http_code": 200, "location": None,
            "image_id": None, "out_links": links,
        }

    graph = [page(seed, mids)]
    for i, m in enumerate(mids):
        links = [pop, poor[i]] + ([second] if i < 4 else [])
        graph.append(page(m, links))
    for leaf in [pop, second] + poor:
        graph.append(page(leaf, []))

    hist = str(tmp_path / "hist")
    cfg = CrawlerConfig(
        top_n=0,
        per_host_top_k=50,
        rank_priorities_every=1,
        fetched_history_path=hist,
        pagerank_iters=3,
        salt_min_frontier=0,
        host_salt_buckets=4,
    )
    c = RamCrawler(spark, SyntheticRequester(graph, []), config=cfg)
    c.add_seed([seed])
    c.start(2)  # round 0: seed; round 1: mids (all on hot.test)

    # pending frontier is now 10 hot.test leaves with -rank priorities
    prio = {
        r["key"]: r["priority"]
        for r in c.frontier().filter(F.col("status") == 0).collect()
    }
    assert prio[pop] < prio[second] < prio[poor[0]] < 0

    # budget 2 inside the hot host: the salted window must pick the two
    # top-rank leaves, which sort LAST by key
    c.config.per_host_top_k = 2
    c.start(3)
    assert c.salt_history[-1] == cfg.host_salt_buckets, c.salt_history

    scheduled = {
        r["url"]
        for r in spark.read.parquet(hist).filter(F.col("round") == 2).collect()
    }
    assert scheduled == {pop, second}


def test_hits_star_graph_separates_hub_from_authorities(spark):
    """Center -> 4 leaves: the center is a pure hub (nobody links to
    it, auth 0), the leaves are pure equal authorities (no out-edges,
    hub 0). This star is the HITS fixed point, so 1 and 5 iterations
    must agree exactly."""
    from webcollector_spark.operators.rank import hits

    edges = spark.createDataFrame(
        [("c", f"l{i}") for i in range(4)], "src string, dst string"
    )
    for iters in (1, 5):
        r = {
            row["node"]: (row["auth"], row["hub"])
            for row in hits(edges, iters=iters).collect()
        }
        assert r["c"] == (0.0, 1.0)
        for i in range(4):
            assert r[f"l{i}"] == (0.25, 0.0)


def test_hits_hub_mass_follows_authority_of_targets(spark):
    """Two hubs pointing at the same two pages plus a third hub
    pointing at only one of them: the 2-outlink hubs accumulate more
    hub mass, and the doubly-linked pages out-rank the singly-linked
    structure after the second iteration."""
    from webcollector_spark.operators.rank import hits

    edges = spark.createDataFrame(
        [("h1", "p1"), ("h1", "p2"), ("h2", "p1"), ("h2", "p2"), ("h3", "p1")],
        "src string, dst string",
    )
    r = {
        row["node"]: (row["auth"], row["hub"])
        for row in hits(edges, iters=3).collect()
    }
    assert r["p1"][0] > r["p2"][0] > 0.0      # p1 has the extra in-link
    assert r["h1"][1] == r["h2"][1] > r["h3"][1] > 0.0
    assert r["h1"][0] == r["h3"][0] == 0.0    # hubs get no in-links


def test_hits_empty_edges_returns_empty(spark):
    from webcollector_spark.operators.rank import hits

    edges = spark.createDataFrame([], "src string, dst string")
    out = hits(edges, iters=2)
    assert out.count() == 0
    assert set(out.columns) == {"node", "auth", "hub"}


def test_trustrank_spam_island_gets_zero(spark):
    """Two components: seeds live in the first, the second (a link-spam
    island) is unreachable from them — every island node must rank
    exactly 0 while reachable nodes carry positive trust."""
    from webcollector_spark.operators.rank import pagerank

    edges = spark.createDataFrame(
        [("seed", "a"), ("a", "b"), ("spam1", "spam2"), ("spam2", "spam1")],
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("seed",)], "node string")
    r = {
        row["node"]: row["rank"]
        for row in pagerank(edges, iters=4, seeds=seeds).collect()
    }
    assert r["spam1"] == 0.0 and r["spam2"] == 0.0
    assert r["seed"] > 0 and r["a"] > 0 and r["b"] > 0
    # trust decays with link distance from the seed
    assert r["seed"] > r["a"] > r["b"]


def test_trustrank_empty_seed_set_returns_zero_ranks(spark):
    from webcollector_spark.operators.rank import pagerank

    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    seeds = spark.createDataFrame([], "node string")
    r = {
        row["node"]: row["rank"]
        for row in pagerank(edges, iters=3, seeds=seeds).collect()
    }
    assert r == {"a": 0.0, "b": 0.0}


def test_trustrank_scheduling_demotes_spam_clique(spark, tmp_path):
    """End-to-end through the round loop: a 12-page link-spam clique
    (dense mutual links, one gate in-link from the honest region) pumps
    itself above the honest multi-in-link page under plain PageRank —
    and is starved below it when rank_trusted_only restricts teleport
    to the crawl's seed list. Same graph, same rounds; only the knob
    differs."""
    from webcollector_spark.config import CrawlerConfig
    from webcollector_spark.crawler import RamCrawler
    from webcollector_spark.sources.requester import SyntheticRequester

    seed = "http://hub.test/seed"
    mids = [f"http://hub.test/p{i}" for i in range(4)]
    pop = "http://leaf.test/popular"       # linked by all 4 mids
    poor = [f"http://leaf.test/poor-{i}" for i in range(4)]
    spam = [f"http://spam.test/s{i}" for i in range(12)]

    def page(url, links):
        return {
            "url": url, "http_code": 200, "location": None,
            "image_id": None, "out_links": links,
        }

    graph = [page(seed, mids)]
    for i, m in enumerate(mids):
        links = [pop, poor[i]] + ([spam[0]] if i == 0 else [])
        graph.append(page(m, links))
    graph.append(page(pop, []))
    graph += [page(u, []) for u in poor]
    for i, s in enumerate(spam):  # full clique: everyone links everyone
        graph.append(page(s, [t for t in spam if t != s]))

    def priorities(trusted: bool, hist: str):
        cfg = CrawlerConfig(
            top_n=0,
            per_host_top_k=50,
            rank_priorities_every=1,
            rank_trusted_only=trusted,
            fetched_history_path=hist,
            pagerank_iters=8,  # let the clique recirculate toward its
            # b/(1-d) fixed point; 3 iterations understate the pump
        )
        c = RamCrawler(spark, SyntheticRequester(graph, []), config=cfg)
        c.add_seed([seed])
        c.start(4)  # clique fetched in round 3 -> its edges observed
        return {r["key"]: r["priority"] for r in c.frontier().collect()}

    p_plain = priorities(False, str(tmp_path / "h1"))
    p_trust = priorities(True, str(tmp_path / "h2"))

    # plain PageRank: the clique out-ranks the honest page
    assert p_plain[spam[3]] < p_plain[pop]
    # TrustRank: the honest page out-ranks every clique member, and even
    # a single honest in-link (poor leaf) beats clique membership
    assert all(p_trust[pop] < p_trust[s] for s in spam)
    assert p_trust[poor[0]] < p_trust[spam[3]]
    # trust still flows: the honest region carries real (negative) mass
    assert p_trust[pop] < 0


def test_opic_cash_conservation_and_dangling(spark):
    """Total cash is conserved at exactly 1.0 every step (the paper's
    virtual page re-injects dangling cash), history grows by 1.0 per
    step, and an in-link magnet outranks a leaf."""
    from webcollector_spark.operators.rank import opic

    # hub -> {a, b}; a -> hub; b dangling
    edges = spark.createDataFrame(
        [("hub", "a"), ("hub", "b"), ("a", "hub")], "src string, dst string"
    )
    for iters in (1, 3):
        r = opic(edges, iters=iters)
        rows = r.collect()
        total_cash = sum(x.cash for x in rows)
        total_hist = sum(x.hist for x in rows)
        assert abs(total_cash - 1.0) < 1e-9
        assert abs(total_hist - iters) < 1e-9

    imp = {x.node: x.importance for x in opic(edges, iters=4).collect()}
    assert imp["hub"] > imp["b"]  # two in-links + seed cash beats a leaf


def test_opic_empty_graph(spark):
    from webcollector_spark.operators.rank import opic

    empty = spark.createDataFrame([], "src string, dst string")
    assert opic(empty, iters=2).count() == 0


def test_ucb_budget_k_decays_dead_hosts_keeps_best_at_full_k(spark):
    """Hand-computed UCB1 budgets: the barely-sampled 100%-yield host
    keeps the full k, the well-sampled zero-yield host decays toward
    k_min, and everything stays inside [k_min, k_max]."""
    import math

    from webcollector_spark.operators.rank import ucb_budget_k

    bandit = spark.createDataFrame(
        [("good", 10, 9), ("dead", 40, 0), ("fresh", 1, 1)],
        "host string, n_trials long, n_yield long",
    )
    got = {r["host"]: r["__fit_k"] for r in ucb_budget_k(bandit, 20).collect()}
    t = 51.0
    ucb = {
        "good": 0.9 + math.sqrt(2 * math.log(t) / 10),
        "dead": 0.0 + math.sqrt(2 * math.log(t) / 40),
        "fresh": 1.0 + math.sqrt(2 * math.log(t) / 1),
    }
    mx = max(ucb.values())
    exp = {h: min(20, max(1, math.ceil(20 * u / mx))) for h, u in ucb.items()}
    assert got == exp
    assert got["fresh"] == 20 and got["dead"] < got["good"] < 20


def test_ucb_budget_k_no_information_keeps_full_k(spark):
    # t == 1 -> ln(t) = 0 exploration term and zero yield: max ucb is 0,
    # so the no-information guard must hand every known host the full k
    # rather than divide by zero.
    from webcollector_spark.operators.rank import ucb_budget_k

    bandit = spark.createDataFrame(
        [("only", 1, 0)], "host string, n_trials long, n_yield long"
    )
    got = ucb_budget_k(bandit, 7).collect()
    assert got[0]["__fit_k"] == 7


def test_ucb_budget_through_start_throttles_dead_host(spark):
    """End-to-end through the round loop: with ucb_host_budget=True, a
    host whose fetches never emit links gets a SMALLER round-2 budget
    than the productive host, while pending work on it still exists —
    the throttle, not exhaustion. Round 1 (first sample of both hosts)
    runs at the full per-host k because round 0 only fetched the seed."""
    from webcollector_spark.config import CrawlerConfig
    from webcollector_spark.crawler import RamCrawler
    from webcollector_spark.sources.requester import SyntheticRequester

    seed = "http://seed.test/s"
    dead = [f"http://dead.test/d{i}" for i in range(10)]
    rich = [f"http://rich.test/r{i}" for i in range(12)]

    def page(url, links):
        return {
            "url": url, "http_code": 200, "location": None,
            "image_id": None, "out_links": links,
        }

    graph = [page(seed, dead + rich[:6])]
    for i in range(6):
        graph.append(page(rich[i], [rich[i + 6]]))  # productive host
    for u in dead + rich[6:]:
        graph.append(page(u, []))

    import pyspark.sql.functions as SF

    def run(tmp_path, ucb):
        hist = str(tmp_path)
        cfg = CrawlerConfig(
            top_n=0, per_host_top_k=3, ucb_host_budget=ucb,
            fetched_history_path=hist,
        )
        c = RamCrawler(spark, SyntheticRequester(graph, []), config=cfg)
        c.add_seed([seed])
        c.start(3)
        by_round_host = {
            (r["round"], r["host"]): r["n"]
            for r in spark.read.parquet(hist)
            .groupBy("round", "host").agg(SF.count("*").alias("n"))
            .collect()
        }
        return c, by_round_host

    import tempfile

    with tempfile.TemporaryDirectory() as td:
        c, sched = run(td + "/h", ucb=True)

    # round 1: both hosts unseen -> full k each (optimistic init)
    assert sched[(1, "dead.test")] == 3 and sched[(1, "rich.test")] == 3
    # round 2: dead.test sampled 3x with 0 yield -> throttled below the
    # productive host, but NOT starved (floor of 1 pick)
    assert 1 <= sched[(2, "dead.test")] < sched[(2, "rich.test")]
    # still pending dead rows -> it was the budget, not exhaustion
    pending_dead = (
        c.frontier()
        .filter((SF.col("status") == 0) & (SF.col("host") == "dead.test"))
        .count()
    )
    assert pending_dead > 0
    # bandit state accumulated across rounds
    state = {r["host"]: r for r in c._host_state.collect()}
    assert state["dead.test"]["n_yield"] == 0
    assert state["dead.test"]["n_trials"] >= 3
    assert state["rich.test"]["n_yield"] >= 3
