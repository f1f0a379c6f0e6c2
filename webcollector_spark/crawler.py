"""O10/O11 — the round-loop driver (reference crawler/Crawler.java:91-149).

One crawl round = one Spark job chain:

    frontier snapshot                       (Iceberg/parquet scan)
      -> generate (O2: filter+order+limit | per-host salted top-k)
      -> repartition(host) -> fetch mapInPandas (O3/O4/O5/O12)
      -> discovered links explode + dedup (O5/O8)
      -> bloom + anti-join seen filter (O6)
      -> merge: fetch last-wins, links first-wins (O9, new snapshot)
      -> rounds manifest append (lineage; resume reads max round)

Differences from the reference, on purpose:
  * the reference folds segments at the START of the next round
    (Fetcher.java:310), leaving unmerged trailing segments after the
    final round until a resume; we commit the merge at the END of each
    round — an atomic snapshot per round, same visited set at every
    round boundary, and resume never sees partial state.
  * break-on-zero-generate matches Crawler.java:142-144.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from webcollector_spark.config import CrawlerConfig
from webcollector_spark.operators.fetch import CODE_ROBOTS_DENIED
from webcollector_spark.operators.fetch import fetch as fetch_op
from webcollector_spark.operators.generate import generate, generate_per_host
from webcollector_spark.operators.parse import discovered_datums, discovered_links
from webcollector_spark.operators.seen import build_bloom, seen_filter
from webcollector_spark.schema import (
    CODE_NOT_SET,
    FRONTIER_SCHEMA,
    STATUS_DB_FAILED,
    STATUS_DB_SUCCESS,
    STATUS_DB_UNEXECUTED,
    host_of,
)
from webcollector_spark.sources.requester import Requester
from webcollector_spark.session import local_frame
from webcollector_spark.store import ParquetFrontierStore, RamFrontierStore

_CORE_COLS = [f.name for f in FRONTIER_SCHEMA.fields]
_CANDIDATE_SCHEMA = T.StructType(
    [T.StructField("host", T.StringType()), T.StructField("is_cand", T.BooleanType())]
)


def seed_rows(
    spark: SparkSession,
    seeds: list,
    depth: int = 0,
    priority: float = 0.0,
) -> DataFrame:
    """Build frontier rows for seeds: URL strings, (key, url) pairs, or
    CrawlDatum objects (key != url tasks with type/meta — the
    DemoBingCrawler pattern, CrawlDatum.java:54-59 + meta plumbing).
    The frame is a `LocalRelation` (`session.local_frame`)."""
    from webcollector_spark.datum import CrawlDatum

    rows = []
    for s in seeds:
        if isinstance(s, CrawlDatum):
            rows.append(s.as_row(host=host_of(s.url()), depth=depth, priority=priority))
            continue
        key, url = (s, s) if isinstance(s, str) else s
        rows.append(
            (key, url, STATUS_DB_UNEXECUTED, None, 0, CODE_NOT_SET, None, None,
             host_of(url), depth, priority)
        )
    return local_frame(spark, rows, FRONTIER_SCHEMA)


@dataclass
class RoundMetrics:
    round: int
    generated: int
    fetched: int
    failed: int
    new_links: int
    wall_ms: int


@dataclass
class BreadthCrawler:
    """PySpark-native BreadthCrawler (reference plugin/rocks/BreadthCrawler).

    crawl_path=None -> in-memory frontier (reference RamCrawler).
    `store` overrides the backend entirely (e.g. IcebergFrontierStore —
    the DBManager plugin seam, crawldb/DBManager.java contract)."""

    spark: SparkSession
    requester: Requester
    crawl_path: str | None = None
    config: CrawlerConfig = field(default_factory=CrawlerConfig)
    store: object | None = None
    # Visitor extension point (fetcher/Visitor.java; wired through the
    # round loop as in AutoParseCrawler.java:52-57): handlers run inside
    # the fetch pass, their emitted datums merge as the link segment.
    visitor: object | None = None

    def __post_init__(self):
        if self.store is not None:
            pass  # injected backend (Iceberg / custom DBManager)
        elif self.crawl_path:
            self.store = ParquetFrontierStore(
                self.spark, self.crawl_path, resumable=self.config.resumable
            )
        else:
            self.store = RamFrontierStore(self.spark)
        self._seeds: list[str | tuple[str, str]] = []
        self._forced_seeds: list[str | tuple[str, str]] = []
        self.metrics: list[RoundMetrics] = []
        # adaptive-salt state: hosts touched by last round's links (the
        # count-min candidate set) + per-round salt decisions for
        # introspection/tests
        self._link_hosts: list[str] | None = None
        self.salt_history: list[int] = []
        # host-budget state (config.host_budget_target_ms): per-host
        # robots Crawl-delays learned from fetch passes so far — a tiny
        # O(hosts-with-a-directive) frame, localCheckpointed so it
        # survives the per-round fetched.unpersist(). Advisory: resets
        # on resume (round 1 after restart runs unclamped until the
        # first fetch re-learns the delays).
        self._host_delays: DataFrame | None = None
        # UCB bandit state (config.ucb_host_budget): running per-host
        # (n_trials, n_yield) counts folded from each round's fetch
        # pass — O(hosts-seen) rows, localCheckpointed like the delays.
        # Advisory on resume, same as the delays.
        self._host_bandit: DataFrame | None = None

    # -- seeding (Crawler.java:169-284: strings, iterables, typed
    # CrawlDatum/CrawlDatums with meta; forced :72-78) ------------------
    def add_seed(self, url, force: bool = False) -> "BreadthCrawler":
        items = url if isinstance(url, list) else [url]
        (self._forced_seeds if force else self._seeds).extend(items)
        return self

    def add_regex(self, rule: str) -> "BreadthCrawler":
        self.config.regex_rules.append(rule)
        return self

    # -- reference-style knob setters (crawler/Crawler.java:337-457:
    # setResumable :355, setThreads :373, setMaxExecuteCount :387) -----
    # thin sugar over CrawlerConfig, so reference users can port demos
    # line-for-line; each returns self for chaining.
    def set_top_n(self, n: int) -> "BreadthCrawler":
        self.config.top_n = n
        return self

    def set_threads(self, n: int) -> "BreadthCrawler":
        self.config.threads = n
        return self

    def set_max_execute_count(self, n: int) -> "BreadthCrawler":
        self.config.max_execute_count = n
        return self

    def set_execute_interval(self, ms: int) -> "BreadthCrawler":
        self.config.execute_interval_ms = ms
        return self

    def set_resumable(self, resumable: bool = True) -> "BreadthCrawler":
        self.config.resumable = resumable
        return self

    def set_auto_parse(self, auto: bool = True) -> "BreadthCrawler":
        self.config.auto_parse = auto
        return self

    def set_visitor(self, visitor) -> "BreadthCrawler":
        """Attach a Visitor whose annotated handlers drive the crawl
        (the reference's flagship usage: a BreadthCrawler subclass
        overriding visit, crawler/AutoParseCrawler.java:52-57)."""
        self.visitor = visitor
        return self

    # -- the crawl loop -------------------------------------------------
    def start(self, max_depth: int) -> list[RoundMetrics]:
        cfg = self.config
        if cfg.rank_priorities_every > 0 and not cfg.fetched_history_path:
            raise ValueError(
                "rank_priorities_every requires fetched_history_path "
                "(the link-graph edge source)"
            )

        def _seed_df(seeds):
            df = seed_rows(self.spark, seeds)
            if cfg.canonicalize_link_keys:
                # default-key seeds (key == url) adopt the canonical key
                # so they unify with canonicalized discovered links;
                # explicit user keys (key != url tasks) are untouched
                from webcollector_spark.functions.urls import canonical_url_col

                df = df.withColumn(
                    "key",
                    F.when(
                        F.col("key") == F.col("url"),
                        canonical_url_col(F.col("url")),
                    ).otherwise(F.col("key")),
                )
            return df

        if self._seeds:
            self.store.inject(_seed_df(self._seeds), force=False)
        if self._forced_seeds:
            self.store.inject(_seed_df(self._forced_seeds), force=True)
        if cfg.parse_sitemaps and (self._seeds or self._forced_seeds):
            # robots.txt "Sitemap:" auto-discovery for SEED hosts only —
            # a driver-side loop bounded by the user's own seed list
            # (operators/sitemap.py sitemaps_from_robots); discovered
            # sitemap URLs enter as ordinary seeds and their bodies are
            # recognized content-side when fetched.
            from webcollector_spark.datum import CrawlDatum
            from webcollector_spark.operators.sitemap import (
                sitemaps_from_robots,
            )

            def _seed_url(s):
                if isinstance(s, CrawlDatum):
                    return s.url()
                return s if isinstance(s, str) else s[1]

            hosts = {
                host_of(_seed_url(s))
                for s in [*self._seeds, *self._forced_seeds]
            }
            sm_urls = sitemaps_from_robots(self.requester, hosts)
            if sm_urls:
                self.store.inject(_seed_df(sm_urls), force=False)
        if self.store.is_empty():
            return self.metrics  # nothing injected -> zero-generate, done
        start_round = self.store.last_round() + 1  # resume point

        # One broadcast of the requester for the whole crawl (re-shipping
        # it per round re-unpickles its state in every Python worker).
        bc_req = self.spark.sparkContext.broadcast(self.requester)

        # Visitor mode: build the method-map dispatcher once
        # (VisitorMethodDispatcher.java:56-158) and broadcast its
        # cloudpickled bytes once for the whole crawl; handlers then run
        # inside every round's fetch pass.
        bc_disp = None
        if self.visitor is not None:
            from pyspark import cloudpickle

            from webcollector_spark.functions.regex_rule import RegexRule
            from webcollector_spark.operators.dispatch import VisitorDispatcher

            disp = VisitorDispatcher(
                self.visitor,
                auto_parse=cfg.auto_parse,
                regex_rule=RegexRule(cfg.regex_rules),
            )
            bc_disp = self.spark.sparkContext.broadcast(cloudpickle.dumps(disp))

        for r in range(start_round, max_depth):
            t0 = time.monotonic()
            frontier = self.store.load()

            # O2 generate; persisted so the fetch stage reads the ranked
            # rows instead of re-running both window phases.
            # cheap_count: the frontier size for the salt/bloom gates,
            # memoized by the store (no extra job after a merge).
            n_frontier = self.store.cheap_count()
            if cfg.per_host_top_k > 0:
                if cfg.adaptive_salt and self._link_hosts is not None:
                    # MEASURED skew, not assumed: probe last round's
                    # link hosts (small candidate set) against the
                    # frontier in one exact bounded-output scan
                    # (_frontier_has_hot_host) — salt only when some
                    # candidate actually holds > hot_host_frac of
                    # frontier rows.
                    salt = (
                        cfg.host_salt_buckets
                        if self._frontier_has_hot_host(frontier)
                        else 1
                    )
                else:
                    salt = (
                        cfg.host_salt_buckets
                        if n_frontier >= cfg.salt_min_frontier
                        else 1
                    )
                self.salt_history.append(salt)
                # Politeness-aware round sizing: clamp k so no host's
                # serial drain (picks x gap) overshoots the target —
                # scalar clamp from the configured gap, per-host clamp
                # from learned robots Crawl-delays (config.py
                # host_budget_target_ms; operators/generate.py
                # host_budget_plan documents the floor math).
                k = cfg.per_host_top_k
                fit = None
                if cfg.host_budget_target_ms > 0:
                    gap_ms = self._configured_gap_ms()
                    if gap_ms > 0:
                        k = max(1, min(k, cfg.host_budget_target_ms // gap_ms))
                    if self._host_delays is not None:
                        fit = self._host_delays.select(
                            "host",
                            F.greatest(
                                F.lit(1).cast("long"),
                                F.expr(
                                    f"CAST({cfg.host_budget_target_ms}"
                                    " DIV delay_ms AS BIGINT)"
                                ),
                            ).alias("__fit_k"),
                        )
                # UCB bandit budgets: proven-productive hosts keep the
                # full k, well-sampled dead ends decay toward ucb_min_k,
                # unseen hosts (no state row) default to full k through
                # the generate left join. Composes with the politeness
                # fit by per-host MINIMUM — a host must satisfy BOTH its
                # Crawl-delay drain budget and its bandit score.
                if cfg.ucb_host_budget and self._host_bandit is not None:
                    from webcollector_spark.operators.rank import (
                        ucb_budget_k,
                    )

                    ub = ucb_budget_k(
                        self._host_bandit, k, c=cfg.ucb_c,
                        k_min=cfg.ucb_min_k,
                    )
                    if fit is None:
                        fit = ub
                    else:
                        kl = F.lit(int(k)).cast("long")
                        fit = (
                            fit.withColumnRenamed("__fit_k", "__fit_a")
                            .join(
                                ub.withColumnRenamed("__fit_k", "__fit_b"),
                                "host",
                                "outer",
                            )
                            .select(
                                "host",
                                F.least(
                                    F.coalesce(F.col("__fit_a"), kl),
                                    F.coalesce(F.col("__fit_b"), kl),
                                ).alias("__fit_k"),
                            )
                        )
                gen = generate_per_host(
                    frontier, k, cfg.max_execute_count,
                    cfg.top_n, salt, cfg.generator_filter,
                    fit_k_by_host=fit,
                )
            else:
                gen = generate(
                    frontier, cfg.top_n, cfg.max_execute_count,
                    cfg.generator_filter,
                )
            gen = gen.persist(StorageLevel.MEMORY_AND_DISK)
            n_gen = gen.count()
            if n_gen == 0:  # Crawler.java:142-144
                gen.unpersist()
                break

            # O3-O5 fetch + parse (one Arrow pass); reused twice -> persist.
            # One agg job materializes it and folds the failed-count in.
            fetched = fetch_op(
                gen, bc_req, cfg, n_rows=n_gen, dispatcher=bc_disp
            ).persist(StorageLevel.MEMORY_AND_DISK)
            n_failed = fetched.agg(
                F.coalesce(
                    F.sum((F.col("status") == STATUS_DB_FAILED).cast("long")),
                    F.lit(0),
                )
            ).collect()[0][0]

            # O5/O6: discovered links. The merge window itself enforces
            # first-wins (seen links lose to existing frontier rows), so
            # an explicit seen-filter is pure pre-pruning: it pays once
            # the frontier is large enough that shuffling known-seen
            # links into the merge dominates — then the bloom keeps the
            # definitely-new links out of the exact anti-join entirely.
            if self.visitor is not None:
                # visitor-emitted datums (key != url + meta) are the
                # link segment (Fetcher.java:246-270); default-key
                # datums honor the same canonicalization knob as
                # auto-parsed links so seed and link keys agree
                links = discovered_datums(
                    fetched, canonical_keys=cfg.canonicalize_link_keys
                )
            else:
                links = discovered_links(
                    fetched,
                    dedup=False,  # merge dedups
                    canonical_keys=cfg.canonicalize_link_keys,
                )
            if cfg.parse_sitemaps:
                # sitemap-discovered URLs ride the normal link-segment
                # path (same merge first-wins, same bloom pre-prune);
                # nested <sitemapindex> children are ordinary frontier
                # rows — the next round's fetch + content detection is
                # the recursion (operators/sitemap.py).
                from webcollector_spark.operators.sitemap import (
                    sitemap_datums,
                    sitemap_entries,
                )

                sm = sitemap_datums(sitemap_entries(fetched))
                if cfg.canonicalize_link_keys:
                    from webcollector_spark.functions.urls import (
                        canonical_url_col,
                    )

                    sm = sm.withColumn(
                        "key", canonical_url_col(F.col("url"))
                    )
                links = links.unionByName(sm)
            if 0 < cfg.bloom_capacity and cfg.bloom_min_frontier <= n_frontier:
                # size from the LIVE frontier count (memoized — no extra
                # job): a fixed capacity below the activation threshold
                # would load the filter at >1x capacity and blow the
                # configured fpp exactly when the pre-prune first
                # matters.
                bloom = build_bloom(
                    frontier.select("key"), "key",
                    max(cfg.bloom_capacity, n_frontier), cfg.bloom_fpp,
                    max(1, cfg.bloom_shards),
                )
                fresh = seen_filter(links, frontier.select("key"), "key", bloom)
            else:
                fresh = links

            # Optional fetched-history write (O(round) rows, content
            # dropped): the offline "fetched" table of the north star.
            # Dynamic partition overwrite makes a crash-and-resume
            # re-run of round r replace (not duplicate) its partition.
            if cfg.fetched_history_path:
                self._write_round_partition(
                    fetched.drop("content"), cfg.fetched_history_path, r
                )

            # Optional per-host (= per frontier partition) metrics
            # history: one row per (round, host) with execute/byte/code
            # aggregates — the "per-partition lineage + metrics" table.
            # O(hosts) rows per round; idempotent on crash-resume re-run
            # of a round (dynamic partition overwrite replaces round r).
            if cfg.host_metrics_path:
                def _emitted(col):  # null-safe element count
                    return F.sum(
                        F.when(F.col(col).isNull(), 0).otherwise(F.size(col))
                    )

                self._write_round_partition(
                    fetched.groupBy("host").agg(
                        F.count("*").alias("fetched"),
                        F.sum(
                            (F.col("status") == STATUS_DB_FAILED).cast("long")
                        ).alias("failed"),
                        F.sum(
                            (F.col("code") == CODE_ROBOTS_DENIED).cast("long")
                        ).alias("robots_denied"),
                        F.avg("execute_count").alias("avg_execute_count"),
                        # auto-parse emissions live in `links`, visitor
                        # emissions in `next_datums` — count both
                        (_emitted("links") + _emitted("next_datums")).alias(
                            "links_emitted"
                        ),
                    ),
                    cfg.host_metrics_path,
                    r,
                )

            # adaptive-salt candidates: the hosts this round's links
            # touch, HARD-BOUNDED to the top salt_candidates receivers
            # by link count (TakeOrdered — no full sort). A round's
            # links can touch millions of distinct hosts at web scale,
            # so an uncapped distinct().collect() would be the exact
            # O(n)-driver-collect hazard this engine bans elsewhere; a
            # host hot enough to hold > hot_host_frac of the NEXT
            # frontier is overwhelmingly among this round's biggest
            # link receivers, and a miss only means salt=1 (the
            # size-gate fallback still applies). Collected while
            # `fetched` is still persisted.
            if cfg.adaptive_salt:
                self._link_hosts = [
                    row["host"]
                    for row in links.groupBy("host")
                    .agg(F.count("*").alias("n"))
                    .orderBy(F.col("n").desc(), F.col("host"))
                    .limit(cfg.salt_candidates)
                    .collect()
                ]

            # host-budget learning: fold this round's observed robots
            # Crawl-delays into the running per-host max. Opt-in only
            # (one extra O(hosts-with-a-directive) job per round);
            # localCheckpoint materializes the tiny frame before
            # fetched.unpersist() severs its lineage.
            if cfg.host_budget_target_ms > 0:
                self._learn_host_delays(fetched)

            # UCB bandit learning: fold this round's per-host
            # (trials, yields) into the running state (config.
            # ucb_host_budget). Same lifecycle as the learned delays.
            if cfg.ucb_host_budget:
                self._learn_host_yields(fetched)

            # O9 merge: one snapshot commit; inserted-links count derived
            # from the frontier row-count delta (no extra count job).
            n_links = self.store.merge(fetched.select(*_CORE_COLS), fresh)
            fetched.unpersist()
            gen.unpersist()

            m = RoundMetrics(
                round=r,
                generated=n_gen,
                fetched=n_gen - n_failed,
                failed=n_failed,
                new_links=n_links,
                wall_ms=int((time.monotonic() - t0) * 1000),
            )
            self.metrics.append(m)
            self.store.log_round(**m.__dict__)

            # Importance-ordered scheduling: every k rounds, rank the
            # observed link graph and fold -rank into the pending
            # frontier's priority, so the next generate window leads
            # with the most-linked-to pages. O(|E|) shuffle per
            # PageRank iteration + one merge — a per-k-rounds cost, not
            # per-round.
            if (
                cfg.rank_priorities_every > 0
                and (r + 1) % cfg.rank_priorities_every == 0
            ):
                self._reprioritize_from_ranks()
        return self.metrics

    def _configured_gap_ms(self) -> int:
        """The politeness gap (ms) the fetch token bucket enforces from
        config alone — per_host_rate and execute_interval_ms, the same
        max the bucket applies (operators/fetch.py _HostBucket). Robots
        Crawl-delays tighten it per host on top (learned, not here)."""
        cfg = self.config
        gap = 0.0
        if cfg.per_host_rate > 0:
            gap = 1000.0 / cfg.per_host_rate
        if cfg.execute_interval_ms > 0:
            gap = max(gap, float(cfg.execute_interval_ms))
        return int(gap)

    def _learn_host_delays(self, fetched: DataFrame) -> None:
        """Fold this round's observed robots Crawl-delays (ms) into the
        running per-host max. Max, not last: a host that once declared
        Crawl-delay 30 stays clamped even if a later robots fetch fails
        open — the conservative side of politeness. The frame is
        O(hosts-with-a-directive) rows; eager localCheckpoint both
        materializes it before fetched.unpersist() and truncates the
        union-of-unions lineage that would otherwise grow per round."""
        d = (
            # > 0, not isNotNull: a sub-millisecond Crawl-delay rounds
            # to 0 ms and would turn the fit_k division into NULL
            fetched.filter(F.col("robots_delay_ms") > 0)
            .groupBy("host")
            .agg(F.max("robots_delay_ms").alias("delay_ms"))
        )
        if self._host_delays is not None:
            d = (
                d.unionByName(self._host_delays)
                .groupBy("host")
                .agg(F.max("delay_ms").alias("delay_ms"))
            )
        self._host_delays = d.localCheckpoint(eager=True)

    def _learn_host_yields(self, fetched: DataFrame) -> None:
        """Fold this round's per-host bandit observations into the
        running (host, n_trials, n_yield) state: trial = a fetch
        attempt, reward = the fetch emitted at least one outlink or
        visitor datum (the cheap per-row proxy for "discovered new
        frontier keys" — exact new-key attribution would need the merge
        delta joined back per host, one extra O(links) join per round;
        the proxy over-counts only links that all turn out seen, which
        the decaying bonus self-corrects on later pulls). O(hosts-seen)
        rows; eager localCheckpoint materializes before
        fetched.unpersist() and truncates per-round union lineage."""

        def _n(col: str):
            return F.when(F.col(col).isNull(), 0).otherwise(F.size(col))

        d = fetched.groupBy("host").agg(
            F.count("*").alias("n_trials"),
            F.sum(
                ((_n("links") + _n("next_datums")) > 0).cast("long")
            ).alias("n_yield"),
        )
        if self._host_bandit is not None:
            d = (
                d.unionByName(self._host_bandit)
                .groupBy("host")
                .agg(
                    F.sum("n_trials").alias("n_trials"),
                    F.sum("n_yield").alias("n_yield"),
                )
            )
        self._host_bandit = d.localCheckpoint(eager=True)

    def _frontier_has_hot_host(self, frontier: DataFrame) -> bool:
        """True when one of last round's link hosts holds more than
        hot_host_frac of the frontier.

        Detection is an EXACT one-scan probe: broadcast-mark the
        candidate hosts, then a single aggregation whose grouping key is
        the host for candidates and NULL for everything else — per-
        candidate counts AND the frontier total come out of one job with
        output bounded by |candidates|+1 at ANY host cardinality (a full
        groupBy(host).count() shuffles one row per distinct host, 10^8
        at web scale). Measured (tools/skew_bench.py, 4M-row frontier):
        0.8s for this probe vs 2.5-3s for the count-min hot_items probe
        (operators/sketch.py) — the sketch pays an md5 pass to build
        counters that exactness makes unnecessary when the candidate set
        is known up front; it remains the right tool when probes arrive
        AFTER the scan (watchlists, repeated probes of one sketch)."""
        if not self._link_hosts:
            return False
        cand = local_frame(
            self.spark, [(h, True) for h in self._link_hosts], _CANDIDATE_SCHEMA
        )
        per_host = (
            frontier.join(F.broadcast(cand), "host", "left")
            .groupBy(
                F.when(F.col("is_cand"), F.col("host")).alias("h")
            )
            .agg(F.count("*").alias("cnt"))
            .collect()
        )
        total = sum(r["cnt"] for r in per_host)
        if total == 0:
            return False
        thresh = self.config.hot_host_frac * total
        return any(r["cnt"] > thresh for r in per_host if r["h"] is not None)

    def _reprioritize_from_ranks(self) -> None:
        from webcollector_spark.operators.rank import (
            edges_from_history,
            pagerank,
            priorities_from_ranks,
        )

        cfg = self.config
        if not cfg.fetched_history_path:
            raise ValueError(
                "rank_priorities_every requires fetched_history_path "
                "(the link-graph edge source)"
            )
        hist = self.spark.read.parquet(cfg.fetched_history_path)
        edges = edges_from_history(
            hist, canonical=cfg.canonicalize_link_keys
        )
        seeds = None
        if cfg.rank_trusted_only:
            # the crawl's seed keys, under the same canonicalization the
            # frontier keys got, so teleport mass lands on real nodes
            from webcollector_spark.functions.urls import canonical_url_col

            sdf = seed_rows(self.spark, self._seeds + self._forced_seeds)
            key = F.col("key")
            if cfg.canonicalize_link_keys:
                key = F.when(
                    F.col("key") == F.col("url"),
                    canonical_url_col(F.col("url")),
                ).otherwise(F.col("key"))
            seeds = sdf.select(key.alias("node"))
        ranks = pagerank(edges, iters=cfg.pagerank_iters, seeds=seeds)
        self.store.inject(
            priorities_from_ranks(self.store.load(), ranks), force=True
        )

    def _write_round_partition(self, df: DataFrame, path: str, r: int) -> None:
        """Append df as partition round=r of a history table, replacing
        that partition if it exists (crash-resume idempotence) without
        touching other rounds (dynamic partition overwrite)."""
        prev_mode = self.spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode", "static"
        )
        self.spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            (
                df.withColumn("round", F.lit(r))
                .write.mode("overwrite")
                .partitionBy("round")
                .parquet(path)
            )
        finally:
            self.spark.conf.set(
                "spark.sql.sources.partitionOverwriteMode", prev_mode
            )

    # -- inspection ------------------------------------------------------
    def frontier(self) -> DataFrame:
        return self.store.load()

    def visited(self) -> DataFrame:
        return self.store.load().filter(F.col("status") != STATUS_DB_UNEXECUTED)

    def host_stats(self) -> DataFrame:
        """Per-host crawl health (the metrics surface next to
        store.rounds_df lineage): pending/success/failed counts, mean
        depth, retry pressure."""
        return (
            self.store.load()
            .groupBy("host")
            .agg(
                F.count("*").alias("n_rows"),
                F.sum((F.col("status") == STATUS_DB_UNEXECUTED).cast("long")).alias(
                    "pending"
                ),
                F.sum((F.col("status") == STATUS_DB_SUCCESS).cast("long")).alias(
                    "succeeded"
                ),
                F.sum((F.col("status") == STATUS_DB_FAILED).cast("long")).alias(
                    "failed"
                ),
                F.round(F.avg("depth"), 3).alias("avg_depth"),
                F.max("execute_count").alias("max_execute_count"),
            )
        )


class RamCrawler(BreadthCrawler):
    """One-shot in-memory crawl: run until a round generates zero
    (reference plugin/ram/RamCrawler.java:30-43, start(MAX_VALUE))."""

    def start(self, max_depth: int | None = None) -> list[RoundMetrics]:
        return super().start(max_depth if max_depth is not None else 1 << 30)
