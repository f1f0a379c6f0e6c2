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

from webcollector_spark.config import CrawlerConfig
from webcollector_spark.operators.fetch import CODE_ROBOTS_DENIED, min_gap_ms
from webcollector_spark.operators.fetch import fetch as fetch_op
from webcollector_spark.operators.generate import generate, generate_per_host
from webcollector_spark.operators.parse import (
    canonical_default_keys,
    discovered_datums,
    discovered_links,
)
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
# the per-host metrics history row (config.host_metrics_path)
_HOST_METRICS_COLS = [
    "host", "fetched", "failed", "robots_denied", "avg_execute_count",
    "links_emitted",
]


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


def host_round_stats(fetched: DataFrame) -> DataFrame:
    """One round's per-host aggregate of the fetch pass: the metrics
    history row (`_HOST_METRICS_COLS`) plus the scheduling observations
    n_yield (fetches that emitted at least one link or visitor datum)
    and delay_ms (the largest robots Crawl-delay honored; > 0, not
    isNotNull — a sub-millisecond delay rounds to 0 ms and would make
    the fit division NULL). O(hosts) rows."""

    def size(col):  # null-safe element count
        return F.when(F.col(col).isNull(), 0).otherwise(F.size(col))

    # auto-parse emissions live in `links`, visitor emissions in
    # `next_datums` — count both
    emitted = size("links") + size("next_datums")
    return fetched.groupBy("host").agg(
        F.count("*").alias("fetched"),
        F.sum((F.col("status") == STATUS_DB_FAILED).cast("long")).alias("failed"),
        F.sum((F.col("code") == CODE_ROBOTS_DENIED).cast("long")).alias(
            "robots_denied"
        ),
        F.avg("execute_count").alias("avg_execute_count"),
        F.sum(emitted).alias("links_emitted"),
        F.sum((emitted > 0).cast("long")).alias("n_yield"),
        F.max(
            F.when(F.col("robots_delay_ms") > 0, F.col("robots_delay_ms"))
        ).alias("delay_ms"),
    )


def _write_round_partition(df: DataFrame, path: str, r: int) -> None:
    """Append df as partition round=r of a history table, replacing
    that partition if it exists (crash-resume idempotence) without
    touching other rounds. Dynamic partition overwrite is this writer's
    own option, so the session's setting is left as it is."""
    (
        df.withColumn("round", F.lit(r))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("round")
        .parquet(path)
    )


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
        # per-round salt decisions, for introspection/tests
        self.salt_history: list[int] = []
        # per-host scheduling state (config.host_budget_target_ms,
        # ucb_host_budget): (host, n_trials, n_yield, delay_ms) folded
        # from every fetch pass so far — O(hosts-seen) rows,
        # localCheckpointed so it survives the per-round
        # fetched.unpersist(). Advisory: resets on resume (the first
        # round after a restart runs unclamped until a fetch re-learns).
        self._host_state: DataFrame | None = None

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

        if self._seeds:
            self.store.inject(self._seed_df(self._seeds), force=False)
        if self._forced_seeds:
            self.store.inject(self._seed_df(self._forced_seeds), force=True)
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
                self.store.inject(self._seed_df(sm_urls), force=False)
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
            gen = self._generate(frontier, n_frontier).persist(
                StorageLevel.MEMORY_AND_DISK
            )
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
                    sm = canonical_default_keys(sm)
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
                _write_round_partition(
                    fetched.drop("content"), cfg.fetched_history_path, r
                )

            # One per-host aggregate of the fetch pass feeds both the
            # optional per-host (= per frontier partition) metrics history
            # — one row per (round, host), the "per-partition lineage +
            # metrics" table, idempotent on crash-resume re-run of a
            # round — and the per-host scheduling state.
            learn = cfg.host_budget_target_ms > 0 or cfg.ucb_host_budget
            if cfg.host_metrics_path or learn:
                per_host = host_round_stats(fetched)
                if cfg.host_metrics_path:
                    _write_round_partition(
                        per_host.select(*_HOST_METRICS_COLS),
                        cfg.host_metrics_path,
                        r,
                    )
                if learn:
                    self._fold_host_state(per_host)

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

    def _seed_df(self, seeds: list) -> DataFrame:
        df = seed_rows(self.spark, seeds)
        if self.config.canonicalize_link_keys:
            df = canonical_default_keys(df)
        return df

    def _generate(self, frontier: DataFrame, n_frontier: int) -> DataFrame:
        """O2: reference-exact global topN, or the per-host top-k window
        salted once the frontier is big enough for skew to matter
        (salting never changes the rows, only the cost) and clamped by
        the per-host k plan."""
        cfg = self.config
        if cfg.per_host_top_k <= 0:
            return generate(
                frontier, cfg.top_n, cfg.max_execute_count, cfg.generator_filter
            )
        salt = cfg.host_salt_buckets if n_frontier >= cfg.salt_min_frontier else 1
        self.salt_history.append(salt)
        # Politeness-aware round sizing: clamp k so no host's serial
        # drain (picks x gap) overshoots the target — scalar clamp from
        # the configured gap here, per-host clamps in _fit_k (config.py
        # host_budget_target_ms; operators/generate.py host_budget_plan
        # documents the floor math).
        k = cfg.per_host_top_k
        if cfg.host_budget_target_ms > 0:
            gap_ms = int(min_gap_ms(cfg.per_host_rate, cfg.execute_interval_ms))
            if gap_ms > 0:
                k = max(1, min(k, cfg.host_budget_target_ms // gap_ms))
        return generate_per_host(
            frontier, k, cfg.max_execute_count, cfg.top_n, salt,
            cfg.generator_filter, fit_k_by_host=self._fit_k(k),
        )

    def _fit_k(self, k: int) -> DataFrame | None:
        """The per-host k plan (host, __fit_k) over `_host_state`: the
        least of the Crawl-delay fit (target DIV delay, floor 1) and,
        with ucb_host_budget, the UCB budget — a host must satisfy both.
        A null fit means the full k (generate_per_host coalesces it): a
        host with no learned Crawl-delay keeps it while UCB is off, and
        hosts with no state row get it through the generate left join
        (UCB's optimistic initialization)."""
        cfg = self.config
        if self._host_state is None:
            return None
        plan = self._host_state
        delay_k = ucb_k = F.lit(None).cast("long")
        if cfg.host_budget_target_ms > 0:
            # when(): greatest skips nulls, so without it a host with no
            # Crawl-delay would be clamped to 1 instead of keeping k
            delay_k = F.when(
                F.col("delay_ms").isNotNull(),
                F.greatest(
                    F.lit(1).cast("long"),
                    F.expr(
                        f"CAST({cfg.host_budget_target_ms} DIV delay_ms AS BIGINT)"
                    ),
                ),
            )
        if cfg.ucb_host_budget:
            from webcollector_spark.operators.rank import ucb_budget_k

            plan = ucb_budget_k(plan, k)
            ucb_k = F.col("__fit_k")
        return plan.select("host", F.least(delay_k, ucb_k).alias("__fit_k"))

    def _fold_host_state(self, per_host: DataFrame) -> None:
        """Fold one round's `host_round_stats` into `_host_state`:
        trials and yields are summed (trial = a fetch attempt, reward =
        it emitted at least one link or visitor datum — the cheap
        per-row proxy for "discovered new frontier keys"; it over-counts
        only links that all turn out seen, which the decaying UCB bonus
        self-corrects on later pulls), Crawl-delays take the max — a
        host that once declared Crawl-delay 30 stays clamped even if a
        later robots fetch fails open, the conservative side of
        politeness. The eager localCheckpoint both materializes the
        frame before fetched.unpersist() and truncates the
        union-of-unions lineage that would otherwise grow per round."""
        d = per_host.select(
            "host", F.col("fetched").alias("n_trials"), "n_yield", "delay_ms"
        )
        if self._host_state is not None:
            d = (
                d.unionByName(self._host_state)
                .groupBy("host")
                .agg(
                    F.sum("n_trials").alias("n_trials"),
                    F.sum("n_yield").alias("n_yield"),
                    F.max("delay_ms").alias("delay_ms"),
                )
            )
        self._host_state = d.localCheckpoint(eager=True)

    def _reprioritize_from_ranks(self) -> None:
        from webcollector_spark.operators.rank import (
            edges_from_history,
            pagerank,
            priorities_from_ranks,
        )

        cfg = self.config
        hist = self.spark.read.parquet(cfg.fetched_history_path)
        edges = edges_from_history(
            hist, canonical=cfg.canonicalize_link_keys
        )
        seeds = None
        if cfg.rank_trusted_only:
            # the crawl's seed keys, under the same canonicalization the
            # frontier keys got, so teleport mass lands on real nodes
            seeds = self._seed_df(self._seeds + self._forced_seeds).select(
                F.col("key").alias("node")
            )
        ranks = pagerank(edges, iters=cfg.pagerank_iters, seeds=seeds)
        self.store.inject(
            priorities_from_ranks(self.store.load(), ranks), force=True
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
