"""Crawler configuration.

Mirrors the reference's Configuration/Config knob set (defaults from
/root/reference src util/Config.java:27-43, crawler/Crawler.java:60) plus
graft-mandated extensions (per-host politeness budget, per-host top-k,
bloom sizing) that the reference lacks (SURVEY.md scope warning).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class CrawlerConfig:
    # --- reference-equivalent knobs ---------------------------------
    # Per-round generation cap; 0 = unlimited (util/Config.java:38).
    top_n: int = 0
    # Retry gate: generated while execute_count <= max (STRICT `>` drop,
    # crawldb/Generator.java:65 — a task can run max+1 times total).
    max_execute_count: int = 10
    # Politeness sleep between requests of one worker, ms
    # (util/Config.java:40, applied fetcher/Fetcher.java:275-281).
    execute_interval_ms: int = 0
    # Fetch pool parallelism (crawler/Crawler.java:60). In Spark this
    # becomes the most fetch partitions a round uses.
    threads: int = 50
    # Body cap for the fetch pass's transfer decode (util/Config.java:28).
    # Timeouts, user agent and cookie belong to the requester
    # (`HttpRequester`'s own arguments).
    max_receive_size: int = 10 * 1024 * 1024
    # Resume: keep existing crawldb instead of wiping (Crawler.java:101-110).
    resumable: bool = False
    # Auto-parse: harvest a[href] (+ *[src] when detect_img) from HTML
    # (crawler/AutoParseCrawler.java).
    auto_parse: bool = True
    auto_detect_img: bool = False
    # Sitemap ingestion (operators/sitemap.py — NOT in reference): parse
    # fetched sitemap XML into frontier rows via JVM regex, and harvest
    # robots.txt "Sitemap:" directives for seed hosts at start(). When
    # on, the fetch UDF retains content ONLY for sitemap-shaped bodies
    # (bounded by the protocol's 50k-URL/file limit), so HTML pages
    # still ship zero payload bytes at keep_content=False.
    parse_sitemaps: bool = False
    # Keep raw page bytes in the fetched DataFrame. The reference's Page
    # content is transient (model/Page.java:43-61 — never persisted);
    # extraction happens inside the fetch UDF, so the engine defaults to
    # dropping the bytes after parsing. Enabling this at 10^10 scale
    # multiplies the round's Arrow transfer + persist by the page size.
    keep_content: bool = False
    # Harvest-time image-quality gate (0 = off). When set, the fetch
    # pass estimates each extracted JPEG's encode quality from its DQT
    # header (jpeg.header_quality — no extra decode; the pixels were
    # already decoded for phash) and, below the threshold, drops the
    # image/caption training pair (caption + phash nulled, meta flag
    # "img_q_low") while KEEPING the page's links: a thumbnail-mill
    # page still routes the crawl to originals, but its payload never
    # enters the corpus. At 10^9 images this is the storage-budget
    # decision made at the earliest possible moment. The estimate is
    # always recorded in meta["img_q"] when the payload is JPEG, gate
    # on or off.
    min_image_quality: int = 0
    # Conditional revalidation (RFC 9110): when on, every 200 response's
    # ETag is stored in meta["etag"], and a later fetch of the same key
    # sends it as If-None-Match. A 304 answer counts as SUCCESS with
    # meta["not_modified"]="1" and ships ZERO payload bytes — at a
    # 10^7-URL recrawl round with ~200 KB pages and a typical 80-95%
    # unchanged rate, that is the difference between ~2 TB and ~200 GB
    # of transfer. Off by default: the replay oracle mirrors the
    # reference, which has no conditional-fetch path.
    revalidate: bool = False

    # --- graft extensions (NOT in reference; north_rule mandates) ----
    # Per-host cap within a round (reference: one host can monopolize all
    # 50 threads — we window-rank per host instead).
    per_host_top_k: int = 0  # 0 = disabled -> reference-exact global topN
    # Per-host politeness budget: max fetches/sec per host inside the
    # fetch UDF's token bucket.
    per_host_rate: float = 0.0  # 0 = unlimited
    # Salting factor for hot-host defense in the per-host window.
    host_salt_buckets: int = 8
    # Only salt once the frontier is big enough for one host's window
    # partition to matter (measured crossover ~10^6 rows — below it the
    # extra shuffle costs more than the skew, tools/skew_bench.py).
    # Salting never changes which rows generate returns, only its cost.
    salt_min_frontier: int = 1_000_000
    # Politeness-aware round sizing (graft; the reference tunes topN
    # blind — a fixed number against a global executeInterval,
    # crawldb/Generator.java:49-78 + util/Config.java). When > 0 and
    # per-host top-k mode is on, clamp each host's k so its serial
    # politeness drain (picks x gap) fits this wall-time target:
    # a scalar clamp from the CONFIGURED gap (per_host_rate /
    # execute_interval_ms) up front, plus a per-host clamp from the
    # robots Crawl-delays the PREVIOUS round's fetch actually honored
    # (fetched.robots_delay_ms -> host_budget_plan-style fit_k =
    # target DIV delay). Floor of 1 pick per host: a single fetch pays
    # no inter-request gap, so it can never overshoot the target, and
    # a slow host keeps making progress instead of starving forever.
    host_budget_target_ms: int = 0
    # Bloom filter sizing for the distributed URL-seen pre-prune.
    bloom_capacity: int = 1_000_000
    bloom_fpp: float = 0.01
    # Only build the bloom once the frontier exceeds this many rows —
    # below it the exact anti-join is cheaper than the bloom-build pass
    # (the bloom pays off when seen-keys no longer broadcast, i.e. at
    # 10^8-10^10 scale; building it for a 10^4-row frontier just adds a
    # Python-worker job per round).
    bloom_min_frontier: int = 2_000_000
    # Canonicalize URL keys (lowercase scheme/host, strip default port,
    # drop fragment, sort query params — functions/urls.py). The
    # reference keys on the raw url string (CrawlDatum.java:239-245), so
    # case/fragment/param-order aliases crawl twice; at 10^10 keys the
    # aliases inflate the frontier and the URL-seen filter. Off by
    # default to preserve reference-exact ordering; applies to string
    # seeds and auto-parsed links (explicit user keys are never touched).
    canonicalize_link_keys: bool = False
    # robots.txt politeness cache TTL (seconds); 0 disables robots checks.
    robots_ttl_s: int = 3600
    # The politeness token bucket is partition-local, so a robots
    # Crawl-delay is a TRUE per-host cap only when the host's URLs are
    # co-located in one partition. Co-location costs 1.5-2x on skewed
    # frontiers (BENCH_SKEW.json), so it is opt-in: strict mode forces
    # host co-location whenever robots checks are enabled; with it off,
    # round-robin partitioning bounds a delay-declaring host at
    # (partitions / delay) req/s instead of (1 / delay).
    strict_robots_delay: bool = False
    # Optional fetched-history table (north-star "fetched" table): when
    # set, every round appends its executed datums (content column
    # dropped — page bytes stay transient) to this parquet path,
    # partitioned by round. In the Iceberg deployment this is an append
    # to a `fetched` table; offline analyses (per-round code/status
    # drift, recrawl policies) read it without touching the frontier.
    fetched_history_path: str | None = None
    # Optional per-host metrics history (north-star "per-partition
    # lineage + metrics"): one row per (round, host) with fetch/fail/
    # robots-denied counts, retry depth, and links emitted — O(hosts)
    # rows per round, partitioned by round, crash-resume idempotent.
    # Offline consumers: politeness tuning, dead-host pruning, per-host
    # crawl-health dashboards.
    host_metrics_path: str | None = None
    # PageRank-driven scheduling (operators/rank.py): every k completed
    # rounds, compute PageRank over the link graph observed so far in
    # fetched_history (src page -> harvested link) and re-prioritize the
    # pending frontier (priority = -rank), so the NEXT generate leads
    # with the most-linked-to pages. 0 = off. Requires
    # fetched_history_path (the edge source). This upgrades the
    # reference's key-order generation (crawldb/Generator.java:49-78) to
    # importance order — the "partitioned priority queue" of the north
    # star with a principled priority source.
    rank_priorities_every: int = 0
    pagerank_iters: int = 3
    # TrustRank variant of the same scheduler (operators/rank.py
    # pagerank(seeds=...)): restrict the teleport set to the crawl's own
    # seed list — the classic TrustRank bootstrap (the operator hand-
    # picked trusted pages; a curated seed list IS that set). Pages
    # unreachable from any seed rank 0 and sink to the back of every
    # per-host generate, so link-spam islands starve instead of
    # competing for politeness budget. Needs rank_priorities_every > 0.
    rank_trusted_only: bool = False
    # UCB1 adaptive host budgets (graft; operators/rank.py ucb_budget_k):
    # treat each host as a bandit arm — pull = fetch, reward = the fetch
    # emitted at least one outlink/datum — and scale each host's per-round
    # generate budget by its UCB1 score mean_yield + sqrt(c ln t / n),
    # normalized so the best-scoring host keeps the full per_host_top_k.
    # Unseen hosts carry no history row and keep the full k (the
    # optimistic initialization UCB requires), well-sampled dead ends
    # (link farms pointing nowhere, exhausted archives) decay toward one
    # pick per round instead of burning politeness budget forever
    # (exploration constant c = 2). Composes with host_budget_target_ms
    # by taking the per-host MINIMUM of the two budgets. Both read one
    # O(hosts-seen) state frame the crawler folds per round; advisory on
    # resume.
    ucb_host_budget: bool = False
    # Target generated rows per fetch task: the fetch stage uses
    # min(threads, ceil(n_gen / rows_per_fetch_task)) partitions
    # so small rounds don't pay per-task Python-worker setup for empty
    # partitions. A one-task empty engine job costs ~130-150 ms on a
    # 4-core box (tools/worker_task_cost.py): ~40-50 ms from collect()
    # to the function's first line, ~40 ms for it to read its one-row
    # Arrow batch, ~15-18 ms back to the driver. Worker-side set-up is
    # under 1 ms of that: invalidate_caches 0.1 ms, UDF unpickle
    # 0.04 ms (without _zipguard.py, pyspark's per-task
    # importlib.invalidate_caches() would add ~190-360 ms by re-reading
    # the pyspark/py4j/spark-core zip directories once per zipimporter).
    rows_per_fetch_task: int = 500

    # RegexRule seeds: "+regex" positive / "-regex" negative
    # (util/RegexRule.java:67-81).
    regex_rules: list[str] = field(default_factory=list)

    # Pluggable NextFilter (fetcher/NextFilter.java:26-39, applied
    # Fetcher.java:246-255): callable (link_url, referer_url) ->
    # rewritten url | None-to-drop. Must be picklable (ships to
    # executors inside the fetch UDF closure).
    next_filter: object | None = None

    # Pluggable GeneratorFilter (crawldb/GeneratorFilter.java:6-14):
    # either a SQL boolean expression over frontier columns (fast path,
    # Catalyst-visible so it pushes down) or an arbitrary Python callable
    # row-dict -> bool (Arrow-batched inside the generate scan, before
    # topN — the reference's filter-then-count order; must be picklable).
    generator_filter: object | None = None
