"""The benchmark's workloads.

Each is a batch job timed from its start to a committed result, driven
through the engine's public API. The crawl inputs come from the seed
only, through `fixtures.make_site_graph` / `fixtures.make_corpus`; the
query suite reads the fixed tables in `sf0.01/` next to this file. The
engine sees nothing else. Knobs not named below stay at their
`CrawlerConfig` defaults, so a change to a default shows up in the
numbers.

A workload has three steps the harness repeats: `make_inputs` (no
Spark), `prepare` (Spark-side set-up) and `run` (one timed pass).
`run_traced` drives the same pass through the engine's public calls in
`BreadthCrawler.start`'s order with a span around each, and `check`
compares the last pass's output with an independent expectation.
"""

from __future__ import annotations

import hashlib
import shutil
import sys
import time
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pandas as pd

from pyspark import StorageLevel
from pyspark.sql import functions as F

from webcollector_spark import BreadthCrawler, CrawlerConfig, RamCrawler, fixtures
from webcollector_spark.crawler import seed_rows
from webcollector_spark.operators.fetch import fetch as fetch_op
from webcollector_spark.operators.fetch import verify_payload
from webcollector_spark.operators.generate import generate, generate_per_host
from webcollector_spark.operators.parse import discovered_links
from webcollector_spark.operators.recrawl import schedule_recrawl
from webcollector_spark.operators.seen import build_bloom, seen_filter
from webcollector_spark.oracle import OracleCrawler
from webcollector_spark.schema import (
    FRONTIER_SCHEMA,
    STATUS_DB_FAILED,
    STATUS_DB_SUCCESS,
)
from webcollector_spark.sources.requester import SyntheticRequester

from metrics import PLAN_QUERIES
from spans import Tracer

HERE = Path(__file__).resolve().parent
SUITE_DIR = HERE / "sf0.01"
SUITE_TABLES = ("events", "documents", "embeddings")
CORE_COLS = [f.name for f in FRONTIER_SCHEMA.fields]
MEM_DISK = StorageLevel.MEMORY_AND_DISK
IMAGE_SIZES = (128, 192, 256)
HOUR_MS = 3_600_000


@dataclass
class Pass:
    """One timed pass: its wall time, the items it completed (URL datums
    executed, or queries answered) and how many of them failed."""

    wall_s: float
    items: int
    failed: int = 0
    round_s: float = 0.0  # summed RoundMetrics.wall_ms of the pass


def input_digest(*frames) -> str:
    """sha256 over the input tables, column by column."""
    h = hashlib.sha256()
    for df in frames:
        for col in df.columns:
            h.update(col.encode())
            for v in df[col]:
                if isinstance(v, bytes):
                    h.update(v)
                elif isinstance(v, np.ndarray):
                    h.update(v.tobytes())
                else:
                    h.update(repr(list(v) if isinstance(v, list) else v).encode())
    return h.hexdigest()[:16]


def _site(seed: int, n_pages: int, out_degree: int, images: bool):
    """Graph + corpus for a crawl workload: `n_pages` pages on 24 hosts
    (host 0 holds about half), every page served with code 200 and its
    out-links kept only where they point at pages of the graph, so no
    fetch fails. With `images` each page carries one of 100 images of
    128-256 px, round-robin; without, pages carry none."""
    graph = fixtures.make_site_graph(n_pages, n_hosts=24, out_degree=out_degree, seed=seed)
    graph["out_links"] = [
        [u for u in links if "/dead/" not in u] for links in graph["out_links"]
    ]
    graph["http_code"], graph["location"] = 200, None
    corpus = fixtures.make_corpus(100 if images else 1, seed=seed, sizes=IMAGE_SIZES)
    graph["image_id"] = (
        [f"img{i % len(corpus):08d}" for i in range(n_pages)] if images else None
    )
    return graph, corpus


def _sample(seq, n: int, seed: int) -> list:
    idx = np.random.default_rng(seed).choice(len(seq), min(n, len(seq)), replace=False)
    return [seq[i] for i in sorted(idx)]


def _bytes_under(path: str | None) -> dict[str, int]:
    out = {}
    for p in Path(path).rglob("*") if path else ():
        if p.is_file():
            out[str(p)] = p.stat().st_size
    return out


def _payload_ok(spark, fetched, corpus) -> tuple[int, int]:
    """(rows checked, rows whose caption and phash equal the corpus)."""
    dim = spark.createDataFrame(corpus[["image_id", "caption", "phash"]])
    row = verify_payload(fetched.filter(F.col("code") == 200), dim).agg(
        F.count("*").alias("n"),
        F.coalesce(
            F.sum((F.col("caption_ok") & F.col("phash_ok")).cast("long")), F.lit(0)
        ).alias("ok"),
    ).collect()[0]
    return row["n"], row["ok"]


class Workload:
    name = ""
    why = ""

    def __init__(self, seed: int, work: Path):
        self.seed = seed
        self.work = work / self.name

    def make_inputs(self) -> str:
        raise NotImplementedError

    def prepare(self, spark) -> None:
        pass

    def warm(self, spark) -> None:
        """Untimed work before the timed passes."""

    def run(self, spark) -> Pass:
        raise NotImplementedError

    def run_traced(self, spark, tr: Tracer) -> Pass:
        raise NotImplementedError

    def check(self, spark) -> list[tuple[str, bool]]:
        raise NotImplementedError

    def kernel_sample(self):
        """(requester, frontier rows, revalidate) for the kernel level,
        or None when the workload fetches no pages."""
        return None


# --------------------------------------------------------------------------
# crawl workloads


class CrawlWorkload(Workload):
    KERNEL_ROWS = 100

    def __init__(self, seed: int, work: Path):
        super().__init__(seed, work)
        # the last traced pass's (generated, fetched) rows per round, for
        # `check`; empty after an untraced pass
        self._rounds: list = []

    def _requester(self) -> SyntheticRequester:
        return SyntheticRequester(self.graph.to_dict("records"), self.corpus.to_dict("records"))

    def _traced_round(self, tr: Tracer, crawler, bc_req) -> tuple[int, int]:
        """One round through the same public calls as
        `BreadthCrawler.start`, in its order, each knob these workloads
        leave at its default taking the default branch. Lazy results are
        materialised inside their span so each phase's work lands in it.
        Keeps the round's generated and fetched rows for `check`."""
        cfg, store = crawler.config, crawler.store
        with tr.span("round"):
            with tr.span("store.load"):
                frontier = store.load()
                approx = store.cheap_count()
            with tr.span("generate") as sp:
                if cfg.per_host_top_k > 0:
                    salt = (
                        cfg.host_salt_buckets
                        if approx is None or approx >= cfg.salt_min_frontier
                        else 1
                    )
                    gen = generate_per_host(
                        frontier, cfg.per_host_top_k, cfg.max_execute_count,
                        cfg.top_n, salt, cfg.generator_filter,
                    )
                else:
                    gen = generate(
                        frontier, cfg.top_n, cfg.max_execute_count,
                        cfg.generator_filter,
                    )
                gen = gen.persist(MEM_DISK)
                sp.counts["rows"] = n_gen = gen.count()
            with tr.span("fetch") as sp:
                fetched = fetch_op(gen, bc_req, cfg, n_rows=n_gen).persist(MEM_DISK)
                row = fetched.agg(
                    F.sum((F.col("status") == STATUS_DB_FAILED).cast("long")).alias("failed"),
                    F.sum(F.col("meta")["not_modified"].isNotNull().cast("long")).alias("nm"),
                    F.sum((F.col("caption").isNotNull() & F.col("phash").isNotNull())
                          .cast("long")).alias("pairs"),
                ).collect()[0]
                n_failed = row["failed"] or 0
                sp.counts.update(rows=n_gen, failed=n_failed,
                                 not_modified=row["nm"] or 0, pairs=row["pairs"] or 0)
            with tr.span("parse") as sp:
                links = discovered_links(
                    fetched, dedup=False, canonical_keys=cfg.canonicalize_link_keys
                ).persist(MEM_DISK)
                sp.counts["links"] = n_links = links.count()
            fresh = links
            if 0 < cfg.bloom_capacity and approx is not None and cfg.bloom_min_frontier <= approx:
                with tr.span("seen.build"):
                    bloom = build_bloom(
                        frontier.select("key"), "key",
                        max(cfg.bloom_capacity, approx), cfg.bloom_fpp,
                    )
                with tr.span("seen.filter") as sp:
                    fresh = seen_filter(
                        links, frontier.select("key"), "key", bloom
                    ).persist(MEM_DISK)
                    sp.counts.update(kept=fresh.count(), candidates=n_links)
            path = getattr(store, "path", None)
            before = _bytes_under(path)
            with tr.span("store.merge") as sp:
                n_new = store.merge(fetched.select(*CORE_COLS), fresh)
                store.log_round(
                    round=store.last_round() + 1, generated=n_gen,
                    fetched=n_gen - n_failed, failed=n_failed, new_links=n_new,
                    wall_ms=0,
                )
                sp.counts["new_links"] = n_new
            sp.counts["bytes_written"] = sum(
                s for p, s in _bytes_under(path).items() if p not in before
            )
            for df in {id(d): d for d in (links, fresh)}.values():
                df.unpersist()
        self._rounds.append((gen, fetched))
        return n_gen, n_failed

    def _release_rounds(self) -> None:
        for gen, fetched in self._rounds:
            gen.unpersist()
            fetched.unpersist()
        self._rounds = []


class FreshRound(CrawlWorkload):
    name = "fresh_round"
    why = (
        "fetch kernels dominate: one round over 2,000 unexecuted pages that "
        "each carry a 128-256 px data-URI image; merge is a small share"
    )
    N_PAGES = 2000
    # frontier rows of the untimed warm-up round: enough for every plan and
    # the fetch path to be compiled and loaded, small enough to be cheap
    WARM_ROWS = 64

    def make_inputs(self) -> str:
        self.graph, self.corpus = _site(self.seed, self.N_PAGES, 4, images=True)
        # per-host scheduler on, k >= frontier: one round fetches it all
        self.cfg = CrawlerConfig(per_host_top_k=self.N_PAGES)
        self.requester = self._requester()
        return input_digest(self.graph, self.corpus)

    def prepare(self, spark) -> None:
        self.frontier = seed_rows(spark, sorted(self.graph["url"])).localCheckpoint(eager=True)

    def _crawler(self, spark, frontier) -> RamCrawler:
        c = RamCrawler(spark, self.requester, config=self.cfg)
        c.store.inject(frontier)
        return c

    def warm(self, spark) -> None:
        """One untimed round over the first WARM_ROWS frontier rows, so
        the round's plans are compiled and every Python worker has run
        the fetch path before timing starts."""
        self._crawler(spark, self.frontier.orderBy("key").limit(self.WARM_ROWS)).start(1)

    def run(self, spark) -> Pass:
        self._release_rounds()
        c = self._crawler(spark, self.frontier)
        t0 = time.perf_counter()
        ms = c.start(1)
        wall = time.perf_counter() - t0
        self.last = c
        return Pass(wall, sum(m.generated for m in ms), sum(m.failed for m in ms),
                    sum(m.wall_ms for m in ms) / 1000.0)

    def run_traced(self, spark, tr: Tracer) -> Pass:
        self._release_rounds()
        c = self._crawler(spark, self.frontier)
        bc = spark.sparkContext.broadcast(c.requester)
        with tr.span("pass") as sp:
            n_gen, n_failed = self._traced_round(tr, c, bc)
        self.last = c
        return Pass(sp.duration, n_gen, n_failed)

    def check(self, spark) -> list[tuple[str, bool]]:
        # links all point into the graph, so the frontier is exactly its
        # pages: N rows, each fetched once with code 200
        n_ok, n_rows = self.last.frontier().agg(
            F.sum(((F.col("execute_count") == 1) & (F.col("code") == 200)
                   & (F.col("status") == STATUS_DB_SUCCESS)).cast("long")),
            F.count("*"),
        ).collect()[0]
        checks = [("every page fetched once with code 200",
                   n_ok == n_rows == len(self.graph))]
        if self._rounds:
            # the harvest is visible only in a traced pass (start() keeps
            # its fetched rows to itself)
            n, ok = _payload_ok(spark, self._rounds[0][1], self.corpus)
            checks.append(("verify_payload: every caption and phash equals "
                           "the corpus", n == n_rows and ok == n))
        self._release_rounds()
        return checks

    def kernel_sample(self):
        rows = [
            {"url": u, "execute_count": 0, "meta": None}
            for u in _sample(sorted(self.graph["url"]), self.KERNEL_ROWS, self.seed)
        ]
        return self.requester, rows, False


class DeepCrawl(CrawlWorkload):
    name = "deep_crawl"
    why = (
        "round loop and store dominate: 2 BFS rounds over 4,000 image-free pages "
        "with a growing per-host backlog, then a revalidation round, ~90% 304"
    )
    N_PAGES = 4000
    OUT_DEGREE = 24
    N_SEEDS = 24
    ROUNDS = 2
    # the seeds all sit on the big host, so round 0 fetches all of them
    # and round 1 fills host 0's window while the other hosts' backlog
    # starts; each seed visits ~300 pages and knows ~3,400
    PER_HOST_K = 25
    BUMPED = 0.10

    def make_inputs(self) -> str:
        """The graph, and from a single-process OracleCrawler over it the
        expected per-round generated keys, frontier and visited set. A
        seed-chosen 10% of the visited pages change between the BFS and
        the revalidation round; `etags` are the validators the BFS
        stores."""
        self.graph, self.corpus = _site(self.seed, self.N_PAGES, self.OUT_DEGREE, images=False)
        self.seeds = fixtures.seeds_for(self.graph, self.N_SEEDS)
        # persistent store, per-host window below the host sizes so the
        # backlog grows, bloom pre-prune + exact anti-join every round,
        # validators kept for the revalidation round
        self.cfg = CrawlerConfig(
            per_host_top_k=self.PER_HOST_K, bloom_min_frontier=1, revalidate=True
        )
        # the revalidation round resumes the same store and generates
        # only the requeued (already executed) pages
        self.recfg = CrawlerConfig(
            revalidate=True, bloom_min_frontier=1, resumable=True,
            generator_filter="execute_count >= 1",
        )
        oracle = OracleCrawler(self._requester(), per_host_top_k=self.PER_HOST_K)
        oracle.inject(self.seeds)
        oracle.start(self.ROUNDS)
        self.want_rounds = [sorted(r) for r in oracle.generated_per_round]
        self.want_keys = set(oracle.db)
        self.visited = sorted(k for k, d in oracle.db.items() if d.status == STATUS_DB_SUCCESS)
        req = self._requester()
        self.etags = {u: req.fetch(u).etag for u in self.visited}
        self.bumped = set(_sample(self.visited, int(self.BUMPED * len(self.visited)), self.seed))
        return input_digest(self.graph)

    def _new_pass(self):
        """A requester with no page changed yet and an empty store dir."""
        path = self.work / "crawldb"
        shutil.rmtree(path, ignore_errors=True)
        return self._requester(), str(path)

    def _change_pages(self, req) -> None:
        for url in self.bumped:
            req.bump_page(url)

    def _requeue(self, store) -> int:
        # every page fetched in this pass is younger than now + 2 h by
        # more than an hour: all are requeued
        return schedule_recrawl(store, int(time.time() * 1000) + 2 * HOUR_MS, HOUR_MS)

    def warm(self, spark) -> None:
        """One untimed BFS round, so the round's plans are compiled and
        every Python worker has run the fetch path before timing starts.
        The revalidation round's few plans of its own are left to the
        timed pass: warming them too would cost a round and a requeue."""
        req, path = self._new_pass()
        BreadthCrawler(spark, req, crawl_path=path, config=self.cfg).add_seed(self.seeds).start(1)

    def run(self, spark) -> Pass:
        self._release_rounds()
        req, path = self._new_pass()
        t0 = time.perf_counter()
        c = BreadthCrawler(spark, req, crawl_path=path, config=self.cfg)
        ms = c.add_seed(self.seeds).start(self.ROUNDS)
        self._change_pages(req)
        c = BreadthCrawler(spark, req, crawl_path=path, config=self.recfg)
        self._requeue(c.store)
        ms = ms + c.start(self.ROUNDS + 1)
        wall = time.perf_counter() - t0
        self.last, self.last_metrics = c, ms
        return Pass(wall, sum(m.generated for m in ms), sum(m.failed for m in ms),
                    sum(m.wall_ms for m in ms) / 1000.0)

    def run_traced(self, spark, tr: Tracer) -> Pass:
        self._release_rounds()
        req, path = self._new_pass()
        n_gen = n_failed = 0
        with tr.span("pass") as sp:
            c = BreadthCrawler(spark, req, crawl_path=path, config=self.cfg)
            c.store.inject(seed_rows(spark, self.seeds))
            bc = spark.sparkContext.broadcast(req)
            for _ in range(self.ROUNDS):
                g, f = self._traced_round(tr, c, bc)
                n_gen, n_failed = n_gen + g, n_failed + f
            self._change_pages(req)
            c = BreadthCrawler(spark, req, crawl_path=path, config=self.recfg)
            with tr.span("recrawl.schedule") as rs:
                rs.counts["rows"] = self._requeue(c.store)
            bc = spark.sparkContext.broadcast(req)
            g, f = self._traced_round(tr, c, bc)
            n_gen, n_failed = n_gen + g, n_failed + f
        self.last, self.last_metrics = c, None
        return Pass(sp.duration, n_gen, n_failed)

    def check(self, spark) -> list[tuple[str, bool]]:
        rows = {r.key: r for r in self.last.frontier().collect()}
        if self.last_metrics is not None:
            got = [m.generated for m in self.last_metrics[: self.ROUNDS]]
            per_round = ("BFS rounds generate as many pages as OracleCrawler",
                         got == [len(r) for r in self.want_rounds])
        else:
            got = [sorted(g.select("key").toPandas()["key"]) for g, _ in self._rounds[: self.ROUNDS]]
            per_round = ("BFS rounds generate OracleCrawler's keys", got == self.want_rounds)

        def revalidated(url):
            r = rows.get(url)
            meta = (r.meta or {}) if r else {}
            if r is None or r.status != STATUS_DB_SUCCESS or r.execute_count != 2:
                return False
            tag = self.etags[url]
            if url in self.bumped:
                return r.code == 200 and meta.get("etag") not in (None, tag) \
                    and "not_modified" not in meta
            return r.code == 304 and meta.get("etag") == tag \
                and meta.get("not_modified") == "1"

        checks = [
            per_round,
            ("frontier keys equal OracleCrawler's", set(rows) == self.want_keys),
            ("visited set equals OracleCrawler's",
             {k for k, r in rows.items() if r.execute_count >= 1} == set(self.visited)),
            ("unchanged pages end 304 with their ETag kept",
             all(revalidated(u) for u in self.visited if u not in self.bumped)),
            ("changed pages end 200 with a rotated ETag",
             all(revalidated(u) for u in self.bumped)),
        ]
        self._release_rounds()
        return checks

    def kernel_sample(self):
        rows = [
            {"url": u, "execute_count": 0, "meta": None}
            for u in _sample(self.visited, self.KERNEL_ROWS, self.seed)
        ]
        return self._requester(), rows, False


class Crawl(Workload):
    """`FreshRound`'s pass, then `DeepCrawl`'s, timed together. The two
    stress different layers; they share one workload because every run
    starts a JVM and compiles its plans afresh, and those fixed costs
    leave room for only two workloads in an evaluation's time."""

    name = "crawl"
    why = (
        "fetch kernels, then round loop and store: one round over 2,000 unexecuted "
        "image pages, then 2 BFS rounds and a revalidation round over 4,000 others"
    )

    def __init__(self, seed: int, work: Path):
        super().__init__(seed, work)
        self.parts = (FreshRound(seed, self.work), DeepCrawl(seed, self.work))

    def make_inputs(self) -> str:
        return "+".join(p.make_inputs() for p in self.parts)

    def prepare(self, spark) -> None:
        for p in self.parts:
            p.prepare(spark)

    def warm(self, spark) -> None:
        for p in self.parts:
            p.warm(spark)

    def run(self, spark) -> Pass:
        return self._sum([p.run(spark) for p in self.parts])

    def run_traced(self, spark, tr: Tracer) -> Pass:
        with tr.span("pass") as sp:
            total = self._sum([p.run_traced(spark, tr) for p in self.parts])
        total.wall_s = sp.duration
        return total

    @staticmethod
    def _sum(passes: list[Pass]) -> Pass:
        return Pass(sum(p.wall_s for p in passes), sum(p.items for p in passes),
                    sum(p.failed for p in passes), sum(p.round_s for p in passes))

    def check(self, spark) -> list[tuple[str, bool]]:
        return [(f"{p.name}: {name}", ok) for p in self.parts for name, ok in p.check(spark)]

    def kernel_sample(self):
        # the image pages: the deep part's pages run the same kernels
        # minus the image ones
        return self.parts[0].kernel_sample()


# --------------------------------------------------------------------------
# query suite


class CurationSuite(Workload):
    name = "curation_suite"
    why = (
        "the only workload on plans/queries.py: 11 registry queries over the "
        "fixed sf0.01 events/documents/embeddings, each checked against DuckDB"
    )
    QUERIES = PLAN_QUERIES

    def make_inputs(self) -> str:
        """The tables are fixed: every seed reads the same ones."""
        return input_digest(*(pd.read_parquet(SUITE_DIR / f"{t}.parquet") for t in SUITE_TABLES))

    def prepare(self, spark) -> None:
        from webcollector_spark.plans import queries as Q

        self.fns = {q: Q.queries()[q] for q in self.QUERIES}
        self.sql = {q: Q.oracle_sql()[q] for q in self.QUERIES}

    def warm(self, spark) -> None:
        """Each query once, untimed."""
        self.run(spark)

    def run(self, spark) -> Pass:
        out = {}
        t0 = time.perf_counter()
        for q, fn in self.fns.items():
            out[q] = fn(spark, str(SUITE_DIR)).toArrow()
        wall = time.perf_counter() - t0
        self.last = out
        return Pass(wall, len(out))

    def run_traced(self, spark, tr: Tracer) -> Pass:
        out = {}
        with tr.span("pass") as sp:
            for q, fn in self.fns.items():
                with tr.span(f"plans.{q}"):
                    out[q] = fn(spark, str(SUITE_DIR)).toArrow()
        self.last = out
        return Pass(sp.duration, len(out))

    def check(self, spark) -> list[tuple[str, bool]]:
        """Each result against its DuckDB oracle over the same parquet:
        column names, Arrow type families and an order-insensitive value
        multiset, compared the way tools/check_oracle.py compares them."""
        import duckdb

        sys.path.insert(0, str(HERE.parent / "tools"))
        from check_oracle import arrow_types, as_multiset

        def rows(t):
            cols = list(t.column_names)
            return cols, [tuple(d[c] for c in cols) for d in t.to_pylist()]

        con = duckdb.connect()
        for t in SUITE_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SUITE_DIR}/{t}.parquet')")
        checks = []
        for q, got in self.last.items():
            want = con.execute(self.sql[q]).arrow()
            (gc, gr), (wc, wr) = rows(got), rows(want)
            checks.append((
                f"{q} equals its DuckDB oracle",
                sorted(gc) == sorted(wc)
                and arrow_types(got) == arrow_types(want)
                and as_multiset(gc, gr) == as_multiset(wc, wr),
            ))
        con.close()
        return checks


WORKLOADS = {w.name: w for w in (Crawl, CurationSuite)}
