"""O3 Fetch (+O4 dispatch, O5 auto-parse, O12 redirect) — the "map" of
the system (reference fetcher/Fetcher.java:237-281, Executor.execute).

Spark shape: repartition the generated frontier by host (politeness
co-location: every URL of a host lands in one partition, so a
partition-local token bucket is a true per-host rate limit), then one
`mapInPandas` pass does fetch -> status/count/time update -> content-type
dispatch -> HTML decode (lazy, only for text/html) -> link extraction +
RegexRule -> caption/image payload extraction. One Python worker pass
per partition, Arrow batches in and out — no per-row Python at the
Spark boundary (input_hint mandate).

Status rules (Fetcher.java:259-266 + OkHttpRequester.java:48-55):
  code in {200,301,302,404}  -> STATUS_DB_SUCCESS
  transport error / robots   -> STATUS_DB_FAILED (retried next round
                                while execute_count <= max, O11)
  execute_count += 1, execute_time = now (recorded, never scheduled on)
Redirects are NOT followed; code + Location are recorded and the
resolved absolute location is emitted as a discovered link
(DemoRedirectCrawler.java:52-63 pattern, made automatic).
"""

from __future__ import annotations

import time
from collections.abc import Iterator
from dataclasses import replace
from urllib.parse import urljoin

import pandas as pd

from webcollector_spark import codecs, jpeg
from webcollector_spark.config import CrawlerConfig
from webcollector_spark.functions import html as H
from webcollector_spark.functions.charset import decode_html
from webcollector_spark.functions.regex_rule import RegexRule
from webcollector_spark.schema import (
    FETCHED_SCHEMA,
    STATUS_DB_FAILED,
    STATUS_DB_SUCCESS,
)
from webcollector_spark.session import rows_frame
from webcollector_spark.sources.requester import SUCCESS_CODES, Requester, RobotsCache

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# robots-denied sentinel code (graft; the reference has no robots)
CODE_ROBOTS_DENIED = -2


def min_gap_ms(rate_per_s: float, fixed_interval_ms: int) -> float:
    """The per-host politeness gap (ms) the configuration alone sets: the
    larger of 1/per_host_rate and execute_interval_ms, 0 = unlimited.
    Robots Crawl-delays tighten it per host on top."""
    gap = 1000.0 / rate_per_s if rate_per_s > 0 else 0.0
    return max(gap, float(fixed_interval_ms))


class _HostBucket:
    """Per-host politeness token bucket (graft; the reference's politeness
    is a fixed per-thread sleep, Fetcher.java:275-281). A per-host
    `extra_gap` (robots Crawl-delay) tightens the configured budget."""

    def __init__(self, rate_per_s: float, fixed_interval_ms: int):
        self.min_gap = min_gap_ms(rate_per_s, fixed_interval_ms) / 1000.0
        self.last: dict[str, float] = {}

    def wait(self, host: str, extra_gap: float | None = None) -> None:
        gap = max(self.min_gap, extra_gap or 0.0)
        if gap <= 0:
            return
        now = time.monotonic()
        nxt = self.last.get(host, 0.0) + gap
        if nxt > now:
            time.sleep(nxt - now)
            now = nxt
        self.last[host] = now


def _with_validators(row_meta: dict, resp) -> dict:
    """A copy of `row_meta` with the response's cache validators (ETag,
    Last-Modified) where the response carries them."""
    meta = dict(row_meta)
    if resp.etag:
        meta["etag"] = resp.etag
    if resp.last_modified:
        meta["last_modified"] = resp.last_modified
    return meta


def _is_sitemap(body: bytes) -> bool:
    """A sitemap (or sitemap index) opens its root element within the
    first 4 KiB."""
    head = body[:4096]
    return b"<urlset" in head or b"<sitemapindex" in head


def _fetch_one(
    row: dict,
    requester: Requester,
    rule: RegexRule,
    cfg: CrawlerConfig,
    dispatcher=None,
    robots_ok: bool = True,
) -> dict:
    url = row["url"]
    out = dict(row)
    out["execute_count"] = row["execute_count"] + 1
    out["execute_time"] = int(time.time() * 1000)
    out.update(
        content_type=None, content=None, charset=None, links=None,
        caption=None, image_id=None, phash=None, next_datums=None,
        robots_delay_ms=None,
    )

    # robots_ok: the run loop's robots verdict, taken BEFORE the
    # politeness wait
    if not robots_ok:
        out["status"], out["code"] = STATUS_DB_FAILED, CODE_ROBOTS_DENIED
        return out

    row_meta = row.get("meta") or {}
    stored_etag = row_meta.get("etag") if cfg.revalidate else None
    stored_lm = row_meta.get("last_modified") if cfg.revalidate else None
    resp = requester.fetch(
        url,
        attempt=out["execute_count"],
        etag=stored_etag,
        last_modified=stored_lm,
    )
    out["code"] = resp.code
    out["location"] = resp.location
    if resp.code == 304:
        # Not Modified: a stored validator (ETag, or Last-Modified for
        # ETag-less servers) still matches — SUCCESS with zero payload
        # bytes. Prior harvest (caption/phash) stays authoritative in
        # the fetched history; meta records the reuse so curation can
        # route it like a WARC revisit record.
        out["meta"] = _with_validators({**row_meta, "not_modified": "1"}, resp)
        out["status"] = STATUS_DB_SUCCESS
        return out
    if resp.code not in SUCCESS_CODES:
        out["status"] = STATUS_DB_FAILED
        return out

    out["status"] = STATUS_DB_SUCCESS
    if cfg.revalidate and (resp.etag or resp.last_modified):
        out["meta"] = _with_validators(row_meta, resp)
        out["meta"].pop("not_modified", None)
    if resp.content_encoding not in (None, "identity"):
        # remove wire compression (gzip/deflate) BEFORE every parse
        # below; a broken encoded body is a transport failure, not a
        # parse problem — the row keeps its retry budget. The inflated
        # side is hard-capped at the receive cap (partial=True): a
        # decompression bomb degrades to a truncated page, never to an
        # unbounded executor-memory inflation (ADVICE r4).
        try:
            resp.content = resp.decoded_content(
                max_inflated=cfg.max_receive_size, partial=True
            )
        except Exception:
            out["status"], out["code"] = STATUS_DB_FAILED, resp.code
            return out
    out["content_type"] = resp.content_type
    content = resp.content[: cfg.max_receive_size] if resp.content else None
    if (
        cfg.parse_sitemaps
        and content
        and content[:2] == b"\x1f\x8b"
        and url.endswith(".gz")
    ):
        # sitemap.xml.gz: FILE compression (served as application/gzip),
        # distinct from transfer Content-Encoding — gunzip with the cap
        # enforced DURING inflation (a post-hoc slice caps only after a
        # potential multi-GB decompression, ADVICE r4), and only adopt
        # it if it IS a sitemap
        from ..sources.requester import capped_inflate

        try:
            inflated = capped_inflate(
                content, "gzip", cfg.max_receive_size, partial=True
            )
            if _is_sitemap(inflated):
                content = inflated
        except Exception:
            pass  # not a sitemap archive after all; keep raw bytes
    if cfg.keep_content or (cfg.parse_sitemaps and content and _is_sitemap(content)):
        # sitemap bodies must survive to the JVM-side XML parse
        # (operators/sitemap.py) even when page content is dropped;
        # bounded by the protocol's 50k-URL/10MB per-file limits.
        out["content"] = content
    is_html = bool(
        content and resp.content_type and "text/html" in resp.content_type
    )
    text = None
    if is_html and (cfg.auto_parse or dispatcher is not None):
        text, charset = decode_html(content)
        out["charset"] = charset
    if is_html and cfg.auto_parse:
        # payload extraction (caption + data-URI image decode + phash
        # for the per-row invariant) belongs to the auto-parse path
        # only; a visitor handler that wants page content reads
        # page.html — it must not pay image decode per page
        out["caption"] = H.extract_caption(text)
        img_bytes = H.extract_data_uri_image(text)
        if img_bytes is not None:
            try:
                out["phash"] = codecs.phash64(codecs.decode(img_bytes))
            except (ValueError, NotImplementedError):
                # a corrupt or unsupported image is not a failed fetch:
                # the page keeps its caption and links
                out["phash"] = None
            # header-only quality estimate (JPEG payloads): recorded in
            # meta always; below cfg.min_image_quality the training
            # pair is dropped at harvest (caption + phash nulled) while
            # the page's LINKS survive — a thumbnail-mill page still
            # routes the crawl, its payload never enters the corpus.
            q = jpeg.header_quality(img_bytes)
            if q is not None:
                meta = dict(out.get("meta") or {})
                meta["img_q"] = str(q)
                if cfg.min_image_quality and q < cfg.min_image_quality:
                    meta["img_q_low"] = "1"
                    out["caption"] = None
                    out["phash"] = None
                out["meta"] = meta
        if row.get("meta") and row["meta"].get("image_id"):
            out["image_id"] = row["meta"]["image_id"]
        else:
            # synthetic pages serve img{pageid}; real deployments carry
            # image identity in meta — fall back to caption convention
            cap = out["caption"] or ""
            out["image_id"] = cap.split(" ")[2] if cap.startswith("caption of ") else None

    if dispatcher is not None:
        # Visitor mode (AutoParseCrawler.java:86-91): the dispatcher runs
        # INSIDE the fetch pass — beforeVisit -> routed handler ->
        # parseLink (when auto-parse + rule + text/html) -> afterParse.
        # Handler-emitted datums (key != url, typed meta) become
        # next_datums rows; link emission is exactly what the handlers +
        # parseLink produce — redirects are re-added by user handlers,
        # not automatically (DemoBingCrawler.java:74-85 pattern).
        from webcollector_spark.datum import CrawlDatums
        from webcollector_spark.functions.page import Page

        page = Page(
            url=url,
            key=row.get("key"),
            code=resp.code,
            content=content,
            html=text,
            content_type=resp.content_type,
            meta=row.get("meta") or {},
            location=resp.location,
        )
        nxt = CrawlDatums()
        dispatcher.dispatch(page, nxt)
        nd = []
        for d in nxt:
            u = d.url()
            if cfg.next_filter is not None:
                # NextFilter contract per (next, referer), Fetcher.java:246-255
                u = cfg.next_filter(u, url)
                if u is None:
                    continue
            key = d.key() if d._key is not None else u
            nd.append({"key": key, "url": u, "meta": (d.meta_data or None)})
        out["next_datums"] = nd or None
        return out

    links: list[str] = []
    if resp.code in (301, 302) and resp.location:
        # emit the redirect target as a discovered link (O12), resolving
        # a relative Location header against the page URL (the reference
        # pattern re-adds the ABSOLUTE location, DemoRedirectCrawler.java:52-63)
        links.append(urljoin(url, resp.location))
    if is_html and cfg.auto_parse:
        harvested = H.extract_links(text, url, cfg.auto_detect_img)
        if not rule.is_empty():
            harvested = [u for u in harvested if rule.satisfy(u)]
        if cfg.next_filter is not None:
            # NextFilter contract: rewrite or drop per (link, referer)
            harvested = [
                v for v in (cfg.next_filter(u, url) for u in harvested)
                if v is not None
            ]
        links.extend(harvested)
    out["links"] = links or None
    return out


def fetch(
    generated: DataFrame,
    requester: "Requester | object",
    cfg: CrawlerConfig | None = None,
    n_rows: int | None = None,
    dispatcher=None,
) -> DataFrame:
    """Fetch+parse every generated datum. Returns FETCHED_SCHEMA rows.

    `requester` may be a Requester or an already-created Broadcast of one
    (the round loop broadcasts once and reuses it every round — a fresh
    broadcast per round re-ships and re-unpickles the requester state in
    every Python worker).

    `dispatcher` (a VisitorDispatcher, or a Broadcast of its cloudpickled
    bytes) switches the pass into visitor mode: handlers run per page
    inside the Arrow batches and their emitted datums land in the
    `next_datums` column. cloudpickle (by value) lets visitor classes be
    defined anywhere — test modules, __main__ — without being importable
    on the Python workers."""
    cfg = cfg or CrawlerConfig()
    spark = generated.sparkSession
    from pyspark.broadcast import Broadcast

    bc = (
        requester
        if isinstance(requester, Broadcast)
        else spark.sparkContext.broadcast(requester)
    )
    bc_disp = None
    if dispatcher is not None:
        if isinstance(dispatcher, Broadcast):
            bc_disp = dispatcher
        else:
            from pyspark import cloudpickle

            bc_disp = spark.sparkContext.broadcast(cloudpickle.dumps(dispatcher))
    # the closure ships a snapshot of the whole config, so no knob can be
    # dropped on the way to the executors and later edits to the
    # caller's config (setters between rounds) do not reach this pass
    cfg = replace(cfg, regex_rules=list(cfg.regex_rules))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pickle

        req: Requester = bc.value
        disp = None
        if bc_disp is not None:
            v = bc_disp.value
            disp = pickle.loads(v) if isinstance(v, bytes) else v
        robots = RobotsCache(req, cfg.robots_ttl_s) if cfg.robots_ttl_s > 0 else None
        bucket = _HostBucket(cfg.per_host_rate, cfg.execute_interval_ms)
        rule = RegexRule(cfg.regex_rules)
        for pdf in batches:
            out_rows = []
            for row in pdf.to_dict("records"):
                # robots gate FIRST: a disallowed row makes no request,
                # so it must not consume the politeness budget (a
                # Disallow-all host with Crawl-delay 30 would otherwise
                # stall its partition 30 s per never-made request).
                ok = robots is None or robots.allowed(row["host"], row["url"])
                delay = None
                if ok:
                    # robots Crawl-delay tightens the configured budget
                    delay = (
                        robots.crawl_delay(row["host"])
                        if robots is not None
                        else None
                    )
                    bucket.wait(row["host"], delay)
                rec = _fetch_one(row, req, rule, cfg, disp, robots_ok=ok)
                if delay:
                    # observed politeness gap — next round's host-budget
                    # clamp learns from it (crawler._fold_host_state)
                    rec["robots_delay_ms"] = int(round(delay * 1000))
                out_rows.append(rec)
            yield rows_frame(out_rows, FETCHED_SCHEMA)

    # Partition count adapts to the round size (`n_rows` hint): tiny
    # rounds don't pay Python-worker setup for near-empty partitions.
    parts = cfg.threads
    if n_rows is not None:
        parts = max(1, min(parts, -(-n_rows // max(1, cfg.rows_per_fetch_task))))
    # Politeness co-location (all URLs of one host in one partition) is
    # required only when a per-host budget is actually enforced — the
    # token bucket is partition-local, so the rate is only a true
    # per-host cap if the host doesn't span partitions. Without a
    # politeness budget, co-location would serialize a hot host (50% of
    # a skewed frontier in one task); round-robin spreads the load
    # evenly instead. A throttled hot host is bounded by its rate, not
    # CPU, so the skew trade-off only bites in the unthrottled case.
    # strict_robots_delay opts robots Crawl-delay into the same
    # guarantee (see config.py — otherwise the delay is enforced
    # per-partition, i.e. a partitions/delay aggregate bound).
    polite = (
        cfg.per_host_rate > 0
        or cfg.execute_interval_ms > 0
        or (cfg.robots_ttl_s > 0 and cfg.strict_robots_delay)
    )
    repartitioned = (
        generated.repartition(parts, F.col("host"))
        if polite
        else generated.repartition(parts)
    )
    return repartitioned.mapInPandas(run, schema=FETCHED_SCHEMA)


def verify_payload(fetched: DataFrame, corpus: DataFrame) -> DataFrame:
    """Engine-side payload parity: join fetched rows to the corpus on
    image_id and compare caption + phash (the decoded-pixel PSNR-vs-
    ground-truth invariant is asserted in tests, which can recompute the
    generator's pixels). Broadcast the corpus projection — it is two
    narrow columns even when `bytes` is huge, and column pruning keeps
    the binary out of the scan."""
    dim = corpus.select(
        F.col("image_id"),
        F.col("caption").alias("expected_caption"),
        F.col("phash").alias("expected_phash"),
    )
    return (
        fetched.filter(F.col("image_id").isNotNull())
        .join(F.broadcast(dim), "image_id", "left")
        .withColumn(
            "caption_ok", F.col("caption") == F.col("expected_caption")
        )
        .withColumn("phash_ok", F.col("phash") == F.col("expected_phash"))
    )
