"""Conditional revalidation (RFC 9110 If-None-Match / 304): the
recrawl-time bandwidth saver. Requester-level validator behavior, the
fetch pass's etag store/send/reuse cycle, and the end-to-end
crawl -> recrawl -> 304 flow with a changed page detected."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from webcollector_spark import fixtures
from webcollector_spark.config import CrawlerConfig
from webcollector_spark.crawler import RamCrawler
from webcollector_spark.operators.recrawl import schedule_recrawl
from webcollector_spark.schema import STATUS_DB_SUCCESS
from webcollector_spark.sources.requester import SyntheticRequester


@pytest.fixture()
def web():
    corpus = fixtures.make_corpus(40)
    graph = fixtures.make_site_graph(40, n_hosts=4, out_degree=3)
    return graph, corpus


def _requester(web):
    graph, corpus = web
    return SyntheticRequester(
        graph.to_dict("records"), corpus.to_dict("records")
    )


def test_requester_validator_cycle(web):
    req = _requester(web)
    url = web[0]["url"].iloc[0]
    first = req.fetch(url)
    assert first.code == 200 and first.etag and first.content
    again = req.fetch(url, etag=first.etag)
    assert again.code == 304 and again.content is None
    assert again.etag == first.etag
    # stale validator -> full 200 with the current tag
    stale = req.fetch(url, etag='"deadbeef"')
    assert stale.code == 200 and stale.etag == first.etag
    # content change rotates the validator
    req.bump_page(url)
    changed = req.fetch(url, etag=first.etag)
    assert changed.code == 200 and changed.etag != first.etag
    assert req.fetch(url, etag=changed.etag).code == 304


def test_requester_raw_pages_also_revalidate(web):
    req = SyntheticRequester(
        [], [], raw_pages={"http://h0/sitemap.xml": ("text/xml", b"<urlset/>")}
    )
    r1 = req.fetch("http://h0/sitemap.xml")
    assert r1.code == 200 and r1.etag
    assert req.fetch("http://h0/sitemap.xml", etag=r1.etag).code == 304


def test_crawl_recrawl_304_end_to_end(spark, web):
    """Round 1 stores validators; a recrawl round answers 304 for every
    unchanged page (zero payload bytes) and 200 for the one page whose
    content changed — whose stored validator then rotates."""
    graph, corpus = web
    req = _requester((graph, corpus))
    crawler = RamCrawler(
        spark, req, config=CrawlerConfig(revalidate=True)
    )
    crawler.add_seed(fixtures.seeds_for(graph, 4))
    crawler.start(2)

    front = crawler.store.load()
    ok = front.filter(
        (F.col("status") == STATUS_DB_SUCCESS) & (F.col("code") == 200)
    )
    etags = {r.key: r.meta["etag"] for r in ok.collect()}
    assert etags and all(v.startswith('"') for v in etags.values())

    bumped = sorted(etags)[0]
    req.bump_page(bumped)

    import time

    now = int(time.time() * 1000)
    n = schedule_recrawl(crawler.store, now_ms=now, min_age_ms=0)
    assert n >= len(etags)
    # max_depth is TOTAL depth (resume semantics): 2 rounds ran, ask
    # for one more to fetch the rescheduled rows
    crawler.start(3)

    after = {
        r.key: r
        for r in crawler.store.load()
        .filter(F.col("key").isin(list(etags)))
        .collect()
    }
    assert set(after) == set(etags)
    for key, row in after.items():
        assert row.status == STATUS_DB_SUCCESS
        if key == bumped:
            assert row.code == 200
            assert row.meta["etag"] != etags[key]  # validator rotated
            assert row.meta.get("not_modified") is None
        else:
            assert row.code == 304, key
            assert row.meta["etag"] == etags[key]
            assert row.meta["not_modified"] == "1"


def test_revalidate_off_keeps_reference_behavior(spark, web):
    """Default config: no validators stored, no conditional requests —
    the replay oracle's world is unchanged."""
    graph, corpus = web
    crawler = RamCrawler(
        spark, _requester((graph, corpus)), config=CrawlerConfig()
    )
    crawler.add_seed(fixtures.seeds_for(graph, 3))
    crawler.start(2)
    for r in crawler.store.load().filter(F.col("code") == 200).collect():
        assert not (r.meta or {}).get("etag")


def test_last_modified_validator_cycle(web):
    """ETag-less servers (validators='last-modified'): If-Modified-Since
    must drive the 304 path, and a content change rotates the date."""
    graph, corpus = web
    req = SyntheticRequester(
        graph.to_dict("records"), corpus.to_dict("records"),
        validators="last-modified",
    )
    url = graph["url"].iloc[0]
    first = req.fetch(url)
    assert first.code == 200 and first.etag is None
    assert first.last_modified and first.last_modified.endswith("GMT")
    again = req.fetch(url, last_modified=first.last_modified)
    assert again.code == 304 and again.content is None
    req.bump_page(url)
    changed = req.fetch(url, last_modified=first.last_modified)
    assert changed.code == 200
    assert changed.last_modified != first.last_modified
    assert req.fetch(url, last_modified=changed.last_modified).code == 304


def test_etag_precedence_over_last_modified(web):
    """RFC 9110 §13.1: a server holding an ETag evaluates If-None-Match
    and ignores If-Modified-Since — a stale date with a fresh tag is
    still 304; a stale tag with a fresh date is a full 200."""
    graph, corpus = web
    req = SyntheticRequester(
        graph.to_dict("records"), corpus.to_dict("records"), validators="both"
    )
    url = graph["url"].iloc[0]
    first = req.fetch(url)
    assert first.etag and first.last_modified
    assert (
        req.fetch(url, etag=first.etag, last_modified="Mon, 01 Jan 1990").code
        == 304
    )
    assert (
        req.fetch(
            url, etag='"stale"', last_modified=first.last_modified
        ).code
        == 200
    )


def test_crawl_recrawl_304_via_last_modified_only(spark, web):
    """The end-to-end recrawl flow against an ETag-less web: stored
    Last-Modified drives the 304s; the changed page refetches with a
    rotated date."""
    graph, corpus = web
    req = SyntheticRequester(
        graph.to_dict("records"), corpus.to_dict("records"),
        validators="last-modified",
    )
    crawler = RamCrawler(spark, req, config=CrawlerConfig(revalidate=True))
    crawler.add_seed(fixtures.seeds_for(graph, 4))
    crawler.start(2)

    ok = crawler.store.load().filter(
        (F.col("status") == STATUS_DB_SUCCESS) & (F.col("code") == 200)
    )
    lms = {r.key: r.meta["last_modified"] for r in ok.collect()}
    assert lms and all(v.endswith("GMT") for v in lms.values())
    assert all("etag" not in (r.meta or {}) for r in ok.collect())

    bumped = sorted(lms)[0]
    req.bump_page(bumped)
    import time

    n = schedule_recrawl(
        crawler.store, now_ms=int(time.time() * 1000), min_age_ms=0
    )
    assert n >= len(lms)
    crawler.start(3)

    after = {
        r.key: r
        for r in crawler.store.load()
        .filter(F.col("key").isin(list(lms)))
        .collect()
    }
    for key, row in after.items():
        assert row.status == STATUS_DB_SUCCESS
        if key == bumped:
            assert row.code == 200
            assert row.meta["last_modified"] != lms[key]
        else:
            assert row.code == 304, key
            assert row.meta["last_modified"] == lms[key]
            assert row.meta["not_modified"] == "1"


def test_mixed_304_and_image_batch_keeps_exact_phash(spark, web):
    """One fetch batch mixing 304 rows (phash null) with changed image
    pages: every harvested phash survives the batch exactly (a float64
    column would round 64-bit phashes) and passes verify_payload."""
    from webcollector_spark.operators.fetch import fetch, verify_payload
    from webcollector_spark.schema import FRONTIER_SCHEMA, host_of

    graph, corpus = web
    req = _requester(web)
    pages = graph[(graph["http_code"] == 200) & graph["image_id"].notna()]["url"]
    rows = []
    for url in pages:
        etag = req.fetch(url).etag
        rows.append((url, url, 0, None, 1, 200, None, {"etag": etag},
                     host_of(url), 0, 1.0))
    bumped = list(pages)[::3]
    for url in bumped:
        req.bump_page(url)
    generated = spark.createDataFrame(rows, FRONTIER_SCHEMA)
    fetched = fetch(
        generated, req, CrawlerConfig(revalidate=True), n_rows=len(rows)
    ).cache()
    assert fetched.rdd.getNumPartitions() == 1  # one task, one Arrow batch
    codes = {r.key: r.code for r in fetched.select("key", "code").collect()}
    assert {k for k, c in codes.items() if c == 200} == set(bumped)
    assert {c for k, c in codes.items() if k not in bumped} == {304}
    dim = spark.createDataFrame(corpus[["image_id", "caption", "phash"]])
    checked = verify_payload(fetched.filter(F.col("code") == 200), dim).collect()
    assert len(checked) == len(bumped)
    assert all(r.caption_ok and r.phash_ok for r in checked)
    fetched.unpersist()
