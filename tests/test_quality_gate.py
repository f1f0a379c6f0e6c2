"""Harvest-time image-quality gate (CrawlerConfig.min_image_quality):
the crawl loop estimates each extracted JPEG's encode quality from its
DQT header (jpeg.header_quality — the in-crawl form of the
image_jpeg_quality registry op) and, below the threshold, drops the
image/caption training pair at the fetch pass while keeping the page's
links. The synthetic web serves the quality-ladder corpus
(fixtures.make_corpus_jpeg_quality: real JPEGs encoded at 25..97), so
the ground truth per page is the fixture's own encode arithmetic."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from webcollector_spark import fixtures
from webcollector_spark.config import CrawlerConfig
from webcollector_spark.crawler import RamCrawler
from webcollector_spark.sources.requester import SyntheticRequester


def _ladder_web(n=48):
    corpus = fixtures.make_corpus_jpeg_quality(n)
    rows = [
        {
            "url": f"http://h{i % 4:03d}.test/p/{i}",
            "host": f"h{i % 4:03d}.test",
            "image_id": image_id,
            "out_links": [],
            "http_code": 200,
            "location": None,
        }
        for i, image_id in enumerate(corpus["image_id"])
    ]
    return pd.DataFrame(rows), corpus


def _crawl(spark, tmp_path, min_q):
    graph, corpus = _ladder_web()
    hist = str(tmp_path / f"hist_{min_q}")
    req = SyntheticRequester(graph.to_dict("records"), corpus.to_dict("records"))
    crawler = RamCrawler(
        spark,
        req,
        config=CrawlerConfig(
            top_n=0,
            bloom_capacity=10_000,
            fetched_history_path=hist,
            min_image_quality=min_q,
        ),
    )
    crawler.add_seed(sorted(graph["url"].tolist()))
    metrics = crawler.start(1)
    assert metrics[0].fetched == len(graph)
    return spark.read.parquet(hist), graph


def test_quality_recorded_in_meta_even_with_gate_off(spark, tmp_path):
    hist, graph = _crawl(spark, tmp_path, min_q=0)
    rows = hist.select("url", "caption", "phash", "meta").collect()
    assert len(rows) == len(graph)
    for r in rows:
        # every page serves a real ladder JPEG: quality must be
        # recovered from the DQT header and match the ENCODE arithmetic
        iid = r["caption"].split(" ")[2]
        want = fixtures.jpeg_quality_for(int(iid[2:]))
        assert int(r["meta"]["img_q"]) == want, iid
        assert "img_q_low" not in r["meta"]
        assert r["phash"] is not None and r["caption"] is not None


def test_gate_drops_pair_keeps_page(spark, tmp_path):
    hist, graph = _crawl(spark, tmp_path, min_q=60)
    rows = hist.collect()
    assert len(rows) == len(graph)  # fetches all SUCCEED: gate != fail
    low = [r for r in rows if int(r["meta"]["img_q"]) < 60]
    high = [r for r in rows if int(r["meta"]["img_q"]) >= 60]
    # ladder 25/40/50 fall below, 68/75/85/92/97 stay: both sides real
    assert low and high
    for r in low:
        assert r["meta"].get("img_q_low") == "1"
        assert r["caption"] is None and r["phash"] is None
        assert r["status"] == 5  # STATUS_DB_SUCCESS — page, not pair
    for r in high:
        assert "img_q_low" not in r["meta"]
        assert r["caption"] is not None and r["phash"] is not None
    # the downstream corpus view is exactly the surviving pairs
    kept = hist.filter(F.col("phash").isNotNull()).count()
    assert kept == len(high)


def test_gate_keeps_links_routing(spark, tmp_path):
    """A low-quality page must still route the crawl: its out-links are
    followed even though its own training pair is dropped."""
    corpus = fixtures.make_corpus_jpeg_quality(2)  # jq0 -> q25, jq1 -> q40...
    q0 = fixtures.jpeg_quality_for(0)
    assert q0 < 97
    # page A serves the LOW-quality image and links to page B, which
    # serves a HIGH-quality one (re-encode row 7 of the ladder = 97)
    corpus_hi = fixtures.make_corpus_jpeg_quality(8)
    rows = pd.concat([corpus, corpus_hi.iloc[[7]]], ignore_index=True)
    graph = pd.DataFrame(
        [
            {
                "url": "http://h000.test/a",
                "host": "h000.test",
                "image_id": rows.iloc[0]["image_id"],
                "out_links": ["http://h000.test/b"],
                "http_code": 200,
                "location": None,
            },
            {
                "url": "http://h000.test/b",
                "host": "h000.test",
                "image_id": rows.iloc[2]["image_id"],
                "out_links": [],
                "http_code": 200,
                "location": None,
            },
        ]
    )
    hist = str(tmp_path / "hist_links")
    req = SyntheticRequester(graph.to_dict("records"), rows.to_dict("records"))
    crawler = RamCrawler(
        spark,
        req,
        config=CrawlerConfig(
            top_n=0,
            bloom_capacity=1_000,
            fetched_history_path=hist,
            min_image_quality=60,
        ),
    )
    crawler.add_seed(["http://h000.test/a"])
    crawler.start(2)
    got = {r["url"]: r for r in spark.read.parquet(hist).collect()}
    # page B was only reachable THROUGH the gated page A
    assert "http://h000.test/b" in got
    assert got["http://h000.test/a"]["phash"] is None  # pair dropped
    assert got["http://h000.test/b"]["phash"] is not None  # pair kept


def test_truncated_images_fail_the_pair_not_the_round(spark, tmp_path):
    """A page whose data-URI image is cut short is fetched like any
    other: SUCCESS, caption and out-links kept, phash null. The cut
    payloads trip zlib, struct, index and table lookups inside the
    decoders; codecs.decode turns each into ValueError."""
    base = fixtures.make_corpus(24)  # PNG with a slice of lossy QIMG
    rows = [
        base[base["fmt"] == "png"].iloc[0].to_dict(),
        base[base["fmt"] != "png"].iloc[0].to_dict(),  # QIMG
        fixtures.make_corpus_bmp(1).iloc[0].to_dict(),
        fixtures.make_corpus_jpeg(1).iloc[0].to_dict(),
        fixtures.make_corpus_jpeg_progressive(1).iloc[0].to_dict(),
    ]
    assert bytes(rows[1]["bytes"])[:4] == b"QIMG"
    for r, cut in zip(rows, [40, 30, 60, 0.5, 0.5]):
        data = bytes(r["bytes"])
        r["bytes"] = data[: cut if cut >= 1 else int(len(data) * cut)]
    corpus = pd.DataFrame(rows)
    graph = pd.DataFrame(
        [
            {
                "url": f"http://h000.test/cut/{i}",
                "host": "h000.test",
                "image_id": r["image_id"],
                "out_links": [f"http://h001.test/next/{i}"],
                "http_code": 200,
                "location": None,
            }
            for i, r in enumerate(rows)
        ]
    )
    hist = str(tmp_path / "hist_cut")
    req = SyntheticRequester(graph.to_dict("records"), corpus.to_dict("records"))
    crawler = RamCrawler(
        spark,
        req,
        config=CrawlerConfig(
            top_n=0, bloom_capacity=1_000, fetched_history_path=hist
        ),
    )
    crawler.add_seed(graph["url"].tolist())
    metrics = crawler.start(1)
    assert metrics[0].fetched == len(rows)
    got = {r["url"]: r for r in spark.read.parquet(hist).collect()}
    assert set(got) == set(graph["url"])
    for i, r in enumerate(rows):
        row = got[f"http://h000.test/cut/{i}"]
        assert row["status"] == 5, r["image_id"]  # STATUS_DB_SUCCESS
        assert row["phash"] is None
        assert row["caption"] == r["caption"] and row["caption"]
    keys = {r["url"] for r in crawler.frontier().select("url").collect()}
    assert {f"http://h001.test/next/{i}" for i in range(len(rows))} <= keys
