"""Archive + crawl-health demo — this round's operator additions end to
end on the deterministic synthetic web (no network):

  1. crawl with sitemap ingestion on: robots.txt advertises a
     sitemapindex, whose child sitemap lists orphan pages no anchor
     reaches — the crawl still finds them;
  2. archive the fetched payloads as .warc.gz (per-record gzip members),
     build the CDX-style record index, and fetch one record back by
     ranged read;
  3. health reports: frontier_backlog per host, frontier_delta between
     depth-1 and depth-2 states, soft-404 fingerprint audit, anchor-text
     caption candidates from the link graph.

    python examples/demo_archive_and_health.py
"""

from __future__ import annotations

import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import pandas as pd
from pyspark.sql import functions as F

from webcollector_spark import fixtures
from webcollector_spark.config import CrawlerConfig
from webcollector_spark.crawler import BreadthCrawler, seed_rows
from webcollector_spark.operators.delta import (
    delta_summary,
    frontier_backlog,
    frontier_delta,
)
from webcollector_spark.operators.fetch import fetch as fetch_op
from webcollector_spark.operators.shards import pack_shards
from webcollector_spark.operators.sitemap import render_sitemap, render_sitemap_index
from webcollector_spark.operators.traps import soft404_hosts
from webcollector_spark.operators.warc import (
    fetch_warc_records,
    index_warc,
    write_warc,
)
from webcollector_spark.schema import host_of
from webcollector_spark.session import get_spark
from webcollector_spark.sources.requester import SyntheticRequester


def main() -> int:
    spark = get_spark("demo-archive-health", cores=8, shuffle_partitions=8)
    corpus = fixtures.make_corpus(120)
    graph = fixtures.make_site_graph(120, n_hosts=6, out_degree=4)
    seed = sorted(graph["url"])[0]
    host = host_of(seed)
    # seeds come from the ORIGINAL graph — the orphan urls sort first
    # and must stay anchor-unreachable
    seeds = fixtures.seeds_for(graph, 3)

    # -- 1. sitemap-advertised orphans -----------------------------------
    orphans = [f"http://{host}/orphan/{i}" for i in range(4)]
    graph = pd.concat(
        [
            graph,
            pd.DataFrame(
                {
                    "url": orphans,
                    "host": host,
                    "image_id": [f"img{i:08d}" for i in range(4)],
                    "out_links": [[]] * 4,
                    "http_code": 200,
                    "location": None,
                }
            ),
        ],
        ignore_index=True,
    )
    sm_index, sm_child = f"http://{host}/sitemap.xml", f"http://{host}/sm-1.xml"
    req = SyntheticRequester(
        graph.to_dict("records"),
        corpus.to_dict("records"),
        robots={host: f"User-agent: *\nSitemap: {sm_index}"},
        raw_pages={
            sm_index: ("application/xml", render_sitemap_index([sm_child])),
            sm_child: (
                "application/xml",
                render_sitemap([{"loc": u, "priority": "0.9"} for u in orphans]),
            ),
        },
    )
    work = tempfile.mkdtemp(prefix="wc_demo_")
    crawler = BreadthCrawler(
        spark,
        req,
        crawl_path=f"{work}/db",
        config=CrawlerConfig(parse_sitemaps=True),
    )
    crawler.add_seed(seeds)
    metrics = crawler.start(3)
    visited = {
        r.key
        for r in crawler.frontier().filter("status = 5").collect()
    }
    print(f"rounds: {len(metrics)}, visited: {len(visited)}")
    print(f"orphans reached via sitemap: {sum(u in visited for u in orphans)}/4")

    # -- 2. WARC archive + index + ranged fetch ---------------------------
    gen = seed_rows(spark, sorted(visited)[:60])
    fetched = fetch_op(
        gen, req, CrawlerConfig(keep_content=True), n_rows=60
    ).filter("status = 5 AND content IS NOT NULL")
    assigned = pack_shards(
        fetched.withColumn("sz", F.octet_length("content")),
        key="key",
        size="sz",
        target_bytes=64_000,
        carry=("url", "content", "content_type", "execute_time"),
    )
    warc_dir = f"{work}/warc"
    # collect() the manifest BEFORE reading the directory back: the
    # writer is a lazy mapInPandas, and a partial action (show/limit)
    # may evaluate only some partitions -> unwritten shards
    manifest = write_warc(assigned, warc_dir).collect()
    print("\nWARC manifest:")
    for m in manifest[:5]:
        print(f"  shard {m.shard}: {m.n_records} records, "
              f"{m.warc_bytes} bytes, sha256 {m.sha256[:16]}…")
    idx = index_warc(spark, warc_dir)
    print(f"indexed records: {idx.count()}")
    one = idx.filter("record_type = 'resource'").orderBy("url").limit(1)
    fetch_warc_records(one).select(
        "url", F.octet_length("payload").alias("payload_bytes")
    ).show(truncate=False)

    # -- 3. health reports -------------------------------------------------
    print("frontier backlog (top hosts by pending):")
    frontier_backlog(crawler.frontier()).orderBy(
        F.col("n_pending").desc()
    ).show(5)

    half = BreadthCrawler(
        spark, req, crawl_path=f"{work}/db2", config=CrawlerConfig()
    )
    half.add_seed(seeds)
    half.start(1)
    d = frontier_delta(half.frontier(), crawler.frontier())
    print("delta depth-1 -> depth-3:")
    delta_summary(d).show()

    # the fingerprint is each fetched page's harvested image phash; every
    # synthetic page serves its own image, so no host repeats one
    print("soft-404 audit (synthetic healthy web -> nothing flagged):")
    soft404_hosts(fetched).filter("is_soft404").show()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
