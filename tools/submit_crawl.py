"""spark-submit entrypoint for a crawl job (north_rule: "run via
spark-submit --py-files on a multi-executor cluster").

Package + submit:

    python tools/package.py                       # -> dist/webcollector_spark.zip
    spark-submit --master local[32] \
        --py-files dist/webcollector_spark.zip \
        tools/submit_crawl.py \
        --crawl-path /tmp/crawl1 --synthetic-pages 5000 \
        --seeds 16 --depth 3 --per-host-top-k 500 --resume

On a real cluster, swap --master for yarn/k8s and pass a seeds file of
real URLs with --requester http (stdlib HTTP fetch path). The job uses
only the SparkSession given by spark-submit — no master hardcoding.
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> None:
    p = argparse.ArgumentParser(description="webcollector_spark crawl job")
    p.add_argument("--crawl-path", required=True)
    p.add_argument("--depth", type=int, default=3)
    p.add_argument("--seeds", type=int, default=8, help="synthetic seed count")
    p.add_argument("--seeds-file", help="file of seed URLs (one per line)")
    p.add_argument("--requester", choices=["synthetic", "http"], default="synthetic")
    p.add_argument("--synthetic-pages", type=int, default=5000)
    p.add_argument("--top-n", type=int, default=0)
    p.add_argument("--per-host-top-k", type=int, default=0)
    p.add_argument("--per-host-rate", type=float, default=0.0)
    p.add_argument("--max-execute-count", type=int, default=10)
    p.add_argument("--resume", action="store_true")
    p.add_argument("--regex", action="append", default=[])
    args = p.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("webcollector-crawl").getOrCreate()

    from webcollector_spark import BreadthCrawler, CrawlerConfig, fixtures
    from webcollector_spark.sources.requester import (
        HttpRequester,
        SyntheticRequester,
    )

    if args.requester == "http":
        requester = HttpRequester()
        seeds = []
    else:
        corpus = fixtures.make_corpus(min(args.synthetic_pages, 800))
        graph = fixtures.make_site_graph(args.synthetic_pages, n_hosts=16)
        graph["image_id"] = [
            f"img{i % len(corpus):08d}" for i in range(args.synthetic_pages)
        ]
        requester = SyntheticRequester(
            graph.to_dict("records"), corpus.to_dict("records")
        )
        seeds = fixtures.seeds_for(graph, args.seeds)
    if args.seeds_file:
        with open(args.seeds_file) as fh:
            seeds = [line.strip() for line in fh if line.strip()]

    cfg = CrawlerConfig(
        top_n=args.top_n,
        per_host_top_k=args.per_host_top_k,
        per_host_rate=args.per_host_rate,
        max_execute_count=args.max_execute_count,
        resumable=args.resume,
        regex_rules=list(args.regex),
    )
    crawler = BreadthCrawler(
        spark, requester, crawl_path=args.crawl_path, config=cfg
    )
    if seeds:
        crawler.add_seed(seeds)

    metrics = crawler.start(args.depth)
    for m in metrics:
        print(json.dumps(m.__dict__))
    total = sum(m.generated for m in metrics)
    wall = sum(m.wall_ms for m in metrics) / 1000.0
    print(
        json.dumps(
            {
                "rounds": len(metrics),
                "executed": total,
                "wall_sec": round(wall, 2),
                "urls_per_sec": round(total / wall, 1) if wall else 0.0,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
