"""webcollector_spark — a brand-new PySpark-native crawl-frontier engine.

Re-expresses the capabilities of CrawlScript/WebCollector 2.74-alpha
(single-node, multi-threaded Java crawler; see /root/reference) as an
idiomatic Spark dataflow:

    frontier table (Parquet/Iceberg)  -- the CrawlDB
      -> generate   (filter + order + limit / per-host window top-k)
      -> fetch      (mapInPandas Arrow-batched fetch + image decode)
      -> parse      (link extraction -> explode -> RegexRule filter)
      -> seen-filter(bloom pre-prune + left-anti join)
      -> merge      (fetch last-wins, link first-wins-across-rounds)

Everything is DataFrame + pandas/Arrow UDF; no RDD hot paths, no custom
Catalyst rules (SURVEY.md section 4 shows none are needed).
"""

from webcollector_spark import _zipguard
from webcollector_spark.config import CrawlerConfig
from webcollector_spark.crawler import BreadthCrawler, RamCrawler
from webcollector_spark.datum import CrawlDatum, CrawlDatums
from webcollector_spark.functions.page import Page
from webcollector_spark.operators.dispatch import Visitor
from webcollector_spark.store import ParquetFrontierStore, RamFrontierStore

__version__ = "0.2.0"

__all__ = [
    "CrawlerConfig",
    "BreadthCrawler",
    "RamCrawler",
    "CrawlDatum",
    "CrawlDatums",
    "Page",
    "Visitor",
    "RamFrontierStore",
    "ParquetFrontierStore",
    "__version__",
]

# Inside a Python worker, unpickling any engine UDF lands here first, so
# every later task in that worker skips the zip-directory re-reads.
_zipguard.install()
