"""Crawl-trap defense wired into the round loop — detection over the
fetched history, then a frontier filter.

The reference bounds traps only via maxDepth (BreadthCrawler.java); a
calendar page or session-id URL space defeats that by growing WIDE, not
deep. The defense here is template cardinality: collapse each fetched
URL to its path template (functions/urls.py `url_template_col` — hex
runs -> {H} first, digit runs -> {D}) and flag (host, template) groups
where nearly every fetch lands on a brand-new URL (n_urls ~ n_docs)
once the group is large enough. Real finite page sets are re-fetched
(recrawl, duplicate links), so their distinct-URL count plateaus.

Scale shape: `detect_traps` is one (host, template) groupBy with a
two-phase distinct-count (or the bounded-register formulation,
plans/queries.py `url_trap_hll`);
`trap_filter` is a broadcast LEFT ANTI join — the flagged-template
table is O(traps), genuinely tiny, while the frontier side never
shuffles. The same flag table feeds the reference-faithful per-link
seam via `make_trap_next_filter` (config.next_filter,
fetcher/NextFilter.java:26-39): links into a flagged template are
dropped at harvest time, before they ever enter the frontier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from webcollector_spark.functions.urls import url_template, url_template_col


def detect_traps(
    fetched: DataFrame,
    min_urls: int = 100,
    url_col: str = "url",
    host_col: str = "host",
) -> DataFrame:
    """(host, template, n_docs, n_urls, is_trap) over a fetch log.

    is_trap = n_urls >= min_urls AND n_urls*10 >= 9*n_docs — integer
    cross-multiplied (no float division) and scale-free: the same rule
    holds at 10^10 fetches. min_urls defaults high (100) because the
    rule's precision comes from volume; registry twin
    `url_trap_templates` uses 5 to exercise both branches at sf0.01.
    """
    u = fetched.select(
        F.col(host_col).alias("host"),
        F.col(url_col).alias("url"),
        url_template_col(F.col(url_col)).alias("template"),
    )
    n_urls = F.countDistinct("url")
    return u.groupBy("host", "template").agg(
        F.count("*").alias("n_docs"),
        n_urls.alias("n_urls"),
        (
            (n_urls >= min_urls) & (n_urls * 10 >= 9 * F.count("*"))
        ).alias("is_trap"),
    )


def trap_filter(
    frontier: DataFrame,
    traps: DataFrame,
    url_col: str = "url",
    host_col: str = "host",
) -> DataFrame:
    """Frontier minus rows whose (host, template) is a flagged trap.

    `traps` is `detect_traps` output (or any (host, template[,
    is_trap]) table); only is_trap rows participate when the column is
    present. The join side is explicitly broadcast: flagged templates
    are O(hundreds) even on a pathological crawl, while the frontier is
    the 10^10-row side that must not shuffle for this."""
    t = traps
    if "is_trap" in t.columns:
        t = t.filter("is_trap")
    t = t.select(host_col, F.col("template").alias("__tmpl")).distinct()
    keyed = frontier.withColumn(
        "__tmpl", url_template_col(F.col(url_col))
    )
    return keyed.join(
        F.broadcast(t), [host_col, "__tmpl"], "left_anti"
    ).drop("__tmpl")


def soft404_hosts(
    fetched: DataFrame,
    min_pages: int = 5,
    min_share_pct: int = 60,
    host_col: str = "host",
    fp_col: str = "phash",
) -> DataFrame:
    """Per-host soft-404 / parked-domain detection: a host serving the
    SAME pixels (or content fingerprint) for most of its 200-OK URLs is
    returning a custom error page, a domain-parking lander, or a paywall
    interstitial — each a classic training-data poison the HTTP code
    never reveals. Output one row per host: the modal fingerprint, its
    page count, total pages, integer share, and the is_soft404 verdict
    (modal count >= min_pages AND share >= min_share_pct).

    Shape: one map-side-combinable (host, fp) aggregate, then windows
    over THAT aggregate (O(distinct fingerprints per host) rows, never
    raw pages) — the same discipline as anchor_text_agg. Share is an
    integer percent via `div`, so the verdict is bit-reproducible
    cross-engine. Null fingerprints (undecodable payloads) are excluded
    from both the modal vote and the denominator."""
    by_fp = (
        fetched.filter(F.col(fp_col).isNotNull())
        .select(F.col(host_col).alias("host"), F.col(fp_col).alias("fp"))
        .groupBy("host", "fp")
        .agg(F.count("*").alias("cnt"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("host").orderBy(
        F.col("cnt").desc(), F.col("fp").asc()
    )
    return (
        by_fp.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "total_pages", F.sum("cnt").over(Window.partitionBy("host"))
        )
        .filter(F.col("rn") == 1)
        .select(
            "host",
            F.col("fp").alias("modal_fp"),
            F.col("cnt").alias("modal_pages"),
            "total_pages",
            F.expr("cnt * 100 div total_pages").alias("share_pct"),
            (
                (F.col("cnt") >= min_pages)
                & (F.expr("cnt * 100 div total_pages") >= min_share_pct)
            ).alias("is_soft404"),
        )
    )


def soft404_filter(
    pages: DataFrame,
    flagged: DataFrame,
    host_col: str = "host",
    fp_col: str = "phash",
) -> DataFrame:
    """Pages minus rows carrying a flagged host's modal fingerprint —
    the curation consumer: drop the error-page copies, keep the host's
    real pages. Broadcast LEFT ANTI on (host, modal_fp): the flag table
    is O(flagged hosts), the page side never shuffles."""
    f = flagged
    if "is_soft404" in f.columns:
        f = f.filter("is_soft404")
    f = f.select(
        F.col("host").alias(host_col), F.col("modal_fp").alias(fp_col)
    ).distinct()
    return pages.join(F.broadcast(f), [host_col, fp_col], "left_anti")


class _TrapNextFilter:
    """Module-level class (not a closure) so STDLIB pickle works too —
    the config contract only needs cloudpickle, but a checkpoint/resume
    path serializing the config must not depend on which pickler."""

    def __init__(self, pairs):
        self.pairs = frozenset(tuple(p) for p in pairs)

    def __call__(self, url: str, referer: str):
        from webcollector_spark.schema import host_of

        if (host_of(url), url_template(url)) in self.pairs:
            return None
        return url


def make_trap_next_filter(trap_pairs):
    """Picklable per-link NextFilter (config.next_filter contract:
    (link_url, referer_url) -> url | None-to-drop) from a collected
    flag set — drops links into a flagged (host, template) at HARVEST
    time, inside the fetch UDF, so trapped URLs never even reach the
    frontier merge. `trap_pairs` is an iterable of (host, template)
    from `detect_traps(...).filter("is_trap")` — a driver collect
    bounded by the flagged-template count, the same budget class as
    the adaptive-salt candidate collect (crawler.py)."""
    return _TrapNextFilter(trap_pairs)
