"""O5/O8/O13 — turn fetched pages' harvested links into frontier rows.

The fetch UDF already extracted + RegexRule-filtered the links array
(one pass over the decoded HTML); here we explode it and mint CrawlDatum
rows: key = url (the reference default, CrawlDatum.java:239-245),
depth = parent+1 (the reference carries depth in meta,
example/DemoAnnotatedDepthCrawler.java:58-70 — we make it a real column),
priority inherited. Intra-round dedup by key (the KV link segment is
naturally key-unique, RocksDBManager.java:140-144).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from webcollector_spark.schema import CODE_NOT_SET, STATUS_DB_UNEXECUTED


def _mint_frontier_cols(key_col, url_col, meta_col):
    """The shared frontier-row template for newly discovered datums —
    one definition so the plain-link and visitor-datum paths cannot
    drift (status/counters/host extraction are identical by
    construction)."""
    return [
        key_col.alias("key"),
        url_col.alias("url"),
        F.lit(STATUS_DB_UNEXECUTED).alias("status"),
        F.lit(None).cast("long").alias("execute_time"),
        F.lit(0).alias("execute_count"),
        F.lit(CODE_NOT_SET).alias("code"),
        F.lit(None).cast("string").alias("location"),
        meta_col.cast("map<string,string>").alias("meta"),
        # (?i): an uppercase-scheme link must still yield its host (the
        # lowercase-only form returned '' and collapsed such links into
        # one pseudo-host for politeness/robots/host-stats), matching
        # the Python host_of() used for seeds and the replay oracle
        F.lower(
            F.regexp_extract(url_col, r"(?i)^[a-z][a-z0-9+.-]*://([^/:]+)", 1)
        ).alias("host"),
        F.col("depth"),
        F.col("priority"),
    ]


def canonical_default_keys(df: DataFrame) -> DataFrame:
    """The one default-key canonicalization rule (O13): rows whose key is
    the default (key == url) adopt the url's canonical form
    (functions/urls.py), so seeds, sitemap rows, links and visitor
    datums unify on one key; explicit user keys (key != url tasks) are
    untouched. JVM-side expression — no Python."""
    from webcollector_spark.functions.urls import canonical_url_col

    return df.withColumn(
        "key",
        F.when(
            F.col("key") == F.col("url"), canonical_url_col(F.col("url"))
        ).otherwise(F.col("key")),
    )


def discovered_links(
    fetched: DataFrame, dedup: bool = True, canonical_keys: bool = False
) -> DataFrame:
    """Explode fetched.links into new UNEXECUTED CrawlDatum rows.

    `dedup=False` skips the intra-round first-wins window: callers that
    feed the rows straight into `store.merge` can skip it because the
    merge's own per-key window breaks link ties by exactly the same
    (depth asc, url asc) order — one less shuffle per round.

    `canonical_keys=True` keys each link on its canonical URL form
    (`canonical_default_keys`) instead of the raw string, collapsing
    case/fragment/param-order aliases into one frontier row; the raw
    url is preserved for fetching."""
    exploded = fetched.filter(F.col("links").isNotNull()).select(
        F.explode("links").alias("url"),
        (F.col("depth") + 1).alias("depth"),
        F.col("priority"),
    )
    # default key identity (O13): key = url (or its canonical form)
    out = exploded.select(
        *_mint_frontier_cols(F.col("url"), F.col("url"), F.lit(None))
    )
    if canonical_keys:
        out = canonical_default_keys(out)
    if not dedup:
        return out
    # first-wins inside the round: keep the shallowest depth per key
    w = Window.partitionBy("key").orderBy(F.col("depth").asc(), F.col("url").asc())
    return (
        out.withColumn("__rn", F.row_number().over(w)).filter("__rn = 1").drop("__rn")
    )


def discovered_datums(fetched: DataFrame, canonical_keys: bool = False) -> DataFrame:
    """Explode visitor-emitted `next_datums` into frontier rows.

    The visitor-mode twin of `discovered_links`: handler-emitted datums
    carry their own key (key != url tasks, CrawlDatum.java:54-59) and
    meta (typed via "s_t" + user keys — the DemoBingCrawler plumbing);
    depth/priority derive from the parent row exactly as in the link
    path. Intra-round/cross-round dedup is left to the merge window
    (first-wins per key, deterministic depth-asc/url-asc tiebreak).

    `canonical_keys` applies ONLY to default-key datums — a null key
    defaults to the url, and `canonical_default_keys` detects the
    default as key == url, the same rule the seed path uses; a user key
    that differs from the url is never rewritten."""
    exploded = fetched.filter(F.col("next_datums").isNotNull()).select(
        F.explode("next_datums").alias("d"),
        (F.col("depth") + 1).alias("depth"),
        F.col("priority"),
    )
    out = exploded.select(
        *_mint_frontier_cols(
            F.coalesce(F.col("d.key"), F.col("d.url")),
            F.col("d.url"),
            F.col("d.meta"),
        )
    )
    return canonical_default_keys(out) if canonical_keys else out
