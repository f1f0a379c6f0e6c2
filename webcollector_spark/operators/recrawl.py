"""Recrawl scheduling — the priority-queue side of the frontier.

The reference never revisits a SUCCESS page (status 5 is terminal,
crawldb/StatusGeneratorFilter.java:7-14); a production crawler must.
Recrawl here is expressed entirely through the existing merge
machinery: select stale rows, reset them to UNEXECUTED with a fresh
priority, and fold them through `store.merge` as a fetch-side segment
(last-wins update — the same row-level op as a fetch result). No new
write path, no snapshot semantics to re-prove.

Priority model (generate_per_host orders by priority ASC): a recrawled
row re-enters the queue with `priority = base + age_rank`, so the
stalest pages of each host surface first without starving fresh
discoveries (which carry priority 0.0 by default — set `base` > 0 to
de-prioritize recrawls, < 0 to prefer them).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from webcollector_spark.schema import STATUS_DB_SUCCESS, STATUS_DB_UNEXECUTED


def recrawl_candidates(
    frontier: DataFrame,
    now_ms: int,
    min_age_ms: int,
    base_priority: float = 1.0,
    only_success: bool = True,
    intervals: DataFrame | None = None,
) -> DataFrame:
    """Rows due for recrawl, reset to UNEXECUTED.

    Selection: executed longer than `min_age_ms` ago (execute_time is
    recorded on every execution, Fetcher.java:266). `only_success`
    limits to status SUCCESS (FAILED rows are already retried by the
    normal generate path while execute_count budget remains).

    The returned rows merge as a fetch-side segment: execute_time is
    restamped to `now_ms` so the update wins the last-wins window, and
    execute_count is preserved (a recrawl is a new visit of a known
    page, not a retry of a failed one — the retry budget still applies
    on top).

    With `intervals` (the `change_rate_intervals` output), each key is
    due on its OWN learned interval instead of the global floor —
    frequently-changing pages cycle fast, static pages back off to
    their clamp; keys without change history yet fall back to
    `min_age_ms`. The join is key-to-key on the frontier's primary key
    (both sides O(frontier)); no broadcast of anything O(keys).
    """
    due_age = F.lit(min_age_ms).cast("long")
    if intervals is not None:
        frontier = frontier.join(
            intervals.select("key", "interval_ms"), "key", "left"
        )
        due_age = F.coalesce(F.col("interval_ms"), due_age)
    cand = frontier.filter(
        F.col("execute_time").isNotNull()
        & (F.col("execute_time") <= F.lit(now_ms) - due_age)
    )
    if intervals is not None:
        cand = cand.drop("interval_ms")
    if only_success:
        cand = cand.filter(F.col("status") == STATUS_DB_SUCCESS)
    # stalest-first within host: rank by execute_time ascending
    w = Window.partitionBy("host").orderBy(F.col("execute_time").asc(), "key")
    return (
        cand.withColumn("__age_rank", F.row_number().over(w))
        .withColumn("status", F.lit(STATUS_DB_UNEXECUTED))
        .withColumn(
            "priority",
            F.lit(base_priority) + F.col("__age_rank").cast("double") / 1e6,
        )
        .withColumn("execute_time", F.lit(now_ms).cast("long"))
        .drop("__age_rank")
    )


def schedule_recrawl(
    store,
    now_ms: int,
    min_age_ms: int,
    base_priority: float = 1.0,
    only_success: bool = True,
) -> int:
    """Apply recrawl to a FrontierStore: merge the candidates as a
    fetch-side (update) segment. Returns number of rows rescheduled."""
    cand = recrawl_candidates(
        store.load(), now_ms, min_age_ms, base_priority, only_success
    )
    n = cand.count()
    if n:
        store.merge(cand, None)
    return n


def change_rate_intervals(
    history: DataFrame,
    base_ms: int,
    min_ms: int,
    max_ms: int,
    key_col: str = "key",
    order_col: str = "round",
    sig_col: str = "phash",
) -> DataFrame:
    """Per-key adaptive recrawl interval from observed change rate —
    the Cho & Garcia-Molina refresh policy (2003, "Effective Page
    Refresh Policies for Web Crawlers") in its integer-exact form:
    pages whose content signature changed on most revisits get short
    intervals, pages that never change drift toward `max_ms`.

    Signature = any per-fetch content column; the crawl's fetched
    history already carries the image payload's `phash`, so a changed
    picture IS a changed page. interval_ms = clamp(base_ms *
    (n_obs - 1) DIV (n_changes + 1), min_ms, max_ms) — all-integer
    (DIV, no float ratio), so the cross-engine oracle and any rerun cut
    identical schedules; n_obs < 2 means no change evidence yet and
    yields the clamped base.

    Scale shape: one window (lag over (key) ordered by round — bounded
    rows per key = that page's fetch count, so no skewed partition) +
    one groupBy(key). Output is O(keys) and joins back to the frontier
    on its primary key; feed it to `recrawl_candidates(intervals=...)`.
    """
    w = Window.partitionBy(key_col).orderBy(F.col(order_col).asc())
    changed = (
        F.col(sig_col) != F.lag(sig_col).over(w)
    ).cast("long")
    per = (
        history.select(
            F.col(key_col).alias("key"),
            changed.alias("__chg"),
        )
        .groupBy("key")
        .agg(
            F.count("*").alias("n_obs"),
            F.coalesce(F.sum("__chg"), F.lit(0)).alias("n_changes"),
        )
    )
    raw = F.expr(
        f"CAST({base_ms} AS BIGINT) * greatest(n_obs - 1, 1)"
        " DIV (n_changes + 1)"
    )
    return per.select(
        "key",
        "n_obs",
        "n_changes",
        F.least(
            F.lit(max_ms).cast("long"),
            F.greatest(F.lit(min_ms).cast("long"), raw),
        ).alias("interval_ms"),
    )
