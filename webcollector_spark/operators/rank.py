"""PageRank over the crawl link graph — the canonical priority source
for a frontier scheduler (production crawlers schedule by link-graph
importance; the reference has no priority at all, so this is a graft
extension feeding the `priority` column that `generate_per_host` orders
by, operators/generate.py:95-103).

Shape per iteration: one join of ranks to edges on src (contributions =
rank / out_degree) + one groupBy dst sum — O(|E|) shuffle per
iteration, the same BSP pattern as connected components
(operators/components.py). Dangling nodes (no out-edges) keep their
rank from the teleport term only, the common simplification when ranks
order a scheduler rather than normalize to a distribution.

The registry twin `pagerank` unrolls the same fixed iteration count in
DuckDB CTEs, so the whole iterative computation is oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    checkpoint_every: int = 8,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Ranks after `iters` synchronous iterations from a uniform start.

    Nodes = union of srcs and dsts; returns (node, rank). Deterministic
    up to float-sum order (aggregation), as all parallel PageRanks are.

    With `seeds` (a 1-column DataFrame of trusted nodes) this is
    TrustRank (Gyongyi et al. 2004): the teleport vector is restricted
    to the seed set — base (1-d)/|S| on seeds, 0 elsewhere, start 1/|S|
    on seeds — so trust decays with link distance from the seeds and
    link-spam islands unreachable from them rank 0. The crawl use:
    demote frontier hosts no trusted page links into. Costs one extra
    left-semi flag join on the node table before the loop; the
    per-iteration shape is unchanged. An empty/disjoint seed set
    returns all-zero ranks (no trusted mass) rather than crashing the
    scheduler.

    Scale shape: out-degree is folded into the node table ONCE before
    the loop, so each iteration is a single shuffle join of ranks to
    edges on src plus a groupBy dst — no broadcast of any O(nodes) side
    (a 10^9-node out-degree table does not fit in a broadcast). Plan
    lineage is truncated with localCheckpoint every `checkpoint_every`
    iterations, same pattern as operators/components.py, so deep runs
    (iters=20+) don't blow up Catalyst analysis time.
    """
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    n = nodes.count()
    if n == 0:
        # A crawl round with no discovered links must not crash a
        # scheduler that wires pagerank in unconditionally.
        return nodes.withColumn("rank", F.lit(0.0))
    out_deg = edges.groupBy(src).agg(F.count("*").alias("odeg"))
    # Fold odeg onto the rank table once; dangling nodes get odeg NULL
    # (never divided by — they contribute nothing, per the docstring).
    nodes = nodes.join(out_deg.withColumnRenamed(src, "node"), "node", "left")
    if seeds is not None:
        seed_nodes = seeds.toDF("node").distinct()
        nodes = nodes.join(
            seed_nodes.withColumn("__seed", F.lit(True)), "node", "left"
        ).withColumn("__seed", F.coalesce("__seed", F.lit(False)))
        nodes = nodes.localCheckpoint(eager=False)
        n_seed = nodes.filter("__seed").count()
        if n_seed == 0:
            return nodes.select("node", F.lit(0.0).alias("rank"))
        start = F.when(F.col("__seed"), F.lit(1.0 / n_seed)).otherwise(0.0)
        base_col = F.when(
            F.col("__seed"), F.lit((1.0 - damping) / n_seed)
        ).otherwise(0.0)
    else:
        nodes = nodes.localCheckpoint(eager=False)
        start = F.lit(1.0 / n)
        base_col = F.lit((1.0 - damping) / n)
    ranks = nodes.withColumn("rank", start)
    for i in range(iters):
        contribs = (
            edges.join(ranks.withColumnRenamed("node", src), src)
            .select(
                F.col(dst).alias("node"),
                (F.col("rank") / F.col("odeg")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                "odeg",
                (
                    base_col
                    + F.lit(damping) * F.coalesce("inflow", F.lit(0.0))
                ).alias("rank"),
            )
        )
        if (i + 1) % checkpoint_every == 0 and (i + 1) < iters:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select("node", "rank")


def hits(
    edges: DataFrame,
    iters: int = 2,
    src: str = "src",
    dst: str = "dst",
    checkpoint_every: int = 8,
) -> DataFrame:
    """Kleinberg HITS hubs/authorities after `iters` synchronous
    iterations — the second classic frontier-priority source next to
    `pagerank` (focused crawlers schedule authorities first and mine
    hubs for outlinks; the reference's Generator orders by nothing,
    `crawldb/Generator.java:49-78`, so both are graft extensions
    feeding the same `priority` column).

    One iteration = auth half-step (sum hub scores over in-edges) then
    hub half-step (sum auth scores over out-edges), each L1-normalized.
    Returns (node, auth, hub).

    Scale shape: each half-step is ONE shuffle join of an O(nodes)
    score table to edges plus a groupBy — O(|E|) per iteration, the
    same BSP pattern as `pagerank`/connected components. The L1
    normalizer is a 1-row aggregate crossJoined back with an explicit
    broadcast (genuinely-small side); no O(nodes) table is ever
    broadcast. Unlike pagerank, every half-step table is consumed
    TWICE (once by its normalizer, once by the join) — without
    truncation the recompute/plan tree DOUBLES per half-step
    (2^(2·iters) blowup, found by the iters=5 unit test hanging), so
    each half-step is lazily localCheckpointed: one materialization of
    an O(nodes) table per half-step, which its shuffle would have
    written anyway. `checkpoint_every` additionally forces an eager
    cut for deep runs.
    """
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    if nodes.count() == 0:
        # Same contract as pagerank: an empty link graph must not
        # crash a scheduler wiring hits() in unconditionally.
        return nodes.withColumn("auth", F.lit(0.0)).withColumn(
            "hub", F.lit(0.0)
        )
    nodes = nodes.localCheckpoint(eager=False)
    hubs = nodes.withColumn("hub", F.lit(1.0))
    auths = nodes.withColumn("auth", F.lit(0.0))
    for i in range(iters):
        a_raw = (
            edges.join(hubs.withColumnRenamed("node", src), src)
            .groupBy(F.col(dst).alias("node"))
            .agg(F.sum("hub").alias("s"))
            .localCheckpoint(eager=False)
        )
        a_tot = a_raw.agg(F.sum("s").alias("t"))
        auths = (
            nodes.join(a_raw, "node", "left")
            .crossJoin(F.broadcast(a_tot))
            .select(
                "node",
                (F.coalesce("s", F.lit(0.0)) / F.col("t")).alias("auth"),
            )
            .localCheckpoint(eager=False)
        )
        h_raw = (
            edges.join(auths.withColumnRenamed("node", dst), dst)
            .groupBy(F.col(src).alias("node"))
            .agg(F.sum("auth").alias("s"))
            .localCheckpoint(eager=False)
        )
        h_tot = h_raw.agg(F.sum("s").alias("t"))
        hubs = (
            nodes.join(h_raw, "node", "left")
            .crossJoin(F.broadcast(h_tot))
            .select(
                "node",
                (F.coalesce("s", F.lit(0.0)) / F.col("t")).alias("hub"),
            )
            .localCheckpoint(eager=False)
        )
        if (i + 1) % checkpoint_every == 0 and (i + 1) < iters:
            auths = auths.localCheckpoint(eager=True)
            hubs = hubs.localCheckpoint(eager=True)
    return auths.join(hubs, "node")


def edges_from_history(hist: DataFrame, canonical: bool = False) -> DataFrame:
    """Link graph (src page -> harvested link key) from the crawler's
    fetched-history table: auto-parse links ride the `links` array,
    visitor emissions ride `next_datums` (dst = the datum KEY — the
    frontier identity rank joins back on). With `canonical`, both ends
    go through the same canonicalization as the frontier keys so ranks
    land on the rows they refer to."""
    parts = []
    cols = set(hist.columns)
    if "links" in cols:
        parts.append(
            hist.filter(F.col("links").isNotNull()).select(
                F.col("url").alias("src"), F.explode("links").alias("dst")
            )
        )
    if "next_datums" in cols:
        parts.append(
            hist.filter(F.col("next_datums").isNotNull()).select(
                F.col("url").alias("src"),
                F.explode("next_datums").alias("d"),
            ).select("src", F.col("d.key").alias("dst"))
        )
    if not parts:
        raise ValueError("history table has neither links nor next_datums")
    edges = parts[0]
    for p in parts[1:]:
        edges = edges.unionByName(p)
    if canonical:
        from webcollector_spark.functions.urls import canonical_url_col

        edges = edges.select(
            canonical_url_col(F.col("src")).alias("src"),
            canonical_url_col(F.col("dst")).alias("dst"),
        )
    return edges.distinct()


def opic(
    edges: DataFrame,
    iters: int = 2,
    src: str = "src",
    dst: str = "dst",
    checkpoint_every: int = 8,
) -> DataFrame:
    """OPIC — On-line Page Importance Computation (Abiteboul, Preda &
    Cobena, WWW 2003) — the importance metric DESIGNED for crawl
    scheduling: unlike PageRank it needs no convergence loop over a
    frozen graph; each page carries `cash` (distributed to outlinks
    when the page is visited) and `history` (cash it has held), and
    importance ≈ history + cash at any instant. This batch twin runs
    `iters` synchronous global steps — every step: history += cash,
    cash' = inflow of neighbors' cash/odeg, dangling cash redistributed
    uniformly (the paper's virtual page), so total cash is conserved at
    1.0 exactly.

    Returns (node, cash, hist, importance). `importance` is
    scheduler-ready: select (node, importance AS rank) into
    `priorities_from_ranks`.

    Scale shape: identical to pagerank — odeg folded onto the node
    table once, one edges⋈cash shuffle join + one groupBy per step; the
    dangling total is a genuine scalar, so it rides a 1-row broadcast
    (the HITS normalizer pattern), never an O(nodes) side. The registry
    twin unrolls the same steps as DuckDB CTEs."""
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    n = nodes.count()
    if n == 0:
        return nodes.select(
            "node",
            F.lit(0.0).alias("cash"),
            F.lit(0.0).alias("hist"),
            F.lit(0.0).alias("importance"),
        )
    out_deg = edges.groupBy(src).agg(F.count("*").alias("odeg"))
    nodes = nodes.join(
        out_deg.withColumnRenamed(src, "node"), "node", "left"
    ).localCheckpoint(eager=False)
    state = nodes.withColumn("cash", F.lit(1.0 / n)).withColumn(
        "hist", F.lit(0.0)
    )
    for i in range(iters):
        # dangling cash: a true scalar -> 1-row broadcast cross join
        d_row = state.filter(F.col("odeg").isNull()).agg(
            F.coalesce(F.sum("cash"), F.lit(0.0)).alias("__dangling")
        )
        inflow = (
            edges.join(state.withColumnRenamed("node", src), src)
            .select(
                F.col(dst).alias("node"),
                (F.col("cash") / F.col("odeg")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        state = (
            state.crossJoin(F.broadcast(d_row))
            .join(inflow, "node", "left")
            .select(
                "node",
                "odeg",
                (
                    F.coalesce("inflow", F.lit(0.0))
                    + F.col("__dangling") / F.lit(float(n))
                ).alias("cash"),
                (F.col("hist") + F.col("cash")).alias("hist"),
            )
        )
        if (i + 1) % checkpoint_every == 0 and (i + 1) < iters:
            state = state.localCheckpoint(eager=True)
    return state.select(
        "node",
        "cash",
        "hist",
        (F.col("cash") + F.col("hist")).alias("importance"),
    )


def priorities_from_ranks(frontier: DataFrame, ranks: DataFrame) -> DataFrame:
    """Frontier with `priority` replaced by -rank for ranked keys
    (higher rank -> smaller priority -> scheduled sooner by the
    per-host window); unranked rows keep their current priority. Feed
    the result to `store.merge`/`inject(force=True)` to persist."""
    r = ranks.select(F.col("node").alias("key"), F.col("rank").alias("__rank"))
    return (
        frontier.join(r, "key", "left")
        .withColumn(
            "priority",
            F.when(F.col("__rank").isNotNull(), -F.col("__rank")).otherwise(
                F.col("priority")
            ),
        )
        .drop("__rank")
    )


def ucb_host_scores(
    fetch_log: DataFrame,
    host: str = "host",
    yielded: str = "yielded",
    c: float = 2.0,
) -> DataFrame:
    """UCB1 exploration/exploitation score per host from a fetch log.

    A breadth crawler must split its per-round budget between hosts that
    have PROVEN productive (fetches that yielded new outlinks) and hosts
    it has barely sampled — the classic multi-armed-bandit trade-off
    (Auer et al. 2002, UCB1; applied to focused crawling e.g. in
    Pant/Srinivasan's crawler evaluations). Score per host:

        mean_yield + sqrt(c * ln(total_fetches) / n_fetches)

    so rarely-tried hosts get a large exploration bonus that decays as
    they accumulate trials, and the scheduler feeds the score into
    `generate_per_host`'s budget split the same way `priorities_from_ranks`
    feeds pagerank into per-key priority. The reference schedules purely
    by insertion order (crawldb/Generator.java:49-78 — FIFO within
    topN); this is the graft's adaptive-budget extension.

    Input: one row per completed fetch with a boolean `yielded` column
    (did this fetch discover at least one new frontier key). Shape: ONE
    map-side-combinable groupBy(host) — counts and a conditional count —
    plus a single-row total broadcast join; output is O(hosts), no
    window, no skew hazard (the hot host aggregates map-side). At 10^10
    fetches the log itself is never materialized to the driver; the
    aggregate is the only shuffle.
    """
    per_host = fetch_log.groupBy(F.col(host).alias("host")).agg(
        F.count("*").alias("n_trials"),
        F.count(F.when(F.col(yielded), F.lit(1))).alias("n_yield"),
    )
    return ucb_host_scores_from_counts(per_host, c=c)


def ucb_budget_k(
    bandit: DataFrame,
    k_max: int,
    c: float = 2.0,
    k_min: int = 1,
) -> DataFrame:
    """Turn accumulated (host, n_trials, n_yield) bandit state into the
    per-host generate budget table `generate_per_host` consumes: the
    input's columns plus __fit_k, so other per-host state rides along.

    k_h = clamp(k_min, k_max, ceil(k_max * ucb_h / max(ucb))) — the
    best-scoring host keeps the full budget, proven dead ends decay
    toward k_min, and hosts ABSENT from the state table are left out of
    the output entirely so the generate left-join defaults them to the
    full k (UCB's optimistic initialization: an untried arm has an
    infinite bonus). When no score is positive yet (t == 1 makes the
    exploration term ln(1) = 0 and nothing has yielded), every known
    host keeps k_max — no information, no throttle.

    Shape: the input is already the O(hosts-seen) aggregate; this adds
    one 1-row max broadcast and pure codegen arithmetic. Nothing here
    scans the frontier or the fetch log.
    """
    scored = ucb_host_scores_from_counts(bandit, c=c)
    mx = scored.agg(F.max("ucb").alias("__mx"))
    k = (
        scored.crossJoin(F.broadcast(mx))
        .select(
            *bandit.columns,
            F.when(
                F.col("__mx") <= 0.0, F.lit(int(k_max)).cast("long")
            )
            .otherwise(
                F.least(
                    F.lit(int(k_max)).cast("long"),
                    F.greatest(
                        F.lit(int(k_min)).cast("long"),
                        F.ceil(F.lit(float(k_max)) * F.col("ucb") / F.col("__mx")),
                    ),
                )
            )
            .alias("__fit_k"),
        )
    )
    return k


def ucb_host_scores_from_counts(per_host: DataFrame, c: float = 2.0) -> DataFrame:
    """UCB1 over an ALREADY-AGGREGATED (host, n_trials, n_yield) frame —
    the round-loop form, where the crawler folds per-round counts into a
    running O(hosts-seen) state table instead of re-scanning the full
    fetch log (`ucb_host_scores` is the from-the-log twin). Other input
    columns pass through ahead of `ucb`."""
    total = per_host.agg(F.sum("n_trials").cast("double").alias("__t"))
    return per_host.crossJoin(F.broadcast(total)).select(
        *per_host.columns,
        (
            F.col("n_yield") / F.col("n_trials").cast("double")
            + F.sqrt(F.lit(float(c)) * F.log(F.col("__t")) / F.col("n_trials"))
        ).alias("ucb"),
    )
