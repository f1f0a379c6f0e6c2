"""Approximate nearest neighbour over embedding columns — the one
vector-search layer: the registry's similarity-search entries call
these functions with seeded inputs, so the DuckDB oracles check the
operators users call.

Tiers (training-data-pipeline requirement), cheapest recall first:

0. `cosine_topk` — exact brute force: broadcast the query set,
   JVM-side dot products (`zip_with`/`aggregate`), window top-k. The
   recall baseline the other tiers are judged against.
1. `rh_lsh_pairs` / `rh_lsh_topk` — random-hyperplane LSH (SimHash for
   real vectors, Charikar '02): b sign-bits of <v, plane_j> form a
   bucket key; candidates share a bucket in >= 1 of `n_tables` tables;
   exact cosine reranks candidates. Hyperplanes are DETERMINISTIC
   literals (seeded numpy), embedded both in the Spark plan and in the
   DuckDB oracle SQL, so the whole approximate pipeline is still
   column-level cross-checked.
2. `ivf_topk` — IVF-flat: exact cosine inside the query's `nprobe`
   nearest k-means cells (`train_ivf_centroids`, `ivf_assign`).
   Label blocking, `plans/queries.q_cosine_blocked_neardup`, is the
   same shape with a given bucket column.
3. `pq_adc_topk` — product quantization: every vector scored, but as m
   int codes against a per-query lookup table (`train_pq_codebooks`,
   `pq_encode`).
4. `ivfadc_topk` — IVFADC: the IVF candidate bound times the PQ
   per-vector cost.

Each shared step is written once: `_sqdist` is the one squared
distance, `dot`/`cos` the one inner product and cosine, `_nearest` the
one nearest-k ranking (behind `ivf_assign`, the IVF probes and
`pq_assign`), `_adc_topk` the one ADC lookup table and scan, `_topk`
the one top-k rank.

Scale shape: signatures, codes and distances are map stages over
broadcast centroid/codeword/query tables; LSH and IVF candidates come
from equi-joins on bucket or cell; reranking touches candidates only.
No O(n^2) stage outside the tier-0 baseline.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def hyperplanes(dim: int, n_bits: int, seed: int = 42) -> np.ndarray:
    """Deterministic Gaussian hyperplanes, identical for Spark + oracle."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_bits, dim)).round(6)


def _dot_lit(vec: Column, plane: np.ndarray) -> Column:
    """<vec, literal plane> as a JVM-side expression. The plane is one
    parsed array literal (`D`: double, exact round trip of the float),
    not one Column per element."""
    arr = F.expr("array(" + ", ".join(f"{float(x)!r}D" for x in plane) + ")")
    return F.aggregate(
        F.zip_with(vec, arr, lambda a, b: a.cast("double") * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def dot(a: Column, b: Column) -> Column:
    """<a, b> over two array columns as a JVM expression (double);
    DuckDB's list_dot_product."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, z: acc + z,
    )


def cos(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def _sqdist(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _topk(scored: DataFrame, k: int, order: Column, value: str) -> DataFrame:
    """Each query's first k candidates by `order`, lower neighbor_id on
    ties: (query_id, neighbor_id, rk, {value}4), the value rounded to 4
    places (+ 0 turns a rounded -0.0 into 0.0)."""
    w = Window.partitionBy("query_id").orderBy(order, F.col("neighbor_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "rk",
            (F.round(value, 4) + F.lit(0.0)).alias(f"{value}4"),
        )
    )


def _queries(queries: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qe"))


def _cosine_topk(cand: DataFrame, k: int, id_col: str, vec_col: str) -> DataFrame:
    """Exact cosine top-k over candidate rows carrying both vectors
    (query_id, qe, id_col, vec_col); a query never ranks itself."""
    scored = cand.filter(F.col(id_col) != F.col("query_id")).select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        cos(F.col("qe"), F.col(vec_col)).alias("sim"),
    )
    return _topk(scored, k, F.col("sim").desc(), "sim")


def cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query over the whole corpus: the queries
    (id_col, vec_col rows, a small set) broadcast against every vector.
    O(n) per query — the tier-0 baseline. Returns (query_id,
    neighbor_id, rk, sim4)."""
    cand = emb.crossJoin(F.broadcast(_queries(queries, id_col, vec_col)))
    return _cosine_topk(cand, k, id_col, vec_col)


def rh_bucket(vec: Column, planes: np.ndarray) -> Column:
    """Bucket id = integer of sign bits of the plane projections."""
    bits = [
        F.when(_dot_lit(vec, p) >= 0, F.lit(1 << j)).otherwise(0)
        for j, p in enumerate(planes)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("long")


def rh_bucket_sql(vec_expr: str, planes: np.ndarray) -> str:
    """The same bucket id as DuckDB SQL (literal plane lists)."""
    terms = []
    for j, p in enumerate(planes):
        lits = ", ".join(repr(float(x)) for x in p)
        terms.append(
            f"CASE WHEN list_dot_product({vec_expr}, [{lits}]) >= 0 "
            f"THEN {1 << j} ELSE 0 END"
        )
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def rh_lsh_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 8,
    n_tables: int = 2,
    seed: int = 42,
) -> DataFrame:
    """Candidate pairs sharing a bucket in >= 1 of n_tables tables,
    reranked with exact cosine. Returns (vec_a, vec_b, sim)."""
    dim = len(emb.select(vec_col).first()[0])
    tabs = []
    for t in range(n_tables):
        planes = hyperplanes(dim, n_bits, seed + t)
        tabs.append(
            emb.select(
                F.col(id_col).alias("vid"),
                F.col(vec_col).alias("v"),
                F.lit(t).alias("tab"),
                rh_bucket(F.col(vec_col), planes).alias("bucket"),
            )
        )
    sigs = tabs[0]
    for t in tabs[1:]:
        sigs = sigs.unionByName(t)
    a = sigs.select("tab", "bucket", F.col("vid").alias("vec_a"), F.col("v").alias("va"))
    b = sigs.select("tab", "bucket", F.col("vid").alias("vec_b"), F.col("v").alias("vb"))

    sim = cos(F.col("va"), F.col("vb"))
    return (
        a.join(b, ["tab", "bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
        .join(
            sigs.filter(F.col("tab") == 0).select(
                F.col("vid").alias("vec_a"), F.col("v").alias("va")
            ),
            "vec_a",
        )
        .join(
            sigs.filter(F.col("tab") == 0).select(
                F.col("vid").alias("vec_b"), F.col("v").alias("vb")
            ),
            "vec_b",
        )
        .select("vec_a", "vec_b", sim.alias("sim"))
    )


def rh_lsh_topk(
    emb: DataFrame,
    k: int = 3,
    sim_floor: float = 0.0,
    **kw,
) -> DataFrame:
    """Approximate top-k neighbours per vector from the LSH candidates
    (symmetrized), ranked by exact cosine."""
    pairs = rh_lsh_pairs(emb, **kw)
    sym = pairs.select(
        F.col("vec_a").alias("query_id"),
        F.col("vec_b").alias("neighbor_id"),
        "sim",
    ).unionByName(
        pairs.select(
            F.col("vec_b").alias("query_id"),
            F.col("vec_a").alias("neighbor_id"),
            "sim",
        )
    )
    return _topk(sym.filter(F.col("sim") >= sim_floor), k, F.col("sim").desc(), "sim")


# ---------------------------------------------------------------------------
# Tier 2: IVF-flat (the index family FAISS/Milvus ship for billion-vector
# search). Train coarse centroids with Lloyd's k-means, assign every vector
# to its nearest cell (k broadcast distances per row), search only the
# query's `nprobe` nearest cells. Candidate volume is ~ nprobe/k of the
# corpus; the registry entry `ivf_ann_topk` pins it, with seeded
# centroids, against the DuckDB oracle.


def _nearest(
    rows: DataFrame,
    vec_col: str,
    cents: DataFrame,
    keys: list[str],
    k: int = 1,
    on: str | None = None,
) -> DataFrame:
    """Every column of `rows` plus `cid`, once for each of the row's k
    nearest entries of `cents` (cid, ce[, on]) by squared L2; ties break
    toward the lower cid (deterministic). `keys` identify a row; `on`
    restricts a row to the entries sharing that column (the PQ
    subspace). `cents` is small by construction and broadcast."""
    w = Window.partitionBy(*keys).orderBy(F.col("__d").asc(), F.col("cid").asc())
    pairs = (
        rows.join(F.broadcast(cents), on)
        if on
        else rows.crossJoin(F.broadcast(cents))
    )
    return (
        pairs.withColumn("__d", _sqdist(F.col(vec_col), F.col("ce")))
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("ce", "__d", "__rk")
    )


def train_ivf_centroids(
    emb: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means over the embedding column.

    Deterministic seeding: the k lowest-id vectors (k-means|| would seed
    in production; fixed seeds keep tests reproducible). Each iteration
    is one broadcast-assignment plus one posexplode/groupBy mean —
    shuffle volume O(n_vectors x dim) of (cluster, pos, value) triples,
    never O(n^2). Centroids (k x dim doubles) round-trip through the
    driver between iterations — they are small by construction; the
    corpus never does. Empty cells keep their previous centroid (the
    standard Lloyd convention).

    Returns a DataFrame (cid int, ce array<double>).
    """
    spark = emb.sparkSession
    vecs = emb.select(
        F.col(id_col).alias("vid"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("ve"),
    )
    seed_rows = vecs.orderBy("vid").limit(k).collect()
    cents = [(i, list(r["ve"])) for i, r in enumerate(seed_rows)]
    for _ in range(iters):
        cdf = spark.createDataFrame(cents, "cid int, ce array<double>")
        means = (
            ivf_assign(vecs, cdf, id_col="vid", vec_col="ve")
            .select("cluster", F.posexplode("ve").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("m")))
                    ),
                    lambda s: s["m"],
                ).alias("ce")
            )
            .collect()
        )
        new = {r["cluster"]: list(r["ce"]) for r in means}
        cents = [(cid, new.get(cid, old)) for cid, old in cents]
    return spark.createDataFrame(cents, "cid int, ce array<double>")


def ivf_assign(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Every column of `emb` plus `cluster`, the vector's nearest
    centroid cell. Broadcast the centroids; ties break toward the lower
    cid (deterministic)."""
    return _nearest(emb, vec_col, centroids, [id_col]).withColumnRenamed(
        "cid", "cluster"
    )


def _probes(
    queries: DataFrame, centroids: DataFrame, nprobe: int, id_col: str, vec_col: str
) -> DataFrame:
    """(query_id, qe, cluster): each query's `nprobe` nearest cells."""
    return _nearest(
        _queries(queries, id_col, vec_col), "qe", centroids, ["query_id"], nprobe
    ).withColumnRenamed("cid", "cluster")


def ivf_topk(
    emb: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 3,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query, searched only inside the query's
    `nprobe` nearest cells. `queries` must be (id_col, vec_col) rows
    (typically a small subset — it is broadcast). Returns (query_id,
    neighbor_id, rk, sim4)."""
    probes = _probes(queries, centroids, nprobe, id_col, vec_col)
    cand = ivf_assign(emb, centroids, id_col, vec_col).join(
        F.broadcast(probes), "cluster"
    )
    return _cosine_topk(cand, k, id_col, vec_col)


# ---------------------------------------------------------------------------
# Tier 3: product quantization (Jégou et al. 2011) — the memory side of
# the web-scale ANN stack. IVF (tier above) bounds how much of the
# corpus a query touches; PQ bounds what each touched vector costs:
# dim/m-dim subvectors quantized to k codewords each compress a vector
# to m small ints (64-dim float -> 4 bytes at m=4/k<=256), and
# asymmetric-distance (ADC) search scans codes against a per-query
# lookup table instead of raw floats. Scale shape: the code table is
# O(n*m) narrow ints; the per-query LUT is m*k entries — broadcast by
# construction; the scan is one hash join + sum, no O(n^2) stage and no
# raw-vector shuffle. At 10^9 vectors compose with ivf_assign so the
# LUT join only scans the probed cells' code lists (IVFADC, tier 4).


def _pq_subvectors(
    emb: DataFrame,
    m: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vid, s, sv): the m per-subspace slices of every vector — one
    narrow map stage (crossJoin with the m-row subspace frame is a
    broadcast nested loop over literals, not a shuffle). The slice
    length is the vector's size / m as a column, so building the plan
    runs no job; a size not divisible by m fails the plan's first job."""
    dim = F.size(vec_col)
    ln = F.when(dim % m == 0, (dim / m).cast("int")).otherwise(
        F.raise_error(
            F.format_string(f"vector length %d is not divisible by m={m}", dim)
        )
    )
    sub = emb.sparkSession.range(m).select(F.col("id").cast("int").alias("s"))
    return emb.crossJoin(F.broadcast(sub)).select(
        F.col(id_col).alias("vid"),
        "s",
        F.transform(
            F.slice(vec_col, F.col("s") * ln + 1, ln),
            lambda x: x.cast("double"),
        ).alias("sv"),
    )


def pq_assign(sv: DataFrame, codebooks: DataFrame) -> DataFrame:
    """Nearest codeword per (vector, subspace): (vid, s, code).
    `codebooks` is (s, cid, ce) — m*k rows, broadcast. Ties break
    toward the lower cid (deterministic)."""
    return _nearest(sv, "sv", codebooks, ["vid", "s"], on="s").select(
        "vid", "s", F.col("cid").alias("code")
    )


def train_pq_codebooks(
    emb: DataFrame,
    m: int = 4,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-subspace Lloyd's k-means, all m subspaces trained in the SAME
    jobs (cluster key (s, cid) — m separate loops would scan the corpus
    m times per iteration). Deterministic seeding from the k lowest-id
    vectors' slices, mirroring train_ivf_centroids. Codebooks (m*k*dim/m
    doubles) round-trip through the driver between iterations; the
    corpus never does. Returns (s int, cid int, ce array<double>)."""
    spark = emb.sparkSession
    sv = _pq_subvectors(emb, m, id_col, vec_col)
    seed_ids = [
        r[0] for r in emb.select(id_col).orderBy(id_col).limit(k).collect()
    ]
    seed_rows = (
        sv.filter(F.col("vid").isin(seed_ids)).orderBy("s", "vid").collect()
    )
    cents = [
        (r["s"], i % k, list(r["sv"])) for i, r in enumerate(seed_rows)
    ]
    for _ in range(iters):
        cdf = spark.createDataFrame(cents, "s int, cid int, ce array<double>")
        assigned = pq_assign(sv, cdf)
        means = (
            sv.join(assigned, ["vid", "s"])
            .select("s", "code", F.posexplode("sv").alias("pos", "x"))
            .groupBy("s", "code", "pos")
            .agg(F.avg("x").alias("mval"))
            .groupBy("s", "code")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("mval")))
                    ),
                    lambda st: st["mval"],
                ).alias("ce")
            )
            .collect()
        )
        new = {(r["s"], r["code"]): list(r["ce"]) for r in means}
        cents = [(s, cid, new.get((s, cid), old)) for s, cid, old in cents]
    return spark.createDataFrame(cents, "s int, cid int, ce array<double>")


def pq_encode(
    emb: DataFrame,
    codebooks: DataFrame,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, codes array<int>): the stored representation — m small
    ints per vector, subspace order."""
    sv = _pq_subvectors(emb, m, id_col, vec_col)
    return (
        pq_assign(sv, codebooks)
        .groupBy("vid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("s"), F.col("code")))),
                lambda st: st["code"],
            ).alias("codes")
        )
        .select(F.col("vid").alias(id_col), "codes")
    )


def _adc_topk(
    cand: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    k: int,
    m: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The ADC scan: candidate code rows (query_id, vid, s, code) look
    their partial distances up in the query's LUT — the m*k squared
    distances from each query subvector to every codeword, broadcast by
    construction — and sum them to adist (approximate squared L2)."""
    # lq/qs/qcid renames keep the join condition unambiguous even when
    # `queries` shares lineage with the corpus (e.g. queries =
    # emb.limit(n)): same-name refs on shared-lineage frames resolve
    # trivially true in Spark's analyzer
    lut = (
        _pq_subvectors(queries, m, id_col, vec_col)
        .join(codebooks, "s")
        .select(
            F.col("vid").alias("lq"),
            F.col("s").alias("qs"),
            F.col("cid").alias("qcid"),
            _sqdist(F.col("sv"), F.col("ce")).alias("pd"),
        )
    )
    scored = (
        cand.join(
            F.broadcast(lut),
            (F.col("query_id") == F.col("lq"))
            & (F.col("s") == F.col("qs"))
            & (F.col("code") == F.col("qcid")),
        )
        .groupBy("query_id", F.col("vid").alias("neighbor_id"))
        .agg(F.sum("pd").alias("adist"))
    )
    # Rank on the ROUNDED distance: vectors sharing all m PQ codes have
    # mathematically identical adist, but a float sum's value depends on
    # accumulation order, so raw-adist ordering is nondeterministic
    # run-to-run (observed: a 5-way exact-tie group reordered itself
    # between runs in both engines). Quantizing to the output precision
    # makes the tie explicit and the id tie-break decide.
    return _topk(scored, k, F.round("adist", 4).asc(), "adist")


def pq_adc_topk(
    emb: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    k: int = 3,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance top-k: raw query subvectors against the
    corpus's quantized codes, every vector a candidate of every query.
    The corpus side contributes only its code triples, so the scan never
    touches raw corpus floats. Returns (query_id, neighbor_id, rk,
    adist4) with adist ascending (approximate squared L2)."""
    codes = pq_assign(_pq_subvectors(emb, m, id_col, vec_col), codebooks)
    cand = codes.crossJoin(
        F.broadcast(queries.select(F.col(id_col).alias("query_id")))
    ).filter(F.col("vid") != F.col("query_id"))
    return _adc_topk(cand, queries, codebooks, k, m, id_col, vec_col)


def ivfadc_topk(
    emb: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    k: int = 3,
    nprobe: int = 2,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFADC (Jegou et al. 2011 SIV): the composed 10^9-vector shape.
    IVF bounds WHICH vectors a query touches (only the nprobe probed
    cells' code lists are scanned); PQ/ADC bounds what each touched
    vector COSTS (m int codes + a broadcast LUT lookup, never raw
    floats). Scale shape: corpus side contributes (vid, cluster) +
    (vid, s, code) int tables — both precomputable once and stored;
    query side contributes nprobe cell ids + an m*k-row LUT per query,
    broadcast by construction; the scan is one hash join + sum over
    candidates only. No O(n^2) stage, and the scan shuffles no raw
    corpus vector (only the cell assignment reads them).

    Non-residual variant: codes quantize RAW vectors (what
    train_pq_codebooks trains). The textbook refinement encodes
    residuals (x - home centroid) for tighter cells — omitted so the
    stored codes stay query-independent and the registry oracle can
    value-check this exact pipeline end to end."""
    cells = ivf_assign(
        emb.select(id_col, vec_col), centroids, id_col, vec_col
    ).select(F.col(id_col).alias("vid"), "cluster")
    probes = _probes(queries, centroids, nprobe, id_col, vec_col)
    cand = (
        pq_assign(_pq_subvectors(emb, m, id_col, vec_col), codebooks)
        .join(cells, "vid")
        .join(F.broadcast(probes.select("query_id", "cluster")), "cluster")
        .filter(F.col("vid") != F.col("query_id"))
    )
    return _adc_topk(cand, queries, codebooks, k, m, id_col, vec_col)
