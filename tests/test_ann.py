"""ANN tests: LSH candidate quality (recall of true near pairs vs the
exact brute-force baseline) and the topk wrapper's shape."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from webcollector_spark.operators.ann import rh_lsh_pairs, rh_lsh_topk

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


def _brute_pairs(emb, floor):
    e = F.col("embedding")

    def dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: p.cast("double") * q.cast("double")),
            F.lit(0.0),
            lambda acc, z: acc + z,
        )

    a = emb.select(F.col("vec_id").alias("vec_a"), e.alias("va"))
    b = emb.select(F.col("vec_id").alias("vec_b"), e.alias("vb"))
    sim = dot(F.col("va"), F.col("vb")) / (
        F.sqrt(dot(F.col("va"), F.col("va"))) * F.sqrt(dot(F.col("vb"), F.col("vb")))
    )
    return (
        a.crossJoin(b)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("sim", sim)
        .filter(F.col("sim") >= floor)
        .select("vec_a", "vec_b")
    )


def test_lsh_recall_on_planted_neardups(spark):
    """Plant true near-duplicates (noise-perturbed copies, cosine ~
    0.98: theta ~ 11deg -> per-bit collision ~ 0.94 -> per-8-bit-table
    ~ 0.6, 4 tables -> ~0.97) among random vectors; LSH must recover
    nearly all planted pairs while random pairs stay rare."""
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.standard_normal((60, 64))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
    for i, v in enumerate(base[:30]):  # planted dup of vec i -> id 1000+i
        noisy = v + 0.1 * rng.standard_normal(64)
        rows.append((1000 + i, [float(x) for x in noisy]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    got = rh_lsh_pairs(emb, n_bits=8, n_tables=4, seed=42)
    cand = {(r["vec_a"], r["vec_b"]): r["sim"] for r in got.collect()}
    planted = [(i, 1000 + i) for i in range(30)]
    found = [p for p in planted if p in cand]
    recall = len(found) / len(planted)
    assert recall >= 0.85, f"recall {recall:.2f}"
    for p in found:
        assert cand[p] >= 0.9  # rerank sim confirms near-dup
    # precision sanity: candidate set is far from all-pairs (90*89/2)
    assert len(cand) < 1000


def test_lsh_topk_shape(spark, emb):
    out = rh_lsh_topk(emb, k=3, n_bits=8, n_tables=2, seed=42)
    rows = out.collect()
    assert rows
    per_q: dict[int, list[int]] = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r["rk"])
        assert r["query_id"] != r["neighbor_id"]
    for q, rks in per_q.items():
        assert sorted(rks) == list(range(1, len(rks) + 1))
        assert len(rks) <= 3


class TestIVF:
    """IVF-flat: Lloyd training must reduce distortion, assignment must
    be deterministic, and probe-limited search must recover most of the
    brute-force top-k while scoring only a fraction of the corpus."""

    def test_kmeans_distortion_decreases(self, spark, emb):
        from webcollector_spark.operators.ann import (
            ivf_assign,
            train_ivf_centroids,
        )

        vecs = emb.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("ve"),
        )

        def distortion(cdf):
            assigned = ivf_assign(vecs, cdf, id_col="vec_id", vec_col="ve")
            joined = assigned.join(
                cdf.withColumnRenamed("cid", "cluster"), "cluster"
            )
            sq = F.aggregate(
                F.zip_with("ve", "ce", lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            return joined.agg(F.sum(sq)).collect()[0][0]

        c0 = train_ivf_centroids(emb, k=6, iters=0)
        c3 = train_ivf_centroids(emb, k=6, iters=3)
        d0, d3 = distortion(c0), distortion(c3)
        assert d3 < d0 * 0.95  # Lloyd monotonically reduces distortion
        # every vector lands in exactly one cell; all k cells exist
        a = ivf_assign(vecs, c3, id_col="vec_id", vec_col="ve")
        assert a.count() == emb.count()
        assert a.select("cluster").distinct().count() <= 6

    def test_ivf_recall_vs_bruteforce(self, spark, emb):
        from webcollector_spark.operators.ann import ivf_topk, train_ivf_centroids

        cents = train_ivf_centroids(emb, k=6, iters=2)
        queries = emb.orderBy(F.col("vec_id").desc()).limit(5)
        approx = ivf_topk(emb, cents, queries, k=3, nprobe=3)

        # brute-force truth for the same queries
        q = queries.select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
        )

        def dot(x, y):
            return F.aggregate(
                F.zip_with(x, y, lambda p, r: p.cast("double") * r.cast("double")),
                F.lit(0.0),
                lambda acc, z: acc + z,
            )

        sim = dot(F.col("qe"), F.col("embedding")) / (
            F.sqrt(dot(F.col("qe"), F.col("qe")))
            * F.sqrt(dot(F.col("embedding"), F.col("embedding")))
        )
        from pyspark.sql import Window

        w = Window.partitionBy("query_id").orderBy(
            F.col("sim").desc(), F.col("vec_id").asc()
        )
        truth = (
            q.crossJoin(emb)
            .filter(F.col("vec_id") != F.col("query_id"))
            .withColumn("sim", sim)
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 3)
            .select("query_id", F.col("vec_id").alias("neighbor_id"))
        )
        got = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
        want = {(r["query_id"], r["neighbor_id"]) for r in truth.collect()}
        recall = len(got & want) / len(want)
        # nprobe=3 of k=6 cells scans ~half the corpus; recall well
        # above chance and every returned neighbour is exact-scored
        assert recall >= 0.5, recall
        assert len(got) == len(want)


class TestPQ:
    """Product quantization: per-subspace training must reduce
    reconstruction distortion, codes must be complete + bounded, and
    ADC ranking must broadly agree with exact squared-L2 ranking."""

    def test_train_encode_shapes(self, spark, emb):
        from webcollector_spark.operators.ann import (
            pq_encode,
            train_pq_codebooks,
        )

        cb = train_pq_codebooks(emb, m=4, k=8, iters=2)
        rows = cb.collect()
        assert len(rows) == 4 * 8
        assert all(len(r["ce"]) == 16 for r in rows)
        codes = pq_encode(emb, cb, m=4)
        got = codes.collect()
        assert len(got) == emb.count()
        assert all(len(r["codes"]) == 4 for r in got)
        assert all(0 <= c < 8 for r in got for c in r["codes"])

    def test_training_reduces_distortion(self, spark, emb):
        from webcollector_spark.operators.ann import (
            _pq_subvectors,
            pq_assign,
            train_pq_codebooks,
        )

        def distortion(cb):
            sv = _pq_subvectors(emb, 4)
            joined = (
                sv.join(pq_assign(sv, cb), ["vid", "s"])
                .join(
                    cb.withColumnRenamed("cid", "code"), ["s", "code"]
                )
            )
            sq = F.aggregate(
                F.zip_with("sv", "ce", lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            return joined.agg(F.sum(sq)).collect()[0][0]

        c0 = train_pq_codebooks(emb, m=4, k=8, iters=0)
        c3 = train_pq_codebooks(emb, m=4, k=8, iters=3)
        assert distortion(c3) < distortion(c0) * 0.95

    def test_adc_agrees_with_exact_on_quantized(self, spark, emb):
        """ADC distance vs a query equals exact squared L2 to the
        RECONSTRUCTED (quantized) corpus vector — verify on a few
        pairs that the LUT-sum pipeline computes what it claims."""
        from webcollector_spark.operators.ann import (
            _pq_subvectors,
            pq_adc_topk,
            pq_assign,
            train_pq_codebooks,
        )

        cb = train_pq_codebooks(emb, m=4, k=8, iters=2)
        queries = emb.orderBy(F.col("vec_id").desc()).limit(3)
        top = pq_adc_topk(emb, cb, queries, k=3, m=4).collect()
        assert {r["rk"] for r in top} == {1, 2, 3}
        by_q = {}
        for r in top:
            by_q.setdefault(r["query_id"], []).append(r)
        # per query: ranks are adist-ascending and self is excluded
        for q, rows in by_q.items():
            rows.sort(key=lambda r: r["rk"])
            ds = [r["adist4"] for r in rows]
            assert ds == sorted(ds)
            assert all(r["neighbor_id"] != q for r in rows)

        # spot-check one (query, neighbor) adist against a direct
        # reconstruction computed driver-side
        import numpy as np

        r0 = top[0]
        vec = {
            r["vec_id"]: np.array(r["embedding"], dtype=float)
            for r in emb.filter(
                F.col("vec_id").isin([int(r0["query_id"]), int(r0["neighbor_id"])])
            ).collect()
        }
        cbl = {
            (r["s"], r["cid"]): np.array(r["ce"]) for r in cb.collect()
        }
        sv = _pq_subvectors(emb, 4)
        codes = {
            (r["vid"], r["s"]): r["code"]
            for r in pq_assign(sv, cb)
            .filter(F.col("vid") == int(r0["neighbor_id"]))
            .collect()
        }
        recon = np.concatenate(
            [cbl[(s, codes[(int(r0["neighbor_id"]), s)])] for s in range(4)]
        )
        want = float(((vec[int(r0["query_id"])] - recon) ** 2).sum())
        assert abs(want - r0["adist4"]) < 1e-3


class TestIVFADC:
    """Composed IVF + PQ/ADC: candidates must come only from probed
    cells, and each candidate's adist must equal the full-scan ADC
    distance for the same (query, neighbor) pair."""

    def test_probed_cells_and_adc_agreement(self, spark, emb):
        from webcollector_spark.operators.ann import (
            ivf_assign,
            ivfadc_topk,
            pq_adc_topk,
            train_ivf_centroids,
            train_pq_codebooks,
        )

        cents = train_ivf_centroids(emb, k=8, iters=2)
        cb = train_pq_codebooks(emb, m=4, k=8, iters=2)
        queries = emb.orderBy(F.col("vec_id").desc()).limit(3)
        top = ivfadc_topk(emb, cents, cb, queries, k=3, nprobe=2, m=4)
        rows = top.collect()
        assert rows, "no candidates survived the probe restriction"

        # per query: <= k rows, adist-ascending ranks, self excluded
        by_q = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append(r)
        for q, rs in by_q.items():
            rs.sort(key=lambda r: r["rk"])
            assert len(rs) <= 3
            ds = [r["adist4"] for r in rs]
            assert ds == sorted(ds)
            assert all(r["neighbor_id"] != q for r in rs)

        # every returned neighbour lives in one of its query's probed
        # cells (recompute probe sets driver-side from the same inputs)
        cluster_of = {
            r["vec_id"]: r["cluster"] for r in ivf_assign(emb, cents).collect()
        }
        centrows = cents.collect()
        import numpy as np

        cvec = {r["cid"]: np.array(r["ce"]) for r in centrows}
        qvecs = {
            r["vec_id"]: np.array(r["embedding"], dtype=float)
            for r in queries.collect()
        }
        for q, rs in by_q.items():
            d = sorted(
                (float(((qvecs[q] - c) ** 2).sum()), cid)
                for cid, c in cvec.items()
            )
            probed = {cid for _, cid in d[:2]}
            for r in rs:
                assert cluster_of[r["neighbor_id"]] in probed

        # adist agreement: the full-scan ADC top-k (k large enough to
        # cover all ivfadc picks) must report the same distance for
        # every (query, neighbor) ivfadc returned
        full = {
            (r["query_id"], r["neighbor_id"]): r["adist4"]
            for r in pq_adc_topk(emb, cb, queries, k=50, m=4).collect()
        }
        for r in rows:
            key = (r["query_id"], r["neighbor_id"])
            assert key in full
            assert abs(full[key] - r["adist4"]) < 1e-6


def _small_ann_inputs(spark, rows):
    """(emb, centroids, codebooks) over local rows: the first 4 vectors
    as centroids, the first 8 vectors' slices as m=4 codebooks."""
    import numpy as np

    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    vecs = [np.array(v) for _, v in rows]
    cents = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs[:4])],
        "cid int, ce array<double>",
    )
    ln = len(vecs[0]) // 4
    cb = spark.createDataFrame(
        [
            (s, i, [float(x) for x in v[s * ln:(s + 1) * ln]])
            for s in range(4)
            for i, v in enumerate(vecs[:8])
        ],
        "s int, cid int, ce array<double>",
    )
    return emb, cents, cb


def _random_rows(n, dim, seed=3):
    import numpy as np

    rng = np.random.default_rng(seed)
    return [(i, [float(x) for x in rng.standard_normal(dim)]) for i in range(n)]


def test_adc_plans_start_no_job(spark):
    """Building the PQ plans reads no data: the subvector length is a
    column (size / m), not a `first()` on the driver."""
    from webcollector_spark.operators.ann import ivfadc_topk, pq_adc_topk, pq_encode

    emb, cents, cb = _small_ann_inputs(spark, _random_rows(20, 64))
    queries = emb.filter(F.col("vec_id") < 2)
    sc = spark.sparkContext
    group = "ann-plan-build"
    sc.setJobGroup(group, group)
    try:
        pq_adc_topk(emb, cb, queries, k=3, m=4)
        ivfadc_topk(emb, cents, cb, queries, k=3, nprobe=2, m=4)
        pq_encode(emb, cb, m=4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_pq_rejects_length_not_divisible_by_m(spark):
    from webcollector_spark.operators.ann import pq_encode

    emb, _, cb = _small_ann_inputs(spark, _random_rows(8, 64))
    odd = spark.createDataFrame(_random_rows(3, 63), "vec_id long, embedding array<double>")
    assert len(pq_encode(emb, cb, m=4).collect()) == 8
    with pytest.raises(Exception, match="not divisible by m=4"):
        pq_encode(odd, cb, m=4).collect()


def test_exact_copies_rank_adjacent_lower_id_first(spark):
    """Two exact copies share every PQ code, so their ADC distances tie
    (up to float summation order); both ADC operators must rank them
    next to each other, lower neighbor_id first."""
    from webcollector_spark.operators.ann import ivfadc_topk, pq_adc_topk

    rows = _random_rows(40, 64)
    copy = rows[20][1]
    rows = rows[:20] + [(37, copy)] + rows[21:37] + [(20, copy)] + rows[38:]
    emb, cents, cb = _small_ann_inputs(spark, rows)
    queries = spark.createDataFrame([(999, copy)], "vec_id long, embedding array<double>")
    for top in (
        pq_adc_topk(emb, cb, queries, k=40, m=4),
        ivfadc_topk(emb, cents, cb, queries, k=40, nprobe=2, m=4),
    ):
        got = {r["neighbor_id"]: (r["rk"], r["adist4"]) for r in top.collect()}
        assert got[37][0] == got[20][0] + 1
        assert got[37][1] == got[20][1]
