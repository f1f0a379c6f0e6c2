"""HyperLogLog sketch (operators/sketch.py): estimate accuracy and
register determinism; count-min hot items; adaptive salting."""

from pyspark.sql import functions as F


def test_hll_estimate_accuracy(spark):
    """±5% at b=10 (theory: 1.04/sqrt(1024) ~ 3.3% std error) on 20k
    distinct keys; duplicates must not move the estimate."""
    from webcollector_spark.operators.sketch import hll_estimate

    n = 20_000
    df = spark.range(n).select(
        F.concat(F.lit("http://h/"), F.col("id")).alias("key")
    )
    est = hll_estimate(df, "key", b=10)
    assert abs(est - n) / n < 0.05, est
    dup = df.unionByName(df.limit(5000))
    assert hll_estimate(dup, "key", b=10) == est


def test_hll_small_range_linear_counting(spark):
    """Far below m the linear-counting correction makes small sets
    near-exact."""
    from webcollector_spark.operators.sketch import hll_estimate

    df = spark.range(37).select(F.col("id").cast("string").alias("key"))
    est = hll_estimate(df, "key", b=10)
    assert abs(est - 37) <= 2, est


def test_hll_width_tracks_b(spark):
    """Regression: a fixed 50-bit rank width made every b != 10 estimate
    wrong by ~4x (b=12) / ~0.25x (b=8); the width must be 60 - b."""
    from webcollector_spark.operators.sketch import hll_estimate

    n = 20_000
    df = spark.range(n).select(
        F.concat(F.lit("k"), F.col("id")).alias("key")
    )
    for b in (8, 12):
        est = hll_estimate(df, "key", b=b)
        assert abs(est - n) / n < 0.15, (b, est)


class TestCountMin:
    """Count-min: one-sided error (never undercounts) and hot-item
    detection with zero false negatives."""

    def test_never_undercounts_and_close_on_hot(self, spark):
        from webcollector_spark.operators.sketch import cm_estimate_counts

        # skewed stream: 'hot' appears 5000x, 200 cold items 10x each
        df = spark.range(5000).select(F.lit("hot").alias("host")).unionByName(
            spark.range(2000).select(
                F.concat(F.lit("cold"), (F.col("id") % 200)).alias("host")
            )
        )
        truth = {r["host"]: r["c"] for r in
                 df.groupBy("host").agg(F.count("*").alias("c")).collect()}
        est = {
            r["host"]: r["est_count"]
            for r in cm_estimate_counts(
                df, df.select("host").distinct(), "host"
            ).collect()
        }
        for h, t in truth.items():
            assert est[h] >= t, h  # one-sided
        # hot estimate within the eps*N bound (w=256 -> ~2.7% of N=7000)
        assert est["hot"] - truth["hot"] <= 0.03 * 7000

    def test_hot_items_no_false_negatives(self, spark):
        from webcollector_spark.operators.sketch import hot_items

        df = spark.range(5000).select(F.lit("hot").alias("host")).unionByName(
            spark.range(2000).select(
                F.concat(F.lit("cold"), (F.col("id") % 200)).alias("host")
            )
        )
        hot = {r["host"] for r in hot_items(df, "host", 0.5).collect()}
        assert "hot" in hot
        assert all(h == "hot" or h.startswith("cold") for h in hot)
        # cold items are each 10/7000 = 0.14% -- far below threshold,
        # so at w=256 none should cross 50% even with collisions
        assert hot == {"hot"}
