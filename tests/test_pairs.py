"""operators/pairs.py.

salted_self_pairs: exact pair-set equality with the naive within-group
self-join, under no-split, split, and cap-saturating regimes — the skew
defense must never change WHAT is paired, only where the work lands.

Hamming-ball pairs: the banded and blocked joins return exactly the
O(n^2) hamming_pairs result over image phashes, audio fingerprints and
32-bit simhash-width signatures, and hash_pairs emits each hash pair
once."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from conftest import corpus_frame

from webcollector_spark import fixtures
from webcollector_spark.corpora import corpus
from webcollector_spark.operators import audiofp, pairs
from webcollector_spark.operators.pairs import salted_self_pairs


def _df(spark, sizes: dict[int, int]):
    rows = []
    nxt = 0
    for cell, n in sizes.items():
        for _ in range(n):
            rows.append((cell, nxt, float(nxt % 7)))
            nxt += 1
    return spark.createDataFrame(rows, "cell int, vec_id long, x double")


def _naive(df):
    a = df.select("cell", F.col("vec_id").alias("ia"))
    b = df.select("cell", F.col("vec_id").alias("ib"))
    return {
        (r.ia, r.ib)
        for r in a.join(b, "cell").filter(F.col("ia") < F.col("ib")).collect()
    }


def _salted(df, target):
    out = salted_self_pairs(
        df, "cell", "vec_id", ["x"], split_target=target
    )
    rows = out.collect()
    pairs = [(r.vec_id_a, r.vec_id_b) for r in rows]
    assert len(pairs) == len(set(pairs)), "duplicate pair emitted"
    return set(pairs)


def test_no_split_regime_matches_naive(spark):
    df = _df(spark, {0: 5, 1: 3, 2: 1})
    assert _salted(df, target=100) == _naive(df)


def test_hot_cell_split_matches_naive(spark):
    # one cell holds most rows and splits into several sub-blocks
    df = _df(spark, {0: 60, 1: 7, 2: 2, 3: 1})
    assert _salted(df, target=8) == _naive(df)


def test_max_splits_cap_still_exact(spark):
    df = _df(spark, {0: 50})
    out = salted_self_pairs(
        df, "cell", "vec_id", ["x"], split_target=2, max_splits=4
    )
    pairs = {(r.vec_id_a, r.vec_id_b) for r in out.collect()}
    assert pairs == _naive(df)
    assert len(pairs) == 50 * 49 // 2


def test_payload_columns_ride_along(spark):
    df = _df(spark, {0: 12})
    row = (
        salted_self_pairs(df, "cell", "vec_id", ["x"], split_target=4)
        .filter((F.col("vec_id_a") == 0) & (F.col("vec_id_b") == 8))
        .collect()
    )
    assert len(row) == 1
    assert row[0].x_a == 0.0 and row[0].x_b == 1.0


def test_split_map_broadcast_holds_only_hot_groups(spark):
    """The split map must stay broadcast-sized: only groups above the
    target appear in it (checked via the physical plan's broadcast
    exchange feeding a filtered aggregate, not a full group list)."""
    df = _df(spark, {i: 2 for i in range(200)} | {999: 50})
    out = salted_self_pairs(df, "cell", "vec_id", ["x"], split_target=10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" not in plan
    assert _salted(df, target=10) == _naive(df)


def test_randomized_group_distributions_match_naive(spark):
    """Property sweep: random Zipf-ish group-size mixes, random split
    targets — pair-set equality must hold in every regime (pure
    no-split, mixed, all-hot)."""
    import random

    for seed in (3, 4, 5):
        rng = random.Random(seed)
        sizes = {
            g: rng.choice([1, 2, 3, 5, 9, 17, 40])
            for g in range(rng.randint(3, 8))
        }
        sizes[99] = rng.choice([60, 90])  # one hot group
        df = _df(spark, sizes)
        for target in (1, 4, 16, 1000):
            assert _salted(df, target) == _naive(df), (seed, target)


# ---------------------------------------------------------------------------
# Hamming-ball pairs over a fingerprint column

IMG = ("img_a", "img_b")


def _triples(df, a, b):
    assert df.columns == [a, b, "hamming"]
    rows = [(r[a], r[b], r["hamming"]) for r in df.collect()]
    assert len(rows) == len(set(rows)), "duplicate pair emitted"
    return set(rows)


def _brute_hash_pairs(hashes, k):
    """(x, y, hamming) over the distinct signed int64 hashes, x < y."""
    hs = sorted(set(int(h) for h in hashes))
    ham = {
        (x, y): bin((x ^ y) & ((1 << 64) - 1)).count("1")
        for i, x in enumerate(hs)
        for y in hs[i + 1 :]
    }
    return {(x, y, d) for (x, y), d in ham.items() if d <= k}


def test_phash_banded_matches_exact(spark):
    corpus = corpus_frame(spark, fixtures.corpus_with_neardups(120, 30))
    exact = {
        (r["img_a"], r["img_b"], r["hamming"])
        for r in pairs.hamming_pairs(corpus, "image_id", "phash", IMG, 16).collect()
    }
    banded = {
        (r["img_a"], r["img_b"], r["hamming"])
        for r in pairs.banded_pairs(corpus, "image_id", "phash", IMG, 16).collect()
    }
    assert banded == exact
    # every injected lossy re-encode must pair with its source image
    dup_pairs = {
        (a, b) for a, b, _ in exact if a.startswith("dup") or b.startswith("dup")
    }
    assert len(dup_pairs) >= 30
    for i in range(30):
        assert (f"dup{i:08d}", f"img{i:08d}") in dup_pairs or (
            f"img{i:08d}",
            f"dup{i:08d}",
        ) in dup_pairs


def test_phash_blocked_matches_exact(spark):
    """Block-combination keys (the web-scale layout) return exactly the
    O(n^2) hamming-ball result — completeness by pigeonhole on intact
    8-bit blocks — at both the default and a non-default k."""
    corpus = corpus_frame(spark, fixtures.corpus_with_neardups(120, 30))
    for k, m in ((4, 8), (2, 4)):
        exact = {
            (r["img_a"], r["img_b"], r["hamming"])
            for r in pairs.hamming_pairs(corpus, "image_id", "phash", IMG, k).collect()
        }
        blocked = {
            (r["img_a"], r["img_b"], r["hamming"])
            for r in pairs.blocked_pairs(
                corpus, "image_id", "phash", IMG, k, m=m
            ).collect()
        }
        assert blocked == exact, (k, m)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        pairs.blocked_pairs(corpus, "image_id", "phash", IMG, 8, m=8)


def test_audio_fingerprints_exact_banded_blocked(spark):
    """The audio family through the same joins, under its own output
    names: exact == banded at the registry's k=8, and exact == banded ==
    blocked at k=4 (the blocked layout needs k < m=8)."""
    fps = audiofp.audio_fingerprints(corpus(spark, "audio_fp")).cache()
    aud = ("aud_a", "aud_b")
    exact8 = _triples(pairs.hamming_pairs(fps, "audio_id", "afp", aud, 8), *aud)
    assert _triples(pairs.banded_pairs(fps, "audio_id", "afp", aud, 8), *aud) == exact8
    assert len(exact8) == 6  # the planted dups, nothing else
    exact4 = {t for t in exact8 if t[2] <= 4}
    assert _triples(pairs.banded_pairs(fps, "audio_id", "afp", aud, 4), *aud) == exact4
    assert _triples(pairs.blocked_pairs(fps, "audio_id", "afp", aud, 4), *aud) == exact4
    fps.unpersist()


def _sig32_rows(seed: int = 7) -> list[tuple[str, int]]:
    """60 random 32-bit signatures, 1-3 bit variants of 30 of them and
    exact copies of 10: every hamming distance 0..3 occurs."""
    rng = np.random.default_rng(seed)
    base = [int(v) for v in rng.integers(0, 1 << 32, 60, dtype=np.int64)]
    sigs = list(base)
    for i in range(30):
        v = base[i]
        for bit in rng.choice(32, 1 + i % 3, replace=False):
            v ^= 1 << int(bit)
        sigs.append(v)
    sigs += base[:10]
    return [(f"s{i:04d}", v) for i, v in enumerate(sigs)]


@pytest.mark.parametrize("k", [0, 1, 2])
def test_simhash_width_signatures_exact_banded_blocked(spark, k):
    """32-bit signatures at the simhash block layout (4 blocks of 8
    bits): exact == banded == blocked, and hash_pairs over the distinct
    signatures emits each signature pair once."""
    rows = _sig32_rows()
    df = spark.createDataFrame(rows, "doc_id string, simhash long")
    out = ("doc_a", "doc_b")
    exact = _triples(pairs.hamming_pairs(df, "doc_id", "simhash", out, k), *out)
    banded = _triples(pairs.banded_pairs(df, "doc_id", "simhash", out, k), *out)
    blocked = _triples(
        pairs.blocked_pairs(df, "doc_id", "simhash", out, k, m=4, bits=32), *out
    )
    assert banded == exact and blocked == exact
    assert {t for t in exact if t[2] == 0}  # exact copies pair at hamming 0
    if k:
        assert {t for t in exact if t[2] == k}
    hp = pairs.hash_pairs(df.select("simhash").distinct(), "simhash", k, m=4, bits=32)
    want = {t for t in _brute_hash_pairs([v for _, v in rows], k) if t[2] > 0}
    assert _triples(hp, "ph_a", "ph_b") == want


def test_hash_pairs_emits_each_phash_pair_once(spark):
    """64-bit phashes at the default m=8 layout: one row per distinct
    hash pair within hamming k, although a close pair shares several
    of the C(8, 4) block-combination keys."""
    ph = [int(r["phash"]) for r in fixtures.corpus_with_neardups(120, 30).to_dict("records")]
    df = spark.createDataFrame([(v,) for v in sorted(set(ph))], "phash long")
    for k in (2, 4):
        want = {t for t in _brute_hash_pairs(ph, k) if t[2] > 0}
        assert want
        assert _triples(pairs.hash_pairs(df, "phash", k), "ph_a", "ph_b") == want
