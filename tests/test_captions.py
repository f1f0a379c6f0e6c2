"""Caption-curation operator tests over the noisy alt-text corpus
(fixtures.corpus_with_caption_noise): boilerplate spam, label-conflict
pairs on near-identical images, and the quality gate. The registry
entries add the DuckDB-recomputed oracle check; these assert the
SEMANTICS directly against the known fixture pathologies."""

from __future__ import annotations

from conftest import corpus_frame

from webcollector_spark import fixtures
from webcollector_spark.operators import captions


def _corpus(spark, n=120, dupes=24):
    return corpus_frame(spark, fixtures.corpus_with_caption_noise(n, dupes))


def test_caption_spam_finds_boilerplate(spark):
    rows = {
        r["caption_norm"]: r
        for r in captions.caption_spam(_corpus(spark), min_phashes=3).collect()
    }
    # every 13th caption is the literal "image" -> many distinct pictures
    assert "image" in rows
    assert rows["image"]["n_phashes"] >= 3
    # the empty caption (every 17th, offset 3) is also boilerplate
    assert "" in rows
    # a genuine per-image caption is NOT flagged
    assert not any(k.startswith("caption of img") and rows[k]["n_phashes"] >= 3
                   for k in rows if k not in ("image", ""))


def test_caption_dedup_counts_match_fixture(spark):
    n, dupes = 120, 24
    df = captions.caption_dedup(_corpus(spark, n, dupes))
    total = df.agg({"n_images": "sum"}).collect()[0][0]
    assert total == n + dupes  # every row lands in exactly one group
    # keeper is deterministic (min image_id) — rerun gives same keepers
    k1 = {r["caption_norm"]: r["keeper"] for r in df.collect()}
    k2 = {
        r["caption_norm"]: r["keeper"]
        for r in captions.caption_dedup(_corpus(spark, n, dupes)).collect()
    }
    assert k1 == k2


def test_caption_conflict_pairs_are_neardup_with_differing_caps(spark):
    rows = captions.caption_conflict(_corpus(spark), max_hamming=4).collect()
    assert rows, "fixture plants odd-index dupes with NEW captions"
    for r in rows:
        assert r["hamming"] <= 4
        assert r["cap_a"] != r["cap_b"]
    # odd dup indices get "alternate view ..." captions — at least one
    # planted conflict must surface
    assert any(
        "alternate view" in (r["cap_a"] + r["cap_b"]) for r in rows
    )
    # even dup indices keep the source caption: dup0 vs img0 must NOT
    # appear (same pixels, same caption -> pure duplicate, not conflict)
    pair_ids = {(r["img_a"], r["img_b"]) for r in rows}
    assert ("dup00000000", "img00000000") not in pair_ids
    assert ("img00000000", "dup00000000") not in pair_ids


def test_caption_quality_gate(spark):
    rows = {r["image_id"]: r for r in captions.caption_quality(_corpus(spark)).collect()}
    pdf = fixtures.corpus_with_caption_noise(120, 24)
    by_id = dict(zip(pdf["image_id"], pdf["caption"]))
    for image_id, cap in by_id.items():
        r = rows[image_id]
        if cap == "":
            assert r["n_tokens"] == 0 and r["n_chars"] == 0
            assert not r["quality_ok"]
        if cap == "image":
            assert not r["quality_ok"]  # 1 token, 5 chars
    # normalization fodder (upper-cased + padded) still passes: the
    # gate sees the normalized caption
    noisy = [i for i, c in by_id.items() if c.startswith("  ") and c.endswith("  ")]
    assert noisy and all(rows[i]["quality_ok"] for i in noisy)


def test_conflict_flags_equal_pairlist_image_set(spark):
    """caption_conflict_flags (the O(n), pair-free consumer) must flag
    exactly the images appearing in caption_conflict's pair list — on
    the noisy fixture with its hamming<=4 near-dups and caption
    disagreements."""
    corpus = _corpus(spark)
    pairs = captions.caption_conflict(corpus).collect()
    expected = {r["img_a"] for r in pairs} | {r["img_b"] for r in pairs}
    flags = {
        r["image_id"]: r["conflicted"]
        for r in captions.caption_conflict_flags(corpus).collect()
    }
    assert set(flags) == {r["image_id"] for r in corpus.select("image_id").collect()}
    assert {i for i, c in flags.items() if c} == expected


def test_conflict_flags_multi_caption_cluster(spark):
    """A 3-member exact-dup cluster with captions (A, A, B) flags ALL
    three members (each has a disagreeing hamming-0 neighbor); an
    isolated image and a unanimous cluster stay unflagged."""
    # clusters at pairwise hamming >> 4 (the first fixture draft used
    # phashes 100 and 200, which are hamming-4 NEIGHBORS — the operator
    # correctly flagged the "unanimous" cluster against them)
    rows = [
        ("i1", 0, "a cat"),
        ("i2", 0, "a cat"),
        ("i3", 0, "a dog"),
        ("i4", 0xFF00FF00, "same"),
        ("i5", 0xFF00FF00, "same"),
        ("i6", 0x0F0F0F0F0F0F0F0F, "alone"),
        # NULL alt-text never conflicts (cap != NULL is never true in
        # the pair list) even inside the conflicted cluster
        ("i7", 0, None),
    ]
    corpus = spark.createDataFrame(rows, ["image_id", "phash", "caption"])
    flags = {
        r["image_id"]: r["conflicted"]
        for r in captions.caption_conflict_flags(corpus).collect()
    }
    assert flags == {
        "i1": True, "i2": True, "i3": True,
        "i4": False, "i5": False, "i6": False,
        "i7": False,
    }


def test_aspect_bucket_assign_vs_python(spark):
    """Nearest-bucket assignment against a straight-line Python argmin
    over the same bucket table, on a (w, h) grid that includes exact
    bucket aspects, squares, and extreme slivers."""
    import pandas as pd

    from webcollector_spark.operators.captions import (
        ASPECT_BUCKETS,
        aspect_bucket_assign,
    )

    dims = [
        (512, 512), (448, 576), (576, 448), (384, 640), (640, 384),
        (100, 100), (99, 100), (300, 400), (400, 300), (160, 90),
        (90, 160), (1000, 125), (125, 1000), (641, 384), (383, 640),
        (2, 1), (1, 2), (7, 5), (5, 7), (1, 1),
    ]
    pdf = pd.DataFrame(
        {
            "image_id": [f"g{i:04d}" for i in range(len(dims))],
            "w": [w for w, _ in dims],
            "h": [h for _, h in dims],
        }
    )
    got = {
        r["image_id"]: (r["bucket"], r["target_w"], r["target_h"])
        for r in aspect_bucket_assign(
            spark.createDataFrame(pdf)
        ).collect()
    }

    def score(w, h, rw, rh):
        a, b = w * rh, h * rw
        return max(a, b) / min(a, b)

    for _, r in pdf.iterrows():
        scores = [
            (score(r["w"], r["h"], rw, rh), i)
            for i, (_, rw, rh, _, _) in enumerate(ASPECT_BUCKETS)
        ]
        _, best = min(scores)
        name, _, _, tw, th = ASPECT_BUCKETS[best]
        assert got[r["image_id"]] == (name, tw, th), (r["w"], r["h"])
    # exact-aspect rows land in their own bucket
    assert got["g0000"][0] == "square_1_1"
    assert got["g0001"][0] == "portrait_3_4"
    assert got["g0004"][0] == "landscape_16_9"
