"""Header-sniff triage, dhash ensemble near-dup, channel normalization
stats, and the image+text curation gate — the round-4 image-curation
additions (operators/sniff.py, operators/images.py, operators/captions.py)."""

from __future__ import annotations

import numpy as np

from conftest import corpus_frame

from webcollector_spark import codecs, fixtures
from webcollector_spark.corpora import corpus
from webcollector_spark.operators import captions, images, pairs, sniff
from webcollector_spark.schema import CORPUS_SCHEMA


# ---------------------------------------------------------------- kernels


def test_sniff_header_all_containers():
    """Every fixture payload sniffs to its true container with exact
    dimensions — from a 4 KB prefix only."""
    cases = [
        (fixtures.make_corpus(30), {"png", "qimg"}),
        (fixtures.make_corpus_jpeg(20), {"jpeg"}),
        (fixtures.make_corpus_gif(20), {"gif"}),
    ]
    for pdf, allowed in cases:
        for r in pdf.to_dict("records"):
            fmt, w, h = codecs.sniff_header(bytes(r["bytes"])[:4096])
            assert fmt in allowed or (r["fmt"], fmt) in {("jpeg", "qimg")}
            assert (w, h) == (r["w"], r["h"])


def test_sniff_header_rejects_garbage_and_truncation():
    assert codecs.sniff_header(b"") == ("unknown", None, None)
    assert codecs.sniff_header(b"\x00" * 64) == ("unknown", None, None)
    # PNG signature but truncated before IHDR: not claimed as png
    assert codecs.sniff_header(b"\x89PNG\r\n\x1a\n")[0] == "unknown"
    # JPEG SOI but no SOF within the prefix: format known, dims honest None
    assert codecs.sniff_header(b"\xff\xd8\xff\xe0\x00\x10JFIF") == (
        "jpeg",
        None,
        None,
    )
    # PPM ascii header parses without any pixel data present
    assert codecs.sniff_header(b"P6\n# c\n12 7\n255\n") == ("ppm", 12, 7)


def test_dhash64_gradient_invariance():
    """dhash is stable under uniform brightness shift (pure gradient
    signal) and depends on horizontal structure."""
    rng = np.random.default_rng(7)
    px = rng.integers(0, 200, size=(32, 36, 3), dtype=np.uint8)
    base = codecs.dhash64(px)
    assert base == codecs.dhash64(np.clip(px.astype(np.int64) + 40, 0, 255))
    flipped = codecs.dhash64(px[:, ::-1])
    assert flipped != base
    assert -(1 << 63) <= base < (1 << 63)


# ---------------------------------------------------------------- operators


def test_sniff_meta_mixed_corpus(spark):
    rows = {r["image_id"]: r for r in sniff.sniff_meta(corpus(spark, "mixed")).collect()}
    assert len(rows) == 420
    assert all(r["header_ok"] for r in rows.values())
    fmts = {r["fmt_sniffed"] for r in rows.values()}
    assert fmts == {"png", "qimg", "jpeg", "gif"}
    # n_bytes is the FULL payload size even though only a prefix crossed Arrow
    pdf = fixtures.make_corpus(5)
    for r in pdf.to_dict("records"):
        assert rows[r["image_id"]]["n_bytes"] == len(bytes(r["bytes"]))


def test_sniff_meta_flags_mislabeled_and_truncated(spark):
    """Rows whose declared metadata disagrees with payload magic — or
    whose payload is cut before the header completes — get header_ok=False."""
    pdf = fixtures.make_corpus(4)
    pdf.loc[0, "fmt"] = "gif"  # mislabel: payload is png/qimg
    pdf.loc[1, "w"] = int(pdf.loc[1, "w"]) + 1  # dims lie
    pdf.loc[2, "bytes"] = bytes(pdf.loc[2, "bytes"])[:10]  # truncated header
    df = spark.createDataFrame(pdf, schema=CORPUS_SCHEMA)
    got = {r["image_id"]: r["header_ok"] for r in sniff.sniff_meta(df).collect()}
    ids = pdf["image_id"].tolist()
    assert not got[ids[0]] and not got[ids[1]] and not got[ids[2]]
    assert got[ids[3]]


def test_compression_stats_recompute(spark):
    stats = {
        r["fmt_sniffed"]: r
        for r in sniff.compression_stats(
            sniff.sniff_meta(corpus(spark, "mixed"))
        ).collect()
    }
    assert stats["png"]["n_images"] + stats["qimg"]["n_images"] == 200
    assert stats["jpeg"]["n_images"] == 120 and stats["gif"]["n_images"] == 100
    # spot-check one group against a straight-line recompute
    pdf = fixtures.make_corpus_jpeg(120)
    total_bytes = sum(len(bytes(b)) for b in pdf["bytes"])
    total_px = int((pdf["w"].astype("int64") * pdf["h"]).sum())
    assert stats["jpeg"]["total_bytes"] == total_bytes
    assert stats["jpeg"]["bytes_per_pixel"] == total_bytes / (total_px * 3.0)
    # every compressed container beats raw 3 B/px (the fixture JPEGs are
    # noisy content, so they land above 1 B/px — still 2.6x under raw);
    # QIMG's fixed 8x block reduction puts it well under 0.5
    for fmt in ("jpeg", "gif", "qimg"):
        assert stats[fmt]["bytes_per_pixel"] < 3.0
    assert stats["qimg"]["bytes_per_pixel"] < 1.0
    assert stats["gif"]["bytes_per_pixel"] < 1.0


def test_dhash_blocked_matches_exact_bruteforce(spark):
    corpus = corpus_frame(spark, fixtures.corpus_with_neardups(120, 30))
    dh = images.with_dhash(corpus)
    exact = {
        (r["img_a"], r["img_b"], r["hamming"])
        for r in pairs.hamming_pairs(
            dh, "image_id", "dhash", ("img_a", "img_b"), 4
        ).collect()
    }
    blocked = {
        (r["img_a"], r["img_b"], r["hamming"])
        for r in pairs.blocked_pairs(
            dh, "image_id", "dhash", ("img_a", "img_b"), 4
        ).collect()
    }
    assert blocked == exact
    # the lossy re-encodes stay within the dhash hamming ball too
    dup_pairs = {(a, b) for a, b, _ in exact}
    hits = sum(
        1
        for i in range(30)
        if (f"dup{i:08d}", f"img{i:08d}") in dup_pairs
        or (f"img{i:08d}", f"dup{i:08d}") in dup_pairs
    )
    assert hits >= 28  # dhash tolerates the lossy re-encode on ~all dupes


def test_channel_stats_match_numpy(spark):
    got = {r["channel"]: r for r in images.channel_stats(corpus_frame(spark, fixtures.make_corpus(60))).collect()}
    pdf = fixtures.make_corpus(60)
    px = np.concatenate(
        [codecs.decode(bytes(b)).reshape(-1, 3).astype(np.int64) for b in pdf["bytes"]]
    )
    for ci, ch in enumerate("rgb"):
        lane = px[:, ci]
        n = lane.shape[0]
        mean = lane.sum() / n
        var = (lane * lane).sum() / n - mean * mean
        assert got[ch]["n_px"] == n
        assert got[ch]["mean"] == round(mean, 6)
        assert abs(got[ch]["std"] - round(float(np.sqrt(var)), 6)) < 1e-9


def test_channel_stats_partition_invariant(spark):
    """Integer partials make the reduce exact: 1 partition == 16."""
    base = corpus_frame(spark, fixtures.make_corpus(40))
    one = {tuple(r) for r in images.channel_stats(base.coalesce(1)).collect()}
    many = {tuple(r) for r in images.channel_stats(base.repartition(16)).collect()}
    assert one == many


def test_imagetext_filter_rules(spark):
    rows = [
        ("ok", 128, 128, "a fine photo of a dog", True, True, True, True),
        ("tiny", 32, 48, "a fine photo of a dog", False, True, True, False),
        ("banner", 300, 64, "a fine photo of a dog", True, False, True, False),
        ("onetok", 128, 128, "dog", True, True, False, False),
        ("short", 128, 128, "a b c", True, True, False, False),
        ("nullcap", 128, 128, None, True, True, False, False),
        ("wscap", 128, 128, "  A   Fine   Dog Photo  ", True, True, True, True),
    ]
    df = spark.createDataFrame(
        [(r[0], r[1], r[2], r[3]) for r in rows],
        "image_id string, w int, h int, caption string",
    )
    got = {r["image_id"]: r for r in captions.imagetext_filter(df).collect()}
    for image_id, _, _, _, size_ok, aspect_ok, caption_ok, keep in rows:
        r = got[image_id]
        assert (r["size_ok"], r["aspect_ok"], r["caption_ok"], r["keep"]) == (
            size_ok,
            aspect_ok,
            caption_ok,
            keep,
        ), image_id


def test_sniff_plan_slices_before_arrow(spark, tmp_path):
    """Over a REAL parquet scan (not the constant-folding LocalRelation
    of the in-memory fixture) the payload slice must be a JVM-side
    substring upstream of the Arrow boundary, with no shuffle anywhere:
    that is the property that keeps per-row Python transfer at ~4 KB no
    matter how large payloads get."""
    import contextlib
    import io

    path = str(tmp_path / "corpus")
    corpus_frame(spark, fixtures.make_corpus(20)).write.parquet(path)
    df = sniff.sniff_meta(spark.read.parquet(path))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "substring(bytes" in plan
    assert "MapInPandas" in plan
    assert "Exchange" not in plan
    # the slice happens BEFORE the Arrow eval: the substring Project's
    # node id is smaller (upstream) than MapInPandas' in the tree dump
    assert plan.index("substring(bytes") > plan.index("MapInPandas")
