"""Multimodal (image) operator tests: decode invariant (PSNR/phash),
mean-pool resize determinism, the dedup decisions over the near-dup
pairs (the pair joins themselves are tested in test_pairs.py), and the
committed oracle tables."""

from __future__ import annotations

import numpy as np

from conftest import corpus_frame

from webcollector_spark import codecs, fixtures
from webcollector_spark.operators import images


def test_decode_verify_all_rows_pass(spark):
    df = images.decode_verify(corpus_frame(spark, fixtures.make_corpus(80)))
    rows = df.collect()
    assert len(rows) == 80
    assert all(r["psnr_ok"] for r in rows)
    assert all(r["phash_match"] for r in rows)
    # lossless rows are bit-exact (PSNR capped sentinel), lossy >= 40
    for r in rows:
        if r["fmt"] == "png":
            assert r["psnr_db"] >= 1e8
        else:
            assert 40.0 <= r["psnr_db"] < 1e8


def test_resize_meanpool_deterministic(spark):
    df = images.resize_meanpool(corpus_frame(spark, fixtures.make_corpus(20)))
    rows = {r["image_id"]: r for r in df.collect()}
    assert len(rows) == 20
    # recompute one checksum locally
    pdf = fixtures.make_corpus(20)
    r0 = pdf.iloc[0]
    px = codecs.decode(bytes(r0["bytes"])).astype(np.float64)
    h, w, _ = px.shape
    th, tw = (h // 16) * 16, (w // 16) * 16
    small = px[:th, :tw].reshape(16, th // 16, 16, tw // 16, 3).mean(axis=(1, 3))
    assert rows[r0["image_id"]]["pixel_sum"] == int(
        small.round().astype(np.int64).sum()
    )


def test_multimodal_oracle_parquet_fresh():
    """The committed oracles/*.parquet must equal a fresh numpy rebuild —
    guards against kernel drift silently staling the driver's oracle."""
    import importlib.util
    from pathlib import Path

    import pyarrow as pa
    import pyarrow.parquet as pq

    root = Path(__file__).resolve().parents[1]
    spec = importlib.util.spec_from_file_location(
        "build_multimodal_oracles", root / "tools" / "build_multimodal_oracles.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    built = mod.build_all()
    assert set(built) == {
        "image_decode_verify",
        "image_decode_verify_jpeg",
        "image_decode_verify_gif",
        "image_decode_verify_jpeg420",
        "image_decode_verify_jpegprog",
        "image_progressive_preview",
        "image_decode_verify_pngi",
        "audio_features_adpcm",
        "audio_features_ulaw",
        "video_frames_avi",
        "image_resize_meanpool",
        "phash_neardup",
        "video_frame_sample",
        "audio_features",
        "video_scene_cuts",
        "caption_corpus_meta",
        "image_meta_sniff",
        "image_jpeg_quality",
        "dhash_neardup",
        "image_neardup_ids",
        "image_channel_partials",
        "image_sharpness_partials",
        "image_sharpness_partials_neardup",
        "image_letterbox",
        "image_exif_meta",
        "image_exif_upright",
        # late-round-4 real-codec rows
        "video_frames_gif",
        "image_decode_verify_bmp",
        "image_decode_verify_ico",
        "image_decode_verify_tiff",
        "image_decode_verify_webp",
        "audio_features_flac",
        "video_frames_apng",
        "audio_fingerprint",
    }
    for name, pdf in built.items():
        fresh = pa.Table.from_pandas(
            pdf, schema=mod.SCHEMAS[name], preserve_index=False
        )
        committed = pq.read_table(root / "oracles" / f"{name}.parquet")
        assert committed.schema.equals(fresh.schema), name
        assert committed.equals(fresh), name


def test_image_neardup_keepers_vs_union_find(spark):
    """Ensemble dedup decision (phash ∪ dhash hamming balls -> components
    -> keeper) against a straight-line numpy brute-force + union-find
    recomputation over the same corpus."""
    corpus = corpus_frame(spark, fixtures.corpus_with_neardups(120, 24))
    got = {
        r["image_id"]: (r["cluster"], r["cluster_size"], r["is_keeper"])
        for r in images.image_neardup_keepers(corpus, max_hamming=4).collect()
    }

    pdf = corpus.toPandas()
    ids = list(pdf["image_id"])
    ph = {r["image_id"]: int(r["phash"]) for r in pdf.to_dict("records")}
    dh = {
        r["image_id"]: codecs.dhash64(codecs.decode(bytes(r["bytes"])))
        for r in pdf.to_dict("records")
    }
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    mask = (1 << 64) - 1
    for hashes in (ph, dh):
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                if bin((hashes[a] ^ hashes[b]) & mask).count("1") <= 4:
                    ra, rb = find(a), find(b)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
    # path-compress fully, then min-label per component
    comp = {}
    for i in ids:
        comp.setdefault(find(i), []).append(i)
    want = {}
    for members in comp.values():
        lead = min(members)
        for m in members:
            want[m] = (lead, len(members), m == lead)
    assert got == want
    # the ensemble must actually contribute: at least one true near-dup
    # cluster exists in this fixture
    assert any(size > 1 for _, size, _ in got.values())


def test_image_neardup_best_keepers_rule(spark):
    """Exactly one keeper per cluster, and it is the argmax of
    (lap_var, tiebreak min id) — recomputed from the operator's own
    cluster + sharpness columns, plus a spot check that the quality
    rule can disagree with the min-id rule on lossy re-encodes."""
    corpus = corpus_frame(spark, fixtures.corpus_with_neardups(120, 24))
    rows = images.image_neardup_best_keepers(corpus, max_hamming=4).collect()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster"], []).append(r)
    for members in by_cluster.values():
        keepers = [m for m in members if m["is_keeper"]]
        assert len(keepers) == 1
        best = min(members, key=lambda m: (-(m["lap_var"] or -1), m["image_id"]))
        assert keepers[0]["image_id"] == best["image_id"]
    # every multi-member cluster contains a dup re-encode by construction
    multi = [m for m in by_cluster.values() if len(m) > 1]
    assert multi


def test_best_keepers_from_fused_features(spark, tmp_path):
    """decode-once-decide-anywhere: the full quality-aware dedup
    decision over a precomputed features_fused table must equal the
    decode-path result exactly, and its physical plan must contain NO
    Python stage at all — the decision layer is pure JVM once features
    exist."""
    corpus = corpus_frame(spark, fixtures.corpus_with_neardups(100, 20))
    feats = images.features_fused(corpus)
    feats.write.mode("overwrite").parquet(str(tmp_path / "feats"))
    stored = spark.read.parquet(str(tmp_path / "feats"))

    via_decode = {
        tuple(r) for r in images.image_neardup_best_keepers(corpus, 4).collect()
    }
    fused_df = images.image_neardup_best_keepers(corpus, 4, features=stored)
    via_feats = {tuple(r) for r in fused_df.collect()}
    assert via_feats == via_decode

    plan = fused_df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "EvalPython" not in plan


def test_border_geometry_kernel():
    """Each edge scans independently: a uniform line counts only while
    it matches the edge's first-line color; a non-uniform first line
    means zero border on that edge."""
    import numpy as np

    from webcollector_spark.codecs import border_geometry

    img = np.full((10, 8, 3), 200, np.uint8)
    rng = np.random.default_rng(1)
    img[3:8, 2:6] = rng.integers(0, 255, (5, 4, 3), np.uint8)
    assert border_geometry(img) == (3, 2, 2, 2)
    # fully constant image: every edge runs to the full dimension
    assert border_geometry(np.full((4, 6, 3), 7, np.uint8)) == (4, 4, 6, 6)
    # bar color changes mid-run -> the run stops at the change
    img2 = np.full((6, 4, 3), 0, np.uint8)
    img2[2:4] = 16
    img2[4:] = np.arange(4 * 2 * 3, dtype=np.uint8).reshape(2, 4, 3)
    assert border_geometry(img2)[0] == 2
