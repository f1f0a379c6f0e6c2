"""EXIF APP1 writer/parser round trip (both byte orders), damage
triage, orientation normalization semantics, and the Spark header-only
operator over the real-JPEG corpus."""

from __future__ import annotations

import numpy as np
import pytest
from conftest import corpus_frame

from webcollector_spark import fixtures
from webcollector_spark.exif import (
    ORIENTATION_OPS,
    build_exif_app1,
    insert_app1,
    normalize_orientation,
    parse_exif,
)


def _jpeg_with(app1_kwargs):
    base = fixtures.make_corpus_jpeg(1)["bytes"].iloc[0]
    return insert_app1(bytes(base), build_exif_app1(**app1_kwargs))


@pytest.mark.parametrize("order", ["II", "MM"])
def test_round_trip_all_fields(order):
    data = _jpeg_with(
        dict(
            make="Maker1",
            model="Cam-2",
            orientation=6,
            datetime="2026:03:14 01:59:26",
            description="a very long exif caption exceeding four bytes",
            pixel_x=640,
            pixel_y=480,
            byte_order=order,
        )
    )
    got = parse_exif(data)
    assert got["has_exif"] and got["byte_order"] == order
    assert got["make"] == "Maker1" and got["model"] == "Cam-2"
    assert got["orientation"] == 6
    assert got["datetime"] == "2026:03:14 01:59:26"
    assert got["description"] == "a very long exif caption exceeding four bytes"
    assert (got["pixel_x"], got["pixel_y"]) == (640, 480)


def test_partial_fields_and_no_subifd():
    got = parse_exif(_jpeg_with(dict(orientation=3, byte_order="MM")))
    assert got["has_exif"] and got["orientation"] == 3
    assert got["make"] is None and got["pixel_x"] is None


def test_no_exif_and_damage_triage():
    plain = bytes(fixtures.make_corpus_jpeg(1)["bytes"].iloc[0])
    assert parse_exif(plain) == {**parse_exif(plain), "has_exif": False}
    assert not parse_exif(b"not a jpeg")["has_exif"]
    ok = _jpeg_with(dict(orientation=1))
    # corrupt the TIFF magic inside APP1: triage, never raise
    broken = bytearray(ok)
    broken[12:14] = b"XX"
    assert not parse_exif(bytes(broken))["has_exif"]
    assert not parse_exif(ok[:16])["has_exif"]  # truncated prefix


def test_orientation_normalization_inverts_storage_transform():
    """For each tag, storing the true image under that orientation and
    normalizing must recover the true image (PIL exif_transpose table:
    2 flip-h, 3 rot180, 4 flip-v, 5 transpose, 6 rot90cw, 7 transverse,
    8 rot270cw)."""
    true = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    stored = {
        1: true,
        2: true[:, ::-1],
        3: true[::-1, ::-1],
        4: true[::-1, :],
        5: true.transpose(1, 0, 2),
        6: np.rot90(true, k=1),  # stored = true rotated 90 CCW
        7: true.transpose(1, 0, 2)[::-1, ::-1],
        8: np.rot90(true, k=-1),
    }
    for tag, s in stored.items():
        got = normalize_orientation(s, tag)
        assert np.array_equal(got, true), f"orientation {tag}"
    assert set(stored) == set(ORIENTATION_OPS)


def test_denormalize_inverts_normalize():
    true = np.arange(4 * 6 * 3, dtype=np.uint8).reshape(4, 6, 3)
    from webcollector_spark.exif import denormalize_orientation

    for tag in range(1, 9):
        stored = denormalize_orientation(true, tag)
        assert np.array_equal(normalize_orientation(stored, tag), true), tag
        if tag >= 5:  # quarter-turn family transposes dims
            assert stored.shape[:2] == (6, 4)


def test_spark_exif_upright_decode(spark):
    from webcollector_spark.operators.images import exif_upright_decode

    got = exif_upright_decode(
        corpus_frame(spark, fixtures.make_corpus_exif_rotated(24))
    ).collect()
    assert len(got) == 24
    assert sorted({r.orientation for r in got}) == list(range(1, 9))
    assert all(r.psnr_ok and r.phash_match for r in got)
    for r in got:
        if r.orientation >= 5:
            assert (r.w_upright, r.h_upright) == (r.h_stored, r.w_stored)
        else:
            assert (r.w_upright, r.h_upright) == (r.w_stored, r.h_stored)


def test_rotated_copies_dedup_only_after_upright(spark):
    """8 stored variants of ONE image (every orientation tag) must
    collapse to a single dedup identity after orientation correction —
    and provably do NOT collapse on raw stored-pixel phash, which is
    the mistake the operator exists to prevent."""
    import pandas as pd

    from webcollector_spark import codecs, jpeg
    from webcollector_spark.exif import denormalize_orientation

    truth = fixtures.ground_truth_pixels("img00000777", 64, 64)
    rows = []
    for tag in range(1, 9):
        stored = np.ascontiguousarray(denormalize_orientation(truth, tag))
        data = insert_app1(
            jpeg.encode_baseline(stored, quality=98),
            build_exif_app1(orientation=tag),
        )
        rows.append(
            {
                "image_id": f"var{tag}",
                "bytes": data,
                "stored_phash": codecs.phash64(codecs.decode(data)),
            }
        )
    pdf = pd.DataFrame(rows)

    def max_ham(hashes):
        hs = list(hashes)
        mask = (1 << 64) - 1
        return max(
            bin((a ^ b) & mask).count("1")
            for i, a in enumerate(hs)
            for b in hs[i + 1 :]
        )

    # raw stored-pixel hashes are FAR apart: rotation destroys the
    # identity, no hamming-ball dedup radius can bridge it
    assert max_ham(pdf["stored_phash"]) > 8

    from webcollector_spark.exif import normalize_orientation
    from webcollector_spark.operators.sniff import exif_meta

    sdf = spark.createDataFrame(pdf[["image_id", "bytes"]])
    tags = {r.image_id: r.orientation for r in exif_meta(sdf).collect()}
    upright_hashes = []
    for r in pdf.to_dict("records"):
        up = normalize_orientation(
            codecs.decode(bytes(r["bytes"])), tags[r["image_id"]]
        )
        upright_hashes.append(codecs.phash64(up))
    # after correction all 8 variants sit inside the standard dedup
    # radius (JPEG quantizes each rotation slightly differently, so
    # bit-equality is not the contract — hamming-ball membership is,
    # exactly how phash_neardup_* consumes these hashes)
    assert max_ham(upright_hashes) <= 2


def test_fused_features_exif_upright_mode(spark):
    """features_fused(exif_upright=True) hashes the CORRECTED buffer —
    its phash must equal the rotated corpus's committed upright-artifact
    identity exactly, and dims must be the upright ones."""
    from webcollector_spark.operators.images import features_fused

    pdf = fixtures.make_corpus_exif_rotated(16)
    got = {
        r.image_id: r
        for r in features_fused(corpus_frame(spark, pdf), exif_upright=True).collect()
    }
    for i, r in enumerate(pdf.to_dict("records")):
        g = got[r["image_id"]]
        assert g.phash == int(r["phash"])  # exact: same decode+correct path
        tag = i % 8 + 1
        if tag >= 5:
            assert (g.w, g.h) == (r["h"], r["w"])
        else:
            assert (g.w, g.h) == (r["w"], r["h"])


def test_spark_exif_meta_matches_fixture_arithmetic(spark):
    from webcollector_spark.operators.sniff import exif_meta

    pdf = fixtures.make_corpus_exif(40)
    sdf = spark.createDataFrame(pdf[["image_id", "bytes"]])
    got = {r.image_id: r for r in exif_meta(sdf).collect()}
    assert len(got) == 40
    for i, r in enumerate(pdf.to_dict("records")):
        f = fixtures.exif_fields_for(i, r["w"], r["h"])
        g = got[r["image_id"]]
        if not f:
            assert not g.has_exif
            continue
        assert g.has_exif and g.byte_order == f["byte_order"]
        assert g.orientation == f["orientation"]
        assert g.make == f["make"] and g.model == f["model"]
        assert g.datetime == f["datetime"]
        assert g.description == f.get("description")
        assert g.pixel_x == f.get("pixel_x") and g.pixel_y == f.get("pixel_y")
