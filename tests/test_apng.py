"""APNG codec (webcollector_spark.apng): bit-exact composition under
all dispose ops, chunk-level structure, honest refusal boundaries,
metadata cross-checks, and the Spark dataflow vs the committed
oracle."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from webcollector_spark import apng, codecs
from webcollector_spark.corpora import corpus
from webcollector_spark.operators import media


def _frames(n=6, clip=2, w=32, h=24):
    return [media.avi_demo_frame(clip, i, w, h) for i in range(n)]


@pytest.mark.parametrize(
    "disposes", [None, [0, 1, 2, 0, 1, 0], [2] * 6, [1] * 6]
)
def test_roundtrip_bit_exact(disposes):
    frames = _frames()
    data = apng.encode_apng(frames, disposes=disposes)
    dec = list(apng.decode_apng(data))
    assert len(dec) == 6
    for i, (dn, dd, fr) in enumerate(dec):
        assert (dn, dd) == (1, 10)
        assert np.array_equal(fr, frames[i]), (disposes, i)


def test_delta_beats_full_frames_on_static_content():
    # the moving-sprite-on-static-backdrop frames: only the sprite's
    # bbox changes, so sub-rect deltas must win (the smooth AVI
    # gradient moves EVERY pixel, where delta == full by design)
    frames = [media.gif_anim_frame(1, i, 32, 24) for i in range(6)]
    delta = apng.encode_apng(frames, delta=True)
    full = apng.encode_apng(frames, delta=False)
    assert len(delta) < len(full)
    for (_, _, a), (_, _, b) in zip(
        apng.decode_apng(delta), apng.decode_apng(full)
    ):
        assert np.array_equal(a, b)


def test_chunk_structure_is_spec_shaped():
    frames = _frames(3)
    data = apng.encode_apng(frames, delays=[(2, 25)] * 3, plays=4)
    assert data[:8] == b"\x89PNG\r\n\x1a\n"
    # acTL before IDAT, declaring 3 frames / 4 plays
    actl = data.find(b"acTL")
    idat = data.find(b"IDAT")
    assert 0 < actl < idat
    nf, plays = struct.unpack(">II", data[actl + 4 : actl + 12])
    assert (nf, plays) == (3, 4)
    # sequence numbers: fcTL 0, fcTL 1, fdAT 2, fcTL 3, fdAT 4
    seqs = []
    pos = 8
    while pos + 8 <= len(data):
        (ln,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        if tag in (b"fcTL", b"fdAT"):
            seqs.append(struct.unpack(">I", data[pos + 8 : pos + 12])[0])
        pos += 12 + ln
    assert seqs == list(range(len(seqs)))
    # frame delays carried as the rational written
    fctl = data.find(b"fcTL")
    dn, dd = struct.unpack(">HH", data[fctl + 4 + 20 : fctl + 4 + 24])
    assert (dn, dd) == (2, 25)


def test_identical_frame_keeps_delay():
    f = _frames(1)[0]
    data = apng.encode_apng([f, f], delays=[(1, 10), (3, 7)])
    dec = list(apng.decode_apng(data))
    assert [(dn, dd) for dn, dd, _ in dec] == [(1, 10), (3, 7)]
    assert np.array_equal(dec[1][2], f)


def test_rejections_and_honest_unsupported():
    frames = _frames(2)
    good = apng.encode_apng(frames)
    with pytest.raises(ValueError, match="not a PNG"):
        list(apng.decode_apng(b"XPNG" + good[4:]))
    with pytest.raises(ValueError, match="no acTL"):
        list(apng.decode_apng(codecs.encode_png(frames[0])))
    # blend_op 1 refused, not mis-composited
    blend = bytearray(good)
    fctl = blend.find(b"fcTL")
    body_off = fctl + 4
    blend[body_off + 25] = 1  # blend byte is last of the 26-byte body
    # fix the chunk CRC so only the blend flag is "wrong"
    payload = bytes(blend[fctl : fctl + 4]) + bytes(
        blend[body_off : body_off + 26]
    )
    struct.pack_into(
        ">I", blend, body_off + 26, zlib.crc32(payload) & 0xFFFFFFFF
    )
    with pytest.raises(NotImplementedError, match="blend_op 1"):
        list(apng.decode_apng(bytes(blend)))
    # declared/carried frame-count mismatch
    trunc = bytearray(good)
    actl = trunc.find(b"acTL")
    struct.pack_into(">I", trunc, actl + 4, 5)
    with pytest.raises(ValueError, match="declares 5"):
        list(apng.decode_apng(bytes(trunc)))


def test_metadata_cross_check_raises():
    r = media.encoded_video_rows("apng", 1)[0]
    with pytest.raises(ValueError, match="metadata says"):
        list(
            media.video_frames(
                "apng",
                r["video_id"], r["bytes"], r["n_frames"], r["w"] + 1, r["h"]
            )
        )
    with pytest.raises(ValueError, match="carries"):
        list(
            media.video_frames(
                "apng",
                r["video_id"], r["bytes"], r["n_frames"] + 1, r["w"], r["h"]
            )
        )


def test_spark_dataflow_matches_committed_oracle(spark):
    import pandas as pd

    got = (
        media.sample_frames(corpus(spark, "apng"), every_n=2)
        .orderBy("video_id", "frame_idx")
        .toPandas()
    )
    exp = (
        pd.read_parquet("oracles/video_frames_apng.parquet")
        .sort_values(["video_id", "frame_idx"])
        .reset_index(drop=True)
    )
    assert len(got) == len(exp) == 30
    assert (got["video_id"].values == exp["video_id"].values).all()
    assert (got["frame_hash"].values == exp["frame_hash"].values).all()
    assert np.allclose(got["frame_mean"].values, exp["frame_mean"].values)


def test_static_png_decoder_renders_frame_zero():
    """An APNG is a valid PNG whose IDAT is frame 0 — a decoder without
    animation support (our static path, old browsers) must render the
    first frame, never error. That back-compat property is WHY the
    format puts frame 0 in IDAT rather than fdAT."""
    frames = [media.gif_anim_frame(0, i, 16, 12) for i in range(3)]
    data = apng.encode_apng(frames)
    assert np.array_equal(codecs.decode_png(data), frames[0])
    assert np.array_equal(codecs.decode(data), frames[0])  # magic dispatch
    assert codecs.sniff_header(data[:64])[0] == "png"


def test_default_image_before_first_fctl_is_skipped():
    """Spec: an IDAT not preceded by fcTL is the DEFAULT image and is
    NOT part of the animation — a conforming decoder skips it (r5;
    previously refused). Animation frames then arrive via fdAT only."""
    import struct as _s

    import numpy as np

    from webcollector_spark import apng

    h = w = 8
    rng = np.random.default_rng(17)
    default_img = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
    f0 = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
    f1 = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)

    out = bytearray(apng._PNG_SIG)
    out += apng._chunk(b"IHDR", _s.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
    out += apng._chunk(b"acTL", _s.pack(">II", 2, 0))
    out += apng._chunk(b"IDAT", apng._frame_payload(default_img))  # skipped
    out += apng._chunk(
        b"fcTL", _s.pack(">IIIIIHHBB", 0, w, h, 0, 0, 1, 10, 0, 0)
    )
    out += apng._chunk(b"fdAT", _s.pack(">I", 1) + apng._frame_payload(f0))
    out += apng._chunk(
        b"fcTL", _s.pack(">IIIIIHHBB", 2, w, h, 0, 0, 1, 10, 0, 0)
    )
    out += apng._chunk(b"fdAT", _s.pack(">I", 3) + apng._frame_payload(f1))
    out += apng._chunk(b"IEND", b"")

    frames = list(apng.decode_apng(bytes(out)))
    assert len(frames) == 2
    assert np.array_equal(frames[0][2], f0)  # NOT the default image
    assert np.array_equal(frames[1][2], f1)
    assert not np.array_equal(frames[0][2], default_img)
