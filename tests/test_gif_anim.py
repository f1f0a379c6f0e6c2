"""Animated GIF89a + interlaced GIF (webcollector_spark.gif): codec
fidelity (bit-exact composition vs pre-encode frames), the rendering
model (transparency, sub-rect deltas, disposal 1/2/3), interlace in
both directions, the metadata cross-check contract, and the Spark
dataflow vs the committed single-process oracle."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from webcollector_spark import gif
from webcollector_spark.corpora import corpus
from webcollector_spark.operators import media


def _posterize(a: np.ndarray) -> np.ndarray:
    return (a // 43 * 43).astype(np.uint8)


def _anim_frames(n=6, clip=0, w=32, h=24):
    return [media.gif_anim_frame(clip, i, w, h) for i in range(n)]


# ---------------------------------------------------------------- interlace


@pytest.mark.parametrize("h", [1, 2, 3, 5, 7, 8, 9, 24, 37])
def test_interlace_roundtrip_all_heights(h):
    """The four-pass row shuffle must invert exactly at every height,
    including heights smaller than the pass strides."""
    rng = np.random.default_rng(h)
    px = _posterize(rng.integers(0, 256, (h, 13, 3)))
    data = gif.encode_gif87a(px, interlace=True)
    assert np.array_equal(gif.decode_gif87a(data), px)


def test_interlace_actually_reorders_storage():
    """The interlaced stream must store rows in pass order, not
    natural order — decode the raster manually and compare."""
    rng = np.random.default_rng(0)
    px = _posterize(rng.integers(0, 256, (16, 8, 3)))
    plain = gif.encode_gif87a(px, interlace=False)
    inter = gif.encode_gif87a(px, interlace=True)
    # image descriptor: 0x2C at same offset in both (same GCT size)
    i_plain, i_inter = plain.find(b"\x2c"), inter.find(b"\x2c")
    assert plain[i_plain + 9] & 0x40 == 0
    assert inter[i_inter + 9] & 0x40 == 0x40
    order = gif._interlace_order(16)
    assert order[0] == 0 and order[1] == 8  # pass 1 rows first
    assert np.array_equal(np.sort(order), np.arange(16))


# ----------------------------------------------------------------- animation


@pytest.mark.parametrize(
    "disposals",
    [None, [1, 2, 3, 1, 2, 1], [2] * 6, [3] * 6],
)
def test_anim_roundtrip_bit_exact(disposals):
    """decode(encode(frames)) must reproduce every composed frame
    bit-exact under every disposal mix — the lossless invariant that
    makes the delta encoder trustworthy."""
    frames = _anim_frames(6, clip=2)
    data = gif.encode_gif89a_anim(
        frames, delays_cs=[7] * 6, disposals=disposals
    )
    dec = list(gif.decode_gif_frames(data))
    assert len(dec) == 6
    for i, (delay, fr) in enumerate(dec):
        assert delay == 7
        assert np.array_equal(fr, frames[i]), f"frame {i} diverged"


def test_anim_delta_frames_are_smaller_than_full_frames():
    """The transparency-delta encoder is the format's inter-frame
    compression — it must beat full-frame re-encoding on a mostly
    static clip."""
    frames = _anim_frames(6, clip=1)
    delta = gif.encode_gif89a_anim(frames, delta=True)
    full = gif.encode_gif89a_anim(frames, delta=False)
    assert len(delta) < len(full)
    dec_d = gif.decode_gif_frames(delta)
    dec_f = gif.decode_gif_frames(full)
    for (_, a), (_, b) in zip(dec_d, dec_f):
        assert np.array_equal(a, b)


def test_identical_consecutive_frames_keep_their_delay():
    f = _anim_frames(1)[0]
    data = gif.encode_gif89a_anim([f, f, f], delays_cs=[3, 9, 27])
    dec = list(gif.decode_gif_frames(data))
    assert [d for d, _ in dec] == [3, 9, 27]
    for _, fr in dec:
        assert np.array_equal(fr, f)


def test_netscape_loop_block_written_and_skipped():
    frames = _anim_frames(2)
    looped = gif.encode_gif89a_anim(frames, loop=5)
    bare = gif.encode_gif89a_anim(frames, loop=None)
    assert b"NETSCAPE2.0" in looped and b"NETSCAPE2.0" not in bare
    (loop_count,) = struct.unpack(
        "<H", looped[looped.find(b"NETSCAPE2.0") + 13 :][:2]
    )
    assert loop_count == 5
    for data in (looped, bare):
        dec = list(gif.decode_gif_frames(data))
        assert len(dec) == 2


def test_disposal_background_exposes_background_color():
    """Hand-check disposal semantics against the rendering model: a
    frame with disposal 2 must leave the BACKGROUND color behind, so a
    following transparent sub-rect shows background, not the old
    pixels."""
    h, w = 8, 8
    a = np.full((h, w, 3), 43, np.uint8)
    b = np.full((h, w, 3), 86, np.uint8)
    b[0, 0] = [43, 43, 43]  # keeps palette {43,86} + bg slot stable
    data = gif.encode_gif89a_anim([a, b, a], disposals=[2, 1, 1])
    dec = list(gif.decode_gif_frames(data))
    assert np.array_equal(dec[0][1], a)
    assert np.array_equal(dec[1][1], b)
    assert np.array_equal(dec[2][1], a)


def test_disposal_previous_restores_pre_draw_canvas():
    """disposal 3: after showing frame k the canvas reverts to its
    pre-draw state, so an unchanged next frame needs only the revert
    diff — round-trip equality is the proof the encoder's canvas
    simulation matches the decoder."""
    frames = _anim_frames(4, clip=5)
    data = gif.encode_gif89a_anim(frames, disposals=[3, 3, 3, 3])
    for i, (_, fr) in enumerate(gif.decode_gif_frames(data)):
        assert np.array_equal(fr, frames[i])


def test_anim_palette_overflow_raises():
    rng = np.random.default_rng(1)
    noisy = rng.integers(0, 256, (32, 32, 3)).astype(np.uint8)
    with pytest.raises(ValueError, match="palettize"):
        gif.encode_gif89a_anim([noisy, noisy])


def test_frame_rect_exceeding_screen_raises():
    frames = _anim_frames(1)
    data = bytearray(gif.encode_gif89a_anim(frames))
    # shrink the logical screen under the frame rect
    struct.pack_into("<H", data, 6, 8)
    with pytest.raises(ValueError, match="exceeds logical screen"):
        list(gif.decode_gif_frames(bytes(data)))


def test_truncated_stream_raises():
    data = gif.encode_gif89a_anim(_anim_frames(3))
    with pytest.raises((ValueError, IndexError)):
        list(gif.decode_gif_frames(data[: len(data) // 2]))


# ------------------------------------------------------------- media seam


def test_metadata_cross_check_raises():
    r = media.encoded_video_rows("gif", 1)[0]
    with pytest.raises(ValueError, match="metadata says"):
        list(
            media.video_frames(
                "gif",
                r["video_id"], r["bytes"], r["n_frames"], r["w"] + 1, r["h"]
            )
        )
    with pytest.raises(ValueError, match="carries"):
        list(
            media.video_frames(
                "gif",
                r["video_id"], r["bytes"], r["n_frames"] + 1, r["w"], r["h"]
            )
        )


def test_corpus_mixes_disposal_methods():
    """Every third clip cycles disposal 1/2/3 so the registry row
    exercises the composition path, not just happy deltas."""
    rows = media.encoded_video_rows("gif", 3)
    # clip 2 carries GCEs with disposal 2 present in the bitstream
    gces = [
        (b[i + 3] >> 2) & 0x07
        for b in [rows[2]["bytes"]]
        for i in range(len(b) - 3)
        if b[i : i + 2] == b"\x21\xf9"
    ]
    assert 2 in gces and 3 in gces


def test_spark_dataflow_matches_committed_oracle(spark):
    """sample_frames over fmt='gif' rows (distributed, Arrow batches)
    must equal the committed straight-line recompute row-for-row."""
    import pandas as pd

    got = (
        media.sample_frames(corpus(spark, "gif_anim"), every_n=2)
        .orderBy("video_id", "frame_idx")
        .toPandas()
    )
    exp = (
        pd.read_parquet("oracles/video_frames_gif.parquet")
        .sort_values(["video_id", "frame_idx"])
        .reset_index(drop=True)
    )
    assert len(got) == len(exp) == 30
    assert (got["video_id"].values == exp["video_id"].values).all()
    assert (got["frame_idx"].values == exp["frame_idx"].values).all()
    assert np.allclose(got["frame_mean"].values, exp["frame_mean"].values)
    assert (got["frame_hash"].values == exp["frame_hash"].values).all()
