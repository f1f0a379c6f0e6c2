"""RIFF/AVI MJPEG container codec (webcollector_spark.avi): codec
fidelity vs pre-encode ground truth, container-walk robustness, the
metadata cross-check contract, and the Spark dataflow vs the committed
single-process oracle."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from webcollector_spark import avi, codecs, riff
from webcollector_spark.corpora import corpus
from webcollector_spark.operators import media


def _frames(n=6, clip=0, w=32, h=24):
    return [media.avi_demo_frame(clip, i, w, h) for i in range(n)]


def test_roundtrip_psnr_and_header_recovery():
    frames = _frames(6, clip=3)
    data = avi.encode_avi_mjpeg(frames, fps=24.0)
    w, h, fps, n, dec = avi.decode_avi_mjpeg(data)
    dec = list(dec)
    assert (w, h, fps, n) == (32, 24, 24.0, 6)
    assert len(dec) == 6
    for truth, got in zip(frames, dec):
        assert codecs.psnr_db(truth, got) >= 40.0


def test_container_structure_is_spec_shaped():
    data = avi.encode_avi_mjpeg(_frames(3), fps=12.0)
    assert data[:4] == b"RIFF" and data[8:12] == b"AVI "
    # RIFF size field covers everything after the 8-byte RIFF header
    (riff_size,) = struct.unpack("<I", data[4:8])
    assert riff_size == len(data) - 8
    # idx1 present (AVIF_HASINDEX set) with one 16-byte entry per frame
    idx = data.find(b"idx1")
    assert idx > 0
    (idx_size,) = struct.unpack("<I", data[idx + 4 : idx + 8])
    assert idx_size == 3 * 16
    # first index entry points at the first chunk: '00dc', keyframe,
    # offset 4 from the 'movi' fourcc
    tag, flags, off, _ln = struct.unpack(
        "<4sIII", data[idx + 8 : idx + 24]
    )
    assert tag == b"00dc" and flags == 0x10 and off == 4
    movi = data.find(b"movi")
    assert data[movi + 4 : movi + 8] == b"00dc"


def test_decoder_skips_junk_and_rec_grouping_and_odd_sizes():
    """Hand-assemble a file with the tolerated real-world quirks: a
    JUNK chunk before movi, frames wrapped in a LIST('rec ') group, and
    an odd-size chunk exercising word-alignment padding."""
    frames = _frames(2)
    clean = avi.encode_avi_mjpeg(frames, fps=12.0)
    # re-extract the two JPEG payloads from the clean file
    w, h, fps, n, dec = avi.decode_avi_mjpeg(clean)
    dec = list(dec)
    from webcollector_spark import jpeg

    payloads = [jpeg.encode_baseline(f, 98) for f in frames]

    hdrl_start = clean.find(b"LIST")
    (hdrl_size,) = struct.unpack(
        "<I", clean[hdrl_start + 4 : hdrl_start + 8]
    )
    hdrl = clean[hdrl_start : hdrl_start + 8 + hdrl_size + (hdrl_size & 1)]

    junk = riff.chunk(b"JUNK", b"\x00" * 13)  # odd size -> pad byte
    rec = riff.chunk(
        b"LIST",
        b"rec " + riff.chunk(b"00dc", payloads[0]) + riff.chunk(b"00db", payloads[1]),
    )
    movi = riff.chunk(b"LIST", b"movi" + rec)
    body = b"AVI " + hdrl + junk + movi
    weird = b"RIFF" + struct.pack("<I", len(body)) + body

    w2, h2, fps2, n2, dec2 = avi.decode_avi_mjpeg(weird)
    dec2 = list(dec2)
    assert (w2, h2, n2) == (w, h, 2) and len(dec2) == 2
    for a, b in zip(dec, dec2):
        assert np.array_equal(a, b)


def test_metadata_cross_check_raises():
    rows = media.encoded_video_rows("avi", 1)
    r = rows[0]
    with pytest.raises(ValueError, match="metadata says"):
        list(
            media.video_frames(
                "avi",
                r["video_id"], r["bytes"], r["n_frames"], r["w"] + 1, r["h"]
            )
        )
    with pytest.raises(ValueError, match="declares"):
        list(
            media.video_frames(
                "avi",
                r["video_id"], r["bytes"], r["n_frames"] + 1, r["w"], r["h"]
            )
        )


def test_not_an_avi_raises():
    with pytest.raises(ValueError, match="not a RIFF/AVI"):
        avi.decode_avi_mjpeg(b"RIFF\x04\x00\x00\x00WAVE")


def test_spark_dataflow_matches_committed_oracle(spark):
    """sample_frames over fmt='avi' rows (distributed, Arrow batches)
    must equal the committed straight-line recompute row-for-row — the
    same drift guard the other multimodal oracles carry."""
    import pandas as pd

    got = (
        media.sample_frames(corpus(spark, "avi"), every_n=2)
        .orderBy("video_id", "frame_idx")
        .toPandas()
    )
    exp = (
        pd.read_parquet("oracles/video_frames_avi.parquet")
        .sort_values(["video_id", "frame_idx"])
        .reset_index(drop=True)
    )
    assert len(got) == len(exp) == 24
    assert (got["video_id"].values == exp["video_id"].values).all()
    assert (got["frame_idx"].values == exp["frame_idx"].values).all()
    assert np.allclose(got["frame_mean"].values, exp["frame_mean"].values)
    assert (got["frame_hash"].values == exp["frame_hash"].values).all()
