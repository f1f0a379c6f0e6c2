"""Progressive JPEG (SOF2) tests — webcollector_spark.jpeg_progressive.

The load-bearing invariant: progressive transport is LOSSLESS over the
quantized coefficients, so once every refinement scan lands,
decode(encode_progressive(px)) must be BIT-IDENTICAL to
decode(encode_baseline(px)) at the same quality and subsampling. That
single assertion pins the whole stack — scan script, spectral bands,
successive approximation (DC arithmetic shift vs AC magnitude shift),
EOB-run symbols, AC refinement correction-bit order, per-scan optimal
Huffman tables — because any wire-format asymmetry between this
encoder and this decoder would corrupt coefficients somewhere in a
full-range-noise image.
"""

import numpy as np
import pytest

from conftest import corpus_frame

from webcollector_spark import codecs, fixtures, jpeg
from webcollector_spark.jpeg_progressive import (
    encode_progressive,
    gen_optimal_table,
)
from webcollector_spark.operators import images


def _noise(w, h, seed=7):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


def test_progressive_equals_baseline_decode_noise():
    # noise populates every AC coefficient: every Huffman path, every
    # refinement branch, ZRL-in-refinement, long and short EOB runs
    for w, h in ((16, 16), (64, 48), (33, 17), (31, 64)):
        px = _noise(w, h, seed=w * 100 + h)
        for sub in ("444", "422", "420"):
            base = jpeg.decode_baseline(
                jpeg.encode_baseline(px, quality=85, subsampling=sub)
            )
            prog = jpeg.decode_baseline(  # auto-dispatch on SOF2
                encode_progressive(px, quality=85, subsampling=sub)
            )
            assert np.array_equal(base, prog), (w, h, sub)


def test_progressive_equals_baseline_decode_gray_and_flat():
    g = _noise(40, 24, seed=2)[..., 0]
    assert np.array_equal(
        jpeg.decode_baseline(jpeg.encode_baseline(g, quality=85)),
        jpeg.decode_baseline(encode_progressive(g, quality=85)),
    )
    # a flat image drives EVERY AC band to zero: maximal EOB runs
    # (eobrun >> 1, the (nbits<<4)+bits symbol path) in every AC scan
    flat = np.full((64, 64, 3), 130, dtype=np.uint8)
    assert np.array_equal(
        jpeg.decode_baseline(jpeg.encode_baseline(flat, quality=85)),
        jpeg.decode_baseline(encode_progressive(flat, quality=85)),
    )


def test_progressive_across_qualities():
    px = fixtures.smooth_field_pixels(3, 48, 32)
    for q in (25, 50, 75, 92, 98):
        base = jpeg.decode_baseline(jpeg.encode_baseline(px, quality=q))
        prog = jpeg.decode_baseline(encode_progressive(px, quality=q))
        assert np.array_equal(base, prog), q


def test_progressive_stream_structure():
    px = _noise(32, 32, seed=9)
    data = encode_progressive(px, quality=90)
    assert data[:2] == b"\xff\xd8" and data[-2:] == b"\xff\xd9"
    assert b"\xff\xc2" in data and b"\xff\xc0" not in data
    # 10-scan color script: one SOS per scan. SOS markers can't appear
    # inside entropy data (0xFF is always stuffed as FF 00 there).
    assert data.count(b"\xff\xda") == 10
    # header-only triage still works: DQT precedes every SOS
    tables = jpeg.parse_dqt(data)
    assert jpeg.estimate_quality(tables[0], jpeg.STD_LUMA_Q) == (90, True)
    fmt, w, h = codecs.sniff_header(data)
    assert (fmt, w, h) == ("jpeg", 32, 32)


def test_gen_optimal_table_is_a_valid_jpeg_table():
    # skewed frequencies with many rare symbols force the length-16
    # adjustment path; the result must be canonical-decodable
    rng = np.random.default_rng(4)
    freq = np.zeros(256, dtype=np.int64)
    freq[:40] = rng.integers(1, 10_000, 40)
    freq[40] = 1_000_000
    bits, values = gen_optimal_table(freq)
    assert len(values) == sum(bits) == int((freq > 0).sum())
    assert sum(bits[i] / (1 << (i + 1)) for i in range(16)) < 1.0  # Kraft
    # round-trip every symbol through encode codes + the decode LUT
    codes = jpeg._huff_codes(bits, values)
    lut_sym, lut_len = jpeg._decode_lut(
        bytes(bits) + bytes(values)
    )
    for sym, (code, length) in codes.items():
        peek = code << (16 - length)
        assert int(lut_sym[peek]) == sym
        assert int(lut_len[peek]) == length


def test_concatenated_mixed_baseline_progressive_frames():
    a, b = _noise(16, 16, seed=1), _noise(16, 16, seed=2)
    ea = jpeg.encode_baseline(a, quality=90)
    eb = encode_progressive(b, quality=90)
    stream = ea + eb
    fa, pos = jpeg.decode_baseline_at(stream, 0)
    assert pos == len(ea)
    fb, end = jpeg.decode_baseline_at(stream, pos)
    assert end == len(stream)
    assert np.array_equal(fa, jpeg.decode_baseline(ea))
    assert np.array_equal(fb, jpeg.decode_baseline(eb))


def test_other_sofs_still_raise():
    data = bytearray(encode_progressive(_noise(16, 16), quality=90))
    lossless = bytes(data).replace(b"\xff\xc2", b"\xff\xc3", 1)
    with pytest.raises(ValueError, match="SOF0.*SOF2|progressive"):
        jpeg.decode_baseline(lossless)


def test_make_corpus_jpeg_progressive_invariants():
    pdf = fixtures.make_corpus_jpeg_progressive(24)
    for r in pdf.to_dict("records"):
        data = bytes(r["bytes"])
        assert b"\xff\xc2" in data
        px = codecs.decode(data)
        truth = fixtures.ground_truth_pixels(r["image_id"], r["w"], r["h"])
        assert codecs.psnr_db(px, truth) >= 40.0
        assert codecs.phash64(px) == int(r["phash"])


def test_progressive_corpus_through_decode_verify(spark):
    rows = images.decode_verify(
        corpus_frame(spark, fixtures.make_corpus_jpeg_progressive(24))
    ).collect()
    assert len(rows) == 24
    assert all(r["psnr_ok"] and r["phash_match"] for r in rows)


# -- byte-capped preview triage (decode_progressive_prefix,
#    operators/sniff.py progressive_preview) ---------------------------------


def test_preview_full_prefix_equals_full_decode():
    from webcollector_spark.jpeg_progressive import decode_progressive_prefix

    px = fixtures.smooth_field_pixels(7, 64, 64)
    data = encode_progressive(px, quality=92, subsampling="420")
    pix, scans, complete = decode_progressive_prefix(data)
    assert complete and scans == 10
    assert np.array_equal(pix, jpeg.decode_baseline(data))


def test_preview_truncation_never_raises_and_improves():
    from webcollector_spark.jpeg_progressive import decode_progressive_prefix

    px = fixtures.smooth_field_pixels(11, 64, 48)
    data = encode_progressive(px, quality=92, subsampling="420")
    full = jpeg.decode_baseline(data)
    ph_full = codecs.phash64(full)
    # every cut from "headers only" to "all bytes" must either decode
    # or raise the documented no-frame error — never garble
    seen_scans = set()
    last_psnr = -1.0
    for cut in [*range(40, len(data), 29), len(data)]:
        try:
            pix, scans, complete = decode_progressive_prefix(data[:cut])
        except ValueError:
            continue  # prefix ended before the frame header
        assert pix.shape == full.shape
        seen_scans.add(scans)
        if scans >= 1:
            # DC scan in hand: the low-frequency content phash keys on
            # is present — previews agree with the final image
            hm = bin((codecs.phash64(pix) ^ ph_full) & ((1 << 64) - 1)).count(
                "1"
            )
            assert hm <= 4, (cut, scans, hm)
    assert max(seen_scans) == 10 and len(seen_scans) >= 4
    # monotone at scan boundaries: more scans never hurt PSNR vs final
    import re

    sos = [m.start() for m in re.finditer(b"\xff\xda", data)]
    for cut in sos[1:] + [len(data)]:
        pix, scans, _ = decode_progressive_prefix(data[:cut])
        p = codecs.psnr_db(pix, full)
        assert p >= last_psnr or p >= 1e8
        last_psnr = min(p, 1e8)


def test_scan_boundary_prefixes_fail_decode_but_preview():
    """A progressive file cut where a segment or a scan's entropy data
    ends is a failed decode, not a partial success; the same prefixes
    still render through decode_progressive_prefix."""
    from webcollector_spark.jpeg_progressive import decode_progressive_prefix

    data = bytes(fixtures.make_corpus_jpeg_progressive(1)["bytes"][0])
    cuts, pos, framed = [], 2, False
    while True:
        marker, _, end = jpeg._segment(data, pos)
        if marker == jpeg._EOI:
            break
        framed = framed or marker == 0xC2
        pos = jpeg._entropy(data, end)[2] if marker == jpeg._SOS else end
        if framed:
            cuts += [end, pos]
    cuts = sorted(set(cuts))
    assert len(cuts) >= 20 and cuts[-1] < len(data)
    scans_seen = []
    for cut in cuts:
        with pytest.raises(ValueError):
            codecs.decode(data[:cut])
        _, scans, complete = decode_progressive_prefix(data[:cut])
        assert not complete
        scans_seen.append(scans)
    assert scans_seen == sorted(scans_seen) and scans_seen[-1] >= 9


def test_sof_marker_helper():
    px = _noise(16, 16, seed=3)
    assert jpeg.sof_marker(jpeg.encode_baseline(px)) == 0xC0
    assert jpeg.sof_marker(encode_progressive(px)) == 0xC2
    assert jpeg.sof_marker(b"QIMG whatever") is None
    assert jpeg.sof_marker(b"\xff\xd8\xff\xdb\x00\x04\x00\x00") is None


def test_progressive_preview_operator(spark):
    from webcollector_spark.operators.sniff import progressive_preview

    df = corpus_frame(spark, fixtures.make_corpus_jpeg_progressive(24)).unionByName(
        corpus_frame(spark, fixtures.make_corpus_jpeg(24))
    )
    rows = {r["image_id"]: r for r in progressive_preview(df).collect()}
    assert len(rows) == 48
    for iid, r in rows.items():
        if iid.startswith("jpr"):
            assert r["is_progressive"] and r["preview_ok"]
            assert 1 <= r["scans_done"] <= 10
            # smooth corpus: a decoded DC scan pins the phash
            assert r["preview_hamming"] <= 4
        else:
            assert not r["is_progressive"]
            assert r["scans_done"] is None and r["phash_preview"] is None


def test_progressive_411_440_match_sequential():
    """r5 layouts: progressive transport must reproduce the sequential
    decode exactly at 4:1:1 and 4:4:0 too."""
    import numpy as np

    from webcollector_spark import fixtures, jpeg
    from webcollector_spark.jpeg_progressive import encode_progressive

    px = fixtures.smooth_field_pixels(7, 40, 24)
    for sub in ("411", "440"):
        prog = jpeg.decode_baseline(
            encode_progressive(px, quality=92, subsampling=sub)
        )
        seq = jpeg.decode_baseline(
            jpeg.encode_baseline(px, quality=92, subsampling=sub)
        )
        assert np.array_equal(prog, seq), sub


def test_progressive_noise_at_high_quality_limits_code_lengths():
    # 256x256 noise at q98 gives some table code sizes above 16: the
    # length limit moves them, and their symbols must still be listed
    px = _noise(256, 256, seed=98)
    data = encode_progressive(px, quality=98)
    base = jpeg.decode_baseline(jpeg.encode_baseline(px, quality=98))
    assert np.array_equal(jpeg.decode_baseline(data), base)
