"""WebP lossless / VP8L codec (webcollector_spark.webp): bit-exact
round trips across cache/transform settings, both prefix-code forms,
LZ77 and color-cache behavior, container structure, honest
NotImplementedError boundaries, and the Spark dataflow vs the
committed oracle."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from webcollector_spark import codecs, fixtures, webp
from webcollector_spark.corpora import corpus


def _posterize(a):
    return (a // 43 * 43).astype(np.uint8)


@pytest.mark.parametrize("cache_bits", [0, 6, 8], ids=["nocache", "c6", "c8"])
@pytest.mark.parametrize("subtract_green", [False, True], ids=["plain", "sg"])
def test_roundtrip_bit_exact(cache_bits, subtract_green):
    rng = np.random.default_rng(41)
    cases = [
        rng.integers(0, 256, (24, 31, 3)).astype(np.uint8),  # noise
        _posterize(rng.integers(0, 256, (32, 32, 3))),  # paletted-ish
        np.full((40, 40, 3), 99, np.uint8),  # flat (long LZ77 runs)
        np.tile(
            _posterize(rng.integers(0, 256, (1, 64, 3))), (64, 1, 1)
        ),  # vertical repetition (distance = w)
        np.array([[[1, 2, 3]]], np.uint8),  # 1x1
    ]
    for px in cases:
        data = webp.encode_webp_lossless(
            px, cache_bits=cache_bits, subtract_green=subtract_green
        )
        assert np.array_equal(webp.decode_webp_lossless(data), px)


def test_container_structure_and_sniff():
    px = fixtures.ground_truth_pixels("wbp00000001", 33, 17)
    data = webp.encode_webp_lossless(px)
    assert data[:4] == b"RIFF" and data[8:12] == b"WEBP"
    (riff_size,) = struct.unpack("<I", data[4:8])
    assert riff_size == len(data) - 8
    assert data[12:16] == b"VP8L" and data[20] == 0x2F
    assert codecs.sniff_header(data[:40]) == ("webp", 33, 17)
    assert np.array_equal(codecs.decode(data), px)


def test_compression_beats_raw_on_structured_images():
    rng = np.random.default_rng(42)
    flat = np.full((64, 64, 3), 7, np.uint8)
    stripes = np.tile(_posterize(rng.integers(0, 256, (1, 64, 3))), (64, 1, 1))
    grad = (
        np.add.outer(np.arange(48), np.arange(48))[..., None]
        .repeat(3, -1)
        .astype(np.uint8)
    )
    for px, factor in [(flat, 0.05), (stripes, 0.05), (grad, 0.5)]:
        data = webp.encode_webp_lossless(px)
        assert len(data) < px.size * factor, (px.shape, len(data))


def test_cache_helps_on_repeated_palette():
    """A scattered (non-runnable) repeated palette is exactly what the
    color cache compresses: cache symbols replace 4-channel literals."""
    rng = np.random.default_rng(43)
    palette = rng.integers(0, 256, (7, 3)).astype(np.uint8)
    idx = rng.integers(0, 7, (64, 64))
    # break runs so LZ77 can't cover it: add position-dependent jitter
    px = palette[idx]
    px[(np.arange(64)[:, None] + np.arange(64)) % 2 == 0] ^= 1
    with_cache = webp.encode_webp_lossless(px, cache_bits=8)
    without = webp.encode_webp_lossless(px, cache_bits=0)
    assert len(with_cache) < len(without)
    assert np.array_equal(webp.decode_webp_lossless(with_cache), px)
    assert np.array_equal(webp.decode_webp_lossless(without), px)


def test_both_prefix_code_forms_appear_in_corpus_paths():
    """Flat image -> simple (1-2 symbol) codes; noise -> normal
    code-length-coded trees. Both must round trip."""
    flat = np.full((16, 16, 3), 5, np.uint8)
    noise = np.random.default_rng(44).integers(0, 256, (16, 16, 3)).astype(np.uint8)
    for px in (flat, noise):
        data = webp.encode_webp_lossless(px, cache_bits=0, subtract_green=False)
        assert np.array_equal(webp.decode_webp_lossless(data), px)


def test_huffman_lengths_respect_depth_limit_and_kraft():
    rng = np.random.default_rng(45)
    # 280 symbols under the 15-bit limit (the literal alphabets) and 19
    # under the 7-bit limit (the code-length code) — a depth-d code can
    # host at most 2^d symbols, so each limit gets a feasible alphabet
    for n_syms, max_len in ((280, 15), (19, 7)):
        freqs = {i: int(f) for i, f in enumerate(rng.zipf(1.3, n_syms))}
        lengths = webp._huffman_lengths(freqs, max_len)
        assert max(lengths.values()) <= max_len
        assert sum(2.0 ** -l for l in lengths.values()) <= 1.0 + 1e-12
    codes = webp._canonical_codes(lengths)
    seen = set()
    for sym, (code, ln) in codes.items():
        assert (code, ln) not in seen
        seen.add((code, ln))


def test_length_code_scheme_is_exact_inverse():
    for v in list(range(1, 300)) + [4096, 16504, 1 << 19]:
        code, nbits, extra = webp._length_to_code(v)
        if code < 4:
            assert v == code + 1 and nbits == 0
        else:
            eb = (code - 2) >> 1
            assert nbits == eb
            assert v == ((2 + (code & 1)) << eb) + 1 + extra
            assert 0 <= extra < (1 << eb)


def test_rejections_and_honest_unsupported():
    px = np.zeros((8, 8, 3), np.uint8)
    good = webp.encode_webp_lossless(px)
    with pytest.raises(ValueError, match="not a WebP"):
        webp.decode_webp_lossless(b"XIFF" + good[4:])
    with pytest.raises(ValueError, match="truncated"):
        webp.decode_webp_lossless(good[:-3])
    # a lossy VP8 chunk is honestly refused, not mis-parsed
    lossy = bytearray(good)
    lossy[12:16] = b"VP8 "
    with pytest.raises(NotImplementedError, match="lossy"):
        webp.decode_webp_lossless(bytes(lossy))
    # unsupported transform type: patch the transform bits (predictor)
    bad = bytearray(good)
    # transform-present=1, type=00 (predictor) right after the 29-bit
    # dim header: flip via re-encode path instead — craft manually
    from webcollector_spark.webp import _BitWriter

    bw = _BitWriter()
    bw.write(7, 14)
    bw.write(7, 14)
    bw.write(0, 1)
    bw.write(0, 3)
    bw.write(1, 1)  # transform present
    bw.write(0, 2)  # predictor transform
    payload = b"\x2f" + bw.flush() + b"\x00" * 8
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    riff = b"WEBP" + chunk
    data = b"RIFF" + struct.pack("<I", len(riff)) + riff
    with pytest.raises(NotImplementedError, match="transform 0"):
        webp.decode_webp_lossless(data)


def test_corpus_is_lossless_and_cycles_settings():
    corpus = fixtures.make_corpus_webp(9)
    for r in corpus.to_dict("records"):
        got = codecs.decode(bytes(r["bytes"]))
        truth = fixtures.ground_truth_pixels(r["image_id"], r["w"], r["h"])
        assert np.array_equal(got, truth)
        assert codecs.phash64(got) == r["phash"]


def test_spark_dataflow_matches_committed_oracle(spark):
    import pandas as pd

    from webcollector_spark.operators import images

    got = (
        images.decode_verify(corpus(spark, "webp"))
        .orderBy("image_id")
        .toPandas()
    )
    exp = (
        pd.read_parquet("oracles/image_decode_verify_webp.parquet")
        .sort_values("image_id")
        .reset_index(drop=True)
    )
    assert len(got) == len(exp) == 100
    assert got["psnr_ok"].all() and got["phash_match"].all()
    assert (got["image_id"].values == exp["image_id"].values).all()


def test_simple_two_symbol_code_is_stream_ordered():
    """Spec: in the 'simple' 2-symbol prefix code the FIRST written
    symbol gets code 0 — assignment is positional, not canonical-by-
    symbol. A third-party stream may write s0 > s1; decoding must not
    swap them (ADVICE r4: silent pixel corruption otherwise)."""
    for s0, s1 in [(200, 3), (3, 200), (255, 0)]:
        bw = webp._BitWriter()
        bw.write(1, 1)  # simple code
        bw.write(1, 1)  # two symbols
        bw.write(1, 1)  # first symbol in 8 bits
        bw.write(s0, 8)
        bw.write(s1, 8)
        br = webp._BitReader(bw.flush() + b"\x00")
        tree = webp._read_prefix_code(br, 256)
        r0 = webp._BitReader(b"\x00")  # bit 0
        r1 = webp._BitReader(b"\x01")  # bit 1
        assert tree.read(r0) == s0
        assert tree.read(r1) == s1


def test_meta_prefix_groups_decode():
    """Hand-built two-group meta-prefix stream (r5): an 8x8 image
    split into left/right 4-px blocks, prefix_bits=2, a 2x2 entropy
    image selecting group (R<<8|G), group 0 carrying a 1-bit green
    code and group 1 a different constant pixel — the shape libwebp
    emits for large photos. The encoder never writes meta groups, so
    this is a pure third-party-decode check."""
    bw = webp._BitWriter()
    bw.write(8 - 1, 14)
    bw.write(8 - 1, 14)
    bw.write(0, 1)  # alpha hint
    bw.write(0, 3)  # version
    bw.write(0, 1)  # no transforms
    bw.write(0, 1)  # no color cache (level 0)
    bw.write(1, 1)  # meta-prefix present
    bw.write(0, 3)  # prefix_bits = 2 -> 4-px blocks -> 2x2 entropy img

    def write_group(bw, gfreq, rsym, bsym, asym, galpha):
        webp._write_prefix_code(bw, gfreq, galpha)
        for sym in (rsym, bsym, asym):
            webp._write_prefix_code(bw, {sym: 1}, 256)
        webp._write_prefix_code(bw, {0: 1}, 40)  # distance: unused

    galpha = 256 + webp._NUM_LENGTH_CODES  # no cache
    # entropy image (2x2, raster [0,1,0,1]): its OWN cache bit first,
    # then 5 codes; green carries the group id
    bw.write(0, 1)
    cg = webp._write_prefix_code(bw, {0: 2, 1: 2}, galpha)
    for sym in (0, 0, 0):  # r, b, a single-symbol codes
        webp._write_prefix_code(bw, {sym: 1}, 256)
    webp._write_prefix_code(bw, {0: 1}, 40)
    for gid in (0, 1, 0, 1):
        code, length = cg[gid]
        bw.write_code(code, length)  # r/b/a cost 0 bits (single-symbol)

    # two main groups
    cg0_holder = {}
    # group 0: green in {10, 11} (1-bit code), r=5 b=6 a=7
    cg0_holder[0] = None
    cg0 = None
    cg0 = webp._write_prefix_code(bw, {10: 1, 11: 1}, galpha)
    for sym in (5, 6, 7):
        webp._write_prefix_code(bw, {sym: 1}, 256)
    webp._write_prefix_code(bw, {0: 1}, 40)
    # group 1: constant pixel g=99 r=8 b=9 a=1 (all 0-bit codes)
    write_group(bw, {99: 1}, 8, 9, 1, galpha)

    # pixel data: scanline order; group by x block; group-0 greens
    # alternate 10/11 in the order group-0 pixels appear
    expected = np.zeros((8, 8, 3), np.uint8)
    toggle = 0
    for i in range(64):
        x, y = i % 8, i // 8
        if x < 4:  # group 0
            g = 10 + toggle
            toggle ^= 1
            code, length = cg0[g]
            bw.write_code(code, length)
            expected[y, x] = (5, g, 6)
        else:  # group 1: zero bits on the wire
            expected[y, x] = (8, 99, 9)

    payload = b"\x2f" + bw.flush()
    import struct as _s

    chunk = b"VP8L" + _s.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\x00"
    riff = b"WEBP" + chunk
    data = b"RIFF" + _s.pack("<I", len(riff)) + riff

    got = webp.decode_webp_lossless(data)
    assert np.array_equal(got, expected)
