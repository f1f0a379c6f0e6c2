"""First-principles DEFLATE decoder (tests/inflate.py):
round trips against zlib across block types and levels, hand-checked
block structures, corruption detection, and the PNG entropy layer
decoded without zlib."""

from __future__ import annotations

import zlib

import numpy as np
import pytest

from webcollector_spark import codecs
from inflate import _adler32, inflate, zlib_inflate


def _payloads():
    rng = np.random.default_rng(13)
    return [
        b"",
        b"a",
        b"hello hello hello hello",
        bytes(rng.integers(0, 256, 50000).astype(np.uint8)),
        bytes(rng.integers(0, 4, 100000).astype(np.uint8)),
        b"\x00" * 100000,
    ]


@pytest.mark.parametrize("level", [0, 1, 6, 9], ids=lambda x: f"z{x}")
def test_roundtrip_against_zlib_all_levels(level):
    """level 0 = stored blocks, 1-9 = dynamic Huffman + LZ77 depths."""
    for x in _payloads():
        assert zlib_inflate(zlib.compress(x, level)) == x


def test_fixed_huffman_blocks():
    co = zlib.compressobj(6, zlib.DEFLATED, -15, 9, zlib.Z_FIXED)
    data = b"ABCABCABCABC" * 50
    raw = co.compress(data) + co.flush()
    assert inflate(raw) == data


def test_raw_deflate_and_overlapping_backrefs():
    # distance 1, length >> 1: the overlapping-copy RLE idiom
    co = zlib.compressobj(9, zlib.DEFLATED, -15)
    data = b"x" * 70000
    raw = co.compress(data) + co.flush()
    assert inflate(raw) == data


def test_stored_block_structure_hand_built():
    # final stored block: 1 | 00, align, LEN/NLEN, payload
    payload = b"stored!"
    raw = bytes([0x01, len(payload), 0, 0xFF ^ len(payload), 0xFF]) + payload
    assert inflate(raw) == payload
    bad = bytearray(raw)
    bad[3] ^= 0x01  # break NLEN
    with pytest.raises(ValueError, match="LEN/NLEN"):
        inflate(bytes(bad))


def test_adler32_matches_zlib():
    for x in _payloads():
        assert _adler32(x) == zlib.adler32(x)


def test_corruption_detected():
    d = bytearray(zlib.compress(b"payload" * 100))
    d[-1] ^= 1
    with pytest.raises(ValueError, match="Adler-32"):
        zlib_inflate(bytes(d))
    with pytest.raises(ValueError, match="header check"):
        zlib_inflate(b"\x78\x00" + bytes(d[2:]))
    with pytest.raises(ValueError, match="truncated"):
        inflate(zlib.compress(b"payload" * 100)[2:-20])


def test_png_entropy_layer_without_zlib():
    """Decode a real PNG's pixels end to end with the first-principles
    inflate: IDAT -> scanlines -> unfilter must equal decode_png."""
    rng = np.random.default_rng(14)
    px = rng.integers(0, 256, (24, 31, 3)).astype(np.uint8)
    for filters in (False, True):
        png = codecs.encode_png(px, filters=filters)
        idat = png[png.find(b"IDAT") + 4 : png.rfind(b"IEND") - 8]
        raw = zlib_inflate(idat)
        assert raw == zlib.decompress(idat)
        arr = np.frombuffer(raw, np.uint8).reshape(24, 1 + 31 * 3)
        out = codecs._unfilter(arr, 24, 31, 3).reshape(24, 31, 3)
        assert np.array_equal(out, px)
        assert np.array_equal(codecs.decode_png(png), px)
