"""Baseline-RGB TIFF codec (webcollector_spark.tiff): lossless round
trips across byte orders and compressions, PackBits as a standalone
RLE, honest NotImplementedError boundaries, header sniff, and the
Spark dataflow vs the committed oracle."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from webcollector_spark import codecs, fixtures, tiff
from webcollector_spark.corpora import corpus
from webcollector_spark.tiff import (
    _COMP_LZW,
    _COMP_NONE,
    _COMP_PACKBITS,
    _TAG_BITS,
    _TAG_COLORMAP,
    _TAG_COMPRESSION,
    _TAG_LENGTH,
    _TAG_PHOTOMETRIC,
    _TAG_ROWS_PER_STRIP,
    _TAG_SPP,
    _TAG_STRIP_COUNTS,
    _TAG_STRIP_OFFSETS,
    _TAG_WIDTH,
    _entry,
    packbits_encode,
    tiff_lzw_encode,
)


@pytest.mark.parametrize("byte_order", ["<", ">"], ids=["II", "MM"])
@pytest.mark.parametrize(
    "compression,predictor",
    [(1, 1), (32773, 1), (5, 1), (5, 2)],
    ids=["none", "packbits", "lzw", "lzw-pred2"],
)
def test_roundtrip_bit_exact(byte_order, compression, predictor):
    rng = np.random.default_rng(31)
    for h, w in [(1, 1), (16, 32), (33, 33), (17, 31)]:
        px = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        data = tiff.encode_tiff(
            px, byte_order=byte_order, compression=compression,
            rows_per_strip=16, predictor=predictor,
        )
        assert np.array_equal(tiff.decode_tiff(data), px)
        assert np.array_equal(codecs.decode(data), px)  # magic dispatch
        fmt, sw, sh = codecs.sniff_header(data[:4096])
        assert (fmt, sw, sh) == ("tiff", w, h)


def test_lzw_earlychange_and_clear_boundaries():
    """The TIFF-LZW specifics: MSB-first packing, width bumps one code
    EARLY (decoder one entry earlier than encoder), mid-stream Clear
    at 4094 entries — exercised by streams long enough to cross every
    width boundary and force table resets."""
    rng = np.random.default_rng(32)
    cases = [
        b"",
        b"A",
        b"AB" * 5000,  # crosses 9->10->11 bit widths
        bytes(rng.integers(0, 256, 20000).astype(np.uint8)),  # full-width
        bytes(rng.integers(0, 4, 100000).astype(np.uint8)),  # multi-Clear
        b"\x00" * 70000,  # degenerate run
    ]
    for data in cases:
        enc = tiff.tiff_lzw_encode(data)
        assert tiff.tiff_lzw_decode(enc, len(data)) == data
    with pytest.raises(ValueError, match="truncated"):
        tiff.tiff_lzw_decode(tiff.tiff_lzw_encode(b"hello world")[:3], 11)


def test_lzw_megabyte_strip_roundtrips_in_linear_time():
    """The LZW bit reader keeps only its unread bits. An accumulator
    that kept every bit it had read grows to the size of the strip,
    which makes decode quadratic: over 100 s for this strip on a 4-core
    box."""
    import time

    raw = np.random.default_rng(5).integers(0, 16, 1 << 20, dtype=np.uint8).tobytes()
    enc = tiff.tiff_lzw_encode(raw)
    t0 = time.perf_counter()
    assert tiff.tiff_lzw_decode(enc, len(raw)) == raw
    assert time.perf_counter() - t0 < 5.0


def test_strip_decode_holds_one_plane():
    """Strips decode straight into the plane: 16-row strips and a
    whole-image uncompressed strip peak near the plane's own 3 bytes a
    pixel, and a whole-image predictor-2 strip of noise, PackBits or LZW,
    adds only its decoded bytes, well under the canvas bound. Growing a
    bytearray raster and copying it twice peaked at 9.2, and int64
    predictor sums at 51. The LZW image is 4-level noise only
    to keep the traced decode short: its peak does not depend on how
    well the strip compresses."""
    import tracemalloc

    rng = np.random.default_rng(512)
    noise = rng.integers(0, 256, (512, 512, 3)).astype(np.uint8)
    low = rng.integers(0, 4, (512, 512, 3)).astype(np.uint8)
    for px, data, bound in (
        (noise, tiff.encode_tiff(noise), 4),
        (noise, tiff.encode_tiff(noise, rows_per_strip=512, predictor=2), 4),
        (noise, tiff.encode_tiff(noise, rows_per_strip=512, compression=32773, predictor=2), 9),
        (low, tiff.encode_tiff(low, rows_per_strip=512, compression=5, predictor=2), 9),
    ):
        tracemalloc.start()
        try:
            out = tiff.decode_tiff(data)
            peak = tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()
        assert np.array_equal(out, px)
        assert peak / px[..., 0].size < bound, peak / px[..., 0].size
    assert tiff._PEAK_BYTES_PER_PIXEL >= 9


def test_lzw_predictor_compresses_smooth_content():
    smooth = (
        128 + 90 * np.sin(np.add.outer(np.arange(48) / 7, np.arange(40) / 5))
    )[..., None].repeat(3, -1).astype(np.uint8)
    none_sz = len(tiff.encode_tiff(smooth))
    lzw = len(tiff.encode_tiff(smooth, compression=5))
    pred = len(tiff.encode_tiff(smooth, compression=5, predictor=2))
    assert pred < lzw < none_sz  # differencing beats raw LZW beats raw


def test_packbits_unit_roundtrip_and_packet_shapes():
    rng = np.random.default_rng(32)
    for _ in range(100):
        raw = bytes(rng.integers(0, 4, rng.integers(0, 300)).astype(np.uint8))
        enc = tiff.packbits_encode(raw)
        assert tiff.packbits_decode(enc, len(raw)) == raw
    # a long run becomes repeat packets: 2 bytes per 128-byte run
    run = b"\x07" * 300
    enc = tiff.packbits_encode(run)
    assert len(enc) <= 8
    assert tiff.packbits_decode(enc, 300) == run
    # the 0x80 no-op byte is skipped on decode
    assert tiff.packbits_decode(b"\x80\x00A", 1) == b"A"
    with pytest.raises(ValueError, match="truncated"):
        tiff.packbits_decode(b"\x05AB", 6)


def test_packbits_compresses_flat_strips():
    flat = np.full((64, 64, 3), 7, np.uint8)
    assert len(tiff.encode_tiff(flat, compression=32773)) < (
        len(tiff.encode_tiff(flat)) / 10
    )


def test_multi_strip_layout_with_short_final_strip():
    """33 rows at 16 rows/strip = 3 strips, the last only 1 row; the
    strip table goes out-of-line (count > 1) and must still resolve."""
    rng = np.random.default_rng(33)
    px = rng.integers(0, 256, (33, 8, 3)).astype(np.uint8)
    data = tiff.encode_tiff(px, rows_per_strip=16)
    ifd_off = struct.unpack_from("<I", data, 4)[0]
    n = struct.unpack_from("<H", data, ifd_off)[0]
    tags = {}
    for i in range(n):
        tag, typ, count = struct.unpack_from("<HHI", data, ifd_off + 2 + 12 * i)
        tags[tag] = (typ, count)
    assert tags[273] == (4, 3) and tags[279] == (4, 3)  # 3 strips
    assert np.array_equal(tiff.decode_tiff(data), px)


def test_unsupported_features_raise():
    px = np.zeros((8, 8, 3), np.uint8)
    good = tiff.encode_tiff(px)
    with pytest.raises(ValueError, match="not a TIFF"):
        tiff.decode_tiff(b"XX" + good[2:])
    with pytest.raises(ValueError, match="magic"):
        tiff.decode_tiff(b"II" + struct.pack("<HI", 43, 8) + good[8:])

    def patch_entry(data, tag, value):
        out = bytearray(data)
        ifd_off = struct.unpack_from("<I", out, 4)[0]
        n = struct.unpack_from("<H", out, ifd_off)[0]
        for i in range(n):
            pos = ifd_off + 2 + 12 * i
            t = struct.unpack_from("<H", out, pos)[0]
            if t == tag:
                struct.pack_into("<HH", out, pos + 8, value, 0)
                return bytes(out)
        raise AssertionError(f"tag {tag} not found")

    with pytest.raises(NotImplementedError, match="compression 7"):
        tiff.decode_tiff(patch_entry(good, 259, 7))  # JPEG-in-TIFF
    with pytest.raises(NotImplementedError, match="predictor 3"):
        lzw = tiff.encode_tiff(px, compression=5, predictor=2)
        tiff.decode_tiff(patch_entry(lzw, 317, 3))  # float predictor
    # palette is supported in r5, but an RGB file relabeled photometric
    # 3 has no ColorMap and must refuse rather than mis-decode
    with pytest.raises(ValueError, match="ColorMap"):
        tiff.decode_tiff(patch_entry(good, 262, 3))
    # grayscale is supported in r5; an RGB file relabeled photometric
    # 1 trips the samples-per-pixel cross-check instead
    with pytest.raises(NotImplementedError, match="samples/pixel"):
        tiff.decode_tiff(patch_entry(good, 262, 1))
    with pytest.raises(NotImplementedError, match="photometric 5"):
        tiff.decode_tiff(patch_entry(good, 262, 5))  # CMYK
    with pytest.raises(NotImplementedError, match="samples/pixel"):
        tiff.decode_tiff(patch_entry(good, 277, 1))
    with pytest.raises(NotImplementedError, match="planar"):
        tiff.decode_tiff(patch_entry(good, 284, 2))
    with pytest.raises(ValueError, match="strip out of range"):
        tiff.decode_tiff(good[:-4])


def test_corpus_is_lossless_and_mixes_variants():
    corpus = fixtures.make_corpus_tiff(12)
    orders, comps = set(), set()
    for r in corpus.to_dict("records"):
        data = bytes(r["bytes"])
        got = codecs.decode(data)
        truth = fixtures.ground_truth_pixels(r["image_id"], r["w"], r["h"])
        assert np.array_equal(got, truth)
        assert codecs.phash64(got) == r["phash"]
        orders.add(data[:2])
        e = "<" if data[:2] == b"II" else ">"
        ifd_off = struct.unpack_from(e + "I", data, 4)[0]
        n = struct.unpack_from(e + "H", data, ifd_off)[0]
        for i in range(n):
            pos = ifd_off + 2 + 12 * i
            if struct.unpack_from(e + "H", data, pos)[0] == 259:
                comps.add(struct.unpack_from(e + "H", data, pos + 8)[0])
    assert orders == {b"II", b"MM"}
    assert comps == {1, 5, 32773}


def test_spark_dataflow_matches_committed_oracle(spark):
    import pandas as pd

    from webcollector_spark.operators import images

    got = (
        images.decode_verify(corpus(spark, "tiff"))
        .orderBy("image_id")
        .toPandas()
    )
    exp = (
        pd.read_parquet("oracles/image_decode_verify_tiff.parquet")
        .sort_values("image_id")
        .reset_index(drop=True)
    )
    assert len(got) == len(exp) == 100
    assert got["psnr_ok"].all() and got["phash_match"].all()
    assert (got["image_id"].values == exp["image_id"].values).all()
    assert np.allclose(got["psnr_db"].values, exp["psnr_db"].values)


# ---------------------------------------------------------------------------
# Tile organization + palette-color (r5).


def test_tiled_roundtrips_every_codec_and_order():
    rng = np.random.default_rng(8)
    px = rng.integers(0, 256, size=(37, 53, 3)).astype(np.uint8)
    for bo in ("<", ">"):
        for comp in (1, 5, 32773):
            for pred in (1, 2):
                enc = tiff.encode_tiff_tiled(px, 16, 32, bo, comp, pred)
                got = tiff.decode_tiff(enc)
                assert np.array_equal(got, px), (bo, comp, pred)


def test_tiled_edge_padding_clipped_exactly():
    """37x53 with 16x32 tiles: both edges partial — padding must never
    leak into the output, and the tile grid must be 4 across, 2 down."""
    rng = np.random.default_rng(12)
    px = rng.integers(0, 256, size=(37, 53, 3)).astype(np.uint8)
    enc = tiff.encode_tiff_tiled(px, 16, 32)
    assert np.array_equal(tiff.decode_tiff(enc), px)
    # exact tile-size single-tile case
    one = rng.integers(0, 256, size=(32, 16, 3)).astype(np.uint8)
    assert np.array_equal(
        tiff.decode_tiff(tiff.encode_tiff_tiled(one, 16, 32)), one
    )


def test_tiled_non_multiple_of_16_refused_on_encode():
    px = np.zeros((16, 16, 3), np.uint8)
    with pytest.raises(AssertionError, match="x16"):
        tiff.encode_tiff_tiled(px, 15, 16)


def test_palette_roundtrips_and_high_byte_rule():
    rng = np.random.default_rng(9)
    idx = rng.integers(0, 256, size=(29, 41)).astype(np.uint8)
    cmap = rng.integers(0, 256, size=(256, 3)).astype(np.uint8)
    for comp in (1, 5, 32773):
        enc = encode_tiff_palette(idx, cmap, "<", comp)
        assert np.array_equal(tiff.decode_tiff(enc), cmap[idx]), comp
    # the 16-bit map scales by 257, so the round trip is exact at the
    # high byte for EVERY 8-bit value (0xFF -> 0xFFFF >> 8 == 0xFF)
    full = np.arange(256, dtype=np.uint8).reshape(16, 16)
    gray = np.stack([np.arange(256)] * 3, axis=1).astype(np.uint8)
    got = tiff.decode_tiff(encode_tiff_palette(full, gray))
    assert np.array_equal(got[:, :, 0], full)


def test_palette_missing_colormap_raises():
    rng = np.random.default_rng(10)
    idx = rng.integers(0, 256, size=(8, 8)).astype(np.uint8)
    cmap = rng.integers(0, 256, size=(256, 3)).astype(np.uint8)
    data = bytearray(encode_tiff_palette(idx, cmap))
    # zero out the ColorMap tag id (320 -> 0) in the sorted IFD
    import struct as _s

    n = _s.unpack_from("<H", data, 8)[0]
    for i in range(n):
        off = 10 + 12 * i
        if _s.unpack_from("<H", data, off)[0] == 320:
            _s.pack_into("<H", data, off, 999)
    with pytest.raises(ValueError, match="ColorMap"):
        tiff.decode_tiff(bytes(data))


def test_grayscale_both_photometrics_roundtrip():
    rng = np.random.default_rng(13)
    g = rng.integers(0, 256, size=(23, 31)).astype(np.uint8)
    want = np.repeat(g[:, :, None], 3, axis=2)
    for comp in (1, 5, 32773):
        # BlackIsZero: stored as-is
        enc = encode_tiff_gray(g, "<", comp)
        assert np.array_equal(tiff.decode_tiff(enc), want), comp
        # WhiteIsZero: stored inverted, decode re-inverts
        enc0 = encode_tiff_gray(g, ">", comp, white_is_zero=True)
        assert np.array_equal(tiff.decode_tiff(enc0), want), comp
        # really inverted on disk: the raster bytes differ
        assert enc[-g.size :] != enc0[-g.size :] or comp != 1


# -- fixture encoders (palette / grayscale TIFF) -------------------------


def encode_tiff_palette(
    indices: np.ndarray,
    colormap: np.ndarray,
    byte_order: str = "<",
    compression: int = _COMP_NONE,
    rows_per_strip: int = 16,
) -> bytes:
    """8-bit index plane HxW + RGB8 colormap (256x3) -> palette-color
    TIFF (photometric 3, r5). ColorMap stores 3*256 16-bit values (all
    red, all green, all blue); baseline viewers take the high byte, so
    the 8-bit map scales by 257 (0xFF -> 0xFFFF)."""
    h, w = indices.shape
    assert indices.dtype == np.uint8
    assert colormap.shape == (256, 3) and colormap.dtype == np.uint8
    assert byte_order in ("<", ">")
    if compression not in (_COMP_NONE, _COMP_LZW, _COMP_PACKBITS):
        raise ValueError(f"unsupported compression {compression}")
    e = byte_order
    strips = []
    for y0 in range(0, h, rows_per_strip):
        raw = indices[y0 : y0 + rows_per_strip].tobytes()
        if compression == _COMP_PACKBITS:
            raw = packbits_encode(raw)
        elif compression == _COMP_LZW:
            raw = tiff_lzw_encode(raw)
        strips.append(raw)
    n_strips = len(strips)
    cmap16 = (colormap.astype(np.uint16) * 257).T.reshape(-1)  # r*256,g,b

    n_entries = 10
    ifd_off = 8
    ifd_size = 2 + 12 * n_entries + 4
    cmap_off = ifd_off + ifd_size
    offsets_off = cmap_off + 2 * 768
    counts_off = offsets_off + 4 * n_strips
    data_off = counts_off + 4 * n_strips
    strip_offsets = []
    pos = data_off
    for s in strips:
        strip_offsets.append(pos)
        pos += len(s)

    entry_list = [
        _entry(e, _TAG_WIDTH, 4, 1, w),
        _entry(e, _TAG_LENGTH, 4, 1, h),
        _entry(e, _TAG_BITS, 3, 1, 8),
        _entry(e, _TAG_COMPRESSION, 3, 1, compression),
        _entry(e, _TAG_PHOTOMETRIC, 3, 1, 3),  # palette-color
        _entry(
            e, _TAG_STRIP_OFFSETS, 4, n_strips,
            strip_offsets[0] if n_strips == 1 else offsets_off,
        ),
        _entry(e, _TAG_SPP, 3, 1, 1),
        _entry(e, _TAG_ROWS_PER_STRIP, 4, 1, rows_per_strip),
        _entry(
            e, _TAG_STRIP_COUNTS, 4, n_strips,
            len(strips[0]) if n_strips == 1 else counts_off,
        ),
        _entry(e, _TAG_COLORMAP, 3, 768, cmap_off),
    ]
    entry_list.sort(key=lambda b: struct.unpack(e + "H", b[:2])[0])
    out = bytearray()
    out += (b"II" if e == "<" else b"MM") + struct.pack(e + "HI", 42, ifd_off)
    out += struct.pack(e + "H", n_entries)
    out += b"".join(entry_list) + struct.pack(e + "I", 0)
    out += struct.pack(e + "768H", *cmap16)
    if n_strips > 1:
        out += struct.pack(e + f"{n_strips}I", *strip_offsets)
        out += struct.pack(e + f"{n_strips}I", *(len(s) for s in strips))
    else:
        out += b"\x00" * 8
    for s in strips:
        out += s
    return bytes(out)


def encode_tiff_gray(
    gray: np.ndarray,
    byte_order: str = "<",
    compression: int = _COMP_NONE,
    rows_per_strip: int = 16,
    white_is_zero: bool = False,
) -> bytes:
    """8-bit grayscale HxW -> photometric 1 (BlackIsZero) or 0
    (WhiteIsZero — stored inverted, the fax/scanner legacy scale) TIFF
    (r5). Decode replicates to RGB."""
    h, w = gray.shape
    assert gray.dtype == np.uint8
    assert byte_order in ("<", ">")
    if compression not in (_COMP_NONE, _COMP_LZW, _COMP_PACKBITS):
        raise ValueError(f"unsupported compression {compression}")
    e = byte_order
    stored = (255 - gray.astype(np.int16)).astype(np.uint8) if white_is_zero else gray
    strips = []
    for y0 in range(0, h, rows_per_strip):
        raw = stored[y0 : y0 + rows_per_strip].tobytes()
        if compression == _COMP_PACKBITS:
            raw = packbits_encode(raw)
        elif compression == _COMP_LZW:
            raw = tiff_lzw_encode(raw)
        strips.append(raw)
    n_strips = len(strips)

    n_entries = 9
    ifd_off = 8
    ifd_size = 2 + 12 * n_entries + 4
    offsets_off = ifd_off + ifd_size
    counts_off = offsets_off + 4 * n_strips
    data_off = counts_off + 4 * n_strips
    strip_offsets = []
    pos = data_off
    for s in strips:
        strip_offsets.append(pos)
        pos += len(s)

    entry_list = [
        _entry(e, _TAG_WIDTH, 4, 1, w),
        _entry(e, _TAG_LENGTH, 4, 1, h),
        _entry(e, _TAG_BITS, 3, 1, 8),
        _entry(e, _TAG_COMPRESSION, 3, 1, compression),
        _entry(e, _TAG_PHOTOMETRIC, 3, 1, 0 if white_is_zero else 1),
        _entry(
            e, _TAG_STRIP_OFFSETS, 4, n_strips,
            strip_offsets[0] if n_strips == 1 else offsets_off,
        ),
        _entry(e, _TAG_SPP, 3, 1, 1),
        _entry(e, _TAG_ROWS_PER_STRIP, 4, 1, rows_per_strip),
        _entry(
            e, _TAG_STRIP_COUNTS, 4, n_strips,
            len(strips[0]) if n_strips == 1 else counts_off,
        ),
    ]
    entry_list.sort(key=lambda b: struct.unpack(e + "H", b[:2])[0])
    out = bytearray()
    out += (b"II" if e == "<" else b"MM") + struct.pack(e + "HI", 42, ifd_off)
    out += struct.pack(e + "H", n_entries)
    out += b"".join(entry_list) + struct.pack(e + "I", 0)
    if n_strips > 1:
        out += struct.pack(e + f"{n_strips}I", *strip_offsets)
        out += struct.pack(e + f"{n_strips}I", *(len(s) for s in strips))
    else:
        out += b"\x00" * 8
    for s in strips:
        out += s
    return bytes(out)
