import struct
import tracemalloc
import zlib

import numpy as np
import pytest

from webcollector_spark import codecs, fixtures


def test_png_roundtrip_exact():
    px = fixtures.ground_truth_pixels("img00000007", 64, 32)
    data = codecs.encode_png(px)
    out = codecs.decode(data)
    assert np.array_equal(out, px)
    assert codecs.psnr_db(px, out) == float("inf")


def test_lossy_psnr_above_gate():
    px = fixtures.ground_truth_pixels("img00000011", 128, 64)
    data = codecs.encode_lossy(px)
    out = codecs.decode(data)
    assert out.shape == px.shape
    p = codecs.psnr_db(px, out)
    assert p >= 40.0, p  # BASELINE.json input_hint invariant


def test_phash_deterministic_and_discriminative():
    a = fixtures.ground_truth_pixels("img00000001", 64, 64)
    b = fixtures.ground_truth_pixels("img00000002", 64, 64)
    assert codecs.phash64(a) == codecs.phash64(a)
    assert codecs.phash64(a) != codecs.phash64(b)
    # lossy encode must not move the phash (quantization error is tiny)
    assert codecs.phash64(codecs.decode(codecs.encode_lossy(a))) == codecs.phash64(a)


def test_corpus_generation_invariants():
    pdf = fixtures.make_corpus(30)
    assert len(pdf) == 30
    assert set(pdf["fmt"]) <= {"png", "jpeg"}
    for _, row in pdf.head(5).iterrows():
        px = codecs.decode(row["bytes"])
        gt = fixtures.ground_truth_pixels(row["image_id"], row["w"], row["h"])
        assert px.shape == gt.shape
        assert codecs.psnr_db(gt, px) >= 40.0
        assert row["caption"].startswith(f"caption of {row['image_id']}")


def _forward_filter_scalar(pixels: np.ndarray, ftypes: list[int]) -> bytes:
    """INDEPENDENT straight-line forward filtering, written from the PNG
    spec (§9, 'filters are applied to bytes, bpp=3'), deliberately NOT
    sharing code with codecs._unfilter — the test is meaningful only if
    encoder and decoder can't share a compensating bug."""
    h, w, _ = pixels.shape
    flat = pixels.reshape(h, w * 3).astype(int)
    out = bytearray()
    for y in range(h):
        f = ftypes[y % len(ftypes)]
        out.append(f)
        for x in range(w * 3):
            raw = flat[y][x]
            left = flat[y][x - 3] if x >= 3 else 0
            up = flat[y - 1][x] if y >= 1 else 0
            ul = flat[y - 1][x - 3] if (x >= 3 and y >= 1) else 0
            if f == 0:
                v = raw
            elif f == 1:
                v = raw - left
            elif f == 2:
                v = raw - up
            elif f == 3:
                v = raw - ((left + up) // 2)
            else:  # Paeth
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if (pa <= pb and pa <= pc) else (up if pb <= pc else ul)
                v = raw - pred
            out.append(v & 0xFF)
    return bytes(out)


def _png_from_scanlines(scanlines: bytes, w: int, h: int) -> bytes:
    import struct
    import zlib

    def chunk(tag, payload):
        return (
            struct.pack(">I", len(payload)) + tag + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(scanlines, 6))
        + chunk(b"IEND", b"")
    )


def test_png_all_filter_types_decode():
    """Externally-filtered PNGs (Sub/Up/Average/Paeth, incl. mixed rows)
    must reconstruct the original pixels exactly."""
    px = fixtures.ground_truth_pixels("img00000023", 21, 13)
    for ftypes in ([1], [2], [3], [4], [0, 1, 2, 3, 4], [4, 3, 2, 1]):
        data = _png_from_scanlines(
            _forward_filter_scalar(px, ftypes), 21, 13
        )
        out = codecs.decode_png(data)
        assert np.array_equal(out, px), f"filters {ftypes}"


def test_png_rejections():
    import pytest

    px = fixtures.ground_truth_pixels("img00000024", 8, 8)
    data = bytearray(codecs.encode_png(px))
    ihdr_payload = data.index(b"IHDR") + 4
    # lying interlace byte on a sequential stream: the Adam7 pass
    # layout no longer matches the byte count — refuse, don't garble
    data[ihdr_payload + 12] = 1
    with pytest.raises(ValueError, match="mismatch|filter"):
        codecs.decode_png(bytes(data))
    # unknown interlace method
    data[ihdr_payload + 12] = 2
    with pytest.raises(ValueError, match="interlace"):
        codecs.decode_png(bytes(data))
    bad = _png_from_scanlines(
        b"\x09" + bytes(8 * 3), 8, 1
    )
    with pytest.raises(ValueError):
        codecs.decode_png(bad)


def test_png_adam7_roundtrip_and_foreign_filters():
    """Adam7 interlace: bit-exact roundtrip at every edge geometry
    (passes vanish entirely below 5x5), and externally Sub-filtered
    passes must invert — each pass is its own filter context."""
    import struct
    import zlib

    rng = np.random.default_rng(31)
    for w, h in ((64, 48), (33, 17), (8, 8), (7, 3), (1, 1), (9, 1), (1, 9), (4, 4)):
        px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        data = codecs.encode_png(px, interlace=True)
        assert np.array_equal(codecs.decode_png(data), px), (w, h)
        assert codecs.sniff_header(data) == ("png", w, h)
        assert np.array_equal(codecs.decode(data), px)  # magic dispatch
    px = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    parts = []
    for x0, y0, dx, dy in codecs._ADAM7:
        sub = px[y0::dy, x0::dx]
        ph, pw = sub.shape[:2]
        if ph == 0 or pw == 0:
            continue
        flat = sub.reshape(ph, pw * 3).astype(np.int16)
        filt = flat.copy()
        filt[:, 3:] = (flat[:, 3:] - flat[:, :-3]) % 256  # Sub
        raw = np.empty((ph, 1 + pw * 3), dtype=np.uint8)
        raw[:, 0] = 1
        raw[:, 1:] = filt.astype(np.uint8)
        parts.append(raw.tobytes())
    ihdr = struct.pack(">IIBBBBB", 16, 16, 8, 2, 0, 0, 1)
    data = (
        codecs._PNG_SIG
        + codecs._chunk(b"IHDR", ihdr)
        + codecs._chunk(b"IDAT", zlib.compress(b"".join(parts)))
        + codecs._chunk(b"IEND", b"")
    )
    assert np.array_equal(codecs.decode_png(data), px)


def test_png_all_color_types_decode():
    """Every 8-bit color type the web serves — RGBA (alpha dropped),
    grayscale (HxW like the JPEG path), gray+alpha, palette at all
    sub-byte depths — plus bpp=4 filter context and interlaced
    palette. Streams are hand-packed per spec §11, so the decoder is
    checked against the wire format, not against itself."""
    import struct
    import zlib

    def make_png(w, h, depth, ctype, payload, plte=None, interlace=0):
        ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, interlace)
        out = codecs._PNG_SIG + codecs._chunk(b"IHDR", ihdr)
        if plte is not None:
            out += codecs._chunk(b"PLTE", plte)
        out += codecs._chunk(b"IDAT", zlib.compress(payload))
        return out + codecs._chunk(b"IEND", b"")

    rng = np.random.default_rng(6)
    w, h = 13, 7

    rgba = rng.integers(0, 256, (h, w, 4), dtype=np.uint8)
    rows = b"".join(b"\x00" + rgba[y].tobytes() for y in range(h))
    assert np.array_equal(
        codecs.decode_png(make_png(w, h, 8, 6, rows)), rgba[..., :3]
    )

    g = rng.integers(0, 256, (h, w), dtype=np.uint8)
    rows = b"".join(b"\x00" + g[y].tobytes() for y in range(h))
    out = codecs.decode_png(make_png(w, h, 8, 0, rows))
    assert out.shape == (h, w) and np.array_equal(out, g)

    ga = rng.integers(0, 256, (h, w, 2), dtype=np.uint8)
    rows = b"".join(b"\x00" + ga[y].tobytes() for y in range(h))
    assert np.array_equal(
        codecs.decode_png(make_png(w, h, 8, 4, rows)), ga[..., 0]
    )

    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, (h, w), dtype=np.uint8)
    rows = b"".join(b"\x00" + idx[y].tobytes() for y in range(h))
    assert np.array_equal(
        codecs.decode_png(make_png(w, h, 8, 3, rows, plte=pal.tobytes())),
        pal[idx],
    )

    for depth in (1, 2, 4):
        nc = 1 << depth
        p2 = rng.integers(0, 256, (nc, 3), dtype=np.uint8)
        i2 = rng.integers(0, nc, (h, w), dtype=np.uint8)
        rows = b""
        for y in range(h):
            bits = np.unpackbits(i2[y][:, None], axis=1)[:, 8 - depth :]
            flat = bits.flatten()
            flat = np.concatenate(
                [flat, np.zeros((-len(flat)) % 8, dtype=np.uint8)]
            )
            rows += b"\x00" + np.packbits(flat).tobytes()
        assert np.array_equal(
            codecs.decode_png(
                make_png(w, h, depth, 3, rows, plte=p2.tobytes())
            ),
            p2[i2],
        ), depth

    # Sub filter at bpp=4: the filter unit follows the channel count
    flat = rgba.reshape(h, w * 4).astype(np.int16)
    filt = flat.copy()
    filt[:, 4:] = (flat[:, 4:] - flat[:, :-4]) % 256
    rows = b"".join(
        b"\x01" + filt[y].astype(np.uint8).tobytes() for y in range(h)
    )
    assert np.array_equal(
        codecs.decode_png(make_png(w, h, 8, 6, rows)), rgba[..., :3]
    )

    # interlaced palette
    parts = []
    for x0, y0, dx, dy in codecs._ADAM7:
        sub = idx[y0::dy, x0::dx]
        ph, pw = sub.shape
        if ph == 0 or pw == 0:
            continue
        parts.append(b"".join(b"\x00" + sub[y].tobytes() for y in range(ph)))
    assert np.array_equal(
        codecs.decode_png(
            make_png(w, h, 8, 3, b"".join(parts), plte=pal.tobytes(), interlace=1)
        ),
        pal[idx],
    )

    # depth 16 decodes since r5 (see test_png16_*); a non-palette
    # sub-byte depth is still malformed
    with pytest.raises(ValueError, match="bad PNG bit depth"):
        codecs.decode_png(make_png(w, h, 4, 2, b""))
    with pytest.raises(ValueError, match="PLTE"):
        codecs.decode_png(
            make_png(w, h, 8, 3, b"".join(b"\x00" + idx[y].tobytes() for y in range(h)))
        )


# ------------------------------------------------------------------- BMP


def test_bmp_roundtrip_both_row_orders_and_padding():
    """24bpp BI_RGB round trip, bottom-up and top-down, including a
    width whose 3-byte rows need 4-byte padding."""
    rng = np.random.default_rng(11)
    for h, w in [(1, 1), (5, 33), (24, 32), (17, 31)]:
        px = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        for top_down in (False, True):
            data = codecs.encode_bmp(px, top_down=top_down)
            assert np.array_equal(codecs.decode_bmp(data), px)
            assert np.array_equal(codecs.decode(data), px)  # magic dispatch
            fmt, sw, sh = codecs.sniff_header(data[:30])
            assert (fmt, sw, sh) == ("bmp", w, h)


def test_bmp_32bpp_and_v4_header_decode():
    """Hand-build a 32bpp BGRA raster and a V4 (108-byte) info header:
    both are real-world shapes the decoder must accept; alpha drops."""
    import struct

    px = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    bgra = np.concatenate(
        [px[..., ::-1], np.full((2, 3, 1), 0xEE, np.uint8)], axis=-1
    )
    raster = bgra[::-1].tobytes()  # bottom-up, stride 12 needs no pad
    for bisize in (40, 108):
        data_off = 14 + bisize
        hdr = b"BM" + struct.pack("<IHHI", data_off + len(raster), 0, 0, data_off)
        info = struct.pack(
            "<IiiHHIIiiII", bisize, 3, 2, 1, 32, 0, len(raster), 0, 0, 0, 0
        )
        info += b"\x00" * (bisize - 40)
        out = codecs.decode_bmp(hdr + info + raster)
        assert np.array_equal(out, px)


def test_bmp_rejections():
    import struct

    import pytest

    px = np.zeros((4, 4, 3), np.uint8)
    good = bytearray(codecs.encode_bmp(px))
    with pytest.raises(ValueError, match="not a BMP"):
        codecs.decode_bmp(b"XX" + bytes(good[2:]))
    # RLE8 is supported in r5 but only at 8bpp; a 24bpp file relabeled
    # BI_RLE8 is malformed
    rle = bytearray(good)
    struct.pack_into("<I", rle, 30, 1)  # BI_RLE8
    with pytest.raises(ValueError, match="requires 8bpp"):
        codecs.decode_bmp(bytes(rle))
    rle4 = bytearray(good)
    struct.pack_into("<I", rle4, 30, 2)  # BI_RLE4 still refused
    with pytest.raises(NotImplementedError, match="compression 2"):
        codecs.decode_bmp(bytes(rle4))
    core = bytearray(good)
    struct.pack_into("<I", core, 14, 12)  # BITMAPCOREHEADER
    with pytest.raises(NotImplementedError, match="core header"):
        codecs.decode_bmp(bytes(core))
    with pytest.raises(ValueError, match="truncated"):
        codecs.decode_bmp(bytes(good[:-8]))


def test_bmp_corpus_is_lossless():
    corpus = fixtures.make_corpus_bmp(10)
    tds = []
    for r in corpus.to_dict("records"):
        got = codecs.decode(bytes(r["bytes"]))
        truth = fixtures.ground_truth_pixels(r["image_id"], r["w"], r["h"])
        assert np.array_equal(got, truth)
        assert codecs.phash64(got) == r["phash"]
        tds.append(struct_height_is_negative(bytes(r["bytes"])))
    assert True in tds and False in tds  # both row orders present


def struct_height_is_negative(data: bytes) -> bool:
    import struct

    return struct.unpack("<i", data[22:26])[0] < 0


# ------------------------------------------------------------------- ICO


def test_ico_multi_entry_roundtrip_and_largest_dispatch():
    """DIB entries (doubled-height header, 32-bit-padded AND mask) and
    embedded-PNG entries round trip; magic dispatch serves the largest
    — the favicon convention."""
    rng = np.random.default_rng(21)
    imgs = [rng.integers(0, 256, (s, s, 3)).astype(np.uint8) for s in (16, 32, 64)]
    data = codecs.encode_ico(imgs)
    out = codecs.decode_ico(data)
    assert len(out) == 3
    for a, b in zip(imgs, out):
        assert np.array_equal(a, b)
    assert np.array_equal(codecs.decode(data), imgs[2])
    assert codecs.sniff_header(data[:60]) == ("ico", 64, 64)
    # 64px entry is PNG, smaller are DIB
    import struct as _s

    offsets = [
        _s.unpack("<II", data[6 + 16 * i + 8 : 6 + 16 * i + 16])
        for i in range(3)
    ]
    payload0 = data[offsets[0][1] : offsets[0][1] + 8]
    payload2 = data[offsets[2][1] : offsets[2][1] + 8]
    assert payload0[:8] != b"\x89PNG\r\n\x1a\n"
    assert payload2[:8] == b"\x89PNG\r\n\x1a\n"
    # DIB biHeight is doubled (XOR + AND masks)
    (hh,) = _s.unpack("<i", data[offsets[0][1] + 8 : offsets[0][1] + 12])
    assert hh == 32  # 16px entry


def test_ico_256_stored_as_zero_and_odd_width_padding():
    rng = np.random.default_rng(22)
    big = [rng.integers(0, 256, (256, 256, 3)).astype(np.uint8)]
    d = codecs.encode_ico(big)
    assert d[6] == 0 and d[7] == 0  # 256 -> 0 in the directory
    assert codecs.sniff_header(d[:60]) == ("ico", 256, 256)
    assert np.array_equal(codecs.decode(d), big[0])
    odd = [rng.integers(0, 256, (9, 9, 3)).astype(np.uint8)]
    assert np.array_equal(codecs.decode_ico(codecs.encode_ico(odd))[0], odd[0])


def test_ico_rejections():
    import struct as _s

    import pytest

    rng = np.random.default_rng(23)
    ok = codecs.encode_ico([rng.integers(0, 256, (8, 8, 3)).astype(np.uint8)])
    with pytest.raises(ValueError, match="not an ICO"):
        codecs.decode_ico(b"\x00\x00\x02\x00" + ok[4:])  # CUR, not ICO
    with pytest.raises(ValueError, match="truncated"):
        codecs.decode_ico(ok[:-10])
    with pytest.raises(ValueError, match="256x256"):
        codecs.encode_ico([np.zeros((300, 300, 3), np.uint8)])
    rle = bytearray(ok)
    off = _s.unpack("<II", ok[14:22])[1]
    _s.pack_into("<I", rle, off + 16, 2)  # DIB compression field
    with pytest.raises(NotImplementedError, match="compression=2"):
        codecs.decode_ico(bytes(rle))


def test_ico_corpus_mixes_payload_forms():
    corpus = fixtures.make_corpus_ico(6)
    n_entries = []
    for r in corpus.to_dict("records"):
        out = codecs.decode_ico(bytes(r["bytes"]))
        n_entries.append(len(out))
        got = codecs.decode(bytes(r["bytes"]))
        truth = fixtures.ground_truth_pixels(r["image_id"], r["w"], r["h"])
        assert np.array_equal(got, truth)
    assert 2 in n_entries and 3 in n_entries  # DIB-only and mixed rows


# ------------------------------------------------ PNG adaptive filtering


def test_png_adaptive_filters_roundtrip_and_compress():
    """filters=True picks Sub/Up/Average/Paeth per row by the libpng
    MSAD heuristic: must round trip through the all-filter decoder,
    beat filter-0 on smooth content, and never lose to it on noise
    (the heuristic falls back to filter 0 there)."""
    rng = np.random.default_rng(51)
    grad = (
        (np.add.outer(np.arange(64), np.arange(64))[..., None].repeat(3, -1))
        % 256
    ).astype(np.uint8)
    noise = rng.integers(0, 256, (32, 32, 3)).astype(np.uint8)
    for interlace in (False, True):
        plain = codecs.encode_png(grad, interlace=interlace)
        filt = codecs.encode_png(grad, interlace=interlace, filters=True)
        assert np.array_equal(codecs.decode_png(filt), grad)
        assert len(filt) < len(plain) / 2
        # the stream really uses non-zero filter types
        raw = codecs.zlib.decompress(
            filt[filt.find(b"IDAT") + 4 : filt.rfind(b"IEND") - 8]
        )
        stride = 1 + 64 * 3
        if not interlace:
            types = {raw[i] for i in range(0, len(raw), stride)}
            assert types - {0}
        n = codecs.encode_png(noise, interlace=interlace, filters=True)
        assert np.array_equal(codecs.decode_png(n), noise)
        assert len(n) <= len(codecs.encode_png(noise, interlace=interlace)) + 64


# ---------------------------------------------------------------------------
# 16-bit PNG decode (r5): high-byte downsample, filter unit nch*2.


def _build_png16(samples16, ctype, filters=None):
    import struct as _s
    import zlib as _z

    h, w = samples16.shape[:2]
    nch = {0: 1, 2: 3, 4: 2, 6: 4}[ctype]
    arr = samples16.reshape(h, w * nch)
    be = arr.astype(">u2").tobytes()
    rb = w * nch * 2
    rows = bytearray()
    prev = b"\x00" * rb
    for y in range(h):
        row = be[y * rb : (y + 1) * rb]
        f = filters[y] if filters else 0
        if f == 0:
            rows += b"\x00" + row
        elif f == 2:  # Up
            rows += b"\x02" + bytes(
                (a - b) & 0xFF for a, b in zip(row, prev)
            )
        elif f == 1:  # Sub at the 16-bit filter unit (nch*2 bytes)
            bpp = nch * 2
            out = bytearray()
            for x in range(rb):
                left = row[x - bpp] if x >= bpp else 0
                out.append((row[x] - left) & 0xFF)
            rows += b"\x01" + bytes(out)
        prev = row

    def chunk(tag, payload):
        c = tag + payload
        return (
            _s.pack(">I", len(payload)) + c + _s.pack(">I", _z.crc32(c))
        )

    ihdr = _s.pack(">IIBBBBB", w, h, 16, ctype, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", _z.compress(bytes(rows)))
        + chunk(b"IEND", b"")
    )


def test_png16_every_color_type_high_byte():
    rng = np.random.default_rng(21)
    s16 = rng.integers(0, 65536, size=(9, 7, 3)).astype(np.uint16)
    want = (s16 >> 8).astype(np.uint8)
    assert np.array_equal(codecs.decode_png(_build_png16(s16, 2)), want)
    rgba = rng.integers(0, 65536, size=(4, 5, 4)).astype(np.uint16)
    assert np.array_equal(
        codecs.decode_png(_build_png16(rgba, 6)),
        (rgba[:, :, :3] >> 8).astype(np.uint8),
    )
    g = rng.integers(0, 65536, size=(5, 6)).astype(np.uint16)
    assert np.array_equal(
        codecs.decode_png(_build_png16(g, 0)), (g >> 8).astype(np.uint8)
    )
    ga = rng.integers(0, 65536, size=(5, 6, 2)).astype(np.uint16)
    assert np.array_equal(
        codecs.decode_png(_build_png16(ga, 4)),
        (ga[:, :, 0] >> 8).astype(np.uint8),
    )


def test_png16_filters_use_two_byte_unit():
    """Sub/Up at 16-bit must reference the neighbor SAMPLE (nch*2 bytes
    back), not the neighbor byte — a one-byte unit would corrupt every
    filtered row."""
    rng = np.random.default_rng(22)
    s16 = rng.integers(0, 65536, size=(9, 7, 3)).astype(np.uint16)
    want = (s16 >> 8).astype(np.uint8)
    got = codecs.decode_png(
        _build_png16(s16, 2, filters=[1, 2, 0, 1, 2, 0, 1, 2, 0])
    )
    assert np.array_equal(got, want)


def test_png16_palette_still_refused():
    import struct as _s
    import zlib as _z

    ihdr = _s.pack(">IIBBBBB", 2, 2, 16, 3, 0, 0, 0)

    def chunk(tag, payload):
        c = tag + payload
        return _s.pack(">I", len(payload)) + c + _s.pack(">I", _z.crc32(c))

    bad = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", _z.compress(b"\x00" * 10))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="palette depth"):
        codecs.decode_png(bad)


# ---------------------------------------------------------------------------
# BMP 8bpp palette + BI_RLE8 (r5).


def test_bmp_rle8_roundtrip_and_escapes():
    rng = np.random.default_rng(14)
    pal = rng.integers(0, 256, size=(256, 3)).astype(np.uint8)
    idx = (
        np.repeat(rng.integers(0, 256, size=(23, 9)), 4, axis=1)[:, :31]
        .astype(np.uint8)
    )
    enc = encode_bmp_rle8(idx, pal)
    assert np.array_equal(codecs.decode_bmp(enc), pal[idx])
    assert codecs.sniff_header(enc[:64]) == ("bmp", 31, 23)
    # delta escape: skipped pixels stay palette[0]
    body = bytes([2, 7, 0, 2, 3, 0, 2, 9, 0, 1])  # run, delta(3,0), run, EOB
    pal2 = np.zeros((256, 3), np.uint8)
    pal2[7] = (1, 2, 3)
    pal2[9] = (4, 5, 6)
    hdr = encode_bmp_rle8(np.zeros((1, 8), np.uint8), pal2)
    data_off = int.from_bytes(hdr[10:14], "little")
    crafted = bytearray(hdr[:data_off]) + body
    import struct as _s

    _s.pack_into("<ii", crafted, 18, 8, 1)  # w=8, h=1 bottom-up
    got = codecs.decode_bmp(bytes(crafted))
    want = np.zeros((1, 8, 3), np.uint8)
    want[0, 0:2] = (1, 2, 3)
    want[0, 5:7] = (4, 5, 6)
    assert np.array_equal(got, want)


def test_bmp_rle8_absolute_mode():
    """Absolute-mode packets (escape n>=3) carry literal indices and
    pad to a word boundary — decode a hand-built stream."""
    pal = np.zeros((256, 3), np.uint8)
    for i in range(10):
        pal[i] = (i, i * 2, i * 3)
    base = encode_bmp_rle8(np.zeros((1, 8), np.uint8), pal)
    data_off = int.from_bytes(base[10:14], "little")
    # absolute run of 5 (odd -> 1 pad byte), then a 3-run, then EOL+EOB
    body = bytes([0, 5, 1, 2, 3, 4, 5, 0, 3, 9, 0, 0, 0, 1])
    crafted = bytearray(base[:data_off]) + body
    import struct as _s

    _s.pack_into("<ii", crafted, 18, 8, 1)
    got = codecs.decode_bmp(bytes(crafted))
    want = pal[np.array([[1, 2, 3, 4, 5, 9, 9, 9]], np.uint8)]
    assert np.array_equal(got, want)


def test_bmp_8bpp_uncompressed_palette():
    rng = np.random.default_rng(15)
    pal = rng.integers(0, 256, size=(256, 3)).astype(np.uint8)
    idx = rng.integers(0, 256, size=(6, 7)).astype(np.uint8)
    # build: take the RLE encoder's header/palette, swap compression 0
    # and a padded raw raster
    base = encode_bmp_rle8(idx, pal)
    data_off = int.from_bytes(base[10:14], "little")
    stride = (7 + 3) & ~3
    raster = np.zeros((6, stride), np.uint8)
    raster[:, :7] = idx[::-1]
    crafted = bytearray(base[:data_off]) + raster.tobytes()
    import struct as _s

    _s.pack_into("<I", crafted, 30, 0)  # BI_RGB
    _s.pack_into("<I", crafted, 34, raster.size)
    got = codecs.decode_bmp(bytes(crafted))
    assert np.array_equal(got, pal[idx])


def test_ico_core_header_dib_decodes():
    """BITMAPCOREHEADER (12-byte, 16-bit dims) DIB entry — the Win2.x
    legacy some ancient favicons carry (r5; previously refused)."""
    import struct as _s

    rng = np.random.default_rng(16)
    px = rng.integers(0, 256, size=(8, 6, 3)).astype(np.uint8)
    h, w = px.shape[:2]
    stride = (w * 3 + 3) & ~3
    raster = np.zeros((h, stride), np.uint8)
    raster[:, : w * 3] = px[::-1, :, ::-1].reshape(h, -1)  # bottom-up BGR
    dib = _s.pack("<Ihh HH".replace(" ", ""), 12, w, h * 2, 1, 24)
    payload = dib + raster.tobytes()
    ico = (
        b"\x00\x00\x01\x00\x01\x00"
        + bytes([w, h, 0, 0]) + _s.pack("<HH", 1, 24)
        + _s.pack("<II", len(payload), 22)
        + payload
    )
    out = codecs.decode_ico(ico)
    assert len(out) == 1 and np.array_equal(out[0], px)
    assert np.array_equal(codecs.decode(ico), px)
    # still refuses unknown in-between header sizes
    bad = bytearray(ico)
    _s.pack_into("<I", bad, 22, 16)
    with pytest.raises(NotImplementedError, match="header size 16"):
        codecs.decode_ico(bytes(bad))


# -- fixture encoder (BI_RLE8 BMP) ---------------------------------------


def encode_bmp_rle8(
    indices: np.ndarray, palette: np.ndarray
) -> bytes:
    """8-bit index plane HxW + RGB palette (<=256x3) -> BI_RLE8 BMP
    (r5 fixture encoder): per bottom-up row, maximal runs as (count,
    index) pairs, end-of-line after each row, end-of-bitmap last."""
    h, w = indices.shape
    assert indices.dtype == np.uint8
    n_pal, c = palette.shape
    assert c == 3 and n_pal <= 256 and palette.dtype == np.uint8
    body = bytearray()
    for row in indices[::-1]:  # bottom-up
        x = 0
        while x < w:
            run = 1
            while x + run < w and run < 255 and row[x + run] == row[x]:
                run += 1
            body += bytes([run, int(row[x])])
            x += run
        body += b"\x00\x00"  # end of line
    body += b"\x00\x01"  # end of bitmap
    pal_quads = bytearray()
    for r, g, b in palette:
        pal_quads += bytes([b, g, r, 0])
    pal_quads += b"\x00" * 4 * (256 - n_pal)
    data_off = 14 + 40 + 4 * 256
    out = b"BM" + struct.pack(
        "<IHHI", data_off + len(body), 0, 0, data_off
    )
    out += struct.pack(
        "<IiiHHIIiiII",
        40, w, h, 1, 8, 1, len(body), 2835, 2835, 256, 0,
    )
    return out + bytes(pal_quads) + bytes(body)


# -- inflate bound (decompression bombs) ----------------------------------


def _zeros_stream(n: int) -> bytes:
    """zlib stream of `n` zero bytes, built without holding them."""
    c = zlib.compressobj(9)
    chunk = bytes(1 << 22)
    parts = [c.compress(chunk) for _ in range(n // len(chunk))]
    return b"".join(parts) + c.flush()


def _png_1x1(idat: bytes, w: int = 1, h: int = 1) -> bytes:
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        codecs._PNG_SIG + codecs._chunk(b"IHDR", ihdr)
        + codecs._chunk(b"IDAT", idat) + codecs._chunk(b"IEND", b"")
    )


def _qimg(payload: bytes, w: int = 1, h: int = 1) -> bytes:
    return b"QIMG" + struct.pack(">IIB", w, h, 4) + payload


def test_png_and_qimg_bombs_fail_within_a_few_mb():
    # 400 MB of zeros behind headers that declare a 1x1 image
    bomb = _zeros_stream(100 << 22)
    assert len(bomb) < 500_000
    for payload in (_png_1x1(bomb), _qimg(bomb)):
        tracemalloc.start()
        try:
            with pytest.raises(ValueError):
                codecs.decode(payload)
            peak = tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()
        assert peak < 8 << 20, peak


def test_raw_size_over_the_bound_is_refused_before_inflating(monkeypatch):
    # 32768 x 32768 RGB is 3.2 GB raw, over codecs._MAX_RAW_BYTES
    def no_inflate(*a, **k):
        raise AssertionError("inflated a stream whose header is over the bound")

    small = zlib.compress(bytes(16))
    monkeypatch.setattr(zlib, "decompressobj", no_inflate)
    monkeypatch.setattr(zlib, "decompress", no_inflate)
    for payload in (_png_1x1(small, 1 << 15, 1 << 15), _qimg(small, 1 << 15, 1 << 15)):
        with pytest.raises(ValueError, match="exceeds"):
            codecs.decode(payload)


def _jpeg_frame_header(sof: int, w: int, h: int) -> bytes:
    """SOI + a 3-component SOFn declaring w x h + EOI: no tables, no scan."""
    comps = bytes([1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1])
    payload = struct.pack(">BHHB", 8, h, w, 3) + comps
    return (
        b"\xff\xd8" + bytes([0xFF, sof]) + struct.pack(">H", len(payload) + 2)
        + payload + b"\xff\xd9"
    )


def _apng_header(w: int, h: int) -> bytes:
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        codecs._PNG_SIG + codecs._chunk(b"IHDR", ihdr)
        + codecs._chunk(b"acTL", struct.pack(">II", 1, 0))
        + codecs._chunk(b"IEND", b"")
    )


def _gif_header(w: int, h: int) -> bytes:
    """A 20-byte GIF: logical screen w x h, a 2-color table, no image."""
    return b"GIF89a" + struct.pack("<HHBBB", w, h, 0x80, 0, 0) + bytes(6) + b"\x3b"


def _bmp_rle8_header(w: int, h: int) -> bytes:
    """A 1,080-byte BI_RLE8 BMP: zero palette, then end-of-bitmap."""
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 1, 0, 0, 0, 0, 0)
    off = 14 + 40 + 1024
    return (
        b"BM" + struct.pack("<IHHI", off + 2, 0, 0, off) + info + bytes(1024)
        + b"\x00\x01"
    )


def _tiff_tiled_header(w: int, h: int) -> bytes:
    """A little-endian RGB TIFF whose one w x h tile has 0 bytes."""
    tags = [
        (256, 4, w), (257, 4, h), (262, 3, 2), (277, 3, 3),
        (322, 4, w), (323, 4, h), (324, 4, 8), (325, 4, 0),
    ]
    ifd = struct.pack("<H", len(tags)) + b"".join(
        struct.pack("<HHII", tag, typ, 1, v) for tag, typ, v in tags
    )
    return b"II*\x00" + struct.pack("<I", 8) + ifd + bytes(4)


@pytest.mark.parametrize(
    "kind", ["sof0", "sof2", "apng", "gif", "bmp_rle8", "tiff_tiled"]
)
def test_oversized_frame_headers_fail_within_a_few_mb(kind):
    """A header that declares 65535 x 65535 is refused before a plane or
    canvas is allocated."""
    from webcollector_spark import apng

    headers = {
        "gif": _gif_header, "bmp_rle8": _bmp_rle8_header, "tiff_tiled": _tiff_tiled_header
    }
    if kind == "apng":
        payload, decode = _apng_header(65535, 65535), lambda p: list(apng.decode_apng(p))
    elif kind in headers:
        payload, decode = headers[kind](65535, 65535), codecs.decode
    else:
        sof = 0xC0 if kind == "sof0" else 0xC2
        payload, decode = _jpeg_frame_header(sof, 65535, 65535), codecs.decode
    tracemalloc.start()
    try:
        with pytest.raises(ValueError, match="exceeds"):
            decode(payload)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 4 << 20, peak

