"""Image codecs + pixel invariants (pure numpy/zlib; no PIL in sandbox).

The graft's payload is image+caption rows (BASELINE.json input_hint).
Per-row invariant: decoded pixels allclose vs ground truth — exact for
lossless, PSNR >= 40 dB for lossy.

Two codecs:

* **PNG** — a real, minimal, spec-conformant RGB8 PNG encoder/decoder
  (signature + IHDR + IDAT(zlib, filter 0) + IEND). Lossless: decode is
  bit-exact, PSNR = inf.
* **JPEG** — a real pure-numpy baseline JPEG encoder/decoder
  (`webcollector_spark.jpeg`: DCT + canonical Huffman + byte stuffing
  + restart intervals), dispatched on the 0xFFD8 magic — real
  compressed bytes flow through the decode operators end to end.
* **QIMG** — the original *deterministic stand-in for JPEG* (quantize
  to steps of Q=4, max abs error 2 => PSNR ~46.9 dB, zlib): kept as
  the fast lossy codec where tests pin its exact bytes; every call
  site dispatches through this module, so swapping codecs is one file.

Everything here is deterministic (no RNG) and vectorized (numpy), so it
is safe inside Arrow-batched pandas UDFs.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_QIMG_MAGIC = b"QIMG"
_QIMG_Q = 4  # quantization step; max reconstruction error Q/2


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


#: Adam7 pass grid (PNG spec §8.2): (x0, y0, dx, dy) per pass. The
#: first pass carries 1/64 of the pixels — the interlaced format's
#: whole point is an early preview, same idea as progressive JPEG's
#: DC scan.
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _filter_scanlines(sub: np.ndarray) -> bytes:
    """Per-row adaptive filtering (libpng's minimum-sum-of-absolute-
    differences heuristic): try all five spec filters on each scanline
    and keep the one whose filtered bytes, as signed residuals, have
    the smallest magnitude sum — the standard proxy for DEFLATE size."""
    ph, pw = sub.shape[:2]
    flat = sub.reshape(ph, pw * 3).astype(np.int16)
    left = np.zeros_like(flat)
    left[:, 3:] = flat[:, :-3]
    up = np.zeros_like(flat)
    up[1:] = flat[:-1]
    upleft = np.zeros_like(flat)
    upleft[1:, 3:] = flat[:-1, :-3]
    p = left + up - upleft
    pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - upleft)
    paeth = np.where(
        (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, upleft)
    )
    candidates = [
        (0, flat),
        (1, flat - left),
        (2, flat - up),
        (3, flat - ((left + up) >> 1)),
        (4, flat - paeth),
    ]
    out = bytearray()
    for y in range(ph):
        best = min(
            candidates,
            key=lambda t: int(np.abs(((t[1][y] + 128) % 256) - 128).sum()),
        )
        out.append(best[0])
        out += (best[1][y] & 0xFF).astype(np.uint8).tobytes()
    return bytes(out)


def encode_png(
    pixels: np.ndarray, interlace: bool = False, filters: bool = False
) -> bytes:
    """RGB8 HxWx3 array -> PNG bytes (zlib level 6). filters=True
    turns on per-row adaptive filtering (Sub/Up/Average/Paeth chosen
    by the libpng MSAD heuristic) — real encoders' behavior, and a
    2-4x byte saving on smooth content; the default stays filter 0 so
    committed fixture bytes (compression-stats oracles) are stable.
    interlace=True writes Adam7: seven sub-images, each filtered
    independently, concatenated into one zlib stream (spec §8.2)."""
    h, w, c = pixels.shape
    assert c == 3 and pixels.dtype == np.uint8
    subs = (
        [pixels]
        if not interlace
        else [
            pixels[y0::dy, x0::dx]
            for x0, y0, dx, dy in _ADAM7
            if pixels[y0::dy, x0::dx].size
        ]
    )
    parts = []
    for sub in subs:
        if filters:
            parts.append(_filter_scanlines(sub))
        else:
            ph, pw = sub.shape[:2]
            raw = np.empty((ph, 1 + pw * 3), dtype=np.uint8)
            raw[:, 0] = 0
            raw[:, 1:] = sub.reshape(ph, pw * 3)
            parts.append(raw.tobytes())
    payload = b"".join(parts)
    ihdr = struct.pack(
        ">IIBBBBB", w, h, 8, 2, 0, 0, 1 if interlace else 0
    )  # 8-bit, color type 2 (RGB)
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(payload, 6))
        + _chunk(b"IEND", b"")
    )


def _paeth(a: int, b: int, c: int) -> int:
    """Paeth predictor (PNG spec §9.4): nearest of left/up/up-left to
    the linear estimate a+b-c, ties broken left, up, up-left."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _unfilter(raw: np.ndarray, h: int, w: int, bpp: int = 3) -> np.ndarray:
    """Invert PNG scanline filtering (all 5 types). `w` is the SAMPLE
    count per row and `bpp` the filter unit in bytes (spec §9: 1 for
    gray/palette-8, 2 gray+alpha, 3 RGB, 4 RGBA; sub-byte palette rows
    pass w = rowbytes with bpp=1). Filters 0-2 vectorize (copy /
    per-lane cumsum / +prev row); 3-4 need the left neighbor so they
    fall back to a per-byte walk — correct-first: our own encoder
    emits filter 0 (the hot path stays vectorized), types 1-4 appear
    only in externally-produced PNGs."""
    rb = w * bpp
    out = np.zeros((h, rb), dtype=np.uint8)
    prev = np.zeros(rb, dtype=np.uint8)
    for y in range(h):
        ftype = int(raw[y, 0])
        line = raw[y, 1:]
        if ftype == 0:
            rec = line.copy()
        elif ftype == 1:  # Sub: cumsum per bpp-byte lane, mod 256
            rec = np.cumsum(
                line.reshape(w, bpp).astype(np.uint64), axis=0
            ).astype(np.uint8).reshape(-1)
        elif ftype == 2:  # Up
            rec = line + prev
        elif ftype in (3, 4):
            rec = np.empty(rb, dtype=np.uint8)
            for x in range(rb):
                left = int(rec[x - bpp]) if x >= bpp else 0
                up = int(prev[x])
                if ftype == 3:  # Average
                    rec[x] = (int(line[x]) + ((left + up) >> 1)) & 0xFF
                else:  # Paeth
                    ul = int(prev[x - bpp]) if x >= bpp else 0
                    rec[x] = (int(line[x]) + _paeth(left, up, ul)) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ftype} on row {y}")
        out[y] = rec
        prev = rec
    return out


#: channels per PNG color type (spec §11.2.2)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes -> pixels: every color type the web serves — RGB (2),
    RGBA (6, alpha dropped), grayscale (0, returns HxW like the JPEG
    path), gray+alpha (4, alpha dropped), palette (3, at ALL sub-byte
    depths 1/2/4/8) — at 8-bit AND 16-bit depths (16-bit downsamples
    via the big-endian high byte, r5), both interlace methods (none +
    Adam7) and all five scanline filter types. Alpha is dropped rather
    than composited (the crawl treats pixels as content identity, not
    presentation)."""
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos, w, h = 8, 0, 0
    depth = ctype = interlace = 0
    plte = b""
    idat = bytearray()
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            w, h, depth, ctype, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", payload[:13]
            )
            if ctype not in _PNG_CHANNELS:
                raise ValueError(f"bad PNG color type {ctype}")
            if ctype == 3:
                if depth not in (1, 2, 4, 8):
                    raise ValueError(f"bad palette depth {depth}")
            elif depth not in (8, 16):
                raise ValueError(f"bad PNG bit depth {depth}")
            if interlace not in (0, 1):
                raise ValueError(f"bad PNG interlace method {interlace}")
        elif tag == b"PLTE":
            plte = bytes(payload)
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
    nch = _PNG_CHANNELS[ctype]

    def rowbytes(pw: int) -> int:
        return (pw * nch * depth + 7) // 8

    def region(raw: np.ndarray, ph: int, pw: int) -> np.ndarray:
        """(ph, 1+rowbytes) filtered rows -> (ph, pw, nch) samples."""
        if depth == 8:
            if (raw[:, 0] == 0).all():  # filter-None: fully vectorized
                rec = raw[:, 1:].copy()
            else:
                rec = _unfilter(raw, ph, pw, nch)
            return rec.reshape(ph, pw, nch)
        if depth == 16:
            # 16-bit samples (r5): the filter unit is nch*2 bytes
            # (spec §9); downsample to 8-bit via the big-endian high
            # byte — the standard presentation reduction
            if (raw[:, 0] == 0).all():
                rec = raw[:, 1:].copy()
            else:
                rec = _unfilter(raw, ph, pw, nch * 2)
            return rec.reshape(ph, pw, nch, 2)[..., 0].copy()
        # sub-byte palette: filters act on the PACKED bytes (bpp=1)
        rb = rowbytes(pw)
        rec = _unfilter(raw, ph, rb, 1)
        bits = np.unpackbits(rec, axis=1).reshape(ph, rb * 8 // depth, depth)
        weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
        vals = (bits * weights).sum(axis=2).astype(np.uint8)
        return vals[:, :pw, None]

    stream = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    if not interlace:
        samples = region(stream.reshape(h, 1 + rowbytes(w)), h, w)
    else:
        # Adam7 (spec §8.2): seven independently-filtered sub-images in
        # one zlib stream; empty passes contribute nothing
        samples = np.zeros((h, w, nch), dtype=np.uint8)
        p = 0
        for x0, y0, dx, dy in _ADAM7:
            ph = (h - y0 + dy - 1) // dy
            pw = (w - x0 + dx - 1) // dx
            if ph == 0 or pw == 0:
                continue
            n = ph * (1 + rowbytes(pw))
            raw = stream[p : p + n].reshape(ph, 1 + rowbytes(pw))
            p += n
            samples[y0::dy, x0::dx] = region(raw, ph, pw)
        if p != len(stream):
            raise ValueError("interlaced PNG stream length mismatch")

    if ctype == 2:
        return samples
    if ctype == 6:
        return samples[..., :3].copy()
    if ctype in (0, 4):
        return samples[..., 0].copy()
    # palette: index -> PLTE triple; out-of-range indices are corrupt
    pal = np.frombuffer(plte, dtype=np.uint8)
    if len(pal) < 3 or len(pal) % 3:
        raise ValueError("palette PNG without a valid PLTE chunk")
    pal = pal.reshape(-1, 3)
    idx = samples[..., 0]
    if int(idx.max(initial=0)) >= len(pal):
        raise ValueError("palette index out of range")
    return pal[idx]


def encode_lossy(pixels: np.ndarray) -> bytes:
    """Deterministic fake-JPEG (see module docstring). Quantize -> zlib."""
    h, w, c = pixels.shape
    q = (pixels // _QIMG_Q).astype(np.uint8)
    return (
        _QIMG_MAGIC
        + struct.pack(">IIB", w, h, _QIMG_Q)
        + zlib.compress(q.tobytes(), 6)
    )


def decode_qimg(data: bytes) -> np.ndarray:
    w, h, q = struct.unpack(">IIB", data[4:13])
    arr = np.frombuffer(zlib.decompress(data[13:]), dtype=np.uint8).reshape(h, w, 3)
    return np.minimum(arr.astype(np.uint16) * q + q // 2, 255).astype(np.uint8)


def encode_bmp(pixels: np.ndarray, top_down: bool = False) -> bytes:
    """RGB8 HxWx3 -> Windows BMP (BITMAPINFOHEADER, 24bpp BI_RGB).
    Lossless: BGR byte order, rows padded to 4 bytes, stored bottom-up
    per the format's default — or top-down (negative biHeight) when
    ``top_down``, the other layout real encoders emit."""
    h, w, c = pixels.shape
    assert c == 3 and pixels.dtype == np.uint8
    pad = (-w * 3) % 4
    bgr = pixels[..., ::-1]
    rows = bgr if top_down else bgr[::-1]
    if pad:
        rows = np.concatenate(
            [rows.reshape(h, -1), np.zeros((h, pad), np.uint8)], axis=1
        )
    raster = rows.tobytes()
    data_off = 14 + 40
    out = b"BM" + struct.pack("<IHHI", data_off + len(raster), 0, 0, data_off)
    out += struct.pack(
        "<IiiHHIIiiII",
        40, w, -h if top_down else h, 1, 24, 0, len(raster),
        2835, 2835, 0, 0,
    )
    return out + raster


def _bmp_palette(data: bytes, bisize: int, clr_used: int) -> np.ndarray:
    """Color table after the info header: BGRX quads -> (n, 3) RGB."""
    n = clr_used or 256
    off = 14 + bisize
    raw = np.frombuffer(data, np.uint8, n * 4, off).reshape(n, 4)
    return raw[:, 2::-1].copy()  # BGR -> RGB


def _bmp_rle8(data: bytes, off: int, w: int, h: int) -> np.ndarray:
    """BI_RLE8 (r5): (count, index) run pairs; escape 0 -> 0 end-of-
    line, 1 end-of-bitmap, 2 delta(dx, dy), n>=3 absolute mode of n
    indices word-padded. Rows are bottom-up; skipped pixels stay 0."""
    idx = np.zeros((h, w), np.uint8)
    x = y = 0
    i = off
    while i + 1 < len(data):
        cnt, val = data[i], data[i + 1]
        i += 2
        if cnt:  # encoded run
            end = min(x + cnt, w)
            if y < h:
                idx[y, x:end] = val
            x = end
            continue
        if val == 0:  # end of line
            x, y = 0, y + 1
        elif val == 1:  # end of bitmap
            break
        elif val == 2:  # delta
            if i + 1 >= len(data):
                raise ValueError("BMP RLE8 delta truncated")
            x += data[i]
            y += data[i + 1]
            i += 2
        else:  # absolute mode: val literal indices, word-aligned
            if i + val > len(data):
                raise ValueError("BMP RLE8 absolute run truncated")
            end = min(x + val, w)
            if y < h:
                idx[y, x:end] = np.frombuffer(
                    data, np.uint8, end - x, i
                )
            x += val
            i += val + (val & 1)
    return idx[::-1]  # bottom-up


def decode_bmp(data: bytes) -> np.ndarray:
    """BMP bytes -> RGB8 HxWx3. Accepts BITMAPINFOHEADER and the
    larger V4/V5 headers (same 40-byte prefix), 24bpp and 32bpp
    BI_RGB, 8bpp palette BI_RGB and BI_RLE8 (r5), bottom-up (positive
    height) and top-down (negative)."""
    if data[:2] != b"BM":
        raise ValueError("not a BMP")
    (data_off,) = struct.unpack("<I", data[10:14])
    (bisize,) = struct.unpack("<I", data[14:18])
    if bisize < 40:
        raise NotImplementedError(f"BMP core header ({bisize}) not supported")
    w, hh, _planes, bpp, compression = struct.unpack("<iiHHI", data[18:34])
    (clr_used,) = struct.unpack("<I", data[46:50])
    top_down = hh < 0
    h = abs(hh)
    if compression == 1:  # BI_RLE8
        if bpp != 8:
            raise ValueError(f"BI_RLE8 requires 8bpp, got {bpp}")
        if top_down:
            raise ValueError("RLE BMPs cannot be top-down")
        pal = _bmp_palette(data, bisize, clr_used)
        idx = _bmp_rle8(data, data_off, w, h)
        if int(idx.max(initial=0)) >= len(pal):
            raise ValueError("BMP palette index out of range")
        return pal[idx]
    if compression != 0:
        raise NotImplementedError(f"BMP compression {compression} not supported")
    if bpp == 8:  # uncompressed palette (r5)
        pal = _bmp_palette(data, bisize, clr_used)
        stride = (w + 3) & ~3
        if data_off + stride * h > len(data):
            raise ValueError("BMP raster truncated")
        raster = np.frombuffer(data, np.uint8, stride * h, data_off)
        idx = raster.reshape(h, stride)[:, :w]
        if int(idx.max(initial=0)) >= len(pal):
            raise ValueError("BMP palette index out of range")
        rgb = pal[idx]
        return np.ascontiguousarray(rgb if top_down else rgb[::-1])
    if bpp not in (24, 32):
        raise NotImplementedError(f"{bpp}bpp BMP not supported")
    nch = bpp // 8
    stride = (w * nch + 3) & ~3
    if data_off + stride * h > len(data):
        raise ValueError("BMP raster truncated")
    raster = np.frombuffer(data, np.uint8, stride * h, data_off)
    rows = raster.reshape(h, stride)[:, : w * nch].reshape(h, w, nch)
    rgb = rows[..., 2::-1]  # BGR(A) -> RGB, alpha dropped
    if not top_down:
        rgb = rgb[::-1]
    return np.ascontiguousarray(rgb)


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


def encode_ico(images: list[np.ndarray], png_from: int = 64) -> bytes:
    """RGB8 images (each <= 256x256) -> Windows ICO favicon.

    Real-world layout: entries at least ``png_from`` px wide are stored
    as embedded PNG (the modern convention for large sizes), smaller
    ones as the classic headerless DIB — a BITMAPINFOHEADER whose
    biHeight is DOUBLED to cover the 24bpp bottom-up XOR raster plus
    the 1bpp AND (transparency) mask, rows padded to 32 bits."""
    if not images:
        raise ValueError("need at least one image")
    entries = []
    for px in images:
        h, w, c = px.shape
        assert c == 3 and px.dtype == np.uint8
        if w > 256 or h > 256:
            raise ValueError("ICO entries are at most 256x256")
        if w >= png_from:
            entries.append((w, h, encode_png(px)))
            continue
        xor_pad = (-w * 3) % 4
        xor_rows = px[::-1, :, ::-1].reshape(h, -1)
        if xor_pad:
            xor_rows = np.concatenate(
                [xor_rows, np.zeros((h, xor_pad), np.uint8)], axis=1
            )
        and_stride = ((w + 31) // 32) * 4  # 1bpp rows padded to 32 bits
        and_mask = np.zeros((h, and_stride), np.uint8)  # fully opaque
        dib = struct.pack(
            "<IiiHHIIiiII",
            40, w, h * 2, 1, 24, 0,
            xor_rows.size + and_mask.size, 0, 0, 0, 0,
        )
        entries.append((w, h, dib + xor_rows.tobytes() + and_mask.tobytes()))
    out = struct.pack("<HHH", 0, 1, len(entries))
    offset = 6 + 16 * len(entries)
    directory = b""
    payloads = b""
    for w, h, payload in entries:
        directory += struct.pack(
            "<BBBBHHII",
            w % 256, h % 256, 0, 0, 1, 24, len(payload), offset,
        )
        offset += len(payload)
        payloads += payload
    return out + directory + payloads


def decode_ico(data: bytes) -> list[np.ndarray]:
    """ICO bytes -> list of RGB8 HxWx3, one per directory entry.
    Embedded PNG entries route through decode_png; DIB entries parse
    the doubled-height BITMAPINFOHEADER (24/32bpp BI_RGB; the AND mask
    is skipped — this engine's pixel model is RGB)."""
    if len(data) < 6 or data[:4] != b"\x00\x00\x01\x00":
        raise ValueError("not an ICO")
    (count,) = struct.unpack("<H", data[4:6])
    images = []
    for i in range(count):
        entry = data[6 + 16 * i : 6 + 16 * (i + 1)]
        size, offset = struct.unpack("<II", entry[8:16])
        payload = data[offset : offset + size]
        if len(payload) < size:
            raise ValueError(f"ICO entry {i} payload truncated")
        if payload[:8] == _PNG_SIG:
            images.append(decode_png(payload))
            continue
        (bisize,) = struct.unpack("<I", payload[:4])
        if bisize == 12:
            # BITMAPCOREHEADER (r5): the Win2.x legacy layout some very
            # old favicons still carry — 16-bit dims, no compression
            # field (always BI_RGB)
            w, hh, _planes, bpp = struct.unpack("<hhHH", payload[4:12])
            compression = 0
        elif bisize < 40:
            raise NotImplementedError(
                f"ICO DIB header size {bisize} not supported"
            )
        else:
            w, hh, _planes, bpp, compression = struct.unpack(
                "<iiHHI", payload[4:20]
            )
        if compression != 0 or bpp not in (24, 32):
            raise NotImplementedError(
                f"ICO DIB bpp={bpp} compression={compression} not supported"
            )
        h = abs(hh) // 2  # doubled height covers XOR + AND masks
        nch = bpp // 8
        stride = (w * nch + 3) & ~3
        raster = np.frombuffer(payload, np.uint8, stride * h, bisize)
        rows = raster.reshape(h, stride)[:, : w * nch].reshape(h, w, nch)
        images.append(np.ascontiguousarray(rows[::-1, :, 2::-1]))
    if not images:
        raise ValueError("empty ICO directory")
    return images


def decode(data: bytes) -> np.ndarray:
    """Dispatch on magic bytes."""
    if data[:8] == _PNG_SIG:
        return decode_png(data)
    if data[:4] == _QIMG_MAGIC:
        return decode_qimg(data)
    if data[:2] == b"\xff\xd8":
        from webcollector_spark import jpeg

        return jpeg.decode_baseline(data)
    if data[:4] == b"GIF8":
        from webcollector_spark import gif

        return gif.decode_gif87a(data)
    if data[:2] == b"BM":
        return decode_bmp(data)
    if data[:4] == b"\x00\x00\x01\x00":
        # favicon convention: serve the largest entry
        return max(decode_ico(data), key=lambda im: im.shape[0] * im.shape[1])
    if data[:4] in (b"II*\x00", b"MM\x00*"):
        from webcollector_spark import tiff

        return tiff.decode_tiff(data)
    if data[:4] == b"RIFF" and data[8:12] == b"WEBP":
        from webcollector_spark import webp

        return webp.decode_webp_lossless(data)
    raise ValueError("unknown image container")


def sniff_header(data: bytes) -> tuple[str, int | None, int | None]:
    """Container format + dimensions from HEADER BYTES ONLY — no pixel
    decode, no decompression. Returns (fmt, w, h); fmt "unknown" and
    None dims when no container matches or the header is truncated.

    This is the 10^9-image scale move: a curation pipeline filters by
    format/size/aspect BEFORE paying for decode, and the whole decision
    reads a few dozen bytes per row (JPEG worst-case: a marker walk to
    the first SOF). All parsers below accept a PREFIX of the payload —
    callers slice the binary column JVM-side so only ~4 KB per row ever
    crosses the Arrow boundary.

    Containers: PNG (IHDR), baseline JPEG (marker walk to SOFn), GIF87a/
    89a (logical screen descriptor), BMP (info header, |height| for
    top-down files), QIMG (the repo's labeled fast lossy stand-in),
    PPM P6 (ascii header).
    """
    if data[:8] == _PNG_SIG and len(data) >= 24 and data[12:16] == b"IHDR":
        w, h = struct.unpack(">II", data[16:24])
        return "png", int(w), int(h)
    if data[:4] == _QIMG_MAGIC and len(data) >= 12:
        w, h = struct.unpack(">II", data[4:12])
        return "qimg", int(w), int(h)
    if data[:6] in (b"GIF87a", b"GIF89a") and len(data) >= 10:
        w, h = struct.unpack("<HH", data[6:10])
        return "gif", int(w), int(h)
    if data[:2] == b"BM" and len(data) >= 26:
        w, hh = struct.unpack("<ii", data[18:26])
        return "bmp", int(w), int(abs(hh))  # negative height = top-down
    if data[:4] in (b"II*\x00", b"MM\x00*"):
        # TIFF: dims live in the first IFD, which the writer may place
        # anywhere — only report them when the IFD fits in the prefix
        from webcollector_spark import tiff as _tiff

        try:
            e = "<" if data[:2] == b"II" else ">"
            (ifd_off,) = struct.unpack_from(e + "I", data, 4)
            from webcollector_spark.exif import _read_ifd

            ifd = _read_ifd(data, ifd_off, e)
            return (
                "tiff",
                _tiff._tag_uint(ifd, 256, e),
                _tiff._tag_uint(ifd, 257, e),
            )
        except (ValueError, struct.error):
            return "tiff", None, None
    if data[:4] == b"RIFF" and data[8:12] == b"WEBP" and len(data) >= 25:
        # VP8L: 14-bit w-1 / h-1 straddle the bytes after the 0x2F
        # signature (LSB-first packing)
        if data[12:16] == b"VP8L" and data[20:21] == b"\x2f":
            b0, b1, b2, b3 = data[21:25]
            w = 1 + (b0 | ((b1 & 0x3F) << 8))
            h = 1 + ((b1 >> 6) | (b2 << 2) | ((b3 & 0x0F) << 10))
            return "webp", w, h
        return "webp", None, None
    if data[:4] == b"\x00\x00\x01\x00" and len(data) >= 8:
        # ICO: report the largest directory entry (0 means 256)
        (count,) = struct.unpack("<H", data[4:6])
        best = None
        for i in range(count):
            e = data[6 + 16 * i : 6 + 16 * i + 2]
            if len(e) < 2:
                break
            w, h = e[0] or 256, e[1] or 256
            if best is None or w * h > best[0] * best[1]:
                best = (w, h)
        if best:
            return "ico", best[0], best[1]
        return "ico", None, None
    if data[:2] == b"\xff\xd8":
        # marker walk: skip fill bytes and non-SOF segments until a
        # start-of-frame carries the dimensions (ITU T.81 B.2.2)
        pos = 2
        while pos + 4 <= len(data):
            if data[pos] != 0xFF:
                break
            while pos < len(data) and data[pos] == 0xFF:
                pos += 1  # fill bytes
            if pos >= len(data):
                break
            marker = data[pos]
            pos += 1
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                continue  # standalone markers, no length field
            if pos + 2 > len(data):
                break
            (seglen,) = struct.unpack(">H", data[pos : pos + 2])
            is_sof = 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC)
            if is_sof and pos + 7 <= len(data):
                h, w = struct.unpack(">HH", data[pos + 3 : pos + 7])
                return "jpeg", int(w), int(h)
            if marker == 0xDA:  # SOS: entropy data follows, SOF was missed
                break
            pos += seglen
        return "jpeg", None, None
    if data[:2] == b"P6":
        # ascii header: "P6" <ws> width <ws> height <ws> maxval
        fields: list[int] = []
        pos, cur = 2, ""
        while pos < len(data) and len(fields) < 2:
            ch = chr(data[pos])
            if ch == "#":  # comment to end of line
                while pos < len(data) and data[pos] != 0x0A:
                    pos += 1
            elif ch.isdigit():
                cur += ch
            elif ch.isspace():
                if cur:
                    fields.append(int(cur))
                    cur = ""
            else:
                return "ppm", None, None
            pos += 1
        if len(fields) == 2:
            return "ppm", fields[0], fields[1]
        return "ppm", None, None
    return "unknown", None, None


def dhash64(pixels: np.ndarray) -> int:
    """64-bit difference hash (gradient hash): grayscale -> 8x9
    mean-pooling -> bit per cell where the right neighbor is brighter.
    Captures local gradient structure where `phash64`'s average hash
    captures global brightness layout — the two make INDEPENDENT
    mistakes, so running both through the same blocked hamming-ball
    machinery (operators/images.py) cuts near-dup false negatives the
    way an ensemble of LSH families does. Deterministic, vectorized."""
    gray = pixels.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    h, w = gray.shape
    th, tw = (h // 8) * 8, (w // 9) * 9
    if th == 0 or tw == 0:
        return 0
    g = gray[:th, :tw].reshape(8, th // 8, 9, tw // 9).mean(axis=(1, 3))
    bits = (g[:, 1:] > g[:, :-1]).flatten()
    v = 0
    for bit in bits:
        v = (v << 1) | int(bit)
    return v - (1 << 64) if v >= (1 << 63) else v


def psnr_db(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB; inf when identical."""
    diff = a.astype(np.float64) - b.astype(np.float64)
    mse = float(np.mean(diff * diff))
    if mse == 0.0:
        return float("inf")
    return 10.0 * np.log10(255.0 * 255.0 / mse)


def phash64(pixels: np.ndarray) -> int:
    """64-bit average-hash of the decoded pixels: grayscale -> 8x8 mean
    pooling -> bit per cell above the mean. Deterministic, vectorized."""
    gray = pixels.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    h, w = gray.shape
    # trim to multiples of 8, then mean-pool to 8x8
    th, tw = (h // 8) * 8, (w // 8) * 8
    g = gray[:th, :tw].reshape(8, th // 8, 8, tw // 8).mean(axis=(1, 3))
    bits = (g > g.mean()).flatten()
    v = 0
    for bit in bits:
        v = (v << 1) | int(bit)
    # two's-complement into signed int64 range for a LongType column
    return v - (1 << 64) if v >= (1 << 63) else v


def lap_partials(pixels: np.ndarray) -> tuple[int, int, int]:
    """Integer moment partials of the 4-neighbour Laplacian over the
    integer luma plane — the sharpness (blur-gate) kernel.

    Luma is the BT.601 integer form (299 R + 587 G + 114 B, i.e. the
    float weights x1000 with no rounding), so the Laplacian response
    L = 4 g[i,j] - g[i-1,j] - g[i+1,j] - g[i,j-1] - g[i,j+1] and both
    moments are EXACT int64 (|L| <= 8*255*1000, ss <= n * L^2 < 2^63 for
    any image under ~500 Mpx). Exact integer partials make the
    downstream variance independent of partitioning and bit-reproducible
    between Spark and the DuckDB oracle — same trick as the channel
    mean/std partials. Returns (n, sum, sum-of-squares) over interior
    pixels; (0, 0, 0) when the image has no interior (h < 3 or w < 3).
    """
    g = (
        pixels[:, :, 0].astype(np.int64) * 299
        + pixels[:, :, 1].astype(np.int64) * 587
        + pixels[:, :, 2].astype(np.int64) * 114
    )
    h, w = g.shape
    if h < 3 or w < 3:
        return 0, 0, 0
    lap = (
        4 * g[1:-1, 1:-1]
        - g[:-2, 1:-1]
        - g[2:, 1:-1]
        - g[1:-1, :-2]
        - g[1:-1, 2:]
    )
    return int(lap.size), int(lap.sum()), int((lap * lap).sum())


def box_blur(pixels: np.ndarray, k: int = 5) -> np.ndarray:
    """k x k box blur (valid region, integer-rounded back to uint8) —
    the deterministic low-pass used to synthesize blurred fixtures for
    the sharpness gate. Summed-area-table form, O(h*w) regardless of k."""
    px = pixels.astype(np.float64)
    c = np.cumsum(np.cumsum(px, axis=0), axis=1)
    cp = np.zeros((px.shape[0] + 1, px.shape[1] + 1, 3))
    cp[1:, 1:] = c
    out = (cp[k:, k:] - cp[:-k, k:] - cp[k:, :-k] + cp[:-k, :-k]) / (k * k)
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


def border_geometry(pixels: np.ndarray) -> tuple[int, int, int, int]:
    """Letterbox/pillarbox geometry: consecutive constant-color lines
    from each edge (top, bottom, left, right). A line counts while it
    is entirely ONE color and that color equals the edge's first-line
    color; each edge scans independently and caps at the full
    dimension. Pure integer, no tolerance — the fixture bars are exact
    (vision-curation crop step; LAION-style pipelines strip these
    borders before training)."""

    def run(lines: np.ndarray) -> int:
        n = 0
        ref = None
        for ln in lines:
            if not (ln == ln[0]).all():
                break
            if ref is None:
                ref = ln[0].copy()
            elif (ln[0] != ref).any():
                break
            n += 1
        return n

    return (
        run(pixels),                      # rows top-down
        run(pixels[::-1]),                # rows bottom-up
        run(pixels.transpose(1, 0, 2)),   # cols left-right
        run(pixels[:, ::-1].transpose(1, 0, 2)),  # cols right-left
    )
