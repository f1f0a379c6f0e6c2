"""TIFF codec (subset) — baseline RGB, both byte orders, strips,
PackBits.

The other container the EXIF layer already half-speaks: EXIF *is* a
TIFF IFD (webcollector_spark/exif.py parses one inside JPEG APP1);
this module reuses that exact IFD reader to decode standalone TIFF
files — the format scanners/archives actually serve.

Subset (TIFF 6.0 "baseline RGB" + extensions): 8-bit RGB, chunky
planar config, strip- AND tile-organized rasters (§15: fixed-size
padded tiles, r5), palette-color photometric 3 with the 16-bit
ColorMap (r5), grayscale photometrics 0/1 incl. the WhiteIsZero
inversion (r5), little- ("II") and big-endian ("MM") files,
Compression 1 (none), 32773 (PackBits — the spec's own RLE) and 5
(LZW — TIFF's variant is MSB-first bit packing with the EarlyChange
code-width bump, the OPPOSITE byte order of GIF's LZW; both
directions implemented, including the horizontal-differencing
Predictor=2 most real LZW TIFFs use). JPEG/deflate compression,
planar config 2 and non-8-bit samples raise NotImplementedError
honestly.

Lossless both ways: decode(encode(px)) is bit-exact. Deterministic,
numpy-vectorized PackBits. Reference anchor: fetched payloads are
opaque bytes + typed metadata (model/Page.java:323-330).
"""

from __future__ import annotations

import struct

import numpy as np

from webcollector_spark.exif import _read_ifd
from webcollector_spark.jpeg import check_canvas

_TAG_WIDTH = 256
_TAG_LENGTH = 257
_TAG_BITS = 258
_TAG_COMPRESSION = 259
_TAG_PHOTOMETRIC = 262
_TAG_STRIP_OFFSETS = 273
_TAG_SPP = 277
_TAG_ROWS_PER_STRIP = 278
_TAG_STRIP_COUNTS = 279
_TAG_PLANAR = 284

_TAG_PREDICTOR = 317
_TAG_COLORMAP = 320
_TAG_TILE_WIDTH = 322
_TAG_TILE_LENGTH = 323
_TAG_TILE_OFFSETS = 324
_TAG_TILE_COUNTS = 325

_COMP_NONE = 1
_COMP_LZW = 5
_COMP_PACKBITS = 32773


def tiff_lzw_encode(data: bytes) -> bytes:
    """TIFF-variant LZW (spec §13): MSB-first bit packing (the opposite
    of GIF), 9-bit initial width, Clear=256 EOI=257, EarlyChange width
    bumps at 511/1023/2047 minus one, Clear emitted when the table
    reaches 4094."""
    out = bytearray()
    acc = nbits = 0

    def put(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)
        acc &= (1 << nbits) - 1

    width = 9
    table: dict[tuple[int, int], int] = {}
    nxt = 258
    put(256, width)  # initial Clear
    if not data:
        put(257, width)
        if nbits:
            out.append((acc << (8 - nbits)) & 0xFF)
        return bytes(out)
    prefix = data[0]
    for byte in data[1:]:
        e = table.get((prefix, byte))
        if e is not None:
            prefix = e
            continue
        put(prefix, width)
        table[(prefix, byte)] = nxt
        nxt += 1
        if nxt == (1 << width) - 1 and width < 12:  # EarlyChange
            width += 1
        if nxt >= 4094:
            put(256, width)
            table.clear()
            width, nxt = 9, 258
        prefix = byte
    put(prefix, width)
    put(257, width)  # EOI
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def tiff_lzw_decode(data: bytes, expected: int) -> bytearray:
    """Inverse of tiff_lzw_encode, KwKwK case included. Returns its
    output buffer itself, not a bytes copy of it."""
    pos = acc = nbits = 0

    def get(width: int) -> int:
        nonlocal pos, acc, nbits
        while nbits < width:
            if pos >= len(data):
                raise ValueError("TIFF LZW stream truncated")
            acc = (acc << 8) | data[pos]
            pos += 1
            nbits += 8
        nbits -= width
        v = (acc >> nbits) & ((1 << width) - 1)
        acc &= (1 << nbits) - 1  # keep only the unread bits
        return v

    out = bytearray()
    width = 9
    table: dict[int, bytes] = {}
    nxt = 258
    prev: bytes | None = None
    while len(out) < expected:
        code = get(width)
        if code == 257:  # EOI before enough output
            break
        if code == 256:  # Clear
            width, nxt, prev = 9, 258, None
            table.clear()
            continue
        if code < 256:
            entry = bytes([code])
        elif code in table:
            entry = table[code]
        elif code == nxt and prev is not None:
            entry = prev + prev[:1]  # KwKwK
        else:
            raise ValueError(f"bad TIFF LZW code {code} (next free {nxt})")
        out += entry
        if prev is not None:
            table[nxt] = prev + entry[:1]
            nxt += 1
            # EarlyChange, one entry EARLIER than the encoder: the
            # decoder's table lags the encoder by exactly one entry, so
            # when its next-free hits 2^w - 2 the NEXT code on the wire
            # was already emitted at the wider size
            if nxt == (1 << width) - 2 and width < 12:
                width += 1
        prev = entry
    if len(out) != expected:
        raise ValueError(
            f"TIFF LZW produced {len(out)} bytes, strip is {expected}"
        )
    return out


def packbits_encode(data: bytes) -> bytes:
    """TIFF PackBits: repeat packets for runs >= 3, literal packets
    (up to 128 bytes) otherwise."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        # measure the run at i
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 3:
            out.append(257 - run)  # -(run-1) as unsigned
            out.append(data[i])
            i += run
            continue
        # literal segment: until the next >=3 run or 128 bytes
        start = i
        i += run
        while i < n and i - start < 128:
            run = 1
            while i + run < n and run < 3 and data[i + run] == data[i]:
                run += 1
            if run >= 3:
                break
            i += run
        seg = data[start : min(i, start + 128)]
        i = start + len(seg)
        out.append(len(seg) - 1)
        out += seg
    return bytes(out)


def packbits_decode(data: bytes, expected: int) -> bytearray:
    """Inverse of packbits_encode; returns its output buffer itself."""
    out = bytearray()
    i = 0
    while len(out) < expected:
        if i >= len(data):
            raise ValueError("PackBits stream truncated")
        n = data[i]
        i += 1
        if n == 128:  # no-op
            continue
        if n < 128:  # literal of n+1 bytes
            if i + n + 1 > len(data):
                raise ValueError("PackBits literal truncated")
            out += data[i : i + n + 1]
            i += n + 1
        else:  # repeat next byte 257-n times
            if i >= len(data):
                raise ValueError("PackBits repeat truncated")
            out += bytes([data[i]]) * (257 - n)
            i += 1
    if len(out) != expected:
        raise ValueError("PackBits output overran strip size")
    return out


def _entry(e: str, tag: int, typ: int, count: int, value: int) -> bytes:
    if typ == 3 and count == 1:  # SHORT packed left-justified in 4 bytes
        return struct.pack(e + "HHI", tag, typ, count) + struct.pack(
            e + "HH", value, 0
        )
    return struct.pack(e + "HHII", tag, typ, count, value)


def _hdiff(strip: np.ndarray) -> np.ndarray:
    """Predictor 2: per-row per-channel horizontal differencing."""
    d = strip.astype(np.int16)
    d[:, 1:, :] -= strip[:, :-1, :].astype(np.int16)
    return (d & 0xFF).astype(np.uint8)


def encode_tiff(
    pixels: np.ndarray,
    byte_order: str = "<",
    compression: int = _COMP_NONE,
    rows_per_strip: int = 16,
    predictor: int = 1,
) -> bytes:
    """RGB8 HxWx3 -> baseline TIFF bytes. byte_order '<' writes an
    'II' (Intel) file, '>' an 'MM' (Motorola) one; compression is 1
    (none), 5 (LZW) or 32773 (PackBits), applied per strip; predictor
    2 applies horizontal differencing before compression (what real
    LZW TIFFs do — deltas of smooth content are far more repetitive
    than raw samples)."""
    h, w, c = pixels.shape
    assert c == 3 and pixels.dtype == np.uint8
    assert byte_order in ("<", ">")
    if compression not in (_COMP_NONE, _COMP_LZW, _COMP_PACKBITS):
        raise ValueError(f"unsupported compression {compression}")
    if predictor not in (1, 2):
        raise ValueError(f"unsupported predictor {predictor}")
    e = byte_order
    strips = []
    for y0 in range(0, h, rows_per_strip):
        block = pixels[y0 : y0 + rows_per_strip]
        if predictor == 2:
            block = _hdiff(block)
        raw = block.tobytes()
        if compression == _COMP_PACKBITS:
            raw = packbits_encode(raw)
        elif compression == _COMP_LZW:
            raw = tiff_lzw_encode(raw)
        strips.append(raw)
    n_strips = len(strips)

    # layout: 8-byte header, IFD, then out-of-line values, then strips
    n_entries = 10 + (1 if predictor != 1 else 0)
    ifd_off = 8
    ifd_size = 2 + 12 * n_entries + 4
    aux_off = ifd_off + ifd_size
    bits_off = aux_off  # 3 SHORTs = 6 bytes
    offsets_off = bits_off + 6
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
        _entry(e, _TAG_BITS, 3, 3, bits_off),
        _entry(e, _TAG_COMPRESSION, 3, 1, compression),
        _entry(e, _TAG_PHOTOMETRIC, 3, 1, 2),  # RGB
        _entry(
            e, _TAG_STRIP_OFFSETS, 4, n_strips,
            strip_offsets[0] if n_strips == 1 else offsets_off,
        ),
        _entry(e, _TAG_SPP, 3, 1, 3),
        _entry(e, _TAG_ROWS_PER_STRIP, 4, 1, rows_per_strip),
        _entry(
            e, _TAG_STRIP_COUNTS, 4, n_strips,
            len(strips[0]) if n_strips == 1 else counts_off,
        ),
        _entry(e, _TAG_PLANAR, 3, 1, 1),  # chunky
    ]
    if predictor != 1:
        entry_list.append(_entry(e, _TAG_PREDICTOR, 3, 1, predictor))
    # IFD entries must be sorted by tag (spec requirement)
    entry_list.sort(key=lambda b: struct.unpack(e + "H", b[:2])[0])
    entries = b"".join(entry_list)
    out = bytearray()
    out += (b"II" if e == "<" else b"MM") + struct.pack(e + "HI", 42, ifd_off)
    out += struct.pack(e + "H", n_entries) + entries + struct.pack(e + "I", 0)
    out += struct.pack(e + "HHH", 8, 8, 8)
    if n_strips > 1:
        out += struct.pack(e + f"{n_strips}I", *strip_offsets)
        out += struct.pack(e + f"{n_strips}I", *(len(s) for s in strips))
    else:
        # single strip: offset/count were inlined in the IFD entries,
        # but the aux slots were still reserved — zero-fill them
        out += b"\x00" * (8 * n_strips)
    for s in strips:
        out += s
    return bytes(out)


def _tag_uint(ifd: dict, tag: int, e: str, default=None):
    v = ifd.get(tag)
    if v is None:
        return default
    typ, _count, raw = v
    if typ == 3:
        return struct.unpack_from(e + "H", raw)[0]
    if typ == 4:
        return struct.unpack_from(e + "I", raw)[0]
    raise ValueError(f"tag {tag}: unsupported type {typ}")


def _tag_uint_list(ifd: dict, tag: int, e: str) -> list[int]:
    typ, count, raw = ifd[tag]
    fmt = "H" if typ == 3 else "I"
    return list(struct.unpack_from(e + f"{count}{fmt}", raw))


#: What decode_tiff holds per pixel at its peak, rounded up: the plane
#: strips and tiles are written into, plus one segment's decoded bytes
#: (its compressed bytes are read in place and its predictor sums run
#: in the plane). A whole-image RGB strip of noise is the worst case,
#: predictor 1 or 2 alike (tracemalloc at 1024x1024: 3.0 uncompressed,
#: 6.1 PackBits, 6.5 LZW; at 512x512 LZW's code table lifts it to 7.6);
#: 16-row strips take 3.0-4.7 and 16x16 tiles 3.3-3.8 at 512x512, and a
#: WhiteIsZero gray plane 5.0.
_PEAK_BYTES_PER_PIXEL = 12


def decode_tiff(data: bytes) -> np.ndarray:
    """TIFF bytes -> RGB8 HxWx3 (first IFD)."""
    if data[:2] == b"II":
        e = "<"
    elif data[:2] == b"MM":
        e = ">"
    else:
        raise ValueError("not a TIFF")
    magic, ifd_off = struct.unpack_from(e + "HI", data, 2)
    if magic != 42:
        raise ValueError("bad TIFF magic")
    ifd = _read_ifd(data, ifd_off, e)
    w = _tag_uint(ifd, _TAG_WIDTH, e)
    h = _tag_uint(ifd, _TAG_LENGTH, e)
    if w is None or h is None:
        raise ValueError("TIFF missing dimensions")
    compression = _tag_uint(ifd, _TAG_COMPRESSION, e, default=_COMP_NONE)
    if compression not in (_COMP_NONE, _COMP_LZW, _COMP_PACKBITS):
        raise NotImplementedError(f"TIFF compression {compression} not supported")
    predictor = _tag_uint(ifd, _TAG_PREDICTOR, e, default=1)
    if predictor not in (1, 2):
        raise NotImplementedError(f"TIFF predictor {predictor} not supported")
    photometric = _tag_uint(ifd, _TAG_PHOTOMETRIC, e)
    if photometric == 2:
        spp_want = 3
    elif photometric == 3:  # palette-color: indices + ColorMap (r5)
        spp_want = 1
        if _TAG_COLORMAP not in ifd:
            raise ValueError("palette TIFF missing ColorMap")
    elif photometric in (0, 1):  # bilevel/grayscale (r5): 0 inverts
        spp_want = 1
    else:
        raise NotImplementedError(
            f"TIFF photometric {photometric} not supported "
            "(grayscale/RGB/palette)"
        )
    spp = _tag_uint(ifd, _TAG_SPP, e, default=1)
    if spp != spp_want:
        raise NotImplementedError(f"{spp} samples/pixel not supported")
    if _TAG_BITS in ifd:
        bits = _tag_uint_list(ifd, _TAG_BITS, e)
        if any(b != 8 for b in bits):
            raise NotImplementedError(f"bits/sample {bits} not supported")
    planar = _tag_uint(ifd, _TAG_PLANAR, e, default=1)
    if planar != 1:
        raise NotImplementedError("planar TIFF not supported")
    check_canvas(w, h, _PEAK_BYTES_PER_PIXEL, "TIFF image")
    view = memoryview(data)  # segments are read in place, not copied out

    def place(dst: np.ndarray, block: bytes, nrows: int, ncols: int) -> None:
        # copy a decoded segment into its plane slice, clipped to it, and
        # undo predictor 2 there: no raster-sized temporary
        arr = np.frombuffer(block, np.uint8).reshape(nrows, ncols, spp)
        dst[:] = arr[: dst.shape[0], : dst.shape[1]]
        if predictor == 2:  # row prefix sums, wrapping mod 256
            np.cumsum(dst, axis=1, dtype=np.uint8, out=dst)

    def expand(chunk: bytes, expected: int) -> bytes:
        if compression == _COMP_PACKBITS:
            return packbits_decode(chunk, expected)
        if compression == _COMP_LZW:
            return tiff_lzw_decode(chunk, expected)
        if len(chunk) != expected:
            raise ValueError("segment byte count mismatch")
        return chunk

    if _TAG_TILE_WIDTH in ifd or _TAG_TILE_LENGTH in ifd:
        # tile organization (TIFF 6.0 §15, r5): fixed-size tiles in
        # left-to-right top-to-bottom order; EDGE tiles are padded to
        # the full tile size, so every tile decodes to tw*tl*spp bytes
        # and the placement clips the padding
        tw = _tag_uint(ifd, _TAG_TILE_WIDTH, e)
        tl = _tag_uint(ifd, _TAG_TILE_LENGTH, e)
        if not tw or not tl:
            raise ValueError("tiled TIFF missing tile dimensions")
        offsets = _tag_uint_list(ifd, _TAG_TILE_OFFSETS, e)
        counts = _tag_uint_list(ifd, _TAG_TILE_COUNTS, e)
        across = (w + tw - 1) // tw
        down = (h + tl - 1) // tl
        if len(offsets) != across * down or len(offsets) != len(counts):
            raise ValueError("tile count mismatch")
        plane = np.zeros((h, w, spp), np.uint8)
        for ti, (off, cnt) in enumerate(zip(offsets, counts)):
            if off + cnt > len(data):
                raise ValueError("tile out of range")
            y0 = (ti // across) * tl
            x0 = (ti % across) * tw
            place(
                plane[y0 : y0 + tl, x0 : x0 + tw],
                expand(view[off : off + cnt], tw * tl * spp), tl, tw,
            )
    else:
        rows_per_strip = _tag_uint(ifd, _TAG_ROWS_PER_STRIP, e, default=h)
        offsets = _tag_uint_list(ifd, _TAG_STRIP_OFFSETS, e)
        counts = _tag_uint_list(ifd, _TAG_STRIP_COUNTS, e)
        if len(offsets) != len(counts):
            raise ValueError("strip offsets/counts length mismatch")
        plane = np.empty((h, w, spp), np.uint8)
        y0 = 0
        for off, cnt in zip(offsets, counts):
            nrows = min(rows_per_strip, h - y0)
            if off + cnt > len(data):
                raise ValueError("strip out of range")
            place(
                plane[y0 : y0 + nrows],
                expand(view[off : off + cnt], nrows * w * spp), nrows, w,
            )
            y0 += nrows
        if y0 < h:
            raise ValueError("strips cover fewer rows than ImageLength")
    if photometric == 3:
        # ColorMap: 3 * 2^bits SHORTs, all red then green then blue,
        # 16-bit values — baseline takes the high byte
        cmap = np.array(_tag_uint_list(ifd, _TAG_COLORMAP, e), np.uint16)
        if len(cmap) < 3 * 256:
            raise ValueError("ColorMap too short for 8-bit indices")
        lut = (cmap[: 3 * 256].reshape(3, 256).T >> 8).astype(np.uint8)
        return lut[plane[:, :, 0]]
    if photometric in (0, 1):
        g = plane[:, :, 0]
        if photometric == 0:  # WhiteIsZero: invert to the usual scale
            g = (255 - g.astype(np.int16)).astype(np.uint8)
        return np.repeat(g[:, :, None], 3, axis=2)
    return plane


def encode_tiff_tiled(
    pixels: np.ndarray,
    tile_w: int = 16,
    tile_h: int = 16,
    byte_order: str = "<",
    compression: int = _COMP_NONE,
    predictor: int = 1,
) -> bytes:
    """RGB8 HxWx3 -> tile-organized TIFF (TIFF 6.0 §15, r5). Tile
    dimensions must be multiples of 16 per spec; edge tiles are padded
    to full tile size (edge replication — any padding is legal, the
    decoder clips it). Exercises the tiled decode path with real
    encoder output."""
    h, w, c = pixels.shape
    assert c == 3 and pixels.dtype == np.uint8
    assert byte_order in ("<", ">")
    assert tile_w % 16 == 0 and tile_h % 16 == 0, "tile dims must be x16"
    if compression not in (_COMP_NONE, _COMP_LZW, _COMP_PACKBITS):
        raise ValueError(f"unsupported compression {compression}")
    if predictor not in (1, 2):
        raise ValueError(f"unsupported predictor {predictor}")
    e = byte_order
    across = (w + tile_w - 1) // tile_w
    down = (h + tile_h - 1) // tile_h
    tiles = []
    for ty in range(down):
        for tx in range(across):
            tile = np.zeros((tile_h, tile_w, 3), np.uint8)
            y0, x0 = ty * tile_h, tx * tile_w
            ys, xs = min(tile_h, h - y0), min(tile_w, w - x0)
            tile[:ys, :xs] = pixels[y0 : y0 + ys, x0 : x0 + xs]
            # edge replication padding keeps predictor-2 deltas small
            if xs < tile_w:
                tile[:ys, xs:] = tile[:ys, xs - 1 : xs]
            if ys < tile_h:
                tile[ys:] = tile[ys - 1 : ys]
            block = _hdiff(tile) if predictor == 2 else tile
            raw = block.tobytes()
            if compression == _COMP_PACKBITS:
                raw = packbits_encode(raw)
            elif compression == _COMP_LZW:
                raw = tiff_lzw_encode(raw)
            tiles.append(raw)
    n_tiles = len(tiles)

    n_entries = 11 + (1 if predictor != 1 else 0)
    ifd_off = 8
    ifd_size = 2 + 12 * n_entries + 4
    bits_off = ifd_off + ifd_size
    offsets_off = bits_off + 6
    counts_off = offsets_off + 4 * n_tiles
    data_off = counts_off + 4 * n_tiles
    tile_offsets = []
    pos = data_off
    for t in tiles:
        tile_offsets.append(pos)
        pos += len(t)

    entry_list = [
        _entry(e, _TAG_WIDTH, 4, 1, w),
        _entry(e, _TAG_LENGTH, 4, 1, h),
        _entry(e, _TAG_BITS, 3, 3, bits_off),
        _entry(e, _TAG_COMPRESSION, 3, 1, compression),
        _entry(e, _TAG_PHOTOMETRIC, 3, 1, 2),
        _entry(e, _TAG_SPP, 3, 1, 3),
        _entry(e, _TAG_PLANAR, 3, 1, 1),
        _entry(e, _TAG_TILE_WIDTH, 3, 1, tile_w),
        _entry(e, _TAG_TILE_LENGTH, 3, 1, tile_h),
        _entry(
            e, _TAG_TILE_OFFSETS, 4, n_tiles,
            tile_offsets[0] if n_tiles == 1 else offsets_off,
        ),
        _entry(
            e, _TAG_TILE_COUNTS, 4, n_tiles,
            len(tiles[0]) if n_tiles == 1 else counts_off,
        ),
    ]
    if predictor != 1:
        entry_list.append(_entry(e, _TAG_PREDICTOR, 3, 1, predictor))
    entry_list.sort(key=lambda b: struct.unpack(e + "H", b[:2])[0])
    out = bytearray()
    out += (b"II" if e == "<" else b"MM") + struct.pack(e + "HI", 42, ifd_off)
    out += struct.pack(e + "H", n_entries)
    out += b"".join(entry_list) + struct.pack(e + "I", 0)
    out += struct.pack(e + "HHH", 8, 8, 8)
    if n_tiles > 1:
        out += struct.pack(e + f"{n_tiles}I", *tile_offsets)
        out += struct.pack(e + f"{n_tiles}I", *(len(t) for t in tiles))
    else:
        out += b"\x00" * 8
    for t in tiles:
        out += t
    return bytes(out)
