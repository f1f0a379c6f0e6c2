"""GIF87a codec — real LZW, pure Python/numpy.

The third REAL compressed image bitstream in the engine (after PNG's
DEFLATE and JPEG's DCT+Huffman): palette-indexed pixels compressed with
variable-width LZW exactly as GIF specifies —

* little-endian bit packing, initial code width = min_code_size + 1,
  CLEAR = 2^mcs, END = CLEAR + 1, table grows to 12 bits (4096), the
  encoder emits CLEAR when the table fills;
* the decoder handles the KwKwK case (code == next free entry) and
  mid-stream CLEAR resets;
* raster data wrapped in 255-byte sub-blocks, screen + image
  descriptors, global and local color tables, GIF89a extension blocks
  skipped (a GIF87a decoder may ignore them per the 89a spec's
  block-skipping rules).

Interlaced rasters and GIF89a animation are fully decoded too:

* **Interlace** — the four-pass row shuffle (rows 0/8, 4/8, 2/4, 1/2,
  spec appendix E) in both directions, the 1-D twin of PNG's Adam7;
* **Animation** — Graphic Control Extensions (delay, transparent
  index, disposal), local color tables, sub-rectangle frames, and the
  three disposal methods (1 leave, 2 restore-to-background, 3
  restore-to-previous) composed onto the logical-screen canvas exactly
  as a browser does; the encoder emits delta sub-rects (changed
  bounding box, unchanged pixels transparent) — the format's actual
  inter-frame compression — plus the NETSCAPE2.0 loop block.

GIF is lossless ON PALETTED INPUT (<= 256 unique colors): the fixture
corpus posterizes ground truth to 6 levels/channel (216 colors), so
decode must be bit-exact (PSNR = inf) — a stronger invariant than the
40 dB lossy gate.

Deterministic, no RNG; encode builds the palette with np.unique. Safe
inside Arrow-batched pandas UDFs. Reference anchor: fetched payloads
are opaque bytes + typed metadata (model/Page.java:323-330).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np

from webcollector_spark.jpeg import check_canvas

_MAX_WIDTH = 12
_MAX_CODES = 1 << _MAX_WIDTH


class _BitWriter:
    """LSB-first bit packer (GIF's LZW byte order)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, width: int) -> None:
        self.acc |= code << self.nbits
        self.nbits += width
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def flush(self) -> bytes:
        if self.nbits:
            self.out.append(self.acc & 0xFF)
        return bytes(self.out)


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def read(self, width: int) -> int:
        while self.nbits < width:
            if self.pos >= len(self.data):
                raise ValueError("LZW stream truncated")
            self.acc |= self.data[self.pos] << self.nbits
            self.pos += 1
            self.nbits += 8
        v = self.acc & ((1 << width) - 1)
        self.acc >>= width
        self.nbits -= width
        return v


def lzw_encode(indices: np.ndarray, min_code_size: int) -> bytes:
    """GIF-flavor LZW over palette indices. Emits an initial CLEAR,
    grows the code width exactly when the decoder's table-size counter
    would (encoder runs one entry ahead, so the trigger is next-free ==
    2^width at the PRE-add count), and CLEARs at 4096."""
    clear, end = 1 << min_code_size, (1 << min_code_size) + 1
    bw = _BitWriter()
    width = min_code_size + 1
    table: dict[tuple[int, int], int] = {}
    nxt = end + 1
    bw.write(clear, width)
    seq = list(map(int, indices))
    prefix = seq[0]
    for k in seq[1:]:
        e = table.get((prefix, k))
        if e is not None:
            prefix = e
            continue
        bw.write(prefix, width)
        if nxt == _MAX_CODES:
            bw.write(clear, width)
            table.clear()
            width = min_code_size + 1
            nxt = end + 1
        else:
            if nxt == (1 << width) and width < _MAX_WIDTH:
                width += 1
            table[(prefix, k)] = nxt
            nxt += 1
        prefix = k
    bw.write(prefix, width)
    bw.write(end, width)
    return bw.flush()


def lzw_decode(data: bytes, min_code_size: int, n_expected: int) -> np.ndarray:
    clear, end = 1 << min_code_size, (1 << min_code_size) + 1
    br = _BitReader(data)
    out = np.empty(n_expected, dtype=np.int32)
    pos = 0

    def reset():
        return (
            min_code_size + 1,
            {i: (i,) for i in range(clear)},
            end + 1,
        )

    width, table, nxt = reset()
    prev: tuple[int, ...] | None = None
    while True:
        code = br.read(width)
        if code == clear:
            width, table, nxt = reset()
            prev = None
            continue
        if code == end:
            break
        if code in table:
            entry = table[code]
        elif code == nxt and prev is not None:
            entry = prev + (prev[0],)  # KwKwK
        else:
            raise ValueError(f"bad LZW code {code} (next free {nxt})")
        if pos + len(entry) > n_expected:
            raise ValueError("LZW output exceeds raster size")
        out[pos : pos + len(entry)] = entry
        pos += len(entry)
        if prev is not None and nxt < _MAX_CODES:
            table[nxt] = prev + (entry[0],)
            nxt += 1
            if nxt == (1 << width) and width < _MAX_WIDTH:
                width += 1
        prev = entry
    if pos != n_expected:
        raise ValueError(f"LZW produced {pos} pixels, raster is {n_expected}")
    return out


#: GIF interlace passes (spec appendix E): (first_row, row_step).
#: Pass 1 carries every 8th row starting at 0 — the 1-D analogue of
#: PNG's Adam7 early-preview layout.
_INTERLACE = ((0, 8), (4, 8), (2, 4), (1, 2))


def _interlace_order(h: int) -> np.ndarray:
    """Row indices in the order an interlaced stream stores them."""
    return np.concatenate(
        [np.arange(start, h, step) for start, step in _INTERLACE]
    ).astype(np.int64)


def _sub_blocks(payload: bytes) -> bytes:
    out = bytearray()
    for off in range(0, len(payload), 255):
        chunk = payload[off : off + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


def _palettize(flat: np.ndarray, reserve: int = 0):
    """np.unique palette + inverse indices; raises above 256 - reserve
    colors (quantization is the caller's policy decision, not something
    a codec should do silently)."""
    palette, inverse = np.unique(flat, axis=0, return_inverse=True)
    n_colors = len(palette)
    if n_colors > 256 - reserve:
        raise ValueError(
            f"{n_colors} unique colors > {256 - reserve}; palettize first"
        )
    return palette, inverse.astype(np.int32)


def _table_fields(n_slots: int):
    """(table_bits, mcs, padded color count) for an n_slot palette."""
    table_bits = max(1, int(np.ceil(np.log2(max(n_slots, 2)))))
    return table_bits, max(2, table_bits)


def encode_gif87a(pixels: np.ndarray, interlace: bool = False) -> bytes:
    """RGB8 HxWx3 (<= 256 unique colors) -> GIF87a bytes.
    interlace=True stores rows in the four-pass order (spec appendix E)
    and sets the image-descriptor interlace flag."""
    h, w, c = pixels.shape
    assert c == 3 and pixels.dtype == np.uint8
    palette, inverse = _palettize(pixels.reshape(-1, 3))
    table_bits, mcs = _table_fields(len(palette))
    gct = np.zeros((1 << table_bits, 3), dtype=np.uint8)
    gct[: len(palette)] = palette
    packed = 0x80 | ((table_bits - 1) << 4) | (table_bits - 1)
    out = bytearray(b"GIF87a")
    out += struct.pack("<HHBBB", w, h, packed, 0, 0)
    out += gct.tobytes()
    ipacked = 0x40 if interlace else 0
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, ipacked)
    out.append(mcs)
    idx = inverse.reshape(h, w)
    if interlace:
        idx = idx[_interlace_order(h)]
    out += _sub_blocks(lzw_encode(idx.reshape(-1), mcs))
    out += b"\x3b"
    return bytes(out)


def encode_gif89a_anim(
    frames: list[np.ndarray],
    delays_cs: list[int] | None = None,
    disposals: list[int] | None = None,
    loop: int | None = 0,
    delta: bool = True,
) -> bytes:
    """Full frames -> animated GIF89a bytes.

    One GLOBAL palette over all frames (<= 255 unique colors; one slot
    is reserved for transparency), a NETSCAPE2.0 loop block when
    ``loop`` is not None, and per-frame Graphic Control Extensions.

    ``delta=True`` is the format's real inter-frame compression: each
    frame after the first is emitted as the bounding sub-rectangle of
    pixels that differ from the decoder's canvas, with unchanged pixels
    inside the rect mapped to the transparent index. The encoder
    simulates the decoder's canvas (including disposal 2/3 restores),
    so ``decode_gif_frames`` reproduces every input frame bit-exact.

    ``disposals[k]`` (default 1 = leave in place) applies AFTER frame k
    is shown: 2 restores the frame's rect to the background color
    (palette slot of the screen-descriptor background index), 3
    restores the pre-draw canvas.
    """
    if not frames:
        raise ValueError("need at least one frame")
    h, w, c = frames[0].shape
    assert c == 3 and frames[0].dtype == np.uint8
    for fr in frames:
        if fr.shape != (h, w, 3):
            raise ValueError("all frames must share the logical screen size")
    delays_cs = delays_cs or [10] * len(frames)
    disposals = disposals or [1] * len(frames)

    flat = np.concatenate([fr.reshape(-1, 3) for fr in frames])
    palette, inverse = _palettize(flat, reserve=1)
    n_colors = len(palette)
    tindex = n_colors  # reserved transparent slot, RGB value unused
    table_bits, mcs = _table_fields(n_colors + 1)
    gct = np.zeros((1 << table_bits, 3), dtype=np.uint8)
    gct[:n_colors] = palette
    per_frame = [
        inverse[i * h * w : (i + 1) * h * w].reshape(h, w)
        for i in range(len(frames))
    ]

    packed = 0x80 | ((table_bits - 1) << 4) | (table_bits - 1)
    bg_index = 0
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, packed, bg_index, 0)
    out += gct.tobytes()
    if loop is not None:
        out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01" + struct.pack("<H", loop) + b"\x00"

    # simulated decoder canvas, as palette indices; starts as the
    # background-filled logical screen exactly like the decoder's
    canvas = np.full((h, w), bg_index, dtype=np.int32)
    for k, (fr_idx, delay, disp) in enumerate(
        zip(per_frame, delays_cs, disposals)
    ):
        if not delta:
            left = top = 0
            rect = fr_idx
            transparent = False
        else:
            changed = fr_idx != canvas
            ys, xs = np.nonzero(changed)
            if len(ys) == 0:
                # identical frame: 1x1 fully-transparent rect keeps the
                # frame (and its delay) on the wire without repainting
                left = top = 0
                rect = np.full((1, 1), tindex, dtype=np.int32)
                transparent = True
            else:
                top, bottom = int(ys.min()), int(ys.max()) + 1
                left, right = int(xs.min()), int(xs.max()) + 1
                rect = fr_idx[top:bottom, left:right].copy()
                keep = changed[top:bottom, left:right]
                rect[~keep] = tindex
                transparent = bool((~keep).any())
        gce_packed = (disp & 0x07) << 2 | (1 if transparent else 0)
        out += b"\x21\xf9\x04" + bytes([gce_packed])
        out += struct.pack("<H", delay)
        out += bytes([tindex if transparent else 0, 0])
        rh, rw = rect.shape
        out += b"\x2c" + struct.pack("<HHHHB", left, top, rw, rh, 0)
        out.append(mcs)
        out += _sub_blocks(lzw_encode(rect.reshape(-1).astype(np.int32), mcs))
        # mirror the decoder: draw, then apply disposal for the next frame
        pre_draw = canvas.copy()
        canvas = fr_idx.copy()
        if disp == 2:
            canvas[top : top + rh, left : left + rw] = bg_index
        elif disp == 3:
            canvas = pre_draw
    out += b"\x3b"
    return bytes(out)


#: What decoding a GIF holds per logical-screen pixel at its peak,
#: rounded up: the canvas, the frame yielded and the first one
#: codecs.decode keeps, and for a full-screen image its int32 LZW
#: indices, their opacity mask, gathered colors and the pre-draw copy
#: of disposal 3 (tracemalloc through codecs.decode at 512x512 and
#: 1024x1024: 28.5 for one frame, 37.4 for disposal-3 frames).
_PEAK_BYTES_PER_PIXEL = 40


def decode_gif_frames(data: bytes) -> Iterator[tuple[int, np.ndarray]]:
    """GIF bytes -> (delay_cs, RGB8 HxWx3 composed frame) per image,
    yielded as each image is composed, so the decode holds one canvas
    and one frame whatever the frame count.

    The full GIF89a rendering model: frames are sub-rectangles drawn
    onto the logical-screen canvas; a preceding Graphic Control
    Extension supplies delay, transparent index (pixels left showing
    the canvas), and the disposal applied AFTER the frame is shown
    (1/0 leave, 2 restore rect to background color, 3 restore the
    pre-draw canvas). Interlaced rasters are de-shuffled via the
    four-pass row order. NETSCAPE/comment/plain-text extensions are
    skipped by the 89a block-skipping rules."""
    for delay_cs, canvas in _compose(data):
        yield delay_cs, canvas.copy()


def _compose(data: bytes) -> Iterator[tuple[int, np.ndarray]]:
    """decode_gif_frames without the copies: yields the live canvas
    after each image is drawn, and applies that image's disposal when
    resumed. An image costs its own rect, not the screen."""
    if data[:4] != b"GIF8" or data[4:6] not in (b"7a", b"9a"):
        raise ValueError("not a GIF")
    sw, sh, packed, bg_index, _ar = struct.unpack("<HHBBB", data[6:13])
    pos = 13
    gct = None
    if packed & 0x80:
        n = 1 << ((packed & 0x07) + 1)
        gct = np.frombuffer(data, np.uint8, n * 3, pos).reshape(n, 3)
        pos += n * 3
    bg_rgb = (
        gct[bg_index] if gct is not None and bg_index < len(gct) else
        np.zeros(3, dtype=np.uint8)
    )
    check_canvas(sw, sh, _PEAK_BYTES_PER_PIXEL, "GIF logical screen")
    canvas = np.empty((sh, sw, 3), np.uint8)
    canvas[:] = bg_rgb
    n_frames = 0
    delay_cs, tindex, disposal = 0, -1, 0  # GCE state for the next image
    while pos < len(data):
        block = data[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension
            label = data[pos]
            pos += 1
            if label == 0xF9:  # Graphic Control Extension
                ln = data[pos]
                gce = data[pos + 1 : pos + 1 + ln]
                gpacked = gce[0]
                disposal = (gpacked >> 2) & 0x07
                (delay_cs,) = struct.unpack("<H", gce[1:3])
                tindex = gce[3] if gpacked & 0x01 else -1
            while data[pos]:  # skip (or finish) sub-blocks
                pos += 1 + data[pos]
            pos += 1
            continue
        if block != 0x2C:
            raise ValueError(f"unknown GIF block {block:#x} at {pos - 1}")
        left, top, iw, ih, ipacked = struct.unpack("<HHHHB", data[pos : pos + 9])
        pos += 9
        if top + ih > sh or left + iw > sw:  # before its raster is decoded
            raise ValueError("frame rect exceeds logical screen")
        table = gct
        if ipacked & 0x80:
            n = 1 << ((ipacked & 0x07) + 1)
            table = np.frombuffer(data, np.uint8, n * 3, pos).reshape(n, 3)
            pos += n * 3
        if table is None:
            raise ValueError("no color table")
        mcs = data[pos]
        pos += 1
        payload = bytearray()
        while data[pos]:
            ln = data[pos]
            payload += data[pos + 1 : pos + 1 + ln]
            pos += 1 + ln
        pos += 1
        idx = lzw_decode(bytes(payload), mcs, iw * ih).reshape(ih, iw)
        if ipacked & 0x40:  # interlaced: stream rows -> natural rows
            natural = np.empty_like(idx)
            natural[_interlace_order(ih)] = idx
            idx = natural
        opaque = idx != tindex if tindex >= 0 else np.ones_like(idx, bool)
        if int(idx[opaque].max(initial=0)) >= len(table):
            raise ValueError("palette index out of range")
        region = canvas[top : top + ih, left : left + iw]
        pre_draw = region.copy() if disposal == 3 else None
        region[opaque] = table[idx[opaque]]
        n_frames += 1
        yield delay_cs, canvas
        if disposal == 2:
            region[:] = bg_rgb
        elif pre_draw is not None:  # only the rect was drawn
            region[:] = pre_draw
        delay_cs, tindex, disposal = 0, -1, 0
    if not n_frames:
        raise ValueError("no image block in GIF")


def decode_gif87a(data: bytes) -> np.ndarray:
    """GIF bytes -> RGB8 HxWx3 (first composed frame). Kept as the
    single-image entry point the image-codec dispatch uses; animation
    consumers call decode_gif_frames. The rest of the stream is still
    parsed, so a corrupt later image fails the decode; past the first
    frame no screen is copied, so each later image costs its own rect."""
    frames = _compose(data)
    first = next(frames)[1].copy()
    for _ in frames:
        pass
    return first
