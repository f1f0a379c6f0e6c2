"""EXIF (TIFF-IFD) metadata: pure-Python APP1 writer + parser.

The caption half of the image+caption payload often lives in EXIF
(ImageDescription, DateTime) and the ORIENTATION tag changes what
"decoded pixels" even means — a pipeline that ignores tag 0x0112 trains
on sideways images. The reference stores payloads as opaque bytes and
never looks inside (model/Page.java:323-330); this module is the typed-
metadata extraction the input_hint's (bytes, w, h, fmt, caption) schema
implies, done header-only: EXIF lives in the first JPEG APP1 segment, so
the Spark operator slices a bounded prefix JVM-side (the APP1 length
field caps the segment at 64 KiB) and never ships pixel data to Python.
The segment search is jpeg.py's header walk, the same one the decoders
use, so fill bytes and standalone markers before APP1 are read alike.

Format notes (TIFF 6.0 §2, JEITA CP-3451):
* APP1 = FF E1 <len u16 incl itself> "Exif\\0\\0" <TIFF stream>;
* TIFF header: "II" (little) or "MM" (big), magic 42, u32 offset to
  IFD0 — all multi-byte integers in the declared byte order;
* IFD: u16 entry count; 12-byte entries (tag u16, type u16, count u32,
  value-or-offset u32), tags ascending; u32 next-IFD offset;
* a value whose byte size is <= 4 is stored INLINE, left-justified in
  the 4-byte field; larger values live at an offset from TIFF start;
* tag 0x8769 points at a second IFD (the "Exif IFD") holding
  PixelXDimension/PixelYDimension.

Both byte orders are written and parsed — real corpora contain both
("II" dominates phones, "MM" ships from older TIFF-lineage tooling).
"""

from __future__ import annotations

import struct

from webcollector_spark.jpeg import _header_segments

TAG_MAKE = 0x010F
TAG_MODEL = 0x0110
TAG_ORIENTATION = 0x0112
TAG_DATETIME = 0x0132
TAG_DESCRIPTION = 0x010E
TAG_EXIF_IFD = 0x8769
TAG_PIXEL_X = 0xA002
TAG_PIXEL_Y = 0xA003

_TYPE_ASCII = 2
_TYPE_SHORT = 3
_TYPE_LONG = 4

_TYPE_SIZE = {1: 1, _TYPE_ASCII: 1, _TYPE_SHORT: 2, _TYPE_LONG: 4, 5: 8, 7: 1}


# ---------------------------------------------------------------------------
# writer (fixture side)


def _entries_block(entries, data_base, order):
    """Serialize IFD entries; values > 4 bytes go to a data area that
    starts at `data_base` (offset from TIFF origin). Returns (ifd_bytes,
    data_bytes)."""
    e = "<" if order == b"II" else ">"
    ifd = struct.pack(e + "H", len(entries))
    data = b""
    for tag, typ, count, payload in sorted(entries):
        size = _TYPE_SIZE[typ] * count
        if size <= 4:
            field = payload.ljust(4, b"\x00")
        else:
            field = struct.pack(e + "I", data_base + len(data))
            data += payload
            if len(data) % 2:  # spec: word-align offsets
                data += b"\x00"
        ifd += struct.pack(e + "HHI", tag, typ, count) + field
    ifd += struct.pack(e + "I", 0)  # no next IFD
    return ifd, data


def build_exif_app1(
    make: str | None = None,
    model: str | None = None,
    orientation: int | None = None,
    datetime: str | None = None,
    description: str | None = None,
    pixel_x: int | None = None,
    pixel_y: int | None = None,
    byte_order: str = "II",
) -> bytes:
    """Build a complete APP1 segment (marker + length + Exif header +
    TIFF stream) carrying the given tags."""
    order = byte_order.encode("ascii")
    assert order in (b"II", b"MM")
    e = "<" if order == b"II" else ">"

    def ascii_v(s):
        b = s.encode("ascii") + b"\x00"
        return _TYPE_ASCII, len(b), b

    ifd0 = []
    if description is not None:
        ifd0.append((TAG_DESCRIPTION, *ascii_v(description)))
    if make is not None:
        ifd0.append((TAG_MAKE, *ascii_v(make)))
    if model is not None:
        ifd0.append((TAG_MODEL, *ascii_v(model)))
    if orientation is not None:
        ifd0.append(
            (TAG_ORIENTATION, _TYPE_SHORT, 1, struct.pack(e + "H", orientation))
        )
    if datetime is not None:
        ifd0.append((TAG_DATETIME, *ascii_v(datetime)))

    exif_ifd = []
    if pixel_x is not None:
        exif_ifd.append((TAG_PIXEL_X, _TYPE_LONG, 1, struct.pack(e + "I", pixel_x)))
    if pixel_y is not None:
        exif_ifd.append((TAG_PIXEL_Y, _TYPE_LONG, 1, struct.pack(e + "I", pixel_y)))

    n0 = len(ifd0) + (1 if exif_ifd else 0)
    ifd0_size = 2 + 12 * n0 + 4
    # layout: header(8) | IFD0 | IFD0 data | ExifIFD | ExifIFD data
    ifd0_data_base = 8 + ifd0_size
    # first pass to learn IFD0's data size so the Exif pointer is right
    _, data0_probe = _entries_block(ifd0, ifd0_data_base, order)
    exif_ptr = ifd0_data_base + len(data0_probe)
    if exif_ifd:
        ifd0 = ifd0 + [
            (TAG_EXIF_IFD, _TYPE_LONG, 1, struct.pack(e + "I", exif_ptr))
        ]
    ifd0_bytes, data0 = _entries_block(ifd0, ifd0_data_base, order)
    assert data0 == data0_probe  # pointer entry is inline, data unchanged

    tiff = order + struct.pack(e + "H", 42) + struct.pack(e + "I", 8)
    tiff += ifd0_bytes + data0
    if exif_ifd:
        exif_data_base = exif_ptr + 2 + 12 * len(exif_ifd) + 4
        exif_bytes, exif_data = _entries_block(exif_ifd, exif_data_base, order)
        tiff += exif_bytes + exif_data

    payload = b"Exif\x00\x00" + tiff
    return b"\xff\xe1" + struct.pack(">H", len(payload) + 2) + payload


def insert_app1(jpeg: bytes, app1: bytes) -> bytes:
    """Insert an APP1 segment right after SOI (where EXIF must sit)."""
    if jpeg[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    return jpeg[:2] + app1 + jpeg[2:]


# ---------------------------------------------------------------------------
# parser


def _read_ifd(tiff: bytes, off: int, e: str) -> dict[int, tuple]:
    """Return {tag: (type, count, raw_value_bytes)} with bounds checks;
    raises ValueError on any structural violation."""
    if off + 2 > len(tiff):
        raise ValueError("IFD offset out of range")
    (n,) = struct.unpack_from(e + "H", tiff, off)
    out = {}
    pos = off + 2
    if pos + 12 * n + 4 > len(tiff):
        raise ValueError("IFD overruns TIFF stream")
    for _ in range(n):
        tag, typ, count = struct.unpack_from(e + "HHI", tiff, pos)
        size = _TYPE_SIZE.get(typ, 1) * count
        if size <= 4:
            raw = tiff[pos + 8 : pos + 8 + max(size, 0)]
        else:
            (voff,) = struct.unpack_from(e + "I", tiff, pos + 8)
            if voff + size > len(tiff):
                raise ValueError("value offset out of range")
            raw = tiff[voff : voff + size]
        out[tag] = (typ, count, raw)
        pos += 12
    return out


def _ascii(v) -> str | None:
    if v is None or v[0] != _TYPE_ASCII:
        return None
    return v[2].split(b"\x00", 1)[0].decode("ascii", "replace")


def _uint(v, e) -> int | None:
    if v is None:
        return None
    typ, _, raw = v
    if typ == _TYPE_SHORT and len(raw) >= 2:
        return struct.unpack_from(e + "H", raw)[0]
    if typ == _TYPE_LONG and len(raw) >= 4:
        return struct.unpack_from(e + "I", raw)[0]
    return None


_EMPTY = {
    "has_exif": False,
    "byte_order": None,
    "make": None,
    "model": None,
    "orientation": None,
    "datetime": None,
    "description": None,
    "pixel_x": None,
    "pixel_y": None,
}


def parse_exif(data: bytes) -> dict:
    """Extract EXIF fields from a JPEG prefix. Never raises: damaged or
    absent EXIF yields has_exif=False (triage, not validation)."""
    try:
        # EXIF is the first APP1 segment that opens with "Exif\0\0"
        for marker, payload, _ in _header_segments(data):
            if marker == 0xE1 and payload[:6] == b"Exif\x00\x00":
                tiff = payload[6:]
                break
        else:
            return dict(_EMPTY)

        order = tiff[:2]
        if order not in (b"II", b"MM"):
            return dict(_EMPTY)
        e = "<" if order == b"II" else ">"
        magic, ifd0_off = struct.unpack_from(e + "HI", tiff, 2)
        if magic != 42:
            return dict(_EMPTY)
        ifd0 = _read_ifd(tiff, ifd0_off, e)

        out = dict(_EMPTY)
        out["has_exif"] = True
        out["byte_order"] = order.decode("ascii")
        out["make"] = _ascii(ifd0.get(TAG_MAKE))
        out["model"] = _ascii(ifd0.get(TAG_MODEL))
        out["description"] = _ascii(ifd0.get(TAG_DESCRIPTION))
        out["datetime"] = _ascii(ifd0.get(TAG_DATETIME))
        out["orientation"] = _uint(ifd0.get(TAG_ORIENTATION), e)
        ptr = _uint(ifd0.get(TAG_EXIF_IFD), e)
        if ptr is not None:
            exif_ifd = _read_ifd(tiff, ptr, e)
            out["pixel_x"] = _uint(exif_ifd.get(TAG_PIXEL_X), e)
            out["pixel_y"] = _uint(exif_ifd.get(TAG_PIXEL_Y), e)
        return out
    except (ValueError, struct.error, IndexError):
        return dict(_EMPTY)


#: orientation -> (rotate_quarter_turns_cw, flip_horizontal_first).
#: The decode-side normalization table: apply flip then rotate to bring
#: pixels to orientation 1. Tags per TIFF 6.0 / EXIF 2.3 table 5.
ORIENTATION_OPS = {
    1: (0, False),
    2: (0, True),
    3: (2, False),
    4: (2, True),
    5: (3, True),  # transpose = flip-h then 90 CCW
    6: (1, False),
    7: (1, True),  # transverse = flip-h then 90 CW
    8: (3, False),
}


def denormalize_orientation(px, orientation: int | None):
    """Inverse of normalize_orientation: produce the STORED pixel layout
    an upright image takes under the given orientation tag (fixture /
    camera side). normalize(denormalize(x, t), t) == x for every tag."""
    import numpy as np

    o = orientation or 1
    if o == 1:
        return px
    if o == 2:
        return px[:, ::-1]
    if o == 3:
        return px[::-1, ::-1]
    if o == 4:
        return px[::-1, :]
    if o == 5:
        return px.transpose(1, 0, 2)
    if o == 6:
        return np.rot90(px, k=1)  # stored = upright rotated 90 CCW
    if o == 7:
        return px.transpose(1, 0, 2)[::-1, ::-1]
    if o == 8:
        return np.rot90(px, k=-1)
    return px


def normalize_orientation(px, orientation: int | None):
    """Apply the EXIF orientation to an (h, w, c) ndarray so downstream
    phash/resize/training see upright pixels."""
    import numpy as np

    turns, flip = ORIENTATION_OPS.get(orientation or 1, (0, False))
    if flip:
        px = px[:, ::-1]
    if turns:
        px = np.rot90(px, k=-turns)  # rot90 is CCW; EXIF ops are CW
    return np.ascontiguousarray(px)
