"""APNG codec (animated PNG, the PNG third-edition animation chunks)
— pure numpy/zlib, building on the repo's PNG machinery (codecs.py).

The other animation payload the modern web serves (emoji, stickers,
UI micro-animations — increasingly replacing GIF because it carries
24-bit color). Structure: a regular PNG whose IDAT is frame 0, plus

* ``acTL`` — animation control (frame count, play count);
* ``fcTL`` per frame — frame control: sequence number, sub-rect
  (w, h, x, y), delay as a num/den rational, ``dispose_op``
  (0 none, 1 background, 2 previous) and ``blend_op`` (0 source,
  1 over);
* ``fdAT`` — frame data: a sequence number prefix, then the same
  zlib-compressed filtered scanlines IDAT carries.

Subset: 8-bit RGB (color type 2) frames, blend_op 0 — with no alpha
channel "over" equals "source", so the encoder emits 0 and the decoder
refuses 1 rather than silently mis-compositing; all five scanline
filters accepted on decode (the shared _unfilter), adaptive filtering
on encode. The encoder emits delta sub-rects against a simulated
decoder canvas (dispose-aware, the GIF89a discipline), so composition
round-trips bit-exact — APNG frames are lossless.

Reference anchor: fetched payloads are opaque bytes + typed metadata
(model/Page.java:323-330).
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import numpy as np

from webcollector_spark.codecs import (
    _PNG_SIG,
    _chunk,
    _filter_scanlines,
    _inflate_exact,
    _unfilter,
)
from webcollector_spark.jpeg import check_canvas


def _frame_payload(px: np.ndarray) -> bytes:
    """Sub-image -> zlib(filtered scanlines), adaptive filters."""
    return zlib.compress(_filter_scanlines(px), 6)


def encode_apng(
    frames: list[np.ndarray],
    delays: list[tuple[int, int]] | None = None,
    disposes: list[int] | None = None,
    plays: int = 0,
    delta: bool = True,
) -> bytes:
    """RGB8 frames (same HxWx3) -> APNG bytes. ``delays`` are
    (numerator, denominator) rationals per frame; ``disposes[k]``
    applies after frame k (0 none, 1 background, 2 previous)."""
    if not frames:
        raise ValueError("need at least one frame")
    h, w, c = frames[0].shape
    assert c == 3 and frames[0].dtype == np.uint8
    for fr in frames:
        if fr.shape != (h, w, 3):
            raise ValueError("all frames must share the canvas size")
    delays = delays or [(1, 10)] * len(frames)
    disposes = disposes or [0] * len(frames)

    out = bytearray(_PNG_SIG)
    out += _chunk(
        b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    )
    out += _chunk(b"acTL", struct.pack(">II", len(frames), plays))
    seq = 0
    # simulated decoder canvas; background disposal clears to zeros
    canvas = np.zeros((h, w, 3), np.uint8)
    for k, (fr, (dn, dd), disp) in enumerate(zip(frames, delays, disposes)):
        if k == 0 or not delta:
            left = top = 0
            rect = fr
        else:
            changed = (fr != canvas).any(axis=2)
            ys, xs = np.nonzero(changed)
            if len(ys) == 0:
                top = left = 0
                rect = fr[0:1, 0:1]
            else:
                top, bottom = int(ys.min()), int(ys.max()) + 1
                left, right = int(xs.min()), int(xs.max()) + 1
                rect = fr[top:bottom, left:right]
        rh, rw = rect.shape[:2]
        out += _chunk(
            b"fcTL",
            struct.pack(
                ">IIIIIHHBB", seq, rw, rh, left, top, dn, dd, disp, 0
            ),
        )
        seq += 1
        payload = _frame_payload(np.ascontiguousarray(rect))
        if k == 0:
            out += _chunk(b"IDAT", payload)
        else:
            out += _chunk(b"fdAT", struct.pack(">I", seq) + payload)
            seq += 1
        # mirror the decoder: draw, then apply disposal
        pre = canvas.copy()
        canvas[top : top + rh, left : left + rw] = rect
        if disp == 1:
            canvas[top : top + rh, left : left + rw] = 0
        elif disp == 2:
            canvas = pre
    out += _chunk(b"IEND", b"")
    return bytes(out)


#: What decode_apng holds per canvas pixel at its peak, rounded up:
#: the canvas, the frame it yields and the one its consumer still
#: holds, and a full-canvas frame's inflated rows and unfiltered rect
#: (tracemalloc through media.video_frames at 1500x1500: 12.0).
_PEAK_BYTES_PER_PIXEL = 16


def decode_apng(data: bytes) -> Iterator[tuple[int, int, np.ndarray]]:
    """APNG bytes -> (delay_num, delay_den, composed HxWx3) per frame,
    yielded as each frame is composed, so the decode holds one canvas
    and one frame whatever the frame count. Raises ValueError on
    non-APNG PNG (no acTL) and NotImplementedError on non-RGB8 frames
    or blend_op 1."""
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos = 8
    w = h = None
    n_frames = None
    n_composed = 0
    canvas = None
    pending: dict | None = None  # current fcTL awaiting its data
    data_parts: list[bytes] = []
    expected_seq = 0

    def compose() -> tuple[int, int, np.ndarray]:
        """Draw the pending frame, apply its dispose op and return its
        delay with the canvas as shown (a copy)."""
        nonlocal pending, data_parts, n_composed
        rw, rh = pending["w"], pending["h"]
        x, y = pending["x"], pending["y"]
        if x + rw > w or y + rh > h:  # before its rows are inflated
            raise ValueError("APNG frame rect exceeds canvas")
        raw = _inflate_exact(b"".join(data_parts), rh * (1 + rw * 3))
        arr = np.frombuffer(raw, np.uint8).reshape(rh, 1 + rw * 3)
        rect = _unfilter(arr, rh, rw, 3).reshape(rh, rw, 3)
        region = canvas[y : y + rh, x : x + rw]
        pre = region.copy() if pending["dispose"] == 2 else None
        region[:] = rect
        shown = canvas.copy()
        if pending["dispose"] == 1:
            region[:] = 0
        elif pre is not None:  # only the rect was drawn
            region[:] = pre
        delay = pending["dn"], pending["dd"]
        pending = None
        data_parts = []
        n_composed += 1
        return *delay, shown

    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + tag + body + crc
        if tag == b"IHDR":
            w, hh, depth, ctype, _comp, _filt, _il = struct.unpack(
                ">IIBBBBB", body
            )
            h = hh
            if (depth, ctype) != (8, 2):
                raise NotImplementedError(
                    f"APNG subset is 8-bit RGB (got depth {depth} type {ctype})"
                )
            check_canvas(w, h, _PEAK_BYTES_PER_PIXEL, "APNG canvas")
            canvas = np.zeros((h, w, 3), np.uint8)
        elif tag == b"acTL":
            n_frames, _plays = struct.unpack(">II", body)
        elif tag == b"fcTL":
            if pending is not None:  # finish the previous frame
                yield compose()
            (seq, rw, rh, x, y, dn, dd, dispose, blend) = struct.unpack(
                ">IIIIIHHBB", body
            )
            if seq != expected_seq:
                raise ValueError("APNG sequence numbers out of order")
            expected_seq += 1
            if blend != 0:
                raise NotImplementedError(
                    "APNG blend_op 1 (over) needs alpha; RGB subset"
                )
            pending = {
                "w": rw, "h": rh, "x": x, "y": y,
                "dn": dn, "dd": dd, "dispose": dispose,
            }
        elif tag == b"IDAT":
            if pending is None:
                if n_frames is None:
                    raise ValueError("not an APNG (no acTL before IDAT)")
                # spec: an IDAT not preceded by fcTL is the DEFAULT
                # image, excluded from the animation — a conforming
                # animation decoder skips it (r5; the refusal here was
                # over-strict for the many real APNGs shaped this way)
                continue
            data_parts.append(body)
        elif tag == b"fdAT":
            (seq,) = struct.unpack(">I", body[:4])
            if seq != expected_seq:
                raise ValueError("APNG sequence numbers out of order")
            expected_seq += 1
            data_parts.append(body[4:])
        elif tag == b"IEND":
            if pending is not None:
                yield compose()
            break
    if n_frames is None:
        raise ValueError("not an APNG (no acTL)")
    if n_composed != n_frames:
        raise ValueError(
            f"acTL declares {n_frames} frames, stream carries {n_composed}"
        )
