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

import numpy as np

from webcollector_spark.codecs import (
    _MAX_RAW_BYTES,
    _PNG_SIG,
    _chunk,
    _filter_scanlines,
    _inflate_exact,
    _unfilter,
)


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


def decode_apng(data: bytes) -> list[tuple[int, int, np.ndarray]]:
    """APNG bytes -> [(delay_num, delay_den, composed HxWx3), ...].
    Raises ValueError on non-APNG PNG (no acTL) and NotImplementedError
    on non-RGB8 frames or blend_op 1."""
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos = 8
    w = h = None
    n_frames = None
    frames: list[tuple[int, int, np.ndarray]] = []
    canvas = None
    pending: dict | None = None  # current fcTL awaiting its data
    data_parts: list[bytes] = []
    expected_seq = 0

    def compose():
        nonlocal canvas, pending, data_parts
        if pending is None:
            return
        rw, rh = pending["w"], pending["h"]
        raw = _inflate_exact(b"".join(data_parts), rh * (1 + rw * 3))
        arr = np.frombuffer(raw, np.uint8).reshape(rh, 1 + rw * 3)
        rect = _unfilter(arr, rh, rw, 3).reshape(rh, rw, 3)
        x, y = pending["x"], pending["y"]
        if x + rw > w or y + rh > h:
            raise ValueError("APNG frame rect exceeds canvas")
        pre = canvas.copy()
        canvas[y : y + rh, x : x + rw] = rect
        frames.append((pending["dn"], pending["dd"], canvas.copy()))
        if pending["dispose"] == 1:
            canvas[y : y + rh, x : x + rw] = 0
        elif pending["dispose"] == 2:
            canvas[:] = pre
        pending = None
        data_parts = []

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
            if h * w * 3 > _MAX_RAW_BYTES:  # before the canvas exists
                raise ValueError(f"APNG canvas {w}x{h} exceeds the decode budget")
            canvas = np.zeros((h, w, 3), np.uint8)
        elif tag == b"acTL":
            n_frames, _plays = struct.unpack(">II", body)
        elif tag == b"fcTL":
            compose()  # finish any previous frame
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
            compose()
            break
    if n_frames is None:
        raise ValueError("not an APNG (no acTL)")
    if len(frames) != n_frames:
        raise ValueError(
            f"acTL declares {n_frames} frames, stream carries {len(frames)}"
        )
    return frames
