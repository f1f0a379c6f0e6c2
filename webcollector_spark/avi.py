"""Minimal RIFF/AVI container codec for MJPEG video — pure Python.

Web crawls fetch video as CONTAINERS, not naked frame streams: the
payload carries its own structure (header LIST with frame count /
dims / rate, a 'movi' LIST of per-frame chunks, an optional 'idx1'
index), and a real pipeline must parse that structure and cross-check
it against the row's typed metadata instead of trusting either side.
This module supplies both directions over the repo's REAL baseline-JPEG
codec (webcollector_spark.jpeg — DCT + canonical Huffman):

* `encode_avi_mjpeg(frames, fps)` — spec-shaped writer: RIFF('AVI ')
  -> LIST('hdrl': 'avih' main header + LIST('strl': 'strh' vids/MJPG
  stream header + 'strf' BITMAPINFOHEADER)) -> LIST('movi': one '00dc'
  chunk per frame, word-aligned) -> 'idx1' (one 16-byte keyframe entry
  per chunk, offsets relative to the 'movi' list data start, the
  convention players expect).
* `decode_avi_mjpeg(data)` — tolerant reader: takes dims/frame-count/
  rate from 'avih'/'strh', skips JUNK/unknown chunks (writers pad with
  JUNK for CD sector alignment), accepts both '00dc' (compressed) and
  '00db' (uncompressed-flagged, still JPEG in MJPG files) frame chunks
  inside 'movi' — including the nested LIST('rec ') grouping some
  muxers emit — and yields each payload decoded with the real JPEG
  decoder, one frame at a time, checked against the avih dims and
  declared frame count. Never scans for JPEG magic bytes: chunk sizes
  define frame boundaries.

Both directions speak RIFF through webcollector_spark.riff, the one
chunk walk and writer WAV and WebP share.

Layout reference: the public Microsoft AVI RIFF specification
(AVIMAINHEADER / AVISTREAMHEADER / BITMAPINFOHEADER / idx1) — widely
mirrored, e.g. in ffmpeg's riff demuxer. Everything here is
deterministic and dependency-free, so it is safe inside Arrow batches.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np

from webcollector_spark import riff

_AVIIF_KEYFRAME = 0x10


def encode_avi_mjpeg(
    frames: list[np.ndarray], fps: float = 24.0, quality: int = 98
) -> bytes:
    """HxWx3 uint8 frames -> AVI/MJPG bytes (one '00dc' JPEG per frame,
    idx1 index included)."""
    from webcollector_spark import jpeg

    if not frames:
        raise ValueError("AVI needs at least one frame")
    h, w = frames[0].shape[:2]
    payloads = [jpeg.encode_baseline(f, quality) for f in frames]

    # stream timing as a rational: scale=1000, rate=fps*1000 (exact for
    # the fixture fps values; the reader recovers fps = rate/scale)
    scale, rate = 1000, int(round(fps * 1000))
    max_bytes = max(len(p) for p in payloads)

    avih = struct.pack(
        "<14I",
        int(round(1_000_000 * scale / rate)),  # dwMicroSecPerFrame
        int(max_bytes * fps),                  # dwMaxBytesPerSec (advisory)
        0,                                     # dwPaddingGranularity
        0x10,                                  # dwFlags: AVIF_HASINDEX
        len(frames),                           # dwTotalFrames
        0,                                     # dwInitialFrames
        1,                                     # dwStreams
        max_bytes,                             # dwSuggestedBufferSize
        w,
        h,
        0, 0, 0, 0,                            # dwReserved[4]
    )
    strh = (
        b"vids"
        + b"MJPG"
        + struct.pack(
            "<IHHIIIIIIIi4H",
            0, 0, 0,        # dwFlags, wPriority, wLanguage
            0,              # dwInitialFrames
            scale, rate,    # dwScale, dwRate
            0,              # dwStart
            len(frames),    # dwLength (in frames)
            max_bytes,      # dwSuggestedBufferSize
            0,              # dwQuality
            -1,             # dwSampleSize (-1: varies per frame... 0 is
                            # also common; readers ignore it for video)
            0, 0, w, h,     # rcFrame
        )
    )
    strf = struct.pack(
        "<I2i2H2I2i2I",
        40, w, h, 1, 24,               # biSize..biBitCount
        0x47504A4D,                    # biCompression = 'MJPG' (LE fourcc)
        w * h * 3, 0, 0, 0, 0,
    )
    strl = riff.chunk(b"LIST", b"strl" + riff.chunk(b"strh", strh) + riff.chunk(b"strf", strf))
    hdrl = riff.chunk(b"LIST", b"hdrl" + riff.chunk(b"avih", avih) + strl)

    movi_payload = bytearray()
    idx = bytearray()
    for p in payloads:
        # idx1 offsets point at the chunk TAG, relative to the 'movi'
        # fourcc position (offset 0 = the fourcc itself => first chunk
        # at 4) — the convention ffmpeg/VfW emit and expect.
        idx += b"00dc" + struct.pack(
            "<III", _AVIIF_KEYFRAME, 4 + len(movi_payload), len(p)
        )
        movi_payload += riff.chunk(b"00dc", p)
    movi = riff.chunk(b"LIST", b"movi" + movi_payload)
    return riff.chunk(b"RIFF", b"AVI " + hdrl + movi + riff.chunk(b"idx1", bytes(idx)))


def decode_avi_mjpeg(
    data: bytes,
) -> tuple[int, int, float, int, Iterator[np.ndarray]]:
    """AVI bytes -> (w, h, fps, declared_frames, frames), where `frames`
    yields the decoded RGB frames one at a time.

    Dims/count/rate come from the container's own headers, and the
    frames are checked against them: each frame must be avih's w x h,
    and the 'movi' list must carry exactly the declared count (refused
    at the first extra chunk, before it is decoded). The caller checks
    the container against row metadata. Raises on a non-AVI RIFF or a
    missing header at once, and on a frame chunk that is not baseline
    JPEG when that frame is reached."""
    from webcollector_spark import jpeg

    w = h = n_declared = 0
    fps = 0.0
    movi: list[tuple[int, int]] = []
    for tag, start, size in riff.chunks(data, b"AVI ", "RIFF/AVI"):
        if tag == b"hdrl":
            for t2, s2, z2 in riff.walk(data, start, start + size):
                if t2 == b"avih" and z2 >= 40:
                    vals = struct.unpack("<10I", data[s2 : s2 + 40])
                    n_declared, w, h = vals[4], vals[8], vals[9]
                elif t2 == b"strl":
                    for t3, s3, z3 in riff.walk(data, s2, s2 + z2):
                        if t3 == b"strh" and z3 >= 32:
                            fcc = data[s3 : s3 + 4]
                            scale, rate = struct.unpack(
                                "<II", data[s3 + 20 : s3 + 28]
                            )
                            if fcc == b"vids" and scale:
                                fps = rate / scale
        elif tag == b"movi":
            movi.append((start, start + size))
        # idx1 / JUNK / INFO: not needed for a sequential decode
    if w == 0 or h == 0:
        raise ValueError("AVI missing avih main header")

    def frame_chunks(pos: int, end: int) -> Iterator[tuple[int, int]]:
        for tag, start, size in riff.walk(data, pos, end):
            if tag == b"rec ":  # nested grouping LIST some muxers emit
                yield from frame_chunks(start, start + size)
            elif tag[2:4] in (b"dc", b"db"):
                yield start, size
            # ix## sub-indexes / JUNK: skipped

    def frames() -> Iterator[np.ndarray]:
        carried = 0
        for pos, end in movi:
            for start, size in frame_chunks(pos, end):
                if carried == n_declared:
                    raise ValueError(
                        f"container declares {n_declared} frames, carries more"
                    )
                frame = jpeg.decode_baseline(data[start : start + size])
                if frame.shape[:2] != (h, w):
                    raise ValueError(
                        f"frame {carried} is {frame.shape[1]}x{frame.shape[0]}, "
                        f"container says {w}x{h}"
                    )
                carried += 1
                yield frame
        if carried != n_declared:
            raise ValueError(
                f"container declares {n_declared} frames, carries {carried}"
            )

    return int(w), int(h), float(fps), int(n_declared), frames()
