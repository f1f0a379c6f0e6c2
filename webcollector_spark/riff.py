"""RIFF container grammar — the one chunk walk and writer behind WAV,
AVI and WebP.

A RIFF file is one chunk: tag ``RIFF``, a little-endian u32 size, a
four-byte form type (``WAVE``, ``AVI ``, ``WEBP``) and the form's
chunks. Every chunk is tag + u32 payload size + payload, plus one pad
byte after an odd payload (not counted in the size), so chunks start
on word boundaries. A ``LIST`` chunk's payload is a four-byte list
kind followed by more chunks. The WAVE helpers hold the one WAV
writer and the one ``fmt ``/``data`` parse; the PCM16, mu-law and
IMA-ADPCM codecs differ only in the format fields and the sample
kernel around them.

Layout reference: the Microsoft RIFF and WAVE specifications (the
``WAVEFORMATEX`` fmt layout, the fact chunk for non-PCM data).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator
from typing import NamedTuple


def walk(data: bytes, pos: int, end: int) -> Iterator[tuple[bytes, int, int]]:
    """Yield (tag, payload_start, payload_size) for each chunk in
    [pos, end); LIST chunks are yielded as (list-kind, children_start,
    children_size) so callers recurse by kind."""
    while pos + 8 <= end:
        tag = data[pos : pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        start = pos + 8
        if tag == b"LIST" and size >= 4:
            yield data[start : start + 4], start + 4, size - 4
        else:
            yield tag, start, size
        pos = start + size + (size & 1)  # chunks are word-aligned


def chunks(data: bytes, form: bytes, name: str) -> Iterator[tuple[bytes, int, int]]:
    """The top-level chunks of a RIFF file of `form` type; ValueError
    naming `name` when the header is not RIFF/`form`."""
    if data[:4] != b"RIFF" or data[8:12] != form:
        raise ValueError(f"not a {name} file")
    return walk(data, 12, len(data))


def chunk(tag: bytes, payload: bytes) -> bytes:
    """One chunk: tag + u32 size + payload + a pad byte to word-align
    an odd payload (the pad is not counted in the size)."""
    pad = b"\0" if len(payload) & 1 else b""
    return tag + struct.pack("<I", len(payload)) + payload + pad


class WavFormat(NamedTuple):
    """The fixed 16 bytes of a WAVE ``fmt `` chunk (WAVEFORMATEX)."""

    code: int
    channels: int
    rate: int
    byte_rate: int
    block_align: int
    bits: int


def wav(
    fmt: WavFormat, samples: bytes, extension: bytes | None = None,
    n_samples: int | None = None,
) -> bytes:
    """A WAVE file: ``fmt `` (with a cbSize-prefixed `extension` when
    given), a ``fact`` chunk holding `n_samples` when given (non-PCM
    formats must carry one), then ``data``."""
    fmt_body = struct.pack("<HHIIHH", *fmt)
    if extension is not None:
        fmt_body += struct.pack("<H", len(extension)) + extension
    fact = b"" if n_samples is None else chunk(b"fact", struct.pack("<I", n_samples))
    return chunk(
        b"RIFF", b"WAVE" + chunk(b"fmt ", fmt_body) + fact + chunk(b"data", samples)
    )


def read_wav(data: bytes) -> tuple[WavFormat, bytes]:
    """A WAVE file's format fields and its first ``data`` payload.
    Tolerates any other chunks (LIST, fact, ...) before ``data``, so it
    reads what any standard writer emits; ValueError when the file is
    not RIFF/WAVE, has no ``data`` chunk, or has it before ``fmt ``."""
    fmt = None
    for tag, start, size in chunks(data, b"WAVE", "RIFF/WAVE"):
        if tag == b"fmt ":
            fmt = WavFormat(*struct.unpack("<HHIIHH", data[start : start + min(size, 16)]))
        elif tag == b"data":
            if fmt is None:
                raise ValueError("data chunk before fmt")
            return fmt, data[start : start + size]
    raise ValueError("no data chunk")
