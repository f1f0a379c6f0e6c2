"""RIFF container layer (webcollector_spark.riff): every RIFF writer
in the package (PCM16, mu-law and IMA-ADPCM WAV, AVI, WebP) emits a
size field of len - 8 and word-aligned chunks whose walk ends exactly
at EOF, and the one WAV parse reads what the one WAV writer wrote."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from webcollector_spark import adpcm, avi, riff, webp
from webcollector_spark.operators import media


def _wave(n: int) -> np.ndarray:
    return media.adpcm_waveform(3, 8000, n)


def _pixels(n: int) -> np.ndarray:
    return media.avi_demo_frame(n, 0, 8 + n % 5, 6 + n % 3)


WRITERS = {
    "pcm_wav": lambda n: media.encode_wav(_wave(n), 8000),
    "ulaw_wav": lambda n: media.encode_wav_ulaw(_wave(n), 8000),
    "ima_wav": lambda n: adpcm.encode_wav_ima(_wave(n), 8000),
    "avi": lambda n: avi.encode_avi_mjpeg([_pixels(n + i) for i in range(3)]),
    "webp": lambda n: webp.encode_webp_lossless(_pixels(n)),
}


@pytest.mark.parametrize("n", [8000, 8001, 8002, 8003])
@pytest.mark.parametrize("writer", sorted(WRITERS))
def test_riff_size_field_and_chunk_walk_end_at_eof(writer, n):
    data = WRITERS[writer](n)
    assert struct.unpack("<I", data[4:8])[0] == len(data) - 8
    end = 12
    for _tag, start, size in riff.walk(data, 12, len(data)):
        end = start + size + (size & 1)
    assert end == len(data)


def test_wav_parse_reads_the_writer_and_refuses_missing_chunks():
    fmt = riff.WavFormat(7, 1, 8000, 8000, 1, 8)
    data = riff.wav(fmt, b"\x01\x02\x03", n_samples=3)
    assert riff.read_wav(data) == (fmt, b"\x01\x02\x03")
    no_data = riff.chunk(b"RIFF", b"WAVE" + riff.chunk(b"fmt ", struct.pack("<HHIIHH", *fmt)))
    with pytest.raises(ValueError, match="no data chunk"):
        riff.read_wav(no_data)
    data_first = riff.chunk(b"RIFF", b"WAVE" + riff.chunk(b"data", b"\x00\x00"))
    with pytest.raises(ValueError, match="data chunk before fmt"):
        riff.read_wav(data_first)
    with pytest.raises(ValueError, match="not a RIFF/WAVE"):
        riff.read_wav(riff.chunk(b"RIFF", b"AVI " + riff.chunk(b"data", b"")))
