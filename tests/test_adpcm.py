"""IMA-ADPCM codec tests (webcollector_spark/adpcm.py).

Correctness anchor: the stdlib's audioop.adpcm2lin is an INDEPENDENT
DVI/IMA implementation (CPython Modules/audioop.c, same step/index
tables from the IMA spec). The vectorized block decoder must match it
bit-exactly on arbitrary nibble streams from arbitrary initial state —
that pins the shift-cascade arithmetic, clamping, and nibble order
without trusting our own encoder.
"""

from __future__ import annotations

import struct
import warnings

import numpy as np
import pytest

from webcollector_spark import adpcm
from webcollector_spark.corpora import corpus

with warnings.catch_warnings():
    warnings.simplefilter("ignore", DeprecationWarning)
    import audioop


def _block_bytes(pred: int, idx: int, codes: np.ndarray) -> bytes:
    body = bytearray(struct.pack("<hBB", pred, idx, 0))
    for lo, hi in zip(codes[0::2], codes[1::2]):
        body.append(int(lo) | (int(hi) << 4))
    return bytes(body)


def _audioop_decode(pred: int, idx: int, codes: np.ndarray) -> np.ndarray:
    packed = bytes(
        (int(a) << 4) | int(b) for a, b in zip(codes[0::2], codes[1::2])
    )
    pcm, _ = audioop.adpcm2lin(packed, 2, (pred, idx))
    return np.frombuffer(pcm, dtype="<i2")


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_decode_matches_stdlib_on_random_streams(seed):
    rng = np.random.default_rng(seed)
    n_blocks, block_align = 5, 256
    n_codes = (block_align - 4) * 2
    blocks, want = [], []
    for _ in range(n_blocks):
        codes = rng.integers(0, 16, size=n_codes, dtype=np.uint8)
        pred = int(rng.integers(-32768, 32768))
        idx = int(rng.integers(0, 89))
        blocks.append(_block_bytes(pred, idx, codes))
        want.append(np.concatenate(([pred], _audioop_decode(pred, idx, codes))))
    n = n_blocks * adpcm.samples_per_block(block_align)
    got = adpcm.decode_blocks(b"".join(blocks), block_align, n)
    assert np.array_equal(got, np.concatenate(want).astype(np.int16))


def test_decode_extreme_state():
    """Clamp paths: saturated predictor + pinned step index, all-max and
    all-min nibbles."""
    block_align = 8  # minimal legal block: 7 codes + pad nibble
    for pred, idx, nib in [
        (32767, 88, 0x7),
        (-32768, 88, 0x7),
        (32767, 0, 0xF),
        (-32768, 0, 0xF),
        (0, 88, 0xF),
    ]:
        codes = np.full((block_align - 4) * 2, nib, dtype=np.uint8)
        got = adpcm.decode_blocks(
            _block_bytes(pred, idx, codes),
            block_align,
            adpcm.samples_per_block(block_align),
        )
        want = np.concatenate(([pred], _audioop_decode(pred, idx, codes)))
        assert np.array_equal(got, want.astype(np.int16))


def test_roundtrip_snr_smooth_waveforms():
    """The encoder's output decodes back within lossy-codec tolerance:
    IMA-ADPCM on smooth two-tone program material. 4 bits/sample ->
    ~25-30 dB typical; the corpus waveforms measure >= 24 dB."""
    from webcollector_spark.operators.media import adpcm_waveform

    for i, sr in [(0, 8000), (3, 16000), (6, 8000)]:
        wave = adpcm_waveform(i, sr, sr)  # 1 second
        pcm = np.clip(np.round(wave * 32767.0), -32768, 32767).astype(np.int64)
        body = adpcm.encode_blocks(pcm, block_align=256)
        rec = adpcm.decode_blocks(body, 256, len(pcm)).astype(np.float64)
        err = rec - pcm.astype(np.float64)
        snr = 10 * np.log10(np.mean(pcm**2) / np.mean(err**2))
        assert snr >= 24.0, f"clip {i}@{sr}: SNR {snr:.1f} dB"


def test_block_headers_reseed_state():
    """Each block is independently decodable — the property that makes
    the format shard-able: decoding blocks separately equals decoding
    the stream."""
    rng = np.random.default_rng(11)
    pcm = (rng.random(2000) * 20000 - 10000).astype(np.int64)
    body = adpcm.encode_blocks(pcm, block_align=64)
    spb = adpcm.samples_per_block(64)
    whole = adpcm.decode_blocks(body, 64, len(pcm))
    parts = [
        adpcm.decode_blocks(body[off : off + 64], 64, spb)
        for off in range(0, len(body), 64)
    ]
    assert np.array_equal(whole, np.concatenate(parts)[: len(pcm)])


def test_container_roundtrip_and_validation():
    wave = np.sin(np.linspace(0, 30, 5000)).astype(np.float32) * 0.4
    data = adpcm.encode_wav_ima(wave, 8000, block_align=256)
    # container invariants
    assert data[:4] == b"RIFF" and data[8:12] == b"WAVE"
    assert struct.unpack("<I", data[4:8])[0] == len(data) - 8
    # fmt code 0x11, mono, 4-bit
    i = data.index(b"fmt ")
    code, ch, sr, _br, ba, bits = struct.unpack("<HHIIHH", data[i + 8 : i + 24])
    assert (code, ch, sr, ba, bits) == (0x11, 1, 8000, 256, 4)
    # fact chunk carries the true (pre-padding) sample count
    i = data.index(b"fact")
    assert struct.unpack("<I", data[i + 8 : i + 12])[0] == len(wave)

    from webcollector_spark.operators.media import decode_audio_adpcm

    rec = decode_audio_adpcm("t", data, len(wave))
    assert rec.dtype == np.float32 and len(rec) == len(wave)
    assert float(np.abs(rec - wave).max()) < 0.05  # smooth signal tracks

    with pytest.raises(ValueError):
        adpcm.decode_blocks(b"\x00" * 63, 64, 1)  # not whole blocks
    with pytest.raises(ValueError):
        adpcm.decode_blocks(b"\x00" * 64, 64, 10_000)  # too many samples
    # stereo / other fmt codes are honestly unsupported
    bad = bytearray(data)
    j = data.index(b"fmt ") + 8
    bad[j : j + 2] = struct.pack("<H", 1)
    with pytest.raises(NotImplementedError):
        decode_audio_adpcm("t", bytes(bad), len(wave))


def test_spark_end_to_end_matches_committed_oracle(spark):
    """The registry row's full path: ADPCM corpus -> mapInPandas decode
    -> features, vs the committed audioop-built oracle parquet."""
    import pyarrow.parquet as pq

    from webcollector_spark.operators import media
    from webcollector_spark.plans.queries import _ORACLE_DIR

    got = (
        media.audio_features(corpus(spark, "adpcm"))
        .toPandas()
        .sort_values("audio_id")
        .reset_index(drop=True)
    )
    want = (
        pq.read_table(_ORACLE_DIR / "audio_features_adpcm.parquet")
        .to_pandas()
        .sort_values("audio_id")
        .reset_index(drop=True)
    )
    assert got.equals(want)
