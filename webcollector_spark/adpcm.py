"""IMA ADPCM (DVI4 / WAV format code 0x11) codec — pure numpy.

A REAL compressed audio codec (4 bits/sample, 4:1 vs PCM16), the same
bitstream ffmpeg's `adpcm_ima_wav` mono encoder/decoder speaks:

* RIFF/WAVE container, fmt code 17, `fact` chunk with the true sample
  count, fixed `block_align`-byte blocks.
* Each mono block: 4-byte header (int16 LE predictor = the block's
  first output sample, uint8 step-table index, reserved byte), then
  (block_align - 4) bytes of 4-bit codes, LOW nibble first.
* Quantizer per IMA spec (step table of 89, index table {-1,-1,-1,-1,
  2,4,6,8}), predictor clamped to int16, index clamped to [0, 88].

Why this codec fits the engine: the sample recurrence is sequential,
but BLOCKS are independent — each block header carries the full decoder
state (predictor + step index). Decode therefore vectorizes across
blocks: one numpy pass per nibble position over ALL blocks of a clip at
once, so an Arrow batch of clips decodes in O(samples_per_block) numpy
ops regardless of clip count. That is the property that makes the
format shard-able at 100 TB — any byte range aligned to block_align is
independently decodable, the same reason production pipelines favor
block-coded media.

Deterministic (no RNG), stdlib + numpy only — safe inside Arrow-batched
pandas UDFs. Reference anchor: the reference treats fetched payloads as
opaque bytes + typed metadata (model/Page.java:323-330); decode lives
in the visitor layer, re-expressed here as mapInPandas kernels.
"""

from __future__ import annotations

import struct

import numpy as np

from webcollector_spark import riff

# fmt: off
STEP_TABLE = np.array([
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34,
    37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494,
    544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552,
    1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428,
    4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487,
    12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086,
    29794, 32767,
], dtype=np.int64)
# fmt: on
INDEX_TABLE = np.array([-1, -1, -1, -1, 2, 4, 6, 8], dtype=np.int64)

WAVE_FORMAT_IMA_ADPCM = 0x11


def samples_per_block(block_align: int) -> int:
    """Header sample + two 4-bit codes per remaining byte (mono)."""
    return (block_align - 4) * 2 + 1


def _diff(codes: np.ndarray, steps: np.ndarray) -> np.ndarray:
    """Reconstruction delta for 4-bit codes (sign bit 0x8 applied).
    Integer form of delta ~= (code+0.5) * step / 4, exactly as the
    IMA spec's shift cascade computes it."""
    d = steps >> 3
    d = d + np.where(codes & 4, steps, 0)
    d = d + np.where(codes & 2, steps >> 1, 0)
    d = d + np.where(codes & 1, steps >> 2, 0)
    return np.where(codes & 8, -d, d)


def decode_blocks(body: bytes, block_align: int, n_samples: int) -> np.ndarray:
    """ADPCM block stream -> int16 PCM, vectorized ACROSS blocks.

    One numpy step per nibble position, operating on every block at
    once — the per-sample recurrence only exists inside a block, and
    each block is self-seeded by its header."""
    if block_align < 8 or block_align % 4:
        raise ValueError(f"bad block_align {block_align}")
    if len(body) % block_align:
        raise ValueError(
            f"body ({len(body)} B) is not whole {block_align}-B blocks"
        )
    blocks = np.frombuffer(body, dtype=np.uint8).reshape(-1, block_align)
    nb = blocks.shape[0]
    spb = samples_per_block(block_align)
    if n_samples > nb * spb:
        raise ValueError(f"{n_samples} samples > {nb} blocks x {spb}")

    pred = (
        blocks[:, 0].astype(np.int64) | (blocks[:, 1].astype(np.int64) << 8)
    )
    pred = np.where(pred >= 0x8000, pred - 0x10000, pred)  # int16 LE
    index = np.clip(blocks[:, 2].astype(np.int64), 0, 88)

    payload = blocks[:, 4:]
    codes = np.empty((nb, (block_align - 4) * 2), dtype=np.uint8)
    codes[:, 0::2] = payload & 0x0F  # low nibble first (RIFF spec)
    codes[:, 1::2] = payload >> 4

    out = np.empty((nb, spb), dtype=np.int16)
    out[:, 0] = pred
    for t in range(spb - 1):
        c = codes[:, t].astype(np.int64)
        pred = np.clip(pred + _diff(c, STEP_TABLE[index]), -32768, 32767)
        index = np.clip(index + INDEX_TABLE[c & 7], 0, 88)
        out[:, t + 1] = pred
    return out.reshape(-1)[:n_samples]


def encode_blocks(pcm: np.ndarray, block_align: int = 256) -> bytes:
    """int16 PCM -> ADPCM block stream (mono). The step index persists
    across blocks (each header snapshots it), matching ffmpeg; the
    final partial block is padded by repeating the last sample, and the
    true length travels in the container's `fact` chunk."""
    pcm = np.asarray(pcm, dtype=np.int64)
    spb = samples_per_block(block_align)
    if len(pcm) == 0:
        raise ValueError("empty waveform")
    nb = -(-len(pcm) // spb)
    padded = np.full(nb * spb, pcm[-1], dtype=np.int64)
    padded[: len(pcm)] = pcm
    grid = padded.reshape(nb, spb)

    # Encode is inherently sequential (the quantizer needs the evolving
    # predictor) and the step index persists across blocks, so this is
    # one scalar walk. That is fine: encode is FIXTURE-side — corpora
    # are built once on the driver; the distributed hot path only
    # decodes, and decode is the vectorized one.
    return _encode_walk(grid, spb)


def _quantize_scalar(sample: int, pred: int, index: int):
    step = int(STEP_TABLE[index])
    delta = sample - pred
    code = 8 if delta < 0 else 0
    delta = abs(delta)
    if delta >= step:
        code |= 4
        delta -= step
    if delta >= step >> 1:
        code |= 2
        delta -= step >> 1
    if delta >= step >> 2:
        code |= 1
    d = step >> 3
    if code & 4:
        d += step
    if code & 2:
        d += step >> 1
    if code & 1:
        d += step >> 2
    pred = pred - d if code & 8 else pred + d
    pred = max(-32768, min(32767, pred))
    index = max(0, min(88, index + int(INDEX_TABLE[code & 7])))
    return code, pred, index, int(STEP_TABLE[index])


def _encode_walk(grid: np.ndarray, spb: int) -> bytes:
    out = bytearray()
    idx = 0
    for b in range(grid.shape[0]):
        pred = int(grid[b, 0])
        out += struct.pack("<hBB", pred, idx, 0)
        nibbles = []
        for t in range(spb - 1):
            code, pred, idx, _ = _quantize_scalar(int(grid[b, t + 1]), pred, idx)
            nibbles.append(code)
        for lo, hi in zip(nibbles[0::2], nibbles[1::2]):
            out.append(lo | (hi << 4))
    return bytes(out)


def encode_wav_ima(
    wave: np.ndarray, sample_rate: int, block_align: int = 256
) -> bytes:
    """float32 [-1,1] mono -> RIFF/WAVE IMA-ADPCM bytes (fmt 0x11,
    cbSize=2 samples-per-block extension, fact chunk). Fixture-side
    twin of media.decode_audio_adpcm."""
    pcm = np.clip(np.round(np.asarray(wave) * 32767.0), -32768, 32767).astype(
        np.int64
    )
    body = encode_blocks(pcm, block_align)
    spb = samples_per_block(block_align)
    byte_rate = sample_rate * block_align // spb  # approx, per spec
    fmt = riff.WavFormat(
        WAVE_FORMAT_IMA_ADPCM, 1, sample_rate, byte_rate, block_align, 4
    )
    return riff.wav(fmt, body, extension=struct.pack("<H", spb), n_samples=len(pcm))
