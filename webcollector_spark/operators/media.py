"""Audio/video multimodal plumbing.

The container has no media codec LIBRARIES (no PIL/ffmpeg/librosa —
verified), so compressed formats (h264, mp3, ...) stay behind a
clearly-marked deterministic fake. But the codec SEAM itself is real
and exercised: this module also ships genuine pure-Python decoders for
two uncompressed production formats —

* **WAV** (RIFF PCM16) — what `ffmpeg -f wav -acodec pcm_s16le` emits;
  `decode_audio_real` walks the RIFF chunks and returns the float32
  waveform.
* **PPM stream** (concatenated binary P6 frames) — byte-for-byte what
  `ffmpeg -f image2pipe -vcodec ppm` emits; `decode_video_real` parses
  each maxval-255 P6 header + raster and yields HxWx3 uint8 frames.

…plus two REAL COMPRESSED video paths built on the repo's own baseline
JPEG codec: **MJPEG** (concatenated SOI..EOI frames, boundaries from
the marker structure) and **AVI** (MJPEG inside a real RIFF/AVI
container — webcollector_spark.avi walks the RIFF tree and the
container's own headers are cross-checked against the row metadata).

Every operator dispatches per row on the `fmt` column (`_VIDEO_CODECS`
/ `_AUDIO_CODECS`), so a single DataFrame can mix fake and real
payloads and an unknown fmt raises NotImplementedError — the
production swap for compressed formats is one registry entry, same
one-file-swap contract as the image codecs (codecs.py). Reference
analogue: the fetch path's pluggable Requester
(fetcher/Executor.java:26-28) — the kernel is injected, the dataflow
around it is fixed.
"""

from __future__ import annotations

import struct

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from webcollector_spark.session import map_rows

# input_hint generalized: opaque payload + typed metadata
VIDEO_SCHEMA = T.StructType(
    [
        T.StructField("video_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), False),
        T.StructField("n_frames", T.IntegerType(), False),
        T.StructField("fps", T.DoubleType(), False),
        T.StructField("w", T.IntegerType(), False),
        T.StructField("h", T.IntegerType(), False),
        T.StructField("fmt", T.StringType(), False),
        T.StructField("caption", T.StringType(), True),
    ]
)

AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("audio_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), False),
        T.StructField("sample_rate", T.IntegerType(), False),
        T.StructField("n_samples", T.IntegerType(), False),
        T.StructField("fmt", T.StringType(), False),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("video_id", T.StringType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("ts_sec", T.DoubleType(), False),
        T.StructField("frame_mean", T.DoubleType(), False),
        T.StructField("frame_hash", T.LongType(), False),
    ]
)

AUDIO_FEAT_SCHEMA = T.StructType(
    [
        T.StructField("audio_id", T.StringType(), False),
        T.StructField("duration_sec", T.DoubleType(), False),
        T.StructField("rms", T.DoubleType(), False),
        T.StructField("zero_crossings", T.LongType(), False),
    ]
)


def _decode_video_stub(video_id: str, data: bytes, n_frames: int, w: int, h: int):
    """DETERMINISTIC FAKE video decoder (no codecs in sandbox).

    Yields (frame_idx, HxWx3 uint8) frames derived from a seeded RNG so
    tests can recompute ground truth. Production: replace with ffmpeg.
    """
    seed = int.from_bytes(data[:8].ljust(8, b"\0"), "big") ^ len(data)
    for i in range(n_frames):
        rng = np.random.default_rng((seed + i) & 0xFFFFFFFF)
        yield i, rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


def _decode_audio_stub(audio_id: str, data: bytes, n_samples: int) -> np.ndarray:
    """DETERMINISTIC FAKE audio decoder -> float32 waveform in [-1, 1].
    Production: replace with librosa/soundfile."""
    seed = int.from_bytes(data[:8].ljust(8, b"\0"), "big") ^ n_samples
    rng = np.random.default_rng(seed & 0xFFFFFFFF)
    return (rng.random(n_samples, dtype=np.float32) * 2.0 - 1.0)


def encode_ppm_stream(frames: list[np.ndarray]) -> bytes:
    """Concatenated binary-P6 stream — the `ffmpeg -f image2pipe
    -vcodec ppm` wire format (header `P6\\n{w} {h}\\n255\\n` + raw RGB
    raster per frame). Fixture-side twin of `decode_video_real`."""
    out = bytearray()
    for fr in frames:
        h, w, c = fr.shape
        assert c == 3 and fr.dtype == np.uint8
        out += f"P6\n{w} {h}\n255\n".encode()
        out += fr.tobytes()
    return bytes(out)


def decode_video_real(video_id: str, data: bytes, n_frames: int, w: int, h: int):
    """REAL decoder for a concatenated binary-P6 (PPM) frame stream.

    Pure Python/numpy, no external libs; parses exactly what ffmpeg's
    image2pipe/ppm output (or `encode_ppm_stream`) produces: per frame
    a `P6`, whitespace-separated width/height, maxval 255, single
    whitespace byte, then w*h*3 bytes of raw RGB. Yields
    (frame_idx, HxWx3 uint8) like the stub, and cross-checks the frame
    dimensions against the row's typed metadata.
    """
    pos = 0
    for i in range(n_frames):
        if data[pos : pos + 2] != b"P6":
            raise ValueError(f"{video_id}: frame {i}: not a P6 header at {pos}")
        pos += 2
        fields = []
        while len(fields) < 3:
            # skip whitespace and `#` comment lines between header fields
            while pos < len(data) and data[pos : pos + 1].isspace():
                pos += 1
            if data[pos : pos + 1] == b"#":
                while data[pos : pos + 1] not in (b"\n", b""):
                    pos += 1
                continue
            start = pos
            while pos < len(data) and not data[pos : pos + 1].isspace():
                pos += 1
            fields.append(int(data[start:pos]))
        pos += 1  # the single whitespace byte after maxval
        fw, fh, maxval = fields
        if maxval != 255:
            raise NotImplementedError(f"{video_id}: only maxval-255 P6 supported")
        if (fw, fh) != (w, h):
            raise ValueError(
                f"{video_id}: frame {i} is {fw}x{fh}, metadata says {w}x{h}"
            )
        raster = np.frombuffer(data, dtype=np.uint8, count=fh * fw * 3, offset=pos)
        pos += fh * fw * 3
        yield i, raster.reshape(fh, fw, 3).copy()


def encode_mjpeg_stream(frames: list[np.ndarray], quality: int = 98) -> bytes:
    """Concatenated baseline-JPEG frames — the MJPEG wire shape (each
    frame a complete SOI..EOI image, back to back). Fixture-side twin
    of `decode_video_mjpeg`; REAL compression (DCT + Huffman), unlike
    the zlib containers."""
    from webcollector_spark import jpeg

    return b"".join(jpeg.encode_baseline(f, quality) for f in frames)


def decode_video_mjpeg(video_id: str, data: bytes, n_frames: int, w: int, h: int):
    """REAL decoder for an MJPEG-style concatenated baseline-JPEG frame
    stream (webcollector_spark.jpeg — DCT + canonical Huffman, parsed
    from the bitstream, not assumed). Frame boundaries come from the
    marker structure (`decode_baseline_at` returns the offset past each
    EOI), never from searching for magic bytes — 0xFFD9 can legally
    occur inside table payloads. Yields (frame_idx, HxWx3 uint8) and
    cross-checks dimensions against the row's typed metadata."""
    from webcollector_spark import jpeg

    pos = 0
    for i in range(n_frames):
        frame, pos = jpeg.decode_baseline_at(data, pos)
        fh, fw = frame.shape[:2]
        if (fw, fh) != (w, h):
            raise ValueError(
                f"{video_id}: frame {i} is {fw}x{fh}, metadata says {w}x{h}"
            )
        yield i, frame


def decode_video_avi(video_id: str, data: bytes, n_frames: int, w: int, h: int):
    """REAL decoder for MJPEG inside a REAL RIFF/AVI container
    (webcollector_spark.avi): the container's own headers (avih dims +
    frame count, strh rate) are parsed and CROSS-CHECKED against the
    row's typed metadata — a crawl must trust neither side alone.
    Frame boundaries come from the '00dc' chunk sizes, never from
    scanning for JPEG magic. Yields (frame_idx, HxWx3 uint8)."""
    from webcollector_spark import avi

    cw, ch, _fps, n_declared, frames = avi.decode_avi_mjpeg(data)
    if (cw, ch) != (w, h):
        raise ValueError(
            f"{video_id}: container says {cw}x{ch}, metadata says {w}x{h}"
        )
    if n_declared != n_frames or len(frames) != n_frames:
        raise ValueError(
            f"{video_id}: container declares {n_declared} frames, "
            f"carries {len(frames)}, metadata says {n_frames}"
        )
    for i, fr in enumerate(frames):
        yield i, fr


def decode_video_gif(video_id: str, data: bytes, n_frames: int, w: int, h: int):
    """REAL decoder for animated GIF89a (webcollector_spark.gif): LZW
    rasters composed onto the logical-screen canvas through the
    transparency/disposal rendering model, sub-rect delta frames and
    interlace included — the web's most common animation payload.
    Cross-checks the logical screen size and frame count against the
    row's typed metadata. Yields (frame_idx, HxWx3 uint8)."""
    from webcollector_spark import gif as gif_codec

    frames = gif_codec.decode_gif_frames(data)
    if len(frames) != n_frames:
        raise ValueError(
            f"{video_id}: container carries {len(frames)} frames, "
            f"metadata says {n_frames}"
        )
    for i, (_delay, fr) in enumerate(frames):
        fh, fw = fr.shape[:2]
        if (fw, fh) != (w, h):
            raise ValueError(
                f"{video_id}: frame {i} is {fw}x{fh}, metadata says {w}x{h}"
            )
        yield i, fr


def decode_video_apng(video_id: str, data: bytes, n_frames: int, w: int, h: int):
    """REAL decoder for animated PNG (webcollector_spark.apng): fcTL/
    fdAT sub-rect frames composed through the APNG rendering model
    (dispose none/background/previous), scanline filters inverted by
    the shared PNG machinery. Cross-checks canvas size and frame count
    against the row's typed metadata."""
    from webcollector_spark import apng as apng_codec

    frames = apng_codec.decode_apng(data)
    if len(frames) != n_frames:
        raise ValueError(
            f"{video_id}: container carries {len(frames)} frames, "
            f"metadata says {n_frames}"
        )
    for i, (_dn, _dd, fr) in enumerate(frames):
        fh, fw = fr.shape[:2]
        if (fw, fh) != (w, h):
            raise ValueError(
                f"{video_id}: frame {i} is {fw}x{fh}, metadata says {w}x{h}"
            )
        yield i, fr


def apng_corpus_rows(
    n: int = 10, n_frames: int = 6, w: int = 32, h: int = 24
) -> list[dict]:
    """Row dicts for the APNG corpus (the oracle-sharing convention).
    Frames are the FULL-COLOR smooth AVI pattern — APNG's 24-bit
    advantage over GIF's palette — and every third clip cycles the
    dispose ops so composition, not just happy deltas, is exercised."""
    from webcollector_spark import apng as apng_codec

    rows = []
    for c in range(n):
        fps = [10.0, 20.0, 25.0][c % 3]
        frames = [avi_demo_frame(c, i, w, h) for i in range(n_frames)]
        disposes = (
            [(0, 1, 2)[i % 3] for i in range(n_frames)] if c % 3 == 2 else None
        )
        rows.append(
            {
                "video_id": f"apng{c:06d}",
                "bytes": apng_codec.encode_apng(
                    frames,
                    delays=[(1, int(fps))] * n_frames,
                    disposes=disposes,
                ),
                "n_frames": n_frames,
                "fps": fps,
                "w": w,
                "h": h,
                "fmt": "apng",
                "caption": f"caption of apng{c:06d}",
            }
        )
    return rows


def make_apng_video_corpus(spark: SparkSession, n: int = 10) -> DataFrame:
    """Video table whose payloads are REAL animated PNG (fmt='apng'):
    24-bit frames, delta sub-rects, mixed dispose ops."""
    rows = [
        (
            r["video_id"], r["bytes"], r["n_frames"], r["fps"],
            r["w"], r["h"], r["fmt"], r["caption"],
        )
        for r in apng_corpus_rows(n)
    ]
    return spark.createDataFrame(rows, schema=VIDEO_SCHEMA)


def gif_anim_frame(clip: int, i: int, w: int = 32, h: int = 24) -> np.ndarray:
    """Deterministic paletted animation frame: the AVI demo pattern
    posterized to 6 levels/channel (<= 216 unique colors across ALL
    frames, so one global GIF palette always fits) with a moving
    sprite, giving real sub-rect deltas for the encoder to exploit.
    Shared by the Spark fixture and the oracle rebuild."""
    base = avi_demo_frame(clip, 0, w, h) // 43 * 43  # static backdrop
    x0 = (3 * i + 2 * clip) % max(w - 8, 1)
    y0 = (2 * i + clip) % max(h - 6, 1)
    base[y0 : y0 + 6, x0 : x0 + 8] = (43 * ((i + clip) % 6), 86, 172)
    return base.astype(np.uint8)


def gif_corpus_rows(
    n: int = 10, n_frames: int = 6, w: int = 32, h: int = 24
) -> list[dict]:
    """Row dicts for the animated-GIF corpus — shared by the Spark
    fixture and tools/build_multimodal_oracles.py so the committed
    oracle and the engine see identical container bytes. Every third
    clip cycles the disposal methods (1 leave, 2 background, 3
    previous) so the composition path, not just the happy delta path,
    is exercised by the registry row."""
    from webcollector_spark import gif as gif_codec

    rows = []
    for c in range(n):
        fps = [10.0, 20.0, 25.0][c % 3]
        frames = [gif_anim_frame(c, i, w, h) for i in range(n_frames)]
        disposals = (
            [(1, 2, 3)[i % 3] for i in range(n_frames)] if c % 3 == 2 else None
        )
        rows.append(
            {
                "video_id": f"gifv{c:06d}",
                "bytes": gif_codec.encode_gif89a_anim(
                    frames,
                    delays_cs=[int(round(100.0 / fps))] * n_frames,
                    disposals=disposals,
                ),
                "n_frames": n_frames,
                "fps": fps,
                "w": w,
                "h": h,
                "fmt": "gif",
                "caption": f"caption of gifv{c:06d}",
            }
        )
    return rows


def make_gif_video_corpus(spark: SparkSession, n: int = 10) -> DataFrame:
    """Video table whose payloads are REAL animated GIF89a (fmt='gif'):
    LZW + transparency delta sub-rects + mixed disposal methods."""
    rows = [
        (
            r["video_id"], r["bytes"], r["n_frames"], r["fps"],
            r["w"], r["h"], r["fmt"], r["caption"],
        )
        for r in gif_corpus_rows(n)
    ]
    return spark.createDataFrame(rows, schema=VIDEO_SCHEMA)


def avi_demo_frame(clip: int, i: int, w: int = 32, h: int = 24) -> np.ndarray:
    """Deterministic smooth frame (moving two-phase gradient, seeded by
    clip and frame index): smooth enough that baseline JPEG holds
    PSNR >= 40 dB, with real inter-frame motion so scene-cut deltas are
    non-trivial. Shared by the Spark fixture and the single-process
    oracle rebuild so both sides encode the exact same pixels."""
    y, x = np.mgrid[0:h, 0:w].astype(np.float64)
    r = 128 + 90 * np.sin(2 * np.pi * (x / w + i * 0.07 + clip * 0.13))
    g = 128 + 90 * np.cos(2 * np.pi * (y / h - i * 0.05 + clip * 0.11))
    b = (x + y + 3.0 * i + 7.0 * clip) % 256
    return np.clip(np.stack([r, g, b], axis=-1), 0, 255).astype(np.uint8)


def avi_corpus_rows(
    n: int = 8, n_frames: int = 6, w: int = 32, h: int = 24
) -> list[dict]:
    """Row dicts for the AVI/MJPG corpus — shared by the Spark fixture
    and tools/build_multimodal_oracles.py (the adpcm_corpus_rows
    convention), so the committed oracle and the engine see identical
    container bytes."""
    from webcollector_spark import avi

    rows = []
    for c in range(n):
        fps = [12.0, 24.0, 30.0][c % 3]
        frames = [avi_demo_frame(c, i, w, h) for i in range(n_frames)]
        rows.append(
            {
                "video_id": f"avi{c:06d}",
                "bytes": avi.encode_avi_mjpeg(frames, fps=fps),
                "n_frames": n_frames,
                "fps": fps,
                "w": w,
                "h": h,
                "fmt": "avi",
                "caption": f"caption of avi{c:06d}",
            }
        )
    return rows


def make_avi_video_corpus(spark: SparkSession, n: int = 8) -> DataFrame:
    """Video table whose payloads are REAL RIFF/AVI containers of REAL
    baseline-JPEG frames (fmt='avi') — compressed video in a standard
    container, end to end."""
    rows = [
        (
            r["video_id"], r["bytes"], r["n_frames"], r["fps"],
            r["w"], r["h"], r["fmt"], r["caption"],
        )
        for r in avi_corpus_rows(n)
    ]
    return spark.createDataFrame(rows, schema=VIDEO_SCHEMA)


def encode_wav(wave: np.ndarray, sample_rate: int) -> bytes:
    """float32 [-1,1] mono waveform -> RIFF/WAVE PCM16 bytes (the
    canonical 44-byte-header layout). Fixture-side twin of
    `decode_audio_real`."""
    pcm = np.clip(np.round(wave * 32767.0), -32768, 32767).astype("<i2")
    body = pcm.tobytes()
    hdr = b"WAVE" + b"fmt " + struct.pack(
        "<IHHIIHH", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16
    ) + b"data" + struct.pack("<I", len(body))
    return b"RIFF" + struct.pack("<I", 4 + len(hdr) - 4 + len(body)) + hdr + body


def decode_audio_real(audio_id: str, data: bytes, n_samples: int) -> np.ndarray:
    """REAL decoder for RIFF/WAVE PCM (16-bit mono) -> float32 [-1,1].

    Walks the RIFF chunk list (tolerates extra chunks like LIST/fact
    before `data`), so it reads what any standard WAV writer emits —
    not just `encode_wav`'s minimal layout.
    """
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError(f"{audio_id}: not a RIFF/WAVE file")
    pos, bits, channels = 12, None, None
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + size]
        if tag == b"fmt ":
            fmt_code, channels, _sr, _br, _ba, bits = struct.unpack(
                "<HHIIHH", body[:16]
            )
            if fmt_code != 1 or channels != 1 or bits != 16:
                raise NotImplementedError(
                    f"{audio_id}: only PCM16 mono supported "
                    f"(fmt={fmt_code}, ch={channels}, bits={bits})"
                )
        elif tag == b"data":
            if bits is None:
                raise ValueError(f"{audio_id}: data chunk before fmt")
            pcm = np.frombuffer(body, dtype="<i2")
            if len(pcm) < n_samples:
                raise ValueError(
                    f"{audio_id}: {len(pcm)} samples in file, "
                    f"metadata says {n_samples}"
                )
            return (pcm[:n_samples].astype(np.float32)) / 32767.0
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    raise ValueError(f"{audio_id}: no data chunk")


_ULAW_BIAS = 0x84  # decode-table bias (the 16-bit expansion side)


def ulaw_encode(pcm: np.ndarray) -> np.ndarray:
    """int16 linear -> G.711 mu-law bytes, the Sun g711.c 14-bit form
    (the variant the stdlib's audioop implements): arithmetic >>2 to 14
    bits FIRST (so negatives floor before negation — the detail that
    distinguishes the faithful variants), clip 8159, bias 33, 8 log
    segments, 4-bit mantissa, result XOR-masked. Vectorized; bit-exact
    vs audioop.lin2ulaw over the full int16 sweep (tests/test_ulaw.py)."""
    x14 = (pcm.astype(np.int16) >> 2).astype(np.int64)  # arithmetic shift
    mask = np.where(x14 < 0, 0x7F, 0xFF).astype(np.int64)
    x = np.where(x14 < 0, -x14, x14)
    x = np.minimum(x, 8159) + 33
    # segment = bit_length(x) - 6 (seg ends 0x3F..0x1FFF); frexp's
    # exponent IS bit_length for positive ints exact in float64
    seg = (np.frexp(x.astype(np.float64))[1] - 6).astype(np.int64)
    uval = np.where(
        seg >= 8,
        np.int64(0x7F),
        (seg << 4) | ((x >> (seg + 1)) & 0xF),
    )
    return ((uval ^ mask) & 0xFF).astype(np.uint8)


def ulaw_decode(codes: np.ndarray) -> np.ndarray:
    """G.711 mu-law bytes -> int16 linear, via the 256-entry inverse
    table (exact inverse of the encoder's segment/mantissa layout)."""
    u = (~codes.astype(np.int64)) & 0xFF
    exp = (u >> 4) & 7
    mant = u & 0xF
    mag = (((mant << 3) + _ULAW_BIAS) << exp) - _ULAW_BIAS
    return np.where(u & 0x80, -mag, mag).astype(np.int16)


def encode_wav_ulaw(wave: np.ndarray, sample_rate: int) -> bytes:
    """float32 [-1,1] mono -> RIFF/WAVE G.711 mu-law bytes (fmt code 7,
    8 bits/sample — half the bytes of PCM16 at ~38 dB SNR, the codec
    telephony archives and old web audio actually ship). Includes the
    'fact' chunk (sample count) non-PCM WAVs are required to carry."""
    pcm = np.clip(np.round(wave * 32767.0), -32768, 32767).astype(np.int16)
    body = ulaw_encode(pcm).tobytes()
    hdr = (
        b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 7, 1, sample_rate,
                                sample_rate, 1, 8)
        + b"fact" + struct.pack("<II", 4, len(pcm))
        + b"data" + struct.pack("<I", len(body))
    )
    return b"RIFF" + struct.pack("<I", len(hdr) + len(body) + 4) + hdr + body


def decode_audio_ulaw(audio_id: str, data: bytes, n_samples: int) -> np.ndarray:
    """REAL decoder for RIFF/WAVE G.711 mu-law (fmt code 7, mono) ->
    float32 [-1,1]. Same chunk walk as the PCM path; the 8-bit codes
    expand through the exact inverse table."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError(f"{audio_id}: not a RIFF/WAVE file")
    pos, fmt_code = 12, None
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + size]
        if tag == b"fmt ":
            fmt_code, channels, _sr, _br, _ba, bits = struct.unpack(
                "<HHIIHH", body[:16]
            )
            if fmt_code != 7 or channels != 1 or bits != 8:
                raise NotImplementedError(
                    f"{audio_id}: only mono 8-bit mu-law supported "
                    f"(fmt={fmt_code}, ch={channels}, bits={bits})"
                )
        elif tag == b"data":
            if fmt_code is None:
                raise ValueError(f"{audio_id}: data chunk before fmt")
            codes = np.frombuffer(body, dtype=np.uint8)
            if len(codes) < n_samples:
                raise ValueError(
                    f"{audio_id}: {len(codes)} samples in file, "
                    f"metadata says {n_samples}"
                )
            pcm = ulaw_decode(codes[:n_samples])
            return pcm.astype(np.float32) / 32767.0
        pos += 8 + size + (size & 1)
    raise ValueError(f"{audio_id}: no data chunk")


def decode_audio_flac(audio_id: str, data: bytes, n_samples: int) -> np.ndarray:
    """REAL decoder for FLAC (webcollector_spark.flac: fixed
    predictors + partitioned Rice, CRC-8/CRC-16/MD5 all verified) ->
    float32 [-1,1]. Mono 16-bit in this corpus; lossless, so the
    waveform is bit-identical to the pre-encode PCM."""
    from webcollector_spark import flac

    pcm, _sr = flac.decode_flac(data)
    if pcm.ndim != 1:
        raise NotImplementedError(f"{audio_id}: stereo features not wired")
    if len(pcm) != n_samples:
        raise ValueError(
            f"{audio_id}: {len(pcm)} samples in stream, "
            f"metadata says {n_samples}"
        )
    return pcm.astype(np.float32) / 32767.0


def flac_corpus_rows(n: int = 16, seed: int = 48) -> list[dict]:
    """Row dicts for the FLAC corpus — shared by the Spark fixture and
    the oracle rebuild (the adpcm_corpus_rows convention). The oracle
    computes features from the PRE-ENCODE PCM, so a driver match
    proves the decode is bit-exact through the whole Rice/CRC path."""
    from webcollector_spark import flac

    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        sr = int(rng.choice([8000, 16000]))
        ns = int(rng.integers(sr // 2, sr))
        pcm = np.round(adpcm_waveform(i, sr, ns) * 32767.0).astype(np.int16)
        rows.append(
            {
                "audio_id": f"flc{i:06d}",
                "bytes": flac.encode_flac(pcm, sr),
                "sample_rate": sr,
                "n_samples": ns,
                "fmt": "flac",
            }
        )
    return rows


def make_flac_audio_corpus(spark: SparkSession, n: int = 16) -> DataFrame:
    """Audio table whose payloads are REAL FLAC bitstreams (fmt='flac',
    16-bit mono) — lossless compressed audio, end to end."""
    rows = [
        (
            r["audio_id"], r["bytes"], r["sample_rate"],
            r["n_samples"], r["fmt"],
        )
        for r in flac_corpus_rows(n)
    ]
    return spark.createDataFrame(rows, schema=AUDIO_SCHEMA)


def ulaw_corpus_rows(n: int = 16, seed: int = 47) -> list[dict]:
    """Row dicts for the mu-law corpus — shared by the Spark fixture
    and the oracle rebuild (the adpcm_corpus_rows convention)."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        sr = int(rng.choice([8000, 16000]))
        ns = int(rng.integers(sr // 2, sr))
        wave = adpcm_waveform(i, sr, ns)
        rows.append(
            {
                "audio_id": f"ulw{i:06d}",
                "bytes": encode_wav_ulaw(wave, sr),
                "sample_rate": sr,
                "n_samples": ns,
                "fmt": "ulaw",
            }
        )
    return rows


def make_ulaw_audio_corpus(spark: SparkSession, n: int = 16) -> DataFrame:
    """Audio table whose payloads are REAL G.711 mu-law WAV bytes
    (fmt='ulaw', 8 bits/sample) — the telephony-grade compressed-audio
    decode path, end to end."""
    rows = [
        (r["audio_id"], r["bytes"], r["sample_rate"], r["n_samples"], r["fmt"])
        for r in ulaw_corpus_rows(n)
    ]
    return spark.createDataFrame(rows, schema=AUDIO_SCHEMA)


def decode_audio_adpcm(audio_id: str, data: bytes, n_samples: int) -> np.ndarray:
    """REAL decoder for RIFF/WAVE IMA-ADPCM (fmt code 0x11, mono) ->
    float32 [-1,1]. 4:1 compressed vs PCM16; the block-coded bitstream
    ffmpeg's adpcm_ima_wav emits. Container walk here; the bit-level
    work (vectorized across blocks) lives in webcollector_spark.adpcm,
    cross-validated bit-exactly against the stdlib's independent DVI
    implementation (audioop.adpcm2lin) in tests/test_adpcm.py."""
    from webcollector_spark import adpcm as _adpcm

    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError(f"{audio_id}: not a RIFF/WAVE file")
    pos, block_align, fmt_code, channels = 12, None, None, None
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + size]
        if tag == b"fmt ":
            fmt_code, channels, _sr, _br, block_align, _bits = struct.unpack(
                "<HHIIHH", body[:16]
            )
            if fmt_code != 0x11 or channels != 1:
                raise NotImplementedError(
                    f"{audio_id}: only mono IMA-ADPCM supported "
                    f"(fmt={fmt_code:#x}, ch={channels})"
                )
        elif tag == b"data":
            if block_align is None:
                raise ValueError(f"{audio_id}: data chunk before fmt")
            pcm = _adpcm.decode_blocks(bytes(body), block_align, n_samples)
            return pcm.astype(np.float32) / 32767.0
        pos += 8 + size + (size & 1)
    raise ValueError(f"{audio_id}: no data chunk")


# fmt -> decode kernel. Compressed formats (h264, vp9, mp3, opus...)
# are the production swap: one registry entry with ffmpeg/librosa
# bindings; nothing else in the dataflow changes.
_VIDEO_CODECS = {
    "fakevid": _decode_video_stub,
    "ppm": decode_video_real,
    "mjpeg": decode_video_mjpeg,
    "avi": decode_video_avi,
    "gif": decode_video_gif,
    "apng": decode_video_apng,
}
_AUDIO_CODECS = {
    "fakeaud": _decode_audio_stub,
    "wav": decode_audio_real,
    "adpcm": decode_audio_adpcm,
    "ulaw": decode_audio_ulaw,
    "flac": decode_audio_flac,
}


def _video_decoder(fmt: str):
    try:
        return _VIDEO_CODECS[fmt]
    except KeyError:
        raise NotImplementedError(
            f"no video decoder registered for fmt={fmt!r}; compressed "
            "formats need ffmpeg bindings — register them in "
            "webcollector_spark/operators/media.py:_VIDEO_CODECS"
        ) from None


def _audio_decoder(fmt: str):
    try:
        return _AUDIO_CODECS[fmt]
    except KeyError:
        raise NotImplementedError(
            f"no audio decoder registered for fmt={fmt!r}; compressed "
            "formats need librosa/ffmpeg bindings — register them in "
            "webcollector_spark/operators/media.py:_AUDIO_CODECS"
        ) from None


def make_video_corpus(spark: SparkSession, n: int = 20, seed: int = 42) -> DataFrame:
    """Deterministic opaque-payload video table (metadata real, payload
    a seeded blob the stub decoder interprets)."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        nf = int(rng.integers(8, 33))
        rows.append(
            (
                f"vid{i:06d}",
                rng.integers(0, 256, size=64, dtype=np.uint8).tobytes(),
                nf,
                float(rng.choice([12.0, 24.0, 30.0])),
                32,
                24,
                "fakevid",
                f"caption of vid{i:06d}",
            )
        )
    return spark.createDataFrame(rows, schema=VIDEO_SCHEMA)


def make_audio_corpus(spark: SparkSession, n: int = 20, seed: int = 43) -> DataFrame:
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        sr = int(rng.choice([8000, 16000]))
        rows.append(
            (
                f"aud{i:06d}",
                rng.integers(0, 256, size=64, dtype=np.uint8).tobytes(),
                sr,
                int(rng.integers(sr // 2, sr * 2)),
                "fakeaud",
            )
        )
    return spark.createDataFrame(rows, schema=AUDIO_SCHEMA)


def make_real_video_corpus(
    spark: SparkSession, n: int = 6, seed: int = 44, n_frames: int = 8,
    w: int = 16, h: int = 12,
) -> DataFrame:
    """Video table whose payloads are REAL concatenated-P6 streams
    (fmt='ppm'): the real decoder path, end to end, with recomputable
    ground-truth frames from a seeded RNG."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        frames = [
            rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
            for _ in range(n_frames)
        ]
        rows.append(
            (
                f"rvid{i:06d}",
                encode_ppm_stream(frames),
                n_frames,
                24.0,
                w,
                h,
                "ppm",
                f"caption of rvid{i:06d}",
            )
        )
    return spark.createDataFrame(rows, schema=VIDEO_SCHEMA)


def make_real_audio_corpus(
    spark: SparkSession, n: int = 6, seed: int = 45
) -> DataFrame:
    """Audio table whose payloads are REAL RIFF/WAVE PCM16 bytes
    (fmt='wav')."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        sr = int(rng.choice([8000, 16000]))
        ns = int(rng.integers(sr // 2, sr))
        wave = (rng.random(ns, dtype=np.float32) * 2.0 - 1.0)
        rows.append((f"raud{i:06d}", encode_wav(wave, sr), sr, ns, "wav"))
    return spark.createDataFrame(rows, schema=AUDIO_SCHEMA)


def adpcm_waveform(i: int, sr: int, ns: int) -> np.ndarray:
    """Deterministic smooth test waveform (two-tone + slow AM): smooth
    enough that IMA-ADPCM tracks it (measured SNR > 25 dB), seeded by
    the clip index so corpora rebuild identically anywhere."""
    t = np.arange(ns, dtype=np.float64) / sr
    f1, f2 = 180.0 + 37.0 * (i % 7), 523.0 + 61.0 * (i % 5)
    wave = 0.55 * np.sin(2 * np.pi * f1 * t) + 0.25 * np.sin(
        2 * np.pi * f2 * t
    )
    return (wave * (0.6 + 0.4 * np.sin(2 * np.pi * 1.5 * t))).astype(np.float32)


def adpcm_corpus_rows(n: int = 16, seed: int = 46) -> list[dict]:
    """Row dicts for the IMA-ADPCM corpus — shared by the Spark fixture
    below and the single-process oracle rebuild
    (tools/build_multimodal_oracles.py), so both sides encode the exact
    same bytes."""
    from webcollector_spark import adpcm as _adpcm

    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        sr = int(rng.choice([8000, 16000]))
        ns = int(rng.integers(sr // 2, sr))
        wave = adpcm_waveform(i, sr, ns)
        rows.append(
            {
                "audio_id": f"adp{i:06d}",
                "bytes": _adpcm.encode_wav_ima(wave, sr),
                "sample_rate": sr,
                "n_samples": ns,
                "fmt": "adpcm",
            }
        )
    return rows


def make_adpcm_audio_corpus(spark: SparkSession, n: int = 16) -> DataFrame:
    """Audio table whose payloads are REAL compressed IMA-ADPCM bytes
    (fmt='adpcm', 4 bits/sample) — the compressed-audio decode path,
    end to end."""
    rows = [
        (r["audio_id"], r["bytes"], r["sample_rate"], r["n_samples"], r["fmt"])
        for r in adpcm_corpus_rows(n)
    ]
    return spark.createDataFrame(rows, schema=AUDIO_SCHEMA)


def sample_frames(videos: DataFrame, every_n: int = 4) -> DataFrame:
    """Frame-sample operator: decode inside Arrow batches, keep every
    n-th frame, emit per-frame features. One row in -> n_frames/every_n
    rows out (the UDTF shape); partitioning is inherited — a pure map
    stage, no shuffle."""

    def row(r):
        decode = _video_decoder(r["fmt"])
        for idx, frame in decode(
            r["video_id"], bytes(r["bytes"]), r["n_frames"], r["w"], r["h"]
        ):
            if idx % every_n:
                continue
            yield {
                "video_id": r["video_id"],
                "frame_idx": idx,
                "ts_sec": idx / r["fps"],
                "frame_mean": round(float(frame.mean()), 4),
                "frame_hash": int.from_bytes(frame.tobytes()[:8], "big") >> 1,
            }

    return map_rows(videos, FRAME_SCHEMA, row)


def audio_features(audio: DataFrame) -> DataFrame:
    """Per-clip features over the stub-decoded waveform (rms, zero
    crossings) — the librosa-shaped pipeline with a fake kernel."""

    def row(r):
        wave = _audio_decoder(r["fmt"])(
            r["audio_id"], bytes(r["bytes"]), r["n_samples"]
        )
        yield {
            "audio_id": r["audio_id"],
            "duration_sec": round(r["n_samples"] / r["sample_rate"], 4),
            "rms": round(float(np.sqrt(np.mean(wave**2))), 6),
            "zero_crossings": int(np.sum(np.diff(np.sign(wave)) != 0)),
        }

    return map_rows(audio, AUDIO_FEAT_SCHEMA, row)


def scene_cuts(frames: DataFrame, threshold: float = 30.0) -> DataFrame:
    """Detect mean-luminance jumps between consecutive SAMPLED frames —
    a window over (video_id, frame_idx), pure Catalyst."""
    from pyspark.sql import Window

    w = Window.partitionBy("video_id").orderBy("frame_idx")
    delta = F.abs(F.col("frame_mean") - F.lag("frame_mean").over(w))
    return (
        frames.withColumn("delta", delta)
        .filter(F.col("delta") >= threshold)
        .select("video_id", "frame_idx", F.round("delta", 4).alias("delta"))
    )
