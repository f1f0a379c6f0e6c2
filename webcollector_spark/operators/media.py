"""Audio/video multimodal plumbing.

The container has no media codec LIBRARIES (no PIL/ffmpeg/librosa —
verified), so compressed formats (h264, mp3, ...) stay behind a
clearly-marked deterministic fake. But the codec SEAM itself is real
and exercised: every other registered format is a genuine pure-Python
decoder.

* **Video** kernels each yield HxWx3 uint8 frames: a PPM stream
  (concatenated binary P6 frames, byte-for-byte what `ffmpeg -f
  image2pipe -vcodec ppm` emits), MJPEG (concatenated SOI..EOI frames
  of the repo's own baseline JPEG codec, boundaries from the marker
  structure), AVI (MJPEG inside a real RIFF/AVI container,
  webcollector_spark.avi), animated GIF89a and APNG. `video_frames`
  is the one frame contract: it runs the row's kernel and checks the
  frame count and every frame's dims against the row metadata, for
  `sample_frames` and the oracle builder alike. Frames stream, so a
  decode holds a fixed number of canvases whatever the clip length.
* **Audio** kernels each return a float32 waveform: WAV as PCM16,
  G.711 mu-law and IMA-ADPCM (one RIFF/WAVE parse,
  webcollector_spark.riff, then the format's sample kernel), and FLAC.
* **Corpora**: `encoded_video_rows` and `encoded_audio_rows` build the
  real-codec registry corpora, one loop per family.

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

from collections.abc import Iterator

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from webcollector_spark import adpcm, apng, avi, flac, gif, jpeg, riff
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


def _decode_video_stub(data: bytes, n_frames: int, w: int, h: int):
    """DETERMINISTIC FAKE video decoder (no codecs in sandbox).

    Yields n_frames HxWx3 uint8 frames derived from a seeded RNG so
    tests can recompute ground truth. Production: replace with ffmpeg.
    """
    seed = int.from_bytes(data[:8].ljust(8, b"\0"), "big") ^ len(data)
    for i in range(n_frames):
        rng = np.random.default_rng((seed + i) & 0xFFFFFFFF)
        yield rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


def _decode_audio_stub(audio_id: str, data: bytes, n_samples: int) -> np.ndarray:
    """DETERMINISTIC FAKE audio decoder -> float32 waveform in [-1, 1].
    Production: replace with librosa/soundfile."""
    seed = int.from_bytes(data[:8].ljust(8, b"\0"), "big") ^ n_samples
    rng = np.random.default_rng(seed & 0xFFFFFFFF)
    return (rng.random(n_samples, dtype=np.float32) * 2.0 - 1.0)


def _ppm_frames(data: bytes, *_meta):
    """REAL decoder for a concatenated binary-P6 (PPM) frame stream.

    Pure Python/numpy, no external libs; parses exactly what ffmpeg's
    image2pipe/ppm output produces: per frame a `P6`,
    whitespace-separated width/height, maxval 255, single
    whitespace byte, then w*h*3 bytes of raw RGB, to the end of the
    payload.
    """
    pos = 0
    while pos < len(data):
        if data[pos : pos + 2] != b"P6":
            raise ValueError(f"not a P6 header at {pos}")
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
            raise NotImplementedError("only maxval-255 P6 supported")
        raster = np.frombuffer(data, dtype=np.uint8, count=fh * fw * 3, offset=pos)
        pos += fh * fw * 3
        yield raster.reshape(fh, fw, 3).copy()


def _mjpeg_frames(data: bytes, *_meta):
    """REAL decoder for an MJPEG-style concatenated baseline-JPEG frame
    stream (webcollector_spark.jpeg — DCT + canonical Huffman, parsed
    from the bitstream, not assumed). Frame boundaries come from the
    marker structure (`decode_baseline_at` returns the offset past each
    EOI), never from searching for magic bytes — 0xFFD9 can legally
    occur inside table payloads."""
    pos = 0
    while pos < len(data):
        frame, pos = jpeg.decode_baseline_at(data, pos)
        yield frame


def _every_third(ops: tuple[int, int, int], n_frames: int, clip: int):
    """Per-frame ops cycling `ops` on every third clip (None, the
    encoder default, on the others), so a corpus exercises composition
    and not only the happy delta path."""
    return [ops[i % 3] for i in range(n_frames)] if clip % 3 == 2 else None


def avi_demo_frame(clip: int, i: int, w: int = 32, h: int = 24) -> np.ndarray:
    """Deterministic smooth frame (moving two-phase gradient, seeded by
    clip and frame index): smooth enough that baseline JPEG holds
    PSNR >= 40 dB, with real inter-frame motion so scene-cut deltas are
    non-trivial."""
    y, x = np.mgrid[0:h, 0:w].astype(np.float64)
    r = 128 + 90 * np.sin(2 * np.pi * (x / w + i * 0.07 + clip * 0.13))
    g = 128 + 90 * np.cos(2 * np.pi * (y / h - i * 0.05 + clip * 0.11))
    b = (x + y + 3.0 * i + 7.0 * clip) % 256
    return np.clip(np.stack([r, g, b], axis=-1), 0, 255).astype(np.uint8)


def gif_anim_frame(clip: int, i: int, w: int = 32, h: int = 24) -> np.ndarray:
    """Deterministic paletted animation frame: the AVI demo pattern
    posterized to 6 levels/channel (<= 216 unique colors across ALL
    frames, so one global GIF palette always fits) with a moving
    sprite, giving real sub-rect deltas for the encoder to exploit."""
    base = avi_demo_frame(clip, 0, w, h) // 43 * 43  # static backdrop
    x0 = (3 * i + 2 * clip) % max(w - 8, 1)
    y0 = (2 * i + clip) % max(h - 6, 1)
    base[y0 : y0 + 6, x0 : x0 + 8] = (43 * ((i + clip) % 6), 86, 172)
    return base.astype(np.uint8)


# fmt -> (id prefix, fps cycle, frame pattern, encoder(frames, fps, clip))
# of the real-container video corpora. APNG carries the FULL-COLOR AVI
# pattern, its 24-bit advantage over GIF's palette; GIF and APNG cycle
# their disposal / dispose ops on every third clip.
_VIDEO_CORPORA = {
    "avi": (
        "avi", (12.0, 24.0, 30.0), avi_demo_frame,
        lambda frames, fps, clip: avi.encode_avi_mjpeg(frames, fps=fps),
    ),
    "gif": (
        "gifv", (10.0, 20.0, 25.0), gif_anim_frame,
        lambda frames, fps, clip: gif.encode_gif89a_anim(
            frames,
            delays_cs=[int(round(100.0 / fps))] * len(frames),
            disposals=_every_third((1, 2, 3), len(frames), clip),
        ),
    ),
    "apng": (
        "apng", (10.0, 20.0, 25.0), avi_demo_frame,
        lambda frames, fps, clip: apng.encode_apng(
            frames,
            delays=[(1, int(fps))] * len(frames),
            disposes=_every_third((0, 1, 2), len(frames), clip),
        ),
    ),
}


def encoded_video_rows(
    fmt: str, n: int, n_frames: int = 6, w: int = 32, h: int = 24
) -> list[dict]:
    """Row dicts of a real-container video corpus (fmt 'avi': RIFF/AVI
    of baseline-JPEG frames; 'gif': animated GIF89a; 'apng'): n clips
    of n_frames deterministic frames, fps cycling per clip."""
    prefix, fps_cycle, pattern, encode = _VIDEO_CORPORA[fmt]
    rows = []
    for c in range(n):
        fps = fps_cycle[c % 3]
        video_id = f"{prefix}{c:06d}"
        frames = [pattern(c, i, w, h) for i in range(n_frames)]
        rows.append(
            {
                "video_id": video_id,
                "bytes": encode(frames, fps, c),
                "n_frames": n_frames,
                "fps": fps,
                "w": w,
                "h": h,
                "fmt": fmt,
                "caption": f"caption of {video_id}",
            }
        )
    return rows


def _pcm16(wave: np.ndarray) -> np.ndarray:
    """float [-1,1] waveform -> little-endian int16 samples."""
    return np.clip(np.round(wave * 32767.0), -32768, 32767).astype("<i2")


def encode_wav(wave: np.ndarray, sample_rate: int) -> bytes:
    """float32 [-1,1] mono waveform -> RIFF/WAVE PCM16 bytes (the
    canonical 44-byte-header layout). Fixture-side twin of
    `decode_audio_real`."""
    fmt = riff.WavFormat(1, 1, sample_rate, sample_rate * 2, 2, 16)
    return riff.wav(fmt, _pcm16(wave).tobytes())


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
    pcm = _pcm16(wave)
    fmt = riff.WavFormat(7, 1, sample_rate, sample_rate, 1, 8)
    return riff.wav(fmt, ulaw_encode(pcm).tobytes(), n_samples=len(pcm))


def _wav_codec(code: int, bits: int | None, what: str, samples):
    """A RIFF/WAVE decoder -> float32 [-1,1]: the one WAV parse
    (riff.read_wav, which tolerates extra chunks like LIST/fact before
    `data`, so it reads what any standard writer emits), a check that
    the fmt chunk is mono `code` (at `bits` per sample when given),
    then `samples(data_payload, fmt, n_samples)`, the format's kernel,
    giving at most n_samples int16 samples. Fewer than the metadata's
    count fail the clip."""

    def decode(audio_id: str, data: bytes, n_samples: int) -> np.ndarray:
        try:
            fmt, body = riff.read_wav(data)
        except ValueError as e:
            raise ValueError(f"{audio_id}: {e}") from None
        if fmt.code != code or fmt.channels != 1 or bits not in (None, fmt.bits):
            raise NotImplementedError(
                f"{audio_id}: only mono {what} supported "
                f"(fmt={fmt.code:#x}, ch={fmt.channels}, bits={fmt.bits})"
            )
        pcm = samples(body, fmt, n_samples)
        if len(pcm) < n_samples:
            raise ValueError(
                f"{audio_id}: {len(pcm)} samples in file, "
                f"metadata says {n_samples}"
            )
        return pcm.astype(np.float32) / 32767.0

    return decode


#: REAL decoder for RIFF/WAVE PCM (16-bit mono).
decode_audio_real = _wav_codec(
    1, 16, "PCM16", lambda body, fmt, n: np.frombuffer(body, "<i2")[:n]
)
#: REAL decoder for RIFF/WAVE G.711 mu-law (fmt code 7): the 8-bit
#: codes expand through the exact inverse table.
decode_audio_ulaw = _wav_codec(
    7, 8, "8-bit mu-law",
    lambda body, fmt, n: ulaw_decode(np.frombuffer(body, np.uint8)[:n]),
)
#: REAL decoder for RIFF/WAVE IMA-ADPCM (fmt code 0x11): 4:1 vs PCM16,
#: the block-coded bitstream ffmpeg's adpcm_ima_wav emits. The
#: bit-level work (vectorized across blocks) lives in
#: webcollector_spark.adpcm, cross-validated bit-exactly against the
#: stdlib's independent DVI implementation (audioop.adpcm2lin) in
#: tests/test_adpcm.py.
decode_audio_adpcm = _wav_codec(
    adpcm.WAVE_FORMAT_IMA_ADPCM, None, "IMA-ADPCM",
    lambda body, fmt, n: adpcm.decode_blocks(body, fmt.block_align, n),
)


def decode_audio_flac(audio_id: str, data: bytes, n_samples: int) -> np.ndarray:
    """REAL decoder for FLAC (webcollector_spark.flac: fixed
    predictors + partitioned Rice, CRC-8/CRC-16/MD5 all verified) ->
    float32 [-1,1]. Mono 16-bit in this corpus; lossless, so the
    waveform is bit-identical to the pre-encode PCM."""
    pcm, _sr = flac.decode_flac(data)
    if pcm.ndim != 1:
        raise NotImplementedError(f"{audio_id}: stereo features not wired")
    if len(pcm) != n_samples:
        raise ValueError(
            f"{audio_id}: {len(pcm)} samples in stream, "
            f"metadata says {n_samples}"
        )
    return pcm.astype(np.float32) / 32767.0


# fmt -> decode kernel. Compressed formats (h264, vp9, mp3, opus...)
# are the production swap: one registry entry with ffmpeg/librosa
# bindings; nothing else in the dataflow changes. A video kernel takes
# (payload, n_frames, w, h) and yields HxWx3 uint8 frames; only the
# stub reads the metadata, and `video_frames` checks every kernel's
# frames against it.
_VIDEO_CODECS = {
    "fakevid": _decode_video_stub,
    "ppm": _ppm_frames,
    "mjpeg": _mjpeg_frames,
    # MJPEG in RIFF/AVI; the reader checks its frames against avih
    "avi": lambda data, *_meta: avi.decode_avi_mjpeg(data)[4],
    # GIF89a: LZW rasters composed through the disposal model
    "gif": lambda data, *_meta: (fr for _delay, fr in gif.decode_gif_frames(data)),
    # APNG: fcTL/fdAT sub-rects composed through the dispose ops
    "apng": lambda data, *_meta: (fr for *_delay, fr in apng.decode_apng(data)),
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


def video_frames(
    fmt: str, video_id: str, data: bytes, n_frames: int, w: int, h: int
) -> Iterator[np.ndarray]:
    """The frames of one video row, decoded by its fmt's kernel and
    checked against the row's typed metadata: every frame must be
    w x h, and the payload must carry exactly n_frames (refused at the
    first extra frame). A crawl trusts neither the payload nor the
    metadata alone. Frames are yielded as they are decoded, so a
    consumer holds one at a time whatever the clip length."""
    carried = 0
    for frame in _video_decoder(fmt)(data, n_frames, w, h):
        if carried == n_frames:
            raise ValueError(
                f"{video_id}: payload carries more than the {n_frames} "
                "frames its metadata declares"
            )
        fh, fw = frame.shape[:2]
        if (fw, fh) != (w, h):
            raise ValueError(
                f"{video_id}: frame {carried} is {fw}x{fh}, metadata says {w}x{h}"
            )
        carried += 1
        yield frame
    if carried != n_frames:
        raise ValueError(
            f"{video_id}: payload carries {carried} frames, "
            f"metadata declares {n_frames}"
        )


def _audio_decoder(fmt: str):
    try:
        return _AUDIO_CODECS[fmt]
    except KeyError:
        raise NotImplementedError(
            f"no audio decoder registered for fmt={fmt!r}; compressed "
            "formats need librosa/ffmpeg bindings — register them in "
            "webcollector_spark/operators/media.py:_AUDIO_CODECS"
        ) from None


def video_corpus_rows(n: int = 24, seed: int = 42) -> list[dict]:
    """Row dicts for the opaque-payload video corpus (fmt='fakevid'):
    metadata real, payload a seeded blob the stub decoder interprets."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        nf = int(rng.integers(8, 33))
        rows.append(
            {
                "video_id": f"vid{i:06d}",
                "bytes": rng.integers(0, 256, size=64, dtype=np.uint8).tobytes(),
                "n_frames": nf,
                "fps": float(rng.choice([12.0, 24.0, 30.0])),
                "w": 32,
                "h": 24,
                "fmt": "fakevid",
                "caption": f"caption of vid{i:06d}",
            }
        )
    return rows


def audio_corpus_rows(n: int = 24, seed: int = 43) -> list[dict]:
    """Row dicts for the opaque-payload audio corpus (fmt='fakeaud')."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        sr = int(rng.choice([8000, 16000]))
        rows.append(
            {
                "audio_id": f"aud{i:06d}",
                "bytes": rng.integers(0, 256, size=64, dtype=np.uint8).tobytes(),
                "sample_rate": sr,
                "n_samples": int(rng.integers(sr // 2, sr * 2)),
                "fmt": "fakeaud",
            }
        )
    return rows


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


# fmt -> (id prefix, seed, encoder(wave, sample_rate)) of the
# real-codec tone corpora. FLAC stores the waveform quantized to PCM16
# as is; its oracle recomputes that pre-encode PCM.
_AUDIO_CORPORA = {
    "adpcm": ("adp", 46, adpcm.encode_wav_ima),
    "ulaw": ("ulw", 47, encode_wav_ulaw),
    "flac": (
        "flc", 48,
        lambda wave, sr: flac.encode_flac(np.round(wave * 32767.0).astype(np.int16), sr),
    ),
}


def encoded_audio_rows(fmt: str, n: int) -> list[dict]:
    """Row dicts of a real-codec audio corpus (fmt 'adpcm': IMA-ADPCM
    WAV, 4 bits/sample; 'ulaw': G.711 mu-law WAV, 8 bits/sample;
    'flac': 16-bit mono FLAC): n `adpcm_waveform` clips of half a
    second to a second at 8 or 16 kHz, drawn from the format's seed."""
    prefix, seed, encode = _AUDIO_CORPORA[fmt]
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        sr = int(rng.choice([8000, 16000]))
        ns = int(rng.integers(sr // 2, sr))
        rows.append(
            {
                "audio_id": f"{prefix}{i:06d}",
                "bytes": encode(adpcm_waveform(i, sr, ns), sr),
                "sample_rate": sr,
                "n_samples": ns,
                "fmt": fmt,
            }
        )
    return rows


def sample_frames(videos: DataFrame, every_n: int = 4) -> DataFrame:
    """Frame-sample operator: decode inside Arrow batches, keep every
    n-th frame, emit per-frame features. One row in -> n_frames/every_n
    rows out (the UDTF shape); partitioning is inherited — a pure map
    stage, no shuffle."""

    def row(r):
        frames = video_frames(
            r["fmt"], r["video_id"], bytes(r["bytes"]), r["n_frames"], r["w"], r["h"]
        )
        for idx, frame in enumerate(frames):
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
