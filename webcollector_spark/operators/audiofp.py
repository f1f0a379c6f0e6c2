"""Acoustic fingerprinting — the audio member of the near-dup family
(images: phash/dhash; text: minhash/simhash; audio: THIS).

Haitsma & Kalman's robust-hash construction (ISMIR 2002, the scheme
Philips shipped and chromaprint descends from): log band energies on a
coarse time x frequency grid, fingerprint bits from the sign of the
DOUBLE difference (along band, then along time). Log + double
difference makes the bits GAIN-INVARIANT by construction (a volume
change multiplies every energy, adds a constant to every log, and
cancels in the differences) and robust to mild noise/transcoding —
exactly the duplicates an audio training corpus contains (same clip,
different loudness/codec).

Fingerprint layout: S time segments x B bands -> (S-1) x (B-1) sign
bits packed row-major into 64 bits (defaults S=17, B=5). Spark side:
decode + FFT inside Arrow batches (the media-operator discipline —
numpy kernels, no per-row Python beyond the batch), then candidate
pairing reuses the pigeonhole band-join shape the image hashes use:
all-JVM XOR/bit_count verification, banded bucket join for scale.

Reference anchor: fetched payloads are opaque bytes + typed metadata
(model/Page.java:323-330).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from webcollector_spark.operators.media import (
    AUDIO_SCHEMA,
    _audio_decoder,
    adpcm_waveform,
    encode_wav,
)
from webcollector_spark.session import map_rows

N_SEGMENTS = 17
N_BANDS = 5
_BAND_LO, _BAND_HI = 100.0, 3500.0


def hk_fingerprint(
    wave: np.ndarray, sr: int, n_segments: int = N_SEGMENTS, n_bands: int = N_BANDS
) -> int:
    """float waveform -> 64-bit fingerprint ((S-1)x(B-1) sign bits)."""
    n = len(wave)
    if n < n_segments:
        wave = np.pad(wave, (0, n_segments - n))
        n = len(wave)
    edges = np.geomspace(_BAND_LO, _BAND_HI, n_bands + 1)
    seg_len = n // n_segments
    energies = np.empty((n_segments, n_bands))
    for s in range(n_segments):
        seg = wave[s * seg_len : (s + 1) * seg_len]
        spec = np.abs(np.fft.rfft(seg)) ** 2
        freqs = np.fft.rfftfreq(len(seg), 1.0 / sr)
        for b in range(n_bands):
            mask = (freqs >= edges[b]) & (freqs < edges[b + 1])
            energies[s, b] = spec[mask].sum()
    loge = np.log(energies + 1e-12)
    band_diff = loge[:, :-1] - loge[:, 1:]  # along frequency
    dd = band_diff[1:] - band_diff[:-1]  # then along time
    bits = (dd > 0).reshape(-1)
    fp = 0
    for i, bit in enumerate(bits[:64]):
        if bit:
            fp |= 1 << i
    return int(np.int64(np.uint64(fp)))  # two's-complement int64


FP_SCHEMA = T.StructType(
    [
        T.StructField("audio_id", T.StringType(), False),
        T.StructField("afp", T.LongType(), False),
    ]
)


def audio_fingerprints(audio: DataFrame) -> DataFrame:
    """Per-clip fingerprint: decode (fmt registry) + FFT grid inside
    Arrow batches — one row in, one 64-bit row out; a pure map stage at
    any corpus size."""

    def row(r):
        wave = _audio_decoder(r["fmt"])(
            r["audio_id"], bytes(r["bytes"]), r["n_samples"]
        )
        yield {
            "audio_id": r["audio_id"],
            "afp": hk_fingerprint(wave, r["sample_rate"]),
        }

    return map_rows(audio, FP_SCHEMA, row)


def audio_neardup_pairs(fps: DataFrame, max_hamming: int = 8) -> DataFrame:
    """Exact near-dup pairs (hamming <= r) over the fingerprint table —
    all-JVM XOR/bit_count; the labeled O(n^2) baseline."""
    a = fps.select(F.col("audio_id").alias("aud_a"), F.col("afp").alias("fp_a"))
    b = fps.select(F.col("audio_id").alias("aud_b"), F.col("afp").alias("fp_b"))
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        a.crossJoin(b)
        .filter(F.col("aud_a") < F.col("aud_b"))
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("aud_a", "aud_b", "hamming")
    )


def audio_neardup_banded(fps: DataFrame, max_hamming: int = 8) -> DataFrame:
    """Scale path: (max_hamming+1)-band pigeonhole bucket join + exact
    verify — the identical machinery the image hashes use, applied to
    the audio fingerprint column. Same result set as the O(n^2) form."""
    bands = max_hamming + 1
    width = 64 // bands

    def banded(id_alias: str, fp_alias: str) -> DataFrame:
        out = fps.select(
            F.col("audio_id").alias(id_alias), F.col("afp").alias(fp_alias)
        )
        parts = F.array(
            *[
                F.struct(
                    F.lit(i).alias("band"),
                    F.shiftrightunsigned(F.col(fp_alias), i * width)
                    .bitwiseAND(F.lit((1 << width) - 1))
                    .alias("chunk"),
                )
                for i in range(bands)
            ]
        )
        return out.select(
            id_alias, fp_alias, F.explode(parts).alias("bc")
        ).select(
            id_alias, fp_alias,
            F.col("bc.band").alias("band"), F.col("bc.chunk").alias("chunk"),
        )

    a = banded("aud_a", "fp_a")
    b = banded("aud_b", "fp_b")
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        a.join(b, ["band", "chunk"])
        .filter(F.col("aud_a") < F.col("aud_b"))
        .select("aud_a", "aud_b", "fp_a", "fp_b")
        .dropDuplicates(["aud_a", "aud_b"])
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("aud_a", "aud_b", "hamming")
    )


def fp_waveform(i: int, sr: int, ns: int, seed: int = 49) -> np.ndarray:
    """Wideband deterministic clip: the shared two-tone pattern plus
    seeded broadband noise, so every analysis band carries real energy
    (pure tones leave near-empty bands whose log energies are noise)."""
    rng = np.random.default_rng(seed * 1_000_003 + i)
    base = adpcm_waveform(i, sr, ns)
    return (0.8 * base + 0.15 * rng.standard_normal(ns)).astype(np.float32)


def fp_corpus_rows(n: int = 12, dupes: int = 6, seed: int = 49) -> list[dict]:
    """n base WAV clips + `dupes` near-dup variants of the first
    `dupes` clips: gain-scaled to 55% (the loudness-normalized copy)
    and lightly re-noised — the duplicate classes a crawl actually
    collects. Shared by the Spark fixture and the oracle rebuild."""
    rng = np.random.default_rng(seed)
    rows = []

    def add(audio_id: str, wave: np.ndarray, sr: int):
        pcm16 = np.clip(wave, -1, 1)
        rows.append(
            {
                "audio_id": audio_id,
                "bytes": encode_wav(pcm16, sr),
                "sample_rate": sr,
                "n_samples": len(wave),
                "fmt": "wav",
            }
        )

    for i in range(n):
        sr = int(rng.choice([8000, 16000]))
        ns = int(rng.integers(sr // 2, sr))
        add(f"afp{i:06d}", fp_waveform(i, sr, ns), sr)
        if i < dupes:
            kind = "gain" if i % 2 == 0 else "noise"
            w = fp_waveform(i, sr, ns)
            if kind == "gain":
                w = w * 0.55
            else:
                w = w + 0.01 * np.random.default_rng(1000 + i).standard_normal(ns).astype(
                    np.float32
                )
            add(f"afpdup{i:06d}", w.astype(np.float32), sr)
    return rows


def make_fp_audio_corpus(spark: SparkSession, n: int = 12, dupes: int = 6) -> DataFrame:
    rows = [
        (
            r["audio_id"], r["bytes"], r["sample_rate"],
            r["n_samples"], r["fmt"],
        )
        for r in fp_corpus_rows(n, dupes)
    ]
    return spark.createDataFrame(rows, schema=AUDIO_SCHEMA)
