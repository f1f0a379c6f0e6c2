"""Acoustic fingerprinting (operators/audiofp.py): gain invariance,
noise robustness, discriminability, banded == exact pairing, dup
recall with zero false positives, and the Spark dataflow vs the
committed oracle."""

from __future__ import annotations

import numpy as np
import pytest

from webcollector_spark.corpora import corpus
from webcollector_spark.operators import audiofp, pairs


def _ham(a: int, b: int) -> int:
    return bin(np.uint64(a & (2**64 - 1)) ^ np.uint64(b & (2**64 - 1))).count(
        "1"
    )


def test_gain_invariance_is_exact_on_float_path():
    sr, ns = 16000, 12000
    w = audiofp.fp_waveform(3, sr, ns)
    fp = audiofp.hk_fingerprint(w, sr)
    for g in (0.25, 0.55, 2.0, 7.5):
        assert audiofp.hk_fingerprint(w * g, sr) == fp


def test_noise_robust_and_discriminative():
    sr, ns = 16000, 12000
    w = audiofp.fp_waveform(3, sr, ns)
    fp = audiofp.hk_fingerprint(w, sr)
    noisy = w + 0.01 * np.random.default_rng(0).standard_normal(ns).astype(
        np.float32
    )
    assert _ham(audiofp.hk_fingerprint(noisy, sr), fp) <= 6
    other = audiofp.fp_waveform(7, sr, ns)
    assert _ham(audiofp.hk_fingerprint(other, sr), fp) >= 15


def test_short_clip_padding_does_not_crash():
    fp = audiofp.hk_fingerprint(np.zeros(5, np.float32), 8000)
    assert isinstance(fp, int)


def test_corpus_dup_variants_survive_pcm16_quantization():
    """The dup rows re-quantize to int16 after gain/noise edits — the
    realistic transcode; their fingerprints must stay within the
    pairing radius of the originals."""
    from webcollector_spark.operators.media import decode_audio_real

    rows = {r["audio_id"]: r for r in audiofp.fp_corpus_rows(12, 6)}
    for i in range(6):
        a, b = rows[f"afp{i:06d}"], rows[f"afpdup{i:06d}"]
        fa = audiofp.hk_fingerprint(
            decode_audio_real(a["audio_id"], a["bytes"], a["n_samples"]),
            a["sample_rate"],
        )
        fb = audiofp.hk_fingerprint(
            decode_audio_real(b["audio_id"], b["bytes"], b["n_samples"]),
            b["sample_rate"],
        )
        assert _ham(fa, fb) <= 8, i


def test_banded_equals_exact_and_recall(spark):
    fps = audiofp.audio_fingerprints(corpus(spark, "audio_fp"))
    exact = {
        (r.aud_a, r.aud_b, r.hamming)
        for r in pairs.hamming_pairs(
            fps, "audio_id", "afp", ("aud_a", "aud_b"), 8
        ).collect()
    }
    banded = {
        (r.aud_a, r.aud_b, r.hamming)
        for r in pairs.banded_pairs(
            fps, "audio_id", "afp", ("aud_a", "aud_b"), 8
        ).collect()
    }
    assert banded == exact
    pair_ids = {frozenset((a, b)) for a, b, _ in exact}
    # every planted dup pairs with its original; nothing else pairs
    for i in range(6):
        assert frozenset((f"afp{i:06d}", f"afpdup{i:06d}")) in pair_ids, i
    assert len(pair_ids) == 6  # zero false positives among 18 clips


def test_spark_matches_committed_oracle(spark):
    import pandas as pd

    got = (
        audiofp.audio_fingerprints(corpus(spark, "audio_fp"))
        .orderBy("audio_id")
        .toPandas()
    )
    exp = (
        pd.read_parquet("oracles/audio_fingerprint.parquet")
        .sort_values("audio_id")
        .reset_index(drop=True)
    )
    assert (got["audio_id"].values == exp["audio_id"].values).all()
    assert (got["afp"].values == exp["afp"].values).all()
