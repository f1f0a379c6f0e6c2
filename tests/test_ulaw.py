"""G.711 mu-law codec (operators/media.py ulaw_encode/ulaw_decode):
bit-exactness against the stdlib's independent implementation in BOTH
directions over the FULL domain, WAV container round trip, and the
registry corpus conventions."""

from __future__ import annotations

import warnings

import numpy as np
import pytest

from webcollector_spark.corpora import corpus
from webcollector_spark.operators import media

with warnings.catch_warnings():
    warnings.simplefilter("ignore", DeprecationWarning)
    import audioop  # removed in 3.13; sandbox is 3.11


def test_decode_bit_exact_vs_stdlib_all_256_codes():
    codes = np.arange(256, dtype=np.uint8)
    ref = np.frombuffer(audioop.ulaw2lin(codes.tobytes(), 2), dtype="<i2")
    assert np.array_equal(media.ulaw_decode(codes), ref)


def test_encode_bit_exact_vs_stdlib_full_int16_sweep():
    pcm = np.arange(-32768, 32768, dtype=np.int16)
    ref = np.frombuffer(audioop.lin2ulaw(pcm.tobytes(), 2), dtype=np.uint8)
    assert np.array_equal(media.ulaw_encode(pcm), ref)


def test_wav_roundtrip_snr_and_compression():
    wave = media.adpcm_waveform(3, 8000, 6000)
    data = media.encode_wav_ulaw(wave, 8000)
    got = media.decode_audio_ulaw("x", data, 6000)
    err = got - wave
    snr = 10 * np.log10(np.mean(wave**2) / np.mean(err**2))
    assert snr >= 30.0  # mu-law's ~38 dB class, well above ADPCM's gate
    # 8 bits/sample: half of PCM16 plus the fixed header
    assert len(data) < 6000 + 200


def test_container_rejects_wrong_shapes():
    wave = media.adpcm_waveform(0, 8000, 100)
    data = media.encode_wav_ulaw(wave, 8000)
    with pytest.raises(ValueError, match="metadata says"):
        media.decode_audio_ulaw("x", data, 101)
    # a PCM16 WAV routed to the mu-law decoder must refuse, not garble
    pcm16 = media.encode_wav(wave, 8000)
    with pytest.raises(NotImplementedError, match="mu-law"):
        media.decode_audio_ulaw("x", pcm16, 100)


def test_fact_chunk_present_and_skipped():
    # non-PCM WAVs must carry 'fact'; the chunk walk must skip it
    data = media.encode_wav_ulaw(media.adpcm_waveform(1, 8000, 50), 8000)
    assert b"fact" in data
    got = media.decode_audio_ulaw("x", data, 50)
    assert got.shape == (50,)


def test_spark_features_match_committed_oracle(spark):
    import pandas as pd

    got = (
        media.audio_features(corpus(spark, "ulaw"))
        .orderBy("audio_id")
        .toPandas()
    )
    exp = (
        pd.read_parquet("oracles/audio_features_ulaw.parquet")
        .sort_values("audio_id")
        .reset_index(drop=True)
    )
    assert len(got) == len(exp) == 16
    assert (got["audio_id"].values == exp["audio_id"].values).all()
    assert np.allclose(got["rms"].values, exp["rms"].values)
    assert (got["zero_crossings"].values == exp["zero_crossings"].values).all()
