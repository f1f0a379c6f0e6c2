"""Audio/video plumbing tests: frame sampling fan-out (UDTF shape),
deterministic stub decode (recomputable ground truth), audio feature
batch shape, scene-cut window."""

from __future__ import annotations

import numpy as np
from conftest import corpus_frame

from webcollector_spark.operators import media
from webcollector_spark.operators.media import AUDIO_SCHEMA, VIDEO_SCHEMA, encode_wav


def test_sample_frames_fanout_and_determinism(spark):
    vids = corpus_frame(spark, media.video_corpus_rows(8), VIDEO_SCHEMA)
    frames = media.sample_frames(vids, every_n=4).collect()
    meta = {r["video_id"]: r for r in vids.collect()}
    by_vid: dict[str, list] = {}
    for r in frames:
        by_vid.setdefault(r["video_id"], []).append(r)
    assert set(by_vid) == set(meta)
    for vid, rows in by_vid.items():
        m = meta[vid]
        want_idx = list(range(0, m["n_frames"], 4))
        assert sorted(r["frame_idx"] for r in rows) == want_idx
        # recompute one frame's mean from the stub decoder
        r0 = min(rows, key=lambda r: r["frame_idx"])
        idx, frame = next(
            enumerate(
                media.video_frames(
                    "fakevid", vid, bytes(m["bytes"]), m["n_frames"], m["w"], m["h"]
                )
            )
        )
        assert idx == 0
        assert abs(r0["frame_mean"] - float(frame.mean())) < 1e-3
        assert abs(r0["ts_sec"] - 0.0) < 1e-9


def test_audio_features(spark):
    aud = corpus_frame(spark, media.audio_corpus_rows(6), AUDIO_SCHEMA)
    feats = {r["audio_id"]: r for r in media.audio_features(aud).collect()}
    meta = {r["audio_id"]: r for r in aud.collect()}
    assert set(feats) == set(meta)
    for aid, f in feats.items():
        m = meta[aid]
        assert abs(f["duration_sec"] - m["n_samples"] / m["sample_rate"]) < 1e-3
        # uniform [-1,1] waveform: rms ~ 1/sqrt(3) ~ 0.577
        assert 0.5 < f["rms"] < 0.65
        assert f["zero_crossings"] > 0


def test_scene_cuts_runs(spark):
    vids = corpus_frame(spark, media.video_corpus_rows(5), VIDEO_SCHEMA)
    frames = media.sample_frames(vids, every_n=2)
    cuts = media.scene_cuts(frames, threshold=0.0).collect()
    # with threshold 0 every consecutive pair with nonzero delta appears
    assert len(cuts) > 0
    assert all(c["delta"] >= 0 for c in cuts)


def test_unknown_fmt_raises():
    """The production seam: an unregistered fmt (a compressed codec the
    sandbox can't decode) must fail loudly, per row, naming the registry
    to extend."""
    import pytest

    with pytest.raises(NotImplementedError, match="_VIDEO_CODECS"):
        media._video_decoder("h264")
    with pytest.raises(NotImplementedError, match="_AUDIO_CODECS"):
        media._audio_decoder("mp3")


def test_ppm_roundtrip_bit_exact():
    """The ppm kernel inverts encode_ppm_stream(x), frame for frame."""
    rng = np.random.default_rng(7)
    frames = [
        rng.integers(0, 256, size=(12, 16, 3), dtype=np.uint8) for _ in range(5)
    ]
    data = encode_ppm_stream(frames)
    out = list(enumerate(media.video_frames("ppm", "v", data, 5, 16, 12)))
    assert [i for i, _ in out] == [0, 1, 2, 3, 4]
    for (_, got), want in zip(out, frames):
        assert np.array_equal(got, want)


def test_ppm_decoder_handles_comments_and_checks_metadata():
    import pytest

    rng = np.random.default_rng(8)
    fr = rng.integers(0, 256, size=(4, 6, 3), dtype=np.uint8)
    # a P6 header with a comment line — legal PPM that naive split misses
    data = b"P6\n# made by test\n6 4\n255\n" + fr.tobytes()
    (_, got), = list(enumerate(media.video_frames("ppm", "v", data, 1, 6, 4)))
    assert np.array_equal(got, fr)
    with pytest.raises(ValueError, match="metadata says"):
        list(media.video_frames("ppm", "v", data, 1, 5, 4))


def test_wav_roundtrip_and_foreign_chunks():
    """decode_audio_real inverts encode_wav to PCM16 precision and
    tolerates extra RIFF chunks before `data` (real writers emit LIST
    etc.)."""
    import struct

    rng = np.random.default_rng(9)
    wave = (rng.random(5000, dtype=np.float32) * 2.0 - 1.0)
    data = media.encode_wav(wave, 8000)
    got = media.decode_audio_real("a", data, 5000)
    assert got.dtype == np.float32
    assert np.max(np.abs(got - np.clip(wave, -1, 1))) <= 1.0 / 32767 + 1e-7
    # splice a LIST chunk between fmt and data
    fmt_end = 12 + 8 + 16
    foreign = b"LIST" + struct.pack("<I", 4) + b"INFO"
    spliced = data[:fmt_end] + foreign + data[fmt_end:]
    got2 = media.decode_audio_real("a", spliced, 5000)
    assert np.array_equal(got, got2)


def _apng_small_deltas(n_frames: int, side: int = 1500) -> bytes:
    """An APNG with a side x side black first frame, then 1x1 frames."""
    import struct
    import zlib

    from webcollector_spark import codecs

    out = bytearray(codecs._PNG_SIG)
    out += codecs._chunk(b"IHDR", struct.pack(">IIBBBBB", side, side, 8, 2, 0, 0, 0))
    out += codecs._chunk(b"acTL", struct.pack(">II", n_frames, 0))
    seq = 0
    for k in range(n_frames):
        rw = rh = side if k == 0 else 1
        out += codecs._chunk(
            b"fcTL", struct.pack(">IIIIIHHBB", seq, rw, rh, 0, 0, 1, 10, 0, 0)
        )
        rows = zlib.compress(bytes(rh * (1 + 3 * rw)), 9)
        if k == 0:
            out += codecs._chunk(b"IDAT", rows)
        else:
            out += codecs._chunk(b"fdAT", struct.pack(">I", seq + 1) + rows)
        seq += 1 + (k > 0)
    return bytes(out + codecs._chunk(b"IEND", b""))


def _gif_small_deltas(n_frames: int, side: int = 1500) -> bytes:
    """A GIF with a side x side logical screen and n_frames 1x1 images."""
    import struct

    from webcollector_spark import gif

    out = bytearray(b"GIF89a" + struct.pack("<HHBBB", side, side, 0x80, 0, 0))
    out += bytes(3) + b"\xff\xff\xff"
    pixel = gif._sub_blocks(gif.lzw_encode(np.array([1]), 2))
    for k in range(n_frames):
        out += b"\x2c" + struct.pack("<HHHHB", k, 0, 1, 1, 0) + b"\x02" + pixel
    return bytes(out + b"\x3b")


def test_animation_decode_peak_does_not_grow_with_frame_count():
    """Frames stream out of the APNG and GIF decoders: a 1500x1500
    animation of tiny frames decodes under 40 MiB (traced), at 80
    frames as at 40, through the video path (APNG) and through
    codecs.decode on the crawl path (GIF). A decoder that listed a
    canvas copy per frame held 270 MiB at 40 frames."""
    import tracemalloc

    from webcollector_spark import codecs

    def traced(fn) -> int:
        tracemalloc.start()
        try:
            fn()
            return tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()

    for n in (40, 80):
        apng_bytes, gif_bytes = _apng_small_deltas(n), _gif_small_deltas(n)
        peaks = {
            "apng": traced(
                lambda: sum(1 for _ in media.video_frames("apng", "a", apng_bytes, n, 1500, 1500))
            ),
            "gif": traced(lambda: codecs.decode(gif_bytes)),
        }
        if n == 40:
            at_40 = peaks
        for fmt, peak in peaks.items():
            assert peak < 40 << 20, (fmt, n, peak)
            assert peak <= at_40[fmt] + (1 << 20), (fmt, n, peak, at_40[fmt])


def test_real_video_corpus_through_sample_frames(spark):
    """The REAL decode path produces the same downstream schema and
    ground-truth-recomputable features as the stub path — the seam is
    exercised end to end, not just declared."""
    vids = make_real_video_corpus(spark, n=4, n_frames=8)
    out = media.sample_frames(vids, every_n=4)
    assert out.schema == media.FRAME_SCHEMA
    rows = out.collect()
    meta = {r["video_id"]: r for r in vids.collect()}
    assert {r["video_id"] for r in rows} == set(meta)
    for r in rows:
        m = meta[r["video_id"]]
        frames = dict(
            enumerate(
                media.video_frames(
                    "ppm", r["video_id"], bytes(m["bytes"]), m["n_frames"], m["w"], m["h"]
                )
            )
        )
        assert abs(r["frame_mean"] - float(frames[r["frame_idx"]].mean())) < 1e-3


def test_real_audio_corpus_through_audio_features(spark):
    aud = make_real_audio_corpus(spark, n=4)
    out = media.audio_features(aud)
    assert out.schema == media.AUDIO_FEAT_SCHEMA
    feats = {r["audio_id"]: r for r in out.collect()}
    meta = {r["audio_id"]: r for r in aud.collect()}
    assert set(feats) == set(meta)
    for aid, f in feats.items():
        m = meta[aid]
        assert abs(f["duration_sec"] - m["n_samples"] / m["sample_rate"]) < 1e-3
        assert 0.5 < f["rms"] < 0.65  # uniform [-1,1] -> ~0.577


def test_mixed_fmt_single_dataframe(spark):
    """One DataFrame mixing stub and real payloads: per-row dispatch,
    both decode correctly in the same Arrow batch."""
    mixed = corpus_frame(spark, media.video_corpus_rows(3), VIDEO_SCHEMA).unionByName(
        make_real_video_corpus(spark, n=3, w=32, h=24)
    )
    rows = media.sample_frames(mixed, every_n=8).collect()
    vids = {r["video_id"] for r in rows}
    assert any(v.startswith("vid") for v in vids)
    assert any(v.startswith("rvid") for v in vids)


# -- fixture encoders and corpora (real PPM video, real WAV audio) --------


def encode_ppm_stream(frames: list[np.ndarray]) -> bytes:
    """Concatenated binary-P6 stream — the `ffmpeg -f image2pipe
    -vcodec ppm` wire format (header `P6\\n{w} {h}\\n255\\n` + raw RGB
    raster per frame). Fixture-side twin of the `ppm` video kernel."""
    out = bytearray()
    for fr in frames:
        h, w, c = fr.shape
        assert c == 3 and fr.dtype == np.uint8
        out += f"P6\n{w} {h}\n255\n".encode()
        out += fr.tobytes()
    return bytes(out)


def make_real_video_corpus(
    spark, n: int = 6, seed: int = 44, n_frames: int = 8,
    w: int = 16, h: int = 12,
):
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
    spark, n: int = 6, seed: int = 45
):
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
