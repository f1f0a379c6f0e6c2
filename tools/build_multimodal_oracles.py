"""Build DuckDB-scannable oracle parquet for the multimodal registry queries.

The image/video/audio corpora are engine-generated (deterministic from
fixed seeds, per input_hint) rather than driver tables, so their oracle
is not expressible as SQL over the driver's views. Instead this script
recomputes each query's expected output with PLAIN numpy/pandas — no
Spark anywhere — and writes it to oracles/<name>.parquet. The registry's
oracle_sql() for those queries is then a simple SELECT over the
committed parquet, which the driver's DuckDB runs side-by-side with the
Spark pipeline. That turns the round-1 `no_oracle` rows into full
row/schema/hash checks: the Spark-side mapInPandas plumbing (schemas,
Arrow batching, partition fan-out, the window for scene cuts) is
verified against a straight-line single-process recomputation.

Determinism: every corpus is a seeded generator call, defined once in
webcollector_spark/corpora.py and read here through `corpus_rows`, the
same rows the registry loads; the per-format registry entries and
their oracles come from the same shape tables (plans/queries.py
DECODE_VERIFY / AUDIO_FEATURES / SAMPLE_FRAMES). codecs.decode /
phash64 / the media decoders are pure functions. Reusing those kernels
here is intentional — they define the ground truth; what the oracle
checks is the distributed dataflow around them.

Run from the repo root:  python tools/build_multimodal_oracles.py
tests/test_images.py asserts the committed parquet matches a fresh
rebuild, so kernel drift cannot silently stale the oracle.
"""

from __future__ import annotations

import struct
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from webcollector_spark import codecs, fixtures  # noqa: E402
from webcollector_spark.corpora import corpus_rows  # noqa: E402
from webcollector_spark.operators import media  # noqa: E402
from webcollector_spark.plans.queries import (  # noqa: E402
    AUDIO_FEATURES,
    DECODE_VERIFY,
    SAMPLE_FRAMES,
)

OUT_DIR = Path(__file__).resolve().parents[1] / "oracles"

# Arrow schemas mirror the Spark output schemas (IntegerType -> int32,
# LongType -> int64) so the driver compares like against like.
_DECODE_VERIFY_SCHEMA = pa.schema(
    [
        ("image_id", pa.string()),
        ("w", pa.int32()),
        ("h", pa.int32()),
        ("fmt", pa.string()),
        ("psnr_db", pa.float64()),
        ("psnr_ok", pa.bool_()),
        ("phash_match", pa.bool_()),
    ]
)
_FRAMES_SCHEMA = pa.schema(
    [
        ("video_id", pa.string()),
        ("frame_idx", pa.int32()),
        ("ts_sec", pa.float64()),
        ("frame_mean", pa.float64()),
        ("frame_hash", pa.int64()),
    ]
)
_AUDIO_FEATURES_SCHEMA = pa.schema(
    [
        ("audio_id", pa.string()),
        ("duration_sec", pa.float64()),
        ("rms", pa.float64()),
        ("zero_crossings", pa.int64()),
    ]
)

SCHEMAS = {
    **dict.fromkeys(DECODE_VERIFY, _DECODE_VERIFY_SCHEMA),
    **dict.fromkeys(SAMPLE_FRAMES, _FRAMES_SCHEMA),
    **dict.fromkeys(AUDIO_FEATURES, _AUDIO_FEATURES_SCHEMA),
    "image_letterbox": pa.schema(
        [
            ("image_id", pa.string()),
            ("w", pa.int32()),
            ("h", pa.int32()),
            ("top", pa.int32()),
            ("bottom", pa.int32()),
            ("left", pa.int32()),
            ("right", pa.int32()),
            ("content_w", pa.int32()),
            ("content_h", pa.int32()),
            ("boxed", pa.bool_()),
        ]
    ),
    "image_progressive_preview": pa.schema(
        [
            ("image_id", pa.string()),
            ("is_progressive", pa.bool_()),
            ("scans_done", pa.int32()),
            ("complete", pa.bool_()),
            ("preview_ok", pa.bool_()),
            ("phash_preview", pa.int64()),
            ("preview_hamming", pa.int32()),
        ]
    ),
    "image_resize_meanpool": pa.schema(
        [
            ("image_id", pa.string()),
            ("out_w", pa.int32()),
            ("out_h", pa.int32()),
            ("pixel_sum", pa.int64()),
        ]
    ),
    "phash_neardup": pa.schema(
        [
            ("img_a", pa.string()),
            ("img_b", pa.string()),
            ("hamming", pa.int32()),
        ]
    ),
    "audio_fingerprint": pa.schema(
        [
            ("audio_id", pa.string()),
            ("afp", pa.int64()),
        ]
    ),
    "video_scene_cuts": pa.schema(
        [
            ("video_id", pa.string()),
            ("frame_idx", pa.int32()),
            ("delta", pa.float64()),
        ]
    ),
    "image_meta_sniff": pa.schema(
        [
            ("image_id", pa.string()),
            ("n_bytes", pa.int64()),
            ("fmt_sniffed", pa.string()),
            ("w_sniffed", pa.int32()),
            ("h_sniffed", pa.int32()),
            ("header_ok", pa.bool_()),
        ]
    ),
    # EXIF: expected tags recomputed from the FIXTURE ARITHMETIC
    # (fixtures.exif_fields_for), never by running the parser — the
    # Spark side must recover them from the real APP1 bytes, so the
    # comparison proves writer -> parser inverts over a real TIFF stream
    # quality ground truth comes from the encode call's quality arg
    # (fixtures.jpeg_quality_for / the q=98 constant), never from
    # running the DQT parser or the IJG inversion under test.
    "image_jpeg_quality": pa.schema(
        [
            ("image_id", pa.string()),
            ("is_jpeg", pa.bool_()),
            ("n_tables", pa.int32()),
            ("quality_luma", pa.int32()),
            ("quality_chroma", pa.int32()),
            ("quality_est", pa.int32()),
            ("dqt_std", pa.bool_()),
        ]
    ),
    "image_exif_meta": pa.schema(
        [
            ("image_id", pa.string()),
            ("has_exif", pa.bool_()),
            ("byte_order", pa.string()),
            ("orientation", pa.int32()),
            ("make", pa.string()),
            ("model", pa.string()),
            ("datetime", pa.string()),
            ("description", pa.string()),
            ("pixel_x", pa.int32()),
            ("pixel_y", pa.int32()),
        ]
    ),
    "image_exif_upright": pa.schema(
        [
            ("image_id", pa.string()),
            ("orientation", pa.int32()),
            ("w_stored", pa.int32()),
            ("h_stored", pa.int32()),
            ("w_upright", pa.int32()),
            ("h_upright", pa.int32()),
            ("psnr_db", pa.float64()),
            ("psnr_ok", pa.bool_()),
            ("phash_match", pa.bool_()),
        ]
    ),
    "dhash_neardup": pa.schema(
        [
            ("img_a", pa.string()),
            ("img_b", pa.string()),
            ("hamming", pa.int32()),
        ]
    ),
    # the id universe of the near-dup corpus: the ensemble-keeper oracle
    # RECOMPUTES components + keeper over the committed (and separately
    # driver-verified) phash/dhash pair tables joined to this list
    "image_neardup_ids": pa.schema([("image_id", pa.string())]),
    # per-image integer moment partials; the channel-stats oracle is a
    # DuckDB AGGREGATE over this table (recompute, not stored answers)
    "image_channel_partials": pa.schema(
        [
            ("image_id", pa.string()),
            ("channel", pa.string()),
            ("n_px", pa.int64()),
            ("s", pa.int64()),
            ("ss", pa.int64()),
        ]
    ),
    # NOT a precomputed output: the noisy caption corpus' metadata
    # (everything but bytes). The caption-curation oracles are real SQL
    # that DuckDB RECOMPUTES over this table — a stronger check than
    # comparing against stored answers.
    "caption_corpus_meta": pa.schema(
        [
            ("image_id", pa.string()),
            ("w", pa.int32()),
            ("h", pa.int32()),
            ("fmt", pa.string()),
            ("caption", pa.string()),
            ("phash", pa.int64()),
        ]
    ),
    # per-image integer Laplacian moment partials over the blur-gate
    # corpus; the sharpness oracle is a DuckDB expression RECOMPUTE of
    # the variance + gate over this table (same pattern as channel stats)
    "image_sharpness_partials": pa.schema(
        [
            ("image_id", pa.string()),
            ("n_lap", pa.int64()),
            ("s_lap", pa.int64()),
            ("ss_lap", pa.int64()),
        ]
    ),
    # same partials over the NEARDUPS corpus (quality-aware keeper input)
    "image_sharpness_partials_neardup": pa.schema(
        [
            ("image_id", pa.string()),
            ("n_lap", pa.int64()),
            ("s_lap", pa.int64()),
            ("ss_lap", pa.int64()),
        ]
    ),
}


def build_image_decode_verify(pdf: pd.DataFrame, psnr_gate_db: float = 40.0):
    rows = []
    for r in pdf.to_dict("records"):
        pixels = codecs.decode(bytes(r["bytes"]))
        truth = fixtures.ground_truth_pixels(r["image_id"], r["w"], r["h"])
        psnr = codecs.psnr_db(pixels, truth)
        rows.append(
            {
                "image_id": r["image_id"],
                "w": int(r["w"]),
                "h": int(r["h"]),
                "fmt": r["fmt"],
                "psnr_db": float(min(psnr, 1e9)),
                "psnr_ok": bool(psnr >= psnr_gate_db),
                "phash_match": codecs.phash64(pixels) == int(r["phash"]),
            }
        )
    return pd.DataFrame(rows)


def build_image_resize_meanpool(pdf: pd.DataFrame, out: int = 16):
    rows = []
    for r in pdf.to_dict("records"):
        px = codecs.decode(bytes(r["bytes"])).astype(np.float64)
        h, w, _ = px.shape
        th, tw = (h // out) * out, (w // out) * out
        if th == 0 or tw == 0:
            small = np.zeros((out, out, 3))
        else:
            small = (
                px[:th, :tw].reshape(out, th // out, out, tw // out, 3).mean(axis=(1, 3))
            )
        rows.append(
            {
                "image_id": r["image_id"],
                "out_w": out,
                "out_h": out,
                "pixel_sum": int(small.round().astype(np.int64).sum()),
            }
        )
    return pd.DataFrame(rows)


def build_phash_neardup(pdf: pd.DataFrame, max_hamming: int = 12):
    """Brute-force hamming-ball pairs — the numpy restatement of both
    the exact self-join and its banded LSH twin (identical result sets
    by the pigeonhole argument, asserted in test_images.py)."""
    ids = pdf["image_id"].to_numpy()
    ph = pdf["phash"].to_numpy(dtype=np.uint64)
    rows = []
    for i in range(len(ids)):
        ham = np.array(
            [bin(int(ph[i] ^ ph[j])).count("1") for j in range(len(ids))]
        )
        for j in np.nonzero(ham <= max_hamming)[0]:
            a, b = ids[i], ids[j]
            if a < b:
                rows.append({"img_a": a, "img_b": b, "hamming": int(ham[j])})
    return pd.DataFrame(rows)


_FMT_COMPAT = {("jpeg", "qimg")}


def build_image_meta_sniff(pdf: pd.DataFrame, prefix: int = 4096):
    """Straight-line restatement of operators.sniff.sniff_meta — header
    bytes only, same prefix slice the Spark side takes JVM-side."""
    rows = []
    for r in pdf.to_dict("records"):
        data = bytes(r["bytes"])
        fmt, w, h = codecs.sniff_header(data[:prefix])
        fmt_ok = fmt == r["fmt"] or (r["fmt"], fmt) in _FMT_COMPAT
        rows.append(
            {
                "image_id": r["image_id"],
                "n_bytes": len(data),
                "fmt_sniffed": fmt,
                "w_sniffed": w,
                "h_sniffed": h,
                "header_ok": bool(fmt_ok and w == r["w"] and h == r["h"]),
            }
        )
    return pd.DataFrame(rows)


def build_image_jpeg_quality(pdf: pd.DataFrame):
    """Expected header-quality rows from CONSTRUCTION: the quality each
    JPEG was encoded at (the ladder for jq* ids, the q=98 constant for
    jpg* ids), is_jpeg/n_tables from WHICH FIXTURE wrote the row (the id
    prefix — NOT the fmt column, which the base corpus deliberately
    mislabels on 16 QIMG rows to exercise magic-over-label dispatch),
    dqt_std True for
    every in-house encode (encode_baseline always scales the Annex K
    standard tables). No DQT parsing and no IJG inversion here — those
    are the code under test."""
    rows = []
    for r in pdf.to_dict("records"):
        iid = r["image_id"]
        if iid.startswith(("jpg", "jq")):
            if iid.startswith("jq"):
                q = fixtures.jpeg_quality_for(int(iid[2:]))
            else:
                q = 98  # make_corpus_jpeg's fixed encode quality
            rows.append(
                {
                    "image_id": iid,
                    "is_jpeg": True,
                    "n_tables": 2,
                    "quality_luma": q,
                    "quality_chroma": q,
                    "quality_est": q,
                    "dqt_std": True,
                }
            )
        else:
            rows.append(
                {
                    "image_id": iid,
                    "is_jpeg": False,
                    "n_tables": 0,
                    "quality_luma": None,
                    "quality_chroma": None,
                    "quality_est": None,
                    "dqt_std": None,
                }
            )
    return pd.DataFrame(rows)


def build_image_progressive_preview(pdf: pd.DataFrame, prefix: int = 1024):
    """Straight-line restatement of sniff.progressive_preview over the
    same byte prefix — single-process, no Spark; the kernels
    (decode_progressive_prefix, phash64) are pinned separately in
    test_jpeg_progressive.py."""
    from webcollector_spark.jpeg import sof_marker
    from webcollector_spark.jpeg_progressive import decode_progressive_prefix

    rows = []
    for r in pdf.to_dict("records"):
        data = bytes(r["bytes"])[:prefix]
        is_prog = sof_marker(data) == 0xC2
        row = {
            "image_id": r["image_id"],
            "is_progressive": is_prog,
            "scans_done": None,
            "complete": None,
            "preview_ok": None,
            "phash_preview": None,
            "preview_hamming": None,
        }
        if is_prog:
            pixels, scans, complete = decode_progressive_prefix(data)
            ph = codecs.phash64(pixels)
            row.update(
                scans_done=scans,
                complete=complete,
                preview_ok=scans >= 1,
                phash_preview=ph,
                preview_hamming=bin(
                    (ph ^ int(r["phash"])) & ((1 << 64) - 1)
                ).count("1"),
            )
        rows.append(row)
    # build int columns from the PYTHON ints: letting pd.DataFrame
    # infer float64 over the Nones would destroy int64 phash low bits
    out = pd.DataFrame(rows, dtype=object)
    for c in ("scans_done", "preview_hamming"):
        out[c] = pd.array([r[c] for r in rows], dtype="Int32")
    out["phash_preview"] = pd.array(
        [r["phash_preview"] for r in rows], dtype="Int64"
    )
    return out


def build_image_exif_meta(pdf: pd.DataFrame):
    """Expected EXIF rows from the fixture's field arithmetic — no byte
    parsing anywhere in this builder."""
    rows = []
    for i, r in enumerate(pdf.to_dict("records")):
        f = fixtures.exif_fields_for(i, r["w"], r["h"])
        rows.append(
            {
                "image_id": r["image_id"],
                "has_exif": bool(f),
                "byte_order": f.get("byte_order"),
                "orientation": f.get("orientation"),
                "make": f.get("make"),
                "model": f.get("model"),
                "datetime": f.get("datetime"),
                "description": f.get("description"),
                "pixel_x": f.get("pixel_x"),
                "pixel_y": f.get("pixel_y"),
            }
        )
    return pd.DataFrame(rows)


def build_image_exif_upright(pdf: pd.DataFrame, psnr_gate_db: float = 40.0):
    """Straight-line restatement of images.exif_upright_decode over the
    camera-rotated corpus."""
    from webcollector_spark.exif import normalize_orientation, parse_exif

    rows = []
    for r in pdf.to_dict("records"):
        data = bytes(r["bytes"])
        tag = parse_exif(data)["orientation"]
        stored = codecs.decode(data)
        upright = normalize_orientation(stored, tag)
        uh, uw = upright.shape[:2]
        truth = fixtures.ground_truth_pixels(r["image_id"], uw, uh)
        psnr = codecs.psnr_db(upright, truth)
        rows.append(
            {
                "image_id": r["image_id"],
                "orientation": tag,
                "w_stored": stored.shape[1],
                "h_stored": stored.shape[0],
                "w_upright": uw,
                "h_upright": uh,
                "psnr_db": float(min(psnr, 1e9)),
                "psnr_ok": bool(psnr >= psnr_gate_db),
                "phash_match": codecs.phash64(upright) == int(r["phash"]),
            }
        )
    return pd.DataFrame(rows)


def build_dhash_neardup(pdf: pd.DataFrame, max_hamming: int = 4):
    """Brute-force hamming-ball pairs over the DIFFERENCE hash
    (codecs.dhash64 recomputed from decoded pixels) — oracle for the
    blocked dhash path, which must equal this set by pigeonhole."""
    ids = pdf["image_id"].to_numpy()
    dh = np.array(
        [
            np.uint64(codecs.dhash64(codecs.decode(bytes(r["bytes"]))) & ((1 << 64) - 1))
            for r in pdf.to_dict("records")
        ],
        dtype=np.uint64,
    )
    rows = []
    for i in range(len(ids)):
        for j in range(len(ids)):
            if ids[i] >= ids[j]:
                continue
            ham = bin(int(dh[i] ^ dh[j])).count("1")
            if ham <= max_hamming:
                rows.append({"img_a": ids[i], "img_b": ids[j], "hamming": ham})
    return pd.DataFrame(rows)


def build_image_sharpness_partials(pdf: pd.DataFrame):
    """Mirror of operators.images.sharpness_partials, Spark-free."""
    rows = []
    for r in pdf.to_dict("records"):
        n, s, ss = codecs.lap_partials(codecs.decode(bytes(r["bytes"])))
        rows.append(
            {"image_id": r["image_id"], "n_lap": n, "s_lap": s, "ss_lap": ss}
        )
    return pd.DataFrame(rows)


def build_image_channel_partials(pdf: pd.DataFrame):
    """Mirror of operators.images.channel_partials, Spark-free."""
    rows = []
    for r in pdf.to_dict("records"):
        px = codecs.decode(bytes(r["bytes"])).astype(np.int64)
        n = px.shape[0] * px.shape[1]
        for ci, ch in enumerate("rgb"):
            lane = px[:, :, ci]
            rows.append(
                {
                    "image_id": r["image_id"],
                    "channel": ch,
                    "n_px": int(n),
                    "s": int(lane.sum()),
                    "ss": int((lane * lane).sum()),
                }
            )
    return pd.DataFrame(rows)


def build_sample_frames(vids: list[dict], every_n: int):
    """Frame features, decoded straight-line through each row's video
    decoder and metadata check (media.video_frames: the stub, or the
    AVI/GIF/APNG container walks down to the real JPEG/LZW/PNG
    bitstreams). Codec fidelity vs pre-encode frames is pinned in
    tests/test_avi.py, test_gif_anim.py and test_apng.py; this oracle
    pins the distributed dataflow around it, per the module-docstring
    convention."""
    rows = []
    for r in vids:
        frames = media.video_frames(
            r["fmt"], r["video_id"], bytes(r["bytes"]), r["n_frames"], r["w"], r["h"]
        )
        for idx, frame in enumerate(frames):
            if idx % every_n:
                continue
            rows.append(
                {
                    "video_id": r["video_id"],
                    "frame_idx": idx,
                    "ts_sec": idx / r["fps"],
                    "frame_mean": round(float(frame.mean()), 4),
                    "frame_hash": int(
                        np.int64(
                            int.from_bytes(frame.tobytes()[:8], "big", signed=False)
                            >> 1
                        )
                    ),
                }
            )
    return pd.DataFrame(rows)


def _riff_chunks(data: bytes) -> dict[bytes, bytes]:
    """A WAV file's top-level chunks by tag (the last one of a tag wins)."""
    pos, chunks = 12, {}
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        chunks[tag] = data[pos + 8 : pos + 8 + size]
        pos += 8 + size + (size & 1)
    return chunks


def _wave_stub(r: dict) -> np.ndarray:
    return media._decode_audio_stub(r["audio_id"], bytes(r["bytes"]), r["n_samples"])


def _wave_ulaw(r: dict) -> np.ndarray:
    """G.711 mu-law decoded with the STDLIB's independent expansion
    (audioop.ulaw2lin): the engine's ulaw_decode never runs here, so a
    driver match proves the engine's inverse table equals the stdlib's
    over the real WAV bytes."""
    import audioop  # deprecated in 3.11, removed in 3.13

    body = _riff_chunks(bytes(r["bytes"]))[b"data"]
    pcm = np.frombuffer(audioop.ulaw2lin(body[: r["n_samples"]], 2), dtype="<i2")
    return pcm.astype(np.float32) / 32767.0


def _wave_adpcm(r: dict) -> np.ndarray:
    """IMA-ADPCM decoded with the STDLIB's independent DVI/IMA
    implementation (audioop.adpcm2lin), so this oracle checks the codec
    itself as well as the dataflow. audioop walks a contiguous
    high-nibble-first stream from explicit (pred, index) state; the WAV
    block layout is low-nibble-first with a per-block state header, so
    swap nibbles and seed per block."""
    import audioop  # deprecated in 3.11, removed in 3.13

    chunks = _riff_chunks(bytes(r["bytes"]))
    block_align = struct.unpack("<HHIIHH", chunks[b"fmt "][:16])[4]
    body = chunks[b"data"]
    pcm_parts = []
    for off in range(0, len(body), block_align):
        block = body[off : off + block_align]
        pred, idx = struct.unpack("<hB", block[:3])
        swapped = bytes(((b >> 4) | ((b & 0x0F) << 4)) for b in block[4:])
        decoded, _ = audioop.adpcm2lin(swapped, 2, (pred, idx))
        pcm_parts.append(struct.pack("<h", pred) + decoded)
    pcm = np.frombuffer(b"".join(pcm_parts), dtype="<i2")[: r["n_samples"]]
    return pcm.astype(np.float32) / 32767.0


def _wave_flac(r: dict) -> np.ndarray:
    """The PRE-ENCODE PCM (adpcm_waveform re-quantized exactly as
    media.encoded_audio_rows does for FLAC): the engine's decoder NEVER
    runs here, so a driver match proves decode_flac reproduces the
    original samples bit-exact through the fixed-predictor/Rice/CRC
    path — any single-sample decode error flips zero_crossings or rms."""
    pcm = np.round(
        media.adpcm_waveform(int(r["audio_id"][3:]), r["sample_rate"], r["n_samples"])
        * 32767.0
    ).astype(np.int16)
    return pcm.astype(np.float32) / 32767.0


# fmt -> the oracle's own waveform for a clip
_ORACLE_WAVES = {
    "fakeaud": _wave_stub,
    "ulaw": _wave_ulaw,
    "adpcm": _wave_adpcm,
    "flac": _wave_flac,
}


def build_audio_features(clips: list[dict]):
    rows = []
    for r in clips:
        wave = _ORACLE_WAVES[r["fmt"]](r)
        rows.append(
            {
                "audio_id": r["audio_id"],
                "duration_sec": round(r["n_samples"] / r["sample_rate"], 4),
                "rms": round(float(np.sqrt(np.mean(wave**2))), 6),
                "zero_crossings": int(np.sum(np.diff(np.sign(wave)) != 0)),
            }
        )
    return pd.DataFrame(rows)


def build_audio_fingerprint(clips: list[dict]):
    """Straight-line Haitsma-Kalker fingerprints over the WAV corpus —
    decode via the engine's WAV reader (lossless PCM16, not the kernel
    under test; the fingerprint kernel is shared by design, the oracle
    pins the distributed dataflow around it)."""
    from webcollector_spark.operators import audiofp

    rows = []
    for r in clips:
        wave = media.decode_audio_real(
            r["audio_id"], bytes(r["bytes"]), r["n_samples"]
        )
        rows.append(
            {
                "audio_id": r["audio_id"],
                "afp": audiofp.hk_fingerprint(wave, r["sample_rate"]),
            }
        )
    return pd.DataFrame(rows)


def build_video_scene_cuts(frames: pd.DataFrame, threshold: float = 1.0):
    rows = []
    for _, grp in frames.groupby("video_id", sort=False):
        grp = grp.sort_values("frame_idx")
        prev = None
        for r in grp.to_dict("records"):
            if prev is not None:
                delta = abs(r["frame_mean"] - prev)
                if delta >= threshold:
                    rows.append(
                        {
                            "video_id": r["video_id"],
                            "frame_idx": r["frame_idx"],
                            "delta": round(delta, 4),
                        }
                    )
            prev = r["frame_mean"]
    return pd.DataFrame(rows)


def build_image_letterbox(pdf: pd.DataFrame) -> pd.DataFrame:
    """Straight-line recompute of letterbox_geometry: decode each image
    and run codecs.border_geometry — no Spark, no batching."""
    rows = []
    for r in pdf.to_dict("records"):
        px = codecs.decode(bytes(r["bytes"]))
        h, w = px.shape[:2]
        t, b, left, right = codecs.border_geometry(px)
        rows.append(
            {
                "image_id": r["image_id"],
                "w": w,
                "h": h,
                "top": t,
                "bottom": b,
                "left": left,
                "right": right,
                "content_w": max(0, w - left - right),
                "content_h": max(0, h - t - b),
                "boxed": (t + b + left + right) > 0,
            }
        )
    return pd.DataFrame(rows)


def build_all() -> dict[str, pd.DataFrame]:
    corpus = corpus_rows("base")
    neardups = corpus_rows("neardups")
    mixed = corpus_rows("mixed")
    return {
        **{e: build_image_decode_verify(corpus_rows(c)) for e, c in DECODE_VERIFY.items()},
        **{e: build_sample_frames(corpus_rows(c), n) for e, (c, n) in SAMPLE_FRAMES.items()},
        **{e: build_audio_features(corpus_rows(c)) for e, c in AUDIO_FEATURES.items()},
        # byte-capped preview triage over progressive + baseline rows
        "image_progressive_preview": build_image_progressive_preview(
            pd.concat([corpus_rows("jpegprog"), corpus_rows("jpeg")], ignore_index=True)
        ),
        "image_resize_meanpool": build_image_resize_meanpool(corpus),
        "phash_neardup": build_phash_neardup(neardups),
        # acoustic fingerprints over the dup-variant WAV corpus
        "audio_fingerprint": build_audio_fingerprint(corpus_rows("audio_fp")),
        "video_scene_cuts": build_video_scene_cuts(
            build_sample_frames(corpus_rows("video"), every_n=2), threshold=1.0
        ),
        "caption_corpus_meta": corpus_rows("captions").drop(columns=["bytes"]),
        # header-only triage over all four container formats
        "image_meta_sniff": build_image_meta_sniff(mixed),
        # header-only DQT quality triage over all four containers plus
        # the quality-ladder re-encode corpus
        "image_jpeg_quality": build_image_jpeg_quality(
            pd.concat([mixed, corpus_rows("jpeg_quality")], ignore_index=True)
        ),
        "image_exif_meta": build_image_exif_meta(corpus_rows("exif")),
        "image_exif_upright": build_image_exif_upright(corpus_rows("exif_rotated")),
        "dhash_neardup": build_dhash_neardup(neardups),
        "image_neardup_ids": neardups[["image_id"]],
        "image_channel_partials": build_image_channel_partials(corpus),
        "image_sharpness_partials": build_image_sharpness_partials(
            corpus_rows("blurgate")
        ),
        # the quality-aware keeper decision needs per-image sharpness
        # over the SAME corpus the committed pair tables cover
        "image_sharpness_partials_neardup": build_image_sharpness_partials(
            neardups
        ),
        # constant-border crop geometry over the padded corpus
        "image_letterbox": build_image_letterbox(corpus_rows("letterbox")),
    }


def main() -> int:
    OUT_DIR.mkdir(exist_ok=True)
    for name, pdf in build_all().items():
        tbl = pa.Table.from_pandas(
            pdf, schema=SCHEMAS[name], preserve_index=False
        )
        path = OUT_DIR / f"{name}.parquet"
        pq.write_table(tbl, path, compression="zstd")
        print(f"wrote {path} ({tbl.num_rows} rows)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
