"""Tests for the pure-numpy baseline JPEG codec (webcollector_spark.jpeg)
and its wiring into the decode operators.

This is the real-compressed-bytes path that retires the QIMG stand-in
as the only lossy codec (VERDICT r3 item 5): DCT + canonical Huffman +
byte stuffing + restart markers, round-tripped at the bitstream level.
Reference anchor: Page content bytes are real compressed payloads
(model/Page.java:323-330); the PSNR>=40dB gate is the BASELINE.json
input_hint invariant.
"""

import numpy as np
import pytest

from conftest import corpus_frame

from webcollector_spark import codecs, fixtures, jpeg
from webcollector_spark.corpora import corpus
from webcollector_spark.operators import images, media


def _noise(w, h, seed=7):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


def _gradient(w, h):
    x = np.linspace(0, 255, w, dtype=np.float64)[None, :]
    y = np.linspace(0, 255, h, dtype=np.float64)[:, None]
    return np.stack([x + 0 * y, y + 0 * x, (x + y) / 2], axis=-1).astype(np.uint8)


def test_roundtrip_noise_above_gate():
    # full-range noise is the worst case for DCT quantization — the
    # default quality must still clear the input_hint 40 dB gate
    px = _noise(64, 48)
    out = jpeg.decode_baseline(jpeg.encode_baseline(px))
    assert out.shape == px.shape and out.dtype == np.uint8
    assert codecs.psnr_db(px, out) >= 40.0


def test_roundtrip_structured_much_higher():
    px = _gradient(80, 56)
    out = jpeg.decode_baseline(jpeg.encode_baseline(px))
    assert codecs.psnr_db(px, out) >= 50.0


def test_roundtrip_grayscale():
    px = _noise(40, 32)[..., 0]
    out = jpeg.decode_baseline(jpeg.encode_baseline(px))
    assert out.shape == px.shape  # 1-component stream stays HxW
    assert codecs.psnr_db(px, out) >= 40.0


def test_odd_dimensions_pad_and_crop():
    # non-multiple-of-8 edges exercise the pad (encode) / crop (decode)
    # path; PSNR is measured on the unpadded region only
    px = _noise(37, 29)
    out = jpeg.decode_baseline(jpeg.encode_baseline(px))
    assert out.shape == px.shape
    assert codecs.psnr_db(px, out) >= 40.0


def test_byte_stuffing_present_and_transparent():
    # a busy image reliably produces 0xFF bytes in the entropy segment;
    # they must be stuffed (FF 00) on the wire and stripped on decode
    px = _noise(64, 64, seed=3)
    data = jpeg.encode_baseline(px)
    sos = data.index(b"\xff\xda")
    assert b"\xff\x00" in data[sos:]  # stuffing actually occurred
    assert codecs.psnr_db(px, jpeg.decode_baseline(data)) >= 40.0


def test_restart_interval_bitstream_and_equality():
    px = _noise(64, 48, seed=11)
    plain = jpeg.encode_baseline(px, restart_interval=0)
    rst = jpeg.encode_baseline(px, restart_interval=4)
    assert b"\xff\xdd" in rst and b"\xff\xdd" not in plain  # DRI
    assert any(bytes([0xFF, 0xD0 + i]) in rst for i in range(8))  # RSTn
    # the DC-predictor resets must be bit-faithful: both streams decode
    # to the identical pixel array (same quantized coefficients)
    assert np.array_equal(jpeg.decode_baseline(plain), jpeg.decode_baseline(rst))


def test_unsupported_streams_raise_not_garble():
    px = _noise(24, 16)
    data = bytearray(jpeg.encode_baseline(px))
    # extended sequential (12-bit class): SOF0 (FFC0) -> SOF1 (FFC1).
    # progressive (SOF2) is SUPPORTED — see test_jpeg_progressive.py.
    ext = bytes(data).replace(b"\xff\xc0", b"\xff\xc1", 1)
    with pytest.raises(ValueError, match="SOF0"):
        jpeg.decode_baseline(ext)
    # sampling factors beyond 2 (legal in the spec, absent on the web):
    # patch the Y sampling byte inside SOF0 to 3x3
    sof = bytes(data).index(b"\xff\xc0")
    sub = bytearray(data)
    sub[sof + 11] = 0x33  # component 1 sampling 1x1 -> 3x3
    with pytest.raises(ValueError, match="sampling factors"):
        jpeg.decode_baseline(bytes(sub))
    with pytest.raises(ValueError, match="SOI"):
        jpeg.decode_baseline(b"\x00\x01\x02")


def test_decode_baseline_at_concatenated_frames():
    # the MJPEG seam: frame boundaries come from marker structure, so
    # back-to-back images decode at exact offsets
    a, b = _noise(16, 16, seed=1), _noise(16, 16, seed=2)
    ea, eb = jpeg.encode_baseline(a), jpeg.encode_baseline(b)
    stream = ea + eb
    fa, pos = jpeg.decode_baseline_at(stream, 0)
    assert pos == len(ea)
    fb, end = jpeg.decode_baseline_at(stream, pos)
    assert end == len(stream)
    assert codecs.psnr_db(a, fa) >= 40.0 and codecs.psnr_db(b, fb) >= 40.0
    assert not np.array_equal(fa, fb)


def test_codecs_dispatch_on_soi_magic():
    px = _noise(32, 24, seed=5)
    data = jpeg.encode_baseline(px)
    assert data[:2] == b"\xff\xd8"
    out = codecs.decode(data)  # codecs.decode dispatches on magic
    assert codecs.psnr_db(px, out) >= 40.0


def test_make_corpus_jpeg_invariants():
    pdf = fixtures.make_corpus_jpeg(12)
    assert set(pdf["fmt"]) == {"jpeg"}
    dri = 0
    for _, row in pdf.iterrows():
        assert bytes(row["bytes"][:2]) == b"\xff\xd8"
        px = codecs.decode(row["bytes"])
        gt = fixtures.ground_truth_pixels(row["image_id"], row["w"], row["h"])
        assert px.shape == gt.shape
        assert codecs.psnr_db(gt, px) >= 40.0
        assert codecs.phash64(px) == row["phash"]
        dri += b"\xff\xdd" in bytes(row["bytes"])
    assert dri > 0  # every third image carries a restart interval


def test_jpeg_corpus_through_decode_verify(spark):
    # the registry row's dataflow: real DCT+Huffman bytes through the
    # Arrow-batched verify operator, every row passing both gates
    out = images.decode_verify(corpus_frame(spark, fixtures.make_corpus_jpeg(24))).collect()
    assert len(out) == 24
    assert all(r["psnr_ok"] and r["phash_match"] for r in out)
    assert all(r["fmt"] == "jpeg" for r in out)


def test_mjpeg_video_through_sample_frames(spark):
    # fmt='mjpeg' dispatch: concatenated baseline-JPEG frames through
    # the same mapInPandas operator as the stub/ppm paths
    rng = np.random.default_rng(21)
    rows = []
    metas = {}
    for i in range(3):
        vid = f"mjpg{i:04d}"
        frames = [
            rng.integers(0, 256, size=(12, 16, 3), dtype=np.uint8)
            for _ in range(8)
        ]
        data = encode_mjpeg_stream(frames)
        metas[vid] = data
        rows.append((vid, data, 8, 24.0, 16, 12, "mjpeg", f"caption of {vid}"))
    vids = spark.createDataFrame(rows, schema=media.VIDEO_SCHEMA)
    out = media.sample_frames(vids, every_n=4)
    assert out.schema == media.FRAME_SCHEMA
    got = out.collect()
    assert {r["video_id"] for r in got} == set(metas)
    for r in got:
        decoded = dict(
            enumerate(
                media.video_frames("mjpeg", r["video_id"], metas[r["video_id"]], 8, 16, 12)
            )
        )
        assert abs(r["frame_mean"] - float(decoded[r["frame_idx"]].mean())) < 1e-3


def test_mjpeg_metadata_mismatch_raises():
    frames = [np.zeros((12, 16, 3), dtype=np.uint8)]
    data = encode_mjpeg_stream(frames)
    with pytest.raises(ValueError, match="metadata"):
        list(media.video_frames("mjpeg", "v", data, 1, 8, 8))


# -- header-only quality estimation (jpeg.parse_dqt / estimate_quality,
#    operators/sniff.py jpeg_quality) ----------------------------------------


def test_ijg_luma_scaling_injective_and_invertible():
    # the estimate_quality docstring's load-bearing claim: the luma
    # inversion is exact and unique over the whole 1..100 range
    seen = {}
    for q in range(1, 101):
        t = tuple(jpeg._quality_scale(jpeg.STD_LUMA_Q, q))
        assert t not in seen, f"q={q} collides with q={seen[t]}"
        seen[t] = q
        q_est, exact = jpeg.estimate_quality(
            jpeg._quality_scale(jpeg.STD_LUMA_Q, q), jpeg.STD_LUMA_Q
        )
        assert (q_est, exact) == (q, True)


def test_ijg_chroma_collisions_resolve_low():
    # chroma clips every entry to 255 at q<=3, so 1..3 are one class;
    # ties resolve to the LOWER q (conservative for a keep/drop gate)
    for q in range(1, 101):
        q_est, exact = jpeg.estimate_quality(
            jpeg._quality_scale(jpeg.STD_CHROMA_Q, q), jpeg.STD_CHROMA_Q
        )
        assert exact
        assert q_est == (1 if q <= 3 else q)


def _estimate_quality_loop(table, std):
    """The original per-q loop estimate_quality replaced: the reference."""
    best_q, best_err = 1, None
    table = np.asarray(table, dtype=np.int64)
    for q in range(1, 101):
        err = int(np.abs(jpeg._quality_scale(std, q) - table).sum())
        if best_err is None or err < best_err:
            best_q, best_err = q, err
    return best_q, best_err == 0


def test_estimate_quality_matches_the_per_q_loop():
    rng = np.random.default_rng(5)
    for std in (jpeg.STD_LUMA_Q, jpeg.STD_CHROMA_Q):
        tables = [jpeg._quality_scale(std, q) for q in range(1, 101)]
        # off-by-a-little tables sit between two scalings (ties included)
        tables += [
            np.clip(t + rng.integers(-2, 3, 64), 1, 255) for t in tables[::3]
        ]
        tables += list(rng.integers(1, 256, (200, 64)))
        for t in tables:
            assert jpeg.estimate_quality(t, std) == _estimate_quality_loop(t, std)


def test_parse_dqt_roundtrips_encoder_tables():
    px = _gradient(24, 16)
    for q in (25, 50, 75, 92):
        tables = jpeg.parse_dqt(jpeg.encode_baseline(px, quality=q))
        assert set(tables) == {0, 1}
        assert np.array_equal(tables[0], jpeg._quality_scale(jpeg.STD_LUMA_Q, q))
        assert np.array_equal(tables[1], jpeg._quality_scale(jpeg.STD_CHROMA_Q, q))


def test_parse_dqt_grayscale_single_table():
    data = jpeg.encode_baseline(_gradient(24, 16)[..., 0], quality=68)
    tables = jpeg.parse_dqt(data)
    assert set(tables) == {0}
    assert np.array_equal(tables[0], jpeg._quality_scale(jpeg.STD_LUMA_Q, 68))


def test_parse_dqt_truncated_prefix_and_non_jpeg():
    data = jpeg.encode_baseline(_gradient(24, 16), quality=75)
    # find the second DQT segment and cut mid-payload: the complete
    # first table must survive, the truncated one must not appear
    first = data.index(b"\xff\xdb")
    second = data.index(b"\xff\xdb", first + 2)
    tables = jpeg.parse_dqt(data[: second + 30])
    assert set(tables) == {0}
    assert jpeg.parse_dqt(b"QIMG not a jpeg") == {}
    assert jpeg.parse_dqt(b"\xff\xd8") == {}  # SOI alone: no tables yet


def test_jpeg_quality_operator_recovers_ladder(spark):
    from webcollector_spark.operators.sniff import jpeg_quality

    df = corpus(spark, "mixed").unionByName(
        corpus_frame(spark, fixtures.make_corpus_jpeg_quality(24))
    )
    rows = {r["image_id"]: r for r in jpeg_quality(df).collect()}
    assert len(rows) == 444
    for iid, r in rows.items():
        if iid.startswith("jq"):
            q = fixtures.jpeg_quality_for(int(iid[2:]))
            assert r["is_jpeg"] and r["n_tables"] == 2 and r["dqt_std"]
            assert (r["quality_luma"], r["quality_chroma"], r["quality_est"]) == (q, q, q)
        elif iid.startswith("jpg"):
            assert r["is_jpeg"] and r["quality_est"] == 98
        else:
            # png/qimg/gif payloads — INCLUDING the 16 base-corpus rows
            # mislabeled fmt="jpeg": the operator keys on payload magic
            assert not r["is_jpeg"] and r["n_tables"] == 0
            assert r["quality_est"] is None and r["dqt_std"] is None


def test_jpeg_quality_flags_nonstandard_tables(spark):
    from webcollector_spark.operators.sniff import jpeg_quality

    # hand-build a JPEG-shaped header whose DQT is NOT an IJG scaling:
    # dqt_std must come back False while the estimate stays defined
    custom = jpeg._quality_scale(jpeg.STD_LUMA_Q, 80).copy()
    custom[0] += 1
    seg = bytes([0]) + bytes(int(x) for x in custom[jpeg.ZIGZAG])
    data = (
        b"\xff\xd8"
        + b"\xff\xdb"
        + (len(seg) + 2).to_bytes(2, "big")
        + seg
        + b"\xff\xd9"
    )
    df = spark.createDataFrame(
        [("custom0", bytearray(data))], "image_id string, bytes binary"
    )
    (r,) = jpeg_quality(df).collect()
    assert r["is_jpeg"] and r["n_tables"] == 1
    assert r["quality_luma"] == 80 and r["dqt_std"] is False
    assert r["quality_chroma"] is None and r["quality_est"] == 80


# -- chroma subsampling (4:2:0 / 4:2:2) ---------------------------------------


def _straightline_subsampled(px, quality, sub):
    """Independent DCT-domain reconstruction — same math as the codec
    but NO bitstream anywhere: pins the entropy/interleave layers as
    bit-exact, even on full-range noise."""
    ycc = jpeg.rgb_to_ycbcr(px)
    samps = jpeg._SAMP_FACTORS[sub]
    h, w = px.shape[:2]
    hmax = max(s[0] for s in samps)
    vmax = max(s[1] for s in samps)
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    qt = [
        jpeg._quality_scale(jpeg.STD_LUMA_Q, quality).reshape(8, 8),
        jpeg._quality_scale(jpeg.STD_CHROMA_Q, quality).reshape(8, 8),
    ]
    out = []
    for ci in range(3):
        hi, vi = samps[ci]
        plane = jpeg._box_down(ycc[..., ci], vmax // vi, hmax // hi)
        gh, gw = mcuy * vi * 8, mcux * hi * 8
        plane = np.pad(
            plane,
            ((0, gh - plane.shape[0]), (0, gw - plane.shape[1])),
            mode="edge",
        )
        blocks, bh, bw = jpeg._to_blocks(plane - 128.0)
        coefs = np.einsum("ij,njk,lk->nil", jpeg._C, blocks, jpeg._C)
        dq = np.round(coefs / qt[min(ci, 1)]) * qt[min(ci, 1)]
        rec = np.einsum("ji,njk,kl->nil", jpeg._C, dq, jpeg._C) + 128.0
        ch, cw = -(-(h * vi) // vmax), -(-(w * hi) // hmax)
        pl = jpeg._from_blocks(rec, bh, bw, ch, cw)
        if vi != vmax or hi != hmax:
            pl = np.repeat(
                np.repeat(pl, vmax // vi, axis=0), hmax // hi, axis=1
            )[:h, :w]
        out.append(pl)
    return jpeg.ycbcr_to_rgb(np.stack(out, axis=-1))


def test_subsampled_bitstream_bit_exact_vs_straightline():
    # noise is the adversarial input: every AC coefficient populated,
    # every Huffman path and the full MCU interleave exercised
    for w, h in ((64, 48), (33, 17), (16, 16), (31, 64)):
        px = _noise(w, h, seed=w * 100 + h)
        for sub in ("444", "422", "420", "411", "440"):
            got = jpeg.decode_baseline(
                jpeg.encode_baseline(px, quality=85, subsampling=sub)
            )
            assert np.array_equal(got, _straightline_subsampled(px, 85, sub)), (
                w, h, sub,
            )


def test_subsampled_restart_markers_roundtrip():
    px = fixtures.smooth_field_pixels(5, 48, 32)
    for sub in ("420", "422", "411", "440"):
        plain = jpeg.decode_baseline(
            jpeg.encode_baseline(px, quality=90, subsampling=sub)
        )
        with_rst = jpeg.decode_baseline(
            jpeg.encode_baseline(
                px, quality=90, subsampling=sub, restart_interval=2
            )
        )
        # RSTn only re-packages the stream; decoded pixels are identical
        assert np.array_equal(plain, with_rst), sub


def test_subsampled_sof_declares_factors_and_sniffs():
    px = fixtures.smooth_field_pixels(9, 40, 24)
    data = jpeg.encode_baseline(px, quality=90, subsampling="420")
    sof = data.index(b"\xff\xc0")
    assert data[sof + 11] == 0x22  # luma 2x2
    assert data[sof + 14] == 0x11 and data[sof + 17] == 0x11  # chroma 1x1
    fmt, w, h = codecs.sniff_header(data)
    assert (fmt, w, h) == ("jpeg", 40, 24)
    # header-only quality estimation is layout-independent
    tables = jpeg.parse_dqt(data)
    assert jpeg.estimate_quality(tables[0], jpeg.STD_LUMA_Q) == (90, True)


def test_make_corpus_jpeg_subsampled_invariants():
    pdf = fixtures.make_corpus_jpeg_subsampled(24)
    assert len(pdf) == 24
    for i, r in enumerate(pdf.to_dict("records")):
        px = codecs.decode(bytes(r["bytes"]))
        truth = fixtures.ground_truth_pixels(r["image_id"], r["w"], r["h"])
        assert px.shape == truth.shape
        assert codecs.psnr_db(px, truth) >= 40.0
        assert codecs.phash64(px) == int(r["phash"])
        # the declared layout is actually in the SOF header
        sof = bytes(r["bytes"]).index(b"\xff\xc0")
        want = (0x22, 0x22, 0x21, 0x22, 0x41, 0x12)[i % 6]
        assert bytes(r["bytes"])[sof + 11] == want


def test_subsampled_corpus_through_decode_verify(spark):
    rows = images.decode_verify(
        corpus_frame(spark, fixtures.make_corpus_jpeg_subsampled(24))
    ).collect()
    assert len(rows) == 24
    assert all(r["psnr_ok"] and r["phash_match"] for r in rows)


# -- fill bytes and TEM (T.81 B.1.1.2 / B.1.1.3) ---------------------------


def _with_fill_and_tem(data: bytes) -> bytes:
    """`data` (one clean encoder output) with 0xFF fill bytes and a TEM
    marker ahead of every segment after SOI, EOI included. Both are
    legal anywhere a marker may appear, so every reader must see through
    them. The walk is written out here, independent of jpeg.py's."""
    out, pos = bytearray(data[:2]), 2
    while pos < len(data):
        marker = data[pos + 1]
        end = pos + 2
        if marker != 0xD9:
            end += int.from_bytes(data[pos + 2 : pos + 4], "big")
        if marker == 0xDA:  # entropy data runs to the next non-RST marker
            while not (
                data[end] == 0xFF and data[end + 1] not in (0x00, *range(0xD0, 0xD8))
            ):
                end += 1
        out += b"\xff\xff\x01\xff\xff" + data[pos:end]
        pos = end
    return bytes(out)


def _fill_cases():
    from webcollector_spark.exif import build_exif_app1, insert_app1
    from webcollector_spark.jpeg_progressive import encode_progressive

    px = _noise(40, 24, seed=11)
    app1 = build_exif_app1(make="Cam", orientation=6, pixel_x=40, pixel_y=24)
    return {
        "baseline": jpeg.encode_baseline(px, quality=75, restart_interval=2),
        "420": jpeg.encode_baseline(px, quality=90, subsampling="420"),
        "progressive": encode_progressive(px, quality=85),
        "exif": insert_app1(jpeg.encode_baseline(px, quality=80), app1),
    }


@pytest.mark.parametrize("kind", ["baseline", "420", "progressive", "exif"])
def test_fill_bytes_and_tem_before_segments(kind):
    from webcollector_spark.exif import parse_exif

    clean = _fill_cases()[kind]
    filled = _with_fill_and_tem(clean)
    assert len(filled) > len(clean)
    px, end = jpeg.decode_baseline_at(filled, 0)
    assert np.array_equal(px, jpeg.decode_baseline(clean))
    assert end == len(filled)
    assert codecs.sniff_header(filled) == codecs.sniff_header(clean)
    dqt, dqt_clean = jpeg.parse_dqt(filled), jpeg.parse_dqt(clean)
    assert dqt.keys() == dqt_clean.keys() and len(dqt) == 2
    assert all(np.array_equal(dqt[t], dqt_clean[t]) for t in dqt)
    assert jpeg.sof_marker(filled) == jpeg.sof_marker(clean)
    assert jpeg.header_quality(filled) == jpeg.header_quality(clean)
    assert parse_exif(filled) == parse_exif(clean)
    if kind == "exif":
        assert parse_exif(filled)["orientation"] == 6


# -- one frame loop for SOF0 and SOF2 ----------------------------------------


def _scan_per_component(px, quality, sub):
    """A SOF0 stream with one sequential scan per component: legal T.81
    (A.2.2) that encode_baseline never writes. A lone component scans
    its own ceil-sized block grid in raster order, without the MCU
    padding; the order is written out here, independent of jpeg.py's."""
    coefs, samps, qtabs = jpeg._quantize(px, quality, sub)
    h, w = px.shape[:2]
    hmax, vmax = max(s[0] for s in samps), max(s[1] for s in samps)
    mcux = -(-w // (8 * hmax))
    out = jpeg._frame_head(0xC0, qtabs, h, w, samps)
    tables = ((jpeg._DC_LUMA, jpeg._AC_LUMA), (jpeg._DC_CHROMA, jpeg._AC_CHROMA))
    for t, (dc, ac) in enumerate(tables):
        out += jpeg._seg(0xC4, bytes([t]) + bytes(dc[0]) + bytes(dc[1]))
        out += jpeg._seg(0xC4, bytes([0x10 | t]) + bytes(ac[0]) + bytes(ac[1]))
    for ci, (hi, vi) in enumerate(samps):
        t = min(ci, 1)
        dct, act = (jpeg._huff_codes(*tab) for tab in tables[t])
        nbx = -(-(-(-w * hi // hmax)) // 8)
        nby = -(-(-(-h * vi // vmax)) // 8)
        bw, pred = jpeg._BitWriter(), 0
        for idx in (r * mcux * hi + x for r in range(nby) for x in range(nbx)):
            blk = [int(v) for v in coefs[ci][idx]]
            size, bits = jpeg._magnitude(blk[0] - pred)
            pred = blk[0]
            bw.write(*dct[size])
            bw.write(bits, size)
            run = 0
            for k in range(1, 64):
                if blk[k] == 0:
                    run += 1
                    continue
                while run > 15:
                    bw.write(*act[0xF0])
                    run -= 16
                size, bits = jpeg._magnitude(blk[k])
                bw.write(*act[(run << 4) | size])
                bw.write(bits, size)
                run = 0
            if run:
                bw.write(*act[0x00])
        sos = bytes([1, ci + 1, (t << 4) | t, 0, 63, 0])
        out += jpeg._seg(0xDA, sos) + bw.flush()
    return bytes(out + b"\xff\xd9")


def test_sequential_scan_per_component_decodes():
    for w, h in ((33, 17), (16, 16), (40, 24)):
        px = _noise(w, h, seed=w + h)
        for sub in ("444", "420", "422", "411", "440"):
            data = _scan_per_component(px, 90, sub)
            assert data.count(b"\xff\xda") == 3
            want = jpeg.decode_baseline(
                jpeg.encode_baseline(px, quality=90, subsampling=sub)
            )
            assert np.array_equal(codecs.decode(data), want), (w, h, sub)


@pytest.mark.parametrize("cut", [1, 2])
def test_frame_cut_after_its_last_scan_raises(cut):
    """Baseline and progressive alike: every scan arrived, the EOI did
    not. A cut body is a failed decode, never a quiet success."""
    from webcollector_spark.jpeg_progressive import encode_progressive

    px = _noise(24, 16, seed=4)
    for data in (jpeg.encode_baseline(px), encode_progressive(px)):
        assert data.endswith(b"\xff\xd9")
        with pytest.raises(ValueError):
            codecs.decode(data[:-cut])


@pytest.mark.parametrize("kind", ["baseline", "progressive"])
def test_overlong_entropy_segment_refused_early(kind):
    """4 MiB of entropy bytes behind an 8x8 frame's last scan: no valid
    scan over 3 blocks runs past 3 x 256 bytes, so the decode refuses it
    while unstuffing, before the bit reader is built for it."""
    import time
    import tracemalloc

    from webcollector_spark.jpeg_progressive import encode_progressive

    px = _noise(8, 8, seed=6)
    enc = (
        jpeg.encode_baseline(px)
        if kind == "baseline"
        else encode_progressive(px, quality=90)
    )
    data = enc[:-2] + b"\x55" * (4 << 20) + b"\xff\xd9"
    tracemalloc.start()
    try:
        t0 = time.perf_counter()
        with pytest.raises(ValueError, match="entropy-coded segment"):
            codecs.decode(data)
        took = time.perf_counter() - t0
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert took < 1.0 and peak < 8 << 20, (took, peak)


# -- fixture encoder (MJPEG stream) --------------------------------------


def encode_mjpeg_stream(frames: list[np.ndarray], quality: int = 98) -> bytes:
    """Concatenated baseline-JPEG frames — the MJPEG wire shape (each
    frame a complete SOI..EOI image, back to back). Fixture-side twin
    of the `mjpeg` video kernel; REAL compression (DCT + Huffman), unlike
    the zlib containers."""
    return b"".join(jpeg.encode_baseline(f, quality) for f in frames)
