"""GIF87a codec tests (webcollector_spark/gif.py).

No independent GIF implementation exists in this sandbox (no PIL, no
display for Tk), so the bitstream is pinned two ways: (1) a BY-HAND
spec derivation — the exact LZW bytes for a tiny raster worked out on
paper from GIF87a appendix C (variable-width codes, LSB-first packing,
width growth when the decoder's next-free entry reaches 2^width) — and
(2) structural/property tests covering every special case the spec
defines: KwKwK (code == next free), width growth to 12 bits, the 4096
table-full CLEAR, mid-stream CLEAR reset, extension-block skipping,
local color tables.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from webcollector_spark import codecs, fixtures, gif
from webcollector_spark.corpora import corpus

PALETTE216 = (
    np.stack(np.meshgrid(*[np.arange(6)] * 3, indexing="ij"), -1).reshape(-1, 3)
    * 51
).astype(np.uint8)


def test_lzw_bitstream_matches_hand_derivation():
    """indices [0,1,1,0] @ mcs=2: CLEAR=4, END=5.
    Emits: CLEAR(w3), 0(w3), 1(w3), 1(w3) [table hits 8 entries ->
    width 4], 0(w4), END=5(w4).
    LSB-first bits: 001 000 100 100 0000 1010 -> bytes 44 02 05."""
    want = bytes([0x44, 0x02, 0x05])
    got = gif.lzw_encode(np.array([0, 1, 1, 0]), 2)
    assert got == want
    assert list(gif.lzw_decode(want, 2, 4)) == [0, 1, 1, 0]


def test_lzw_kwkwk_case():
    """A run of identical symbols forces the encoder to emit a code the
    decoder hasn't built yet (code == next free) — the spec's KwKwK
    special case."""
    idx = np.array([1] * 9 + [0] * 3 + [1] * 7)
    out = gif.lzw_decode(gif.lzw_encode(idx, 2), 2, len(idx))
    assert np.array_equal(out, idx)


def test_lzw_table_full_clear_reset():
    """> 4096 dictionary entries: the encoder must emit CLEAR and both
    sides must rebuild identically. High-entropy indices over a large
    alphabet grow the table fastest."""
    rng = np.random.default_rng(3)
    idx = rng.integers(0, 216, size=60_000)
    mcs = 8
    data = gif.lzw_encode(idx, mcs)
    assert np.array_equal(gif.lzw_decode(data, mcs, len(idx)), idx)


@pytest.mark.parametrize("shape,ncolors", [
    ((1, 1), 1), ((3, 2), 2), ((17, 31), 5), ((64, 64), 216), ((40, 56), 256),
])
def test_roundtrip_lossless(shape, ncolors):
    rng = np.random.default_rng(shape[0] * 100 + ncolors)
    pal = np.vstack(
        [PALETTE216, rng.integers(0, 256, size=(40, 3), dtype=np.uint8)]
    )[:ncolors]
    h, w = shape
    img = pal[rng.integers(0, ncolors, size=h * w)].reshape(h, w, 3)
    data = gif.encode_gif87a(np.ascontiguousarray(img))
    assert data[:6] == b"GIF87a"
    assert np.array_equal(gif.decode_gif87a(data), img)
    # dispatched through the one codec seam every operator uses
    assert np.array_equal(codecs.decode(data), img)


def test_gif89a_extensions_and_local_color_table():
    """Hand-built GIF89a: a graphic-control extension block (must be
    skipped), no global table, image with a LOCAL color table."""
    img_idx = np.array([0, 1, 1, 0])
    lct = np.array([[10, 20, 30], [200, 100, 0]], dtype=np.uint8)
    data = (
        b"GIF89a"
        + struct.pack("<HHBBB", 4, 1, 0x00, 0, 0)  # no GCT
        + b"\x21\xf9" + bytes([4, 0, 0, 0, 0, 0])  # GCE ext + terminator
        + b"\x2c" + struct.pack("<HHHHB", 0, 0, 4, 1, 0x80)  # LCT flag, size 2
        + lct.tobytes()
        + bytes([2])  # LZW min code size
        + bytes([3, 0x44, 0x02, 0x05, 0])  # the hand-derived stream
        + b"\x3b"
    )
    out = gif.decode_gif87a(data)
    assert np.array_equal(out, lct[img_idx].reshape(1, 4, 3))


def test_rejections():
    img = PALETTE216[np.arange(216) % 216].reshape(6, 36, 3)
    data = gif.encode_gif87a(np.ascontiguousarray(img))
    # interlace flag flipped on a NON-interlaced stream: decodes (the
    # four-pass shuffle is supported now, test_gif_anim.py) but yields
    # a row permutation of the original, never the original itself
    flipped = bytearray(data)
    desc = data.index(b"\x2c")
    flipped[desc + 9] |= 0x40
    got = gif.decode_gif87a(bytes(flipped))
    assert not np.array_equal(got, img)
    assert np.array_equal(got[gif._interlace_order(6)], img)
    # >256 unique colors is the caller's quantization decision
    rng = np.random.default_rng(0)
    with pytest.raises(ValueError):
        gif.encode_gif87a(rng.integers(0, 256, size=(32, 32, 3), dtype=np.uint8))
    with pytest.raises(ValueError):
        gif.decode_gif87a(b"NOPE" + data[4:])
    with pytest.raises(ValueError):
        gif.decode_gif87a(data[: len(data) // 2] + b"\x00\x3b")


def _tiny_images_on_a_big_screen(n_images: int, side: int = 3000) -> bytes:
    """A GIF87a whose `n_images` 1x1 images (palette index 1) sit on a
    side x side logical screen: ~15 bytes an image."""
    gct = np.array([[0, 0, 0], [255, 255, 255]], np.uint8)
    out = bytearray(b"GIF87a" + struct.pack("<HHBBB", side, side, 0x80, 0, 0))
    out += gct.tobytes()
    raster = gif._sub_blocks(gif.lzw_encode(np.array([1], np.int32), 2))
    for k in range(n_images):
        out += b"\x2c" + struct.pack("<HHHHB", k % side, k // side, 1, 1, 0)
        out += b"\x02" + raster
    return bytes(out + b"\x3b")


def test_many_tiny_images_decode_in_time_of_their_rects():
    """codecs.decode keeps one frame but parses every image; past the
    first frame no screen is copied, so 400 1x1 images on a 3000x3000
    screen (a 6 KB file) cost their pixels, not 400 screens: about what
    4 images on the same screen cost. A decode that copied the screen
    per image took ~20x as long for 400 as for 4. Timed against each
    other on the same screen, so a loaded machine slows both."""
    import time

    def best_of_3(data: bytes) -> float:
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            codecs.decode(data)
            times.append(time.perf_counter() - t0)
        return min(times)

    data = _tiny_images_on_a_big_screen(400)
    assert len(data) < 6200
    out = codecs.decode(data)
    assert out.shape == (3000, 3000, 3)
    assert out[0, 0].tolist() == [255, 255, 255] and int(out.sum()) == 3 * 255
    few, many = best_of_3(_tiny_images_on_a_big_screen(4)), best_of_3(data)
    assert many < 4 * few, (many, few)


def test_frames_stay_bit_exact_and_a_corrupt_later_image_fails():
    """decode_gif_frames still hands out each composed frame whole, and
    decode_gif87a still parses past the frame it keeps."""
    data = _tiny_images_on_a_big_screen(5, side=8)
    frames = [f for _, f in gif.decode_gif_frames(data)]
    assert len(frames) == 5
    for k, f in enumerate(frames):
        lit = np.zeros((8, 8), bool)
        lit[0, : k + 1] = True
        assert np.array_equal(f.any(axis=2), lit), k
    assert np.array_equal(gif.decode_gif87a(data), frames[0])
    # the last image's first LZW byte -> CLEAR(4), END(5): no pixels
    bad = bytearray(data)
    assert bad[-4] == 0x4C
    bad[-4] = 0x2C
    with pytest.raises(ValueError, match="LZW produced 0 pixels"):
        gif.decode_gif87a(bytes(bad))
    with pytest.raises(ValueError, match="LZW produced 0 pixels"):
        codecs.decode(bytes(bad))


def test_corpus_lossless_invariants():
    pdf = fixtures.make_corpus_gif(12)
    for r in pdf.to_dict("records"):
        truth = fixtures.ground_truth_pixels(r["image_id"], r["w"], r["h"])
        assert len(np.unique(truth.reshape(-1, 3), axis=0)) <= 216
        rec = codecs.decode(bytes(r["bytes"]))
        assert np.array_equal(rec, truth)  # paletted input: bit-exact
        assert codecs.phash64(rec) == r["phash"]


def test_spark_end_to_end_matches_committed_oracle(spark):
    import pyarrow.parquet as pq

    from webcollector_spark.operators import images
    from webcollector_spark.plans.queries import _ORACLE_DIR

    got = (
        images.decode_verify(corpus(spark, "gif"))
        .toPandas()
        .sort_values("image_id")
        .reset_index(drop=True)
    )
    want = (
        pq.read_table(_ORACLE_DIR / "image_decode_verify_gif.parquet")
        .to_pandas()
        .sort_values("image_id")
        .reset_index(drop=True)
    )
    assert got.equals(want)
    assert got.psnr_ok.all() and got.phash_match.all()
