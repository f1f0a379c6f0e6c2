"""Every engine-generated corpus, defined once.

The multimodal registry rows (plans/queries.py) load a corpus by name
through `corpus(spark, name)`; the Spark-free oracle builder
(tools/build_multimodal_oracles.py) reads the same row through
`corpus_rows(name)`, so the committed oracle and the engine see the
same bytes. A row is a generator call with its size and seed fixed,
plus the schema of its family (`CORPUS_SCHEMA` for images,
`VIDEO_SCHEMA`, `AUDIO_SCHEMA`). In production a corpus is a table
scan; here the generator, same schema. Like a table, a corpus is fixed
for the life of the process: each one is generated once, on its first
use, and every later `corpus` / `corpus_rows` call reads that output.
A test that needs another size builds its frame from the generator
itself.
"""

from __future__ import annotations

import functools

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from webcollector_spark import fixtures
from webcollector_spark.operators import audiofp, media
from webcollector_spark.operators.media import AUDIO_SCHEMA, VIDEO_SCHEMA
from webcollector_spark.schema import CORPUS_SCHEMA


def _union(*names: str) -> pd.DataFrame:
    return pd.concat([_generated(n) for n in names], ignore_index=True)


CORPORA = {
    # PNG plus ~10% lossy QIMG (input_hint shape): decode verify (exact
    # for PNG, PSNR >= 40 dB for QIMG), resize, channel stats, fusion
    "base": (CORPUS_SCHEMA, lambda: fixtures.make_corpus(200)),
    # base + 40 lossy re-encodes under dup* ids: true phash near-dups
    "neardups": (CORPUS_SCHEMA, lambda: fixtures.corpus_with_neardups(200, 40)),
    # base with alt-text pathologies: spam, empties, case, label conflicts
    "captions": (CORPUS_SCHEMA, lambda: fixtures.corpus_with_caption_noise(200, 40)),
    # base + 40 box-blurred copies: a real sharpness-gate boundary
    "blurgate": (CORPUS_SCHEMA, lambda: fixtures.make_corpus_blurgate(200, 40)),
    # letterbox/pillarbox/frame padding for the border-crop geometry
    "letterbox": (CORPUS_SCHEMA, lambda: fixtures.make_corpus_letterbox(160)),
    # real baseline JPEG: DCT + canonical Huffman, restart markers
    "jpeg": (CORPUS_SCHEMA, lambda: fixtures.make_corpus_jpeg(120)),
    # real 4:2:0 (and 4:2:2) MCU-interleaved JPEG over smooth truth
    "jpeg420": (CORPUS_SCHEMA, lambda: fixtures.make_corpus_jpeg_subsampled(120)),
    # real progressive (SOF2) JPEG: spectral selection + successive approximation
    "jpegprog": (CORPUS_SCHEMA, lambda: fixtures.make_corpus_jpeg_progressive(120)),
    # real JPEG over the quality ladder: DQT tables carry each row's quality
    "jpeg_quality": (CORPUS_SCHEMA, lambda: fixtures.make_corpus_jpeg_quality(120)),
    # Adam7-interlaced PNG, lossless: bit-exact decode
    "pngi": (CORPUS_SCHEMA, lambda: fixtures.make_corpus_png_interlaced(100)),
    # real GIF87a palette + LZW over posterized truth: bit-exact decode
    "gif": (CORPUS_SCHEMA, lambda: fixtures.make_corpus_gif(100)),
    # real 24bpp BMP in both row orders, odd widths forcing row padding
    "bmp": (CORPUS_SCHEMA, lambda: fixtures.make_corpus_bmp(100)),
    # real multi-size ICO favicons mixing DIB and embedded-PNG entries
    "ico": (CORPUS_SCHEMA, lambda: fixtures.make_corpus_ico(100)),
    # real TIFF: II/MM byte orders, multi-strip, none/PackBits/LZW+predictor
    "tiff": (CORPUS_SCHEMA, lambda: fixtures.make_corpus_tiff(100)),
    # real lossless WebP (VP8L): prefix codes, LZ77, color cache, subtract-green
    "webp": (CORPUS_SCHEMA, lambda: fixtures.make_corpus_webp(100)),
    # real JPEG with APP1/EXIF: both byte orders, all 8 orientations, no-EXIF slice
    "exif": (CORPUS_SCHEMA, lambda: fixtures.make_corpus_exif(120)),
    # pixels stored under all 8 orientation tags; upright phash is the identity
    "exif_rotated": (CORPUS_SCHEMA, lambda: fixtures.make_corpus_exif_rotated(80)),
    # PNG + QIMG + JPEG + GIF in one table: header sniffing must follow
    # the payload magic, not the declared fmt
    "mixed": (CORPUS_SCHEMA, lambda: _union("base", "jpeg", "gif")),
    # opaque video blobs through the stub decoder: the frame fan-out plumbing
    "video": (VIDEO_SCHEMA, lambda: media.video_corpus_rows(24)),
    # real RIFF/AVI containers of baseline-JPEG frames
    "avi": (VIDEO_SCHEMA, lambda: media.encoded_video_rows("avi", 8)),
    # real animated GIF89a: delta sub-rects, mixed disposal methods
    "gif_anim": (VIDEO_SCHEMA, lambda: media.encoded_video_rows("gif", 10)),
    # real animated PNG: 24-bit delta frames, mixed dispose ops
    "apng": (VIDEO_SCHEMA, lambda: media.encoded_video_rows("apng", 10)),
    # opaque audio blobs through the stub decoder
    "audio": (AUDIO_SCHEMA, lambda: media.audio_corpus_rows(24)),
    # real IMA-ADPCM WAV, 4 bits/sample
    "adpcm": (AUDIO_SCHEMA, lambda: media.encoded_audio_rows("adpcm", 16)),
    # real G.711 mu-law WAV, 8 bits/sample
    "ulaw": (AUDIO_SCHEMA, lambda: media.encoded_audio_rows("ulaw", 16)),
    # real FLAC: fixed predictors, partitioned Rice, CRC/MD5 verified
    "flac": (AUDIO_SCHEMA, lambda: media.encoded_audio_rows("flac", 16)),
    # PCM16 WAV clips + gain-scaled and re-noised duplicates of six of them
    "audio_fp": (AUDIO_SCHEMA, lambda: audiofp.fp_corpus_rows(12, 6)),
}


@functools.cache
def _generated(name: str) -> pd.DataFrame | list[dict]:
    """The generator's output for `name`, made once per process. Never
    handed out: `corpus_rows` copies it, `corpus` only reads it."""
    return CORPORA[name][1]()


def corpus_rows(name: str) -> pd.DataFrame | list[dict]:
    """The named corpus, Spark-free: a pandas frame for the image
    corpora, a list of row dicts for the video and audio ones. Each call
    returns a fresh copy, so the caller may mutate it (its values are
    immutable scalars, bytes and strings)."""
    rows = _generated(name)
    if isinstance(rows, pd.DataFrame):
        return rows.copy()
    return [dict(r) for r in rows]


def corpus(spark: SparkSession, name: str) -> DataFrame:
    """The named corpus as a DataFrame of its family's schema."""
    return spark.createDataFrame(_generated(name), schema=CORPORA[name][0])
