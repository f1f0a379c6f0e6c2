"""Deterministic synthetic fixtures (FIXTURES.md sections A1-A4).

No network, no external data: the "web" is a seeded site graph whose
pages serve image+caption payloads from the corpus table. Everything is
reproducible from (seed, n_pages, n_hosts) — the per-image pixel ground
truth is recomputable via `ground_truth_pixels`, so tests can verify the
decoded-pixel invariant without storing raw arrays.

Graph shape (exercises every engine path):
* host skew — host 0 owns ~50% of pages (salting/AQE defense test),
* ~2% redirect pages (301/302 + location, reference O12 semantics:
  requester does NOT follow; code+location recorded),
* ~3% failing pages (404) and ~2% flaky pages (fail until the Nth try,
  exercising retry/executeCount),
* a few dead out-links (URL not in graph -> FAILED path).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from webcollector_spark import codecs

SEED = 42


def _page_url(host_id: int, page_id: int) -> str:
    return f"http://h{host_id:03d}.test/p/{page_id}"


def ground_truth_pixels(image_id: str, w: int, h: int) -> np.ndarray:
    """Recompute the exact pixel array the generator encoded for this id.
    `gif*` ids are posterized to 6 levels/channel (216 unique colors ≤
    the GIF palette cap) so GIF round-trips losslessly — the invariant
    for paletted input is bit-exactness, not the 40 dB lossy gate."""
    idx = int(image_id[3:])
    if image_id.startswith(("j20", "jpr")):
        return smooth_field_pixels(idx, w, h)
    rng = np.random.default_rng(SEED * 1_000_003 + idx)
    pixels = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    if image_id.startswith("gif"):
        return (pixels // 51 * 51).astype(np.uint8)
    return pixels


def smooth_field_pixels(idx: int, w: int, h: int) -> np.ndarray:
    """Low-frequency sinusoid mix — the ground truth for the chroma-
    subsampled corpus. Full-range NOISE chroma cannot survive 2x2
    box-downsample + replication (that loss is the point of 4:2:0, not
    a codec defect), so the 40 dB input_hint gate is evidenced on
    photograph-like smooth content; bitstream correctness on noise is
    pinned separately and bit-exactly in test_jpeg.py."""
    rng = np.random.default_rng(SEED * 1_000_003 + idx)
    yy, xx = np.mgrid[0:h, 0:w].astype(np.float64)

    def field(n_waves: int, lo: float, hi: float) -> np.ndarray:
        f = np.zeros((h, w))
        for _ in range(n_waves):
            fx, fy = rng.uniform(0.2, 0.8, 2)
            p1, p2 = rng.uniform(0, 2 * np.pi, 2)
            f += (
                rng.uniform(lo, hi)
                * np.sin(2 * np.pi * fx * xx / w + p1)
                * np.sin(2 * np.pi * fy * yy / h + p2)
            )
        return f

    # shared structure dominates (like a photo's luma); per-channel
    # deviations are small, so chroma carries little energy and the
    # 2x2 box-down/replicate-up cycle costs only a few dB
    base = field(3, 25.0, 45.0)
    out = np.stack([base + field(2, 3.0, 9.0) for _ in range(3)], axis=-1)
    return np.clip(out + 128.0, 0, 255).round().astype(np.uint8)


def make_corpus(
    n: int, seed: int = SEED, sizes: tuple[int, ...] = (32, 64, 128)
) -> pd.DataFrame:
    """Image+caption corpus, exactly the input_hint shape
    (image_id, bytes, w, h, fmt, caption, phash). `sizes` picks the
    candidate edge lengths (bench uses larger images so decode cost is
    representative of real payloads)."""
    rng = np.random.default_rng(seed)
    sizes = np.array(sizes)
    rows = []
    for i in range(n):
        image_id = f"img{i:08d}"
        w = int(sizes[rng.integers(0, len(sizes))])
        h = int(sizes[rng.integers(0, len(sizes))])
        pixels = ground_truth_pixels(image_id, w, h)
        lossy = rng.random() < 0.10
        data = codecs.encode_lossy(pixels) if lossy else codecs.encode_png(pixels)
        host = f"h{i % 7:03d}.test"
        rows.append(
            {
                "image_id": image_id,
                "bytes": data,
                "w": w,
                "h": h,
                "fmt": "jpeg" if lossy else "png",
                "caption": f"caption of {image_id} from {host}",
                "phash": codecs.phash64(codecs.decode(data)),
            }
        )
    return pd.DataFrame(rows)


def make_corpus_jpeg(
    n: int = 120, seed: int = SEED, sizes: tuple[int, ...] = (32, 64)
) -> pd.DataFrame:
    """input_hint-shaped corpus whose bytes are REAL baseline JPEG
    (webcollector_spark.jpeg: DCT + canonical Huffman) — the fidelity
    corpus behind the `image_decode_verify_jpeg` registry row. Every
    third image carries a restart interval so the DRI/RSTn resync path
    is exercised in-corpus, not just in unit tests. QIMG remains the
    fast lossy codec for the crawl-throughput benches; this corpus is
    where real compressed bytes flow through the decode operators."""
    from webcollector_spark import jpeg

    rng = np.random.default_rng(seed)
    sizes = np.array(sizes)
    rows = []
    for i in range(n):
        image_id = f"jpg{i:08d}"
        w = int(sizes[rng.integers(0, len(sizes))])
        h = int(sizes[rng.integers(0, len(sizes))])
        pixels = ground_truth_pixels(image_id, w, h)
        data = jpeg.encode_baseline(
            pixels, quality=98, restart_interval=(0, 0, 4)[i % 3]
        )
        rows.append(
            {
                "image_id": image_id,
                "bytes": data,
                "w": w,
                "h": h,
                "fmt": "jpeg",
                "caption": f"caption of {image_id}",
                "phash": codecs.phash64(codecs.decode(data)),
            }
        )
    return pd.DataFrame(rows)


def make_corpus_jpeg_subsampled(
    n: int = 120, seed: int = SEED, sizes: tuple[int, ...] = (32, 64)
) -> pd.DataFrame:
    """Chroma-subsampled real-JPEG corpus (ids `j20*`): mostly 4:2:0 —
    the layout the real web overwhelmingly serves — with 4:2:2, 4:1:1
    and 4:4:0 rows cycled in (r5: the DV-legacy layouts at factor-4
    sampling) and a restart interval every fourth row, over smooth
    photograph-like ground truth so the 40 dB decode gate is
    meaningful under chroma loss (worst measured 50.5 dB at 4:1:1)."""
    from webcollector_spark import jpeg

    rng = np.random.default_rng(seed + 11)
    sizes = np.array(sizes)
    rows = []
    for i in range(n):
        image_id = f"j20{i:08d}"
        w = int(sizes[rng.integers(0, len(sizes))])
        h = int(sizes[rng.integers(0, len(sizes))])
        pixels = ground_truth_pixels(image_id, w, h)
        data = jpeg.encode_baseline(
            pixels,
            quality=92,
            restart_interval=(0, 0, 0, 2)[i % 4],
            subsampling=("420", "420", "422", "420", "411", "440")[i % 6],
        )
        rows.append(
            {
                "image_id": image_id,
                "bytes": data,
                "w": w,
                "h": h,
                "fmt": "jpeg",
                "caption": f"caption of {image_id}",
                "phash": codecs.phash64(codecs.decode(data)),
            }
        )
    return pd.DataFrame(rows)


def make_corpus_png_interlaced(
    n: int = 100, seed: int = SEED, sizes: tuple[int, ...] = (32, 64)
) -> pd.DataFrame:
    """Adam7-interlaced PNG corpus (ids `pni*`): the same noise ground
    truth as the base corpus — PNG is lossless either way, so the row
    invariant is BIT-EXACTNESS, and what the corpus exercises is the
    seven-pass de-interleave against standard writers' output."""
    rng = np.random.default_rng(seed + 17)
    sizes = np.array(sizes)
    rows = []
    for i in range(n):
        image_id = f"pni{i:08d}"
        w = int(sizes[rng.integers(0, len(sizes))])
        h = int(sizes[rng.integers(0, len(sizes))])
        pixels = ground_truth_pixels(image_id, w, h)
        data = codecs.encode_png(pixels, interlace=True)
        rows.append(
            {
                "image_id": image_id,
                "bytes": data,
                "w": w,
                "h": h,
                "fmt": "png",
                "caption": f"caption of {image_id}",
                "phash": codecs.phash64(pixels),
            }
        )
    return pd.DataFrame(rows)


def make_corpus_jpeg_progressive(
    n: int = 120, seed: int = SEED, sizes: tuple[int, ...] = (32, 64)
) -> pd.DataFrame:
    """Progressive-JPEG corpus (ids `jpr*`): SOF2 multi-scan streams
    from jpeg_progressive.encode_progressive (libjpeg's standard scan
    script, per-scan optimal Huffman tables), cycling all three chroma
    layouts. Same smooth ground truth as the subsampled corpus so the
    40 dB gate binds; transport losslessness vs baseline is pinned
    separately and bit-exactly in test_jpeg_progressive.py."""
    from webcollector_spark.jpeg_progressive import encode_progressive

    rng = np.random.default_rng(seed + 13)
    sizes = np.array(sizes)
    rows = []
    for i in range(n):
        image_id = f"jpr{i:08d}"
        w = int(sizes[rng.integers(0, len(sizes))])
        h = int(sizes[rng.integers(0, len(sizes))])
        pixels = ground_truth_pixels(image_id, w, h)
        data = encode_progressive(
            pixels, quality=92, subsampling=("420", "444", "422")[i % 3]
        )
        rows.append(
            {
                "image_id": image_id,
                "bytes": data,
                "w": w,
                "h": h,
                "fmt": "jpeg",
                "caption": f"caption of {image_id}",
                "phash": codecs.phash64(codecs.decode(data)),
            }
        )
    return pd.DataFrame(rows)


#: quality ladder for the re-encode-fingerprint corpus: spans the
#: thumbnail-mill range (25) through archival (97); deterministic by
#: image index so the oracle builder recovers ground truth from
#: CONSTRUCTION, never by running the estimator under test.
JPEG_QUALITY_LADDER = (25, 40, 50, 68, 75, 85, 92, 97)


def jpeg_quality_for(i: int) -> int:
    return JPEG_QUALITY_LADDER[i % len(JPEG_QUALITY_LADDER)]


def make_corpus_jpeg_quality(
    n: int = 120, seed: int = SEED, sizes: tuple[int, ...] = (32, 64)
) -> pd.DataFrame:
    """Real-JPEG corpus encoded across JPEG_QUALITY_LADDER — the input
    for header-only quality estimation (operators/sniff.py
    jpeg_quality): every row's DQT segment carries the IJG scaling
    fingerprint of jpeg_quality_for(i)."""
    from webcollector_spark import jpeg

    rng = np.random.default_rng(seed + 7)
    sizes = np.array(sizes)
    rows = []
    for i in range(n):
        image_id = f"jq{i:08d}"
        w = int(sizes[rng.integers(0, len(sizes))])
        h = int(sizes[rng.integers(0, len(sizes))])
        pixels = ground_truth_pixels(image_id, w, h)
        data = jpeg.encode_baseline(pixels, quality=jpeg_quality_for(i))
        rows.append(
            {
                "image_id": image_id,
                "bytes": data,
                "w": w,
                "h": h,
                "fmt": "jpeg",
                "caption": f"caption of {image_id}",
                "phash": codecs.phash64(codecs.decode(data)),
            }
        )
    return pd.DataFrame(rows)


#: deterministic EXIF field arithmetic shared by the fixture writer and
#: the oracle recompute (tools/build_multimodal_oracles.py) — the Spark
#: side must recover these from the REAL APP1 bytes.
def exif_fields_for(i: int, w: int, h: int) -> dict:
    if i % 5 == 4:  # every 5th image carries no EXIF at all
        return {}
    f = {
        "byte_order": "II" if i % 2 == 0 else "MM",
        "orientation": i % 8 + 1,
        "make": f"Maker{i % 4}",
        "model": f"Cam-{i % 6}",
        "datetime": f"2026:0{i % 9 + 1}:1{i % 3} 0{i % 10}:00:00",
        "pixel_x": w,
        "pixel_y": h,
    }
    if i % 3 == 0:  # some images carry an embedded description/caption
        f["description"] = f"exif caption {i}"
    if i % 7 == 6:  # some cameras omit the Exif sub-IFD
        f.pop("pixel_x")
        f.pop("pixel_y")
    return f


def make_corpus_exif(
    n: int = 120, seed: int = SEED, sizes: tuple[int, ...] = (32, 64)
) -> pd.DataFrame:
    """The JPEG corpus with real APP1/EXIF segments spliced after SOI:
    both byte orders, all 8 orientations, optional description and
    sub-IFD, and a no-EXIF slice — the fixture behind image_exif_meta."""
    from webcollector_spark.exif import build_exif_app1, insert_app1

    pdf = make_corpus_jpeg(n, seed=seed, sizes=sizes)
    out_bytes = []
    for i, r in enumerate(pdf.to_dict("records")):
        f = exif_fields_for(i, r["w"], r["h"])
        if not f:
            out_bytes.append(r["bytes"])
            continue
        order = f.pop("byte_order")
        out_bytes.append(
            insert_app1(r["bytes"], build_exif_app1(byte_order=order, **f))
        )
    pdf["bytes"] = out_bytes
    return pdf


def make_corpus_exif_rotated(
    n: int = 80, seed: int = SEED, sizes: tuple[int, ...] = (32, 64)
) -> pd.DataFrame:
    """Camera-rotated corpus: pixels are STORED under every EXIF
    orientation tag (cycling 1..8) with the tag in APP1, so a decoder
    that ignores tag 0x0112 trains on sideways/mirrored images. Row
    (w, h) are the STORED dims (transposed for tags 5-8); `phash` is
    the UPRIGHT image's hash — the dedup identity a pipeline must
    recover after orientation correction."""
    from webcollector_spark import jpeg
    from webcollector_spark.exif import (
        build_exif_app1,
        denormalize_orientation,
        insert_app1,
        normalize_orientation,
    )

    rng = np.random.default_rng(seed + 7)
    sizes = np.array(sizes)
    rows = []
    for i in range(n):
        image_id = f"rot{i:08d}"
        uw = int(sizes[rng.integers(0, len(sizes))])
        uh = int(sizes[rng.integers(0, len(sizes))])
        tag = i % 8 + 1
        upright = ground_truth_pixels(image_id, uw, uh)
        stored = np.ascontiguousarray(denormalize_orientation(upright, tag))
        data = jpeg.encode_baseline(stored, quality=98)
        data = insert_app1(
            data,
            build_exif_app1(
                orientation=tag, byte_order="II" if i % 2 == 0 else "MM"
            ),
        )
        # corpus convention (same as make_corpus_jpeg): phash is the
        # identity of the DECODED artifact — here decoded-then-uprighted,
        # so a pipeline that misapplies tag 0x0112 misses by ~32 bits;
        # fidelity vs the pre-encode truth is pinned separately by PSNR
        upright_decoded = normalize_orientation(codecs.decode(data), tag)
        rows.append(
            {
                "image_id": image_id,
                "bytes": data,
                "w": stored.shape[1],
                "h": stored.shape[0],
                "fmt": "jpeg",
                "caption": f"caption of {image_id}",
                "phash": codecs.phash64(upright_decoded),
            }
        )
    return pd.DataFrame(rows)


def make_corpus_gif(
    n: int = 100, seed: int = SEED, sizes: tuple[int, ...] = (32, 64)
) -> pd.DataFrame:
    """input_hint-shaped corpus whose bytes are REAL GIF87a
    (webcollector_spark.gif: palette + variable-width LZW) — the
    fidelity corpus behind the `image_decode_verify_gif` registry row.
    Ground truth is posterized to 216 colors, so GIF is LOSSLESS here:
    the verify invariant is PSNR = inf and exact phash, stricter than
    the lossy 40 dB gate."""
    from webcollector_spark import gif

    rng = np.random.default_rng(seed)
    sizes = np.array(sizes)
    rows = []
    for i in range(n):
        image_id = f"gif{i:08d}"
        w = int(sizes[rng.integers(0, len(sizes))])
        h = int(sizes[rng.integers(0, len(sizes))])
        pixels = ground_truth_pixels(image_id, w, h)
        data = gif.encode_gif87a(pixels)
        rows.append(
            {
                "image_id": image_id,
                "bytes": data,
                "w": w,
                "h": h,
                "fmt": "gif",
                "caption": f"caption of {image_id}",
                "phash": codecs.phash64(codecs.decode(data)),
            }
        )
    return pd.DataFrame(rows)


def make_corpus_bmp(
    n: int = 100, seed: int = SEED, sizes: tuple[int, ...] = (32, 64, 33)
) -> pd.DataFrame:
    """input_hint-shaped corpus whose bytes are REAL Windows BMP
    (codecs.encode_bmp: 24bpp BI_RGB, 4-byte row padding) — half the
    rows bottom-up, half top-down (negative biHeight), and the 33-px
    width exercises the row-padding path. BMP is lossless, so decode
    must be bit-exact (PSNR = inf)."""
    rng = np.random.default_rng(seed)
    sizes = np.array(sizes)
    rows = []
    for i in range(n):
        image_id = f"bmp{i:08d}"
        w = int(sizes[rng.integers(0, len(sizes))])
        h = int(sizes[rng.integers(0, len(sizes))])
        pixels = ground_truth_pixels(image_id, w, h)
        data = codecs.encode_bmp(pixels, top_down=bool(i % 2))
        rows.append(
            {
                "image_id": image_id,
                "bytes": data,
                "w": w,
                "h": h,
                "fmt": "bmp",
                "caption": f"caption of {image_id}",
                "phash": codecs.phash64(codecs.decode(data)),
            }
        )
    return pd.DataFrame(rows)


def make_corpus_ico(n: int = 100, seed: int = SEED) -> pd.DataFrame:
    """input_hint-shaped corpus whose bytes are REAL Windows ICO
    favicons (codecs.encode_ico): multi-size directories mixing the
    classic doubled-height DIB payload (small entries) with embedded
    PNG (64px — the modern convention). The row's w/h/phash describe
    the LARGEST entry, which is what codecs.decode serves; every
    payload form is lossless, so decode must be bit-exact."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        image_id = f"ico{i:08d}"
        # every third icon is DIB-only (largest 32), else DIB+PNG mix
        sizes = (16, 32) if i % 3 == 0 else (16, 32, 64)
        imgs = [ground_truth_pixels(image_id, s, s) for s in sizes]
        data = codecs.encode_ico(imgs)
        big = max(sizes)
        rows.append(
            {
                "image_id": image_id,
                "bytes": data,
                "w": big,
                "h": big,
                "fmt": "ico",
                "caption": f"caption of {image_id}",
                "phash": codecs.phash64(codecs.decode(data)),
            }
        )
    return pd.DataFrame(rows)


def make_corpus_tiff(n: int = 100, seed: int = SEED) -> pd.DataFrame:
    """input_hint-shaped corpus whose bytes are REAL TIFF
    (webcollector_spark.tiff): alternating II/MM byte orders, a
    PackBits / none / LZW+Predictor-2 compression cycle, and both
    raster organizations: strip (multi-strip incl. a short final
    strip) and §15 tiles (r5, every 4th row — padded edge tiles at
    every compression). Palette/grayscale photometrics quantize, so
    they stay unit-test-covered rather than breaking this corpus's
    exact-ground-truth invariant. Lossless: decode must be
    bit-exact."""
    from webcollector_spark import tiff

    rng = np.random.default_rng(seed)
    sizes = np.array((32, 64, 33))
    rows = []
    for i in range(n):
        image_id = f"tif{i:08d}"
        w = int(sizes[rng.integers(0, len(sizes))])
        h = int(sizes[rng.integers(0, len(sizes))])
        pixels = ground_truth_pixels(image_id, w, h)
        comp = (32773, 1, 5)[i % 3]
        bo = "<" if i % 2 == 0 else ">"
        if i % 4 == 3:
            data = tiff.encode_tiff_tiled(
                pixels, 16, 16, bo, comp,
                predictor=2 if comp == 5 else 1,
            )
        else:
            data = tiff.encode_tiff(
                pixels,
                byte_order=bo,
                compression=comp,
                rows_per_strip=16,
                predictor=2 if comp == 5 else 1,
            )
        rows.append(
            {
                "image_id": image_id,
                "bytes": data,
                "w": w,
                "h": h,
                "fmt": "tiff",
                "caption": f"caption of {image_id}",
                "phash": codecs.phash64(codecs.decode(data)),
            }
        )
    return pd.DataFrame(rows)


def make_corpus_webp(n: int = 100, seed: int = SEED) -> pd.DataFrame:
    """input_hint-shaped corpus whose bytes are REAL lossless WebP
    (webcollector_spark.webp, VP8L in RIFF): rows cycle color-cache
    sizes (off/6/8 bits) and the subtract-green transform so every
    entropy path — simple and normal prefix codes, LZ77 copies, cache
    hits — appears in the corpus. Lossless: decode must be bit-exact."""
    from webcollector_spark import webp

    rng = np.random.default_rng(seed)
    sizes = np.array((32, 64, 33))
    rows = []
    for i in range(n):
        image_id = f"wbp{i:08d}"
        w = int(sizes[rng.integers(0, len(sizes))])
        h = int(sizes[rng.integers(0, len(sizes))])
        pixels = ground_truth_pixels(image_id, w, h)
        data = webp.encode_webp_lossless(
            pixels,
            cache_bits=(0, 6, 8)[i % 3],
            subtract_green=bool(i % 2),
        )
        rows.append(
            {
                "image_id": image_id,
                "bytes": data,
                "w": w,
                "h": h,
                "fmt": "webp",
                "caption": f"caption of {image_id}",
                "phash": codecs.phash64(codecs.decode(data)),
            }
        )
    return pd.DataFrame(rows)


def make_site_graph(
    n_pages: int,
    n_hosts: int = 10,
    out_degree: int = 4,
    seed: int = SEED,
) -> pd.DataFrame:
    """Deterministic link structure over `n_pages` pages (FIXTURES.md A2).

    Page i serves image img{i % n_pages}. Host assignment is skewed:
    host 0 gets ~half the pages, the rest round-robin.
    """
    rng = np.random.default_rng(seed + 1)
    # skewed host assignment
    host_ids = np.where(
        rng.random(n_pages) < 0.5, 0, 1 + (np.arange(n_pages) % max(1, n_hosts - 1))
    )
    urls = [_page_url(int(host_ids[i]), i) for i in range(n_pages)]
    rows = []
    for i in range(n_pages):
        r = rng.random()
        code, location = 200, None
        if r < 0.02 and n_pages > 1:  # redirect page
            code = 301 if rng.random() < 0.5 else 302
            location = urls[int(rng.integers(0, n_pages))]
        elif r < 0.05:  # hard failure
            code = 404
        links = [urls[int(j)] for j in rng.integers(0, n_pages, size=out_degree)]
        if rng.random() < 0.05:  # a dead out-link
            links.append(f"http://h{int(host_ids[i]):03d}.test/dead/{i}")
        rows.append(
            {
                "url": urls[i],
                "host": f"h{int(host_ids[i]):03d}.test",
                "image_id": f"img{i:08d}",
                "out_links": links,
                "http_code": code,
                "location": location,
            }
        )
    return pd.DataFrame(rows)


def seeds_for(graph: pd.DataFrame, n_seeds: int = 3) -> list[str]:
    """First n urls in sorted order — a deterministic seed list."""
    return sorted(graph["url"].tolist())[:n_seeds]


def corpus_with_caption_noise(
    n: int = 200, dupes: int = 40, seed: int = SEED
) -> pd.DataFrame:
    """Image+caption corpus with deterministic alt-text pathologies —
    the label-noise shapes a web-scraped image+caption pipeline must
    curate away (FIXTURES.md A5):

    * boilerplate spam — every 13th source caption becomes the literal
      string "image" (the classic useless alt-text, shared across many
      distinct pictures),
    * empty captions — every 17th (offset 3) becomes "",
    * normalization fodder — every 11th (offset 5) is upper-cased and
      padded with whitespace (same caption after normalization),
    * conflicting captions — `dupes` lossy re-encodes of the first
      images are appended (same pixels, phash hamming 0-4); odd dup
      indices get a NEW caption ("alternate view ...") — a near-identical
      image pair whose labels disagree — while even indices keep the
      source's (post-noise) caption, a pure duplicate pair.

    Pure pandas/numpy (no Spark) so the DuckDB oracle builder and the
    Spark operators construct byte-identical corpora from one recipe.
    """
    pdf = make_corpus(n, seed=seed)
    caps = pdf["caption"].tolist()
    for i in range(n):
        if i % 13 == 0:
            caps[i] = "image"
        elif i % 17 == 3:
            caps[i] = ""
        elif i % 11 == 5:
            caps[i] = "  " + caps[i].upper() + "  "
    pdf = pdf.assign(caption=caps)
    return _with_lossy_dupes(
        pdf, dupes,
        lambda i, src: f"alternate view number {i}" if i % 2 else src["caption"],
    )


def corpus_with_neardups(
    n: int = 200, dupes: int = 40, seed: int = SEED
) -> pd.DataFrame:
    """The base corpus plus `dupes` lossy re-encodes of its first images
    under `dup*` ids — true near-duplicates (same pixels through the
    lossy codec, so phash hamming is 0-4); independent random images
    land ~32 bits apart and never collide."""
    return _with_lossy_dupes(make_corpus(n, seed=seed), dupes)


def _with_lossy_dupes(pdf: pd.DataFrame, dupes: int, caption=None) -> pd.DataFrame:
    """`pdf` plus a lossy re-encode of each of its first `dupes` rows as
    `dup{i:08d}`, captioned `caption(i, source_row)` (default: the
    source's caption)."""
    dup_rows = []
    for i in range(min(dupes, len(pdf))):
        src = pdf.iloc[i]
        pixels = ground_truth_pixels(src["image_id"], src["w"], src["h"])
        data = codecs.encode_lossy(pixels)
        dup_rows.append(
            {
                "image_id": f"dup{i:08d}",
                "bytes": data,
                "w": src["w"],
                "h": src["h"],
                "fmt": "jpeg",
                "caption": caption(i, src) if caption else src["caption"],
                "phash": codecs.phash64(codecs.decode(data)),
            }
        )
    return pd.concat([pdf, pd.DataFrame(dup_rows)], ignore_index=True)


def make_corpus_blurgate(
    n: int = 200, blurred: int = 40, seed: int = SEED
) -> pd.DataFrame:
    """Sharpness-gate corpus: the base corpus plus `blurred` 5x5
    box-blurred re-encodes of its first images under `blr*` ids. The
    synthetic textures are noise-like (Laplacian variance ~5e4 in luma
    units), the blurred copies land ~250x lower (~2e2), so a threshold
    gate has a real decision to make — mirrors a web corpus where
    thumbnails / soft-focus shots must be dropped before training."""
    base = make_corpus(n, seed=seed)
    rows = []
    for i in range(min(blurred, n)):
        src = base.iloc[i]
        px = ground_truth_pixels(src["image_id"], src["w"], src["h"])
        soft = codecs.box_blur(px, k=5)
        data = codecs.encode_png(soft)
        rows.append(
            {
                "image_id": f"blr{i:08d}",
                "bytes": data,
                "w": int(soft.shape[1]),
                "h": int(soft.shape[0]),
                "fmt": "png",
                "caption": src["caption"],
                "phash": codecs.phash64(codecs.decode(data)),
            }
        )
    return pd.concat([base, pd.DataFrame(rows)], ignore_index=True)


def make_corpus_letterbox(
    n: int = 160, seed: int = SEED, sizes: tuple[int, ...] = (32, 64)
) -> pd.DataFrame:
    """input_hint-shaped corpus where a deterministic subset of images
    carries constant-color letterbox / pillarbox / full-frame borders
    around ground-truth content (the padding pathology a vision
    curation pass must crop before training). i%5 picks the variant:
    0 = letterbox (top+bottom bars), 1 = pillarbox (left+right),
    2 = full frame, else clean. Bar thickness 2 + i%4; PNG-encoded so
    geometry survives bit-exactly."""
    rng = np.random.default_rng(seed + 7)
    sizes = np.array(sizes)
    rows = []
    for i in range(n):
        image_id = f"box{i:08d}"
        w = int(sizes[rng.integers(0, len(sizes))])
        h = int(sizes[rng.integers(0, len(sizes))])
        content = ground_truth_pixels(image_id, w, h)
        b = 2 + i % 4
        variant = i % 5
        bar = np.array([0, 0, 0] if i % 2 == 0 else [16, 16, 16], np.uint8)
        if variant == 0:      # letterbox
            px = np.empty((h + 2 * b, w, 3), np.uint8)
            px[:] = bar
            px[b : b + h] = content
        elif variant == 1:    # pillarbox
            px = np.empty((h, w + 2 * b, 3), np.uint8)
            px[:] = bar
            px[:, b : b + w] = content
        elif variant == 2:    # full frame
            px = np.empty((h + 2 * b, w + 2 * b, 3), np.uint8)
            px[:] = bar
            px[b : b + h, b : b + w] = content
        else:
            px = content
        data = codecs.encode_png(px)
        rows.append(
            {
                "image_id": image_id,
                "bytes": data,
                "w": px.shape[1],
                "h": px.shape[0],
                "fmt": "png",
                "caption": f"caption of {image_id}",
                "phash": codecs.phash64(px),
            }
        )
    return pd.DataFrame(rows)
