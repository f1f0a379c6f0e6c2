"""Header-only image metadata: format sniff + dimensions WITHOUT decode.

The filter-before-decode stage a 10^9-image pipeline runs first: most
curation decisions (format allowlist, min size, aspect bounds, broken
payload triage) need only the container header, and paying a full
decode — or even shipping the full payload into Python — for them is
the single biggest avoidable cost in an image crawl.

Scale design:
* the binary column is sliced JVM-side (`substring(bytes, 1, prefix)`)
  BEFORE the Arrow boundary, so only ~4 KB/row crosses into the pandas
  UDF no matter how large payloads get; `octet_length` (the full size)
  is likewise computed JVM-side on the unsliced column inside the same
  Project, which Parquet serves without materializing a second copy;
* the sniff itself (`codecs.sniff_header`) is a pure function over the
  prefix — a map stage, embarrassingly parallel, no shuffle anywhere;
* downstream size/aspect/format filters then run as ordinary JVM
  predicates over the sniffed columns, and only the surviving fraction
  ever reaches the decode operators (operators/images.py).

Reference anchor: WebCollector stores fetched payloads as opaque bytes
+ a contentType guess from headers (model/Page.java:323-330,
util/FileUtils MIME sniffing is absent — type comes from HTTP headers,
crawldb metadata only); this operator is that triage re-expressed over
the payload bytes themselves, which is what survives when HTTP headers
lie (a third of real-crawl Content-Types disagree with payload magic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from webcollector_spark import codecs
from webcollector_spark.session import map_rows

SNIFF_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("fmt_sniffed", T.StringType()),
        T.StructField("w_sniffed", T.IntegerType()),
        T.StructField("h_sniffed", T.IntegerType()),
        T.StructField("header_ok", T.BooleanType()),
    ]
)

# QIMG is the repo's labeled fast stand-in for JPEG (codecs.py): corpus
# rows declare fmt="jpeg" for QIMG bytes, so the declared-vs-sniffed
# check treats the pair as compatible.
_FMT_COMPAT = {("jpeg", "qimg")}


def sniff_meta(corpus: DataFrame, prefix: int = 4096) -> DataFrame:
    """Per-image header metadata (format, dims, payload size) plus
    `header_ok` = sniffed container/dims agree with the declared
    (w, h, fmt) columns — the triage bit separating trustworthy rows
    from truncated/mislabeled payloads. Header bytes only; see module
    docstring for the plan shape."""

    def row(r):
        fmt, w, h = codecs.sniff_header(bytes(r["prefix"]))
        fmt_ok = fmt == r["fmt"] or (r["fmt"], fmt) in _FMT_COMPAT
        yield {
            "image_id": r["image_id"],
            "n_bytes": int(r["n_bytes"]),
            "fmt_sniffed": fmt,
            "w_sniffed": w,
            "h_sniffed": h,
            "header_ok": bool(fmt_ok and w == r["w"] and h == r["h"]),
        }

    sliced = corpus.select(
        "image_id",
        "w",
        "h",
        "fmt",
        F.octet_length("bytes").cast("long").alias("n_bytes"),
        F.substring("bytes", 1, prefix).alias("prefix"),
    )
    return map_rows(sliced, SNIFF_SCHEMA, row)


EXIF_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("has_exif", T.BooleanType()),
        T.StructField("byte_order", T.StringType()),
        T.StructField("orientation", T.IntegerType()),
        T.StructField("make", T.StringType()),
        T.StructField("model", T.StringType()),
        T.StructField("datetime", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("pixel_x", T.IntegerType()),
        T.StructField("pixel_y", T.IntegerType()),
    ]
)


def exif_meta(corpus: DataFrame, prefix: int = 65536) -> DataFrame:
    """Per-image EXIF tags (webcollector_spark/exif.py) — header-only
    like sniff_meta: EXIF must precede image data in the first APP1
    segment, whose u16 length field caps it at 64 KiB, so the JVM-side
    prefix slice is lossless by construction and pixel bytes never
    cross the Arrow boundary. Damaged/absent EXIF yields has_exif=False
    rather than an error (triage, not validation)."""
    from webcollector_spark.exif import parse_exif

    def row(r):
        yield {**parse_exif(bytes(r["prefix"])), "image_id": r["image_id"]}

    sliced = corpus.select(
        "image_id", F.substring("bytes", 1, prefix).alias("prefix")
    )
    return map_rows(sliced, EXIF_SCHEMA, row)


JPEGQ_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("is_jpeg", T.BooleanType()),
        T.StructField("n_tables", T.IntegerType()),
        T.StructField("quality_luma", T.IntegerType()),
        T.StructField("quality_chroma", T.IntegerType()),
        T.StructField("quality_est", T.IntegerType()),
        T.StructField("dqt_std", T.BooleanType()),
    ]
)


def jpeg_quality(corpus: DataFrame, prefix: int = 65536) -> DataFrame:
    """Header-only JPEG quality estimation: parse the DQT segments out
    of the marker stream (jpeg.parse_dqt) and invert the IJG quality
    scaling per table (jpeg.table_qualities). The curation signal a
    10^9-image pipeline gates on BEFORE decode: a 4032x3024 payload
    whose tables say quality 30 has already lost what no filter
    downstream can recover.

    Same plan shape as sniff_meta/exif_meta: JVM-side prefix slice
    (DQT must precede SOS; the 64 KiB prefix covers any APP-segment
    preamble since each segment's u16 length caps it), then one
    shuffle-free Arrow map stage. Output per row:
      is_jpeg        payload magic is SOI (independent of declared fmt)
      n_tables       distinct DQT table ids seen before SOS
      quality_luma   IJG inversion of table 0 (injective over 1..100)
      quality_chroma IJG inversion of table 1 (null for grayscale)
      quality_est    min over present tables — the conservative gate
      dqt_std        every table IS a libjpeg-convention scaling (false
                     flags custom/optimized tables, which need a decode
                     -based quality check instead)
    Reference anchor: WebCollector keeps only the HTTP Content-Type
    guess per payload (model/Page.java:323-330); this is the payload-
    derived quality triage that guess can never provide."""
    from webcollector_spark import jpeg

    def row(r):
        data = bytes(r["prefix"])
        tables = jpeg.parse_dqt(data)
        qs = jpeg.table_qualities(tables)
        yield {
            "image_id": r["image_id"],
            "is_jpeg": data[:2] == b"\xff\xd8",
            "n_tables": len(tables),
            "quality_luma": qs.get(0, (None,))[0],
            "quality_chroma": qs.get(1, (None,))[0],
            "quality_est": min(q for q, _ in qs.values()) if qs else None,
            "dqt_std": all(ok for _, ok in qs.values()) if qs else None,
        }

    sliced = corpus.select(
        "image_id", F.substring("bytes", 1, prefix).alias("prefix")
    )
    return map_rows(sliced, JPEGQ_SCHEMA, row)


PREVIEW_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("is_progressive", T.BooleanType()),
        T.StructField("scans_done", T.IntegerType()),
        T.StructField("complete", T.BooleanType()),
        T.StructField("preview_ok", T.BooleanType()),
        T.StructField("phash_preview", T.LongType()),
        T.StructField("preview_hamming", T.IntegerType()),
    ]
)


def progressive_preview(corpus: DataFrame, prefix: int = 1024) -> DataFrame:
    """Byte-capped progressive-JPEG preview triage: decode whatever
    scans fit in the first `prefix` bytes (jpeg_progressive.
    decode_progressive_prefix — exactly what a browser paints
    mid-download) and compare the preview's phash against the corpus's
    stored full-image phash. The crawl-scale payoff of SOF2: the DC
    scan lands in the first few hundred bytes and already carries the
    low-frequency content phash keys on, so a byte-capped fetch
    (CrawlerConfig.max_receive_size) can dedup/triage progressive images
    BEFORE paying the full transfer. `preview_ok` gates on at least
    one complete scan — a mid-DC-scan cut paints garbage and must not
    feed dedup.

    Same plan shape as the other triage ops: JVM-side prefix slice,
    one shuffle-free Arrow map stage; non-progressive payloads report
    is_progressive=false with null metrics. Reference anchor:
    WebCollector caps fetches by size (plugin/berkeley/... fetch
    buffer) but then discards the partial payload; this turns the
    partial payload into a decision."""
    from webcollector_spark import jpeg
    from webcollector_spark.jpeg_progressive import (
        decode_progressive_prefix,
    )

    def row(r):
        data = bytes(r["prefix"])
        out = {
            "image_id": r["image_id"],
            "is_progressive": jpeg.sof_marker(data) == 0xC2,
        }
        if out["is_progressive"]:
            pixels, scans, complete = decode_progressive_prefix(data)
            ph = codecs.phash64(pixels)
            out.update(
                scans_done=scans,
                complete=complete,
                preview_ok=scans >= 1,
                phash_preview=ph,
                preview_hamming=bin(
                    (ph ^ int(r["phash"])) & ((1 << 64) - 1)
                ).count("1"),
            )
        yield out

    sliced = corpus.select(
        "image_id",
        "phash",
        F.substring("bytes", 1, prefix).alias("prefix"),
    )
    return map_rows(sliced, PREVIEW_SCHEMA, row)


def compression_stats(sniffed: DataFrame) -> DataFrame:
    """Per-container compression profile over the sniffed metadata: row
    count, total payload bytes, and bytes-per-RGB8-pixel — the number
    that tells a storage planner what each format costs at fleet scale.
    One hash-aggregate (map-side combine) over the sniff map stage;
    sums stay exact int64, the single division happens once per group
    at the very end (bit-identical IEEE between Spark and DuckDB)."""
    px = (F.col("w_sniffed").cast("long") * F.col("h_sniffed")).alias("px")
    return (
        sniffed.select("fmt_sniffed", "n_bytes", px)
        .groupBy("fmt_sniffed")
        .agg(
            F.count("*").alias("n_images"),
            F.sum("n_bytes").alias("total_bytes"),
            F.sum("px").alias("total_px"),
        )
        .select(
            "fmt_sniffed",
            "n_images",
            "total_bytes",
            (
                F.col("total_bytes").cast("double")
                / (F.col("total_px").cast("double") * F.lit(3.0))
            ).alias("bytes_per_pixel"),
        )
    )
