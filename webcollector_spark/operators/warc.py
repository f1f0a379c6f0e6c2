"""WARC archive sink + source — the standard web-archive byte format.

WebCollector persists fetched pages only as CrawlDatum metadata in its
KV store (content is transient, model/Page.java:43-61); real crawl
infrastructure archives the payload bytes as WARC (ISO 28500), the
format Common Crawl / Internet Archive tooling consumes. It is the
archive-side sink next to the WebDataset training sink: both take their
shard assignment from `pack_shards` and both commit through one writer,
`shards._commit_shards` (skip-existing, `.inprogress` + atomic rename,
sha256 manifest); only the container written into each shard differs.

Format (WARC/1.1):
* a file is a sequence of records: `WARC/1.1\\r\\n` + named headers +
  `\\r\\n` + Content-Length payload bytes + `\\r\\n\\r\\n`;
* each file opens with one `warcinfo` record describing the writer;
  fetched pages are `resource` records (we archive the payload we
  fetched, not a raw HTTP transaction capture);
* `.warc.gz` is PER-RECORD gzip members concatenated — the standard's
  own random-access trick: a (offset, length) index seeks straight to a
  record and inflates just it, which is what makes a 10^10-record
  archive on an object store usable with Range GETs.

Determinism contract (same stance as write_webdataset):
* record order within a shard is sorted by key; WARC-Record-ID is
  UUIDv5 of the record key (content-derived, not random); WARC-Date
  comes from the row's own fetch timestamp; gzip members are written
  with mtime=0 and a fixed level — so re-exporting the same frontier
  yields BYTE-IDENTICAL .warc.gz shards at any parallelism, and the
  manifest's sha256 column is stable lineage;
* resume is idempotent: existing final files are skipped, in-flight
  files use attempt-unique `.inprogress` names + an atomic rename.
"""

from __future__ import annotations

import uuid
import zlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from webcollector_spark.operators.shards import _commit_shards, _export_files
from webcollector_spark.session import map_rows

_GZ_LEVEL = 6


def _warc_path(out_dir: str, shard: int) -> str:
    return f"{out_dir}/part-{shard:06d}.warc.gz"


def record_id_for(key: str) -> str:
    """Deterministic WARC-Record-ID: UUIDv5 over the record key."""
    return f"<urn:uuid:{uuid.uuid5(uuid.NAMESPACE_URL, key)}>"


def _iso_date(ms) -> str:
    from datetime import datetime, timezone

    if ms is None:
        ms = 0
    return datetime.fromtimestamp(int(ms) / 1000, tz=timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%SZ"
    )


def _payload_digest(data: bytes) -> str:
    import base64
    import hashlib

    return "sha1:" + base64.b32encode(hashlib.sha1(data).digest()).decode(
        "ascii"
    )


def _record(headers: list[tuple[str, str]], payload: bytes) -> bytes:
    head = "".join(f"{k}: {v}\r\n" for k, v in headers)
    return (
        b"WARC/1.1\r\n"
        + head.encode("utf-8")
        + f"Content-Length: {len(payload)}\r\n\r\n".encode("ascii")
        + payload
        + b"\r\n\r\n"
    )


def _parse_record(raw: bytes, pos: int, src: str) -> tuple[dict, bytes, int]:
    """The record at `raw[pos:]` as (named headers, payload, offset just
    past its closing CRLF CRLF); `src` names the file in the error."""
    if raw[pos : pos + 5] != b"WARC/":
        raise ValueError(f"bad record start at {pos} in {src}")
    hdr_end = raw.index(b"\r\n\r\n", pos)
    headers = {}
    for line in raw[pos:hdr_end].split(b"\r\n")[1:]:
        hk, _, hv = line.decode("utf-8").partition(":")
        headers[hk.strip()] = hv.strip()
    body = hdr_end + 4
    end = body + int(headers["Content-Length"])
    return headers, raw[body:end], end + 4


def _gzip_member(raw: bytes) -> bytes:
    import gzip
    import io

    buf = io.BytesIO()
    with gzip.GzipFile(
        fileobj=buf, mode="wb", compresslevel=_GZ_LEVEL, mtime=0
    ) as gz:
        gz.write(raw)
    return buf.getvalue()


def _warcinfo(shard: int, software: str) -> bytes:
    body = (
        f"software: {software}\r\nformat: WARC File Format 1.1\r\n"
    ).encode("utf-8")
    return _record(
        [
            ("WARC-Type", "warcinfo"),
            ("WARC-Record-ID", record_id_for(f"warcinfo/{shard}")),
            ("WARC-Date", _iso_date(0)),
            ("WARC-Filename", f"part-{shard:06d}.warc.gz"),
            ("Content-Type", "application/warc-fields"),
        ],
        body,
    )


def revisit_plan(
    df: DataFrame,
    *,
    key: str = "key",
    bytes_col: str = "content",
    url_col: str = "url",
    date_ms_col: str = "execute_time",
) -> DataFrame:
    """Archive-side dedup plan: WARC 1.1 `revisit` records
    (identical-payload-digest profile) — the Internet Archive / Common
    Crawl mechanism that stores a duplicate payload ONCE and writes
    every other capture as a tiny pointer record. On a crawl where 30%
    of fetches are byte-identical (mirrors, soft-404 templates, CDN
    copies) this is the difference between archiving the bytes once or
    N times.

    Adds columns: `payload_sha1` (hex), `revisit_of` (the ORIGINAL's
    key, null when this row IS the original), `refers_to_url` /
    `refers_to_ms` (the original's capture for the WARC-Refers-To-*
    headers). Original election is deterministic: min key per digest
    (min_by for its url/date), so re-planning the same frontier yields
    the same records at any parallelism — the byte-identical-export
    contract extends through dedup. NULL payloads hash as empty and
    dedup together (they carry no bytes either way).

    Shape: one groupBy(payload_sha1) to O(distinct payloads) rows +
    one shuffle join back on the digest — no window over raw rows, no
    broadcast of anything unbounded. Feed the result to `write_warc`
    with revisit_of_col='revisit_of'.
    """
    digest = F.sha1(F.coalesce(F.col(bytes_col), F.lit(b"")))
    with_digest = df.withColumn("payload_sha1", digest)
    owners = with_digest.groupBy("payload_sha1").agg(
        F.min(key).alias("__owner_key"),
        F.min_by(F.col(url_col), F.col(key)).alias("refers_to_url"),
        F.min_by(F.col(date_ms_col), F.col(key)).alias("refers_to_ms"),
    )
    return (
        with_digest.join(owners, "payload_sha1")
        .withColumn(
            "revisit_of",
            F.when(F.col("__owner_key") != F.col(key), F.col("__owner_key")),
        )
        .drop("__owner_key")
    )


def revisit_plan_not_modified(
    current: DataFrame,
    prior: DataFrame,
    *,
    key: str = "key",
    url_col: str = "url",
    date_ms_col: str = "execute_time",
) -> DataFrame:
    """The 304 twin of `revisit_plan`: rows this round's fetch marked
    `meta['not_modified']` (conditional revalidation, RFC 9110) become
    WARC 1.1 `revisit` records with the **server-not-modified**
    profile, referring to the SAME key's prior capture — the archive
    records that a capture happened without re-storing (or even
    re-transferring) the bytes.

    `prior` is the earlier capture set (typically the rows previously
    archived); its latest capture per key supplies WARC-Refers-To-*.
    A not-modified row with no prior capture stays a plain resource
    (nothing to refer to). Adds `revisit_of` / `refers_to_url` /
    `refers_to_ms` / `revisit_profile` — feed to `write_warc` with
    revisit_of_col='revisit_of', profile_col='revisit_profile'.

    Shape: one groupBy(key) of the prior set to O(keys), one key join
    — both sides O(rows), nothing unbounded broadcast."""
    latest = prior.groupBy(F.col(key).alias("__pk")).agg(
        F.max_by(F.col(url_col), F.col(date_ms_col)).alias("__p_url"),
        F.max(date_ms_col).alias("__p_ms"),
    )
    flag = F.col("meta").getItem("not_modified") == F.lit("1")
    is_rev = flag & F.col("__pk").isNotNull()
    return (
        current.join(latest, F.col(key) == F.col("__pk"), "left")
        .withColumn("revisit_of", F.when(is_rev, F.col(key)))
        .withColumn("refers_to_url", F.when(is_rev, F.col("__p_url")))
        .withColumn("refers_to_ms", F.when(is_rev, F.col("__p_ms")))
        .withColumn(
            "revisit_profile", F.when(is_rev, F.lit("server-not-modified"))
        )
        .drop("__pk", "__p_url", "__p_ms")
    )


def write_warc(
    df: DataFrame,
    out_dir: str,
    *,
    key: str = "key",
    url_col: str = "url",
    bytes_col: str = "content",
    content_type_col: str = "content_type",
    date_ms_col: str = "execute_time",
    shard_col: str = "shard",
    software: str = "webcollector-spark",
    overwrite: bool = False,
    revisit_of_col: str | None = None,
    profile_col: str | None = None,
) -> DataFrame:
    """Write shard-assigned fetched rows as .warc.gz files; returns the
    per-shard lineage manifest (shard, n_records, warc_bytes, sha256,
    path, written), committed by `shards._commit_shards` (one
    repartition(shard), so no shard spans writers). The per-row Python
    is header assembly around an I/O-bound copy (the sink seam, not an
    expression hot path).

    With `revisit_of_col` (from `revisit_plan`): rows whose value is
    non-null are written as `revisit` records — identical-payload-
    digest profile, empty body, WARC-Refers-To pointing at the
    original's deterministic record id, WARC-Refers-To-Target-URI /
    -Date from the plan's refers_to_url/refers_to_ms columns — so the
    duplicate's BYTES never hit the archive while its capture event
    stays fully recorded and resolvable (`resolve_revisits`).

    With `profile_col` (from `revisit_plan_not_modified`): a revisit
    row whose profile is `server-not-modified` uses that WARC 1.1
    profile URI, records NO payload digest (the bytes were never
    transferred — a 304 is the server's word, not a hash we computed),
    and takes a capture-unique record id (`key@date`) so it cannot
    collide with the prior capture of the same key it refers to."""

    def record(row) -> bytes:
        k, url, ms = row[key], str(row[url_col]), row[date_ms_col]
        data, ct = row[bytes_col], row[content_type_col]
        payload = bytes(data) if data is not None else b""
        ctype = str(ct) if ct else "application/octet-stream"
        rof = row[revisit_of_col] if revisit_of_col else None
        if rof is None:
            return _record(
                [
                    ("WARC-Type", "resource"),
                    ("WARC-Record-ID", record_id_for(str(k))),
                    ("WARC-Date", _iso_date(ms)),
                    ("WARC-Target-URI", url),
                    ("WARC-Payload-Digest", _payload_digest(payload)),
                    ("Content-Type", ctype),
                ],
                payload,
            )
        # duplicate capture: bytes elided either way; the identical-
        # payload profile records OUR digest of the bytes, server-not-
        # modified records none (a 304 transferred no bytes to hash) and
        # takes a capture-unique id so it can refer to the same key's
        # earlier record without colliding
        snm = profile_col is not None and row[profile_col] == "server-not-modified"
        headers = [
            ("WARC-Type", "revisit"),
            ("WARC-Record-ID",
             record_id_for(f"{k}@{int(ms)}" if snm else str(k))),
            ("WARC-Date", _iso_date(ms)),
            ("WARC-Target-URI", url),
            ("WARC-Profile",
             "http://netpreserve.org/warc/1.1/revisit/"
             + ("server-not-modified" if snm else "identical-payload-digest")),
            ("WARC-Refers-To", record_id_for(str(rof))),
            ("WARC-Refers-To-Target-URI", str(row["refers_to_url"])),
            ("WARC-Refers-To-Date", _iso_date(row["refers_to_ms"])),
        ]
        if not snm:
            headers.append(("WARC-Payload-Digest", _payload_digest(payload)))
        headers.append(("Content-Type", ctype))
        return _record(headers, b"")

    def open_warc(fh, shard):
        fh.write(_gzip_member(_warcinfo(shard, software)))
        return (lambda row: fh.write(_gzip_member(record(row)))), (lambda: None)

    cols = [shard_col, key, url_col, bytes_col, content_type_col, date_ms_col]
    if revisit_of_col:
        cols += [revisit_of_col, "refers_to_url", "refers_to_ms"]
    if profile_col:
        cols.append(profile_col)
    return _commit_shards(
        df.select(*cols),
        out_dir,
        key=key,
        shard_col=shard_col,
        path_for=_warc_path,
        open_container=open_warc,
        overwrite=overwrite,
        rows_name="n_records",
        bytes_name="warc_bytes",
    )


_INDEX_SLICE = 1 << 16  # compressed bytes fed to the inflater at a time


def index_warc(spark, out_dir: str) -> DataFrame:
    """Per-record random-access index over an export: (path, shard,
    offset, length, record_type, record_id, url) where offset/length
    bound the record's own GZIP MEMBER — the WARC convention (CDX-style)
    that turns a 10^10-record archive into one Range GET per record.
    Offsets come from the member boundaries the gzip stream itself
    declares; one task per file, headers parsed from the inflated
    member, payload bytes never retained."""

    def members(r):
        data, pos = memoryview(r["content"]), 0
        while pos < len(data):
            # inflate exactly ONE gzip member: decompressobj(31) stops at
            # the member trailer and hands back the rest of what it was
            # fed in unused_data — gzip.GzipFile would run through every
            # member. Fed in bounded slices, a member costs its own bytes
            # plus at most one slice, not a copy of the rest of the file.
            d, out, fed = zlib.decompressobj(31), [], pos
            while not d.eof and fed < len(data):
                out.append(d.decompress(data[fed : fed + _INDEX_SLICE]))
                fed = min(fed + _INDEX_SLICE, len(data))
            headers, _, _ = _parse_record(b"".join(out), 0, r["path"])
            length = fed - pos - len(d.unused_data)
            yield {
                "path": r["path"],
                "offset": pos,
                "length": length,
                "record_type": headers.get("WARC-Type"),
                "record_id": headers.get("WARC-Record-ID"),
                "url": headers.get("WARC-Target-URI"),
            }
            pos += length

    return map_rows(
        _export_files(spark, out_dir, "*.warc.gz").select("path", "content"),
        T.StructType.fromDDL(
            "path string, offset bigint, length bigint, record_type string, "
            "record_id string, url string"
        ),
        members,
    )


def fetch_warc_records(index: DataFrame) -> DataFrame:
    """Random access: inflate exactly the indexed members — one seek +
    bounded read per record (≙ object-store Range GET), reads grouped
    per file within a partition. The sparse complement of read_warc's
    whole-file streaming, for spot-checks and backfills that touch a
    tiny fraction of the archive."""
    out_schema = (
        "record_id string, url string, content_type string, payload binary"
    )

    def read_partition(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for path, grp in pdf.groupby("path", sort=True):
                local = path[len("file:") :] if path.startswith("file:") else path
                with open(local, "rb") as f:
                    for off, ln in zip(grp["offset"], grp["length"]):
                        f.seek(int(off))
                        raw = zlib.decompressobj(31).decompress(
                            f.read(int(ln))
                        )
                        headers, payload, _ = _parse_record(raw, 0, path)
                        rows.append(
                            {
                                "record_id": headers.get("WARC-Record-ID"),
                                "url": headers.get("WARC-Target-URI"),
                                "content_type": headers.get("Content-Type"),
                                "payload": payload,
                            }
                        )
            yield pd.DataFrame(
                rows, columns=["record_id", "url", "content_type", "payload"]
            )

    return index.select("path", "offset", "length").mapInPandas(
        read_partition, schema=out_schema
    )


def read_warc(spark, out_dir: str) -> DataFrame:
    """Distributed read-back: one task per .warc.gz file (binaryFile
    source), per-record gzip members inflated in sequence; warcinfo
    records are surfaced with record_type='warcinfo' so audits see the
    whole file. digest_ok re-verifies WARC-Payload-Digest per record."""

    def records(r):
        import gzip
        import io

        # multi-member gzip: GzipFile reads members back-to-back
        raw = gzip.GzipFile(fileobj=io.BytesIO(bytes(r["content"]))).read()
        pos = 0
        while pos < len(raw):
            headers, payload, pos = _parse_record(raw, pos, r["path"])
            digest = headers.get("WARC-Payload-Digest")
            rtype = headers.get("WARC-Type")
            yield {
                "path": r["path"],
                "record_type": rtype,
                "record_id": headers.get("WARC-Record-ID"),
                "url": headers.get("WARC-Target-URI"),
                "warc_date": headers.get("WARC-Date"),
                "content_type": headers.get("Content-Type"),
                "payload": payload,
                # a revisit's digest describes the ORIGINAL payload (its
                # own body is empty by design); it is re-verified against
                # the original at resolve time (resolve_revisits), not here
                "digest_ok": (
                    digest is None
                    or rtype == "revisit"
                    or digest == _payload_digest(payload)
                ),
                "refers_to": headers.get("WARC-Refers-To"),
                "payload_digest": digest,
                "profile": headers.get("WARC-Profile"),
            }

    return map_rows(
        _export_files(spark, out_dir, "*.warc.gz").select("path", "content"),
        T.StructType.fromDDL(
            "path string, record_type string, record_id string, url string, "
            "warc_date string, content_type string, payload binary, "
            "digest_ok boolean, refers_to string, payload_digest string, "
            "profile string"
        ),
        records,
    )


def resolve_revisits(records: DataFrame) -> DataFrame:
    """Materialize a deduped archive back to full rows: every `revisit`
    record takes its payload from the `resource` record its
    WARC-Refers-To names, and `resolved_ok` re-verifies that the
    original's bytes still hash to the digest the revisit recorded at
    capture time (the integrity contract of the identical-payload-
    digest profile — a mutated or missing original is surfaced, never
    silently substituted; dangling revisits keep a NULL payload and
    resolved_ok=false).

    Shape: one shuffle join revisits⋈originals on the record id —
    O(revisits) against O(originals), no broadcast of either unbounded
    side. Input is `read_warc`/`fetch_warc_records` output; resources
    pass through untouched with resolved_ok=true."""
    originals = records.filter(F.col("record_type") == "resource").select(
        F.col("record_id").alias("refers_to"),
        F.col("payload").alias("__orig_payload"),
        F.col("payload_digest").alias("__orig_digest"),
        F.col("digest_ok").alias("__orig_ok"),
    )
    resolved = (
        records.filter(F.col("record_type") == "revisit")
        .join(originals, "refers_to", "left")
        .withColumn(
            "resolved_ok",
            # transitively verified, pure JVM: the original's digest_ok
            # (read_warc recomputed sha1-base32 over its actual bytes)
            # proves recorded == computed; equal recorded digests then
            # prove the original's bytes hash to the revisit's digest.
            # A server-not-modified revisit recorded NO digest (a 304
            # transferred no bytes) — there the original's self-check
            # is the whole integrity claim.
            F.col("__orig_payload").isNotNull()
            & F.col("__orig_ok")
            & (
                F.col("payload_digest").isNull()
                | (F.col("payload_digest") == F.col("__orig_digest"))
            ),
        )
        .withColumn("payload", F.col("__orig_payload"))
        .drop("__orig_payload", "__orig_digest", "__orig_ok")
    )
    passthrough = records.filter(
        F.col("record_type") != "revisit"
    ).withColumn("resolved_ok", F.lit(True))
    return passthrough.unionByName(resolved.select(*passthrough.columns))
