"""Deterministic training-shard packing via distributed prefix-sum.

A training-data export (WebDataset-style tar shards, TFRecord files,
Iceberg file groups) needs every row assigned a shard so that shards
come out approximately `target_bytes` each, the assignment is
DETERMINISTIC under rerun (resume/backfill must re-derive identical
manifests), and nothing is ordered through a single global window.

The classic trap is `sum(size) OVER (ORDER BY key)` with no partition:
Spark plans that as a single-partition window — one task owns all
10^10 rows. The scale-correct shape is the textbook two-level scan:

  1. bucket every row deterministically (pmod(key, B) — pure
     expression, no shuffle beyond the window's own),
  2. per-bucket byte totals: ONE tiny aggregate (B rows, map-side
     combined) collected to the driver,
  3. exclusive cumulative offsets over the B totals — O(B) driver
     work, broadcast back as a B-row join,
  4. within-bucket running sum (Window partitionBy bucket) + offset
     = the row's global byte offset in the (bucket, key) total order;
     shard = floor(offset / target_bytes).

Every row's offset equals what the forbidden global window would have
produced, but the only serial state is the B-element offset table.
B is a tunable: at 10^10 rows, B=10k buckets keeps each window sort at
~10^6 rows while the driver-side table stays trivially small.

Reference anchor: WebCollector's `segmentWriter` rotates fetch-segment
files by count on one node (`fetcher/Fetcher.java`, `WriterAndReader`);
this is the same "pack a stream into bounded files" contract made
deterministic and cluster-wide.
"""

from __future__ import annotations

import glob
import hashlib
import io
import os
import re
import tarfile
from collections.abc import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from webcollector_spark.session import map_rows


def pack_shards(
    df: DataFrame,
    key: str,
    size: str,
    target_bytes: int,
    n_buckets: int = 32,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Assign each row a shard id so consecutive rows (in (bucket, key)
    order) pack into ~target_bytes shards. Returns the input's key plus
    (bucket, start_offset, shard). Deterministic: same input -> same
    manifest, independent of partitioning and cluster size.

    Works with any orderable key: numeric keys bucket by `key mod B`
    (cheap, and the form the DuckDB oracle mirrors); non-numeric keys
    (image_id strings, URLs) bucket by `xxhash64(key) mod B` — still a
    pure deterministic expression, no extra shuffle.

    `carry` names input columns to pass through to the output. The
    bucket window's shuffle already moves every row once, so carrying
    payload/size columns through it is free — whereas the obvious
    alternative (join the assignment back to the input on `key`) is a
    second full shuffle of the corpus at 10^10 rows. Downstream
    consumers (`write_webdataset`, `member_index`) take the carried
    form directly."""
    spark = df.sparkSession
    key_type = df.schema[key].dataType.typeName()
    key_num = key_type in {"byte", "short", "integer", "long", "decimal"}
    bucket_src = F.col(key) if key_num else F.xxhash64(F.col(key))
    b = df.withColumn("bucket", F.pmod(bucket_src, F.lit(n_buckets)))

    # (2) + (3): per-bucket totals -> exclusive prefix offsets. The
    # collect is HARD-BOUNDED at n_buckets rows (driver holds B longs).
    totals = {
        r["bucket"]: r["tot"]
        for r in b.groupBy("bucket").agg(F.sum(size).alias("tot")).collect()
    }
    off, acc = [], 0
    for bucket in sorted(totals):
        off.append((bucket, acc))
        acc += int(totals[bucket])
    offsets = spark.createDataFrame(off, schema="bucket bigint, bucket_off bigint")

    # (4): within-bucket exclusive running sum + bucket offset.
    w = (
        Window.partitionBy("bucket")
        .orderBy(key)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        b.join(F.broadcast(offsets), "bucket")
        .withColumn(
            "start_offset",
            F.coalesce(F.sum(size).over(w), F.lit(0)) + F.col("bucket_off"),
        )
        .select(
            key,
            "bucket",
            "start_offset",
            F.floor(F.col("start_offset") / F.lit(target_bytes)).alias("shard"),
            *carry,
        )
    )


def shard_manifest(assigned: DataFrame) -> DataFrame:
    """Per-shard manifest over a pack_shards result: row count and the
    [min, max] offset span — what the export job hands each writer
    task. One small hash-aggregate."""
    return assigned.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("start_offset").alias("first_offset"),
        F.max("start_offset").alias("last_offset"),
    )


def _shard_path(out_dir: str, shard: int) -> str:
    return os.path.join(out_dir, f"shard-{shard:06d}.tar")


def _pad512(col):
    """Bytes a tar member's data occupies on disk: 512-padded. Pure
    integer arithmetic (`div`, not float ceil) so the result is exact
    at any byte magnitude and matches any other engine bit-for-bit."""
    return (col.cast("long") + F.lit(511)).bitwiseAND(F.lit(-512).cast("long"))


def member_index(
    assigned: DataFrame,
    *,
    key: str = "image_id",
    shard_col: str = "shard",
    payload_len: str = "n_bytes",
    caption_len: str = "cap_bytes",
) -> DataFrame:
    """Per-sample byte-offset index into `write_webdataset` tars —
    random access into shards without scanning them.

    Because the writer's tars are BIT-REPRODUCIBLE (USTAR stream mode,
    512-byte headers, data 512-padded, two members per sample in key
    order within each shard), every sample's position is pure
    arithmetic over member sizes — no tar needs to be re-read to index
    it. A training dataloader (or backfill job) can fetch one sample
    with a single ranged read (seek locally, HTTP Range GET on an
    object store) instead of streaming the whole shard.

    Input: one row per sample with (key, shard, payload byte length,
    caption UTF-8 byte length). Output adds
      payload_offset — byte offset of the payload member's DATA,
      caption_offset — byte offset of the caption member's DATA,
    (each member's 512-byte header immediately precedes its data).

    Scale shape: ONE window cumsum partitioned by shard — each
    partition is bounded by the packer's target_bytes knob, so there is
    no global-order single-partition trap; everything is whole-stage
    codegen expressions. Assumes USTAR limits hold (member names
    <= 100 chars, members < 8 GiB), which `write_webdataset` enforces
    implicitly via tarfile.USTAR_FORMAT (it raises beyond them).

    Reference anchor: WebCollector reads fetch segments only whole
    (`util/WriterAndReader.java`); a byte-addressable manifest is what
    replaces that at 10^10-row scale.
    """
    span = (
        F.lit(1024) + _pad512(F.col(payload_len)) + _pad512(F.col(caption_len))
    ).alias("_span")
    w = (
        Window.partitionBy(shard_col)
        .orderBy(key)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sample_off = F.coalesce(F.sum("_span").over(w), F.lit(0).cast("long"))
    return (
        assigned.select(key, shard_col, payload_len, caption_len, span)
        .withColumn("_off", sample_off)
        .select(
            key,
            shard_col,
            (F.col("_off") + F.lit(512)).alias("payload_offset"),
            F.col(payload_len).cast("long").alias("payload_len"),
            (
                F.col("_off")
                + F.lit(1024)
                + _pad512(F.col(payload_len))
            ).alias("caption_offset"),
            F.col(caption_len).cast("long").alias("caption_len"),
        )
    )


def fetch_samples(index: DataFrame, out_dir: str) -> DataFrame:
    """Random-access read of individual samples via a `member_index`
    table: each row becomes one ranged read per member (seek + read
    locally; the identical access pattern is a Range GET on an object
    store — no shard is ever scanned whole).

    The complement of `read_webdataset` (which streams entire shards):
    use this for sparse access — spot-checks, per-sample backfills,
    curriculum samplers that touch a small fraction of a 10^10-sample
    export. Rows are fetched in (shard, offset) order within each
    partition so reads on the same shard coalesce into one file handle.
    """
    import pandas as pd

    key, shard_col = index.columns[0], index.columns[1]
    out_schema = f"{key} string, shard bigint, data binary, caption string"

    def read_partition(batches):
        handles = {}

        def handle(shard):
            f = handles.get(shard)
            if f is None:
                f = handles[shard] = open(_shard_path(out_dir, int(shard)), "rb")
            return f

        try:
            for pdf in batches:
                rows = []
                for k, sid, po, pl, co, cl in zip(
                    pdf[key], pdf[shard_col],
                    pdf["payload_offset"], pdf["payload_len"],
                    pdf["caption_offset"], pdf["caption_len"],
                ):
                    f = handle(sid)
                    f.seek(int(po))
                    data = f.read(int(pl))
                    f.seek(int(co))
                    cap = f.read(int(cl)).decode("utf-8")
                    rows.append((k, int(sid), data, cap))
                if rows:
                    yield pd.DataFrame(
                        rows, columns=[key, "shard", "data", "caption"]
                    )
        finally:
            for f in handles.values():
                f.close()

    return (
        index.repartition(F.col(shard_col))
        .sortWithinPartitions(shard_col, "payload_offset")
        .mapInPandas(read_partition, schema=out_schema)
    )


class _HashingWriter:
    """Sequential-write file wrapper that tees into sha256 (so the
    lineage digest costs no second read of the shard)."""

    def __init__(self, f):
        self._f = f
        self.sha = hashlib.sha256()
        self.n = 0

    def write(self, b):
        self.sha.update(b)
        self.n += len(b)
        return self._f.write(b)

    def close(self):
        self._f.close()


def _commit_shards(
    df: DataFrame,
    out_dir: str,
    *,
    key: str,
    shard_col: str,
    path_for: Callable[[str, int], str],
    open_container: Callable,
    overwrite: bool,
    rows_name: str,
    bytes_name: str,
) -> DataFrame:
    """The crash-safe shard commit protocol both archive sinks
    (`write_webdataset`, `warc.write_warc`) run; returns the per-shard
    lineage manifest (shard, <rows_name>, <bytes_name>, sha256, path,
    written).

    * one shuffle (`repartition(shard)`) puts every row of a shard in
      exactly one task, so no shard spans writers; the task writes its
      shards in turn as `sortWithinPartitions(shard, key)` hands them
      over, so the order inside a shard is deterministic;
    * a shard whose final file `path_for(out_dir, shard)` exists is
      skipped (written=false, digest re-read from disk) unless
      `overwrite`;
    * a shard is written to an attempt-unique `.inprogress.{pid}` file
      through a sha256-teeing handle and `os.replace`d into place once
      complete, so a killed export never leaves a truncated shard under
      the final name (needs a rename-capable FS; on object stores
      deploy the existence check as a conditional PUT); once a shard is
      committed or skipped, the `.inprogress.*` files that failed or
      losing attempts left for it are removed.

    The container is the caller's: `open_container(fh, shard)` starts
    one shard's container on the hashing handle `fh` and returns
    `(add, close)`; `add(row)` writes one row (a dict of `df`'s
    columns) and `close()` ends the container. Neither sees the file,
    the digest or the rename."""
    schema = (
        f"shard bigint, {rows_name} bigint, {bytes_name} bigint, "
        "sha256 string, path string, written boolean"
    )

    def write_partition(batches):
        import pandas as pd

        os.makedirs(out_dir, exist_ok=True)
        done, cur = [], None

        def start(shard):
            st = {"shard": shard, "final": path_for(out_dir, shard),
                  "rows": 0, "fh": None}
            if os.path.exists(st["final"]) and not overwrite:
                return st  # skipped: no handle, the digest is re-read
            # attempt-unique temp name: concurrent speculative attempts
            # must never interleave writes into one file; whichever
            # os.replace lands last wins with a complete shard either way
            st["tmp"] = f"{st['final']}.inprogress.{os.getpid()}"
            st["fh"] = _HashingWriter(open(st["tmp"], "wb"))
            st["add"], st["close"] = open_container(st["fh"], shard)
            return st

        def finish(st):
            final, fh = st["final"], st["fh"]
            if fh is None:
                h = hashlib.sha256()
                with open(final, "rb") as f:
                    for chunk in iter(lambda: f.read(1 << 20), b""):
                        h.update(chunk)
                done.append((st["shard"], st["rows"], os.path.getsize(final),
                             h.hexdigest(), final, False))
            else:
                st["close"]()
                fh.close()
                os.replace(st["tmp"], final)
                done.append((st["shard"], st["rows"], fh.n, fh.sha.hexdigest(),
                             final, True))
            for stale in glob.glob(f"{glob.escape(final)}.inprogress.*"):
                try:
                    os.remove(stale)
                except FileNotFoundError:
                    pass  # another attempt removed or renamed it first

        try:
            for pdf in batches:
                for row in pdf.to_dict("records"):
                    sid = int(row[shard_col])
                    if cur is None or cur["shard"] != sid:
                        if cur is not None:
                            finish(cur)
                        cur = start(sid)
                    cur["rows"] += 1
                    if cur["fh"] is not None:
                        cur["add"](row)
            if cur is not None:
                finish(cur)
        finally:
            # a failed attempt leaves its `.inprogress` file, never a
            # final one; its handle is closed here, not by the GC
            if cur is not None and cur["fh"] is not None:
                cur["fh"].close()
        if done:
            yield pd.DataFrame(
                done,
                columns=["shard", rows_name, bytes_name, "sha256", "path", "written"],
            )

    return (
        df.repartition(F.col(shard_col))
        .sortWithinPartitions(shard_col, key)
        .mapInPandas(write_partition, schema=schema)
    )


def _add_member(tar, name: str, data: bytes) -> None:
    ti = tarfile.TarInfo(name=name)
    ti.size = len(data)
    ti.mtime = 0
    ti.uid = 0
    ti.gid = 0
    ti.mode = 0o644
    ti.uname = ""
    ti.gname = ""
    tar.addfile(ti, io.BytesIO(data))


def write_webdataset(
    df: DataFrame,
    out_dir: str,
    *,
    key: str = "image_id",
    bytes_col: str = "bytes",
    caption_col: str = "caption",
    fmt_col: str = "fmt",
    shard_col: str = "shard",
    overwrite: bool = False,
) -> DataFrame:
    """Write a shard-assigned corpus as WebDataset-style tar shards and
    return the per-shard lineage manifest
    (shard, n_rows, tar_bytes, sha256, path, written).

    The actual byte sink of the crawl->training funnel: `pack_shards`
    decides WHERE each sample goes; this writes the bytes. Per sample,
    two tar members with a shared basename (`<id>.<fmt>` payload,
    `<id>.txt` caption) — the WebDataset sample convention. NULL
    captions surface as empty .txt members (tar has no null).

    Scale, resume and crash safety are `_commit_shards`'s: one
    writer per shard, existing shards skipped unless `overwrite=True`,
    `.inprogress` + atomic rename. Tar bytes are BIT-REPRODUCIBLE
    across reruns and cluster sizes: USTAR stream mode, zeroed
    mtime/uid/gid/uname/gname, fixed 0o644 mode, members in key order,
    so rerunning an export yields byte-identical shards and therefore
    identical sha256 lineage. The per-row Python here is tar *header
    assembly* around an I/O-bound byte copy — the sink analogue of the
    reference's single-node segment writer (fetcher/Fetcher.java
    segmentWriter), not an expression hot path; everything upstream of
    the sink stays JVM-side.
    """

    def open_tar(fh, shard):
        tar = tarfile.open(fileobj=fh, mode="w|", format=tarfile.USTAR_FORMAT)

        def add(row):
            k, cap = row[key], row[caption_col]
            _add_member(tar, f"{k}.{row[fmt_col] or 'bin'}", bytes(row[bytes_col]))
            _add_member(tar, f"{k}.txt", (cap or "").encode("utf-8"))

        return add, tar.close

    return _commit_shards(
        df.select(shard_col, key, bytes_col, caption_col, fmt_col),
        out_dir,
        key=key,
        shard_col=shard_col,
        path_for=_shard_path,
        open_container=open_tar,
        overwrite=overwrite,
        rows_name="n_rows",
        bytes_name="tar_bytes",
    )


def _export_files(spark, out_dir: str, glob: str) -> DataFrame:
    """An export's files named like `glob` as a `binaryFile` frame. The
    glob is a filter on the directory load, not part of the path: a
    glob path sends Spark's metadata probe after a file of that literal
    name, which logs a FileNotFoundException on every read."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(out_dir)
    )


def _shard_of(path: str) -> int:
    """Shard id in a `shard-NNNNNN.tar` path; -1 for any other name."""
    m = re.search(r"shard-(\d+)\.tar$", path)
    return int(m.group(1)) if m else -1


def verify_export(
    spark,
    out_dir: str,
    manifest: DataFrame,
    *,
    deep: bool = True,
) -> DataFrame:
    """Distributed integrity audit of a `write_webdataset` export
    against its lineage manifest: one row per shard with a `status`
    verdict. This is what a resume/backfill runs BEFORE trusting an
    export — a 10^10-sample training set written across preemptible
    executors needs corrupt/partial/missing shards surfaced as a
    queryable table, not discovered by a training job three days in.

    Statuses (first failure wins per shard):
      * missing         — manifest row, no file on disk;
      * orphan          — shard-*.tar on disk, no manifest row (a
                          leftover from an aborted run with a different
                          packing — never silently trainable);
      * size_mismatch   — byte length differs from manifest tar_bytes;
      * rows_mismatch   — tar member pairs != manifest n_rows (deep
                          only: structurally altered / truncated-but-
                          valid tar — checked before digest so the
                          verdict names the actionable failure);
      * digest_mismatch — sha256 differs with structure intact (deep
                          only: bit rot, torn write on a non-atomic
                          store);
      * ok.

    Scale contract: `deep=False` audits existence + size only — the
    scan selects just (path, length), and Spark's binaryFile source
    prunes the `content` column, so the shallow audit reads file
    METADATA (one listing), not the export's bytes. `deep=True` streams
    every tar once through sha256 + member count in the same Arrow
    pass — O(export bytes) but embarrassingly parallel, one task per
    shard, no shuffle until the (tiny, one-row-per-shard) join against
    the manifest. The manifest side is #shards rows; the join
    broadcasts when small and shuffles two O(#shards) tables when not.

    Resume composition: `verify_export(...).filter("status != 'ok'")`
    is exactly the rewrite set — feed those shard ids back through
    `write_webdataset(overwrite=True)` after deleting the bad files.
    Reference anchor: WebCollector trusts BerkeleyDB/RocksDB for
    segment integrity (crawldb/DbUpdater.java); a distributed export
    onto a plain object store has to carry its own audit.
    """
    files = _export_files(spark, out_dir, "shard-*.tar")
    if deep:

        def audit(r):
            data = bytes(r["content"])
            # member count: .txt caption members pair 1:1 with payload
            # members, so samples = members / 2
            try:
                with tarfile.open(fileobj=io.BytesIO(data), mode="r:") as tar:
                    n_samples = sum(1 for _ in tar) // 2
            except tarfile.TarError:
                n_samples = -1  # unreadable == rows_mismatch
            yield {
                "shard": _shard_of(r["path"]),
                "disk_bytes": len(data),
                "disk_sha256": hashlib.sha256(data).hexdigest(),
                "disk_rows": n_samples,
            }

        disk = map_rows(
            files.select("path", "content"),
            T.StructType.fromDDL(
                "shard bigint, disk_bytes bigint, disk_sha256 string, "
                "disk_rows bigint"
            ),
            audit,
        )
    else:
        # metadata-only: content column pruned away at the source
        disk = files.select(
            F.regexp_extract("path", r"shard-(\d+)\.tar$", 1)
            .cast("bigint")
            .alias("shard"),
            F.col("length").alias("disk_bytes"),
            F.lit(None).cast("string").alias("disk_sha256"),
            F.lit(None).cast("bigint").alias("disk_rows"),
        )

    man = manifest.select("shard", "n_rows", "tar_bytes", "sha256")
    joined = man.join(disk, "shard", "full_outer")

    status = (
        F.when(F.col("tar_bytes").isNull(), F.lit("orphan"))
        .when(F.col("disk_bytes").isNull(), F.lit("missing"))
        .when(F.col("disk_bytes") != F.col("tar_bytes"), F.lit("size_mismatch"))
        .when(
            F.col("disk_rows").isNotNull()
            & (F.col("disk_rows") != F.col("n_rows")),
            F.lit("rows_mismatch"),
        )
        .when(
            F.col("disk_sha256").isNotNull()
            & (F.col("disk_sha256") != F.col("sha256")),
            F.lit("digest_mismatch"),
        )
        .otherwise(F.lit("ok"))
    )
    return joined.select(
        "shard",
        status.alias("status"),
        "n_rows",
        "tar_bytes",
        "sha256",
        "disk_bytes",
        "disk_sha256",
        "disk_rows",
    )


def read_webdataset(spark, out_dir: str) -> DataFrame:
    """Distributed read-back of a `write_webdataset` export: one row per
    sample (image_id, data binary, caption string, shard bigint).

    `binaryFile` hands each tar to one task whole — the same
    shard-fits-in-worker-memory contract WebDataset sample loaders
    assume (target_bytes is the knob that keeps it true) — and the tar
    member pairing happens per file on `map_rows`."""

    def samples(r):
        payload, caption = {}, {}
        with tarfile.open(fileobj=io.BytesIO(bytes(r["content"])), mode="r:") as tar:
            for ti in tar:
                stem, _, ext = ti.name.rpartition(".")
                data = tar.extractfile(ti).read()
                if ext == "txt":
                    caption[stem] = data.decode("utf-8")
                else:
                    payload[stem] = data
        shard = _shard_of(r["path"])
        for stem, data in payload.items():
            yield {"image_id": stem, "data": data,
                   "caption": caption.get(stem, ""), "shard": shard}

    return map_rows(
        _export_files(spark, out_dir, "shard-*.tar").select("path", "content"),
        T.StructType.fromDDL(
            "image_id string, data binary, caption string, shard bigint"
        ),
        samples,
    )
