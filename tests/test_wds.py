"""WebDataset tar shard writer: the byte sink of the crawl->training
funnel. Pins the three contracts the 100 TB export job leans on:
round-trip fidelity (every byte and caption back out), bit-reproducible
shards (sha256-stable across reruns -> lineage digests mean something),
and idempotent resume (a killed export rewrites only missing shards).
"""

from __future__ import annotations

import os
import tarfile

from conftest import corpus_frame
from pyspark.sql import functions as F

from webcollector_spark import fixtures
from webcollector_spark.operators import shards


def _assigned_corpus(spark, n=60, target=12_000):
    corpus = corpus_frame(spark, fixtures.make_corpus(n))
    sized = corpus.withColumn("nbytes", F.length("bytes"))
    assignment = shards.pack_shards(
        sized, key="image_id", size="nbytes", target_bytes=target, n_buckets=8
    )
    return corpus.join(assignment.select("image_id", "shard"), "image_id")


def test_webdataset_roundtrip(spark, tmp_path):
    out = str(tmp_path / "wds")
    assigned = _assigned_corpus(spark)
    manifest = shards.write_webdataset(assigned, out).collect()
    assert all(r["written"] for r in manifest)
    assert sum(r["n_rows"] for r in manifest) == assigned.count()
    # no in-progress litter, one file per manifest row
    names = sorted(os.listdir(out))
    assert names == sorted(os.path.basename(r["path"]) for r in manifest)
    assert not any(".inprogress" in n for n in names)

    back = (
        shards.read_webdataset(spark, out)
        .withColumnRenamed("caption", "got_caption")
        .withColumnRenamed("shard", "got_shard")
    )
    joined = (
        assigned.select("image_id", "bytes", "caption", "shard")
        .join(back, "image_id", "full_outer")
        .collect()
    )
    assert len(joined) == assigned.count()
    for r in joined:
        assert r["data"] == bytes(r["bytes"])
        assert r["got_caption"] == r["caption"]
        assert r["got_shard"] == r["shard"]


def test_webdataset_bit_reproducible(spark, tmp_path):
    assigned = _assigned_corpus(spark, n=40)
    out1, out2 = str(tmp_path / "a"), str(tmp_path / "b")
    m1 = {r["shard"]: r["sha256"] for r in shards.write_webdataset(assigned, out1).collect()}
    # second run at different parallelism on a differently-partitioned input
    m2 = {
        r["shard"]: r["sha256"]
        for r in shards.write_webdataset(assigned.repartition(3), out2).collect()
    }
    assert m1 == m2
    # and the files themselves are byte-identical
    for name in os.listdir(out1):
        with open(os.path.join(out1, name), "rb") as f1, open(
            os.path.join(out2, name), "rb"
        ) as f2:
            assert f1.read() == f2.read()


def test_webdataset_resume_skips_existing(spark, tmp_path):
    out = str(tmp_path / "wds")
    assigned = _assigned_corpus(spark, n=40)
    first = {r["shard"]: r for r in shards.write_webdataset(assigned, out).collect()}
    victim = sorted(first)[0]
    os.remove(first[victim]["path"])

    second = {r["shard"]: r for r in shards.write_webdataset(assigned, out).collect()}
    assert second[victim]["written"] is True
    for s, row in second.items():
        if s != victim:
            assert row["written"] is False
        assert row["sha256"] == first[s]["sha256"]
        assert row["n_rows"] == first[s]["n_rows"]


def test_webdataset_crash_mid_shard_resumes_to_clean_export(spark, tmp_path):
    """A writer killed inside a shard leaves no file under that shard's
    final name, and rerunning the export on the same directory yields
    the clean export's digests for every shard."""
    import pytest

    assigned = _assigned_corpus(spark, n=40)
    clean = {
        r["shard"]: r["sha256"]
        for r in shards.write_webdataset(assigned, str(tmp_path / "clean")).collect()
    }
    victim = assigned.orderBy("image_id").first()
    # a NULL payload makes the tar member write raise mid-shard
    broken = assigned.withColumn(
        "bytes",
        F.when(F.col("image_id") == victim["image_id"], F.lit(None)).otherwise(
            F.col("bytes")
        ),
    )
    out = str(tmp_path / "wds")
    with pytest.raises(Exception):
        shards.write_webdataset(broken, out).collect()
    assert not os.path.exists(os.path.join(out, f"shard-{victim['shard']:06d}.tar"))

    resumed = {r["shard"]: r for r in shards.write_webdataset(assigned, out).collect()}
    assert resumed[victim["shard"]]["written"] is True
    assert {s: r["sha256"] for s, r in resumed.items()} == clean
    assert not [f for f in os.listdir(out) if ".inprogress." in f]


def test_webdataset_member_layout(spark, tmp_path):
    out = str(tmp_path / "wds")
    assigned = _assigned_corpus(spark, n=30)
    manifest = {r["shard"]: r for r in shards.write_webdataset(assigned, out).collect()}
    for shard, row in manifest.items():
        with tarfile.open(row["path"], "r:") as tar:
            members = tar.getmembers()
        # two members per sample, paired basenames, sorted sample order
        assert len(members) == 2 * row["n_rows"]
        stems = [m.name.rpartition(".")[0] for m in members]
        pair_stems = stems[0::2]
        assert pair_stems == sorted(pair_stems)
        assert stems[1::2] == pair_stems  # .txt follows its payload
        for m in members:
            assert m.mtime == 0 and m.uid == 0 and m.gid == 0


def test_member_index_matches_real_tar_bytes(spark, tmp_path):
    """The byte-offset index is pure arithmetic over member sizes; this
    pins that arithmetic (512-byte headers, 512-padded data, two
    members per sample in key order) against the bytes tarfile actually
    wrote: seek to each indexed offset, check the preceding header
    names the member, and read back exactly the original payload and
    caption."""
    out = str(tmp_path / "wds")
    assigned = _assigned_corpus(spark, n=45)
    shards.write_webdataset(assigned, out).collect()

    sized = assigned.select(
        "image_id",
        "shard",
        "fmt",
        F.length("bytes").cast("long").alias("n_bytes"),
        F.coalesce(F.octet_length("caption"), F.lit(0))
        .cast("long")
        .alias("cap_bytes"),
    )
    idx = {
        r["image_id"]: r
        for r in shards.member_index(sized, key="image_id").collect()
    }
    orig = {
        r["image_id"]: r
        for r in assigned.select("image_id", "bytes", "caption", "fmt").collect()
    }
    assert idx.keys() == orig.keys()
    for k, r in idx.items():
        with open(os.path.join(out, f"shard-{r['shard']:06d}.tar"), "rb") as f:
            f.seek(r["payload_offset"] - 512)
            hdr = f.read(512)
            assert hdr[:100].rstrip(b"\0").decode() == f"{k}.{orig[k]['fmt']}"
            assert f.read(r["payload_len"]) == bytes(orig[k]["bytes"])
            f.seek(r["caption_offset"] - 512)
            assert f.read(512)[:100].rstrip(b"\0").decode() == f"{k}.txt"
            got_cap = f.read(r["caption_len"]).decode("utf-8")
            assert got_cap == (orig[k]["caption"] or "")


def test_fetch_samples_random_access(spark, tmp_path):
    """Sparse ranged reads via the index return exactly the original
    bytes+captions for an arbitrary subset, without read_webdataset's
    whole-shard streaming."""
    out = str(tmp_path / "wds")
    assigned = _assigned_corpus(spark, n=45)
    shards.write_webdataset(assigned, out).collect()

    sized = assigned.select(
        "image_id",
        "shard",
        F.length("bytes").cast("long").alias("n_bytes"),
        F.coalesce(F.octet_length("caption"), F.lit(0))
        .cast("long")
        .alias("cap_bytes"),
    )
    idx = shards.member_index(sized, key="image_id")
    subset = idx.filter(F.crc32(F.col("image_id")) % 3 == 0)
    got = {
        r["image_id"]: r for r in shards.fetch_samples(subset, out).collect()
    }
    want = {
        r["image_id"]: r
        for r in assigned.select("image_id", "bytes", "caption", "shard").collect()
        if r["image_id"] in got
    }
    assert len(got) == subset.count() > 0
    for k, r in got.items():
        assert bytes(r["data"]) == bytes(want[k]["bytes"])
        assert r["caption"] == (want[k]["caption"] or "")
        assert r["shard"] == want[k]["shard"]


def test_verify_export_clean_and_each_failure_mode(spark, tmp_path):
    """verify_export: a clean export audits all-ok (deep and shallow),
    and each corruption a preemptible-executor export can suffer —
    deleted shard, orphan file, truncation, bit flip, member loss —
    maps to its named status. The failing set IS the rewrite plan."""
    out = str(tmp_path / "wds")
    assigned = _assigned_corpus(spark, n=45)
    manifest = shards.write_webdataset(assigned, out)
    manifest.collect()  # materialize files
    man = manifest.select("shard", "n_rows", "tar_bytes", "sha256")
    # cache the manifest values so post-corruption audits compare
    # against the ORIGINAL digests, not a re-run of the writer
    man = spark.createDataFrame(man.collect(), man.schema)

    clean = {
        r["shard"]: r["status"]
        for r in shards.verify_export(spark, out, man).collect()
    }
    assert set(clean.values()) == {"ok"}
    shallow = {
        r["shard"]: r["status"]
        for r in shards.verify_export(spark, out, man, deep=False).collect()
    }
    assert shallow == clean

    sids = sorted(clean)
    assert len(sids) >= 5, "need 5 shards to exercise every failure mode"
    paths = {s: os.path.join(out, f"shard-{s:06d}.tar") for s in sids}

    # missing: delete one shard
    os.remove(paths[sids[0]])
    # orphan: a stray shard file the manifest never wrote
    with open(os.path.join(out, "shard-999999.tar"), "wb") as f:
        f.write(b"\0" * 1024)
    # size_mismatch: truncate
    with open(paths[sids[1]], "r+b") as f:
        f.truncate(os.path.getsize(paths[sids[1]]) - 512)
    # digest_mismatch: flip one payload byte, size unchanged
    with open(paths[sids[2]], "r+b") as f:
        f.seek(600)
        b = f.read(1)
        f.seek(600)
        f.write(bytes([b[0] ^ 0xFF]))
    # rows_mismatch: same byte size, but valid tar with fewer members —
    # rebuild the shard as one big member padded to the original length
    orig_len = os.path.getsize(paths[sids[3]])
    import io as _io

    buf = _io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w|", format=tarfile.USTAR_FORMAT) as t:
        ti = tarfile.TarInfo(name="x.bin")
        ti.size = orig_len - 3 * 512 - 1024  # header + eot blocks
        ti.mtime = 0
        t.addfile(ti, _io.BytesIO(b"\0" * ti.size))
    raw = bytearray(buf.getvalue())
    raw = raw[:orig_len].ljust(orig_len, b"\0")
    with open(paths[sids[3]], "wb") as f:
        f.write(raw)

    audit = {
        r["shard"]: r["status"]
        for r in shards.verify_export(spark, out, man).collect()
    }
    assert audit[sids[0]] == "missing"
    assert audit[999999] == "orphan"
    assert audit[sids[1]] == "size_mismatch"
    assert audit[sids[2]] == "digest_mismatch"
    assert audit[sids[3]] == "rows_mismatch"
    for s in sids[4:]:
        assert audit[s] == "ok"

    # shallow mode sees structure-level failures only
    audit_shallow = {
        r["shard"]: r["status"]
        for r in shards.verify_export(spark, out, man, deep=False).collect()
    }
    assert audit_shallow[sids[0]] == "missing"
    assert audit_shallow[999999] == "orphan"
    assert audit_shallow[sids[1]] == "size_mismatch"
    assert audit_shallow[sids[2]] == "ok"  # metadata-only cannot see it

    # the rewrite plan: delete bad files, re-export ONLY those shards
    bad = sorted(
        s for s, st in audit.items() if st != "ok" and s != 999999
    )
    assert bad == sorted([sids[0], sids[1], sids[2], sids[3]])
