"""Stat-gated zip-directory invalidation (`webcollector_spark._zipguard`):
an unchanged archive is never re-read, a rewritten one is, installing
twice is a no-op, and only Python workers get the gated method."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest
from pyspark import TaskContext

from webcollector_spark import _zipguard


def _gated() -> bool:
    return getattr(zipimport.zipimporter.invalidate_caches, "stat_gated", False)


def _write_zip(path, files: dict[str, str]) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)
    os.replace(tmp, path)


@pytest.fixture
def worker(monkeypatch):
    """Act as a Python worker; the real method comes back after."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(TaskContext, "_taskContext", object())
    _zipguard.install()
    assert _gated()


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip holding package `zgpkg` (two zipimporters: the archive and
    `archive/zgpkg`), on sys.path and imported."""
    path = str(tmp_path / "lib.zip")
    files = {"zgpkg/__init__.py": "", "zgpkg/a.py": "X = 1\n"}
    _write_zip(path, files)
    monkeypatch.syspath_prepend(path)
    for mod in ("zgpkg", "zgpkg.a", "zgpkg.b"):
        monkeypatch.delitem(sys.modules, mod, raising=False)
    importlib.import_module("zgpkg.a")
    return path, files


@pytest.fixture
def reads(monkeypatch):
    """Archive paths `zipimport._read_directory` is called with."""
    seen: list[str] = []
    real = zipimport._read_directory

    def spy(archive):
        seen.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", spy)
    return seen


def test_unchanged_archive_is_not_reread(worker, archive, reads):
    path, _ = archive
    importlib.invalidate_caches()  # first sight of the archive: one read
    assert reads.count(path) == 1
    del reads[:]
    for _ in range(3):
        importlib.invalidate_caches()
    assert path not in reads


def test_rewritten_archive_is_reread_and_imports(worker, archive, reads):
    path, files = archive
    importlib.invalidate_caches()
    _write_zip(path, {**files, "zgpkg/b.py": "Y = 2\n"})
    del reads[:]
    importlib.invalidate_caches()
    # one read, shared by both importers of the archive
    assert reads.count(path) == 1
    assert importlib.import_module("zgpkg.b").Y == 2


def test_stat_failure_falls_back_to_the_original(worker, archive):
    path, _ = archive
    importlib.invalidate_caches()
    os.remove(path)
    importlib.invalidate_caches()
    assert path not in zipimport._zip_directory_cache


def test_second_install_changes_nothing(worker):
    method = zipimport.zipimporter.invalidate_caches
    _zipguard.install()
    assert zipimport.zipimporter.invalidate_caches is method


def test_driver_is_not_patched():
    assert TaskContext.get() is None
    _zipguard.install()
    assert not _gated()


def test_guard_installed_in_worker_after_engine_import(spark):
    def probe(batches):
        import zipimport

        import pandas as pd

        import webcollector_spark.operators.fetch  # noqa: F401

        for _ in batches:
            pass
        method = zipimport.zipimporter.invalidate_caches
        yield pd.DataFrame({"gated": [getattr(method, "stat_gated", False)]})

    rows = spark.range(0, 1, 1, 1).mapInPandas(probe, "gated boolean").collect()
    assert [r.gated for r in rows] == [True]
    assert not _gated()
