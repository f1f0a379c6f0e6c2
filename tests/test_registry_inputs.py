"""Registry inputs are fixed tables for the life of the process: each
named corpus is generated once (corpora.py), and each parquet table's
schema is inferred once per file identity (plans/queries._t)."""

from __future__ import annotations

from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql.readwriter import DataFrameReader
from test_ann import SF_DIR as SF0001_DIR

from webcollector_spark import corpora, fixtures
from webcollector_spark.operators import media
from webcollector_spark.operators.media import VIDEO_SCHEMA
from webcollector_spark.plans import queries
from webcollector_spark.schema import CORPUS_SCHEMA

SUITE_DIR = Path(__file__).resolve().parents[1] / "crawlbench" / "sf0.01"
SF001_DIR = Path(SF0001_DIR).with_name("sf0.01")


@pytest.fixture
def spy_corpora(monkeypatch):
    """Two small corpora, one per row family, whose generators count
    their calls."""
    calls = {"spy_images": 0, "spy_video": 0}

    def counted(name, make):
        def gen():
            calls[name] += 1
            return make()

        return gen

    monkeypatch.setitem(corpora.CORPORA, "spy_images",
                        (CORPUS_SCHEMA, counted("spy_images", lambda: fixtures.make_corpus(6))))
    monkeypatch.setitem(corpora.CORPORA, "spy_video",
                        (VIDEO_SCHEMA, counted("spy_video", lambda: media.video_corpus_rows(4))))
    yield calls
    corpora._generated.cache_clear()


def test_each_corpus_is_generated_once(spark, spy_corpora):
    for name in spy_corpora:
        first = corpora.corpus(spark, name).collect()
        assert corpora.corpus(spark, name).collect() == first
        corpora.corpus_rows(name)
        corpora.corpus_rows(name)
    assert spy_corpora == {"spy_images": 1, "spy_video": 1}


def test_corpus_rows_hands_out_copies(spy_corpora):
    frame = corpora.corpus_rows("spy_images")
    want = frame.copy()
    frame["caption"] = "overwritten"
    frame.loc[0, "phash"] = -1
    frame.drop(index=[1, 2], inplace=True)
    pd.testing.assert_frame_equal(corpora.corpus_rows("spy_images"), want)

    rows = corpora.corpus_rows("spy_video")
    want = [dict(r) for r in rows]
    rows[0]["bytes"] = b""
    rows[1].clear()
    rows.pop()
    assert corpora.corpus_rows("spy_video") == want


@pytest.fixture
def inferring_reads(monkeypatch):
    """Paths of the parquet reads made without a schema given, i.e.
    the reads that infer one."""
    inferred = []
    schema, parquet = DataFrameReader.schema, DataFrameReader.parquet

    def given(self, s):
        self._given = True
        return schema(self, s)

    def read(self, *paths, **kw):
        if not getattr(self, "_given", False):
            inferred.extend(paths)
        return parquet(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "schema", given)
    monkeypatch.setattr(DataFrameReader, "parquet", read)
    return inferred


def _write(spark, path: Path, frame: pd.DataFrame, as_dir: bool) -> None:
    if as_dir:
        spark.createDataFrame(frame).coalesce(2).write.mode("overwrite").parquet(str(path))
    else:
        frame.to_parquet(path, index=False)


@pytest.mark.parametrize("as_dir", [False, True], ids=["file", "directory"])
def test_second_read_infers_no_schema(spark, tmp_path, inferring_reads, as_dir):
    _write(spark, tmp_path / "t.parquet", pd.DataFrame({"a": [1, 2, 3]}), as_dir)
    first = queries._t(spark, str(tmp_path), "t").collect()
    assert len(inferring_reads) == 1
    assert queries._t(spark, str(tmp_path), "t").collect() == first
    assert len(inferring_reads) == 1


@pytest.mark.parametrize("as_dir", [False, True], ids=["file", "directory"])
def test_rewritten_table_is_inferred_again(spark, tmp_path, inferring_reads, as_dir):
    path = tmp_path / "t.parquet"
    _write(spark, path, pd.DataFrame({"a": [1, 2, 3]}), as_dir)
    assert queries._t(spark, str(tmp_path), "t").columns == ["a"]
    _write(spark, path, pd.DataFrame({"b": ["x", "y"], "c": [0.5, 1.5]}), as_dir)
    df = queries._t(spark, str(tmp_path), "t")
    assert df.columns == ["b", "c"]
    assert sorted(df.collect()) == [("x", 0.5), ("y", 1.5)]
    assert len(inferring_reads) == 2


@pytest.mark.parametrize("sf_dir", [SUITE_DIR, SF001_DIR], ids=["suite", "sf0.01"])
def test_cached_schema_equals_fresh_inference(spark, sf_dir):
    if not sf_dir.is_dir():
        pytest.skip(f"{sf_dir} is not on this box")
    for path in sorted(sf_dir.glob("*.parquet")):
        queries._t(spark, str(sf_dir), path.stem)
        cached = queries._t(spark, str(sf_dir), path.stem).schema
        assert queries._SCHEMAS[str(path)][1] == cached
        assert cached == spark.read.parquet(str(path)).schema, path.name
