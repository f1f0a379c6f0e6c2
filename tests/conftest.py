import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from webcollector_spark.schema import CORPUS_SCHEMA  # noqa: E402
from webcollector_spark.session import get_spark  # noqa: E402


def corpus_frame(spark, rows, schema=CORPUS_SCHEMA):
    """A corpus at a test's own size: `rows` is a generator's output
    (a fixtures.make_corpus* frame, or media/audiofp *_corpus_rows row
    dicts with schema=VIDEO_SCHEMA / AUDIO_SCHEMA), loaded the way
    corpora.corpus loads the registry's corpora."""
    return spark.createDataFrame(rows, schema=schema)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("wc-tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def small_web():
    """Deterministic 60-page web: graph + corpus + requester rows."""
    from webcollector_spark import fixtures

    corpus = fixtures.make_corpus(60)
    graph = fixtures.make_site_graph(60, n_hosts=5, out_degree=3)
    return graph, corpus
