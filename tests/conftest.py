from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: Parametrized oracle checks whose Spark side runs the full
#: extraction pipeline, or replays multi-step training or a streaming
#: job — marked slow here because the slow marker cannot be attached
#: to a single parametrization inline.
_SLOW_QUERY_PARAMS = (
    "[ann_kmeans_cells]",
    "[ann_topk_ivf_kmeans]",
    "[dedup_embedding_cosine_kmeans]",
    "[dedup_semdedup_prune]",
    "[streaming_sessionize]",
    "[extraction_metrics]",
)


def pytest_collection_modifyitems(config, items):
    for item in items:
        if item.nodeid.endswith(_SLOW_QUERY_PARAMS):
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    from pdf_to_xls_vision_spark.session import get_spark

    s = get_spark(
        app_name="tests",
        master=os.environ.get("SPARK_TEST_MASTER", "local[4]"),
        shuffle_partitions=8,
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tiny_corpus():
    from pdf_to_xls_vision_spark.corpus import generate_corpus

    return generate_corpus(64)


@pytest.fixture(scope="session")
def tiny_corpus_path(tiny_corpus, tmp_path_factory):
    import pyarrow.parquet as pq

    from pdf_to_xls_vision_spark.corpus import corpus_to_arrow

    path = str(tmp_path_factory.mktemp("corpus") / "tiny.parquet")
    pq.write_table(corpus_to_arrow(tiny_corpus), path)
    return path
