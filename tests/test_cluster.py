"""Connected-components (dedup cluster resolution) topology tests."""

import pytest
from pyspark.sql import functions as F


def _cc(spark, edges):
    from operator_zoo.functions.cluster import connected_components

    df = spark.createDataFrame(edges, "doc_a string, doc_b string")
    out = connected_components(df)
    return {r.node: r.component for r in out.collect()}


@pytest.mark.slow
def test_chain(spark):
    # worst case for naive propagation: a long path
    edges = [(f"d{i:02d}", f"d{i + 1:02d}") for i in range(20)]
    got = _cc(spark, edges)
    assert got == {f"d{i:02d}": "d00" for i in range(21)}


def test_star(spark):
    edges = [("z_center", f"a{i}") for i in range(10)]
    got = _cc(spark, edges)
    assert got == {**{f"a{i}": "a0" for i in range(10)}, "z_center": "a0"}


@pytest.mark.slow
def test_cycle(spark):
    edges = [(f"c{i}", f"c{(i + 1) % 7}") for i in range(7)]
    got = _cc(spark, edges)
    assert got == {f"c{i}": "c0" for i in range(7)}


def test_two_components_and_self_loop(spark):
    edges = [("a", "b"), ("b", "c"), ("x", "y"), ("q", "q")]
    got = _cc(spark, edges)
    assert got["a"] == got["b"] == got["c"] == "a"
    assert got["x"] == got["y"] == "x"
    assert "q" not in got  # self-loops carry no connectivity


def test_dedup_clusters_includes_singletons(spark):
    from operator_zoo.functions.cluster import dedup_clusters

    docs = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("lonely",)], "doc_id string"
    )
    pairs = spark.createDataFrame([("a", "b"), ("b", "c")], "doc_a string, doc_b string")
    out = {r.doc_id: (r.cluster_rep, r.is_canonical) for r in dedup_clusters(docs, pairs).collect()}
    assert out == {
        "a": ("a", 1),
        "b": ("a", 0),
        "c": ("a", 0),
        "lonely": ("lonely", 1),
    }


def test_converges_in_logarithmic_rounds(spark):
    """A 64-node chain must resolve well within MAX_CC_ROUNDS — the
    O(log n) property that makes this the 100 TB design (naive
    propagation needs 64 rounds here)."""
    from operator_zoo.functions.cluster import connected_components

    edges = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(63)]
    df = spark.createDataFrame(edges, "doc_a string, doc_b string")
    out = connected_components(df, max_rounds=10)
    comps = {r.component for r in out.collect()}
    assert comps == {"n000"}


def test_raises_loudly_without_fixpoint(spark):
    """Exhausting max_rounds without convergence must raise — a
    partially-merged component mapping is a silently wrong answer."""
    import pytest as _pytest

    from operator_zoo.functions.cluster import connected_components

    edges = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(63)]
    df = spark.createDataFrame(edges, "doc_a string, doc_b string")
    with _pytest.raises(RuntimeError, match="fixpoint"):
        connected_components(df, max_rounds=1)
