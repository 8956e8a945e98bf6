"""Fixed-iteration integer PageRank (functions/graph.py) vs an
independent sequential dict model — different shape (per-node Python
loop vs join+aggregate), same integer arithmetic, so equality is
evidence about semantics. Registry parity covers the DuckDB replay.
"""

from __future__ import annotations

import pytest

from operator_zoo.functions.graph import PR_SCALE, pagerank_fixed


def _model(edges, iters=3, damping_pct=85, scale=PR_SCALE):
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    n = len(nodes)
    outdeg = {}
    for u, _ in edges:
        outdeg[u] = outdeg.get(u, 0) + 1
    base = (100 - damping_pct) * scale // (100 * n)
    r = {v: scale // n for v in nodes}
    for _ in range(iters):
        inflow = {}
        for u, v in edges:
            inflow[v] = inflow.get(v, 0) + r[u] // outdeg[u]
        r = {
            v: base + damping_pct * inflow.get(v, 0) // 100 for v in nodes
        }
    return r


def _spark_pr(spark, edges, **kw):
    df = spark.createDataFrame(edges, ["src", "dst"])
    return {
        row["node"]: row["pr_scaled"]
        for row in pagerank_fixed(df, **kw).collect()
    }


CHAIN = [(1, 2), (2, 3), (3, 4)]
CYCLE = [(1, 2), (2, 3), (3, 1)]
STAR = [(1, 9), (2, 9), (3, 9), (4, 9), (9, 1)]
DIAMOND = [(1, 2), (1, 3), (2, 4), (3, 4), (4, 1), (5, 1)]


@pytest.mark.parametrize("edges", [CHAIN, CYCLE, STAR, DIAMOND])
def test_pagerank_matches_sequential_model(spark, edges):
    assert _spark_pr(spark, edges) == _model(edges)


def test_pagerank_more_cited_ranks_higher(spark):
    r = _spark_pr(spark, STAR)
    assert r[9] == max(r.values())  # the hub everyone cites
    assert r[2] == r[3] == r[4]  # symmetric leaves tie exactly


def test_pagerank_partitioning_independent(spark):
    df = spark.createDataFrame(DIAMOND, ["src", "dst"])
    a = {
        row["node"]: row["pr_scaled"]
        for row in pagerank_fixed(df.repartition(7)).collect()
    }
    assert a == _model(DIAMOND)


def test_pagerank_iters_and_damping_forwarded(spark):
    assert _spark_pr(spark, CYCLE, iters=5, damping_pct=50) == _model(
        CYCLE, iters=5, damping_pct=50
    )


def test_pagerank_rejects_bad_args(spark):
    df = spark.createDataFrame(CHAIN, ["src", "dst"])
    with pytest.raises(ValueError):
        pagerank_fixed(df, iters=0)
    with pytest.raises(ValueError):
        pagerank_fixed(df, damping_pct=100)
    with pytest.raises(ValueError):
        pagerank_fixed(df.where("src < 0"))


def test_pagerank_persisted_sink_same_results(spark):
    df = spark.createDataFrame(DIAMOND, ["src", "dst"])
    sink = []
    got = {
        row["node"]: row["pr_scaled"]
        for row in pagerank_fixed(df, persisted_sink=sink).collect()
    }
    assert got == _model(DIAMOND)
    # degree-keyed edge relation + nodes are each persisted
    assert len(sink) == 2 and all(d.is_cached for d in sink)
    for d in sink:
        d.unpersist()


# --------------------------------------------------------------------------
# triangle_counts vs a brute-force combinations model
# --------------------------------------------------------------------------

from itertools import combinations

from operator_zoo.functions.graph import triangle_counts


def _tri_model(edges):
    es = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    nodes = sorted({n for e in es for n in e})
    counts = {}
    for a, b, c in combinations(nodes, 3):
        if {(a, b), (a, c), (b, c)} <= es:
            for n in (a, b, c):
                counts[n] = counts.get(n, 0) + 1
    return counts


def _spark_tri(spark, edges):
    df = spark.createDataFrame(edges, ["src", "dst"])
    return {
        row["node"]: row["n_triangles"]
        for row in triangle_counts(df).collect()
    }


TRIANGLE = [(1, 2), (2, 3), (1, 3)]
SQUARE = [(1, 2), (2, 3), (3, 4), (4, 1)]
BOWTIE = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (3, 5)]
K4 = [(a, b) for a, b in combinations(range(4), 2)]


@pytest.mark.parametrize("edges", [TRIANGLE, SQUARE, BOWTIE, K4])
def test_triangles_match_brute_model(spark, edges):
    assert _spark_tri(spark, edges) == _tri_model(edges)


def test_triangles_canonicalize_input(spark):
    # reversed duplicates and self-loops must not change the count
    messy = TRIANGLE + [(2, 1), (3, 3), (1, 2)]
    assert _spark_tri(spark, messy) == _tri_model(TRIANGLE)


def test_triangles_skewed_hub(spark):
    # hub node in every triangle; orientation keeps counts exact
    edges = [(0, i) for i in range(1, 8)] + [(i, i + 1) for i in range(1, 7)]
    assert _spark_tri(spark, edges) == _tri_model(edges)


def test_triangles_persisted_sink_same_results(spark):
    df = spark.createDataFrame(K4, ["src", "dst"])
    sink = []
    got = {
        r["node"]: r["n_triangles"]
        for r in triangle_counts(df, persisted_sink=sink).collect()
    }
    assert got == _tri_model(K4)
    # canonical edge set + oriented relation are each persisted
    assert len(sink) == 2 and all(d.is_cached for d in sink)
    for d in sink:
        d.unpersist()


def test_triangles_assume_canonical_matches(spark):
    # clean (distinct, src<dst) input: skipping canonicalization must
    # give identical counts
    clean = sorted({tuple(sorted(e)) for e in K4})
    df = spark.createDataFrame(clean, ["src", "dst"])
    a = {
        r["node"]: r["n_triangles"]
        for r in triangle_counts(df, assume_canonical=True).collect()
    }
    b = {
        r["node"]: r["n_triangles"]
        for r in triangle_counts(df).collect()
    }
    assert a == b == _tri_model(K4)
