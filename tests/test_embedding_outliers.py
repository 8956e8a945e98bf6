"""embedding_outliers (functions/ann.py) vs an independent sequential
model — per-group numpy-free integer arithmetic over explicit lists.
Registry parity covers the DuckDB replay (`ann_embedding_outliers`).
"""

from __future__ import annotations

import math

import numpy as np

from operator_zoo.functions.ann import embedding_outliers


def _model(rows, k=5):
    # rows: (vec_id, label, [floats]) — quantize through float32 first,
    # matching the array<float> storage the Spark path reads
    q = {
        vid: [math.floor(float(np.float32(x)) * 1000) for x in v]
        for vid, _, v in rows
    }
    groups = {}
    for vid, lab, _ in rows:
        groups.setdefault(lab, []).append(vid)
    out = []
    for lab, vids in groups.items():
        n = len(vids)
        dim = len(q[vids[0]])
        s = [sum(q[v][i] for v in vids) for i in range(dim)]
        scored = sorted(
            (
                (-sum((q[v][i] * n - s[i]) ** 2 for i in range(dim)), v)
                for v in vids
            ),
        )[:k]
        for rank, (neg, v) in enumerate(scored, 1):
            out.append((lab, rank, v, -neg))
    return sorted(out)


def _run(spark, rows, k=5):
    df = spark.createDataFrame(
        rows, "vec_id: long, label: int, embedding: array<float>"
    )
    dim = len(rows[0][2])
    got = embedding_outliers(df, k=k, dim=dim).collect()
    return sorted(
        (r["label"], r["rank"], r["vec_id"], r["dist2n"]) for r in got
    )


def test_outliers_match_model(spark):
    rows = []
    vid = 0
    for lab in range(3):
        for j in range(8):
            # cluster around lab with one far point per group
            base = float(lab)
            vec = [base + 0.001 * j, base - 0.002 * j, base, base + 0.01]
            if j == 7:
                vec = [base + 0.4, base - 0.4, base + 0.3, base - 0.3]
            rows.append((vid, lab, vec))
            vid += 1
    got = _run(spark, rows, k=3)
    assert got == _model(rows, k=3)
    # the planted far point is rank 1 in each group
    top1 = {(lab, v) for lab, rk, v, _ in got if rk == 1}
    assert top1 == {(0, 7), (1, 15), (2, 23)}


def test_outliers_singleton_group_zero_distance(spark):
    rows = [(1, 0, [0.5, -0.5]), (2, 1, [0.1, 0.2]), (3, 1, [0.3, 0.4])]
    got = _run(spark, rows, k=5)
    assert got == _model(rows, k=5)
    assert (0, 1, 1, 0) in got  # singleton: dist2n == 0


def test_outliers_tiebreak_by_vec_id(spark):
    # identical vectors -> equal distances; rank must follow vec_id
    rows = [(i, 0, [0.1, 0.1]) for i in range(4)]
    got = _run(spark, rows, k=4)
    assert [(v, rk) for _, rk, v, _ in sorted(got)] == [
        (0, 1), (1, 2), (2, 3), (3, 4),
    ]


def test_outliers_infers_dim_and_rejects_ragged(spark):
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    rows = [(i, "g", [float(i), 0.0, 0.0]) for i in range(6)]
    df = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    # dim omitted: inferred from the first row (3 here)
    got = embedding_outliers(df, k=2)
    assert got.count() == 2
    # a ragged vector must raise, not propagate null centroid sums
    ragged = rows + [(99, "g", [1.0, 2.0])]
    rdf = spark.createDataFrame(ragged, ["vec_id", "label", "embedding"])
    with pytest.raises((SparkRuntimeException, Py4JJavaError)):
        embedding_outliers(rdf, k=2).collect()
    # explicit dim larger than the vectors must raise too
    with pytest.raises((SparkRuntimeException, Py4JJavaError)):
        embedding_outliers(df, k=2, dim=64).collect()
