"""salted_join and pairwise_set_similarity vs plain-join / set-model
references. Registry parity covers the DuckDB replays
(`join_salted_skew`, `dedup_source_overlap`).
"""

from __future__ import annotations

from itertools import combinations

import pytest

from operator_zoo.functions.dedup import pairwise_set_similarity
from operator_zoo.functions.relational import salted_join


def _skewed(spark):
    # one celebrity key (0) carrying 80% of rows
    rows = [(0, i) for i in range(160)] + [(k, k * 100) for k in range(1, 41)]
    fact = spark.createDataFrame(rows, ["key", "payload"])
    dim = spark.createDataFrame(
        [(k, f"d{k}") for k in range(0, 30)], ["key", "attr"]
    )
    return fact, dim


@pytest.mark.parametrize("n_salt", [1, 8])
def test_salted_join_equals_plain_inner(spark, n_salt):
    fact, dim = _skewed(spark)
    got = sorted(
        tuple(r) for r in salted_join(fact, dim, "key", n_salt=n_salt).collect()
    )
    want = sorted(tuple(r) for r in fact.join(dim, "key").collect())
    assert got == want and len(got) == 160 + 29


def test_salted_join_left_keeps_unmatched(spark):
    fact, dim = _skewed(spark)
    got = sorted(
        tuple(r)
        for r in salted_join(fact, dim, "key", n_salt=4, how="left").collect()
    )
    want = sorted(tuple(r) for r in fact.join(dim, "key", "left").collect())
    assert got == want
    assert sum(1 for r in got if r[-1] is None) == 11  # keys 30..40


def test_salted_join_validation(spark):
    fact, dim = _skewed(spark)
    with pytest.raises(ValueError):
        salted_join(fact, dim, "key", n_salt=0)
    with pytest.raises(ValueError):
        salted_join(fact, dim, "key", how="full")


SETS = {
    0: {"a", "b", "c", "d"},
    1: {"c", "d", "e"},
    2: {"x"},
    3: {"a", "b", "c", "d"},  # identical to 0
    7: {"d", "x"},  # gap in ids is fine
}


def _sim_model():
    out = []
    for i, j in combinations(sorted(SETS), 2):
        inter = len(SETS[i] & SETS[j])
        if inter == 0:
            continue  # no shared item -> no output row (documented)
        uni = len(SETS[i] | SETS[j])
        out.append((i, j, inter, uni, inter * 1000000 // uni))
    return sorted(out)


def test_pairwise_set_similarity_matches_model(spark):
    rows = [(sid, item) for sid, s in SETS.items() for item in s]
    df = spark.createDataFrame(rows, ["set_id", "item"])
    got = sorted(tuple(r) for r in pairwise_set_similarity(df).collect())
    assert got == _sim_model()
    # identical sets read jaccard 1.0 exactly
    assert (0, 3, 4, 4, 1000000) in got


def test_pairwise_set_similarity_duplicate_rows_ignored(spark):
    rows = [(0, "a"), (0, "a"), (1, "a"), (1, "b")]
    df = spark.createDataFrame(rows, ["set_id", "item"])
    got = {tuple(r) for r in pairwise_set_similarity(df).collect()}
    assert got == {(0, 1, 1, 2, 500000)}


def test_pairwise_set_similarity_array_strategy_100_sets(spark):
    # 100 sets breaks the int64 mask width; 'auto' must pick the
    # array form and match the brute-force set model exactly
    sets = {i: {f"t{j}" for j in range(i % 7, i % 7 + 5)} for i in range(100)}
    rows = [(sid, item) for sid, s in sets.items() for item in s]
    df = spark.createDataFrame(rows, ["set_id", "item"])
    got = sorted(tuple(r) for r in pairwise_set_similarity(df).collect())
    want = []
    for i, j in combinations(sorted(sets), 2):
        inter = len(sets[i] & sets[j])
        if inter == 0:
            continue
        uni = len(sets[i] | sets[j])
        want.append((i, j, inter, uni, inter * 1000000 // uni))
    assert got == sorted(want)
    # explicit 'array' on small ids gives the same answer as 'mask'
    small = spark.createDataFrame(
        [(0, "a"), (0, "b"), (1, "b"), (1, "c")], ["set_id", "item"]
    )
    m = {tuple(r) for r in pairwise_set_similarity(small, strategy="mask").collect()}
    a = {tuple(r) for r in pairwise_set_similarity(small, strategy="array").collect()}
    assert m == a == {(0, 1, 1, 3, 333333)}


def test_pairwise_set_similarity_auto_picks_mask(spark):
    # in-range ids stay on the int64-mask fast path: the plan carries
    # a bitwise-or aggregate, not the collect_set array signature
    df = spark.createDataFrame([(0, "a"), (62, "a")], ["set_id", "item"])
    sim = pairwise_set_similarity(df, strategy="auto")
    plan = sim._jdf.queryExecution().optimizedPlan().toString()
    assert "collect_set" not in plan
    assert {tuple(r) for r in sim.collect()} == {(0, 62, 1, 1, 1000000)}


def test_pairwise_set_similarity_mask_rejects_out_of_range(spark):
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    for bad in (63, -1):
        df = spark.createDataFrame([(0, "a"), (bad, "a")], ["set_id", "item"])
        with pytest.raises((SparkRuntimeException, Py4JJavaError)):
            pairwise_set_similarity(df, strategy="mask").collect()
    with pytest.raises(ValueError):
        pairwise_set_similarity(df, strategy="bogus")
