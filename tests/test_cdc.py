"""CDC MERGE-INTO apply (functions/cdc.py) vs a sequential dict
model; registry parity covers the DuckDB replay of the orders-derived
change set."""

from __future__ import annotations

import random

from operator_zoo.functions.cdc import cdc_apply


def _model(base, changes):
    state = {k: (a, b) for k, a, b in base}
    last = {}
    for k, seq, op, a, b in changes:
        if k not in last or seq > last[k][0]:
            last[k] = (seq, op, a, b)
    for k, (_, op, a, b) in last.items():
        if op == "d":
            state.pop(k, None)
        else:
            state[k] = (a, b)
    return sorted((k, a, b) for k, (a, b) in state.items())


def _spark(spark, base, changes):
    bdf = spark.createDataFrame(base, ["k", "a", "b"])
    cdf = spark.createDataFrame(
        changes, "k long, seq long, op string, a string, b string"
    )
    out = cdc_apply(bdf, cdf, key="k", seq="seq", payload_cols=["a", "b"])
    return sorted(tuple(r) for r in out.collect())


def test_cdc_all_arms(spark):
    base = [(1, "a1", "b1"), (2, "a2", "b2"), (3, "a3", "b3")]
    changes = [
        (1, 1, "u", "A1", "B1"),   # update
        (2, 1, "d", None, None),   # delete
        (9, 1, "u", "A9", "B9"),   # insert (no base row)
        (3, 1, "u", "x", "x"),
        (3, 2, "d", None, None),   # later delete wins
        (3, 3, "u", "A3", "B3"),   # even later upsert wins again
    ]
    got = _spark(spark, base, changes)
    assert got == _model(base, changes)
    assert got == [(1, "A1", "B1"), (3, "A3", "B3"), (9, "A9", "B9")]


def test_cdc_no_changes_passthrough(spark):
    base = [(1, "a", "b"), (2, "c", "d")]
    changes = [(99, 1, "d", None, None)]  # delete of an absent key
    assert _spark(spark, base, changes) == [(1, "a", "b"), (2, "c", "d")]


def test_cdc_randomized_matches_model(spark):
    rng = random.Random(11)
    base = [(k, f"a{k}", f"b{k}") for k in range(30)]
    changes = []
    for seq in range(1, 60):
        k = rng.randrange(40)
        if rng.random() < 0.3:
            changes.append((k, seq, "d", None, None))
        else:
            changes.append((k, seq, "u", f"A{k}-{seq}", f"B{k}-{seq}"))
    assert _spark(spark, base, changes) == _model(base, changes)


def test_cdc_unknown_op_raises(spark):
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    base = [(1, "a1", "b1")]
    # a typo'd 'U' and an upstream 'i' insert code must raise, not be
    # silently treated as deletes (the keep predicate is op-null-or-'u')
    for bad_op in ("U", "i"):
        changes = [(1, 1, bad_op, "A1", "B1")]
        with pytest.raises((SparkRuntimeException, Py4JJavaError)):
            _spark(spark, base, changes)
