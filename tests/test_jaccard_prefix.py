"""Prefix-filter exact Jaccard join (functions/dedup.py
jaccard_prefix_join) vs a brute-force all-pairs Python model — the
property that matters is COMPLETENESS (prefix filtering must lose no
qualifying pair) plus exactness of the surviving scores. Registry
parity covers the DuckDB replay.
"""

from __future__ import annotations

import random

import pytest

from operator_zoo.functions.dedup import jaccard_prefix_join


def _shingles(text, n):
    w = [t for t in text.split(" ") if t]
    return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}


def _brute(docs, t_pct, shingle):
    out = {}
    sets = {i: _shingles(txt, shingle) for i, txt in docs}
    for a in sorted(sets):
        for b in sorted(sets):
            if a >= b or not sets[a] or not sets[b]:
                continue
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if 100 * inter >= t_pct * union:
                out[(a, b)] = (inter, union)
    return out


def _spark_pairs(spark, docs, t_pct, shingle):
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = jaccard_prefix_join(df, threshold_pct=t_pct, shingle=shingle)
    return {
        (r["doc_a"], r["doc_b"]): (r["n_inter"], r["n_union"])
        for r in got.collect()
    }


def _mutate(rng, words, n_edits):
    w = list(words)
    for _ in range(n_edits):
        i = rng.randrange(len(w))
        w[i] = rng.choice(["zap", "quux", "blorp", w[i]])
    return w


@pytest.mark.parametrize("shingle,t_pct", [(1, 70), (2, 80), (3, 60)])
def test_prefix_join_equals_brute_force(spark, shingle, t_pct):
    rng = random.Random(13)
    vocab = [f"w{i}" for i in range(40)]
    docs = []
    base_id = 0
    for fam in range(8):
        base = rng.choices(vocab, k=rng.randrange(8, 25))
        for copy in range(rng.randrange(1, 4)):
            docs.append(
                (base_id, " ".join(_mutate(rng, base, rng.randrange(0, 4))))
            )
            base_id += 1
    got = _spark_pairs(spark, docs, t_pct, shingle)
    want = _brute(docs, t_pct, shingle)
    assert got == want  # completeness AND exactness


def test_prefix_join_identical_docs_and_threshold_100(spark):
    docs = [(1, "a b c d"), (2, "a b c d"), (3, "a b x d")]
    got = _spark_pairs(spark, docs, 100, 1)
    assert got == {(1, 2): (4, 4)}


def test_prefix_join_rejects_bad_threshold(spark):
    df = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        jaccard_prefix_join(df, threshold_pct=0)
