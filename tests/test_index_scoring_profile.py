"""Inverted-index postings (functions/index.py), hashed-linear quality
scorer (functions/scoring.py), and single-pass table profiling
(functions/profile.py) — semantics checked against tiny in-Python
models, plus partitioning-independence for the scorer (integer
arithmetic must make the result layout-invariant)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from operator_zoo.functions.index import (
    SEARCH_SCALE,
    posting_table,
    search_topk,
)
from operator_zoo.functions.profile import (
    numeric_histogram,
    profile_numeric_columns,
)
from operator_zoo.functions.scoring import score_documents

DOCS = [
    (1, "the cat sat on the mat"),
    (2, "the dog  sat"),  # double space: empty token must be dropped
    (3, "cat cat cat"),
    (4, ""),  # token-free doc: excluded from postings and scores
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def _postings_model(min_df, max_df):
    per_doc = {}
    for doc_id, text in DOCS:
        toks = [t for t in text.split(" ") if t]
        for pos, t in enumerate(toks):
            tf, first = per_doc.get((doc_id, t), (0, pos))
            per_doc[(doc_id, t)] = (tf + 1, min(first, pos))
    df = {}
    for (_, t), _v in per_doc.items():
        df[t] = df.get(t, 0) + 1
    return sorted(
        (t, df[t], d, tf, first)
        for (d, t), (tf, first) in per_doc.items()
        if df[t] >= min_df and (max_df is None or df[t] <= max_df)
    )


def test_posting_table_matches_model(spark, docs):
    got = sorted(
        tuple(r)
        for r in posting_table(docs, min_df=1).select(
            "term", "df", "doc_id", "tf", "first_pos"
        ).collect()
    )
    assert got == _postings_model(1, None)
    # df band: min_df=2 drops singletons; max_df=2 drops 'the'? df(the)=2
    # -> compute from the model, don't hand-guess
    got_band = sorted(
        tuple(r)
        for r in posting_table(docs, min_df=2, max_df=2).collect()
    )
    assert got_band == _postings_model(2, 2)
    assert got_band  # the band is non-empty on this fixture


def test_posting_table_positions_and_validation(spark, docs):
    rows = {
        (r["doc_id"], r["term"]): (r["tf"], r["first_pos"])
        for r in posting_table(docs, min_df=1).collect()
    }
    assert rows[(1, "the")] == (2, 0)  # positions 0 and 4
    assert rows[(2, "sat")] == (1, 2)  # empty token between dropped
    assert rows[(3, "cat")] == (3, 0)
    with pytest.raises(ValueError, match="min_df"):
        posting_table(docs, min_df=0)
    with pytest.raises(ValueError, match="max_df"):
        posting_table(docs, min_df=3, max_df=2)


def test_search_topk_scores_and_ties(spark, docs):
    postings = posting_table(docs, min_df=1)
    got = search_topk(postings, ["cat", "the", "zzz-absent"], k=10).collect()
    # model: score = tf * (SCALE // df); df(cat)=2, df(the)=2
    w = SEARCH_SCALE // 2
    expect = {1: (2 * w + 1 * w, 2), 2: (1 * w, 1), 3: (3 * w, 1)}
    assert {r["doc_id"]: (r["score"], r["n_terms_matched"]) for r in got} == expect
    # ranking: doc3 (3w) > doc1 (3w)? equal -> tie broken by doc_id asc
    order = [r["doc_id"] for r in got]
    assert order == [1, 3, 2]  # doc1 and doc3 tie at 3w; doc_id asc
    # k cut keeps the strict total order deterministic
    top1 = search_topk(postings, ["cat", "the"], k=1).collect()
    assert [r["doc_id"] for r in top1] == [1]
    with pytest.raises(ValueError, match="at least one term"):
        search_topk(postings, [])
    with pytest.raises(ValueError, match="k must be"):
        search_topk(postings, ["cat"], k=0)


def test_score_documents_partitioning_independent_and_exact(spark, docs):
    a = score_documents(docs.repartition(1))
    b = score_documents(docs.repartition(7, "doc_id"))
    ra = sorted(tuple(r) for r in a.collect())
    rb = sorted(tuple(r) for r in b.collect())
    assert ra == rb
    by_id = {r[0]: r for r in ra}
    assert set(by_id) == {1, 2, 3}  # empty doc excluded
    for doc_id, n_tokens, score, spt, keep in ra:
        assert n_tokens == len([t for t in dict(DOCS)[doc_id].split() if t])
        assert spt == score / n_tokens
        assert keep == (score >= 0)
    # doc 3 is 'cat' x3: score divisible by 3 and |w| <= 8
    assert by_id[3][2] % 3 == 0 and abs(by_id[3][2]) <= 24


def test_score_threshold_changes_keep_only(spark, docs):
    base = {r["doc_id"]: r for r in score_documents(docs).collect()}
    strict = {
        r["doc_id"]: r
        for r in score_documents(docs, threshold=10**9).collect()
    }
    for d in base:
        assert strict[d]["score"] == base[d]["score"]
        assert strict[d]["keep"] is False


def test_profile_numeric_columns(spark):
    rows = [(1, 10.0, None), (2, 20.0, 5.0), (3, 10.0, 7.0), (4, None, None)]
    df = spark.createDataFrame(rows, "id long, a double, b double")
    got = {
        r["col_name"]: r
        for r in profile_numeric_columns(df, ["id", "a", "b"]).collect()
    }
    assert got["id"]["n_rows"] == 4 and got["id"]["n_null"] == 0
    assert got["id"]["n_distinct"] == 4
    assert (got["id"]["min_val"], got["id"]["max_val"]) == (1.0, 4.0)
    assert got["a"]["n_null"] == 1 and got["a"]["n_distinct"] == 2
    assert got["b"]["n_null"] == 2 and got["b"]["n_distinct"] == 2
    with pytest.raises(ValueError, match="at least one column"):
        profile_numeric_columns(df, [])


def test_numeric_histogram(spark):
    vals = [
        (None if v is None else float(v),)
        for v in [0, 1, 24.9, 25, 49.9, 50, 99, None]
    ]
    df = spark.createDataFrame(vals, "v double")
    got = {r["bucket"]: r for r in numeric_histogram(df, "v", 25.0).collect()}
    assert {b: got[b]["n"] for b in sorted(got)} == {0: 3, 1: 2, 2: 1, 3: 1}
    assert got[0]["lo"] == 0.0 and got[1]["lo"] == 25.0
    assert got[1]["bucket_min"] == 25.0 and got[1]["bucket_max"] == 49.9
    assert math.isclose(sum(r["n"] for r in got.values()), 7)  # NULL dropped
    with pytest.raises(ValueError, match="width"):
        numeric_histogram(df, "v", 0.0)


def test_bigram_lm_scores_hand_model(spark):
    """Tiny corpus with a hand-derived bigram model:
    doc 1 = "a b a c" -> bigrams (a,b) (b,a) (a,c); doc 2 = "a b";
    model c(a,b)=2 c(b,a)=1 c(a,c)=1; contexts c(a)=3 c(b)=1.
    ratios (<<20, div): (a,b)=699050 -> 19 bits; (b,a)=2^20 -> 20;
    (a,c)=349525 -> 18. Single-token and empty docs are excluded."""
    from operator_zoo.functions.scoring import bigram_lm_scores

    df = spark.createDataFrame(
        [(1, "a b a c"), (2, "a b"), (3, "z"), (4, "")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in bigram_lm_scores(df).collect()}
    assert set(got) == {1, 2}
    assert got[1]["n_bigrams"] == 3
    assert got[1]["bits_total"] == 19 + 20 + 18
    assert got[1]["avg_bits"] == pytest.approx(57 / 3)
    assert got[2]["n_bigrams"] == 1 and got[2]["bits_total"] == 19


def test_bigram_lm_probable_text_scores_higher(spark):
    """The perplexity-filter property: text made of frequent
    transitions outscores text with rare transitions from the same
    contexts."""
    from operator_zoo.functions.scoring import bigram_lm_scores

    rows = [(i, "u v") for i in range(10)] + [(99, "u w")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["avg_bits"] for r in bigram_lm_scores(df).collect()}
    assert got[0] > got[99]


def test_bigram_lm_partitioning_independent(spark):
    from operator_zoo.functions.scoring import bigram_lm_scores

    rows = [(i, f"w{i % 3} w{(i + 1) % 4} w{i % 5} end") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(map(tuple, bigram_lm_scores(df.repartition(1)).collect()))
    b = sorted(map(tuple, bigram_lm_scores(df.repartition(7, "doc_id")).collect()))
    assert a == b
