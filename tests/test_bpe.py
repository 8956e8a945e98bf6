"""Vocab-driven BPE: learning determinism and merge semantics."""

from pyspark.sql import functions as F


def test_learn_merges_classic_example():
    from operator_zoo.functions.bpe import learn_merges_from_freqs

    # Sennrich's canonical toy corpus (word-level freqs)
    wf = [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)]
    merges = learn_merges_from_freqs(wf, n_merges=4)
    # 'es' (9) then 'est' (9) dominate; 'lo' (7) follows; ties resolve
    # lexicographically so training is reproducible
    assert merges[0] == ("e", "s")
    assert merges[1] == ("es", "t")
    assert merges[2] == ("l", "o")
    assert len(merges) == 4


def test_encode_word_applies_rank_order():
    from operator_zoo.functions.bpe import encode_word

    ranks = {("e", "s"): 0, ("es", "t"): 1, ("l", "o"): 2, ("lo", "w"): 3}
    assert encode_word("newest", ranks) == ["n", "e", "w", "est"]
    assert encode_word("low", ranks) == ["low"]
    assert encode_word("xyz", ranks) == ["x", "y", "z"]


def test_encode_stops_below_min_count():
    from operator_zoo.functions.bpe import learn_merges_from_freqs

    # all pairs unique -> no merge reaches count 2 -> empty table
    assert learn_merges_from_freqs([("abc", 1)], n_merges=10) == []


def test_distributed_counts_match_sequential(spark):
    from operator_zoo.functions.bpe import (
        bpe_token_counts,
        encode_text,
        learn_merges,
    )

    rows = [
        (0, "the lowest tower in the west"),
        (1, "newest widest lowest"),
        (2, "the the the west west"),
        (3, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    merges = learn_merges(docs, n_merges=20)
    # determinism across runs
    assert merges == learn_merges(docs, n_merges=20)
    got = {r.doc_id: r.bpe_tokens for r in bpe_token_counts(docs, merges).collect()}
    ranks = {p: i for i, p in enumerate(merges)}
    for doc_id, text in rows:
        assert got[doc_id] == encode_text(text, ranks, {})


def test_merge_reduces_token_count(spark):
    from operator_zoo.functions.bpe import bpe_token_counts, learn_merges

    docs = spark.createDataFrame(
        [(i, "hello hello hello world world") for i in range(4)],
        "doc_id long, text string",
    )
    merges = learn_merges(docs, n_merges=50)
    counts = {r.doc_id for r in bpe_token_counts(docs, merges).filter(
        # 5 pretokens, each fully merged into 1 token by 50 merges
        F.col("bpe_tokens") == 5
    ).collect()}
    assert counts == {0, 1, 2, 3}
