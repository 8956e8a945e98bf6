"""Token-budget curation sampling: per-shard vs composite-shard."""

import pytest
from pyspark.sql import functions as F


def _uniform_docs(spark, n_per_lang=100, langs=("en", "de")):
    """Identical text per doc -> identical quality and token count, so
    selection arithmetic is exact and auditable."""
    text = "the quick brown fox jumps over the lazy dog now"  # 10 tokens
    rows = []
    did = 0
    for lang in langs:
        for _ in range(n_per_lang):
            rows.append((did, lang, text))
            did += 1
    return spark.createDataFrame(rows, "doc_id long, lang string, text string")


@pytest.mark.slow
def test_composite_totals_match_per_lang_on_proportional_budgets(spark):
    """With budgets proportionally allocated (budget/n_buckets per
    bucket) and bucket-independent quality, the composite-shard run
    keeps exactly the same totals as the per-language run."""
    from operator_zoo.functions.curation import (
        budget_sample,
        budget_sample_composite,
    )

    docs = _uniform_docs(spark)
    # budget 400 tokens, 10 tokens/doc -> 40 docs per lang;
    # composite: 4 buckets x (100-token budget -> 10 docs) = 40
    per_lang = budget_sample(docs, 400)
    comp = budget_sample_composite(docs, 400, n_buckets=4)

    def totals(df):
        return {
            (r.shard): (int(r.n), int(r.tok))
            for r in df.groupBy("shard")
            .agg(F.count("*").alias("n"), F.sum("n_tokens").alias("tok"))
            .collect()
        }

    assert totals(per_lang) == totals(comp)
    assert totals(comp) == {"en": (40, 400), "de": (40, 400)}


def test_composite_respects_per_bucket_budget_and_ranking(spark):
    """Within every (shard, bucket) the kept set is the greedy quality
    prefix and never exceeds budget/n_buckets tokens."""
    from operator_zoo.functions.curation import (
        budget_sample_composite,
    )

    # two quality tiers, alternating in blocks of 4 so EVERY bucket
    # (doc_id % 4) holds both clean prose and junk
    good = "the cat and the dog sat in the house now"  # 10 tokens
    junk = "@@## $$%% !!&& ** ((++ ))~~ ^^||"  # 8 junk tokens
    rows = []
    for i in range(80):
        rows.append((i, "en", good if (i // 4) % 2 == 0 else junk))
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")

    comp = budget_sample_composite(docs, 80, n_buckets=4).collect()
    by_bucket = {}
    for r in comp:
        by_bucket.setdefault(r.bucket, []).append(r)
    assert set(by_bucket) == {0, 1, 2, 3}
    good_ids = {i for i in range(80) if (i // 4) % 2 == 0}
    for bucket, kept in by_bucket.items():
        # per-bucket budget 80 // 4 = 20 tokens -> exactly two 10-token
        # clean docs; junk never outranks prose into the prefix
        assert sum(r.n_tokens for r in kept) <= 20
        assert len(kept) == 2
        assert all(r.doc_id in good_ids for r in kept)
        assert all(int(r.doc_id) % 4 == bucket for r in kept)


def test_decontaminate_flags_exact_gram_overlap(spark):
    from operator_zoo.functions.curation import decontaminate

    bench_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        # shares the full leading 8-gram with the benchmark doc
        (1, "alpha beta gamma delta epsilon zeta eta theta SAFE TAIL"),
        # same vocabulary fully reversed: no shared 8-gram
        (2, "kappa iota theta eta zeta epsilon delta gamma beta alpha"),
        # too short for any 8-gram
        (3, "alpha beta gamma"),
        # disjoint vocabulary
        (4, "one two three four five six seven eight nine ten"),
    ]
    train = spark.createDataFrame(rows, "doc_id long, text string")
    bench = spark.createDataFrame(
        [(100, bench_text)], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r.asDict() for r in decontaminate(train, bench).collect()
    }
    assert out[1]["contaminated"] and out[1]["n_contaminated"] == 1
    assert not out[2]["contaminated"]
    assert out[3]["n_grams"] == 0 and not out[3]["contaminated"]
    assert not out[4]["contaminated"]
    assert out[4]["n_grams"] == 3  # 10 words -> 3 distinct 8-grams


def test_decontaminate_counts_distinct_shared_grams(spark):
    from operator_zoo.functions.curation import decontaminate

    # a doc repeating the benchmark phrase twice still counts the
    # shared grams once (distinct per-doc gram set)
    phrase = "w1 w2 w3 w4 w5 w6 w7 w8"
    train = spark.createDataFrame(
        [(1, phrase + " xx " + phrase)], "doc_id long, text string"
    )
    bench = spark.createDataFrame([(9, phrase)], "doc_id long, text string")
    row = decontaminate(train, bench).collect()[0]
    assert row["n_contaminated"] == 1
    with __import__("pytest").raises(ValueError):
        decontaminate(train, bench, n=0)
