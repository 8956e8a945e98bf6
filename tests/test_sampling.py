"""Invariants of the deterministic hash samplers
(functions/curation.py): partitioning-independence, exact quotas,
contiguous permutation."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from operator_zoo.functions.curation import (
    hash_sample,
    quota_sample,
    shuffle_order,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(i, ["en", "de", "fr", "zh"][i % 4]) for i in range(2000)]
    return spark.createDataFrame(rows, "doc_id long, lang string")


def test_hash_sample_partitioning_independent(spark, docs):
    rates = {"en": 0.5, "de": 0.2}
    a = hash_sample(docs.repartition(1), rates, default_rate=0.1)
    b = hash_sample(docs.repartition(13, "lang"), rates, default_rate=0.1)
    ka = sorted(r["doc_id"] for r in a.collect())
    kb = sorted(r["doc_id"] for r in b.collect())
    assert ka == kb and len(ka) > 0


def test_hash_sample_rate_is_approximately_honored(spark, docs):
    kept = hash_sample(docs, {"en": 0.5}, default_rate=0.0).collect()
    # only the 'en' stratum survives (default 0), at ~50% of 500 docs
    assert all(r["stratum"] == "en" for r in kept)
    assert 200 <= len(kept) <= 300


def test_quota_sample_exact_counts_and_determinism(spark, docs):
    out = quota_sample(
        docs, {"en": 7, "de": 3}, default_quota=2, stratum_col="lang"
    )
    counts = {
        r["stratum"]: r["n"]
        for r in out.groupBy("stratum").agg(F.count("*").alias("n")).collect()
    }
    assert counts == {"en": 7, "de": 3, "fr": 2, "zh": 2}
    # rank-1 doc per stratum is the min-hash doc — stable across runs
    first = {r["stratum"]: r["doc_id"] for r in out.filter("rk = 1").collect()}
    again = quota_sample(
        docs.repartition(7), {"en": 7, "de": 3}, default_quota=2,
        stratum_col="lang",
    )
    first2 = {r["stratum"]: r["doc_id"] for r in again.filter("rk = 1").collect()}
    assert first == first2


def test_quota_sample_requires_positive_quota(spark, docs):
    with pytest.raises(ValueError):
        quota_sample(docs, {}, default_quota=0, stratum_col="lang")


def test_shuffle_order_is_contiguous_permutation(spark, docs):
    out = shuffle_order(docs, n_buckets=8).collect()
    assert len(out) == 2000
    idxs = sorted(r["global_idx"] for r in out)
    assert idxs == list(range(2000))
    # order follows (h60, doc_id)
    by_idx = sorted(out, key=lambda r: r["global_idx"])
    keys = [(r["h60"], r["doc_id"]) for r in by_idx]
    assert keys == sorted(keys)
    # a different salt gives a different permutation
    other = shuffle_order(docs, salt="epoch1", n_buckets=8).collect()
    perm0 = {r["doc_id"]: r["global_idx"] for r in out}
    perm1 = {r["doc_id"]: r["global_idx"] for r in other}
    assert perm0 != perm1


def test_shuffle_order_rejects_bad_buckets(spark, docs):
    with pytest.raises(ValueError):
        shuffle_order(docs, n_buckets=48)


# ---------------------------------------------------------------------------
# chunking + packing
# ---------------------------------------------------------------------------

def test_chunk_documents_covers_text_with_overlap(spark):
    from operator_zoo.functions.curation import chunk_documents

    rows = [
        (1, "a" * 2000),   # (2000-100+699)//700 = 3 chunks
        (2, "b" * 800),    # exactly one window
        (3, "c" * 801),    # spills into a 2nd overlapping window
        (4, ""),           # empty doc -> one empty chunk
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(df, chunk_chars=800, overlap=100).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append((r["chunk_id"], r["chunk_len"]))
    for v in by_doc.values():
        v.sort()
    assert by_doc[1] == [(0, 800), (1, 800), (2, 600)]
    assert by_doc[2] == [(0, 800)]
    assert by_doc[3] == [(0, 800), (1, 101)]
    assert by_doc[4] == [(0, 0)]
    # stride semantics: consecutive chunks share `overlap` chars ->
    # total coverage = len + (n-1)*overlap
    assert sum(l for _c, l in by_doc[1]) == 2000 + 2 * 100


def test_chunk_documents_rejects_bad_overlap(spark):
    from operator_zoo.functions.curation import chunk_documents

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        chunk_documents(df, chunk_chars=100, overlap=100)


def test_pack_sequences_token_ranges_are_exact(spark):
    from operator_zoo.functions.curation import pack_sequences

    rows = [(i, " ".join(["tok"] * (30 + i))) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = pack_sequences(df, ctx_tokens=64, n_shards=4).collect()
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r)
    assert set(by_shard) == {0, 1, 2, 3}
    for shard, docs in by_shard.items():
        docs.sort(key=lambda r: r["doc_id"])
        cum = 0
        for r in docs:
            assert r["doc_id"] % 4 == shard
            assert r["n_tokens"] == 30 + r["doc_id"]
            assert r["start_tok"] == cum
            cum += r["n_tokens"]
            assert r["first_bin"] == r["start_tok"] // 64
            assert r["last_bin"] == (cum - 1) // 64
    # packing must straddle at least one bin boundary in this fixture
    assert any(r["first_bin"] != r["last_bin"] for r in out)


def test_assign_splits_partition_invariant_and_total(spark, docs):
    from operator_zoo.functions.curation import assign_splits

    weights = [("train", 0.8), ("val", 0.1), ("test", 0.1)]
    a = {r["doc_id"]: r["split"] for r in assign_splits(docs, weights).collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in assign_splits(docs.repartition(7), weights).collect()
    }
    assert a == b  # re-sharding never migrates a document
    assert set(a) == {r["doc_id"] for r in docs.select("doc_id").collect()}
    counts = {}
    for s in a.values():
        counts[s] = counts.get(s, 0) + 1
    # every interval non-empty and ordered roughly by weight
    assert set(counts) == {"train", "val", "test"}
    assert counts["train"] > counts["val"] + counts["test"]


def test_assign_splits_rejects_bad_weights(spark, docs):
    import pytest as _pytest

    from operator_zoo.functions.curation import assign_splits

    with _pytest.raises(ValueError):
        assign_splits(docs, [("train", 1.0), ("val", 0.0)])
    with _pytest.raises(ValueError):
        assign_splits(docs, [])


def test_isqrt_expr_exact_on_boundaries(spark):
    from operator_zoo.functions.curation import _isqrt_expr

    import math

    vals = [0, 1, 2, 3, 4, 8, 9, 10, 15, 16, 17, 2**40, 2**40 + 1,
            (2**26 - 1) ** 2, (2**26 - 1) ** 2 - 1, (2**26 - 1) ** 2 + 1,
            2**60 - 1, 10**18]
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    got = {r["x"]: r["s"] for r in df.select("x", _isqrt_expr(F.col("x")).alias("s")).collect()}
    for v in vals:
        assert got[v] == math.isqrt(v), f"isqrt({v})"


def test_temperature_mix_upweights_small_sources(spark):
    """tau=0.5's point: the small stratum's budget share must exceed
    its raw proportional share. Weights 100 vs 10000 -> isqrt 10 vs
    100 -> small share 10/110 = 9.1% of the budget (proportional
    would be ~1%)."""
    from operator_zoo.functions.curation import temperature_mix

    rows = [(i, "small", 1) for i in range(100)] + [
        (1000 + i, "big", 1) for i in range(10000)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    got = temperature_mix(df, 110).collect()
    budgets = {r["stratum"]: r["budget"] for r in got}
    counts = {}
    for r in got:
        counts[r["stratum"]] = counts.get(r["stratum"], 0) + 1
    assert budgets == {"small": 10, "big": 100}
    assert counts == {"small": 10, "big": 100}


def test_temperature_mix_deterministic_and_validated(spark):
    from operator_zoo.functions.curation import temperature_mix

    rows = [(i, f"s{i % 5}", (i % 7) + 1) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    a = sorted(map(tuple, temperature_mix(df.repartition(1), 100).collect()))
    b = sorted(
        map(tuple, temperature_mix(df.repartition(9, "doc_id"), 100).collect())
    )
    assert a == b and len(a) > 0
    with pytest.raises(ValueError, match="total_budget"):
        temperature_mix(df, 0)


def test_domain_filter_verdicts_match_doc_scores(spark):
    """Verdicts must equal an independent rollup of the public
    per-doc classifier scores, and threshold extremes flip all
    verdicts."""
    from collections import defaultdict

    from operator_zoo.functions.curation import domain_filter
    from operator_zoo.functions.scoring import score_documents

    rows = [
        (i, f"src{i % 3}", f"alpha beta w{i % 11} w{i % 5} gamma")
        for i in range(90)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    per_doc = score_documents(df).collect()
    src_of = {i: f"src{i % 3}" for i in range(90)}
    tot = defaultdict(lambda: [0, 0, 0])
    for r in per_doc:
        t = tot[src_of[r["doc_id"]]]
        t[0] += 1
        t[1] += r["n_tokens"]
        t[2] += r["score"]
    got = {r["stratum"]: r for r in domain_filter(df, threshold_milli=0).collect()}
    assert set(got) == set(tot)
    for s, (nd, ntok, sc) in tot.items():
        r = got[s]
        assert (r["n_docs"], r["tokens_total"], r["score_total"]) == (nd, ntok, sc)
        assert r["keep"] == (sc * 1000 >= 0)
    hi = domain_filter(df, threshold_milli=10**9).collect()
    assert all(not r["keep"] for r in hi)
    lo = domain_filter(df, threshold_milli=-(10**9)).collect()
    assert all(r["keep"] for r in lo)


def _sps_model(rows, k, salt="wsample"):
    """Sequential Poisson Sampling sequential model."""
    import hashlib

    def h(v):
        return int(
            hashlib.md5(f"{salt}:{v}".encode()).hexdigest()[:15], 16
        )

    # mirror the engines: the 60-bit hash is cast to double FIRST
    # (losing low bits), then divided — both Spark and DuckDB do this
    keyed = [(float(h(str(i))) / float(w), h(str(i)), i, w) for i, w in rows]
    return [
        (rk + 1, i, w, key)
        for rk, (key, _u, i, w) in enumerate(sorted(keyed)[:k])
    ]


def test_weighted_sample_matches_sequential_model(spark):
    from operator_zoo.functions.curation import weighted_sample

    rows = [(i, (i % 7) + 1) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, weight long")
    got = [
        (r["ws_rank"], r["doc_id"], r["weight"], r["key"])
        for r in weighted_sample(df, k=50)
        .orderBy("ws_rank")
        .collect()
    ]
    assert got == _sps_model(rows, 50)


def test_weighted_sample_inclusion_tracks_weight(spark):
    """Across independent salts, weight-4 items should be sampled
    ~4x as often as weight-1 items (πps property, loose band)."""
    from operator_zoo.functions.curation import weighted_sample

    rows = [(i, 4 if i < 250 else 1) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, weight long")
    heavy = 0
    total = 0
    for s in range(8):
        ids = {
            r["doc_id"]
            for r in weighted_sample(df, k=50, salt=f"s{s}").collect()
        }
        heavy += sum(1 for i in ids if i < 250)
        total += len(ids)
    frac = heavy / total
    # expected heavy fraction = 250*4 / (250*4 + 250*1) = 0.8
    assert 0.65 < frac < 0.95


def test_weighted_sample_grouped_partitioning_independent(spark):
    from operator_zoo.functions.curation import weighted_sample

    rows = [(("a" if i % 2 else "b"), i, i % 5 + 1) for i in range(300)]
    df = spark.createDataFrame(rows, "g string, doc_id long, weight long")
    a = sorted(
        map(tuple, weighted_sample(df, k=20, group_cols=["g"]).collect())
    )
    b = sorted(
        map(
            tuple,
            weighted_sample(
                df.repartition(13), k=20, group_cols=["g"]
            ).collect(),
        )
    )
    assert a == b
    assert len({r[0] for r in a}) == 2  # both groups sampled


def test_weighted_sample_validation(spark):
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    from operator_zoo.functions.curation import weighted_sample

    df = spark.createDataFrame(
        [(1, 2), (2, 0)], "doc_id long, weight long"
    )
    with pytest.raises(ValueError):
        weighted_sample(df, k=0)
    with pytest.raises((SparkRuntimeException, Py4JJavaError)):
        weighted_sample(df, k=5).collect()  # zero weight raises
