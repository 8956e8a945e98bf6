"""HLL + distributed Bloom sketch invariants (functions/sketches.py).
Registry parity covers bit-exactness vs DuckDB; these pin estimator
quality and filter semantics."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from operator_zoo.functions.hashing import h60
from operator_zoo.functions.sketches import (
    bloom_words,
    hll_estimate_row,
    hll_registers,
)


def _ids(spark, n):
    return spark.range(n).select(F.concat(F.lit("item-"), "id").alias("v"))


@pytest.mark.parametrize("n", [50, 500, 5000])
def test_hll_estimate_within_expected_error(spark, n):
    # m=64 -> relative error ~1.04/sqrt(64) = 13%; allow 3 sigma
    row = hll_estimate_row(_ids(spark, n), F.col("v"), p=6).collect()[0]
    assert row["m"] == 64
    assert abs(row["estimate"] - n) / n < 0.40, row


def test_hll_estimate_is_partitioning_independent(spark):
    df = _ids(spark, 1000)
    a = hll_estimate_row(df.repartition(1), F.col("v")).collect()[0]
    b = hll_estimate_row(df.repartition(17), F.col("v")).collect()[0]
    assert a == b


def test_hll_registers_monotone_under_union(spark):
    # registers of (A ∪ B) == elementwise max of registers(A), registers(B)
    a, b = _ids(spark, 300), _ids(spark, 600)
    def regs(df):
        return {r["bucket"]: r["register"] for r in hll_registers(df, F.col("v")).collect()}
    ra, rb, ru = regs(a), regs(b), regs(a.unionAll(b))
    merged = {k: max(ra.get(k, 0), rb.get(k, 0)) for k in set(ra) | set(rb)}
    assert ru == merged


def test_hll_rejects_bad_p(spark):
    with pytest.raises(ValueError):
        hll_registers(_ids(spark, 10), F.col("v"), p=1)


def test_bloom_no_false_negatives_and_sane_fpp(spark):
    members = _ids(spark, 200)
    words = {
        r["word_idx"]: r["word"]
        for r in bloom_words(members, F.col("v"), n_bits=1008, k=3).collect()
    }

    def contains(df):
        probe = df.select(
            *[F.pmod(h60(F.col("v"), f"bloom{i}"), F.lit(1008)).alias(f"p{i}")
              for i in range(3)]
        ).collect()
        out = []
        for r in probe:
            hit = all(
                (words.get(r[f"p{i}"] // 63, 0) >> (r[f"p{i}"] % 63)) & 1
                for i in range(3)
            )
            out.append(hit)
        return out

    # every member must test positive
    assert all(contains(members))
    # non-members: FPP for n=200, m=1008, k=3 is ~(1-e^{-600/1008})^3 ≈ 9%
    non = spark.range(10_000, 11_000).select(
        F.concat(F.lit("other-"), "id").alias("v")
    )
    fp = sum(contains(non))
    assert fp / 1000 < 0.25, fp


def test_bloom_rejects_bad_params(spark):
    df = _ids(spark, 5)
    with pytest.raises(ValueError):
        bloom_words(df, F.col("v"), n_bits=1000)
    with pytest.raises(ValueError):
        bloom_words(df, F.col("v"), k=0)


def test_countmin_never_underestimates_and_is_exact_without_collisions(spark):
    from collections import Counter

    from operator_zoo.functions.sketches import (
        countmin_estimates,
        countmin_table,
    )

    # zipf-ish multiset: item-k appears (40 - k) times
    vals = [f"item-{k}" for k in range(40) for _ in range(40 - k)]
    truth = Counter(vals)
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    probes = spark.createDataFrame(
        [(v,) for v in truth], "token string"
    )

    # width 4: heavy collisions -> estimates must still dominate truth
    tight = countmin_table(df, F.col("v"), width=4, depth=3)
    est = {
        r["probe"]: r["cm_estimate"]
        for r in countmin_estimates(
            tight, probes, "token", width=4, depth=3
        ).collect()
    }
    assert set(est) == set(truth)
    assert all(est[k] >= truth[k] for k in truth)
    assert any(est[k] > truth[k] for k in truth)  # collisions occurred

    # wide sketch: no collisions -> exact
    wide = countmin_table(df, F.col("v"), width=4096, depth=4)
    est_w = {
        r["probe"]: r["cm_estimate"]
        for r in countmin_estimates(
            wide, probes, "token", width=4096, depth=4
        ).collect()
    }
    assert est_w == dict(truth)


def test_countmin_shard_merge_is_cell_addition(spark):
    from operator_zoo.functions.sketches import countmin_table

    a = _ids(spark, 300)
    b = _ids(spark, 500)

    def cells(df):
        return {
            (r["row"], r["bucket"]): r["cnt"]
            for r in countmin_table(df, F.col("v"), width=16, depth=3).collect()
        }

    ca, cb, cu = cells(a), cells(b), cells(a.unionAll(b))
    merged = {
        k: ca.get(k, 0) + cb.get(k, 0) for k in set(ca) | set(cb)
    }
    assert cu == merged


def test_countmin_rejects_bad_params(spark):
    from operator_zoo.functions.sketches import countmin_table

    with pytest.raises(ValueError):
        countmin_table(_ids(spark, 10), F.col("v"), width=0)


# --------------------------------------------------------------- KMV

def _kmv_rows(df, k=64):
    from operator_zoo.functions.sketches import kmv_sketch

    return [
        (r["rank"], r["kmv_hash"])
        for r in kmv_sketch(df, F.col("v"), k=k).collect()
    ]


@pytest.mark.parametrize("n", [200, 2000])
def test_kmv_estimate_within_expected_error(spark, n):
    from operator_zoo.functions.sketches import (
        kmv_estimate_row,
        kmv_sketch,
    )

    # k=64 -> relative error ~1/sqrt(62) = 13%; allow 3 sigma
    sk = kmv_sketch(_ids(spark, n), F.col("v"), k=64)
    row = kmv_estimate_row(sk, k=64).collect()[0]
    assert row["n_kept"] == 64
    assert abs(row["estimate"] - n) / n < 0.40, row


def test_kmv_exact_below_k(spark):
    from operator_zoo.functions.sketches import (
        kmv_estimate_row,
        kmv_sketch,
    )

    sk = kmv_sketch(_ids(spark, 40), F.col("v"), k=64)
    row = kmv_estimate_row(sk, k=64).collect()[0]
    assert row["n_kept"] == 40 and row["estimate"] == 40.0


def test_kmv_union_merge_lossless(spark):
    # bottom-k over the union of two shard sketches == sketch of the
    # concatenated input (the distributed-merge property)
    from operator_zoo.functions.sketches import kmv_sketch

    a, b = _ids(spark, 300), _ids(spark, 500)  # overlapping prefixes
    sa = kmv_sketch(a, F.col("v"), k=64).select("kmv_hash")
    sb = kmv_sketch(b, F.col("v"), k=64).select("kmv_hash")
    merged = sorted(
        {r["kmv_hash"] for r in sa.unionAll(sb).collect()}
    )[:64]
    direct = [h for _, h in _kmv_rows(a.unionAll(b), k=64)]
    assert merged == direct


def test_kmv_partitioning_independent_and_duplicates_ignored(spark):
    df = _ids(spark, 400)
    dup = df.unionAll(df).repartition(13)
    assert _kmv_rows(df, k=32) == _kmv_rows(dup, k=32)


def test_kmv_rejects_bad_k(spark):
    from operator_zoo.functions.sketches import kmv_sketch

    with pytest.raises(ValueError):
        kmv_sketch(_ids(spark, 10), F.col("v"), k=0)


# --------------------------------------------------------------------------
# bloom_prefilter_join: identical result to the plain join; the
# pre-filter really sheds non-matching fact rows before the join
# --------------------------------------------------------------------------

def test_bloom_prefilter_join_equals_plain_join(spark):
    from operator_zoo.functions.relational import (
        bloom_prefilter_join,
    )

    fact = spark.createDataFrame(
        [(i % 50, i) for i in range(400)], ["key", "payload"]
    )
    dim = spark.createDataFrame(
        [(k, f"d{k}") for k in range(0, 50, 7)], ["key", "attr"]
    )
    got = sorted(
        tuple(r)
        for r in bloom_prefilter_join(fact, dim, "key").collect()
    )
    want = sorted(tuple(r) for r in fact.join(dim, "key").collect())
    assert got == want and got  # non-vacuous


def test_bloom_prefilter_sheds_rows_before_join(spark):
    from operator_zoo.functions.hashing import h60
    from operator_zoo.functions.sketches import bloom_words
    from pyspark.sql import functions as F

    n_bits, k = 4032, 3
    fact = spark.createDataFrame([(i,) for i in range(2000)], ["key"])
    dim = spark.createDataFrame([(i,) for i in range(0, 2000, 100)], ["key"])
    words = bloom_words(dim, F.col("key"), n_bits=n_bits, k=k, salt="bloomjoin")
    sparse = {int(r["word_idx"]): int(r["word"]) for r in words.collect()}
    dense = [sparse.get(i, 0) for i in range(n_bits // 63)]
    arr = spark.createDataFrame([(dense,)], "_bloom_arr: array<bigint>")
    pre = fact.crossJoin(F.broadcast(arr))
    cond = None
    for i in range(k):
        pre = pre.withColumn(
            f"_bpos{i}", F.pmod(h60(F.col("key"), f"bloomjoin{i}"), F.lit(n_bits))
        )
        t = F.expr(
            f"(element_at(_bloom_arr, cast(_bpos{i} div 63 as int) + 1)"
            f" & shiftleft(1L, cast(_bpos{i} % 63 as int))) != 0"
        )
        cond = t if cond is None else cond & t
    survivors = pre.where(cond).count()
    # 20 true keys of 2000; the pre-filter must remove the bulk of the
    # 1980 non-matching rows (fpp at 4032 bits / 20 keys is tiny)
    assert survivors < 100 and survivors >= 20


def test_bloom_prefilter_join_semi_and_validation(spark):
    from operator_zoo.functions.relational import (
        bloom_prefilter_join,
    )

    fact = spark.createDataFrame([(i, i) for i in range(40)], ["key", "p"])
    dim = spark.createDataFrame([(i, 0) for i in range(0, 40, 5)], ["key", "a"])
    semi = bloom_prefilter_join(fact, dim, "key", how="left_semi")
    assert sorted(r["key"] for r in semi.collect()) == list(range(0, 40, 5))
    import pytest as _pytest

    with _pytest.raises(ValueError):
        bloom_prefilter_join(fact, dim, "key", how="left")


def test_hll_grouped_registers_merge_to_global(spark):
    from pyspark.sql import functions as F

    from operator_zoo.functions.sketches import (
        hll_registers,
        hll_registers_grouped,
    )

    rows = [(f"g{i % 3}", f"item-{i % 40}") for i in range(200)]
    df = spark.createDataFrame(rows, ["grp", "val"])
    grouped = hll_registers_grouped(df, "grp", F.col("val"), p=4)
    merged = {
        (r["bucket"], r["register"])
        for r in grouped.groupBy("bucket")
        .agg(F.max("register").cast("long").alias("register"))
        .collect()
    }
    direct = {
        (r["bucket"], r["register"])
        for r in hll_registers(df, F.col("val"), p=4).collect()
    }
    assert merged == direct and merged
    import pytest as _pytest

    with _pytest.raises(ValueError):
        hll_registers_grouped(df, "grp", F.col("val"), p=1)


def test_kmv_estimate_rejects_smaller_k_than_build(spark):
    # a sketch built with k=64 passes the old n_kept < k check when
    # estimated with k=32 and silently uses the wrong order statistic;
    # the in-plan cross-check must raise instead
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    from operator_zoo.functions.sketches import (
        kmv_estimate_row,
        kmv_sketch,
    )

    df = spark.createDataFrame([(f"v{i}",) for i in range(500)], ["x"])
    sk = kmv_sketch(df, "x", k=64)
    with pytest.raises((SparkRuntimeException, Py4JJavaError)):
        kmv_estimate_row(sk, k=32).collect()


def _qsk_model(rows, k, percents):
    """Sequential model of quantile_sketch + quantile_estimate."""
    import hashlib

    def h(v):
        return int(hashlib.md5(f"qsketch:{v}".encode()).hexdigest()[:15], 16)

    by_g = {}
    for g, key, val in rows:
        by_g.setdefault(g, []).append((h(key), val))
    out = {}
    for g, items in by_g.items():
        sample = sorted(items)[:k]
        vals = sorted((v, kh) for kh, v in sample)
        n = len(vals)
        res = {"n_sample": n}
        for p in percents:
            res[f"p{p}"] = vals[(p * n + 99) // 100 - 1][0]
        out[g] = res
    return out


def test_quantile_sketch_matches_sequential_model(spark):
    from operator_zoo.functions.sketches import (
        quantile_estimate,
        quantile_sketch,
    )

    rows = [
        ("a", i, (i * 37) % 1000) for i in range(500)
    ] + [("b", 10_000 + i, i) for i in range(40)]  # group smaller than k
    df = spark.createDataFrame(rows, "g string, key long, val long")
    sk = quantile_sketch(df, "key", "val", group_cols=["g"], k=64)
    got = {
        r["g"]: {c: r[c] for c in ("n_sample", "p50", "p90", "p99")}
        for r in quantile_estimate(
            sk, group_cols=["g"], percents=(50, 90, 99)
        ).collect()
    }
    want = _qsk_model(rows, 64, (50, 90, 99))
    assert got == want
    assert got["b"]["n_sample"] == 40  # under-k group is the exact set
    assert got["b"]["p99"] == 39  # exact max of 0..39


def test_quantile_sketch_union_merge_lossless(spark):
    """Bottom-k property: re-sketching the union of two shard sketches
    equals the sketch of the concatenated input."""
    from operator_zoo.functions.sketches import quantile_sketch

    rows1 = [("g", i, i * 3) for i in range(0, 300, 2)]
    rows2 = [("g", i, i * 3) for i in range(1, 300, 2)]
    schema = "g string, key long, val long"
    d1 = spark.createDataFrame(rows1, schema)
    d2 = spark.createDataFrame(rows2, schema)
    whole = quantile_sketch(
        d1.unionAll(d2), "key", "val", group_cols=["g"], k=32
    )
    sh1 = quantile_sketch(d1, "key", "val", group_cols=["g"], k=32)
    sh2 = quantile_sketch(d2, "key", "val", group_cols=["g"], k=32)
    # merge = bottom-k by hash over the union of shard sketch ROWS
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    u = sh1.unionAll(sh2).select("g", "key_hash", "value")
    w = Window.partitionBy("g").orderBy("key_hash", "value")
    merged = (
        u.withColumn("kmv_rank", F.row_number().over(w).cast("long"))
        .where(F.col("kmv_rank") <= 32)
        .select("g", "kmv_rank", "key_hash", "value")
    )
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, whole.select("g", "kmv_rank", "key_hash", "value").collect())
    )


def test_quantile_sketch_global_and_validation(spark):
    from operator_zoo.functions.sketches import (
        quantile_estimate,
        quantile_sketch,
    )

    df = spark.createDataFrame(
        [(i, i) for i in range(200)], "key long, val long"
    )
    sk = quantile_sketch(df, "key", "val", k=16)
    row = quantile_estimate(sk, percents=(50,)).collect()[0]
    assert row["n_sample"] == 16 and 0 <= row["p50"] < 200
    with pytest.raises(ValueError):
        quantile_sketch(df, "key", "val", k=0)
    with pytest.raises(ValueError):
        quantile_estimate(sk, percents=())
    with pytest.raises(ValueError):
        quantile_estimate(sk, percents=(0,))


def _kmv_model_hashes(values, salt="kmv"):
    import hashlib

    return sorted(
        int(hashlib.md5(f"{salt}:{v}".encode()).hexdigest()[:15], 16)
        for v in set(values)
    )


def test_kmv_intersection_estimate_and_exact_path(spark):
    from operator_zoo.functions.sketches import (
        kmv_intersection_row,
        kmv_sketch,
    )

    # |A|=3000, |B|=3000, |A∩B|=1000 -> jaccard 0.2, union 5000
    a = spark.createDataFrame([(f"v{i}",) for i in range(3000)], ["x"])
    b = spark.createDataFrame([(f"v{i}",) for i in range(2000, 5000)], ["x"])
    k = 256
    row = kmv_intersection_row(
        kmv_sketch(a, "x", k=k), kmv_sketch(b, "x", k=k), k=k
    ).collect()[0]
    assert row["n_union_kept"] == k
    # KMV error ~ 1/sqrt(k) ~ 6%; allow 4 sigma
    assert abs(row["union_est"] - 5000) / 5000 < 0.25
    assert abs(row["intersection_est"] - 1000) / 1000 < 0.45
    assert abs(row["jaccard_est"] - 0.2) < 0.09

    # below-k union: counts are exact
    sa = spark.createDataFrame([("a",), ("b",), ("c",)], ["x"])
    sb = spark.createDataFrame([("b",), ("c",), ("d",)], ["x"])
    r2 = kmv_intersection_row(
        kmv_sketch(sa, "x", k=k), kmv_sketch(sb, "x", k=k), k=k
    ).collect()[0]
    assert r2["n_union_kept"] == 4 and r2["n_both"] == 2
    assert r2["union_est"] == 4.0 and r2["intersection_est"] == 2.0

    # bottom-k property: combining LARGER (k'=512) sketches at k=256
    # equals building at 256 directly — lossless downsize
    down = kmv_intersection_row(
        kmv_sketch(a, "x", k=512), kmv_sketch(b, "x", k=512), k=256
    ).collect()[0]
    assert tuple(down) == tuple(row)
