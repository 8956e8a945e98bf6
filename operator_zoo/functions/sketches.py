"""Distributed cardinality/membership sketches, cross-engine exact.

Spark's own ``approx_count_distinct`` (HLL++) and
``spark.sql.optimizer.runtime.bloomFilter`` are black boxes whose
internal hashing can't be reproduced in an oracle. These
implementations build the SAME sketches from the portable 60-bit md5
hash (functions/hashing.py), so every register/word is an integer a
DuckDB oracle reproduces bit-for-bit — the sketch itself is the
verified artifact, not just its estimate.

Scale shape: both sketches are one hash-aggregate (map-side partial →
m-row final), the canonical distributed-sketch plan; register/word
tables are driver metadata (m ≤ 1024 longs) that broadcast for reuse
(membership pruning, union across shards by taking max/bit_or again).

No reference counterpart (the reference's only "sketch" is the exact
number multiset, ``validation.py:164-180``); part of the
training-data-pipeline family (dedup/join pruning at 10^12 rows).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from operator_zoo.functions.hashing import h60

#: remainder field width after the bucket prefix (60-bit hash)
_HASH_BITS = 60
#: exponent cap for the exact-integer harmonic sum: terms are
#: 2^(RANK_CAP - rank); with m ≤ 2^10 buckets the sum stays < 2^63.
RANK_CAP = 50


def hll_registers(
    df: DataFrame, col: str | Column, *, p: int = 6, salt: str = "hll"
) -> DataFrame:
    """HyperLogLog register table over a column: ``m = 2^p`` buckets,
    register = max over the bucket of (1 + leading zeros of the
    remainder field).

    Leading zeros come from string length of the binary expansion —
    ``bin()`` drops leading zeros in both engines, so
    ``lz = field_bits - length(bin(v))`` with no float log2 edge
    cases. Returns ``(bucket, register)`` for NON-EMPTY buckets only
    (empty buckets are register 0 by definition; estimators add them
    back arithmetically).
    """
    if not 2 <= p <= 10:
        raise ValueError("p must be in [2, 10]")
    rem_bits = _HASH_BITS - p
    h = h60(col, salt)
    bucket = F.shiftright(h, rem_bits)
    rem = h.bitwiseAND(F.lit((1 << rem_bits) - 1))
    rank = F.when(rem == 0, F.lit(rem_bits + 1)).otherwise(
        rem_bits - F.length(F.bin(rem)) + 1
    )
    return (
        df.select(bucket.alias("bucket"), rank.alias("rank"))
        .groupBy("bucket")
        .agg(F.max("rank").cast("long").alias("register"))
    )


def hll_estimate_row(
    df: DataFrame, col: str | Column, *, p: int = 6, salt: str = "hll"
) -> DataFrame:
    """One-row HLL cardinality estimate with its evidence: the exact
    integer harmonic sum ``S = Σ 2^(RANK_CAP − min(register, RANK_CAP))``
    over all ``m`` buckets (empty buckets contribute ``2^RANK_CAP``),
    the non-zero register count, and the raw/linear-counting estimates.

    All inputs to the float math are integers identical across
    engines, so the doubles are identical too. ``alpha_m · m² / Σ2^-M``
    with the standard small-range linear-counting switch (Flajolet et
    al. 2007).
    """
    m = 1 << p
    alpha = {4: 0.673, 5: 0.697, 6: 0.709}.get(p, 0.7213 / (1 + 1.079 / m))
    regs = hll_registers(df, col, p=p, salt=salt)
    agg = regs.agg(
        F.count("*").cast("long").alias("nonzero_buckets"),
        F.sum(
            # dynamic shift amount needs the SQL form (the Python
            # shiftleft wrapper only takes a literal int)
            F.expr(
                f"shiftleft(1L, cast({RANK_CAP} - least(register, {RANK_CAP}) as int))"
            )
        ).cast("long").alias("s_nonzero"),
    )
    # add empty buckets: each contributes 2^RANK_CAP to the harmonic sum
    s_total = (
        F.col("s_nonzero")
        + (F.lit(m) - F.col("nonzero_buckets")) * F.lit(1 << RANK_CAP)
    )
    # one precomputed double constant (alpha·m²·2^RANK_CAP): scaling by
    # a power of two is exact, and a single literal keeps the oracle's
    # arithmetic bit-identical (DuckDB would otherwise parse the
    # factors as DECIMALs and overflow)
    raw = F.lit(alpha * m * m * float(1 << RANK_CAP)) / s_total.cast("double")
    zeros = F.lit(m) - F.col("nonzero_buckets")
    linear = F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double"))
    est = F.when((raw <= 2.5 * m) & (zeros > 0), linear).otherwise(raw)
    return agg.select(
        F.lit(m).alias("m"),
        "nonzero_buckets",
        s_total.cast("long").alias("harmonic_sum_e"),
        F.round(est, 6).alias("estimate"),
    )


def bloom_words(
    df: DataFrame,
    col: str | Column,
    *,
    n_bits: int = 1008,
    k: int = 3,
    salt: str = "bloom",
) -> DataFrame:
    """Distributed Bloom-filter construction: ``k`` independent salted
    hashes set ``k`` bit positions per element; the bitmap is built as
    63-bit words via ``bit_or`` aggregation (map-side partial combine,
    one shuffle of ≤ words rows). Returns ``(word_idx, word)`` for
    non-zero words — with popcounts this is the whole filter, and a
    broadcast of it prunes a 10^12-row join the way Spark's runtime
    bloom filter does, but reproducibly.

    63 bits per word keep every value a non-negative int64 in both
    engines (DuckDB's ``<<`` on BIGINT would overflow at bit 63).
    """
    if n_bits % 63 != 0:
        raise ValueError("n_bits must be a multiple of 63")
    if k <= 0:
        raise ValueError("k must be positive")
    pos_cols = []
    for i in range(k):
        pos_cols.append(F.pmod(h60(col, f"{salt}{i}"), F.lit(n_bits)))
    sel = df.select(F.explode(F.array(*pos_cols)).alias("pos"))
    word_idx = F.expr("pos div 63")
    bit = F.expr("shiftleft(1L, cast(pos % 63 as int))")
    return (
        sel.select(word_idx.alias("word_idx"), bit.alias("bit"))
        .groupBy("word_idx")
        .agg(F.bit_or("bit").alias("word"))
    )


def countmin_table(
    df: DataFrame,
    col: str | Column,
    *,
    width: int = 256,
    depth: int = 4,
    salt: str = "cm",
) -> DataFrame:
    """Count-min sketch construction: ``depth`` independent salted
    hashes each map an element to one of ``width`` buckets; the sketch
    is the per-(row, bucket) occurrence count. Same plan shape as the
    Bloom filter — one explode of ``depth`` positions, one
    hash-aggregate with map-side partial combine, ≤ ``depth·width``
    rows of driver-broadcastable metadata out.

    Counts are exact integers built from the portable 60-bit md5 hash,
    so a DuckDB oracle reproduces every cell bit-for-bit. Sketches
    from disjoint shards merge by adding cells (sum groupBy again) —
    the property that makes count-min the standard frequency sketch
    for a 10^12-row corpus where exact per-token counts don't fit.
    """
    if width <= 0 or depth <= 0:
        raise ValueError("width and depth must be positive")
    pos = [
        F.struct(
            F.lit(i).cast("int").alias("row"),
            F.pmod(h60(col, f"{salt}{i}"), F.lit(width)).alias("bucket"),
        )
        for i in range(depth)
    ]
    return (
        df.select(F.explode(F.array(*pos)).alias("p"))
        .select(F.col("p.row").alias("row"), F.col("p.bucket").alias("bucket"))
        .groupBy("row", "bucket")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def countmin_estimates(
    sketch: DataFrame,
    probes: DataFrame,
    col: str | Column = "token",
    *,
    width: int = 256,
    depth: int = 4,
    salt: str = "cm",
) -> DataFrame:
    """Point-query the sketch for each probe value: the estimate is
    ``min`` over the ``depth`` rows of the bucket counts the probe
    hashes to (missing cells read 0). The sketch side is tiny
    (≤ depth·width rows) and broadcasts; probes never shuffle. The
    count-min guarantee: estimate ≥ true count, with overestimates
    bounded by collisions — the (probe, estimate) pairs are integers a
    SQL oracle replays exactly.
    """
    c = F.col(col) if isinstance(col, str) else col
    pos = [
        F.struct(
            F.lit(i).cast("int").alias("row"),
            F.pmod(h60(c, f"{salt}{i}"), F.lit(width)).alias("bucket"),
        )
        for i in range(depth)
    ]
    exploded = probes.select(
        c.alias("probe"), F.explode(F.array(*pos)).alias("p")
    ).select(
        "probe", F.col("p.row").alias("row"), F.col("p.bucket").alias("bucket")
    )
    return (
        exploded.join(F.broadcast(sketch), ["row", "bucket"], "left")
        .groupBy("probe")
        .agg(
            F.min(F.coalesce(F.col("cnt"), F.lit(0)))
            .cast("long")
            .alias("cm_estimate")
        )
    )


def kmv_sketch(
    df: DataFrame, col: str | Column, *, k: int = 128, salt: str = "kmv"
) -> DataFrame:
    """KMV (k-minimum-values / bottom-k) distinct sketch: the ``k``
    smallest DISTINCT portable hashes of the column. Returns
    ``(rank, kmv_hash)`` with rank 1..k ascending.

    Plan shape: distinct is a hash-aggregate with map-side partial
    combine; the bottom-k compiles to ``TakeOrderedAndProject``
    (per-partition heap + k-row driver merge — never a global sort).
    The window that assigns ranks runs AFTER the limit, over k rows of
    driver-scale metadata. Shard sketches union-merge losslessly:
    bottom-k of the concatenated sketch rows equals the sketch of the
    concatenated inputs (each shard retains every hash that could make
    the global bottom-k) — the property that makes KMV the
    distributed-distinct sketch that also supports set INTERSECTION
    estimates, which HLL cannot.
    """
    if k <= 0:
        raise ValueError("k must be positive")
    from pyspark.sql.window import Window

    hashes = (
        df.select(h60(col, salt).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(k)
    )
    w = Window.orderBy("h")  # k rows only — post-limit metadata
    return hashes.select(
        F.row_number().over(w).cast("long").alias("rank"),
        F.col("h").alias("kmv_hash"),
    )


def kmv_estimate_row(
    sketch: DataFrame, *, k: int = 128, salt: str = "kmv"
) -> DataFrame:
    """One-row cardinality estimate from a KMV sketch: with the k-th
    smallest of ``n`` uniform hashes in ``[0, 2^60)`` sitting at
    ``≈ k/(n+1) · 2^60``, the unbiased estimator is
    ``(k − 1) · 2^60 / h_(k)``. Both inputs are integers identical
    across engines, so the one double division is identical too. If
    the input had fewer than ``k`` distinct values the sketch IS the
    distinct set and the exact count is returned instead.

    The sketch rows don't carry the ``k`` they were built with, so a
    mismatched ``k`` is cross-checked in-plan: a sketch holding MORE
    than ``k`` rows was necessarily built with a larger k (ranks run
    1..k_built), and estimating with the smaller k would silently use
    the wrong order statistic — it raises instead.
    """
    agg = sketch.agg(
        F.count("*").cast("long").alias("n_kept"),
        F.max("kmv_hash").alias("kth_hash"),
    )
    est = F.when(
        F.col("n_kept") > k,
        F.raise_error(
            F.concat(
                F.lit(
                    f"kmv_estimate_row: sketch holds more rows than k={k} "
                    "— it was built with a larger k; pass the build-time "
                    "k (rows kept: "
                ),
                F.col("n_kept").cast("string"),
                F.lit(")"),
            )
        ).cast("double"),
    ).when(
        F.col("n_kept") < k, F.col("n_kept").cast("double")
    ).otherwise(
        F.lit(float((k - 1) * (1 << _HASH_BITS)))
        / F.col("kth_hash").cast("double")
    )
    return agg.select(
        F.lit(k).cast("long").alias("k"),
        "n_kept",
        "kth_hash",
        F.round(est, 6).alias("estimate"),
    )


def hll_registers_grouped(
    df: DataFrame,
    group_col: str,
    col: str | Column,
    *,
    p: int = 6,
    salt: str = "hll",
) -> DataFrame:
    """Per-group HLL register tables in ONE aggregate:
    ``(group, bucket, register)`` for non-empty buckets. The grouped
    sketches union-merge by elementwise register max — so a rollup
    (per-language -> corpus) never rescans the data, the property that
    makes HLL the distributed-cube cardinality structure. Shuffle
    carries at most ``groups x m`` register rows."""
    if not 2 <= p <= 10:
        raise ValueError("p must be in [2, 10]")
    rem_bits = _HASH_BITS - p
    h = h60(col, salt)
    bucket = F.shiftright(h, rem_bits)
    rem = h.bitwiseAND(F.lit((1 << rem_bits) - 1))
    rank = F.when(rem == 0, F.lit(rem_bits + 1)).otherwise(
        rem_bits - F.length(F.bin(rem)) + 1
    )
    return (
        df.select(
            F.col(group_col).alias("grp"),
            bucket.alias("bucket"),
            rank.alias("rank"),
        )
        .groupBy("grp", "bucket")
        .agg(F.max("rank").cast("long").alias("register"))
    )


def quantile_sketch(
    df,
    key_col: str,
    value_col: str,
    *,
    group_cols: Sequence[str] = (),
    k: int = 128,
    salt: str = "qsketch",
):
    """Mergeable per-group QUANTILE sketch: the rows whose salted
    60-bit key hash is among the ``k`` smallest in the group, carrying
    their values — a deterministic uniform sample (hash order is
    independent of the value distribution AND of row/partition order,
    unlike ``TABLESAMPLE``/``rand()``), replayable bit-for-bit in the
    DuckDB oracle.

    Completes the sketch family (HLL/Bloom/count-min/KMV cover
    cardinality, membership, frequency, and distinct-intersection;
    none answers "what is p99 of this column at 10^12 rows"). Exact
    per-group percentiles need a full sort per group; this sketch is
    bounded state (``k`` rows per group), and union-merge is lossless
    by the bottom-k property: the k smallest hashes of a union are a
    subset of the union of each shard's k smallest, so shard sketches
    re-sketch to exactly the whole-input sketch (pytest-pinned).

    Plan shape: one map-only hash projection + the exact two-phase
    salted per-group bottom-k (``relational.topk_per_group`` — a hot
    group never funnels one reducer). Returns
    ``(*group_cols, kmv_rank, key_hash, value)`` with kmv_rank 1..k in
    hash order.
    """
    if k <= 0:
        raise ValueError("k must be positive")
    from operator_zoo.functions.relational import topk_per_group

    gcols = list(group_cols) or ["_g"]
    base = df.select(
        *(
            [F.col(c) for c in group_cols]
            if group_cols
            else [F.lit(0).alias("_g")]
        ),
        h60(key_col, salt).alias("key_hash"),
        F.col(value_col).cast("long").alias("value"),
    )
    sk = topk_per_group(
        base,
        group_cols=gcols,
        order_col="key_hash",
        k=k,
        descending=False,
        tiebreak_col="value",
        rank_col="kmv_rank",
    )
    out_cols = (list(group_cols) if group_cols else []) + [
        F.col("kmv_rank").cast("long").alias("kmv_rank"),
        "key_hash",
        "value",
    ]
    return sk.select(*out_cols)


def quantile_estimate(
    sketch,
    *,
    group_cols: Sequence[str] = (),
    percents: Sequence[int] = (50, 90, 99),
):
    """Rank-based percentile estimates over a :func:`quantile_sketch`
    (or any sampled ``value`` relation): for each percent ``p`` the
    value at rank ``ceil(p*n/100)`` of the group's sample ordered by
    ``(value, key_hash)`` — percentile_disc semantics with a
    deterministic tie order, so the integers are identical in the
    DuckDB replay (no interpolation, no floats).

    The window runs over sketch rows only (<= k per group — metadata
    scale by construction); output is one row per group with a
    ``p{p}`` column per requested percent plus ``n_sample``.
    """
    if not percents:
        raise ValueError("percents must be non-empty")
    for p in percents:
        if not 1 <= p <= 100:
            raise ValueError("percents must be in [1, 100]")
    from pyspark.sql.window import Window

    gcols = list(group_cols)
    w = (
        Window.partitionBy(*gcols).orderBy("value", "key_hash")
        if gcols
        else Window.partitionBy(F.lit(0)).orderBy("value", "key_hash")
    )
    ranked = sketch.withColumn("_vr", F.row_number().over(w)).withColumn(
        "_n", F.count("*").over(w.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        ))
    )
    aggs = [F.max("_n").cast("long").alias("n_sample")] + [
        F.max(
            F.when(
                F.col("_vr") == F.expr(f"({p} * _n + 99) div 100"),
                F.col("value"),
            )
        ).alias(f"p{p}")
        for p in percents
    ]
    if gcols:
        return ranked.groupBy(*gcols).agg(*aggs)
    return ranked.groupBy().agg(*aggs)


def kmv_intersection_row(
    sketch_a: DataFrame, sketch_b: DataFrame, *, k: int = 128
) -> DataFrame:
    """Set-INTERSECTION (and Jaccard) estimate from two KMV sketches —
    the capability HLL structurally lacks (Beyer et al., SIGMOD'07
    "On synopses for distinct-value estimation under multiset
    operations"). Combine step:

    - union sketch = the ``k`` smallest hashes of
      ``sketch_a ∪ sketch_b`` (lossless bottom-k merge);
    - ``n_both`` = how many union-sketch hashes appear in BOTH input
      sketches — each such hash is a uniform draw from A ∪ B that
      landed in A ∩ B, so ``ρ = n_both / |union sketch|`` estimates
      the Jaccard similarity directly;
    - ``|A ∩ B| ≈ ρ · |A ∪ B|`` with the union size from the standard
      KMV estimator on the union sketch's k-th hash.

    Everything up to the two final double divisions is integer-exact
    cross-engine. ``k`` must be <= each input's build-time k (and the
    salts must match): by the bottom-k property the k smallest of two
    k'-sketches (k <= k') are exactly the k smallest of the full
    union with correct membership flags, so combining LARGER sketches
    at a smaller k is lossless (pytest-pinned) — but a k larger than
    an input's build k would read hashes past that sketch's horizon,
    where membership flags are silently wrong, and is NOT detectable
    from the sketch rows (a short sketch is indistinguishable from an
    exactly-small set); callers own that contract. Plan: both
    sketches are <= k'-row metadata, so every stage here is
    driver-scale; the heavy lifting happened in the two sketch builds
    (one distinct-aggregate each).
    """
    if k <= 0:
        raise ValueError("k must be positive")
    from pyspark.sql.window import Window

    ha = sketch_a.select(F.col("kmv_hash").alias("h")).withColumn(
        "in_a", F.lit(1)
    )
    hb = sketch_b.select(F.col("kmv_hash").alias("h")).withColumn(
        "in_b", F.lit(1)
    )
    merged = ha.join(hb, "h", "full_outer").select(
        "h",
        F.coalesce("in_a", F.lit(0)).alias("in_a"),
        F.coalesce("in_b", F.lit(0)).alias("in_b"),
    )
    w = Window.orderBy("h")  # <= 2k rows — metadata scale
    union_sk = merged.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") <= k
    )
    agg = union_sk.agg(
        F.count("*").cast("long").alias("n_union_kept"),
        F.max("h").alias("union_kth"),
        F.sum(
            F.when(
                (F.col("in_a") == 1) & (F.col("in_b") == 1), F.lit(1)
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("n_both"),
    )
    est_union = F.when(
        F.col("n_union_kept") < k,
        # fewer than k distinct hashes total: the union sketch IS the
        # union, counts are exact
        F.col("n_union_kept").cast("double"),
    ).otherwise(
        F.lit(float((k - 1) * (1 << _HASH_BITS)))
        / F.col("union_kth").cast("double")
    )
    return agg.select(
        F.lit(k).cast("long").alias("k"),
        "n_union_kept",
        "n_both",
        F.round(
            F.col("n_both").cast("double")
            / F.col("n_union_kept").cast("double"),
            6,
        ).alias("jaccard_est"),
        F.round(est_union, 6).alias("union_est"),
        F.round(
            est_union
            * F.col("n_both").cast("double")
            / F.col("n_union_kept").cast("double"),
            6,
        ).alias("intersection_est"),
    )
