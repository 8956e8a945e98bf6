"""Corpus curation: token-budgeted sampling.

The canonical training-data curation move: rank documents by a quality
signal and keep the best until a token budget is spent. Implemented as
a per-shard (here per-language) running-sum window:

- ranking: (quality desc, doc_id asc) — a total, deterministic order
  (quality is the engine's rounded composite score, cross-engine
  exact);
- budget: cumulative token count *including the current document* must
  stay <= the shard budget, i.e. greedy prefix of the ranked shard.

The window partitions by the shard key, so the cumulative sum
parallelizes across shards — a single global budget would serialize
into one partition at 100 TB; shard budgets (per language / domain /
bucket) are how production curation actually allocates anyway.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from operator_zoo.functions.text import (
    quality_score_expr,
    token_count_expr,
)


def budget_sample(
    docs: DataFrame,
    budget_tokens: int,
    shard_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Greedy quality-ranked prefix per shard under a token budget.

    Returns ``(doc_id, shard, quality, n_tokens, cum_tokens)`` for the
    kept documents.
    """
    scored = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(shard_col).alias("shard"),
        quality_score_expr(text_col).alias("quality"),
        token_count_expr(text_col).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col("quality").desc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        scored.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= budget_tokens)
        .select("doc_id", "shard", "quality", "n_tokens", "cum_tokens")
    )


def budget_sample_composite(
    docs: DataFrame,
    budget_tokens: int,
    n_buckets: int,
    shard_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Composite-shard budget sampling: shard key = (shard, bucket)
    with ``bucket = doc_id mod n_buckets`` and per-bucket budget
    ``budget_tokens // n_buckets``.

    The plain per-language window serializes each language into one
    task — fine for 10 languages, a wall at 100 TB where one language
    holds most of the corpus. The composite key multiplies the
    parallelism by ``n_buckets`` (pick it ~ executor count); budgets
    are allocated proportionally per bucket, so the expected totals
    match the per-shard run whenever quality is bucket-independent
    (the id-hash bucketing makes it so by construction).
    """
    per_bucket = budget_tokens // n_buckets
    scored = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(shard_col).alias("shard"),
        F.pmod(F.col(id_col), F.lit(n_buckets)).cast("bigint").alias("bucket"),
        quality_score_expr(text_col).alias("quality"),
        token_count_expr(text_col).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard", "bucket")
        .orderBy(F.col("quality").desc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        scored.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= per_bucket)
        .select("doc_id", "shard", "bucket", "quality", "n_tokens", "cum_tokens")
    )


# ---------------------------------------------------------------------------
# deterministic hash sampling (training-data mixing)
# ---------------------------------------------------------------------------
#
# All three samplers below select on the portable 60-bit md5 hash
# (functions/hashing.py) compared against INTEGER thresholds/ranks —
# no floating point anywhere, so the keep-set is bit-identical across
# engines, re-runs, cluster sizes, and partitionings. That determinism
# is the property a training pipeline actually needs from sampling:
# the same corpus + config must yield the same mixture on every rerun,
# independent of task scheduling (rand()-based sampling breaks this).

def _h60_of(id_col: str, salt: str):
    from operator_zoo.functions.hashing import h60

    return h60(F.col(id_col).cast("string"), salt)


def hash_sample(
    docs: DataFrame,
    rates: dict[str, float],
    *,
    default_rate: float = 0.0,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "sample",
) -> DataFrame:
    """Stratified Bernoulli sample: keep a document iff
    ``h60(id) < floor(rate[stratum] * 2^60)`` — an exact integer
    threshold per stratum, so expected keep-fraction = rate with zero
    scheduling nondeterminism.

    Map-only (the per-stratum thresholds ship as a broadcast relation);
    returns ``(doc_id, stratum, h60)`` for the kept documents.
    """
    thr_rows = [
        (s, min(int(r * (1 << 60)), 1 << 60)) for s, r in sorted(rates.items())
    ]
    spark = docs.sparkSession
    thr = spark.createDataFrame(thr_rows, f"{stratum_col} string, __thr long")
    d = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(stratum_col),
        _h60_of(id_col, salt).alias("h60"),
    )
    default_thr = min(int(default_rate * (1 << 60)), 1 << 60)
    return (
        d.join(F.broadcast(thr), stratum_col, "left")
        .withColumn("__thr", F.coalesce("__thr", F.lit(default_thr)))
        .filter(F.col("h60") < F.col("__thr"))
        .select("doc_id", F.col(stratum_col).alias("stratum"), "h60")
    )


def quota_sample(
    docs: DataFrame,
    quotas: dict[str, int],
    *,
    default_quota: int = 0,
    stratum_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "quota",
) -> DataFrame:
    """Exact-count stratified sample: per stratum, the ``quota``
    documents with the smallest hash (tie-broken by id). Quota
    sampling pins the mixture counts exactly — the shape domain-weight
    recipes ("40% web, 30% code, ...") need, where Bernoulli only hits
    the mix in expectation.

    Ranking reuses the two-phase salted top-k
    (functions/relational.py), so one giant stratum never serializes
    into a single reducer; the per-stratum quota is applied to the
    global rank afterwards via a broadcast join.
    """
    from operator_zoo.functions.relational import topk_per_group

    k_max = max([default_quota, *quotas.values()], default=0)
    if k_max <= 0:
        raise ValueError("at least one positive quota is required")
    spark = docs.sparkSession
    q_rows = [(s, int(q)) for s, q in sorted(quotas.items())]
    qrel = spark.createDataFrame(q_rows, f"{stratum_col} string, __quota int")
    d = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(stratum_col),
        _h60_of(id_col, salt).alias("h60"),
    )
    ranked = topk_per_group(
        d,
        group_cols=[stratum_col],
        order_col="h60",
        k=k_max,
        descending=False,
        tiebreak_col="doc_id",
        rank_col="rk",
    )
    return (
        ranked.join(F.broadcast(qrel), stratum_col, "left")
        .withColumn("__quota", F.coalesce("__quota", F.lit(int(default_quota))))
        .filter(F.col("rk") <= F.col("__quota"))
        .select("doc_id", F.col(stratum_col).alias("stratum"), "h60", "rk")
    )


def shuffle_order(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    salt: str = "epoch0",
    n_buckets: int = 64,
) -> DataFrame:
    """Deterministic global training order: documents sorted by
    ``(h60(salt, id), id)``, with a contiguous 0-based ``global_idx``.
    Change ``salt`` per epoch for a fresh permutation.

    A bare ``row_number() OVER (ORDER BY h)`` is a single-task global
    sort. Instead the hash's high bits range-partition the rows into
    ``n_buckets`` uniform buckets (the hash IS the sort key, so bucket
    boundaries are exact, no sampling pass); each bucket sorts locally
    and the bucket-size prefix sums — ``n_buckets`` longs of driver
    metadata — offset the local ranks into the global index. Pick
    ``n_buckets`` ≈ cluster cores; 2^60 rows of headroom.
    """
    if n_buckets <= 0 or (n_buckets & (n_buckets - 1)) != 0:
        raise ValueError("n_buckets must be a positive power of two")
    shift = 60 - n_buckets.bit_length() + 1
    d = docs.select(
        F.col(id_col).alias("doc_id"),
        _h60_of(id_col, salt).alias("h60"),
    ).withColumn("__bucket", F.shiftright("h60", shift))
    sizes = {
        r["__bucket"]: r["n"]
        for r in d.groupBy("__bucket").agg(F.count("*").alias("n")).collect()
    }
    offsets, acc = [], 0
    for b in range(n_buckets):
        offsets.append((b, acc))
        acc += sizes.get(b, 0)
    spark = docs.sparkSession
    orel = spark.createDataFrame(offsets, "__bucket long, __offset long")
    w = Window.partitionBy("__bucket").orderBy("h60", "doc_id")
    return (
        d.join(F.broadcast(orel), "__bucket")
        .withColumn(
            "global_idx",
            (F.col("__offset") + F.row_number().over(w) - 1).cast("long"),
        )
        .select("doc_id", "h60", "global_idx")
    )


# ---------------------------------------------------------------------------
# chunking + sequence packing (training-sample assembly)
# ---------------------------------------------------------------------------

def chunk_documents(
    docs: DataFrame,
    *,
    chunk_chars: int = 800,
    overlap: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split each document into overlapping fixed-width character
    windows (stride = ``chunk_chars - overlap``), the standard
    RAG/embedding chunker. Pure JVM expressions: chunk count by
    integer ceil-division, one ``explode(sequence(...))``, one
    ``substring`` — no UDF, no shuffle (the explode is narrow).

    Returns ``(doc_id, chunk_id, chunk_len, chunk_h60)`` — the chunk
    text itself stays out of the result (length + portable 60-bit md5
    identify it exactly for cross-engine verification; callers wanting
    the text select the same ``substring`` expression).
    """
    if overlap < 0 or chunk_chars <= overlap:
        raise ValueError("need 0 <= overlap < chunk_chars")
    from operator_zoo.functions.hashing import h60

    step = chunk_chars - overlap
    length = F.length(F.col(text_col))
    # ceil((len - overlap) / step) in exact integer math, min 1
    n_chunks = F.greatest(
        F.lit(1),
        F.expr(
            f"(length({text_col}) - {overlap} + {step} - 1) div {step}"
        ),
    )
    chunk_text = F.substring(
        F.col(text_col), F.col("chunk_id") * step + 1, chunk_chars
    )
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.col(text_col),
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.length(chunk_text).alias("chunk_len"),
            h60(chunk_text, "chunk").alias("chunk_h60"),
        )
    )


def pack_sequences(
    docs: DataFrame,
    *,
    ctx_tokens: int = 2048,
    n_shards: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """GPT-style sequence packing: within each shard, documents are
    concatenated in deterministic order (doc_id) and cut into
    ``ctx_tokens``-token context windows; each document records the
    token range it occupies and the first/last bin it lands in
    (documents straddle bin boundaries — that is the point of packing:
    zero padding waste).

    One running-sum window per shard (``bucket = pmod(doc_id,
    n_shards)``), so the packing parallelizes across shards exactly
    like the budget sampler; n_shards ≈ cluster cores at scale. All
    arithmetic is integer-exact.
    """
    if ctx_tokens <= 0:
        raise ValueError("ctx_tokens must be positive")
    if n_shards <= 0:
        raise ValueError("n_shards must be positive")
    from operator_zoo.functions.text import token_count_expr

    d = docs.select(
        F.col(id_col).alias("doc_id"),
        F.pmod(F.col(id_col), F.lit(n_shards)).cast("bigint").alias("shard"),
        token_count_expr(text_col).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.withColumn("end_tok", F.sum("n_tokens").over(w))
        .withColumn("start_tok", F.col("end_tok") - F.col("n_tokens"))
        .withColumn(
            "first_bin", F.expr(f"start_tok div {ctx_tokens}").cast("bigint")
        )
        .withColumn(
            "last_bin",
            # empty docs occupy no tokens: pin last_bin to first_bin
            # ((end_tok - 1) div ctx would hit the -1 case, where Spark
            # div truncates toward zero but floor-division floors)
            F.when(
                F.col("n_tokens") > 0,
                F.expr(f"(end_tok - 1) div {ctx_tokens}"),
            )
            .otherwise(F.col("first_bin"))
            .cast("bigint"),
        )
        .select(
            "doc_id", "shard", "n_tokens", "start_tok", "first_bin", "last_bin"
        )
    )


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    salt: str = "decon",
) -> DataFrame:
    """Benchmark decontamination (the GPT-3 appendix-C move): flag
    every training document that shares at least one word ``n``-gram
    with the benchmark/eval corpus, so eval answers are not trained on.

    Grams travel as portable 60-bit md5 hashes (collision probability
    ~q²/2^61 — and the oracle hashes identically, so parity is exact
    either way). The benchmark side is distinct gram hashes only: eval
    sets are tiny relative to a 10^12-doc corpus, so the set broadcasts
    and the check is a map-side hash probe per training gram — no
    shuffle of the corpus. Per-doc gram sets are deduplicated before
    counting, so ``n_contaminated`` counts *distinct* shared grams.

    Returns ``(doc_id, n_grams, n_contaminated, contaminated)`` for
    every training document (docs shorter than ``n`` words have 0
    grams and are clean by definition).
    """
    from operator_zoo.functions.dedup import _tokens
    from operator_zoo.functions.hashing import h60

    if n < 1:
        raise ValueError("n must be >= 1")
    t_grams = (
        _tokens(train, id_col, text_col, shingle=n)
        .select("doc_id", h60("token", salt).alias("gh"))
        .distinct()
    )
    b_grams = (
        _tokens(benchmark, id_col, text_col, shingle=n)
        .select(h60("token", salt).alias("gh"))
        .distinct()
    )
    per_doc = t_grams.join(F.broadcast(b_grams), "gh", "left_semi")
    hits = per_doc.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_contaminated")
    )
    totals = t_grams.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_grams")
    )
    return (
        train.select(F.col(id_col).alias("doc_id"))
        .join(totals, "doc_id", "left")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
            (F.coalesce("n_contaminated", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def assign_splits(
    docs: DataFrame,
    weights: list[tuple[str, float]] | None = None,
    *,
    id_col: str = "doc_id",
    salt: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: the document's portable
    60-bit hash falls into one of the cumulative-weight intervals
    ``[floor(cum_i * 2^60), floor(cum_{i+1} * 2^60))``. Integer
    thresholds -> the split of every document is bit-identical across
    engines, reruns, partitionings, and cluster sizes — the property a
    training pipeline needs so no document ever migrates between train
    and eval when the corpus is re-sharded or appended to.

    ``weights`` is an ORDERED list of ``(name, weight)`` (weights
    normalized over their sum; order defines the intervals, so keep it
    stable across runs). Map-only: one hash + a chain of threshold
    comparisons, no shuffle, no join.
    """
    if weights is None:
        weights = [("train", 0.9), ("val", 0.05), ("test", 0.05)]
    if not weights or any(w <= 0 for _, w in weights):
        raise ValueError("weights must be positive")
    total = float(sum(w for _, w in weights))
    h = _h60_of(id_col, salt)
    expr = None
    cum = 0.0
    # last interval takes everything remaining: no hash is unassigned
    for name, w in weights[:-1]:
        cum += w / total
        thr = min(int(cum * (1 << 60)), 1 << 60)
        cond = h < F.lit(thr)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = weights[-1][0]
    split = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return docs.select(
        F.col(id_col).alias("doc_id"), h.alias("h60"), split.alias("split")
    )


# ---------------------------------------------------------------------------
# source/domain-level curation: temperature-smoothed mixing + badlists
# ---------------------------------------------------------------------------


def _isqrt_expr(x):
    """Exact ``floor(sqrt(x))`` for non-negative int64: float sqrt can
    land one off near perfect squares (and loses integer resolution
    above 2^52), so the float floor is corrected with two integer
    comparisons — the result is provably the true integer root, which
    keeps the DuckDB oracle bit-exact."""
    s0 = F.floor(F.sqrt(x.cast("double"))).cast("bigint")
    s1 = F.when((s0 + 1) * (s0 + 1) <= x, s0 + 1).otherwise(s0)
    return F.when(s1 * s1 > x, s1 - 1).otherwise(s1)


def temperature_mix(
    docs: DataFrame,
    total_budget: int,
    *,
    stratum_col: str = "source",
    weight_col: str = "n_chars",
    id_col: str = "doc_id",
    salt: str = "tmix",
) -> DataFrame:
    """Temperature-smoothed source mixing at tau = 0.5 (the standard
    multilingual/multi-source rebalancing move: sampling proportional
    to ``weight^tau`` upweights small sources relative to raw
    proportional sampling). tau = 0.5 is the one temperature with an
    integer-exact form — ``isqrt(weight)`` — so the whole mixture
    replays bit-for-bit in the oracle; arbitrary tau needs float
    ``pow`` accumulation across engines and is a stated non-goal.

    ``budget_s = (total_budget * isqrt(w_s)) div sum_t(isqrt(w_t))``
    documents are kept per stratum — the smallest-hash quota, so the
    keep-set is deterministic and partitioning-independent. Returns
    ``(doc_id, stratum, h60, rk, budget)``.

    Plan: stratum weights are ONE map-side-combined aggregate
    (metadata-scale rows); the global isqrt sum is a one-row broadcast
    cross-join; ranking is a per-stratum window on (h60, id) — the
    same per-shard pattern as budget_sample (a global rank would
    single-task at corpus scale; strata are the parallel unit).
    """
    if total_budget <= 0:
        raise ValueError("total_budget must be positive")
    w = docs.groupBy(F.col(stratum_col).alias("stratum")).agg(
        F.sum(F.col(weight_col)).cast("bigint").alias("wt")
    )
    iw = w.select("stratum", _isqrt_expr(F.col("wt")).alias("iw"))
    tot = iw.agg(F.sum("iw").cast("bigint").alias("t"))
    budgets = iw.crossJoin(F.broadcast(tot)).select(
        "stratum",
        F.expr(f"({int(total_budget)} * iw) div t").alias("budget"),
    )
    d = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(stratum_col).alias("stratum"),
        _h60_of(id_col, salt).alias("h60"),
    )
    win = Window.partitionBy("stratum").orderBy("h60", "doc_id")
    ranked = d.withColumn("rk", F.row_number().over(win).cast("bigint"))
    return ranked.join(F.broadcast(budgets), "stratum").filter(
        F.col("rk") <= F.col("budget")
    ).select("doc_id", "stratum", "h60", "rk", "budget")


def domain_filter(
    docs: DataFrame,
    *,
    threshold_milli: int = 0,
    stratum_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Domain/source-level quality verdicts — the C4-style badlist
    move (drop every document from a low-quality domain, not just the
    low-quality documents): aggregate the hashed-linear classifier
    score per source and keep sources whose mean per-token score
    clears ``threshold_milli / 1000``.

    The comparison is cross-multiplied integers
    (``score_total * 1000 >= threshold_milli * tokens_total``) — no
    division, no float, bit-exact in the oracle. Returns one verdict
    row per source: ``(stratum, n_docs, tokens_total, score_total,
    keep)``; callers drop documents with a broadcast semi-join on the
    kept strata.

    Plan: doc scoring is the classifier's map-only pass + doc
    aggregate; the source rollup is a second metadata-scale aggregate.
    """
    from operator_zoo.functions.scoring import score_documents

    scored = score_documents(
        docs, id_col=id_col, text_col=text_col
    ).select("doc_id", "n_tokens", "score")
    strata = docs.select(
        F.col(id_col).alias("doc_id"), F.col(stratum_col).alias("stratum")
    )
    per_src = (
        scored.join(strata, "doc_id")
        .groupBy("stratum")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("tokens_total"),
            F.sum("score").alias("score_total"),
        )
    )
    return per_src.select(
        "stratum",
        "n_docs",
        "tokens_total",
        "score_total",
        (
            F.col("score_total") * F.lit(1000)
            >= F.lit(int(threshold_milli)) * F.col("tokens_total")
        ).alias("keep"),
    )


def weighted_sample(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    weight_col: str = "weight",
    k: int = 1000,
    group_cols: Sequence[str] = (),
    salt: str = "wsample",
) -> DataFrame:
    """Deterministic WEIGHTED sample of ``k`` rows (per group):
    Sequential Poisson Sampling (Ohlsson 1998) — rank by
    ``u_i / w_i`` ascending where ``u_i = h60(id)`` is the portable
    uniform draw, keep the first ``k``. Inclusion probability is
    approximately proportional to weight (the standard πps design
    used for e.g. quality-score-weighted corpus subsampling), and the
    draw is a pure function of (id, salt): reshuffling, repartitioning
    or re-running the corpus cannot change the sample.

    Cross-engine exactness: the key is one IEEE-754 double DIVISION of
    two exact integers — division is correctly rounded by the
    standard, so Spark and DuckDB produce bit-identical keys (unlike
    the exponential/log keys of Efraimidis–Spirakis A-ES, whose
    transcendental libm calls differ per engine in the last ulp and
    could flip borderline ranks). Ties broken by the hash itself.

    Weights must be positive integers (raises in-plan otherwise — a
    zero weight would divide to infinity and a negative one would
    win every sample). Plan: map-only key projection + the exact
    two-phase salted bottom-k (``relational.topk_per_group``), so a
    hot group never funnels one reducer. Returns
    ``(*group_cols, ws_rank, doc_id, weight, key)``.
    """
    if k <= 0:
        raise ValueError("k must be positive")
    from operator_zoo.functions.hashing import h60
    from operator_zoo.functions.relational import topk_per_group

    gcols = list(group_cols) or ["_g"]
    w_ok = F.when(
        F.col(weight_col) > 0, F.col(weight_col).cast("long")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("weighted_sample: weight must be positive, got "),
                F.coalesce(
                    F.col(weight_col).cast("string"), F.lit("NULL")
                ),
            )
        ).cast("long")
    )
    base = docs.select(
        *(
            [F.col(c) for c in group_cols]
            if group_cols
            else [F.lit(0).alias("_g")]
        ),
        F.col(id_col).alias("doc_id"),
        w_ok.alias("weight"),
        h60(F.col(id_col).cast("string"), salt).alias("_u"),
    ).withColumn(
        "key", F.col("_u").cast("double") / F.col("weight").cast("double")
    )
    sk = topk_per_group(
        base,
        group_cols=gcols,
        order_col="key",
        k=k,
        descending=False,
        tiebreak_col="_u",
        rank_col="ws_rank",
    )
    out = (list(group_cols) if group_cols else []) + [
        F.col("ws_rank").cast("long").alias("ws_rank"),
        "doc_id",
        "weight",
        "key",
    ]
    return sk.select(*out)


def dsir_select(
    docs: DataFrame,
    target_pred,
    *,
    n_buckets: int = 2048,
    k: int = 200,
    id_col: str = "doc_id",
    text_col: str = "text",
    persisted_sink: list | None = None,
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR; Xie et al.
    2023, arXiv:2302.03169) — rank raw-corpus documents by how much
    their hashed-n-gram distribution looks like a target corpus, and
    keep the top ``k``.

    Features are word bigrams hashed into ``n_buckets`` buckets with
    the portable md5-60bit (functions/hashing.py), so the bucket
    assignment is bit-identical cross-engine. Per-bucket importance
    weight is the exact integer ratio

        w_ppm(b) = (cnt_target(b) + 1) * 10^6 div (cnt_raw(b) + 1)

    (add-one smoothing; ppm of the per-bucket probability ratio up to
    the constant total-mass factor). A document's score is the
    length-normalized integer mean over its bigram OCCURRENCES:

        score_ppm(d) = sum_{g in d} w_ppm(bucket(g)) div n_bigrams(d)

    — a deterministic, integer-exact surrogate for DSIR's mean
    log-likelihood-ratio ranking (monotone per bucket in the smoothed
    probability ratio; the paper's Gumbel-noise resampling step is
    replaced by the deterministic top-``k`` so the operator is
    reproducible and cross-engine testable). Overflow bound:
    ``w_ppm <= (cnt_target_max + 1) * 10^6`` and a doc sums
    ``n_bigrams`` of them — safe in int64 for corpora to ~10^9 target
    bigram occurrences per bucket.

    Scale shape: bigram construction is map-only (array HOF inside the
    row); bucket counts for raw AND target come from ONE hash
    aggregate (conditional sum — the target corpus is a predicate over
    the raw corpus, the common DSIR deployment); the weight relation
    is bounded by ``n_buckets`` BY CONSTRUCTION, so broadcasting it to
    the scoring join is safe at any corpus size; per-doc scoring is
    one hash aggregate on ``doc_id``; final selection is
    TakeOrderedAndProject (never a global sort). The exploded
    (doc, bucket, is_target) relation is referenced twice (weights +
    scoring) — pass ``persisted_sink`` to materialize it once.

    Returns ``(dsir_rank, doc_id, n_bigrams, score_ppm)``.
    """
    from operator_zoo.functions.hashing import h60

    words = F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    pair_expr = (
        "transform(sequence(1, size(w) - 1), "
        "i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"
    )
    grams = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            target_pred.alias("is_target"),
            words.alias("w"),
        )
        .where(F.size("w") >= 2)
        .select(
            "doc_id",
            "is_target",
            F.explode(F.expr(pair_expr)).alias("gram"),
        )
        .select(
            "doc_id",
            "is_target",
            (h60("gram", "dsir") % n_buckets).alias("bucket"),
        )
    )
    if persisted_sink is not None:
        from pyspark import StorageLevel

        grams = grams.persist(StorageLevel.MEMORY_AND_DISK)
        persisted_sink.append(grams)
    weights = (
        grams.groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("cnt_raw"),
            F.sum(F.when(F.col("is_target"), 1).otherwise(0))
            .cast("long")
            .alias("cnt_target"),
        )
        .select(
            "bucket",
            F.expr("(cnt_target + 1) * 1000000 div (cnt_raw + 1)")
            .cast("long")
            .alias("w_ppm"),
        )
    )
    scored = (
        grams.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum("w_ppm").cast("long").alias("w_sum"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.expr("w_sum div n_bigrams").cast("long").alias("score_ppm"),
        )
    )
    ranked = scored.orderBy(
        F.col("score_ppm").desc(), F.col("doc_id").asc()
    ).limit(k)
    w = Window.orderBy(F.col("score_ppm").desc(), F.col("doc_id").asc())
    return ranked.withColumn(
        "dsir_rank", F.row_number().over(w).cast("long")
    ).select("dsir_rank", "doc_id", "n_bigrams", "score_ppm")


def negative_samples(
    docs: DataFrame,
    *,
    k: int = 5,
    n_buckets: int = 64,
    id_col: str = "doc_id",
    source_col: str = "source",
    exclude_same_source: bool = True,
) -> DataFrame:
    """Deterministic negative sampling for contrastive training — for
    every anchor document, ``k`` pseudo-random negative partners,
    reproducible across runs, partitionings, and engines (the
    retriever/embedding-training staple: in-batch negatives are
    batch-dependent; this materializes a FIXED negative set so a
    training run is replayable).

    Randomness is the portable md5-60bit hash throughout, so the
    sample is a pure function of the ids:

    - candidate scope: anchor and candidate must share a hash bucket
      (``h60(id) % n_buckets``) — the join is a bucket-keyed
      self-join whose per-bucket cost is ``(N/B)^2``, tunable via
      ``n_buckets``, NEVER an all-pairs cross join; because bucket
      assignment is itself pseudo-random, restricting to a shared
      bucket does not bias the sample (any candidate is equally
      likely to share the anchor's bucket).
    - ranking: candidates order by ``h60(anchor_id:cand_id)`` — an
      independent pseudo-random draw per ORDERED pair, so each
      anchor's negatives are an independent sample and (a, b) chosen
      for anchor ``a`` implies nothing for anchor ``b``.
    - optional hard filter: ``exclude_same_source`` drops candidates
      from the anchor's own source (the standard false-negative guard
      when near-duplicates cluster within a source).

    Selection is the repo's two-phase salted
    :func:`functions.relational.topk_per_group` — never one reducer
    per anchor. Returns ``(anchor_id, neg_rank, neg_id, draw)`` with
    ``draw`` the ranking hash (kept so downstream re-splits are
    reproducible).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    from operator_zoo.functions.hashing import h60
    from operator_zoo.functions.relational import topk_per_group

    base = docs.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(source_col).alias("src"),
        (h60(F.col(id_col).cast("string"), "negb") % n_buckets).alias("b"),
    )
    a = base.select(
        F.col("id").alias("anchor_id"),
        F.col("src").alias("a_src"),
        "b",
    )
    c = base.select(
        F.col("id").alias("neg_id"), F.col("src").alias("c_src"), "b"
    )
    pairs = a.join(c, "b").where(F.col("anchor_id") != F.col("neg_id"))
    if exclude_same_source:
        pairs = pairs.where(F.col("a_src") != F.col("c_src"))
    scored = pairs.select(
        "anchor_id",
        "neg_id",
        h60(
            F.concat_ws(":", F.col("anchor_id"), F.col("neg_id")), "negr"
        ).alias("draw"),
    )
    out = topk_per_group(
        scored,
        group_cols=["anchor_id"],
        order_col="draw",
        k=k,
        descending=False,
        tiebreak_col="neg_id",
        rank_col="neg_rank",
    )
    return out.select(
        "anchor_id",
        F.col("neg_rank").cast("long").alias("neg_rank"),
        "neg_id",
        "draw",
    )
