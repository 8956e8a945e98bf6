"""Model-based quality filtering: a hashed linear text classifier.

The fastText-style quality-filter shape every large training-data
pipeline runs (GPT-3's WebText-vs-CommonCrawl logistic filter, CCNet's
language-model perplexity buckets): tokens hash into a fixed weight
table, the document score is the sum of its tokens' weights, and a
threshold decides keep/drop. The reference has no counterpart (its
quality gate is structural, `quality_check.py`) — this is the
*learned*-filter analog, expressed scale-first.

Scale design: scoring is embarrassingly parallel — hash each token to
a bucket, look up the bucket weight, sum per document. No join is
needed at any corpus size because the weight table is **broadcast by
construction**: here the weights are derived deterministically from
the bucket id via the portable 60-bit hash (so the DuckDB oracle can
replay scoring bit-for-bit — integer weights, integer sums, one final
division); a production model swaps :func:`bucket_weight_expr` for an
``element_at`` lookup into a broadcast literal map of learned weights
with the identical plan shape (map-only + one per-doc aggregate).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from operator_zoo.functions.hashing import h60

N_BUCKETS = 256
_WEIGHT_SPAN = 17  # weights in [-8, 8]


def token_bucket_expr(term: Column | str, n_buckets: int = N_BUCKETS) -> Column:
    """Hash a token into ``[0, n_buckets)`` — the feature-hashing trick
    (Weinberger et al. 2009), portable across engines."""
    return F.pmod(h60(term, "qcb"), F.lit(n_buckets))


def bucket_weight_expr(bucket: Column) -> Column:
    """Deterministic integer weight in ``[-8, 8]`` for a bucket id,
    derived from the portable hash of the bucket's decimal string —
    the stand-in for a learned weight vector that keeps the oracle
    exact. h60 is non-negative, so ``pmod`` == ``%`` in both engines."""
    return F.pmod(h60(bucket.cast("string"), "qcw"), F.lit(_WEIGHT_SPAN)) - F.lit(8)


def score_documents(
    docs: DataFrame,
    n_buckets: int = N_BUCKETS,
    threshold: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document hashed-linear quality score:

    ``score = sum over token occurrences of weight[bucket(token)]``

    Output ``(doc_id, n_tokens, score, score_per_token, keep)`` with
    ``keep = score >= threshold``. All-integer until the single final
    ``score / n_tokens`` division. Documents with no tokens are
    excluded (stated semantics, matching ``rare_word_stats``).

    Plan: one explode + inline hash/weight expressions (map-only, no
    weight join) + ONE aggregate keyed by ``doc_id`` — skew bounded by
    the largest document; at 10^12 docs this is a single
    map-side-combined pass over the corpus.
    """
    ts = F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    toks = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(ts).alias("term")
    )
    weighted = toks.select(
        "doc_id",
        bucket_weight_expr(token_bucket_expr(F.col("term"), n_buckets)).alias(
            "w"
        ),
    )
    agg = weighted.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"), F.sum("w").alias("score")
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "score",
        (F.col("score") / F.col("n_tokens")).alias("score_per_token"),
        (F.col("score") >= F.lit(threshold)).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Bigram language-model scoring — the CCNet/KenLM perplexity-filter
# shape (Wenzek et al. 2020: score every document with a corpus LM and
# filter/bucket by perplexity), expressed integer-exact so the DuckDB
# oracle replays training AND scoring bit-for-bit.
#
# Model: corpus bigram counts c(w1,w2) and left-context counts
# c(w1) = sum_w2 c(w1,w2). Per-bigram transition probability
# p = c12/c1 is kept as the integer ratio r = (c12 << LM_SCALE_BITS)
# div c1 in [1, 2^LM_SCALE_BITS] (observed bigrams always have
# c12 >= 1, and scoring the training corpus means every scored bigram
# is observed — no OOV smoothing needed; stated semantics).
#
# Log without floats: bits(r) = length(bin(r + 1)) - 1 is the exact
# integer floor(log2(r + 1)) — the same bin()-string trick the HLL
# sketch uses (both engines drop leading zeros). A document's
# avg_bits then approximates LM_SCALE_BITS + avg log2 p, i.e. a
# monotone surrogate of negative cross-entropy: higher avg_bits =
# more probable text = lower perplexity. The ranking a perplexity
# filter acts on is preserved while every aggregate stays int64; the
# only float is the single final bits_total / n_bigrams division.
# ---------------------------------------------------------------------------

LM_SCALE_BITS = 20
_LM_SCALE = 1 << LM_SCALE_BITS


def _ilog2p1(x: Column) -> Column:
    """Exact ``floor(log2(x + 1))`` for non-negative int64 — bin-string
    length, no float log."""
    return (F.length(F.bin(x + F.lit(1))) - F.lit(1)).cast("bigint")


def bigram_lm_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document bigram-LM quality score over the corpus's own
    bigram model: ``(doc_id, n_bigrams, bits_total, avg_bits)`` with
    ``avg_bits`` the integer-log2 transition-probability surrogate
    described in the module notes (higher = more probable text).
    Documents with fewer than two tokens are excluded (no bigrams —
    stated semantics, matching ``rare_word_stats``'s empty-doc rule).

    Plan shape at 10^12 docs: one bigram explode; the model is ONE
    (w1, w2) count aggregate (map-side combined — hot bigrams like
    stopword pairs partial-aggregate instead of hot-keying a window);
    context counts regroup the vocab-scale model rows, not the corpus;
    scoring joins the corpus bigrams to the model on (w1, w2) — a
    vocab-scale relation that can NOT be broadcast at design scale, so
    it is a hash join on the same key the model aggregate already
    shuffled on; the final per-doc aggregate is keyed by doc_id.
    """
    ts = F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    toked = docs.select(F.col(id_col).alias("doc_id"), ts.alias("toks")).where(
        F.size("toks") >= 2
    )
    n = F.size("toks")
    pairs = toked.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("toks", F.lit(1), n - 1),
                F.slice("toks", F.lit(2), n - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg"),
    ).select("doc_id", "bg.w1", "bg.w2")
    model = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    ctx = model.groupBy("w1").agg(F.sum("c12").alias("c1"))
    enriched = model.join(ctx, "w1")
    ratio = F.expr(f"(c12 * {_LM_SCALE}) div c1")
    scored = pairs.join(enriched, ["w1", "w2"]).select(
        "doc_id", _ilog2p1(ratio).alias("bits")
    )
    agg = scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"), F.sum("bits").alias("bits_total")
    )
    return agg.select(
        "doc_id",
        "n_bigrams",
        "bits_total",
        (F.col("bits_total") / F.col("n_bigrams")).alias("avg_bits"),
    )


def quality_ensemble(
    docs: DataFrame,
    *,
    n_bins: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Rank-ensemble quality blending — combine several weak quality
    signals by quantile rank instead of by raw value (the standard
    ensemble-filter move: raw signals live on incomparable scales, so
    production filters average each signal's RANK; e.g. the multi-
    signal blends in DataComp/Dolma-style curation).

    Signals (all integer-exact, map-only per doc):

    - ``n_tokens`` — whitespace token count (length signal),
    - ``distinct_ppm`` — distinct tokens * 10^6 div n_tokens
      (repetitiveness signal),
    - ``mean_len_ppm`` — total token chars * 10^6 div n_tokens
      (vocabulary-weight signal).

    Each signal is scored ``1..n_bins`` against broadcast
    ``percentile_disc`` BOUNDARIES (score = 1 + number of boundaries
    the value strictly beats upward) — deliberately NOT ``ntile``: a
    global rank window is a one-reducer sort over the corpus, while
    the boundary form is one metadata-row aggregate plus a map-only
    application (the shape behind events_user_rfm). Ties share a bin,
    the quantile-binning semantics a filter consumer wants.

    Returns ``(doc_id, n_tokens, distinct_ppm, mean_len_ppm, s_len,
    s_distinct, s_wordlen, ensemble)`` with
    ``ensemble = s_len + s_distinct + s_wordlen`` in ``[3, 3*n_bins]``.
    """
    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    toks = F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    base = docs.select(
        F.col(id_col).alias("doc_id"), toks.alias("w")
    ).where(F.size("w") >= 1)
    sig = base.select(
        "doc_id",
        F.size("w").cast("long").alias("n_tokens"),
        F.expr(
            "size(array_distinct(w)) * 1000000L div size(w)"
        ).alias("distinct_ppm"),
        F.expr(
            "aggregate(w, 0L, (a, t) -> a + length(t)) * 1000000L div size(w)"
        ).alias("mean_len_ppm"),
    )
    pcts = [i / n_bins for i in range(1, n_bins)]
    metrics = ("n_tokens", "distinct_ppm", "mean_len_ppm")
    bounds = sig.agg(
        *[
            F.expr(
                f"percentile_disc({p}) WITHIN GROUP (ORDER BY {m})"
            ).alias(f"{m[0]}b{i}")
            for m in metrics
            for i, p in enumerate(pcts)
        ]
    )
    out = sig.crossJoin(F.broadcast(bounds))
    scores = {
        m: sum(
            (F.col(m) > F.col(f"{m[0]}b{i}")).cast("long")
            for i in range(n_bins - 1)
        )
        + F.lit(1)
        for m in metrics
    }
    return out.select(
        "doc_id",
        "n_tokens",
        "distinct_ppm",
        "mean_len_ppm",
        scores["n_tokens"].cast("long").alias("s_len"),
        scores["distinct_ppm"].cast("long").alias("s_distinct"),
        scores["mean_len_ppm"].cast("long").alias("s_wordlen"),
        (
            scores["n_tokens"]
            + scores["distinct_ppm"]
            + scores["mean_len_ppm"]
        )
        .cast("long")
        .alias("ensemble"),
    )
