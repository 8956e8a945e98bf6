"""Deduplication operators for large-scale corpus curation.

Four families, all shuffle-conscious and oracle-replayable:

- **exact**: content-hash groupBy — one hash aggregate, the cheapest
  possible dedup; at 100 TB this is a single shuffle on a 60-bit key
  with near-perfect distribution.
- **MinHash + LSH**: shingle -> per-seed min-hash signature -> band
  buckets -> self-join *within buckets only*. The join never goes
  all-pairs: candidate generation is |docs| x bands rows, and AQE's
  skew-join splitting handles hot buckets (empty/boilerplate docs).
- **SimHash**: per-token hash bit-votes folded into a compact
  signature; exact-signature collisions are near-dups. One aggregate,
  no join, ideal as a cheap pre-filter before MinHash.
- **n-gram Jaccard**: exact similarity on candidate pairs (here the
  consecutive-id demonstrator; in production fed by LSH candidates).

All hashing goes through the portable md5-60bit (functions/hashing.py)
so every operator has a DuckDB-replayable oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from operator_zoo.functions.hashing import h60

MINHASH_SEEDS = 8
LSH_BAND_ROWS = 2  # 8 seeds / 2 rows -> 4 bands

#: Production default for LSH bucket capping: a bucket of k docs emits
#: k^2/2 candidate pairs, so one degenerate bucket (boilerplate/empty
#: docs) goes quadratic at corpus scale while carrying no dedup signal.
LSH_MAX_BUCKET = 256

#: Mersenne prime 2^31-1: affine products of reduced hashes stay under
#: 2^62, so the arithmetic is exact in int64 on both Spark and DuckDB.
MINHASH_P = (1 << 31) - 1


def minhash_params(n_seeds: int = MINHASH_SEEDS) -> list[tuple[int, int]]:
    """Deterministic affine constants (a_i, b_i) for seed derivation:
    h_i = (a_i * base + b_i) mod P. Knuth multiplier keeps a_i well
    mixed; a_i is never 0 because 2654435761 is coprime with P."""
    return [
        ((2 * i + 1) * 2654435761 % MINHASH_P, (i * 40503 + 17) % MINHASH_P)
        for i in range(n_seeds)
    ]


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup: group by content hash; keep the minimum id as the
    canonical representative."""
    return (
        docs.select(F.col(id_col).alias("doc_id"), h60(text_col, "exact").alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.count("*").alias("n_copies"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
    )


def _tokens(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle: int = 1,
    distinct_in_doc: bool = False,
) -> DataFrame:
    """Token relation; ``shingle`` > 1 emits space-joined word n-grams
    (the MinHash/Jaccard shingling unit). Built entirely from array
    expressions — the shingling never leaves the JVM.

    ``distinct_in_doc`` applies ``array_distinct`` BEFORE the explode:
    per-doc set semantics with zero shuffle (a post-explode
    ``.distinct()`` is a full (doc_id, token) exchange — doc-scoped
    dedup needs no cross-partition data at all, each doc's shingle
    array lives in one row)."""
    words = F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    if shingle <= 1:
        grams = words
    else:
        # guard: F.sequence(1, 0) would produce a DESCENDING [1, 0]
        grams = F.when(
            F.size(words) >= shingle,
            F.transform(
                F.sequence(F.lit(1), F.size(words) - (shingle - 1)),
                lambda i: F.array_join(F.slice(words, i, shingle), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))
    if distinct_in_doc:
        grams = F.array_distinct(grams)
    return docs.select(
        F.col(id_col).alias("doc_id"), F.explode(grams).alias("token")
    )


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_seeds: int = MINHASH_SEEDS,
) -> DataFrame:
    """Per-(doc, seed) minimum of the salted token hash — the MinHash
    signature as a long relation ``(doc_id, seed, minhash)``. Unigram
    shingles keep the operator oracle-replayable; shingle width is a
    parameter of ``_tokens`` in production."""
    # distinct_in_doc: min() is set-invariant, so intra-doc duplicate
    # tokens (measured 2.3x on the corpus) are dropped map-side BEFORE
    # the md5 — same signatures, ~2x fewer hashes and aggregate rows
    tokens = _tokens(docs, id_col, text_col, distinct_in_doc=True)
    # One md5 per token; the n_seeds hash families are affine
    # derivations (a_i*h+b_i mod P) folded into a single groupBy pass —
    # no seed explode, so the shuffle carries |docs| rows of n_seeds
    # mins instead of |tokens| x n_seeds hash rows.
    base = (h60("token", "mh") % MINHASH_P).alias("base")
    hashed = tokens.select("doc_id", base)
    mins = hashed.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("base") + F.lit(b)) % MINHASH_P).alias(f"m{i}")
            for i, (a, b) in enumerate(minhash_params(n_seeds))
        ]
    )
    pairs = F.array(
        *[
            F.struct(
                F.lit(i).cast("int").alias("seed"),
                F.col(f"m{i}").alias("minhash"),
            )
            for i in range(n_seeds)
        ]
    )
    return mins.select("doc_id", F.explode(pairs).alias("s")).select(
        "doc_id", F.col("s.seed").alias("seed"), F.col("s.minhash").alias("minhash")
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    band_rows: int = LSH_BAND_ROWS,
    max_bucket_size: int | None = LSH_MAX_BUCKET,
) -> DataFrame:
    """Band the signature, bucket on the banded sub-signature, and
    self-join within buckets -> distinct candidate pairs (a < b).

    ``max_bucket_size`` drops buckets larger than the cap before the
    self-join. A bucket holding k docs emits k^2/2 pairs — a single
    degenerate bucket (boilerplate, empty docs, tiny shared vocab) is
    quadratic at corpus scale and carries no dedup signal ("everything
    matches everything"); production LSH pipelines cap it and route
    giant buckets to a cluster-representative pass instead. The
    sf0.1 documents table demonstrates the failure: one bucket holds
    78% of docs -> 7.7M pairs. The cap is the DEFAULT; pass
    ``max_bucket_size=None`` explicitly to opt into the uncapped
    quadratic path (exact oracle-parity checks only)."""
    banded = signatures.withColumn("band", (F.col("seed") / band_rows).cast("int"))
    # band sub-signature built from (seed, minhash) pairs sorted by seed —
    # collect_list alone has no deterministic order across partitions
    buckets = (
        banded.groupBy("doc_id", "band")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("seed", "minhash"))
                    ),
                    lambda s: s["minhash"].cast("string"),
                ),
                ",",
            ).alias("sig")
        )
    )
    if max_bucket_size is not None:
        from pyspark.sql.window import Window

        w = Window.partitionBy("band", "sig")
        buckets = (
            buckets.withColumn("bucket_n", F.count("*").over(w))
            .filter(F.col("bucket_n") <= max_bucket_size)
            .drop("bucket_n")
        )
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )


def simhash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 16,
) -> DataFrame:
    """Bit-vote SimHash: for each of ``bits`` low bits of the token
    hash, sign(sum(+1/-1 votes)) becomes the signature bit."""
    tokens = _tokens(docs, id_col, text_col).withColumn("th", h60("token", "sh"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("th"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    agg = tokens.groupBy("doc_id").agg(*votes)
    sig = None
    for i in range(bits):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(2**i)).otherwise(F.lit(0))
        sig = bit if sig is None else (sig + bit)
    return agg.select("doc_id", sig.cast("bigint").alias("simhash"))


def jaccard_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle: int = 1,
    tokens: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs ``(doc_a, doc_b)`` —
    distinct-shingle intersection over union, via two semi-structured
    joins (never materializes token sets on the driver).

    ``tokens`` (a precomputed DISTINCT ``(doc_id, token)`` relation)
    lets a caller that already shingled the corpus — e.g.
    :func:`jaccard_prefix_join`, which persists it — share one
    materialization instead of re-deriving the explode per branch."""
    toks = (
        tokens
        if tokens is not None
        else _tokens(
            docs, id_col, text_col, shingle=shingle, distinct_in_doc=True
        )
    )
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("n_tokens"))
    ta = toks.select(F.col("doc_id").alias("doc_a"), "token")
    tb = toks.select(F.col("doc_id").alias("doc_b"), "token")
    inter = (
        pairs.join(ta, "doc_a")
        .join(tb, ["doc_b", "token"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_tokens").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_tokens").alias("n_b"))
    return (
        pairs.join(inter, ["doc_a", "doc_b"], "left")
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.coalesce("n_inter", F.lit(0)).alias("n_inter"),
            (F.col("n_a") + F.col("n_b") - F.coalesce("n_inter", F.lit(0))).alias("n_union"),
        )
        .withColumn(
            "jaccard",
            F.round(F.col("n_inter") / F.col("n_union"), 6),
        )
    )


# ---------------------------------------------------------------------------
# chunk-level (paragraph-analog) global exact dedup — C4-style
# ---------------------------------------------------------------------------

CHUNK_TOKENS = 3  # chunking unit for the corpus-global pass


def dedup_chunks(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = CHUNK_TOKENS,
) -> DataFrame:
    """Corpus-global chunk-level exact dedup (the C4 "three-sentence
    span" rule re-expressed for a whitespace corpus): the token stream
    of every document is cut into consecutive ``chunk_tokens``-token
    chunks; across the whole corpus only the FIRST occurrence of each
    chunk text survives (first = smallest ``(doc_id, position)``), and
    each document is reassembled from its surviving chunks in order.

    Returns ``(doc_id, clean_text, n_chunks, n_dropped)`` for every
    input document (documents that lose all chunks keep an empty
    ``clean_text``).

    Scale shape: one shuffle keyed by chunk text for the first-writer
    window (same key profile as exact dedup — boilerplate chunks are
    the hot keys, and each contributes one surviving row), then one
    shuffle keyed by ``doc_id`` for reassembly, then one join back to
    the id relation (whose ``n_chunks`` is computed map-side from the
    token count — never aggregated from the exploded relation). No
    corpus-global window, no driver state; this is the shape the C4
    pipeline uses at web scale. On real paragraph-structured text, swap
    the tokenizer for a ``split(text, '\\n\\n')`` and the operator is
    unchanged.
    """
    ts = F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        ts.alias("ts"),
        F.ceil(F.size(ts) / F.lit(chunk_tokens)).cast("int").alias("n_chunks"),
    )
    chunks_arr = F.when(
        F.col("n_chunks") > 0,
        F.transform(
            F.sequence(F.lit(0), F.col("n_chunks") - 1),
            lambda j: F.array_join(
                F.slice("ts", j * chunk_tokens + 1, chunk_tokens), " "
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    chunks = base.select(
        "doc_id", F.posexplode(chunks_arr).alias("pos", "chunk")
    )

    from pyspark.sql.window import Window

    first_writer = Window.partitionBy("chunk").orderBy("doc_id", "pos")
    kept = (
        chunks.withColumn("rn", F.row_number().over(first_writer))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    reassembled = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "chunk"))),
                lambda x: x["chunk"],
            ),
            " ",
        ).alias("clean_text"),
    )
    return (
        base.select("doc_id", "n_chunks")
        .join(reassembled, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.col("n_chunks").cast("bigint").alias("n_chunks"),
            (
                F.col("n_chunks") - F.coalesce("n_kept", F.lit(0))
            ).cast("bigint").alias("n_dropped"),
        )
    )


def duplicate_ngram_spans(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    salt: str = "ngspan",
) -> DataFrame:
    """Exact substring dedup at word n-gram granularity (the
    Lee et al. 2021 "Deduplicating Training Data" move, quantized to
    n-gram starts): find every maximal word span whose n-grams ALL
    occur elsewhere in the corpus, keeping the corpus-first occurrence
    of each gram as canonical (first-writer-wins by ``(doc_id, pos)``,
    matching :func:`dedup_chunks`).

    Returns one row per maximal duplicated span:
    ``(doc_id, span_start, span_end, span_words)`` — word indices,
    inclusive. Overlapping and touching duplicate-gram intervals
    ``[pos, pos+n-1]`` merge into one span (contiguous duplicated text
    is one region to mask, whatever mix of sources it repeats).

    Scale shape: gram occurrences are ``(doc_id, pos, h60(gram))``
    rows; duplicate detection is ONE groupBy on the gram hash with
    ``count(*)`` + ``min(struct(doc_id, pos))`` — both partial-agg
    (map-side combine), so a stopword-run gram repeated 10^9 times is
    combined per partition, never a one-reducer window. The
    occurrence→dup-gram join shuffles on the hash; the interval merge
    is a per-document window (state bounded by document length). All
    arithmetic is integer, so results are partitioning- and
    engine-independent.
    """
    from pyspark.sql.window import Window

    if n < 2:
        raise ValueError("n must be >= 2 (unigram spans are just rare-word stats)")
    words = F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    occ = (
        docs.select(F.col(id_col).alias("doc_id"), words.alias("toks"))
        .where(F.size("toks") >= n)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("toks") - n),
                    lambda p: F.struct(
                        p.alias("pos"),
                        h60(
                            F.array_join(F.slice("toks", p + 1, n), " "), salt
                        ).alias("gh"),
                    ),
                )
            ).alias("g"),
        )
        .select("doc_id", F.col("g.pos").alias("pos"), F.col("g.gh").alias("gh"))
    )
    stats = occ.groupBy("gh").agg(
        F.count("*").alias("cnt"),
        F.min(F.struct("doc_id", "pos")).alias("first"),
    )
    dups = (
        occ.join(stats.where(F.col("cnt") > 1), "gh")
        .where(
            ~(
                (F.col("doc_id") == F.col("first.doc_id"))
                & (F.col("pos") == F.col("first.pos"))
            )
        )
        .select("doc_id", "pos", (F.col("pos") + n - 1).alias("e"))
    )
    prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    prev_end = F.max("e").over(prev)
    flagged = dups.withColumn(
        "new_span",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end + 1), 1).otherwise(0),
    )
    spans = flagged.withColumn("span_id", F.sum("new_span").over(run))
    return (
        spans.groupBy("doc_id", "span_id")
        .agg(F.min("pos").alias("span_start"), F.max("e").alias("span_end"))
        .select(
            "doc_id",
            F.col("span_start").cast("bigint").alias("span_start"),
            F.col("span_end").cast("bigint").alias("span_end"),
            (F.col("span_end") - F.col("span_start") + 1)
            .cast("bigint")
            .alias("span_words"),
        )
    )


def jaccard_prefix_join(
    docs: DataFrame,
    *,
    threshold_pct: int = 80,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle: int = 1,
    persisted_sink: list | None = None,
) -> DataFrame:
    """EXACT Jaccard self-join at ``threshold_pct/100`` via prefix
    filtering (the AllPairs/PPJoin candidate principle) — the exact
    counterpart to the approximate MinHash-LSH family: no false
    negatives, no bands/caps to tune.

    Tokens get a global total order (ascending document frequency,
    then token); a doc's PREFIX is its ``n − ceil(t·n) + 1`` rarest
    tokens. If ``J(A,B) ≥ t`` the two prefixes must share a token, so
    joining prefixes on the token finds every qualifying pair — and
    because prefix tokens are each doc's RAREST, the join's token
    buckets stay small by construction (a stopword enters a prefix
    only for docs made almost entirely of commoner tokens). A length
    filter (``100·min(n_a,n_b) ≥ t_pct·max``) prunes before the exact
    verify, which reuses :func:`jaccard_pairs`.

    Shuffles: token df aggregate, the df join on ``token``
    (vocab-scale — never broadcast), one per-doc rank window, the
    prefix self-join, then the pair-scoped verify (two doc-keyed
    joins). Every stage is keyed or pair-scoped; nothing is all-pairs.

    Three structural choices (all measured on the sf0.1 SQL-node
    metrics, round 5):

    - per-doc token SETS are built map-only (``array_distinct`` inside
      the doc row — no (doc_id, token) distinct exchange) and carried
      as ARRAYS; doc sizes are ``size(toks)``, not an aggregate.
    - candidates pass PPJoin's POSITIONAL filter in addition to the
      length filter: a prefix match at per-doc ranks (ra, rb) bounds
      the intersection by ``1 + least(n_a - ra, n_b - rb)``; pairs
      whose every shared prefix token sits too deep can never reach
      the threshold. Lossless: for a qualifying pair the globally
      MINIMAL shared token is inside both prefixes (rank(w) <=
      n - inter + 1 <= prefix end) and its bound exceeds the true
      intersection, so its match row always survives.
    - the verify is ``size(array_intersect(toks_a, toks_b))`` after
      two doc-keyed joins of the candidate pairs against the token
      arrays — pair-scoped rows each carrying one doc's set. The
      exploded alternative (join candidates to the token ROWS and
      count matches) materialized 3.19M intermediate rows and spent
      ~33 task-seconds in its two hash aggregates at sf0.1; the array
      intersect is a per-pair merge of two ~50-element arrays.

    The doc-set and prefix relations are each referenced by multiple
    branches (set relation: rank derivation + both verify sides;
    prefix: both self-join sides); without materialization the whole
    shingle->df->rank derivation re-executes per lineage path (round
    4's plan audit counted 32 parquet scans / 64 exchanges — the
    worst line in the bench). Pass ``persisted_sink`` (the repo's
    leak-guard pattern) to persist both MEMORY_AND_DISK — computed
    once, probed from every branch; the caller unpersists after
    materializing.
    """
    if not 1 <= threshold_pct <= 100:
        raise ValueError("threshold_pct must be in [1, 100]")
    from pyspark.sql.window import Window

    t = threshold_pct
    words = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    if shingle <= 1:
        grams = words
    else:
        grams = F.when(
            F.size(words) >= shingle,
            F.transform(
                F.sequence(F.lit(1), F.size(words) - (shingle - 1)),
                lambda i: F.array_join(F.slice(words, i, shingle), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))
    doc_sets = docs.select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(grams).alias("toks"),
    ).withColumn("n_tokens", F.size("toks"))
    if persisted_sink is not None:
        from pyspark import StorageLevel

        doc_sets = doc_sets.persist(StorageLevel.MEMORY_AND_DISK)
        persisted_sink.append(doc_sets)
    toks = doc_sets.select(
        "doc_id", F.explode("toks").alias("token"), "n_tokens"
    )
    freq = toks.groupBy("token").agg(F.count("*").alias("df"))
    ranked = toks.join(freq, "token")
    w = Window.partitionBy("doc_id").orderBy("df", "token")
    prefix_len = (
        F.col("n_tokens")
        - F.expr(f"({t} * n_tokens + 99) div 100")
        + F.lit(1)
    )
    pref = (
        ranked.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= prefix_len)
        .select("doc_id", "token", "n_tokens", "rk")
    )
    if persisted_sink is not None:
        from pyspark import StorageLevel

        pref = pref.persist(StorageLevel.MEMORY_AND_DISK)
        persisted_sink.append(pref)
    pa = pref.select(
        F.col("doc_id").alias("doc_a"),
        "token",
        F.col("n_tokens").alias("n_a"),
        F.col("rk").alias("rk_a"),
    )
    pb = pref.select(
        F.col("doc_id").alias("doc_b"),
        "token",
        F.col("n_tokens").alias("n_b"),
        F.col("rk").alias("rk_b"),
    )
    cand = (
        pa.join(pb, "token")
        .where(
            (F.col("doc_a") < F.col("doc_b"))
            & (
                F.lit(100) * F.least("n_a", "n_b")
                >= F.lit(t) * F.greatest("n_a", "n_b")
            )
            # PPJoin positional filter (lossless — see docstring)
            & (
                (
                    F.lit(1)
                    + F.least(
                        F.col("n_a") - F.col("rk_a"),
                        F.col("n_b") - F.col("rk_b"),
                    )
                )
                * F.lit(100 + t)
                >= F.lit(t) * (F.col("n_a") + F.col("n_b"))
            )
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = doc_sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("toks").alias("toks_a"),
        F.col("n_tokens").alias("n_a"),
    )
    sb = doc_sets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("toks").alias("toks_b"),
        F.col("n_tokens").alias("n_b"),
    )
    scored = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("toks_a", "toks_b"))
            .cast("long")
            .alias("n_inter"),
            (F.col("n_a") + F.col("n_b")).alias("n_ab"),
        )
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            (F.col("n_ab") - F.col("n_inter")).cast("long").alias("n_union"),
        )
        .withColumn(
            "jaccard", F.round(F.col("n_inter") / F.col("n_union"), 6)
        )
    )
    return scored.where(
        F.lit(100) * F.col("n_inter") >= F.lit(t) * F.col("n_union")
    )


def normalize_text_expr(col: str | F.Column) -> F.Column:
    """Canonical text normalization for fuzzy-exact dedup: lowercase,
    strip everything but ASCII alphanumerics and spaces, collapse
    whitespace runs, trim. Pure JVM expression chain; the patterns are
    chosen Java/RE2-identical so a DuckDB oracle (with the 'g' flag)
    replays byte-for-byte."""
    c = F.col(col) if isinstance(col, str) else col
    cleaned = F.regexp_replace(F.lower(c), "[^a-z0-9 ]", "")
    return F.trim(F.regexp_replace(cleaned, " +", " "))


def normalized_exact_duplicates(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup AFTER normalization — catches the
    casing/punctuation/whitespace near-copies exact_duplicates misses
    without paying for MinHash. Same scale shape as
    :func:`exact_duplicates`: ONE hash-aggregate on the 60-bit
    normalized-content fingerprint (min/count both partial-agg, so a
    viral copypasta key map-side combines), then one keyed join back
    to tag each doc with its canonical representative."""
    tagged = docs.select(
        F.col(id_col).alias("doc_id"),
        h60(normalize_text_expr(text_col), "normexact").alias("norm_fp"),
    )
    groups = tagged.groupBy("norm_fp").agg(
        F.count("*").alias("n_copies"),
        F.min("doc_id").alias("canonical_doc_id"),
    )
    return tagged.join(groups, "norm_fp").select(
        "doc_id",
        "norm_fp",
        "canonical_doc_id",
        "n_copies",
        (F.col("doc_id") == F.col("canonical_doc_id")).alias("is_kept"),
    )


def corpus_line_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    line_words: int = 5,
    min_total: int = 3,
    min_docs: int = 2,
) -> DataFrame:
    """Corpus-level duplicate-LINE removal (the RefinedWeb / MassiveText
    line-dedup pass): a line occurring ``>= min_total`` times across
    ``>= min_docs`` distinct documents is boilerplate (nav bars, cookie
    banners, license footers) and is removed from EVERY document.
    Differs from ``dedup_paragraph_chunks`` (first-writer-wins keeps
    one canonical copy): boilerplate has no canonical owner, so all
    occurrences go.

    The corpus here carries no newlines, so a "line" is each aligned
    ``line_words``-word window — the construction is map-only (split +
    ``transform(sequence(...))`` HOFs, no UDF) and identical in the
    DuckDB oracle.

    Returns ``(doc_id, clean_text, n_lines, n_removed)`` with
    ``clean_text`` the surviving lines re-joined in order (equal to the
    original text when nothing was removed).

    Scale shape: ONE posexplode to line rows; the occurrence count is a
    single hash-aggregate on the portable 60-bit line hash (count and
    distinct-doc count both partial-aggregate, so a corpus-hot line
    map-side combines instead of flooding one reducer); removal is a
    left-anti shuffle join on the hash (the duplicate-line set at
    10^12 docs is far beyond broadcast); reassembly regroups by doc_id.
    No driver-side data, nothing quadratic.
    """
    if line_words < 1:
        raise ValueError("line_words must be >= 1")
    lw = line_words
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), " ").alias("words"),
    ).withColumn("n_lines", F.expr(f"(size(words) + {lw - 1}) div {lw}"))
    lines_arr = F.transform(
        F.sequence(F.lit(0).cast("long"), F.col("n_lines") - 1),
        lambda i: F.concat_ws(" ", F.slice("words", i * lw + 1, lw)),
    )
    hashed = base.select(
        "doc_id", F.posexplode(lines_arr).alias("pos", "line")
    ).withColumn("h", h60("line", "linededup"))
    dup = (
        hashed.groupBy("h")
        .agg(
            F.count("*").alias("total"),
            F.count_distinct("doc_id").alias("ndocs"),
        )
        .where((F.col("total") >= min_total) & (F.col("ndocs") >= min_docs))
        .select("h")
    )
    kept = hashed.join(dup, "h", "left_anti")
    agg = kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
        ).alias("clean_text"),
        F.count("*").cast("long").alias("n_kept"),
    )
    return (
        base.select("doc_id", "n_lines")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.col("n_lines").cast("long").alias("n_lines"),
            (F.col("n_lines") - F.coalesce("n_kept", F.lit(0)))
            .cast("long")
            .alias("n_removed"),
        )
    )


def pairwise_set_similarity(
    items: DataFrame,
    set_col: str = "set_id",
    item_col: str = "item",
    strategy: str = "auto",
) -> DataFrame:
    """Exact pairwise Jaccard similarity between sets sharing one item
    universe — the cross-corpus overlap diagnostic (how much duplicate
    mass two crawl snapshots / sources share) that decides which
    source pairs need a cross-dedup pass at all.

    ``strategy``:

    - ``'mask'``: set ids become bits of an int64 membership mask —
      the cheapest form, REQUIRES integer ids in [0, 63). Out-of-range
      ids raise at run time (``shiftleft`` would otherwise wrap
      silently and corrupt the mask).
    - ``'array'``: per-item sorted distinct-set-id arrays replace the
      masks — any number of sets, any non-null integer ids; set ids in
      the output are ``bigint``.
    - ``'auto'`` (default): ONE min/max aggregate over ``set_col`` at
      plan-build time picks ``'mask'`` when every id fits [0, 63),
      else ``'array'``.

    Scale shape (both forms): ONE hash aggregate per item builds the
    membership signature (``bit_or`` / ``collect_set`` both
    partial-aggregate, so a universal item map-side combines);
    signatures collapse to (signature, count) cells — at most 2^n_sets
    but in practice tiny; per-pair intersections come from a map-only
    pair explode of those cells (a k-set signature emits k(k-1)/2
    rows, bounded by the SET count, never the item count); per-set
    sizes come from the SAME signature cells (Σ cnt over cells
    containing the set — one corpus pass total; the duplicated cells
    reference collapses to one execution via exchange reuse);
    unions by inclusion-exclusion. Integer ppm Jaccard —
    bit-identical in the DuckDB replay. Pairs sharing no item are
    absent from the output (their Jaccard is 0). Duplicate
    (set, item) input rows are absorbed (bit_or / collect_set /
    count_distinct), so callers need not pre-dedup.
    """
    if strategy not in ("auto", "mask", "array"):
        raise ValueError("strategy must be 'auto', 'mask', or 'array'")
    if strategy == "auto":
        lo, hi = items.agg(
            F.min(set_col).cast("long"), F.max(set_col).cast("long")
        ).first()
        strategy = (
            "mask" if lo is None or (lo >= 0 and hi <= 62) else "array"
        )
    if strategy == "mask":
        sid = F.col(set_col).cast("int")
        checked = F.when((sid >= 0) & (sid < 63), sid).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "pairwise_set_similarity(mask): set id outside "
                        "[0, 63): "
                    ),
                    F.col(set_col).cast("string"),
                )
            ).cast("int")
        )
        masks = (
            items.select(F.col(item_col).alias("_item"), checked.alias("_sid"))
            .groupBy("_item")
            .agg(F.bit_or(F.expr("shiftleft(1L, _sid)")).alias("mask"))
        )
        cells = masks.groupBy("mask").agg(
            F.count("*").cast("long").alias("cnt")
        )
        bits = "filter(sequence(0, 62), b -> (mask & shiftleft(1L, b)) != 0)"
        pair_expr = (
            f"flatten(transform({bits}, i -> "
            f"transform(filter({bits}, b -> b > i), j -> struct(i, j))))"
        )
    else:
        sig = items.groupBy(item_col).agg(
            F.array_sort(
                F.collect_set(F.col(set_col).cast("long"))
            ).alias("ss")
        )
        cells = sig.groupBy("ss").agg(
            F.count("*").cast("long").alias("cnt")
        )
        pair_expr = (
            "flatten(transform(ss, (x, xi) -> "
            "transform(slice(ss, xi + 2, size(ss)), "
            "y -> struct(x AS i, y AS j))))"
        )
        single_expr = "ss"
    if strategy == "mask":
        single_expr = bits
    inter = (
        cells.select(F.explode(F.expr(pair_expr)).alias("p"), "cnt")
        .groupBy(F.col("p.i").alias("set_a"), F.col("p.j").alias("set_b"))
        .agg(F.sum("cnt").cast("long").alias("inter_items"))
    )
    # per-set sizes from the SAME tiny signature-cells relation:
    # |set b| = Σ cnt over cells whose signature contains b (cells
    # counts DISTINCT items per signature, so this equals the distinct
    # item count per set). Round 6: this replaces a second full pass
    # over the input (per-set count_distinct shuffle) — the cells
    # subtree is referenced twice but its exchanges are canonically
    # identical, so Spark's exchange reuse executes it once.
    sizes = (
        cells.select(
            F.explode(F.expr(single_expr)).alias("set_id"), "cnt"
        )
        .groupBy("set_id")
        .agg(F.sum("cnt").cast("long").alias("size"))
    )
    sa = sizes.select(F.col("set_id").alias("set_a"), F.col("size").alias("sz_a"))
    sb = sizes.select(F.col("set_id").alias("set_b"), F.col("size").alias("sz_b"))
    return (
        inter.join(F.broadcast(sa), "set_a")
        .join(F.broadcast(sb), "set_b")
        .select(
            "set_a",
            "set_b",
            "inter_items",
            (F.col("sz_a") + F.col("sz_b") - F.col("inter_items"))
            .cast("long")
            .alias("union_items"),
            F.expr(
                "inter_items * 1000000 div (sz_a + sz_b - inter_items)"
            )
            .cast("long")
            .alias("jaccard_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# banded Hamming near-dup search over integer signatures (SimHash side)
# ---------------------------------------------------------------------------


def banded_hamming_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "sig",
    *,
    bits: int = 48,
    max_hamming: int = 3,
    bands: int = 6,
    persisted_sink: list | None = None,
) -> DataFrame:
    """COMPLETE near-dup id pairs by Hamming distance over an integer
    signature column: every pair whose ``bits``-wide signatures differ
    in at most ``max_hamming`` bits, found without an all-pairs join.

    Generalizes the perceptual-hash band search
    (multimodal.phash_near_dups) to any signature width; the text-side
    consumer is :func:`simhash_near_dups`. Completeness is the
    pigeonhole guarantee: the signature splits into ``bands`` equal
    bit-bands, and two signatures differing in fewer than ``bands``
    bits must agree EXACTLY on at least one band — so a band-key
    equi-join finds every qualifying pair and the exact
    ``bit_count(xor)`` filter removes band-colliding far pairs
    (enforced: ``max_hamming < bands``).

    Scale shape: banding runs over DISTINCT signatures (the band join
    scales with signature diversity, not corpus size — template docs
    collapse first); equal-signature id pairs (Hamming 0) are emitted
    from the exact groups directly. Returns ``(id_a, id_b, hamming)``
    with ``id_a < id_b``.
    """
    if not 0 <= max_hamming < bands:
        raise ValueError("requires 0 <= max_hamming < bands (pigeonhole)")
    if bits % bands != 0:
        raise ValueError("bands must divide bits")
    if not 0 < bits <= 62:
        raise ValueError("bits must be in (0, 62] (signed int64 signatures)")
    width = bits // bands
    mask = (1 << width) - 1
    s = sigs.select(F.col(id_col).alias("__id"), F.col(sig_col).alias("__sig"))
    if persisted_sink is not None:
        from pyspark import StorageLevel

        # the signature relation is referenced four times (distinct
        # band build, both id attach sides, the equal-signature pass);
        # when its derivation is an aggregate (SimHash's bit votes),
        # recompute multiplies a full corpus aggregation per reference
        # — persist once, probe four times (the repo's leak-guard
        # pattern: caller unpersists after materializing)
        s = s.persist(StorageLevel.MEMORY_AND_DISK)
        persisted_sink.append(s)
    distinct_sigs = s.select("__sig").distinct()
    banded = distinct_sigs.select(
        "__sig",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), "
                f"r -> (__sig >> (r * {width})) & {mask}L)"
            )
        ).alias("band", "key"),
    )
    other = banded.select(F.col("__sig").alias("sb"), "band", "key")
    sig_pairs = (
        banded.join(other, ["band", "key"])
        .where(F.col("__sig") < F.col("sb"))
        .select(F.col("__sig").alias("sa"), "sb")
        .distinct()
        .withColumn("hamming", F.bit_count(F.expr("sa ^ sb")).cast("long"))
        .where(F.col("hamming") <= max_hamming)
    )
    ia = s.select(F.col("__sig").alias("sa"), F.col("__id").alias("ia"))
    ib = s.select(F.col("__sig").alias("sb"), F.col("__id").alias("ib"))
    cross = sig_pairs.join(ia, "sa").join(ib, "sb").select(
        F.least("ia", "ib").alias("id_a"),
        F.greatest("ia", "ib").alias("id_b"),
        "hamming",
    )
    same = (
        s.join(s.select(F.col("__sig"), F.col("__id").alias("ib")), "__sig")
        .where(F.col("__id") < F.col("ib"))
        .select(
            F.col("__id").alias("id_a"),
            F.col("ib").alias("id_b"),
            F.lit(0).cast("long").alias("hamming"),
        )
    )
    return cross.unionByName(same)


def simhash_near_dups(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    bits: int = 48,
    max_hamming: int = 3,
    bands: int = 6,
    persisted_sink: list | None = None,
) -> DataFrame:
    """Text near-dup pairs by SimHash Hamming distance — the
    sub-signature-collision complement of exact-SimHash grouping:
    :func:`simhash` gives each doc a ``bits``-wide bit-vote signature
    (near-identical token multisets agree on almost every bit), and the
    banded search finds every pair within ``max_hamming`` differing
    bits without an all-pairs join. Completes the text near-dup family:
    MinHash-LSH (probabilistic Jaccard), prefix-filter join (exact
    Jaccard), and SimHash banding (Hamming on weighted token votes —
    Charikar'02, the Google near-dup crawl signature of
    Manku-Jain-Sarma WWW'07).

    Returns ``(doc_a, doc_b, hamming)`` with ``doc_a < doc_b``.
    """
    sigs = simhash(docs, id_col=id_col, text_col=text_col, bits=bits)
    pairs = banded_hamming_pairs(
        sigs,
        id_col="doc_id",
        sig_col="simhash",
        bits=bits,
        max_hamming=max_hamming,
        bands=bands,
        persisted_sink=persisted_sink,
    )
    return pairs.select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        "hamming",
    )


def containment_prefix_join(
    docs: DataFrame,
    *,
    threshold_pct: int = 90,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle: int = 3,
    persisted_sink: list | None = None,
) -> DataFrame:
    """EXACT set-containment self-join at ``threshold_pct/100`` —
    ordered pairs where ``C(A→B) = |A ∩ B| / |A| >= t``. The
    ASYMMETRIC complement to :func:`jaccard_prefix_join`: Jaccard
    misses a short document wholly quoted inside a long one (the
    union term swamps it), while containment is exactly the
    quote/boilerplate-wrapper/subset-page detector (Broder's
    "roughly contained" relation, the ProbeCount/PPJoin containment
    variant).

    Candidate principle: give tokens the same global rarity order
    (ascending document frequency, then token). If ``C(A→B) >= t``
    then ``|A ∩ B| >= ceil(t·n_a)``, so A's prefix — its
    ``n_a − ceil(t·n_a) + 1`` rarest tokens — must intersect B's FULL
    set (if it missed, the intersection could only use A's remaining
    ``ceil(t·n_a) − 1`` tokens). Candidates therefore join A-PREFIX
    tokens against the full posting list — the probe side is each
    doc's rarest tokens, so the hot posting lists (common shingles)
    are probed only by docs made almost entirely of commoner tokens;
    the join stays bucketed by construction, never all-pairs.

    One lossless prune on the candidate rows — the size filter
    ``n_b >= ceil(t·n_a)`` (the intersection can never exceed
    ``n_b``). A one-sided A-rank "positional filter" would be
    algebraically identical to the prefix condition and prune nothing
    (a true containment positional filter needs B-side ranks, which
    would cost a second rank window over the full posting side), so
    none is applied.

    The verify is exact: ``size(array_intersect(toks_a, toks_b))``
    after two doc-keyed joins, keep ``100·n_inter >= t·n_a``
    (integer-equivalent to ``n_inter >= ceil(t·n_a/100)``). The
    DuckDB oracle replays the same prefix+size candidates + verify,
    on top of the brute-force pytest.

    Returns ``(doc_a, doc_b, n_inter, n_a, n_b, containment_pct)``
    with ``containment_pct = 100·n_inter div n_a`` (integer-exact).
    Same shuffle budget as the Jaccard form: token df aggregate, df
    join on token, one per-doc rank window, prefix×posting join,
    pair-scoped verify. ``persisted_sink`` persists the doc-set
    relation (it feeds the shingling AND both verify sides; the token
    relation is re-derived map-side from it per reference).
    """
    if not 1 <= threshold_pct <= 100:
        raise ValueError("threshold_pct must be in [1, 100]")
    from pyspark.sql.window import Window

    t = threshold_pct
    words = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    if shingle <= 1:
        grams = words
    else:
        grams = F.when(
            F.size(words) >= shingle,
            F.transform(
                F.sequence(F.lit(1), F.size(words) - (shingle - 1)),
                lambda i: F.array_join(F.slice(words, i, shingle), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))
    doc_sets = docs.select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(grams).alias("toks"),
    ).withColumn("n_tokens", F.size("toks"))
    if persisted_sink is not None:
        from pyspark import StorageLevel

        doc_sets = doc_sets.persist(StorageLevel.MEMORY_AND_DISK)
        persisted_sink.append(doc_sets)
    # toks is re-derived per reference from the persisted doc_sets —
    # a map-only explode of cached arrays; persisting it too (round 5)
    # only added a second, larger materialization pass
    toks = doc_sets.select(
        "doc_id", F.explode("toks").alias("token"), "n_tokens"
    )
    freq = toks.groupBy("token").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "token")
    need = F.expr(f"({t} * n_tokens + 99) div 100")
    pref = (
        toks.join(freq, "token")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= F.col("n_tokens") - need + F.lit(1))
        .select("doc_id", "token", "n_tokens")
    )
    pa = pref.select(
        F.col("doc_id").alias("doc_a"),
        "token",
        F.col("n_tokens").alias("n_a"),
    )
    pb = toks.select(
        F.col("doc_id").alias("doc_b"),
        "token",
        F.col("n_tokens").alias("n_b"),
    )
    need_a = F.expr(f"({t} * n_a + 99) div 100")
    # NOTE: a containment "positional filter" on the A-rank alone
    # (1 + n_a - rk_a >= need_a) is algebraically the prefix condition
    # itself (rk_a <= n_a - need_a + 1) and prunes nothing — it was
    # dropped in round 6; candidates are identical
    cand = (
        pa.join(pb, "token")
        .where(
            (F.col("doc_a") != F.col("doc_b")) & (F.col("n_b") >= need_a)
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = doc_sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("toks").alias("toks_a"),
        F.col("n_tokens").alias("n_a"),
    )
    sb = doc_sets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("toks").alias("toks_b"),
        F.col("n_tokens").alias("n_b"),
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("toks_a", "toks_b"))
            .cast("long")
            .alias("n_inter"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
        )
        .where(F.lit(100) * F.col("n_inter") >= F.lit(t) * F.col("n_a"))
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            "n_a",
            "n_b",
            F.expr("100 * n_inter div n_a").cast("long").alias(
                "containment_pct"
            ),
        )
    )
