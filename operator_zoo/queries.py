"""Query registry of the training-data operator zoo.

Paired (Spark builder, DuckDB oracle SQL) entries for the zoo's
operator families (dedup, similarity search, graph, curation,
sketches, relational/event breadth, streaming replays) over the
driver's TPC-H-ish tables. Column names/aliases match exactly on both
sides; values are engineered cross-engine-exact (portable md5 hashing,
integer-quantized similarity, epoch-second timestamps, struct-distinct
instead of string concat). Entries without an oracle (the winnowing
fingerprint, multimodal features) are rows-only; pytest covers their
correctness against sequential references.

These entries are not part of the extraction engine's registry
(``pdf_to_xls_vision_spark.plans.queries``, returned by
``__spark_entry__.queries()``); they reuse its table helpers only.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from operator_zoo.functions.ann import (
    embedding_near_dups,
    topk_dot_quantized,
    topk_ivf,
)
from operator_zoo.functions.dedup import (
    exact_duplicates,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash,
)
from operator_zoo.functions.hashing import h60, h60_sql
from operator_zoo.functions.text import (
    BPE_TOKEN_PATTERN,
    bpe_token_count_expr,
    lang_id_expr,
    lang_scores,
    quality_score_expr,
    token_count_expr,
    content_fingerprint_expr,
)
from pdf_to_xls_vision_spark.plans.queries import _EXPECTED, _corpus_df, _t, _t_wide

# ---------------------------------------------------------------------------
# dedup family
# ---------------------------------------------------------------------------

def q_exact_dedup(spark, sf_dir):
    return exact_duplicates(_t(spark, sf_dir, "documents"))


SQL_EXACT_DEDUP = f"""
SELECT {h60_sql('text', 'exact')} AS content_hash,
       count(*) AS n_copies,
       min(doc_id) AS canonical_doc_id
FROM documents GROUP BY 1
"""


def q_minhash_signatures(spark, sf_dir):
    return minhash_signatures(_t_wide(spark, sf_dir, "documents"))


def _minhash_mins_sql() -> str:
    """Shared CTE body: one md5 per token, affine seed derivations
    folded into a single grouped pass (mirrors dedup.minhash_signatures)."""
    from operator_zoo.functions.dedup import MINHASH_P, minhash_params

    mins = ",\n         ".join(
        f"min(({a} * base + {b}) % {MINHASH_P}) AS m{i}"
        for i, (a, b) in enumerate(minhash_params())
    )
    return f"""
toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
hashed AS (
  SELECT doc_id, {h60_sql('token', 'mh')} % {MINHASH_P} AS base
  FROM toks WHERE token <> ''
),
mins AS (
  SELECT doc_id,
         {mins}
  FROM hashed GROUP BY doc_id
)"""


SQL_MINHASH_SIGNATURES = f"""
WITH {_minhash_mins_sql()}
SELECT doc_id,
       unnest([{', '.join(str(i) for i in range(8))}])::INT AS seed,
       unnest([{', '.join(f'm{i}' for i in range(8))}])::BIGINT AS minhash
FROM mins
"""


# The formerly-registered *uncapped* LSH variant (max_bucket_size=None)
# was dropped from the registry in round 3: its plan is quadratic in
# hot-bucket size by construction, so registering it invited a future
# bench or user to inherit a non-scale-safe query. The bucket cap is
# now part of the checked semantics — the oracle below expresses it as
# a windowed-count filter, so parity is verified on the PRODUCTION
# path. (`lsh_candidate_pairs(..., max_bucket_size=None)` remains
# available as a library opt-out and is covered by pytest.)

LSH_BUCKET_CAP = 256


def q_lsh_pairs_capped(spark, sf_dir):
    """LSH candidates with the production bucket cap: degenerate
    buckets (k docs -> k^2/2 pairs, no dedup signal) are dropped
    before the self-join — the skew guard that keeps LSH linear-ish
    at corpus scale."""
    sigs = minhash_signatures(_t_wide(spark, sf_dir, "documents"))
    return lsh_candidate_pairs(sigs, band_rows=4, max_bucket_size=LSH_BUCKET_CAP)


SQL_LSH_PAIRS_CAPPED = f"""
WITH {{mins}},
bands AS (
  SELECT doc_id, 0 AS band,
         m0::VARCHAR || ',' || m1::VARCHAR || ',' || m2::VARCHAR || ',' || m3::VARCHAR AS sig
  FROM mins
  UNION ALL
  SELECT doc_id, 1 AS band,
         m4::VARCHAR || ',' || m5::VARCHAR || ',' || m6::VARCHAR || ',' || m7::VARCHAR AS sig
  FROM mins
),
kept AS (
  SELECT doc_id, band, sig FROM bands
  QUALIFY count(*) OVER (PARTITION BY band, sig) <= {LSH_BUCKET_CAP}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM kept a JOIN kept b
  ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
"""


def q_dedup_clusters(spark, sf_dir):
    """Cluster resolution — the step a real 100 TB dedup run executes
    after LSH: connected components (large-star/small-star, O(log n)
    shuffle rounds) over the capped candidate pairs, then every doc
    mapped to its canonical representative (min doc_id per cluster;
    singletons map to themselves)."""
    from operator_zoo.functions.cluster import dedup_clusters

    docs = _t_wide(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs)
    pairs = lsh_candidate_pairs(sigs, band_rows=4, max_bucket_size=LSH_BUCKET_CAP)
    return dedup_clusters(docs, pairs)


# DuckDB replays the closure with a recursive CTE: reach(node, label)
# enumerates every (node, reachable-node) pair over the symmetrized
# capped-LSH edges; min(label) per node is the component representative.
SQL_DEDUP_CLUSTERS = """
WITH RECURSIVE {mins},
bands AS (
  SELECT doc_id, 0 AS band,
         m0::VARCHAR || ',' || m1::VARCHAR || ',' || m2::VARCHAR || ',' || m3::VARCHAR AS sig
  FROM mins
  UNION ALL
  SELECT doc_id, 1 AS band,
         m4::VARCHAR || ',' || m5::VARCHAR || ',' || m6::VARCHAR || ',' || m7::VARCHAR AS sig
  FROM mins
),
kept AS (
  SELECT doc_id, band, sig FROM bands
  QUALIFY count(*) OVER (PARTITION BY band, sig) <= {cap}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM kept a JOIN kept b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM cand
  UNION
  SELECT doc_b AS u, doc_a AS v FROM cand
),
reach(node, label) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.u, r.label FROM edges e JOIN reach r ON r.node = e.v
),
comp AS (SELECT node, min(label) AS component FROM reach GROUP BY node)
SELECT d.doc_id,
       coalesce(c.component, d.doc_id) AS cluster_rep,
       CASE WHEN coalesce(c.component, d.doc_id) = d.doc_id
            THEN 1 ELSE 0 END AS is_canonical
FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
"""


def q_simhash(spark, sf_dir):
    return simhash(_t_wide(spark, sf_dir, "documents"))


def _simhash_sql(bits: int = 16) -> str:
    votes = ", ".join(
        f"sum(CASE WHEN (th >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(bits)
    )
    folded = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN {2**i} ELSE 0 END)" for i in range(bits)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
hashed AS (
  SELECT doc_id, {h60_sql('token', 'sh')} AS th FROM toks WHERE token <> ''
),
votes AS (SELECT doc_id, {votes} FROM hashed GROUP BY doc_id)
SELECT doc_id, ({folded})::BIGINT AS simhash FROM votes
"""


SQL_SIMHASH = _simhash_sql()


def q_jaccard_neighbors(spark, sf_dir):
    """Exact unigram Jaccard for the consecutive-id candidate pairs (in
    production the LSH candidates feed this)."""
    docs = _t_wide(spark, sf_dir, "documents")
    ids = docs.select("doc_id")
    pairs = (
        ids.alias("a")
        .join(
            ids.alias("b"),
            F.col("b.doc_id") == F.col("a.doc_id") + 1,
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    return jaccard_pairs(docs, pairs)


def q_jaccard_bigram(spark, sf_dir):
    """n-gram (bigram) Jaccard on the same consecutive-id candidate
    pairs — the shingled variant of dedup_jaccard_neighbors."""
    docs = _t_wide(spark, sf_dir, "documents")
    ids = docs.select("doc_id")
    pairs = (
        ids.alias("a")
        .join(ids.alias("b"), F.col("b.doc_id") == F.col("a.doc_id") + 1)
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    return jaccard_pairs(docs, pairs, shingle=2)


SQL_JACCARD_BIGRAM = """
WITH words AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
  FROM documents
),
toks2 AS (
  SELECT DISTINCT doc_id,
         unnest([w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]) AS token
  FROM words WHERE len(w) >= 2
),
sizes AS (SELECT doc_id, count(*) AS n FROM toks2 GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
),
inter AS (
  SELECT p.doc_a, p.doc_b, count(*) AS n_inter
  FROM pairs p
  JOIN toks2 ta ON ta.doc_id = p.doc_a
  JOIN toks2 tb ON tb.doc_id = p.doc_b AND tb.token = ta.token
  GROUP BY p.doc_a, p.doc_b
)
SELECT p.doc_a, p.doc_b,
       coalesce(i.n_inter, 0) AS n_inter,
       sa.n + sb.n - coalesce(i.n_inter, 0) AS n_union,
       round(coalesce(i.n_inter, 0) / CAST(sa.n + sb.n - coalesce(i.n_inter, 0) AS DOUBLE), 6) AS jaccard
FROM pairs p
LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
JOIN sizes sa ON sa.doc_id = p.doc_a
JOIN sizes sb ON sb.doc_id = p.doc_b
"""


SQL_JACCARD_NEIGHBORS = """
WITH toks AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
  FROM documents
),
toks2 AS (SELECT doc_id, token FROM toks WHERE token <> ''),
sizes AS (SELECT doc_id, count(*) AS n FROM toks2 GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
),
inter AS (
  SELECT p.doc_a, p.doc_b, count(*) AS n_inter
  FROM pairs p
  JOIN toks2 ta ON ta.doc_id = p.doc_a
  JOIN toks2 tb ON tb.doc_id = p.doc_b AND tb.token = ta.token
  GROUP BY p.doc_a, p.doc_b
)
SELECT p.doc_a, p.doc_b,
       coalesce(i.n_inter, 0) AS n_inter,
       sa.n + sb.n - coalesce(i.n_inter, 0) AS n_union,
       round(coalesce(i.n_inter, 0) / CAST(sa.n + sb.n - coalesce(i.n_inter, 0) AS DOUBLE), 6) AS jaccard
FROM pairs p
LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
JOIN sizes sa ON sa.doc_id = p.doc_a
JOIN sizes sb ON sb.doc_id = p.doc_b
"""


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

N_PROBES = 5
TOP_K = 5


def q_ann_brute_force(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < N_PROBES)
    return topk_dot_quantized(emb, probes, k=TOP_K)


SQL_ANN_BRUTE = f"""
WITH q AS (
  SELECT vec_id AS query_id,
         [floor(CAST(x AS DOUBLE) * 1000)::BIGINT FOR x IN embedding] AS qv
  FROM embeddings WHERE vec_id < {N_PROBES}
),
base AS (
  SELECT vec_id AS nbr_id,
         [floor(CAST(x AS DOUBLE) * 1000)::BIGINT FOR x IN embedding] AS nv
  FROM embeddings
),
scored AS (
  SELECT q.query_id, base.nbr_id,
         list_sum([qv[i] * nv[i] FOR i IN range(1, len(qv) + 1)])::BIGINT AS qdot
  FROM q, base WHERE q.query_id <> base.nbr_id
),
ranked AS (
  SELECT query_id, nbr_id, qdot,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY qdot DESC, nbr_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank::INT AS rank, nbr_id, qdot
FROM ranked WHERE rank <= {TOP_K}
"""


def q_ann_ivf(spark, sf_dir):
    emb = _t_wide(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < N_PROBES)
    return topk_ivf(emb, probes, k=TOP_K)


SQL_ANN_IVF = f"""
WITH q AS (
  SELECT label AS cell, vec_id AS query_id,
         [floor(CAST(x AS DOUBLE) * 1000)::BIGINT FOR x IN embedding] AS qv
  FROM embeddings WHERE vec_id < {N_PROBES}
),
base AS (
  SELECT label AS cell, vec_id AS nbr_id,
         [floor(CAST(x AS DOUBLE) * 1000)::BIGINT FOR x IN embedding] AS nv
  FROM embeddings
),
scored AS (
  SELECT q.query_id, base.nbr_id,
         list_sum([qv[i] * nv[i] FOR i IN range(1, len(qv) + 1)])::BIGINT AS qdot
  FROM q JOIN base USING (cell) WHERE q.query_id <> base.nbr_id
),
ranked AS (
  SELECT query_id, nbr_id, qdot,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY qdot DESC, nbr_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank::INT AS rank, nbr_id, qdot
FROM ranked WHERE rank <= {TOP_K}
"""


def _kmeans_cte(k: int, iterations: int) -> str:
    """Unrolled Lloyd's as a DuckDB CTE chain — the oracle replays
    Spark's deterministic k-means (functions/ann.py:kmeans_train)
    bit-for-bit: same farthest-point (maximin) init from the min-id
    vector, same exact int64 squared-L2 with ties to the lowest cell,
    same floor(sum/count) update with empty cells keeping their
    centroid. Ends with ``asg_final`` (vid, qv, cell) and
    ``cent{iterations}``."""
    dist = (
        "list_sum([(v.qv[i] - c.cent[i]) * (v.qv[i] - c.cent[i]) "
        "FOR i IN range(1, len(v.qv) + 1)])"
    )

    def _d(to: str) -> str:
        return (
            f"list_sum([(v.qv[i] - {to}[i]) * (v.qv[i] - {to}[i]) "
            "FOR i IN range(1, len(v.qv) + 1)])"
        )

    # farthest-point init: f0 = min-id vector; f_{j+1} maximizes the
    # min distance to f_0..f_j (ties to the lowest id)
    init = ["f0 AS MATERIALIZED (SELECT qv AS c0 FROM vecs ORDER BY vid LIMIT 1)"]
    for j in range(1, k):
        joins = " CROSS JOIN ".join(f"f{i}" for i in range(j))
        dists = [_d(f"c{i}") for i in range(j)]
        mind = dists[0] if j == 1 else f"least({', '.join(dists)})"
        init.append(
            f"""f{j} AS MATERIALIZED (
  SELECT v.qv AS c{j} FROM vecs v CROSS JOIN {joins}
  ORDER BY {mind} DESC, v.vid ASC LIMIT 1
)"""
        )
    seeds = "\n  UNION ALL\n  ".join(
        f"SELECT {j}::INT AS cell, c{j} AS cent FROM f{j}" for j in range(k)
    )
    init_sql = ",\n".join(init)
    parts = [
        f"""vecs AS MATERIALIZED (
  SELECT vec_id AS vid,
         [floor(CAST(x AS DOUBLE) * 1000)::BIGINT FOR x IN embedding] AS qv
  FROM embeddings
),
{init_sql},
cent0 AS MATERIALIZED (
  {seeds}
)"""
    ]
    for r in range(iterations):
        parts.append(
            f"""asg{r} AS MATERIALIZED (
  SELECT vid, qv, cell FROM (
    SELECT v.vid, v.qv, c.cell,
           row_number() OVER (PARTITION BY v.vid ORDER BY {dist}, c.cell) AS rn
    FROM vecs v CROSS JOIN cent{r} c
  ) WHERE rn = 1
),
sums{r} AS MATERIALIZED (
  SELECT cell, pos, floor(sum(val)::DOUBLE / count(*))::BIGINT AS cm
  FROM (SELECT cell, unnest(qv) AS val, generate_subscripts(qv, 1) AS pos
        FROM asg{r})
  GROUP BY cell, pos
),
cent{r + 1} AS MATERIALIZED (
  SELECT cell, list(cm ORDER BY pos) AS cent FROM sums{r} GROUP BY cell
  UNION ALL
  SELECT c.cell, c.cent FROM cent{r} c
  WHERE c.cell NOT IN (SELECT DISTINCT cell FROM sums{r})
)"""
        )
    parts.append(
        f"""asg_final AS MATERIALIZED (
  SELECT vid, qv, cell FROM (
    SELECT v.vid, v.qv, c.cell,
           row_number() OVER (PARTITION BY v.vid ORDER BY {dist}, c.cell) AS rn
    FROM vecs v CROSS JOIN cent{iterations} c
  ) WHERE rn = 1
)"""
    )
    return ",\n".join(parts)


def q_kmeans_cells(spark, sf_dir):
    """The k-means IVF *assignment* itself (no pre-labeled column):
    train deterministic Lloyd's centroids, tag every vector with its
    cell — directly oracle-checks the training."""
    from operator_zoo.functions.ann import (
        KMEANS_ITERS,
        KMEANS_K,
        assign_cells,
        kmeans_train,
    )

    emb = _t_wide(spark, sf_dir, "embeddings")
    centroids = kmeans_train(emb, k=KMEANS_K, iterations=KMEANS_ITERS)
    return assign_cells(emb, centroids).select("vec_id", "cell")


def _sql_kmeans_cells() -> str:
    from operator_zoo.functions.ann import KMEANS_ITERS, KMEANS_K

    return f"""
WITH {_kmeans_cte(KMEANS_K, KMEANS_ITERS)}
SELECT vid AS vec_id, cell FROM asg_final
"""


def q_ann_ivf_kmeans(spark, sf_dir):
    """IVF top-k over trained k-means cells — the fully self-contained
    scale path (topk_ivf consumes a pre-existing label; this trains)."""
    from operator_zoo.functions.ann import topk_ivf_kmeans

    emb = _t_wide(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < N_PROBES)
    return topk_ivf_kmeans(emb, probes, k=TOP_K)


def _sql_ann_ivf_kmeans() -> str:
    from operator_zoo.functions.ann import KMEANS_ITERS, KMEANS_K

    return f"""
WITH {_kmeans_cte(KMEANS_K, KMEANS_ITERS)},
scored AS (
  SELECT q.vid AS query_id, b.vid AS nbr_id,
         list_sum([q.qv[i] * b.qv[i] FOR i IN range(1, len(q.qv) + 1)])::BIGINT AS qdot
  FROM asg_final q JOIN asg_final b USING (cell)
  WHERE q.vid < {N_PROBES} AND q.vid <> b.vid
),
ranked AS (
  SELECT query_id, nbr_id, qdot,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY qdot DESC, nbr_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank::INT AS rank, nbr_id, qdot
FROM ranked WHERE rank <= {TOP_K}
"""


# The synthetic embeddings are random near-orthogonal unit vectors
# (max in-cell cosine ~0.47), so the demo threshold sits where the
# operator produces real pairs; production near-dup uses 0.9+.
NEAR_DUP_THRESHOLD = 0.35


def q_embedding_near_dups_kmeans(spark, sf_dir):
    """Embedding near-dup pairs bucketed by *trained* k-means cells —
    the fully self-contained variant (dedup_embedding_cosine consumes
    the pre-existing label column)."""
    from operator_zoo.functions.ann import (
        KMEANS_ITERS,
        KMEANS_K,
        assign_cells,
        kmeans_train,
    )

    emb = _t_wide(spark, sf_dir, "embeddings")
    centroids = kmeans_train(emb, k=KMEANS_K, iterations=KMEANS_ITERS)
    tagged = assign_cells(emb, centroids)
    return embedding_near_dups(
        tagged, threshold=NEAR_DUP_THRESHOLD, cell_col="cell"
    )


def _sql_embedding_near_dups_kmeans() -> str:
    from operator_zoo.functions.ann import KMEANS_ITERS, KMEANS_K

    return f"""
WITH {_kmeans_cte(KMEANS_K, KMEANS_ITERS)},
normed AS (
  SELECT cell, vid, qv,
         list_sum([qv[i] * qv[i] FOR i IN range(1, len(qv) + 1)])::BIGINT AS n2
  FROM asg_final
),
pairs AS (
  SELECT a.vid AS vec_a, b.vid AS vec_b,
         list_sum([a.qv[i] * b.qv[i] FOR i IN range(1, len(a.qv) + 1)])::BIGINT
           / sqrt(CAST(a.n2 * b.n2 AS DOUBLE)) AS cos_raw
  FROM normed a JOIN normed b ON a.cell = b.cell AND a.vid < b.vid
)
SELECT vec_a, vec_b, round(cos_raw, 6) AS cosine_q
FROM pairs WHERE cos_raw >= {NEAR_DUP_THRESHOLD}
"""


#: Balanced-trainer registry parameters: balance_factor 1.1 puts the
#: split cap at 1.1 * n/k, which real hot cells of the sf embeddings
#: exceed (sf0.01: max cell 77 vs cap 68.75 — splits actually fire),
#: while max_splits=2 keeps the unrolled oracle SQL bounded.
BAL_SPLITS = 2
BAL_FACTOR = 1.1


def _kmeans_balanced_cte(
    k: int, iterations: int, max_splits: int, balance_factor: float
) -> str:
    """Unrolled balanced k-means (functions/ann.py:kmeans_train_balanced)
    as a DuckDB CTE chain on top of :func:`_kmeans_cte`'s Lloyd replay.

    Each split round replays, bit-for-bit: fresh assignment + cell
    sizes; hot cell = largest cell exceeding ``balance_factor * n / k``
    (ties to the lowest index); 2-means on the hot cell's members
    (maximin init from the min-vid member, ``iterations`` Lloyd rounds);
    retire the emptiest other cell (ties to the lowest index); renumber
    survivors in order with the two children appended at k-2, k-1; one
    global refinement iteration. Rounds where no cell exceeds the cap
    pass the centroids through unchanged (the Python ``break`` — once
    no cell exceeds the cap, recomputing on unchanged centroids keeps
    deciding no-split, so the cascade is equivalent). Ends with
    ``basg_final`` (vid, qv, cell) against ``bcent{max_splits}``.
    """
    dist = (
        "list_sum([(v.qv[i] - c.cent[i]) * (v.qv[i] - c.cent[i]) "
        "FOR i IN range(1, len(v.qv) + 1)])"
    )

    def _asg(name: str, src: str, cent: str) -> str:
        return f"""{name} AS MATERIALIZED (
  SELECT vid, qv, cell FROM (
    SELECT v.vid, v.qv, c.cell,
           row_number() OVER (PARTITION BY v.vid ORDER BY {dist}, c.cell) AS rn
    FROM {src} v CROSS JOIN {cent} c
  ) WHERE rn = 1
)"""

    def _lloyd_round(asg: str, sums: str, cent_in: str, cent_out: str) -> str:
        return f"""{sums} AS MATERIALIZED (
  SELECT cell, pos, floor(sum(val)::DOUBLE / count(*))::BIGINT AS cm
  FROM (SELECT cell, unnest(qv) AS val, generate_subscripts(qv, 1) AS pos
        FROM {asg})
  GROUP BY cell, pos
),
{cent_out} AS MATERIALIZED (
  SELECT cell, list(cm ORDER BY pos) AS cent FROM {sums} GROUP BY cell
  UNION ALL
  SELECT c.cell, c.cent FROM {cent_in} c
  WHERE c.cell NOT IN (SELECT DISTINCT cell FROM {sums})
)"""

    parts = [_kmeans_cte(k, iterations)]
    parts.append(
        f"bcent0 AS MATERIALIZED (SELECT cell, cent FROM cent{iterations})"
    )
    for r in range(max_splits):
        parts.append(_asg(f"basg{r}", "vecs", f"bcent{r}"))
        parts.append(
            f"""bsz{r} AS MATERIALIZED (
  SELECT cell, count(*) AS n FROM basg{r} GROUP BY cell
),
bhot{r} AS MATERIALIZED (
  SELECT cell FROM bsz{r}
  WHERE n > ({balance_factor!r}::DOUBLE
             * (SELECT count(*)::DOUBLE FROM vecs)) / {k}
  ORDER BY n DESC, cell ASC LIMIT 1
),
bmem{r} AS MATERIALIZED (
  SELECT a.vid, a.qv FROM basg{r} a JOIN bhot{r} h ON a.cell = h.cell
),
bm{r}f0 AS MATERIALIZED (SELECT qv AS c0 FROM bmem{r} ORDER BY vid LIMIT 1),
bm{r}f1 AS MATERIALIZED (
  SELECT v.qv AS c1 FROM bmem{r} v CROSS JOIN bm{r}f0
  ORDER BY list_sum([(v.qv[i] - c0[i]) * (v.qv[i] - c0[i])
                     FOR i IN range(1, len(v.qv) + 1)]) DESC,
           v.vid ASC LIMIT 1
),
bmc{r}_0 AS MATERIALIZED (
  SELECT 0::INT AS cell, c0 AS cent FROM bm{r}f0
  UNION ALL
  SELECT 1::INT AS cell, c1 AS cent FROM bm{r}f1
)"""
        )
        for i in range(iterations):
            parts.append(_asg(f"bmasg{r}_{i}", f"bmem{r}", f"bmc{r}_{i}"))
            parts.append(
                _lloyd_round(
                    f"bmasg{r}_{i}", f"bmsums{r}_{i}",
                    f"bmc{r}_{i}", f"bmc{r}_{i + 1}",
                )
            )
        parts.append(
            f"""bempty{r} AS MATERIALIZED (
  SELECT c.cell FROM bcent{r} c CROSS JOIN bhot{r} h
  LEFT JOIN bsz{r} s ON s.cell = c.cell
  WHERE c.cell <> h.cell
  ORDER BY coalesce(s.n, 0) ASC, c.cell ASC LIMIT 1
),
bnew{r} AS MATERIALIZED (
  SELECT cell, cent FROM (
    SELECT (row_number() OVER (ORDER BY c.cell) - 1)::INT AS cell,
           c.cent AS cent
    FROM bcent{r} c CROSS JOIN bhot{r} h CROSS JOIN bempty{r} e
    WHERE c.cell <> h.cell AND c.cell <> e.cell
  )
  UNION ALL
  SELECT ({k - 2} + m.cell)::INT AS cell, m.cent
  FROM bmc{r}_{iterations} m CROSS JOIN bhot{r}
)"""
        )
        parts.append(_asg(f"brasg{r}", "vecs", f"bnew{r}"))
        parts.append(
            _lloyd_round(f"brasg{r}", f"brsums{r}", f"bnew{r}", f"brc{r}")
        )
        parts.append(
            f"""bcent{r + 1} AS MATERIALIZED (
  SELECT cell, cent FROM brc{r} WHERE EXISTS (SELECT 1 FROM bhot{r})
  UNION ALL
  SELECT cell, cent FROM bcent{r} WHERE NOT EXISTS (SELECT 1 FROM bhot{r})
)"""
        )
    parts.append(_asg("basg_final", "vecs", f"bcent{max_splits}"))
    return ",\n".join(parts)


def q_kmeans_cells_balanced(spark, sf_dir):
    """The balanced-trainer assignment itself: hot-cell split + retire
    rounds on top of Lloyd's, every vector tagged with its final cell —
    the oracle directly checks the production quantizer the BENCH
    recall curves advertise."""
    from operator_zoo.functions.ann import (
        KMEANS_ITERS,
        KMEANS_K,
        assign_cells,
        kmeans_train_balanced,
    )

    emb = _t_wide(spark, sf_dir, "embeddings")
    centroids = kmeans_train_balanced(
        emb, k=KMEANS_K, iterations=KMEANS_ITERS,
        balance_factor=BAL_FACTOR, max_splits=BAL_SPLITS,
    )
    return assign_cells(emb, centroids).select("vec_id", "cell")


def _sql_kmeans_cells_balanced() -> str:
    from operator_zoo.functions.ann import KMEANS_ITERS, KMEANS_K

    return f"""
WITH {_kmeans_balanced_cte(KMEANS_K, KMEANS_ITERS, BAL_SPLITS, BAL_FACTOR)}
SELECT vid AS vec_id, cell FROM basg_final
"""


def q_ann_ivf_balanced(spark, sf_dir):
    """IVF top-k over the BALANCED trainer's cells — the production
    quantizer path (kmeans_train_balanced -> topk_ivf_kmeans with
    pre-trained centroids)."""
    from operator_zoo.functions.ann import (
        KMEANS_ITERS,
        KMEANS_K,
        kmeans_train_balanced,
        topk_ivf_kmeans,
    )

    emb = _t_wide(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < N_PROBES)
    centroids = kmeans_train_balanced(
        emb, k=KMEANS_K, iterations=KMEANS_ITERS,
        balance_factor=BAL_FACTOR, max_splits=BAL_SPLITS,
    )
    return topk_ivf_kmeans(emb, probes, k=TOP_K, centroids=centroids)


def _sql_ann_ivf_balanced() -> str:
    from operator_zoo.functions.ann import KMEANS_ITERS, KMEANS_K

    return f"""
WITH {_kmeans_balanced_cte(KMEANS_K, KMEANS_ITERS, BAL_SPLITS, BAL_FACTOR)},
scored AS (
  SELECT q.vid AS query_id, b.vid AS nbr_id,
         list_sum([q.qv[i] * b.qv[i] FOR i IN range(1, len(q.qv) + 1)])::BIGINT AS qdot
  FROM basg_final q JOIN basg_final b USING (cell)
  WHERE q.vid < {N_PROBES} AND q.vid <> b.vid
),
ranked AS (
  SELECT query_id, nbr_id, qdot,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY qdot DESC, nbr_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank::INT AS rank, nbr_id, qdot
FROM ranked WHERE rank <= {TOP_K}
"""


#: Probe-aware IVF candidate budget: the bound-pruned search visits at
#: most this many cells per probe and is provably bit-identical to a
#: fixed nprobe fan-out of the same width (functions/ann.py
#: topk_ivf_probe_aware) — which is exactly what the oracle replays.
PROBE_AWARE_NPROBE = 4


def q_ann_ivf_probe_aware(spark, sf_dir):
    """Bound-pruned multi-probe IVF search: nearest cell first, then
    only candidate cells whose Cauchy-Schwarz upper bound can still
    beat the running k-th best. Lossless vs nprobe=4 fan-out (the
    oracle), cheaper in scanned cells."""
    from operator_zoo.functions.ann import topk_ivf_probe_aware

    emb = _t_wide(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < N_PROBES)
    return topk_ivf_probe_aware(
        emb, probes, k=TOP_K, nprobe_max=PROBE_AWARE_NPROBE
    )


def _sql_ann_ivf_probe_aware() -> str:
    from operator_zoo.functions.ann import KMEANS_ITERS, KMEANS_K

    dist = (
        "list_sum([(v.qv[i] - c.cent[i]) * (v.qv[i] - c.cent[i]) "
        "FOR i IN range(1, len(v.qv) + 1)])"
    )
    return f"""
WITH {_kmeans_cte(KMEANS_K, KMEANS_ITERS)},
pq AS (
  SELECT vid, qv, cell FROM (
    SELECT v.vid, v.qv, c.cell,
           row_number() OVER (PARTITION BY v.vid ORDER BY {dist}, c.cell) AS rn
    FROM vecs v CROSS JOIN cent{KMEANS_ITERS} c
    WHERE v.vid < {N_PROBES}
  ) WHERE rn <= {PROBE_AWARE_NPROBE}
),
scored AS (
  SELECT pq.vid AS query_id, b.vid AS nbr_id,
         list_sum([pq.qv[i] * b.qv[i] FOR i IN range(1, len(pq.qv) + 1)])::BIGINT AS qdot
  FROM pq JOIN asg_final b USING (cell)
  WHERE pq.vid <> b.vid
),
ranked AS (
  SELECT query_id, nbr_id, qdot,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY qdot DESC, nbr_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank::INT AS rank, nbr_id, qdot
FROM ranked WHERE rank <= {TOP_K}
"""


#: The driver embeddings are 64-dimensional (FIXTURES.md §6).
EMB_DIM = 64


def q_embedding_lsh(spark, sf_dir):
    """Cosine-LSH (random-hyperplane / Charikar) near-dup candidates
    with exact integer-quantized cosine verification — the
    cosine-space sibling of the MinHash banded LSH: no cell column and
    no training required, signatures are map-only dot products against
    broadcast integer hyperplanes. Approximate recall (a qualifying
    pair must share one signature band), exact precision (candidates
    are verified against the threshold) — the standard LSH contract,
    and deterministic end-to-end, so the oracle replays it exactly."""
    from operator_zoo.functions.ann import cosine_lsh_pairs

    return cosine_lsh_pairs(
        _t_wide(spark, sf_dir, "embeddings"),
        dim=EMB_DIM,
        threshold=NEAR_DUP_THRESHOLD,
    )


def _sql_embedding_lsh() -> str:
    from operator_zoo.functions.ann import (
        RP_BAND_BITS,
        RP_BITS,
        RP_MAX_BUCKET,
        rp_planes,
    )

    planes = rp_planes(RP_BITS, EMB_DIM)
    bit_exprs = ",\n         ".join(
        f"CASE WHEN list_dot_product(qv, {plane}) >= 0 THEN 1 ELSE 0 END AS b{i}"
        for i, plane in enumerate(planes)
    )
    n_bands = RP_BITS // RP_BAND_BITS
    band_rows = []
    for b in range(n_bands):
        terms = " + ".join(
            f"b{b * RP_BAND_BITS + i} * {1 << (RP_BAND_BITS - 1 - i)}"
            for i in range(RP_BAND_BITS)
        )
        band_rows.append(
            f"SELECT vid, qv, {b} AS band, ({terms})::BIGINT AS key FROM sig"
        )
    bands_sql = "\n  UNION ALL\n  ".join(band_rows)
    return f"""
WITH q AS (
  SELECT vec_id AS vid,
         [floor(CAST(x AS DOUBLE) * 1000)::BIGINT FOR x IN embedding] AS qv
  FROM embeddings
),
sig AS (
  SELECT vid, qv,
         {bit_exprs}
  FROM q
),
bands AS (
  {bands_sql}
),
kept AS (
  SELECT vid, qv, band, key FROM bands
  QUALIFY count(*) OVER (PARTITION BY band, key) <= {RP_MAX_BUCKET}
),
cand AS (
  SELECT DISTINCT a.vid AS vec_a, b.vid AS vec_b
  FROM kept a JOIN kept b
    ON a.band = b.band AND a.key = b.key AND a.vid < b.vid
),
normed AS (
  SELECT vid, qv,
         list_sum([qv[i] * qv[i] FOR i IN range(1, len(qv) + 1)])::BIGINT AS n2
  FROM q
),
pairs AS (
  SELECT c.vec_a, c.vec_b,
         list_sum([x.qv[i] * y.qv[i] FOR i IN range(1, len(x.qv) + 1)])::BIGINT
           / sqrt(CAST(x.n2 * y.n2 AS DOUBLE)) AS cos_raw
  FROM cand c
  JOIN normed x ON x.vid = c.vec_a
  JOIN normed y ON y.vid = c.vec_b
)
SELECT vec_a, vec_b, round(cos_raw, 6) AS cosine_q
FROM pairs WHERE cos_raw >= {NEAR_DUP_THRESHOLD}
"""


def _pq_cte(
    m: int, k_codes: int, iterations: int, dim: int, src: str = "vecs"
) -> str:
    """Unrolled per-subspace PQ training + encoding as DuckDB CTEs —
    replays :func:`functions.pq.pq_train` / ``pq_encode`` bit-for-bit
    (first-k-distinct init ordered by min vid, exact int64 Lloyd with
    floor(sum/count) updates, argmin encode with ties to the lowest
    code). Assumes a ``{src} (vid, qv)`` CTE is already defined (raw
    quantized vectors for direct PQ, coarse-quantizer residuals for
    IVFPQ-with-residuals). Ends with ``pq{{s}}_code (vid, code)`` per
    subspace and the final codebooks ``pq{{s}}_cent{iterations}``."""
    dist = (
        "list_sum([(v.qv[i] - c.cent[i]) * (v.qv[i] - c.cent[i]) "
        "FOR i IN range(1, len(v.qv) + 1)])"
    )
    ds = dim // m
    parts = []
    for s in range(m):
        a, b = s * ds + 1, (s + 1) * ds
        parts.append(
            f"""sub{s} AS MATERIALIZED (
  SELECT vid, qv[{a}:{b}] AS qv FROM {src}
),
pq{s}_cent0 AS MATERIALIZED (
  SELECT (row_number() OVER (ORDER BY mv))::INT - 1 AS cell, cent
  FROM (SELECT qv AS cent, min(vid) AS mv FROM sub{s}
        GROUP BY qv ORDER BY mv LIMIT {k_codes})
)"""
        )
        for r in range(iterations):
            parts.append(
                f"""pq{s}_asg{r} AS MATERIALIZED (
  SELECT vid, qv, cell FROM (
    SELECT v.vid, v.qv, c.cell,
           row_number() OVER (PARTITION BY v.vid ORDER BY {dist}, c.cell) AS rn
    FROM sub{s} v CROSS JOIN pq{s}_cent{r} c
  ) WHERE rn = 1
),
pq{s}_sums{r} AS MATERIALIZED (
  SELECT cell, pos, floor(sum(val)::DOUBLE / count(*))::BIGINT AS cm
  FROM (SELECT cell, unnest(qv) AS val, generate_subscripts(qv, 1) AS pos
        FROM pq{s}_asg{r})
  GROUP BY cell, pos
),
pq{s}_cent{r + 1} AS MATERIALIZED (
  SELECT cell, list(cm ORDER BY pos) AS cent FROM pq{s}_sums{r} GROUP BY cell
  UNION ALL
  SELECT c.cell, c.cent FROM pq{s}_cent{r} c
  WHERE c.cell NOT IN (SELECT DISTINCT cell FROM pq{s}_sums{r})
)"""
            )
        parts.append(
            f"""pq{s}_code AS MATERIALIZED (
  SELECT vid, cell AS code FROM (
    SELECT v.vid, c.cell,
           row_number() OVER (PARTITION BY v.vid ORDER BY {dist}, c.cell) AS rn
    FROM sub{s} v CROSS JOIN pq{s}_cent{iterations} c
  ) WHERE rn = 1
)"""
        )
    return ",\n".join(parts)


def q_pq_codes(spark, sf_dir):
    """Product-quantization codes for every embedding (trained per-
    subspace codebooks + map-only encode) — the 256 B -> 4 B
    compressed representation; directly oracle-checks PQ training."""
    from operator_zoo.functions.pq import (
        PQ_CODES,
        PQ_ITERS,
        PQ_M,
        pq_encode,
        pq_train,
    )

    emb = _t_wide(spark, sf_dir, "embeddings")
    books = pq_train(
        emb, m=PQ_M, k_codes=PQ_CODES, iterations=PQ_ITERS, dim=EMB_DIM
    )
    return pq_encode(emb, books, dim=EMB_DIM)


def _sql_pq_codes() -> str:
    from operator_zoo.functions.pq import PQ_CODES, PQ_ITERS, PQ_M

    joins = "\n".join(
        f"JOIN pq{s}_code c{s} ON v.vid = c{s}.vid" for s in range(PQ_M)
    )
    cols = ", ".join(f"c{s}.code::INT AS code_{s}" for s in range(PQ_M))
    return f"""
WITH vecs AS MATERIALIZED (
  SELECT vec_id AS vid,
         [floor(CAST(x AS DOUBLE) * 1000)::BIGINT FOR x IN embedding] AS qv
  FROM embeddings
),
{_pq_cte(PQ_M, PQ_CODES, PQ_ITERS, EMB_DIM)}
SELECT v.vid AS vec_id, {cols}
FROM vecs v
{joins}
"""


def q_ann_ivf_pq(spark, sf_dir):
    """IVF-PQ top-k: trained coarse cells prune candidates, asymmetric
    distance over PQ codes scores them — the FAISS IVFPQ shape with
    every step integer-exact (functions/pq.py)."""
    from operator_zoo.functions.pq import topk_ivf_pq

    emb = _t_wide(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < N_PROBES)
    return topk_ivf_pq(emb, probes, k=TOP_K)


def _sql_ann_ivf_pq() -> str:
    from operator_zoo.functions.ann import KMEANS_ITERS, KMEANS_K
    from operator_zoo.functions.pq import PQ_CODES, PQ_ITERS, PQ_M

    code_joins = "\n".join(
        f"JOIN pq{s}_code c{s} ON a.vid = c{s}.vid" for s in range(PQ_M)
    )
    recon_joins = "\n".join(
        f"JOIN pq{s}_cent{PQ_ITERS} e{s} ON b.code_{s} = e{s}.cell"
        for s in range(PQ_M)
    )
    code_cols = ", ".join(f"c{s}.code AS code_{s}" for s in range(PQ_M))
    concat = " || ".join(f"e{s}.cent" for s in range(PQ_M))
    return f"""
WITH {_kmeans_cte(KMEANS_K, KMEANS_ITERS)},
{_pq_cte(PQ_M, PQ_CODES, PQ_ITERS, EMB_DIM)},
base AS (
  SELECT a.cell, a.vid AS nbr_id, {code_cols}
  FROM asg_final a
{code_joins}
),
recon AS (
  SELECT b.cell, b.nbr_id, {concat} AS rv
  FROM base b
{recon_joins}
),
scored AS (
  SELECT q.vid AS query_id, r.nbr_id,
         list_sum([(q.qv[i] - r.rv[i]) * (q.qv[i] - r.rv[i])
                   FOR i IN range(1, len(q.qv) + 1)])::BIGINT AS adist
  FROM asg_final q JOIN recon r USING (cell)
  WHERE q.vid < {N_PROBES} AND q.vid <> r.nbr_id
),
ranked AS (
  SELECT query_id, nbr_id, adist,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adist ASC, nbr_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank::INT AS rank, nbr_id, adist
FROM ranked WHERE rank <= {TOP_K}
"""


def _residual_vecs_cte(kmeans_iters: int) -> str:
    """``rvecs (vid, cell, qv)`` — coarse-quantizer residuals
    (quantized vector minus its assigned centroid, exact int64) on top
    of :func:`_kmeans_cte`'s ``asg_final`` / ``cent{kmeans_iters}``."""
    return f"""rvecs AS MATERIALIZED (
  SELECT a.vid, a.cell,
         [a.qv[i] - c.cent[i] FOR i IN range(1, len(a.qv) + 1)] AS qv
  FROM asg_final a JOIN cent{kmeans_iters} c ON a.cell = c.cell
)"""


def q_pq_codes_residual(spark, sf_dir):
    """Residual-PQ codes (full FAISS IVFPQ form): per-subspace
    codebooks trained on quantized(vec) - coarse_centroid[cell], codes
    returned with the coarse cell — directly oracle-checks residual
    training + encoding."""
    from operator_zoo.functions.ann import (
        KMEANS_ITERS,
        KMEANS_K,
        kmeans_train,
    )
    from operator_zoo.functions.pq import (
        PQ_CODES,
        PQ_ITERS,
        PQ_M,
        pq_encode_residual,
        pq_train_residual,
    )

    emb = _t_wide(spark, sf_dir, "embeddings")
    coarse = kmeans_train(emb, k=KMEANS_K, iterations=KMEANS_ITERS)
    books = pq_train_residual(
        emb, coarse, m=PQ_M, k_codes=PQ_CODES, iterations=PQ_ITERS,
        dim=EMB_DIM,
    )
    return pq_encode_residual(emb, coarse, books, dim=EMB_DIM)


def _sql_pq_codes_residual() -> str:
    from operator_zoo.functions.ann import KMEANS_ITERS, KMEANS_K
    from operator_zoo.functions.pq import PQ_CODES, PQ_ITERS, PQ_M

    joins = "\n".join(
        f"JOIN pq{s}_code c{s} ON v.vid = c{s}.vid" for s in range(PQ_M)
    )
    cols = ", ".join(f"c{s}.code::INT AS code_{s}" for s in range(PQ_M))
    return f"""
WITH {_kmeans_cte(KMEANS_K, KMEANS_ITERS)},
{_residual_vecs_cte(KMEANS_ITERS)},
{_pq_cte(PQ_M, PQ_CODES, PQ_ITERS, EMB_DIM, src="rvecs")}
SELECT v.vid AS vec_id, v.cell, {cols}
FROM rvecs v
{joins}
"""


def q_ann_ivf_pq_residual(spark, sf_dir):
    """IVF-PQ top-k with RESIDUAL encoding — codebooks trained on
    coarse residuals, ADC against coarse_centroid + residual
    reconstruction (functions/pq.py topk_ivf_pq_residual); the same
    4 B/vector budget as ann_topk_ivf_pq with tighter reconstruction."""
    from operator_zoo.functions.pq import topk_ivf_pq_residual

    emb = _t_wide(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < N_PROBES)
    return topk_ivf_pq_residual(emb, probes, k=TOP_K)


def _sql_ann_ivf_pq_residual() -> str:
    from operator_zoo.functions.ann import KMEANS_ITERS, KMEANS_K
    from operator_zoo.functions.pq import PQ_CODES, PQ_ITERS, PQ_M

    code_joins = "\n".join(
        f"JOIN pq{s}_code c{s} ON v.vid = c{s}.vid" for s in range(PQ_M)
    )
    recon_joins = "\n".join(
        f"JOIN pq{s}_cent{PQ_ITERS} e{s} ON b.code_{s} = e{s}.cell"
        for s in range(PQ_M)
    )
    code_cols = ", ".join(f"c{s}.code AS code_{s}" for s in range(PQ_M))
    concat = " || ".join(f"e{s}.cent" for s in range(PQ_M))
    return f"""
WITH {_kmeans_cte(KMEANS_K, KMEANS_ITERS)},
{_residual_vecs_cte(KMEANS_ITERS)},
{_pq_cte(PQ_M, PQ_CODES, PQ_ITERS, EMB_DIM, src="rvecs")},
base AS (
  SELECT v.cell, v.vid AS nbr_id, {code_cols}
  FROM rvecs v
{code_joins}
),
prec AS (
  SELECT b.cell, b.nbr_id, {concat} AS pr
  FROM base b
{recon_joins}
),
recon AS (
  SELECT p.cell, p.nbr_id,
         [cc.cent[i] + p.pr[i] FOR i IN range(1, len(p.pr) + 1)] AS rv
  FROM prec p JOIN cent{KMEANS_ITERS} cc ON p.cell = cc.cell
),
scored AS (
  SELECT q.vid AS query_id, r.nbr_id,
         list_sum([(q.qv[i] - r.rv[i]) * (q.qv[i] - r.rv[i])
                   FOR i IN range(1, len(q.qv) + 1)])::BIGINT AS adist
  FROM asg_final q JOIN recon r USING (cell)
  WHERE q.vid < {N_PROBES} AND q.vid <> r.nbr_id
),
ranked AS (
  SELECT query_id, nbr_id, adist,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adist ASC, nbr_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank::INT AS rank, nbr_id, adist
FROM ranked WHERE rank <= {TOP_K}
"""


def q_embedding_near_dups(spark, sf_dir):
    """Embedding-cosine near-dup pairs within IVF cells (dedup family)."""
    return embedding_near_dups(
        _t_wide(spark, sf_dir, "embeddings"), threshold=NEAR_DUP_THRESHOLD
    )


SQL_EMBEDDING_NEAR_DUPS = f"""
WITH sides AS (
  SELECT label AS cell, vec_id AS vid,
         [floor(CAST(x AS DOUBLE) * 1000)::BIGINT FOR x IN embedding] AS qv
  FROM embeddings
),
normed AS (
  SELECT cell, vid, qv,
         list_sum([qv[i] * qv[i] FOR i IN range(1, len(qv) + 1)])::BIGINT AS n2
  FROM sides
),
pairs AS (
  SELECT a.vid AS vec_a, b.vid AS vec_b,
         list_sum([a.qv[i] * b.qv[i] FOR i IN range(1, len(a.qv) + 1)])::BIGINT
           / sqrt(CAST(a.n2 * b.n2 AS DOUBLE)) AS cos_raw
  FROM normed a JOIN normed b ON a.cell = b.cell AND a.vid < b.vid
)
SELECT vec_a, vec_b, round(cos_raw, 6) AS cosine_q
FROM pairs WHERE cos_raw >= {NEAR_DUP_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

def q_token_stats(spark, sf_dir):
    docs = _t_wide(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count_expr("text")).alias("total_tokens"),
        F.min(token_count_expr("text")).alias("min_tokens"),
        F.max(token_count_expr("text")).alias("max_tokens"),
    )


SQL_TOKEN_STATS = """
WITH t AS (
  SELECT lang,
         len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens
  FROM documents
)
SELECT lang, count(*) AS n_docs, sum(n_tokens)::BIGINT AS total_tokens,
       min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens
FROM t GROUP BY lang
"""


def q_bpe_token_stats(spark, sf_dir):
    """BPE-ish token counting (regex pretokenizer) next to whitespace
    counts — the length signal a tokenizer-budgeted pipeline filters on."""
    docs = _t_wide(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count_expr("text").alias("ws_tokens"),
        bpe_token_count_expr("text").alias("bpe_tokens"),
    )


SQL_BPE_TOKEN_STATS = f"""
SELECT doc_id,
       len(list_filter(string_split(text, ' '), x -> x <> '')) AS ws_tokens,
       len(list_filter(regexp_extract_all(text, '{BPE_TOKEN_PATTERN.replace(chr(39), chr(39) * 2)}'),
                       x -> trim(x) <> '')) AS bpe_tokens
FROM documents
"""


def q_lang_id(spark, sf_dir):
    docs = _t_wide(spark, sf_dir, "documents")
    scores = lang_scores("text")
    return docs.select(
        "doc_id",
        lang_id_expr("text").alias("predicted_lang"),
        *[scores[lang].alias(f"score_{lang}") for lang in sorted(scores)],
    )


def _sql_lang_id() -> str:
    """Generated from the same LANG_STOPWORDS/CJK tables as the Spark
    expressions, so the two sides cannot drift. Alphabetical CASE order
    replicates Spark's ties-to-first-language argmax."""
    from operator_zoo.functions.text import CJK_CLASS, LANG_STOPWORDS

    langs = sorted(list(LANG_STOPWORDS) + ["zh"])
    score_exprs = []
    for lang in langs:
        if lang == "zh":
            score_exprs.append(
                "    length(text) - length(regexp_replace(text, "
                f"'{CJK_CLASS}', '', 'g')) AS score_zh"
            )
        else:
            words = ",".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
            score_exprs.append(
                f"    len(list_filter(ws, x -> x IN ({words}))) AS score_{lang}"
            )
    greatest = f"greatest({', '.join(f'score_{lang}' for lang in langs)})"
    cases = [f"  CASE WHEN {greatest} = 0 THEN 'und'"]
    for lang in langs[:-1]:
        cases.append(f"       WHEN score_{lang} = {greatest} THEN '{lang}'")
    cases.append(f"       ELSE '{langs[-1]}' END AS predicted_lang")
    scores_sql = ",\n".join(score_exprs)
    case_sql = "\n".join(cases)
    cols = ", ".join(f"score_{lang}" for lang in langs)
    return f"""
WITH toks AS (
  SELECT doc_id, text, string_split(lower(text), ' ') AS ws FROM documents
),
scores AS (
  SELECT doc_id,
{scores_sql}
  FROM toks
)
SELECT doc_id,
{case_sql},
  {cols}
FROM scores
"""


SQL_LANG_ID = _sql_lang_id()


CURATION_BUDGET = 3_000


def q_token_budget_sample(spark, sf_dir):
    """Token-budgeted curation: per-language greedy quality-ranked
    prefix under a 20k-token budget (functions/curation.budget_sample)."""
    from operator_zoo.functions.curation import budget_sample

    return budget_sample(_t(spark, sf_dir, "documents"), CURATION_BUDGET)


N_CURATION_BUCKETS = 4


def q_token_budget_sample_sharded(spark, sf_dir):
    """Composite-shard curation: (lang, doc_id mod 4) shards with
    budget/4 per bucket — the shard-key generalization that scales the
    running-sum window past the language count
    (functions/curation.budget_sample_composite)."""
    from operator_zoo.functions.curation import (
        budget_sample_composite,
    )

    return budget_sample_composite(
        _t(spark, sf_dir, "documents"), CURATION_BUDGET, N_CURATION_BUCKETS
    )


def _sql_token_budget_sample(sharded: bool = False) -> str:
    quality = """
       round(
         0.4 * least(n_chars / 400.0, 1.0)
         + 0.4 * least((CASE WHEN n_toks > 0
                             THEN stop / CAST(n_toks AS DOUBLE) ELSE 0 END) * 4, 1.0)
         + 0.2 * (1.0 - least((CASE WHEN n_chars > 0
                                    THEN punct / CAST(n_chars AS DOUBLE) ELSE 0 END) * 5, 1.0)),
       6)"""
    bucket_col = (
        f",\n         (doc_id % {N_CURATION_BUCKETS})::BIGINT AS bucket"
        if sharded
        else ""
    )
    bucket_sel = ", bucket" if sharded else ""
    partition = "shard, bucket" if sharded else "shard"
    budget = (
        CURATION_BUDGET // N_CURATION_BUCKETS if sharded else CURATION_BUDGET
    )
    return rf"""
WITH base AS (
  SELECT doc_id, lang AS shard{bucket_col},
         length(text) AS n_chars,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks,
         len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT AS n_tokens,
         len(regexp_extract_all(text, '[^\w\s]')) AS punct
  FROM documents
),
m AS (
  SELECT doc_id, shard{bucket_sel}, n_chars, punct, n_tokens,
         len(toks) AS n_toks,
         len(list_filter(toks,
             x -> x IN ('the','a','of','and','to','in','is'))) AS stop
  FROM base
),
scored AS (
  SELECT doc_id, shard{bucket_sel}, n_tokens, {quality} AS quality FROM m
),
ranked AS (
  SELECT doc_id, shard{bucket_sel}, quality, n_tokens,
         sum(n_tokens) OVER (PARTITION BY {partition}
                             ORDER BY quality DESC, doc_id ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW)::BIGINT AS cum_tokens
  FROM scored
)
SELECT doc_id, shard{bucket_sel}, quality, n_tokens, cum_tokens
FROM ranked WHERE cum_tokens <= {budget}
"""


def q_quality_score(spark, sf_dir):
    docs = _t_wide(spark, sf_dir, "documents")
    return docs.select("doc_id", quality_score_expr("text").alias("quality"))


SQL_QUALITY_SCORE = r"""
WITH base AS (
  SELECT doc_id,
         length(text) AS n_chars,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks,
         len(regexp_extract_all(text, '[^\w\s]')) AS punct
  FROM documents
),
m AS (
  SELECT doc_id, n_chars, punct,
         len(toks) AS n_toks,
         len(list_filter(toks,
             x -> x IN ('the','a','of','and','to','in','is'))) AS stop
  FROM base
)
SELECT doc_id,
       round(
         0.4 * least(n_chars / 400.0, 1.0)
         + 0.4 * least((CASE WHEN n_toks > 0
                             THEN stop / CAST(n_toks AS DOUBLE) ELSE 0 END) * 4, 1.0)
         + 0.2 * (1.0 - least((CASE WHEN n_chars > 0
                                    THEN punct / CAST(n_chars AS DOUBLE) ELSE 0 END) * 5, 1.0)),
       6) AS quality
FROM m
"""


def q_fingerprint(spark, sf_dir):
    docs = _t_wide(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", content_fingerprint_expr("text").alias("fingerprint")
    )


SQL_FINGERPRINT = f"""
SELECT doc_id, {h60_sql('text', 'fp')} AS fingerprint FROM documents
"""


# ---------------------------------------------------------------------------
# Corpus-statistics quality features (functions/text.rare_word_stats,
# distinctive_terms): CCNet-style rare-word filter + tf-idf-intent terms
# ---------------------------------------------------------------------------

_RARE_MIN_CF = 5
_RARE_MAX_OOV = 0.3
_DISTINCTIVE_K = 3


def q_rare_word_stats(spark, sf_dir):
    """CCNet-style rare-word quality features per document: OOV ratio
    vs corpus collection frequency + mean document frequency. Integer-
    exact aggregates, two final single divisions."""
    from operator_zoo.functions.text import rare_word_stats

    return rare_word_stats(
        _t_wide(spark, sf_dir, "documents"),
        min_cf=_RARE_MIN_CF,
        max_oov_ratio=_RARE_MAX_OOV,
    )


def q_distinctive_terms(spark, sf_dir):
    """Top-k distinctive terms per doc by (tf DESC, df ASC, term ASC) —
    tf-idf's ranking intent under a deterministic integer order."""
    from operator_zoo.functions.text import distinctive_terms

    return distinctive_terms(_t_wide(spark, sf_dir, "documents"), k=_DISTINCTIVE_K)


_SQL_WORD_COUNTS = """
toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
  FROM documents
),
wc AS (SELECT doc_id, word, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
vocab AS (
  SELECT word, sum(tf)::BIGINT AS cf, count(*)::BIGINT AS df
  FROM wc GROUP BY 1
)
"""

SQL_RARE_WORD_STATS = f"""
WITH {_SQL_WORD_COUNTS},
per_doc AS (
  SELECT w.doc_id,
         sum(w.tf)::BIGINT AS n_tokens,
         count(*)::BIGINT AS n_distinct,
         sum(CASE WHEN v.cf < {_RARE_MIN_CF} THEN w.tf ELSE 0 END)::BIGINT
           AS oov_count,
         sum(w.tf * v.df)::BIGINT AS sum_df
  FROM wc w JOIN vocab v USING (word)
  GROUP BY 1
)
SELECT doc_id, n_tokens, n_distinct, oov_count,
       oov_count / n_tokens AS oov_ratio,
       sum_df,
       sum_df / n_tokens AS mean_df,
       (oov_count / n_tokens) <= {_RARE_MAX_OOV} AS keep
FROM per_doc
"""

SQL_DISTINCTIVE_TERMS = f"""
WITH {_SQL_WORD_COUNTS},
ranked AS (
  SELECT w.doc_id,
         row_number() OVER (
           PARTITION BY w.doc_id
           ORDER BY w.tf DESC, v.df ASC, w.word ASC
         )::INT AS rank,
         w.word AS term, w.tf, v.df
  FROM wc w JOIN vocab v USING (word)
)
SELECT doc_id, rank, term, tf, df FROM ranked WHERE rank <= {_DISTINCTIVE_K}
"""


# ---------------------------------------------------------------------------
# Gopher-style n-gram repetition filters (functions/text.ngram_repetition)
# ---------------------------------------------------------------------------


def q_text_repetition(spark, sf_dir):
    """Per-doc top-2-gram share + duplicate-3-gram fraction + keep flag
    — the Gopher repetition rules over the whitespace corpus. One
    shuffle keyed by (doc_id, gram); skew bounded by the largest doc."""
    from operator_zoo.functions.text import ngram_repetition

    return ngram_repetition(_t_wide(spark, sf_dir, "documents"))


def _sql_text_repetition() -> str:
    from operator_zoo.functions.text import (
        DUP_3GRAM_MAX_FRAC,
        TOP_2GRAM_MAX_SHARE,
    )

    return f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
  FROM documents
),
g2 AS (
  SELECT t.doc_id, t.ts[r.i] || ' ' || t.ts[r.i + 1] AS g
  FROM toks t, UNNEST(range(1, len(t.ts))) AS r(i)
),
c2 AS (SELECT doc_id, g, count(*) AS cnt FROM g2 GROUP BY 1, 2),
a2 AS (
  SELECT doc_id, max(cnt) AS top2, sum(cnt) AS tot2 FROM c2 GROUP BY 1
),
g3 AS (
  SELECT t.doc_id, array_to_string(t.ts[r.i : r.i + 2], ' ') AS g
  FROM toks t, UNNEST(range(1, len(t.ts) - 1)) AS r(i)
),
c3 AS (SELECT doc_id, g, count(*) AS cnt FROM g3 GROUP BY 1, 2),
a3 AS (
  SELECT doc_id, sum(cnt) AS tot3,
         sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup3
  FROM c3 GROUP BY 1
),
m AS (
  SELECT d.doc_id,
         coalesce(a2.tot2, 0)::BIGINT AS n_2grams,
         round(CASE WHEN coalesce(a2.tot2, 0) > 0
                    THEN a2.top2 / CAST(a2.tot2 AS DOUBLE) ELSE 0 END, 6)
           AS top_2gram_share,
         round(CASE WHEN coalesce(a3.tot3, 0) > 0
                    THEN a3.dup3 / CAST(a3.tot3 AS DOUBLE) ELSE 0 END, 6)
           AS dup_3gram_frac
  FROM documents d
  LEFT JOIN a2 USING (doc_id)
  LEFT JOIN a3 USING (doc_id)
)
SELECT doc_id, n_2grams, top_2gram_share, dup_3gram_frac,
       (top_2gram_share <= {TOP_2GRAM_MAX_SHARE}
        AND dup_3gram_frac <= {DUP_3GRAM_MAX_FRAC}) AS keep
FROM m
"""


# ---------------------------------------------------------------------------
# PII scrub (functions/scrub.pii_scrub) — deterministic PII is appended
# to the corpus text identically on BOTH sides (the synthetic documents
# carry none), so the redaction regexes are exercised on varying digits
# ---------------------------------------------------------------------------


def _pii_augmented_docs(spark, sf_dir):
    d = F.col("doc_id")
    pii_text = F.concat(
        F.col("text"),
        F.lit(" contact user"), d.cast("string"), F.lit("@mail.example.com"),
        F.when(
            d % 3 == 0,
            F.concat(
                F.lit(" call 555-"),
                F.lpad((d % 1000).cast("string"), 3, "0"),
                F.lit("-"),
                F.lpad((d % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            d % 4 == 0,
            F.concat(
                F.lit(" host 10."), (d % 256).cast("string"),
                F.lit(".0."), (d % 200).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )
    return _t(spark, sf_dir, "documents").select(
        "doc_id", pii_text.alias("text")
    )


def q_pii_scrub(spark, sf_dir):
    """Email/phone/IPv4 redaction + per-category counts — map-only JVM
    regex expressions, zero shuffle (scan-speed at 100 TB)."""
    from operator_zoo.functions.scrub import pii_scrub

    return pii_scrub(_pii_augmented_docs(spark, sf_dir))


def _sql_pii_scrub() -> str:
    from operator_zoo.functions.scrub import (
        EMAIL_PATTERN,
        EMAIL_TOKEN,
        IP_TOKEN,
        IPV4_PATTERN,
        PHONE_PATTERN,
        PHONE_TOKEN,
    )

    return f"""
WITH pii AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@mail.example.com'
         || CASE WHEN doc_id % 3 = 0
                 THEN ' call 555-' || lpad((doc_id % 1000)::VARCHAR, 3, '0')
                      || '-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                 ELSE '' END
         || CASE WHEN doc_id % 4 = 0
                 THEN ' host 10.' || (doc_id % 256) || '.0.' || (doc_id % 200)
                 ELSE '' END AS text
  FROM documents
)
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(text, '{EMAIL_PATTERN}', '{EMAIL_TOKEN}', 'g'),
           '{PHONE_PATTERN}', '{PHONE_TOKEN}', 'g'),
         '{IPV4_PATTERN}', '{IP_TOKEN}', 'g') AS scrubbed,
       len(regexp_extract_all(text, '{EMAIL_PATTERN}')) AS n_emails,
       len(regexp_extract_all(text, '{PHONE_PATTERN}')) AS n_phones,
       len(regexp_extract_all(text, '{IPV4_PATTERN}')) AS n_ips
FROM pii
"""


# ---------------------------------------------------------------------------
# chunk-level corpus-global exact dedup (functions/dedup.dedup_chunks)
# ---------------------------------------------------------------------------


def q_dedup_chunks(spark, sf_dir):
    """C4-style first-writer-wins chunk dedup with per-doc reassembly.
    Two shuffles: by chunk text (first-occurrence window), by doc_id
    (reassembly) — the web-scale paragraph-dedup shape."""
    from operator_zoo.functions.dedup import dedup_chunks

    return dedup_chunks(_t_wide(spark, sf_dir, "documents"))


def _sql_dedup_chunks() -> str:
    from operator_zoo.functions.dedup import CHUNK_TOKENS

    c = CHUNK_TOKENS
    return f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
  FROM documents
),
chunks AS (
  SELECT t.doc_id, r.j AS pos,
         array_to_string(t.ts[{c} * r.j + 1 : {c} * r.j + {c}], ' ') AS chunk
  FROM toks t,
       UNNEST(range(0, CAST(ceil(len(t.ts) / {c}.0) AS INT))) AS r(j)
),
kept AS (
  SELECT doc_id, pos, chunk FROM chunks
  QUALIFY row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) = 1
),
agg AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(chunk, ' ' ORDER BY pos) AS clean_text
  FROM kept GROUP BY 1
),
tot AS (SELECT doc_id, count(*) AS n_chunks FROM chunks GROUP BY 1)
SELECT d.doc_id,
       coalesce(a.clean_text, '') AS clean_text,
       coalesce(t.n_chunks, 0)::BIGINT AS n_chunks,
       (coalesce(t.n_chunks, 0) - coalesce(a.n_kept, 0))::BIGINT AS n_dropped
FROM documents d
LEFT JOIN tot t USING (doc_id)
LEFT JOIN agg a USING (doc_id)
"""


_NGSPAN_N = 8


def q_ngram_spans(spark, sf_dir):
    """Exact substring dedup at word 8-gram granularity (Lee et al.
    2021 shape): maximal duplicated word spans per document,
    first-writer-wins canonical occurrence kept. Dup detection is one
    partial-agg groupBy on the gram hash (hot grams map-side combine);
    interval merge is a per-doc window (functions/dedup.py)."""
    from operator_zoo.functions.dedup import duplicate_ngram_spans

    return duplicate_ngram_spans(_t_wide(spark, sf_dir, "documents"), n=_NGSPAN_N)


def _sql_ngram_spans() -> str:
    from operator_zoo.functions.hashing import h60_sql

    n = _NGSPAN_N
    gh = h60_sql(f"array_to_string(toks[pos + 1 : pos + {n}], ' ')", "ngspan")
    return f"""
WITH base AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
occ AS (
  SELECT doc_id, pos, {gh} AS gh
  FROM (SELECT doc_id, toks, unnest(range(len(toks) - {n} + 1)) AS pos
        FROM base WHERE len(toks) >= {n})
),
dups AS (
  SELECT doc_id, pos, pos + {n} - 1 AS e
  FROM occ
  QUALIFY row_number() OVER (PARTITION BY gh ORDER BY doc_id, pos) > 1
),
flagged AS (
  SELECT doc_id, pos, e,
         CASE WHEN pos > coalesce(max(e) OVER (
                PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1
              THEN 1 ELSE 0 END AS new_span
  FROM dups
),
spans AS (
  SELECT doc_id, pos, e,
         sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
  FROM flagged
)
SELECT doc_id,
       min(pos)::BIGINT AS span_start,
       max(e)::BIGINT AS span_end,
       (max(e) - min(pos) + 1)::BIGINT AS span_words
FROM spans GROUP BY doc_id, span_id
"""


# ---------------------------------------------------------------------------
# HTML boilerplate strip / main content (north-rule parenthetical)
# ---------------------------------------------------------------------------

_HTML_PRE = '<html><body><nav><a href="/">Home</a> | <a href="/r">Reports</a></nav><p>'
_HTML_POST = '</p><footer>&copy; corp &amp; co</footer></body></html>'


def q_html_strip_tags(spark, sf_dir):
    """Tag-strip roundtrip: wrap each document's text in deterministic
    boilerplate markup, then strip — both engines build and strip the
    identical HTML, so the oracle is exact (JVM regexp chain vs DuckDB
    RE2 chain)."""
    from operator_zoo.functions.html import strip_tags_expr

    docs = _t(spark, sf_dir, "documents")
    html = F.concat(F.lit(_HTML_PRE), F.col("text"), F.lit(_HTML_POST))
    return docs.select(
        "doc_id", strip_tags_expr(html).alias("plain_text")
    )


def _sql_html_strip() -> str:
    from operator_zoo.functions.html import strip_tags_sql

    html_expr = f"concat('{_HTML_PRE.replace(chr(39), chr(39)*2)}', text, '{_HTML_POST.replace(chr(39), chr(39)*2)}')"
    return f"SELECT doc_id, {strip_tags_sql(html_expr)} AS plain_text FROM documents"


SQL_HTML_STRIP_TAGS = _sql_html_strip()

def q_html_main_content(spark, sf_dir):
    """Block-density boilerplate removal over the deterministic HTML
    corpus, built in-memory via Arrow (no filesystem side effects in
    the query builder — the corpus is 512 small docs)."""
    import pyarrow as pa

    from operator_zoo.functions.html import (
        extract_main_content,
        synthesize_html,
    )

    docs = synthesize_html(512)
    html_docs = spark.createDataFrame(
        pa.table(
            {
                "doc_id": [d["doc_id"] for d in docs],
                "html": [d["html"] for d in docs],
            }
        )
    )
    return extract_main_content(html_docs)


# ---------------------------------------------------------------------------
# relational breadth: aggregation + multi-join (bench headliners)
# ---------------------------------------------------------------------------

def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-shaped pricing summary over lineitem (agg breadth +
    whole-stage-codegen hot loop for the bench)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "sum_disc_price"
            ),
            F.count("*").alias("count_order"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            F.round("sum_qty", 2).alias("sum_qty"),
            F.round("sum_base_price", 2).alias("sum_base_price"),
            F.round("sum_disc_price", 2).alias("sum_disc_price"),
            "count_order",
        )
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_pricing_rollup(spark, sf_dir):
    """GROUP BY ROLLUP over the pricing summary — subtotal + grand-total
    rows in one pass (partial-aggregate friendly; no reference
    counterpart, SURVEY.md §2.12, included for relational breadth)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count("*").alias("count_order"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "count_order",
        )
    )


SQL_PRICING_ROLLUP = """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       count(*) AS count_order
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_set_ops(spark, sf_dir):
    """Set operations: parts used by lineitems INTERSECT / EXCEPT the
    part catalog halves (the reference's only set op is X5's key union;
    these cover the rest of the family)."""
    # the quantity filter keeps BOTH branches non-empty at every SF
    # (unfiltered, every part is used and EXCEPT degenerates to empty)
    used = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45).select(
        F.col("l_partkey").alias("partkey")
    )
    low = _t(spark, sf_dir, "part").filter(F.col("p_retailprice") < 1200).select(
        F.col("p_partkey").alias("partkey")
    )
    inter = used.intersect(low).withColumn("op", F.lit("used_and_cheap"))
    diff = low.exceptAll(low.intersect(used)).withColumn(
        "op", F.lit("cheap_never_used")
    )
    return inter.unionByName(diff).groupBy("op").agg(
        F.count("*").alias("n_parts"),
        F.min("partkey").alias("min_partkey"),
        F.max("partkey").alias("max_partkey"),
    )


SQL_SET_OPS = """
WITH used AS (SELECT l_partkey AS partkey FROM lineitem WHERE l_quantity > 45),
low AS (SELECT p_partkey AS partkey FROM part WHERE p_retailprice < 1200),
inter AS (SELECT partkey FROM used INTERSECT SELECT partkey FROM low),
diff AS (SELECT partkey FROM low EXCEPT SELECT partkey FROM inter),
tagged AS (
  SELECT partkey, 'used_and_cheap' AS op FROM inter
  UNION ALL
  SELECT partkey, 'cheap_never_used' AS op FROM diff
)
SELECT op, count(*) AS n_parts,
       min(partkey) AS min_partkey, max(partkey) AS max_partkey
FROM tagged GROUP BY op
"""


def q_nation_revenue(spark, sf_dir):
    """Broadcast-dimension multi-join: revenue per nation (customer and
    nation are broadcast; only lineitem-orders shuffles)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_lineitems"),
        )
    )


SQL_NATION_REVENUE = """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_lineitems
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


# ---------------------------------------------------------------------------
# temporal + ranking relational family (SURVEY.md §2.12 gap closers):
# as-of join, banded range join, ordered funnel, discrete percentiles,
# two-phase top-k. Operators live in functions/temporal.py and
# functions/relational.py; these builders wire them to driver tables.
# ---------------------------------------------------------------------------

def _epoch_of(col: str) -> F.Column:
    """Epoch seconds from an NTZ timestamp's wall-clock fields —
    session-timezone-independent (same derivation as _epoch_ntz, for an
    arbitrary column; NULL-propagating)."""
    c = F.col(col)
    return (
        F.unix_date(c.cast("date")).cast("long") * 86400
        + F.hour(c).cast("long") * 3600
        + F.minute(c).cast("long") * 60
        + F.second(c).cast("long")
    )


def q_asof_purchase_view(spark, sf_dir):
    """Backward as-of join inside the event stream: each purchase picks
    up the same user's most recent view on-or-before it (union+window —
    ONE shuffle on user_id, no inequality join; functions/temporal.py)."""
    from operator_zoo.functions.temporal import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        "ts",
        F.col("event_id").alias("view_event_id"),
        F.round("value", 6).alias("view_value"),
    )
    out = asof_join(
        purchases,
        views,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        payload_cols=["view_event_id", "view_value"],
    )
    return out.select(
        "event_id",
        "user_id",
        _epoch_of("ts").alias("ts_epoch"),
        F.col("asof_view_event_id").alias("prior_view_event_id"),
        F.col("asof_view_value").alias("prior_view_value"),
    )


SQL_ASOF_PURCHASE_VIEW = """
SELECT p.event_id, p.user_id,
       floor(epoch(p.ts))::BIGINT AS ts_epoch,
       v.view_event_id AS prior_view_event_id,
       v.view_value AS prior_view_value
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
LEFT JOIN LATERAL (
  SELECT event_id AS view_event_id, round(value, 6) AS view_value
  FROM events
  WHERE event_type = 'view' AND user_id = p.user_id AND ts <= p.ts
  ORDER BY ts DESC, event_id DESC
  LIMIT 1
) v ON TRUE
"""


def q_range_join_error_context(spark, sf_dir):
    """Banded temporal range join: per error event, how many events (any
    user) fall within ±120 s — bucket equi-join rewrite, never a
    broadcast-nested-loop theta join (functions/temporal.py)."""
    from operator_zoo.functions.temporal import banded_count_join

    ev = _t(spark, sf_dir, "events")
    probes = ev.filter(F.col("event_type") == "error").select(
        "event_id", _epoch_of("ts").alias("ts_epoch")
    )
    facts = ev.select(_epoch_of("ts").alias("fact_epoch"))
    return banded_count_join(
        probes,
        facts,
        probe_epoch="ts_epoch",
        fact_epoch="fact_epoch",
        band_seconds=120,
        bucket_seconds=120,
        out_count="n_events_2min",
    )


SQL_RANGE_JOIN_ERROR_CONTEXT = """
WITH e AS (SELECT event_id, floor(epoch(ts))::BIGINT AS ts_epoch
           FROM events WHERE event_type = 'error'),
f AS (SELECT floor(epoch(ts))::BIGINT AS fe FROM events)
SELECT e.event_id, e.ts_epoch, count(*) AS n_events_2min
FROM e JOIN f ON abs(f.fe - e.ts_epoch) <= 120
GROUP BY e.event_id, e.ts_epoch
"""


def q_events_funnel(spark, sf_dir):
    """Ordered funnel signup→view→click→purchase per user: step k
    counts only at ts >= reach(k-1); chained conditional-min
    aggregations, every shuffle on user_id (functions/temporal.py)."""
    from operator_zoo.functions.temporal import funnel_stages

    steps = ["signup", "view", "click", "purchase"]
    out = funnel_stages(_t(spark, sf_dir, "events"), steps)
    return out.select(
        "user_id",
        *[_epoch_of(f"t_{s}").alias(f"t_{s}") for s in steps],
        "funnel_depth",
    )


SQL_EVENTS_FUNNEL = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t_signup
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t_view
  FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'view' AND e.ts >= s1.t_signup
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM events e JOIN s2 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts >= s2.t_view
  GROUP BY e.user_id
),
s4 AS (
  SELECT e.user_id, min(e.ts) AS t_purchase
  FROM events e JOIN s3 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts >= s3.t_click
  GROUP BY e.user_id
)
SELECT s1.user_id,
       floor(epoch(t_signup))::BIGINT AS t_signup,
       floor(epoch(t_view))::BIGINT AS t_view,
       floor(epoch(t_click))::BIGINT AS t_click,
       floor(epoch(t_purchase))::BIGINT AS t_purchase,
       ((t_signup IS NOT NULL)::INT + (t_view IS NOT NULL)::INT
        + (t_click IS NOT NULL)::INT + (t_purchase IS NOT NULL)::INT
       ) AS funnel_depth
FROM s1
LEFT JOIN s2 USING (user_id)
LEFT JOIN s3 USING (user_id)
LEFT JOIN s4 USING (user_id)
"""


def q_order_percentiles(spark, sf_dir):
    """Discrete percentiles per order priority — percentile_disc picks
    actual data values (no interpolation arithmetic), so the result is
    cross-engine exact; the DuckDB oracle spells out the ANSI
    cume_dist >= p definition."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.expr(
                "percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)"
            ).alias("p50_totalprice"),
            F.expr(
                "percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice)"
            ).alias("p90_totalprice"),
            F.round(F.avg("o_totalprice"), 2).alias("avg_totalprice"),
            F.count("*").alias("n_orders"),
        )
    )


SQL_ORDER_PERCENTILES = """
WITH ranked AS (
  SELECT o_orderpriority, o_totalprice,
         cume_dist() OVER (PARTITION BY o_orderpriority
                           ORDER BY o_totalprice) AS cd
  FROM orders
)
SELECT o_orderpriority,
       min(o_totalprice) FILTER (WHERE cd >= 0.5) AS p50_totalprice,
       min(o_totalprice) FILTER (WHERE cd >= 0.9) AS p90_totalprice,
       round(avg(o_totalprice), 2) AS avg_totalprice,
       count(*) AS n_orders
FROM ranked
GROUP BY o_orderpriority
"""


def q_topk_orders_per_segment(spark, sf_dir):
    """Top-3 orders per market segment by o_totalprice via the
    two-phase salted top-k (functions/relational.py) — never one
    reducer per segment. Ranks raw column values (no float arithmetic),
    tie-broken by o_orderkey, so ranking is cross-engine exact."""
    from operator_zoo.functions.relational import topk_per_group

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    ).select("c_mktsegment", "o_orderkey", "o_totalprice")
    return topk_per_group(
        j,
        group_cols=["c_mktsegment"],
        order_col="o_totalprice",
        k=3,
        tiebreak_col="o_orderkey",
    ).select("c_mktsegment", "rk", "o_orderkey", "o_totalprice")


SQL_TOPK_ORDERS_PER_SEGMENT = """
SELECT c_mktsegment, rk, o_orderkey, o_totalprice
FROM (
  SELECT c_mktsegment, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders JOIN customer ON o_custkey = c_custkey
) WHERE rk <= 3
"""


def q_shipping_priority(spark, sf_dir):
    """TPC-H Q3-shaped shipping priority: segment-filtered 3-way join,
    revenue per open order (dimension broadcast; the only shuffle is
    lineitem⋈orders + the group-by). No LIMIT — top-k lives in
    topk_orders_per_segment where ranking is float-safe.

    Revenue is summed in EXACT integer 1e-4-dollar units
    (cents × (100 − discount%), both 2-decimal columns) — a double
    sum's rounding depends on accumulation order, and at sf0.01 one of
    the 1290 groups landed a half-cent from the round(·,2) boundary,
    flipping the last digit between engines. Integer sums are
    associative; the single final division of identical bigints yields
    identical doubles everywhere."""
    cutoff = "1998-06-01"
    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit(cutoff).cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit(cutoff).cast("timestamp")
    )
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    disc_pct = F.round(F.col("l_discount") * 100, 0).cast("long")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderpriority")
        .agg(
            (F.sum(cents * (100 - disc_pct)) / 10000.0).alias("revenue"),
            # o_orderdate is functionally dependent on the order key;
            # min() makes that explicit for both engines
            F.min(_epoch_of("o_orderdate")).alias("orderdate_epoch"),
        )
    )


SQL_SHIPPING_PRIORITY = """
SELECT l_orderkey, o_orderpriority,
       sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
           * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))) / 10000.0
         AS revenue,
       floor(epoch(min(o_orderdate)))::BIGINT AS orderdate_epoch
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-01'
  AND l_shipdate  > TIMESTAMP '1998-06-01'
GROUP BY l_orderkey, o_orderpriority
"""


# ---------------------------------------------------------------------------
# deterministic hash sampling (training-data mixing; functions/curation.py).
# Selection is on integer md5-60bit hashes vs integer thresholds/ranks —
# zero floating point, so the keep-set is bit-identical cross-engine.
# ---------------------------------------------------------------------------

_MIX_RATES = {"en": 0.6, "de": 0.4, "fr": 0.4}
_MIX_DEFAULT = 0.25
_QUOTAS = {"src0": 12, "src1": 12, "src2": 12}
_QUOTA_DEFAULT = 5


def q_hash_sample(spark, sf_dir):
    """Stratified Bernoulli sample by language: keep iff
    h60(doc_id) < floor(rate[lang]·2^60). Map-only + broadcast
    thresholds; deterministic under any partitioning."""
    from operator_zoo.functions.curation import hash_sample

    return hash_sample(
        _t(spark, sf_dir, "documents"),
        _MIX_RATES,
        default_rate=_MIX_DEFAULT,
        stratum_col="lang",
        salt="mix1",
    )


def _sql_hash_sample() -> str:
    h = h60_sql("doc_id", "mix1")
    cases = " ".join(
        f"WHEN '{s}' THEN {min(int(r * (1 << 60)), 1 << 60)}"
        for s, r in sorted(_MIX_RATES.items())
    )
    default_thr = min(int(_MIX_DEFAULT * (1 << 60)), 1 << 60)
    return f"""
SELECT doc_id, lang AS stratum, {h} AS h60
FROM documents
WHERE {h} < (CASE lang {cases} ELSE {default_thr} END)
"""


_SPLIT_WEIGHTS = [("train", 0.9), ("val", 0.05), ("test", 0.05)]


def q_assign_splits(spark, sf_dir):
    """Deterministic train/val/test assignment by integer hash
    intervals — bit-identical across engines/partitionings/reruns, so
    documents never migrate between train and eval. Map-only."""
    from operator_zoo.functions.curation import assign_splits

    return assign_splits(_t(spark, sf_dir, "documents"), _SPLIT_WEIGHTS)


def _sql_assign_splits() -> str:
    h = h60_sql("doc_id", "split")
    total = sum(w for _, w in _SPLIT_WEIGHTS)
    cases, cum = [], 0.0
    for name, w in _SPLIT_WEIGHTS[:-1]:
        cum += w / total
        thr = min(int(cum * (1 << 60)), 1 << 60)
        cases.append(f"WHEN {h} < {thr} THEN '{name}'")
    last = _SPLIT_WEIGHTS[-1][0]
    case_sql = " ".join(cases)
    return f"""
SELECT doc_id, {h} AS h60,
       CASE {case_sql} ELSE '{last}' END AS split
FROM documents
"""


def q_quota_sample(spark, sf_dir):
    """Exact-count stratified sample by source: per stratum, the
    quota smallest-hash documents (two-phase salted top-k underneath,
    never one reducer per stratum)."""
    from operator_zoo.functions.curation import quota_sample

    return quota_sample(
        _t(spark, sf_dir, "documents"),
        _QUOTAS,
        default_quota=_QUOTA_DEFAULT,
        stratum_col="source",
        salt="quota1",
    )


def _sql_quota_sample() -> str:
    h = h60_sql("doc_id", "quota1")
    cases = " ".join(
        f"WHEN '{s}' THEN {q}" for s, q in sorted(_QUOTAS.items())
    )
    return f"""
SELECT doc_id, stratum, h60, rk FROM (
  SELECT doc_id, source AS stratum, {h} AS h60,
         row_number() OVER (PARTITION BY source ORDER BY {h}, doc_id) AS rk
  FROM documents
) WHERE rk <= (CASE stratum {cases} ELSE {_QUOTA_DEFAULT} END)
"""


def q_shuffle_order(spark, sf_dir):
    """Deterministic global training order (epoch shuffle): contiguous
    global_idx by (h60, doc_id), built bucket-parallel — hash high
    bits range-partition exactly, prefix-sum offsets are driver
    metadata (n_buckets longs), no single-task global sort."""
    from operator_zoo.functions.curation import shuffle_order

    return shuffle_order(
        _t(spark, sf_dir, "documents"), salt="epoch0", n_buckets=64
    )


def _sql_shuffle_order() -> str:
    h = h60_sql("doc_id", "epoch0")
    return f"""
SELECT doc_id, {h} AS h60,
       row_number() OVER (ORDER BY {h}, doc_id) - 1 AS global_idx
FROM documents
"""


def q_chunk_documents(spark, sf_dir):
    """Overlapping fixed-width character chunking (RAG/embedding
    chunker): pure JVM explode(sequence)+substring, no UDF, no
    shuffle. Chunk identity verified by length + portable md5-60bit."""
    from operator_zoo.functions.curation import chunk_documents

    # 200/50 sizes the windows to the driver corpus (48-553 chars), so
    # the multi-chunk + overlap paths are exercised at every SF
    return chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_chars=200, overlap=50
    )


def _sql_chunk_documents() -> str:
    h = h60_sql("substr(text, chunk_id * 150 + 1, 200)", "chunk")
    return f"""
WITH base AS (
  SELECT doc_id, text,
         greatest(1, (length(text) - 50 + 149) // 150) AS n_chunks
  FROM documents
),
chunks AS (
  SELECT doc_id, text,
         unnest(range(0, n_chunks)) AS chunk_id
  FROM base
)
SELECT doc_id, chunk_id,
       length(substr(text, chunk_id * 150 + 1, 200)) AS chunk_len,
       {h} AS chunk_h60
FROM chunks
"""


def q_pack_sequences(spark, sf_dir):
    """GPT-style sequence packing: per shard, concatenate documents in
    doc_id order and cut into 2048-token context windows; each doc
    records its token range and first/last bin (docs straddle bins —
    zero padding waste). One running-sum window per shard."""
    from operator_zoo.functions.curation import pack_sequences

    return pack_sequences(
        _t(spark, sf_dir, "documents"), ctx_tokens=2048, n_shards=16
    )


SQL_PACK_SEQUENCES = """
WITH d AS (
  SELECT doc_id, doc_id % 16 AS shard,
         len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT
           AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, shard, n_tokens,
         sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS end_tok
  FROM d
)
SELECT doc_id, shard, n_tokens,
       (end_tok - n_tokens)::BIGINT AS start_tok,
       ((end_tok - n_tokens) // 2048)::BIGINT AS first_bin,
       (CASE WHEN n_tokens > 0 THEN (end_tok - 1) // 2048
             ELSE (end_tok - n_tokens) // 2048 END)::BIGINT AS last_bin
FROM c
"""


# ---------------------------------------------------------------------------
# sketches (functions/sketches.py): HLL + distributed Bloom on the
# portable md5 hash — the sketch contents are the verified artifact.
# ---------------------------------------------------------------------------

def q_hll_distinct(spark, sf_dir):
    """HLL cardinality estimate of distinct document texts (m=64
    buckets), cross-joined with the exact distinct count so the
    result row carries both the sketch evidence and its error."""
    from operator_zoo.functions.sketches import hll_estimate_row

    docs = _t(spark, sf_dir, "documents")
    est = hll_estimate_row(docs, F.col("text"), p=6)
    exact = docs.agg(F.count_distinct("text").cast("long").alias("exact_distinct"))
    return est.crossJoin(exact)


def _sql_hll_distinct() -> str:
    h = h60_sql("text", "hll")
    rem_bits, m, rank_cap, alpha = 54, 64, 50, 0.709
    mask = (1 << rem_bits) - 1
    return f"""
WITH hashes AS (SELECT {h} AS h FROM documents),
regs AS (
  SELECT h >> {rem_bits} AS bucket,
         max(CASE WHEN (h & {mask}) = 0 THEN {rem_bits + 1}
                  ELSE {rem_bits} - length(bin(h & {mask})) + 1 END) AS register
  FROM hashes GROUP BY bucket
),
agg AS (
  SELECT count(*)::BIGINT AS nonzero_buckets,
         sum((1::BIGINT << ({rank_cap} - least(register, {rank_cap})))::BIGINT)::BIGINT
           AS s_nonzero
  FROM regs
),
est AS (
  SELECT nonzero_buckets,
         (s_nonzero + ({m} - nonzero_buckets) * (1::BIGINT << {rank_cap}))::BIGINT
           AS harmonic_sum_e
  FROM agg
)
SELECT {m} AS m, nonzero_buckets, harmonic_sum_e,
       round(CASE WHEN ({alpha * m * m * float(1 << rank_cap)!r}
                        / harmonic_sum_e::DOUBLE) <= 2.5 * {m}
                       AND ({m} - nonzero_buckets) > 0
                  THEN {float(m)!r}::DOUBLE
                       * ln({float(m)!r}::DOUBLE / ({m} - nonzero_buckets)::DOUBLE)
                  ELSE {alpha * m * m * float(1 << rank_cap)!r}
                       / harmonic_sum_e::DOUBLE END, 6) AS estimate,
       (SELECT count(DISTINCT text)::BIGINT FROM documents) AS exact_distinct
FROM est
"""


def q_bloom_filter(spark, sf_dir):
    """Distributed Bloom-filter construction over document texts
    (1008 bits, k=3): bit_or word aggregation; output = the filter's
    non-zero words + popcounts (the broadcastable join-pruning
    artifact, reproducible unlike Spark's runtime bloom)."""
    from operator_zoo.functions.sketches import bloom_words

    words = bloom_words(_t(spark, sf_dir, "documents"), F.col("text"))
    return words.select(
        "word_idx", "word", F.bit_count("word").cast("int").alias("popcount")
    )


def _sql_bloom_filter() -> str:
    hs = ", ".join(h60_sql("text", f"bloom{i}") + " % 1008" for i in range(3))
    return f"""
WITH pos AS (SELECT unnest([{hs}]) AS pos FROM documents),
words AS (
  SELECT pos // 63 AS word_idx,
         bit_or(1::BIGINT << (pos % 63)) AS word
  FROM pos GROUP BY word_idx
)
SELECT word_idx, word, bit_count(word)::INT AS popcount FROM words
"""


_CM_WIDTH, _CM_DEPTH, _CM_PROBES = 256, 4, 20


def q_countmin_words(spark, sf_dir):
    """Count-min frequency sketch over the corpus word stream
    (width 256 x depth 4), point-queried for the 20 most frequent
    words and joined with their exact counts — the result row carries
    the estimate, the truth, and therefore the sketch's overestimate,
    all integers. The sketch aggregate is map-side-combined and its
    ≤ w·d cells broadcast for the probe join."""
    from operator_zoo.functions.sketches import (
        countmin_estimates,
        countmin_table,
    )

    docs = _t_wide(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(
            F.filter(F.split("text", " "), lambda t: t != "")
        ).alias("token")
    )
    counts = words.groupBy("token").agg(
        F.count("*").cast("long").alias("exact_cnt")
    )
    probes = counts.orderBy(
        F.desc("exact_cnt"), F.asc("token")
    ).limit(_CM_PROBES)
    sketch = countmin_table(words, F.col("token"), width=_CM_WIDTH, depth=_CM_DEPTH)
    est = countmin_estimates(
        sketch, probes.select("token"), "token", width=_CM_WIDTH, depth=_CM_DEPTH
    )
    return probes.join(est, probes["token"] == est["probe"]).select(
        F.col("token").alias("word"), "exact_cnt", "cm_estimate"
    )


def _sql_countmin_words() -> str:
    w, d, p = _CM_WIDTH, _CM_DEPTH, _CM_PROBES
    rows = ", ".join(str(i) for i in range(d))
    buckets = ", ".join(
        h60_sql("token", f"cm{i}") + f" % {w}" for i in range(d)
    )
    return f"""
WITH words AS (
  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
  FROM documents
),
counts AS (
  SELECT token, count(*)::BIGINT AS exact_cnt FROM words GROUP BY token
),
probes AS (
  SELECT token, exact_cnt FROM counts
  ORDER BY exact_cnt DESC, token LIMIT {p}
),
cells AS (
  SELECT row, bucket, count(*)::BIGINT AS cnt FROM (
    SELECT unnest([{rows}]) AS row, unnest([{buckets}]) AS bucket FROM words
  ) GROUP BY row, bucket
),
ppos AS (
  SELECT token, unnest([{rows}]) AS row, unnest([{buckets}]) AS bucket
  FROM probes
),
pest AS (
  SELECT ppos.token, min(coalesce(c.cnt, 0))::BIGINT AS cm_estimate
  FROM ppos LEFT JOIN cells c USING (row, bucket)
  GROUP BY ppos.token
)
SELECT pr.token AS word, pr.exact_cnt, pe.cm_estimate
FROM probes pr JOIN pest pe USING (token)
"""


def q_cdc_merge_upsert(spark, sf_dir):
    """CDC MERGE-INTO (functions/cdc.py): a deterministic change set
    derived from orders — deletes (key%10==0), two-revision updates
    (key%10==1, later seq wins), single updates (key%10==2), and
    inserts at fresh negative keys (key%10==3) — folds into the base
    snapshot. ONE map-side-combined max_by aggregate collapses the
    stream per key; ONE full-outer join on the key applies it."""
    from operator_zoo.functions.cdc import cdc_apply

    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority"
    )
    ok = F.col("o_orderkey")

    def chg(pred, keyexpr, seq, op, status, prio):
        return base.where(pred).select(
            keyexpr.alias("o_orderkey"),
            F.lit(seq).alias("seq"),
            F.lit(op).alias("op"),
            status.alias("o_orderstatus"),
            prio.alias("o_orderpriority"),
        )

    null_s = F.lit(None).cast("string")
    changes = (
        chg(ok % 10 == 0, ok, 1, "d", null_s, null_s)
        .unionByName(
            chg(ok % 10 == 1, ok, 1, "u", F.lit("X"),
                F.col("o_orderpriority"))
        )
        .unionByName(
            chg(ok % 10 == 1, ok, 2, "u", F.lit("Z"), F.lit("0-REVISED"))
        )
        .unionByName(
            chg(ok % 10 == 2, ok, 1, "u", F.lit("P"),
                F.col("o_orderpriority"))
        )
        .unionByName(
            chg(ok % 10 == 3, -ok, 1, "u", F.lit("N"), F.lit("9-NEW"))
        )
    )
    return cdc_apply(
        base,
        changes,
        key="o_orderkey",
        seq="seq",
        payload_cols=["o_orderstatus", "o_orderpriority"],
    )


SQL_CDC_MERGE_UPSERT = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders
),
changes AS (
  SELECT o_orderkey, 1 AS seq, 'd' AS op,
         NULL::VARCHAR AS s, NULL::VARCHAR AS p
  FROM base WHERE o_orderkey % 10 = 0
  UNION ALL SELECT o_orderkey, 1, 'u', 'X', o_orderpriority
  FROM base WHERE o_orderkey % 10 = 1
  UNION ALL SELECT o_orderkey, 2, 'u', 'Z', '0-REVISED'
  FROM base WHERE o_orderkey % 10 = 1
  UNION ALL SELECT o_orderkey, 1, 'u', 'P', o_orderpriority
  FROM base WHERE o_orderkey % 10 = 2
  UNION ALL SELECT -o_orderkey, 1, 'u', 'N', '9-NEW'
  FROM base WHERE o_orderkey % 10 = 3
),
last AS (
  SELECT o_orderkey, max_by(op, seq) AS _op,
         max_by(s, seq) AS _s, max_by(p, seq) AS _p
  FROM changes GROUP BY o_orderkey
)
SELECT coalesce(b.o_orderkey, l.o_orderkey) AS o_orderkey,
       CASE WHEN l._op = 'u' THEN l._s
            ELSE b.o_orderstatus END AS o_orderstatus,
       CASE WHEN l._op = 'u' THEN l._p
            ELSE b.o_orderpriority END AS o_orderpriority
FROM base b FULL OUTER JOIN last l ON b.o_orderkey = l.o_orderkey
WHERE l._op IS NULL OR l._op = 'u'
"""


def q_dedup_normalized(spark, sf_dir):
    """Fuzzy-exact dedup (functions/dedup.normalized_exact_duplicates):
    exact dedup on the NORMALIZED text fingerprint (lowercase, strip
    punctuation, collapse whitespace). The raw corpus has no
    case/punct variants, so the query unions deterministic
    upper-cased and punctuation-padded copies at offset doc_ids (the
    PII-scrub precedent for live signal) — every original doc becomes
    a 3-copy group with itself as canonical."""
    from operator_zoo.functions.dedup import (
        normalized_exact_duplicates,
    )

    docs = _t_wide(spark, sf_dir, "documents").select("doc_id", "text")
    variants = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.upper("text").alias("text"),
    ).unionByName(
        docs.select(
            (F.col("doc_id") + 2000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" !!")).alias("text"),
        )
    )
    return normalized_exact_duplicates(docs.unionByName(variants))


def _sql_dedup_normalized() -> str:
    norm = (
        "trim(regexp_replace(regexp_replace(lower(text), "
        "'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"
    )
    fp = h60_sql(norm, "normexact")
    return f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 1000000, upper(text) FROM documents
  UNION ALL SELECT doc_id + 2000000, text || ' !!' FROM documents
),
tagged AS (SELECT doc_id, {fp} AS norm_fp FROM corpus),
groups AS (
  SELECT norm_fp, count(*)::BIGINT AS n_copies,
         min(doc_id) AS canonical_doc_id
  FROM tagged GROUP BY norm_fp
)
SELECT t.doc_id, t.norm_fp, g.canonical_doc_id, g.n_copies,
       (t.doc_id = g.canonical_doc_id) AS is_kept
FROM tagged t JOIN groups g USING (norm_fp)
"""


def q_profile_key_skew(spark, sf_dir):
    """Key-skew diagnostic: the 20 hottest event user_ids with exact
    counts and integer ppm share of total — the report a pipeline
    owner reads before deciding to salt a join. One map-side-combined
    aggregate, a one-row broadcast total, and a TakeOrderedAndProject
    top-k (never a global sort)."""
    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count("*").cast("long").alias("cnt"))
    total = counts.agg(F.sum("cnt").cast("long").alias("total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "user_id",
            "cnt",
            F.expr("cnt * 1000000 div total").cast("long").alias("share_ppm"),
        )
        .orderBy(F.desc("cnt"), F.asc("user_id"))
        .limit(20)
    )


SQL_PROFILE_KEY_SKEW = """
WITH counts AS (
  SELECT user_id, count(*)::BIGINT AS cnt FROM events GROUP BY user_id
),
total AS (SELECT sum(cnt)::BIGINT AS total FROM counts)
SELECT user_id, cnt, (cnt * 1000000 // total)::BIGINT AS share_ppm
FROM counts, total
ORDER BY cnt DESC, user_id LIMIT 20
"""


def q_jaccard_prefix_join(spark, sf_dir):
    """EXACT 3-gram Jaccard >= 0.8 self-join via prefix filtering
    (functions/dedup.jaccard_prefix_join — the AllPairs/PPJoin
    candidate principle): no false negatives, the exact counterpart
    to the MinHash-LSH family. Candidate buckets are keyed by each
    doc's RAREST shingles, so the prefix self-join stays small by
    construction; 3-gram shingles keep the measure discriminative on
    the synthetic corpus (unigram SETS overlap almost completely).

    The shingle and prefix relations feed both self-join sides plus
    the verify, so the registered plan persists them (computed once,
    probed per branch); the persisted handles ride on the returned
    DataFrame as ``_ptxv_persisted`` for the caller to unpersist after
    collecting (tests/test_queries_vs_duckdb.py)."""
    from operator_zoo.functions.dedup import (
        jaccard_prefix_join,
    )

    docs = _t_wide(spark, sf_dir, "documents")
    sink: list = []
    out = jaccard_prefix_join(
        docs, threshold_pct=80, shingle=3, persisted_sink=sink
    )
    out._ptxv_persisted = sink
    return out


SQL_JACCARD_PREFIX_JOIN = """
WITH words AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
  FROM documents
),
toks AS (
  SELECT DISTINCT doc_id,
         unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                 FOR i IN range(1, len(w) - 1)]) AS token
  FROM words WHERE len(w) >= 3
),
freq AS (SELECT token, count(*)::BIGINT AS df FROM toks GROUP BY token),
sizes AS (SELECT doc_id, count(*)::BIGINT AS n FROM toks GROUP BY doc_id),
ranked AS (
  SELECT t.doc_id, t.token, s.n,
         row_number() OVER (PARTITION BY t.doc_id
                            ORDER BY f.df, t.token) AS rk
  FROM toks t JOIN freq f USING (token) JOIN sizes s USING (doc_id)
),
pref AS (
  SELECT doc_id, token, n FROM ranked
  WHERE rk <= n - ((80 * n + 99) // 100) + 1
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM pref a JOIN pref b ON a.token = b.token AND a.doc_id < b.doc_id
  WHERE 100 * least(a.n, b.n) >= 80 * greatest(a.n, b.n)
),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*)::BIGINT AS n_inter
  FROM cand c
  JOIN toks ta ON ta.doc_id = c.doc_a
  JOIN toks tb ON tb.doc_id = c.doc_b AND tb.token = ta.token
  GROUP BY c.doc_a, c.doc_b
),
res AS (
  SELECT i.doc_a, i.doc_b, i.n_inter,
         (sa.n + sb.n - i.n_inter)::BIGINT AS n_union
  FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a
  JOIN sizes sb ON sb.doc_id = i.doc_b
)
SELECT doc_a, doc_b, n_inter, n_union,
       round(n_inter::DOUBLE / n_union, 6) AS jaccard
FROM res WHERE 100 * n_inter >= 80 * n_union
"""


def q_scd2_priority_history(spark, sf_dir):
    """SCD type-2 dimension history (functions/temporal.py
    scd2_from_changelog) from the orders change log: each customer's
    o_orderpriority runs collapse into validity intervals with
    valid_to = next interval's start (NULL while current). Timestamps
    surface as epoch bigints (the registry's cross-engine timestamp
    convention); (o_orderdate, o_orderkey) is the total order, so
    duplicate order dates don't make runs engine-dependent. ONE
    exchange on custkey (both window passes share it)."""
    from operator_zoo.functions.temporal import (
        scd2_from_changelog,
    )

    log = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderpriority",
        _epoch_of("o_orderdate").alias("od_epoch"),
        "o_orderkey",
    )
    return scd2_from_changelog(
        log,
        key="o_custkey",
        attr="o_orderpriority",
        ts="od_epoch",
        tiebreak="o_orderkey",
    ).select(
        "o_custkey",
        F.col("o_orderpriority").alias("priority"),
        "valid_from",
        "valid_to",
        "is_current",
    )


SQL_SCD2_PRIORITY_HISTORY = """
WITH log AS (
  SELECT o_custkey, o_orderpriority,
         floor(epoch(o_orderdate))::BIGINT AS od_epoch, o_orderkey
  FROM orders
),
marked AS (
  SELECT o_custkey, o_orderpriority, od_epoch, o_orderkey,
         lag(o_orderpriority) OVER (
           PARTITION BY o_custkey ORDER BY od_epoch, o_orderkey
         ) AS prev
  FROM log
),
starts AS (
  SELECT o_custkey, o_orderpriority, od_epoch, o_orderkey FROM marked
  WHERE prev IS NULL OR o_orderpriority <> prev
)
SELECT o_custkey, o_orderpriority AS priority,
       od_epoch AS valid_from,
       lead(od_epoch) OVER (
         PARTITION BY o_custkey ORDER BY od_epoch, o_orderkey
       ) AS valid_to,
       (lead(od_epoch) OVER (
         PARTITION BY o_custkey ORDER BY od_epoch, o_orderkey
       ) IS NULL) AS is_current
FROM starts
"""


def q_pagerank_parts(spark, sf_dir):
    """Fixed-iteration integer PageRank (functions/graph.py) over the
    part co-purchase graph: within each order, DISTINCT
    (linenumber, partkey) tuples ordered by (linenumber, partkey)
    chain into directed edges part_i -> part_{i+1} (the distinct-tuple
    order is deterministic where raw row order is not — the synthetic
    lineitem has duplicate (order, linenumber) rows). 3 unrolled
    iterations, every rank an integer — bit-identical to the oracle's
    CTE replay. Per iteration: one edges-ranks shuffle join on src +
    one hash-aggregate on dst; ranks are |V| rows and never
    broadcast.

    Registered with ``persisted_sink`` (the GraphX-style cache of the
    per-iteration constants): round 4's plan audit showed the
    recompute form multiplying the edge derivation across the 3
    unrolled iterations (104 exchanges / 28 parquet scans). The
    persisted handles ride on the returned DataFrame as
    ``_ptxv_persisted``; the caller unpersists after collecting."""
    from operator_zoo.functions.graph import pagerank_fixed

    li = _t_wide(spark, sf_dir, "lineitem")
    # per-order sorted distinct (linenumber, partkey) basket + map-side
    # HOF chaining: ONE aggregate shuffle replaces the round-5 distinct
    # exchange + lead window (same deterministic (ln, pk) order — the
    # sorted set IS the window order, adjacent elements ARE the lead
    # pairs; same <=13-items/order bound as the triangle build)
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(
            F.collect_set(F.struct("l_linenumber", "l_partkey"))
        ).alias("ps")
    )
    seq = baskets.select(
        F.explode(
            F.expr(
                "transform(slice(ps, 1, size(ps) - 1), (s, i) -> "
                "struct(s.l_partkey AS src, ps[i + 1].l_partkey AS dst))"
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    edges = seq.where(F.col("dst") != F.col("src")).distinct()
    sink: list = []
    out = pagerank_fixed(edges, iters=3, persisted_sink=sink).select(
        F.col("node").alias("part_id"), "pr_scaled"
    )
    out._ptxv_persisted = sink
    return out


def _sql_pagerank_parts() -> str:
    from operator_zoo.functions.graph import pagerank_fixed_sql

    chain = pagerank_fixed_sql("edges", iters=3)
    return f"""
WITH tup AS (
  SELECT DISTINCT l_orderkey, l_linenumber, l_partkey FROM lineitem
),
seq AS (
  SELECT l_partkey AS src,
         lead(l_partkey) OVER (PARTITION BY l_orderkey
                               ORDER BY l_linenumber, l_partkey) AS dst
  FROM tup
),
edges AS (
  SELECT DISTINCT src, dst FROM seq
  WHERE dst IS NOT NULL AND dst <> src
),
{chain}
SELECT node AS part_id, r AS pr_scaled FROM r3
"""


_KMV_K = 128


_QSK_K = 64
_WS_K = 100
_KMVI_K = 256


def q_weighted_sample(spark, sf_dir):
    """Length-weighted document sample (functions/curation.
    weighted_sample): Sequential Poisson Sampling — rank by
    h60(id)/weight (one IEEE-exact double division of two integers,
    so the key is bit-identical in DuckDB, unlike transcendental A-ES
    keys), keep the 100 smallest. Inclusion ~ proportional to
    n_chars; pure function of (doc_id, salt) — partitioning and rerun
    invariant. Exact two-phase salted bottom-k build."""
    from operator_zoo.functions.curation import weighted_sample

    docs = _t(spark, sf_dir, "documents")
    return weighted_sample(
        docs, id_col="doc_id", weight_col="n_chars", k=_WS_K
    )


def _sql_weighted_sample() -> str:
    h = h60_sql("CAST(doc_id AS VARCHAR)", "wsample")
    return f"""
WITH keyed AS (
  SELECT doc_id, n_chars::BIGINT AS weight, {h} AS u,
         ({h})::DOUBLE / n_chars::DOUBLE AS key
  FROM documents
)
SELECT row_number() OVER (ORDER BY key, u)::BIGINT AS ws_rank,
       doc_id, weight, key
FROM keyed ORDER BY key, u LIMIT {_WS_K}
"""


def q_kmv_intersection(spark, sf_dir):
    """Cross-source distinct-shingle INTERSECTION estimate from two
    KMV sketches (functions/sketches.kmv_intersection_row — the
    multiset-operation synopsis of Beyer et al., SIGMOD'07; the
    capability HLL structurally lacks): sketch src0's and src1's
    distinct 3-gram shingles (one distinct-aggregate + bottom-k
    each), merge the <= k-row sketches driver-scale, estimate
    |A∩B| = (n_both / k) * union_est. The estimate is checked against
    the exact intersection in the same row (both engines compute
    both) — the sketch answers in O(k) what the exact form needs a
    full shuffle join for."""
    from operator_zoo.functions.sketches import (
        kmv_intersection_row,
        kmv_sketch,
    )

    docs = _t_wide(spark, sf_dir, "documents")
    words = F.split("text", " ")
    toks_arr = F.when(
        F.size(words) >= 3,
        F.transform(
            F.sequence(F.lit(0), F.size(words) - 3),
            lambda i: F.concat_ws(" ", F.slice(words, i + 1, 3)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    def _shingles(src):
        return (
            docs.where(F.col("source") == src)
            .select(F.explode(toks_arr).alias("token"))
        )

    ta, tb = _shingles("src0"), _shingles("src1")
    est = kmv_intersection_row(
        kmv_sketch(ta, F.col("token"), k=_KMVI_K),
        kmv_sketch(tb, F.col("token"), k=_KMVI_K),
        k=_KMVI_K,
    )
    exact = (
        ta.distinct()
        .join(tb.distinct(), "token")
        .agg(F.count("*").cast("long").alias("exact_intersection"))
    )
    return est.crossJoin(exact)


def _sql_kmv_intersection() -> str:
    k = _KMVI_K
    h = h60_sql("token", "kmv")
    unbias = float((k - 1) * (1 << 60))
    return f"""
WITH w AS (
  SELECT source, list_filter(string_split(text, ' '), x -> x <> '') AS ws
  FROM documents WHERE source IN ('src0', 'src1')
),
toks AS (
  SELECT source, unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                         FOR i IN range(1, len(ws) - 1)]) AS token
  FROM w WHERE len(ws) >= 3
),
ha AS (SELECT DISTINCT {h} AS h FROM toks WHERE source = 'src0'
       ORDER BY h LIMIT {k}),
hb AS (SELECT DISTINCT {h} AS h FROM toks WHERE source = 'src1'
       ORDER BY h LIMIT {k}),
m AS (
  SELECT coalesce(a.h, b.h) AS h,
         CASE WHEN a.h IS NULL THEN 0 ELSE 1 END AS in_a,
         CASE WHEN b.h IS NULL THEN 0 ELSE 1 END AS in_b
  FROM ha a FULL JOIN hb b ON a.h = b.h
),
u AS (
  SELECT * FROM (
    SELECT h, in_a, in_b, row_number() OVER (ORDER BY h) AS rk FROM m
  ) WHERE rk <= {k}
),
agg AS (
  SELECT count(*)::BIGINT AS n_union_kept, max(h) AS union_kth,
         sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)::BIGINT
           AS n_both
  FROM u
),
est AS (
  SELECT *, CASE WHEN n_union_kept < {k} THEN n_union_kept::DOUBLE
                 ELSE {unbias!r} / union_kth::DOUBLE END AS est_union
  FROM agg
)
SELECT {k}::BIGINT AS k, n_union_kept, n_both,
       round(n_both::DOUBLE / n_union_kept::DOUBLE, 6) AS jaccard_est,
       round(est_union, 6) AS union_est,
       round(est_union * n_both::DOUBLE / n_union_kept::DOUBLE, 6)
         AS intersection_est,
       (SELECT count(*)::BIGINT FROM
          (SELECT DISTINCT token FROM toks WHERE source = 'src0') x
          JOIN (SELECT DISTINCT token FROM toks WHERE source = 'src1') y
          USING (token)) AS exact_intersection
FROM est
"""


def q_quantile_sketch_doclen(spark, sf_dir):
    """Per-language length percentiles from a mergeable quantile
    sketch (functions/sketches.quantile_sketch, k=64): the k rows with
    smallest salted doc_id hash per language — a deterministic uniform
    sample independent of value distribution and partition order —
    then percentile_disc-style ranks over the sample
    (value at ceil(p*n/100), ties ordered by (value, hash)). Exact
    per-group p99 at 10^12 rows needs a full per-group sort; this is
    bounded state (k rows/group), union-mergeable (bottom-k property,
    pytest-pinned), and every output integer replays bit-for-bit in
    DuckDB. Build is the exact two-phase salted bottom-k — hot
    languages never funnel one reducer."""
    from operator_zoo.functions.sketches import (
        quantile_estimate,
        quantile_sketch,
    )

    docs = _t(spark, sf_dir, "documents")
    sk = quantile_sketch(
        docs, "doc_id", "n_chars", group_cols=["lang"], k=_QSK_K
    )
    return quantile_estimate(
        sk, group_cols=["lang"], percents=(25, 50, 90, 99)
    ).orderBy("lang")


def _sql_quantile_sketch_doclen() -> str:
    k = _QSK_K
    h = h60_sql("doc_id", "qsketch")
    sel = ",\n       ".join(
        f"max(CASE WHEN vr = ({p} * n + 99) // 100 THEN value END) AS p{p}"
        for p in (25, 50, 90, 99)
    )
    return f"""
WITH base AS (
  SELECT lang, {h} AS key_hash, n_chars::BIGINT AS value FROM documents
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY lang
                               ORDER BY key_hash, value) AS rk
  FROM base
),
sk AS (SELECT lang, key_hash, value FROM ranked WHERE rk <= {k}),
vr AS (
  SELECT lang, value,
         row_number() OVER (PARTITION BY lang
                            ORDER BY value, key_hash) AS vr,
         count(*) OVER (PARTITION BY lang) AS n
  FROM sk
)
SELECT lang, max(n)::BIGINT AS n_sample,
       {sel}
FROM vr GROUP BY lang ORDER BY lang
"""


def q_kmv_distinct(spark, sf_dir):
    """KMV (bottom-k) distinct sketch of document texts (k=128): the
    k smallest portable hashes ARE the verified artifact — unlike HLL
    a KMV sketch also supports set-intersection estimates, and shard
    sketches union-merge losslessly (bottom-k of concatenated sketch
    rows). The k rows carry the one-row estimate + exact distinct
    alongside (k rows x constant evidence columns)."""
    from operator_zoo.functions.sketches import (
        kmv_estimate_row,
        kmv_sketch,
    )

    docs = _t(spark, sf_dir, "documents")
    sk = kmv_sketch(docs, F.col("text"), k=_KMV_K)
    est = kmv_estimate_row(sk, k=_KMV_K)
    exact = docs.agg(
        F.count_distinct("text").cast("long").alias("exact_distinct")
    )
    return sk.crossJoin(est).crossJoin(exact)


def _sql_kmv_distinct() -> str:
    k = _KMV_K
    h = h60_sql("text", "kmv")
    unbias = float((k - 1) * (1 << 60))
    return f"""
WITH hashes AS (SELECT DISTINCT {h} AS h FROM documents),
sk AS (
  SELECT row_number() OVER (ORDER BY h)::BIGINT AS rank, h AS kmv_hash
  FROM hashes ORDER BY h LIMIT {k}
),
agg AS (
  SELECT count(*)::BIGINT AS n_kept, max(kmv_hash) AS kth_hash FROM sk
)
SELECT sk.rank, sk.kmv_hash, {k}::BIGINT AS k, agg.n_kept, agg.kth_hash,
       round(CASE WHEN agg.n_kept < {k} THEN agg.n_kept::DOUBLE
                  ELSE {unbias!r} / agg.kth_hash::DOUBLE END, 6) AS estimate,
       (SELECT count(DISTINCT text)::BIGINT FROM documents) AS exact_distinct
FROM sk, agg
"""


_DECON_MOD = 17  # doc_id % MOD == 0 -> the held-out "benchmark" slice
_DECON_N = 8


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination over the documents table: the corpus
    is split into a small eval slice (doc_id % 17 == 0) and the
    training remainder; every training doc sharing a word 8-gram with
    the eval slice is flagged. The eval gram set broadcasts — the
    training corpus never shuffles (map-side probe + one per-doc
    count), the shape that holds at 10^12 docs."""
    from operator_zoo.functions.curation import decontaminate

    docs = _t_wide(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % _DECON_MOD == 0)
    train = docs.filter(F.col("doc_id") % _DECON_MOD != 0)
    return decontaminate(train, bench, n=_DECON_N)


def _sql_decontaminate() -> str:
    n, mod = _DECON_N, _DECON_MOD
    gh = h60_sql(f"array_to_string(t.ts[r.i : r.i + {n - 1}], ' ')", "decon")
    return f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
  FROM documents
),
g AS (
  SELECT t.doc_id, {gh} AS gh
  FROM toks t, UNNEST(range(1, len(t.ts) - {n - 2})) AS r(i)
),
tg AS (SELECT DISTINCT doc_id, gh FROM g WHERE doc_id % {mod} <> 0),
bg AS (SELECT DISTINCT gh FROM g WHERE doc_id % {mod} = 0),
tot AS (SELECT doc_id, count(*)::BIGINT AS n_grams FROM tg GROUP BY doc_id),
hit AS (
  SELECT doc_id, count(*)::BIGINT AS n_contaminated
  FROM tg WHERE gh IN (SELECT gh FROM bg) GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(tot.n_grams, 0)::BIGINT AS n_grams,
       coalesce(hit.n_contaminated, 0)::BIGINT AS n_contaminated,
       coalesce(hit.n_contaminated, 0) > 0 AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id % {mod} <> 0) d
LEFT JOIN tot USING (doc_id)
LEFT JOIN hit USING (doc_id)
"""


# ---------------------------------------------------------------------------
# remaining relational breadth: CUBE + grouping_id, semi/anti join, pivot
# ---------------------------------------------------------------------------

def q_pricing_cube(spark, sf_dir):
    """Full CUBE over (returnflag, linestatus) with grouping_id — the
    grouping-sets family §2.12 lists as absent from the reference.
    Spark and DuckDB share the bit convention (first listed column =
    most significant bit), verified empirically."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().alias("gid"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count("*").alias("n"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "gid",
            "sum_qty",
            "n",
        )
    )


SQL_PRICING_CUBE = """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       grouping_id(l_returnflag, l_linestatus) AS gid,
       round(sum(l_quantity), 2) AS sum_qty,
       count(*) AS n
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def q_semi_anti_customers(spark, sf_dir):
    """Explicit semi/anti join surface: customers with vs without
    URGENT orders, as two branches (leftsemi / leftanti) summarized
    per branch. The urgency filter keeps BOTH branches non-empty at
    every SF (unfiltered, every customer has some order and the anti
    branch degenerates to empty)."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    ordered = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    semi = cust.join(
        ordered, cust.c_custkey == ordered.o_custkey, "leftsemi"
    ).withColumn("op", F.lit("with_orders"))
    anti = cust.join(
        ordered, cust.c_custkey == ordered.o_custkey, "leftanti"
    ).withColumn("op", F.lit("without_orders"))
    return (
        semi.unionByName(anti)
        .groupBy("op")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
            F.min("c_custkey").alias("min_custkey"),
            F.max("c_custkey").alias("max_custkey"),
        )
    )


SQL_SEMI_ANTI_CUSTOMERS = """
WITH urgent AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
tagged AS (
  SELECT c_custkey, c_acctbal, 'with_orders' AS op
  FROM customer
  WHERE EXISTS (SELECT 1 FROM urgent WHERE o_custkey = c_custkey)
  UNION ALL
  SELECT c_custkey, c_acctbal, 'without_orders' AS op
  FROM customer
  WHERE NOT EXISTS (SELECT 1 FROM urgent WHERE o_custkey = c_custkey)
)
SELECT op, count(*) AS n_customers,
       round(sum(c_acctbal), 2) AS sum_acctbal,
       min(c_custkey) AS min_custkey, max(c_custkey) AS max_custkey
FROM tagged GROUP BY op
"""


def q_pivot_status(spark, sf_dir):
    """Pivot (long→wide conditional aggregation): order counts per
    priority pivoted on status. Explicit value list keeps the output
    schema static — the only scale-safe pivot (value discovery would
    need an extra pass and an unbounded schema)."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce("O", F.lit(0)).alias("n_open"),
            F.coalesce("F", F.lit(0)).alias("n_filled"),
            F.coalesce("P", F.lit(0)).alias("n_pending"),
        )
    )


SQL_PIVOT_STATUS = """
SELECT o_orderpriority,
       count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
       count(*) FILTER (WHERE o_orderstatus = 'F') AS n_filled,
       count(*) FILTER (WHERE o_orderstatus = 'P') AS n_pending
FROM orders
GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# non-SQL-expressible pandas-UDF ops:
# rows-only checks; pytest covers exact correctness vs the oracle.
# ---------------------------------------------------------------------------


def q_media_features(spark, sf_dir):
    from operator_zoo.functions.multimodal import (
        corpus_media_refs,
        media_features,
    )

    return media_features(corpus_media_refs(_corpus_df(spark)))


def q_media_resize(spark, sf_dir):
    from operator_zoo.functions.multimodal import (
        corpus_media_refs,
        resize_media,
    )

    # stub rasters are 32x32: max_dim=16 makes every image actually
    # downscale (max_dim above source size exercises only the pass-through)
    return resize_media(corpus_media_refs(_corpus_df(spark)), max_dim=16)


def q_media_frame_sample(spark, sf_dir):
    from operator_zoo.functions.multimodal import (
        corpus_media_refs,
        sample_frames,
    )

    return sample_frames(corpus_media_refs(_corpus_df(spark)), k=4)


def q_winnow_fingerprints(spark, sf_dir):
    from operator_zoo.functions.text import winnow_fingerprints

    docs = _t_wide(spark, sf_dir, "documents")
    fps = winnow_fingerprints(docs)
    return fps.select("doc_id", F.explode("fingerprints").alias("fingerprint"))


def q_bpe_token_ids(spark, sf_dir):
    """The tokenized corpus: train merges+vocab on the corpus word
    frequencies, emit (doc_id, pos, token_id) — what a token-budgeted
    pretraining pipeline actually materializes."""
    from operator_zoo.functions.bpe import (
        bpe_token_ids,
        learn_tokenizer,
    )

    docs = _t_wide(spark, sf_dir, "documents")
    merges, vocab = learn_tokenizer(docs)
    return bpe_token_ids(docs, merges, vocab)


def q_bpe_merge_tokens(spark, sf_dir):
    """True vocab-driven BPE counts: train the merge table on the
    corpus word-frequency aggregate (deterministic), apply via an
    Arrow-batched pandas UDF with per-batch memoization."""
    from operator_zoo.functions.bpe import (
        bpe_token_counts,
        learn_merges,
    )

    docs = _t_wide(spark, sf_dir, "documents")
    merges = learn_merges(docs)
    return bpe_token_counts(docs, merges)


# ---------------------------------------------------------------------------
# streaming parity — batch equivalence of the Structured Streaming plans
# ---------------------------------------------------------------------------
#
# The streaming family (streaming/aggregate.py) is event-time driven,
# so an availableNow replay over a static fixture must produce exactly
# the batch answer — these two queries turn that property into hard
# driver-level CORRECTNESS rows (rows+schema+hash vs DuckDB), not just
# pytest assertions. A far-future "advancer" row pushes the final
# watermark past every real window / session, so everything real
# flushes; the advancer's own window/session stays un-finalized in
# state and never reaches the sink.


def _epoch_ntz() -> F.Column:
    """Epoch seconds from the NTZ wall-clock fields (same derivation as
    m1_sessionize_window — session-timezone-independent)."""
    return (
        F.unix_date(F.col("ts").cast("date")).cast("long") * 86400
        + F.hour("ts").cast("long") * 3600
        + F.minute("ts").cast("long") * 60
        + F.second("ts").cast("long")
    )


def _run_stream_over_events(spark, sf_dir, plan, tag):
    """Materialize the events table as a file-stream input (plus the
    advancer row), run ``plan`` availableNow into a temp parquet sink,
    and return the sink relation.

    A streaming query inherently needs a sink + checkpoint directory;
    the per-call ``mkdtemp`` carries no state between runs and is the
    one documented exception to the side-effect-free-builder rule (the
    directory is removed at interpreter exit — atexit, because the
    returned relation reads it lazily). The single ``collect()``
    fetches one long (max event epoch) — driver metadata, not data
    rows.
    """
    import atexit
    import shutil

    from operator_zoo.streaming.aggregate import (  # noqa: F401
        sessionize_stream,
        windowed_event_counts,
    )

    base = tempfile.mkdtemp(prefix=f"ptxv_stream_{tag}_")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    in_dir, out_dir, ckpt = (os.path.join(base, d) for d in ("in", "out", "ck"))

    ev = _t(spark, sf_dir, "events").withColumn("epoch", _epoch_ntz())
    max_epoch = int(ev.agg(F.max("epoch")).collect()[0][0])
    adv = spark.range(1).select(
        F.lit(-1).cast("long").alias("user_id"),
        F.timestamp_seconds(F.lit(max_epoch + 30 * 86400)).alias("ts"),
        F.lit("__advancer__").alias("event_type"),
        F.lit(0.0).alias("value"),
    )
    (
        ev.select(
            F.col("user_id").cast("long").alias("user_id"),
            F.timestamp_seconds("epoch").alias("ts"),
            "event_type",
            F.col("value").cast("double").alias("value"),
        )
        .unionByName(adv)
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(in_dir)
    )
    stream = spark.readStream.schema(
        "user_id long, ts timestamp, event_type string, value double"
    ).parquet(in_dir)
    q = (
        plan(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(600):
        q.stop()
        raise RuntimeError(
            f"streaming parity run '{tag}' timed out after 600s — "
            "refusing to compare a partial sink against the oracle"
        )
    return spark.read.parquet(out_dir)


def q_streaming_windowed_counts(spark, sf_dir):
    """Batch parity of the watermarked window aggregate: every real
    (30-min window, event_type) group must appear exactly once with
    the exact batch counts. Epoch projection keeps the comparison
    session-timezone-independent."""
    from operator_zoo.streaming.aggregate import windowed_event_counts

    out = _run_stream_over_events(spark, sf_dir, windowed_event_counts, "win")
    return out.select(
        F.unix_timestamp("window_start").alias("window_start_epoch"),
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("value_milli").cast("long").alias("value_milli"),
    )


SQL_STREAMING_WINDOWED_COUNTS = """
SELECT (floor(floor(epoch(ts)) / 1800) * 1800)::BIGINT AS window_start_epoch,
       event_type,
       count(*) AS n_events,
       sum(floor(value * 1000))::BIGINT AS value_milli
FROM events
GROUP BY 1, 2
"""


def q_streaming_sessionize(spark, sf_dir):
    """Batch parity of the event-time stateful sessionizer: the
    availableNow replay must emit exactly the m1-style gap sessions
    (30-min inactivity split) for every user."""
    from operator_zoo.streaming.aggregate import sessionize_stream

    out = _run_stream_over_events(spark, sf_dir, sessionize_stream, "sess")
    return out.select(
        "user_id",
        F.unix_timestamp("session_start").alias("start_epoch"),
        F.unix_timestamp("session_end").alias("end_epoch"),
        F.col("n_events").cast("long").alias("n_events"),
        "value_milli",
    )


SQL_STREAMING_SESSIONIZE = """
WITH lagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL THEN 1
              WHEN floor(epoch(ts))::BIGINT - floor(epoch(lag(ts) OVER w))::BIGINT > 1800 THEN 1
              ELSE 0 END AS new_seg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
seg AS (
  SELECT user_id, ts, value,
         sum(new_seg) OVER (PARTITION BY user_id ORDER BY ts, event_id)::BIGINT AS segment
  FROM lagged
)
SELECT user_id,
       min(floor(epoch(ts))::BIGINT) AS start_epoch,
       max(floor(epoch(ts))::BIGINT) AS end_epoch,
       count(*) AS n_events,
       sum(floor(value * 1000))::BIGINT AS value_milli
FROM seg
GROUP BY user_id, segment
"""


def q_streaming_dedup_docs(spark, sf_dir):
    """Batch parity of the watermarked streaming dedup
    (streaming/dedup.py): driving the corpus as a file stream — split
    across files with maxFilesPerTrigger=1 so duplicates genuinely
    cross micro-batch boundaries — must emit exactly the distinct
    content fingerprints. Every copy's synthetic event time
    (doc_id mod 86400 seconds into one day) lies within the 25-hour
    watermark of every other, so the within-watermark drop guarantee
    covers all duplicate pairs and parity with SELECT DISTINCT is
    exact. Only the key column is projected: which payload copy
    survives is batching-dependent by design (module docstring)."""
    import atexit
    import shutil

    from operator_zoo.streaming.dedup import dedup_stream

    base = tempfile.mkdtemp(prefix="ptxv_stream_dedup_")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    in_dir, out_dir, ckpt = (os.path.join(base, d) for d in ("in", "out", "ck"))
    (
        _t(spark, sf_dir, "documents")
        .select(
            h60("text", "exact").alias("content_hash"),
            F.timestamp_seconds(
                F.lit(1704067200) + F.col("doc_id") % 86400
            ).alias("ts"),
        )
        .repartition(4)  # duplicates scattered across 4 input files
        .write.mode("overwrite")
        .parquet(in_dir)
    )
    stream = (
        spark.readStream.schema("content_hash long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        dedup_stream(stream, ["content_hash"], watermark="25 hours")
        .select("content_hash")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(600):
        q.stop()
        raise RuntimeError(
            "streaming parity run 'dedup' timed out after 600s — "
            "refusing to compare a partial sink against the oracle"
        )
    return spark.read.parquet(out_dir)


SQL_STREAMING_DEDUP_DOCS = f"""
SELECT DISTINCT {h60_sql('text', 'exact')} AS content_hash
FROM documents
"""


def q_streaming_line_dedup(spark, sf_dir):
    """Batch parity of the streaming LINE dedup
    (streaming/dedup.line_dedup_stream — the ingest-time mirror of the
    batch boilerplate pass): the corpus driven as a file stream with
    maxFilesPerTrigger=1, line windows hashed map-side in-stream, and
    dropDuplicatesWithinWatermark on the line hash must emit exactly
    the DISTINCT line-hash set — every repeated boilerplate line
    crosses micro-batch boundaries (4 input files) and is dropped by
    watermark-bounded state, never re-emitted. Synthetic event times
    (doc_id mod 86400 s into one day) all lie within the 25-hour
    watermark, so the within-watermark drop guarantee covers every
    duplicate pair and parity with SELECT DISTINCT is exact. Only the
    hash column is projected: which document's copy survives is
    batching-dependent by design (module docstring)."""
    import atexit
    import shutil

    from operator_zoo.streaming.dedup import line_dedup_stream

    base = tempfile.mkdtemp(prefix="ptxv_stream_linededup_")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    in_dir, out_dir, ckpt = (os.path.join(base, d) for d in ("in", "out", "ck"))
    (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "text",
            F.timestamp_seconds(
                F.lit(1704067200) + F.col("doc_id") % 86400
            ).alias("ts"),
        )
        .repartition(4)  # duplicate lines scattered across 4 files
        .write.mode("overwrite")
        .parquet(in_dir)
    )
    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        line_dedup_stream(stream, line_words=5, watermark="25 hours")
        .select(F.col("h").alias("line_hash"))
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(600):
        q.stop()
        raise RuntimeError(
            "streaming parity run 'line_dedup' timed out after 600s — "
            "refusing to compare a partial sink against the oracle"
        )
    return spark.read.parquet(out_dir)


SQL_STREAMING_LINE_DEDUP = f"""
WITH w AS (SELECT doc_id, str_split(text, ' ') AS words FROM documents),
base AS (SELECT doc_id, words, (len(words) + 4) // 5 AS n_lines FROM w),
lines AS (
  SELECT array_to_string(words[(i*5+1):(i*5+5)], ' ') AS line
  FROM base, unnest(range(n_lines)) AS t(i)
)
SELECT DISTINCT {h60_sql("line", "linededup")} AS line_hash FROM lines
"""


# ---------------------------------------------------------------------------
# Inverted index (functions/index.py), hashed-linear quality classifier
# (functions/scoring.py), single-pass profiling (functions/profile.py),
# stream-static enrichment (streaming/enrich.py)
# ---------------------------------------------------------------------------

_POSTING_MIN_DF = 2
_POSTING_MAX_DF = 400  # both bounds live on the 500-doc corpus: the
# hottest term (df 402) is stop-listed, singleton terms are dropped


def q_index_postings(spark, sf_dir):
    """Inverted-index posting rows (term, df, doc_id, tf, first_pos)
    for the df band [2, 400] — posting ROWS, never concatenated lists,
    so no term is ever a one-reducer hot key (functions/index.py)."""
    from operator_zoo.functions.index import posting_table

    return posting_table(
        _t_wide(spark, sf_dir, "documents"),
        min_df=_POSTING_MIN_DF,
        max_df=_POSTING_MAX_DF,
    )


SQL_INDEX_POSTINGS = f"""
WITH base AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
toks AS (
  SELECT doc_id, unnest(toks) AS term, unnest(range(len(toks))) AS pos
  FROM base
),
postings AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf,
         CAST(min(pos) AS INT) AS first_pos
  FROM toks GROUP BY 1, 2
),
dfreq AS (SELECT term, count(*)::BIGINT AS df FROM postings GROUP BY 1)
SELECT p.term, d.df, p.doc_id, p.tf, p.first_pos
FROM postings p JOIN dfreq d USING (term)
WHERE d.df >= {_POSTING_MIN_DF} AND d.df <= {_POSTING_MAX_DF}
"""


_SEARCH_TERMS = ["fast", "key", "dup"]  # two common terms + one rare
# (df 25 of 500) so idf weighting visibly reorders; absent terms are
# covered by pytest
_SEARCH_K = 25


def q_index_search(spark, sf_dir):
    """Term-at-a-time bag-of-terms retrieval over the full posting
    table: integer idf surrogate (SCALE div df), global top-k via
    TakeOrderedAndProject under the strict (score DESC, doc_id ASC)
    order — the result SET is deterministic through score ties at the
    cut (functions/index.py)."""
    from operator_zoo.functions.index import (
        posting_table,
        search_topk,
    )

    postings = posting_table(_t_wide(spark, sf_dir, "documents"), min_df=1)
    return search_topk(postings, _SEARCH_TERMS, k=_SEARCH_K)


def _sql_index_search() -> str:
    from operator_zoo.functions.index import SEARCH_SCALE

    terms = ", ".join(f"'{t}'" for t in _SEARCH_TERMS)
    return f"""
WITH base AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
toks AS (SELECT doc_id, unnest(toks) AS term FROM base),
postings AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2
),
dfreq AS (SELECT term, count(*)::BIGINT AS df FROM postings GROUP BY 1),
scored AS (
  SELECT p.doc_id,
         sum(p.tf * (CAST({SEARCH_SCALE} AS BIGINT) // d.df))::BIGINT AS score,
         count(*)::BIGINT AS n_terms_matched
  FROM postings p JOIN dfreq d USING (term)
  WHERE p.term IN ({terms})
  GROUP BY 1
)
SELECT doc_id, score, n_terms_matched
FROM scored ORDER BY score DESC, doc_id ASC LIMIT {_SEARCH_K}
"""


def q_quality_classifier(spark, sf_dir):
    """fastText-style hashed linear quality filter: token → hashed
    bucket → integer weight, one map-only pass + one per-doc aggregate
    (functions/scoring.py). Weights are hash-derived stand-ins for a
    learned vector so the oracle replays scoring bit-for-bit."""
    from operator_zoo.functions.scoring import score_documents

    return score_documents(_t_wide(spark, sf_dir, "documents"))


def _sql_quality_classifier() -> str:
    bucket = f"({h60_sql('term', 'qcb')} % 256)"
    weight = f"(({h60_sql(f'CAST({bucket} AS VARCHAR)', 'qcw')} % 17) - 8)"
    return f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
  FROM documents
),
wt AS (SELECT doc_id, {weight} AS w FROM toks),
agg AS (
  SELECT doc_id, count(*)::BIGINT AS n_tokens, sum(w)::BIGINT AS score
  FROM wt GROUP BY 1
)
SELECT doc_id, n_tokens, score,
       score / n_tokens AS score_per_token,
       score >= 0 AS keep
FROM agg
"""


def q_zorder_keys(spark, sf_dir):
    """Z-order (Morton) layout keys over (user_id, floor(value)) —
    the Delta OPTIMIZE ZORDER / Iceberg sort-order write-side step for
    multi-dimensional scan pruning (functions/layout.py; measured
    row-group-pruning evidence in COVERAGE.md).
    Pure integer bit interleaving, map-only."""
    from operator_zoo.functions.layout import morton_key_expr

    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    vb = F.floor(F.col("value")).cast("bigint")
    return ev.select(
        "event_id",
        "user_id",
        vb.alias("vbucket"),
        morton_key_expr(F.col("user_id"), vb).alias("zkey"),
    )


def _sql_zorder_keys() -> str:
    from operator_zoo.functions.layout import morton_key_sql

    key = morton_key_sql("user_id", "CAST(floor(value) AS BIGINT)")
    return f"""
SELECT event_id, user_id, CAST(floor(value) AS BIGINT) AS vbucket,
       {key} AS zkey
FROM events WHERE value IS NOT NULL
"""


#: temperature-mix total budget / domain-filter threshold (milli mean
#: per-token score; per-source means span ~2790-3065 at sf0.001, so
#: 2950 keeps both verdict branches live)
_TMIX_BUDGET = 200
_DOMAIN_THRESHOLD_MILLI = 2950


def q_temperature_mix(spark, sf_dir):
    """tau=0.5 temperature-smoothed source mixing: per-source budgets
    proportional to isqrt(char mass), smallest-hash quota selection —
    integer-exact end-to-end (functions/curation.temperature_mix)."""
    from operator_zoo.functions.curation import temperature_mix

    return temperature_mix(_t(spark, sf_dir, "documents"), _TMIX_BUDGET)


def _sql_temperature_mix() -> str:
    h = h60_sql("CAST(doc_id AS VARCHAR)", "tmix")
    return f"""
WITH w AS (
  SELECT source AS stratum, sum(n_chars)::BIGINT AS wt
  FROM documents GROUP BY 1
),
s0 AS (SELECT stratum, wt,
              CAST(floor(sqrt(CAST(wt AS DOUBLE))) AS BIGINT) AS s0 FROM w),
s1 AS (SELECT stratum, wt,
              CASE WHEN (s0 + 1) * (s0 + 1) <= wt THEN s0 + 1 ELSE s0 END AS s1
       FROM s0),
iw AS (SELECT stratum,
              CASE WHEN s1 * s1 > wt THEN s1 - 1 ELSE s1 END AS iw FROM s1),
tot AS (SELECT sum(iw)::BIGINT AS t FROM iw),
b AS (SELECT stratum, (({_TMIX_BUDGET} * iw) // t)::BIGINT AS budget
      FROM iw CROSS JOIN tot),
d AS (SELECT doc_id, source AS stratum, {h} AS h60 FROM documents),
r AS (SELECT doc_id, stratum, h60,
             (row_number() OVER (PARTITION BY stratum
                                 ORDER BY h60, doc_id))::BIGINT AS rk
      FROM d)
SELECT r.doc_id, r.stratum, r.h60, r.rk, b.budget
FROM r JOIN b USING (stratum) WHERE r.rk <= b.budget
"""


def q_domain_filter(spark, sf_dir):
    """C4-style domain badlist verdicts: per-source rollup of the
    hashed-linear classifier score, keep decided by a cross-multiplied
    integer mean comparison (functions/curation.domain_filter)."""
    from operator_zoo.functions.curation import domain_filter

    return domain_filter(
        _t(spark, sf_dir, "documents"),
        threshold_milli=_DOMAIN_THRESHOLD_MILLI,
    )


def _sql_domain_filter() -> str:
    bucket = f"({h60_sql('term', 'qcb')} % 256)"
    weight = f"(({h60_sql(f'CAST({bucket} AS VARCHAR)', 'qcw')} % 17) - 8)"
    return f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
  FROM documents
),
wt AS (SELECT doc_id, {weight} AS w FROM toks),
agg AS (
  SELECT doc_id, count(*)::BIGINT AS n_tokens, sum(w)::BIGINT AS score
  FROM wt GROUP BY 1
),
j AS (
  SELECT d.source AS stratum, a.n_tokens, a.score
  FROM agg a JOIN documents d USING (doc_id)
),
per AS (
  SELECT stratum, count(*)::BIGINT AS n_docs,
         sum(n_tokens)::BIGINT AS tokens_total,
         sum(score)::BIGINT AS score_total
  FROM j GROUP BY 1
)
SELECT stratum, n_docs, tokens_total, score_total,
       score_total * 1000 >= {_DOMAIN_THRESHOLD_MILLI} * tokens_total AS keep
FROM per
"""


def q_lm_score(spark, sf_dir):
    """Bigram-LM quality scoring (the CCNet/KenLM perplexity-filter
    shape): corpus bigram model + per-doc integer-log2 transition
    surrogate, every aggregate int64 (functions/scoring.py
    bigram_lm_scores)."""
    from operator_zoo.functions.scoring import bigram_lm_scores

    return bigram_lm_scores(_t_wide(spark, sf_dir, "documents"))


def _sql_lm_score() -> str:
    from operator_zoo.functions.scoring import _LM_SCALE

    return f"""
WITH toked AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
  FROM documents
),
pairs AS (
  SELECT doc_id,
         unnest(toks[1:len(toks) - 1]) AS w1,
         unnest(toks[2:len(toks)]) AS w2
  FROM toked
  WHERE len(toks) >= 2
),
model AS (
  SELECT w1, w2, count(*)::BIGINT AS c12 FROM pairs GROUP BY 1, 2
),
ctx AS (
  SELECT w1, sum(c12)::BIGINT AS c1 FROM model GROUP BY 1
),
bits AS (
  SELECT p.doc_id,
         (length(bin((m.c12 * {_LM_SCALE}) // x.c1 + 1)) - 1)::BIGINT AS b
  FROM pairs p JOIN model m USING (w1, w2) JOIN ctx x USING (w1)
),
agg AS (
  SELECT doc_id, count(*)::BIGINT AS n_bigrams, sum(b)::BIGINT AS bits_total
  FROM bits GROUP BY 1
)
SELECT doc_id, n_bigrams, bits_total,
       bits_total::DOUBLE / n_bigrams AS avg_bits
FROM agg
"""


_PROFILE_COLS = ["event_id", "user_id", "value"]
_HIST_WIDTH = 25.0


def q_profile_events_stats(spark, sf_dir):
    """ANALYZE-style per-column stats (null count, exact distinct,
    min/max) for the numeric event columns in ONE scan via melt —
    the naive per-column loop reads the table once per column
    (functions/profile.py)."""
    from operator_zoo.functions.profile import (
        profile_numeric_columns,
    )

    return profile_numeric_columns(_t(spark, sf_dir, "events"), _PROFILE_COLS)


SQL_PROFILE_EVENTS_STATS = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS col_name, count(*)::BIGINT AS n_rows,
       (count(*) - count({c}))::BIGINT AS n_null,
       count(DISTINCT {c})::BIGINT AS n_distinct,
       min(CAST({c} AS DOUBLE)) AS min_val,
       max(CAST({c} AS DOUBLE)) AS max_val
FROM events"""
    for c in _PROFILE_COLS
)


def q_profile_value_histogram(spark, sf_dir):
    """Equi-width histogram of the event value column: bucket =
    floor(value / width) — a single IEEE double division + floor, safe
    cross-engine (never ACCUMULATE doubles across engines; single
    expressions are exact). Bucket count bounded by the value range,
    so the shuffle carries metadata-scale rows at any corpus size."""
    from operator_zoo.functions.profile import numeric_histogram

    return numeric_histogram(_t(spark, sf_dir, "events"), "value", _HIST_WIDTH)


SQL_PROFILE_VALUE_HISTOGRAM = f"""
SELECT CAST(floor(value / {_HIST_WIDTH}) AS BIGINT) AS bucket,
       CAST(CAST(floor(value / {_HIST_WIDTH}) AS BIGINT) * {_HIST_WIDTH}
            AS DOUBLE) AS lo,
       count(*)::BIGINT AS n,
       min(value) AS bucket_min,
       max(value) AS bucket_max
FROM events
WHERE value IS NOT NULL
GROUP BY 1
"""


def q_streaming_enrich_join(spark, sf_dir):
    """Batch parity of the stream-static enrichment join
    (streaming/enrich.py): events driven as a 4-file stream
    (maxFilesPerTrigger=1, so the dimension is re-read and re-joined
    per micro-batch) left-joined to the broadcast customer registry
    must equal the batch left join. c_custkey is unique, so the join
    never fans out and append-mode row counts are exact."""
    import atexit
    import shutil

    from operator_zoo.streaming.enrich import enrich_stream

    base = tempfile.mkdtemp(prefix="ptxv_stream_enrich_")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    in_dir, out_dir, ckpt = (os.path.join(base, d) for d in ("in", "out", "ck"))
    (
        _t(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type")
        .repartition(4)
        .write.mode("overwrite")
        .parquet(in_dir)
    )
    dim = _t(spark, sf_dir, "customer").select(
        (F.col("c_custkey") - 1).alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    stream = (
        spark.readStream.schema("event_id long, user_id long, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        enrich_stream(stream, dim, "user_id", how="left")
        .select("event_id", "user_id", "event_type", "segment")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(600):
        q.stop()
        raise RuntimeError(
            "streaming parity run 'enrich' timed out after 600s — "
            "refusing to compare a partial sink against the oracle"
        )
    return spark.read.parquet(out_dir)


SQL_STREAMING_ENRICH_JOIN = """
SELECT e.event_id, e.user_id, e.event_type, c.c_mktsegment AS segment
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey - 1
"""


#: view -> purchase attribution window for the stream-stream interval
#: join (12 h keeps the match set live at every SF: 36 pairs at
#: sf0.001, 428 at sf0.01)
_IVJ_WINDOW_SECONDS = 12 * 3600


def q_streaming_interval_join(spark, sf_dir):
    """Batch parity of the stream-stream interval join
    (streaming/interval_join.py): the events table driven as TWO file
    streams (views and purchases, maxFilesPerTrigger=1 so matches
    cross micro-batch boundaries), inner-joined on user_id with
    buy_ts in [view_ts, view_ts + 12 h]. The watermark (35 days)
    exceeds the corpus's full 30-day span, so no state evicts and the
    availableNow replay must emit exactly the batch join's match set."""
    import atexit
    import shutil

    from operator_zoo.streaming.interval_join import (
        interval_join_streams,
    )

    base = tempfile.mkdtemp(prefix="ptxv_stream_ivj_")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    in_dir, out_dir, ckpt = (os.path.join(base, d) for d in ("in", "out", "ck"))
    (
        _t(spark, sf_dir, "events")
        .select("event_id", "ts", "user_id", "event_type")
        .repartition(4)
        .write.mode("overwrite")
        .parquet(in_dir)
    )

    def _src():
        return (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, event_type string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )

    views = (
        _src()
        .where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            "user_id",
            F.col("ts").alias("view_ts"),
        )
    )
    buys = (
        _src()
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("buy_id"),
            "user_id",
            F.col("ts").alias("buy_ts"),
        )
    )
    joined = interval_join_streams(
        views,
        buys,
        key="user_id",
        left_ts="view_ts",
        right_ts="buy_ts",
        lower_seconds=0,
        upper_seconds=_IVJ_WINDOW_SECONDS,
        watermark="35 days",
    ).select("view_id", "buy_id", "user_id", "view_ts", "buy_ts")
    q = (
        joined.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(600):
        q.stop()
        raise RuntimeError(
            "streaming parity run 'interval_join' timed out after 600s — "
            "refusing to compare a partial sink against the oracle"
        )
    return spark.read.parquet(out_dir)


SQL_STREAMING_INTERVAL_JOIN = f"""
SELECT v.event_id AS view_id, p.event_id AS buy_id, v.user_id,
       v.ts AS view_ts, p.ts AS buy_ts
FROM events v JOIN events p ON v.user_id = p.user_id
WHERE v.event_type = 'view' AND p.event_type = 'purchase'
  AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL {_IVJ_WINDOW_SECONDS} SECONDS
"""


# ---------------------------------------------------------------------------
# expected-parquet oracles for the non-SQL-expressible queries
# (generated by scripts/gen_expected.py; provenance documented there)
# ---------------------------------------------------------------------------


#: winnow/BPE expected rows depend on the documents table, which
#: differs per SF: blocks are keyed by corpus_sig = sum(length(text)).
#: Blocks exist for every driver-targetable SF (sf0.001, sf0.01,
#: sf0.1 — scripts/gen_expected.py SF_DIRS); any other SF selects an
#: empty block and the comparison fails loudly on row count.
#: Provenance: the winnow/BPE fixtures are generated from the
#: INDEPENDENT re-derivations in tests/independent_kernels.py
#: (engine==independent equality asserted per document by
#: tests/test_independent_kernels.py), so these oracles are not
#: self-referential.
_SIG = "(SELECT sum(length(text)) FROM documents)"


SQL_MEDIA_FEATURES = f"""
SELECT media_ref, width, height, mean_ink, ink_bands,
       detected_rotation, rotation_confidence
FROM read_parquet('{_EXPECTED}/multimodal_media_features.parquet')
"""


def q_media_phash_dedup(spark, sf_dir):
    """Image near-dup dedup by 64-bit perceptual average-hash
    (functions/multimodal.phash_dedup): decode via the loud stub seam,
    integer-exact aHash (bit i = 64*block_sum_i > total_sum — no float
    mean), then the exact-dedup scale shape (one hash aggregate on the
    signature + join-back). Structurally-similar page rasters collapse
    into clusters (55 refs -> 5 clusters on the corpus). Oracle:
    expected parquet from the sequential loop-based re-derivation
    (scripts/gen_expected.py gen_phash_dedup — explicit block loops +
    dict clustering vs the engine's numpy reshape kernel)."""
    from operator_zoo.functions.multimodal import (
        corpus_media_refs,
        phash_dedup,
    )

    return phash_dedup(corpus_media_refs(_corpus_df(spark)))


SQL_MEDIA_PHASH_DEDUP = f"""
SELECT media_ref, phash, cluster_size, canonical_ref, is_canonical
FROM read_parquet('{_EXPECTED}/multimodal_phash_dedup.parquet')
"""


def q_media_phash_near_dups(spark, sf_dir):
    """Banded Hamming search over the perceptual hashes
    (functions/multimodal.phash_near_dups): COMPLETE pair set at
    Hamming <= 27 with 32 bands (pigeonhole: < 32 diff bits =>
    at least one clean 2-bit band). 27/32 here is fixture geometry,
    not near-dup semantics: the corpus signature clusters sit 24-27
    bits apart, so this setting keeps the banded cross-signature path
    live in the oracle comparison (10 cross pairs + 490 exact pairs);
    production near-dup filtering runs the default 8 bands /
    <= 7 bits, whose adversarial cases (exactly-7-bit pairs,
    one-diff-per-band spread) are pytest-covered with a crafted
    decoder. Oracle: brute-force all-pairs XOR popcount over the
    committed signature fixture — fully independent of the banding.
    """
    from operator_zoo.functions.multimodal import (
        corpus_media_refs,
        phash_near_dups,
    )

    return phash_near_dups(
        corpus_media_refs(_corpus_df(spark)), max_hamming=27, bands=32
    )


SQL_MEDIA_PHASH_NEAR_DUPS = f"""
SELECT a.media_ref AS ref_a, b.media_ref AS ref_b,
       bit_count(xor(a.phash, b.phash))::BIGINT AS hamming
FROM read_parquet('{_EXPECTED}/multimodal_phash_dedup.parquet') a
JOIN read_parquet('{_EXPECTED}/multimodal_phash_dedup.parquet') b
  ON a.media_ref < b.media_ref
WHERE bit_count(xor(a.phash, b.phash)) <= 27
"""

SQL_MEDIA_RESIZE = f"""
SELECT media_ref, src_width, src_height, width, height, scale, mean_ink
FROM read_parquet('{_EXPECTED}/multimodal_resize.parquet')
"""

SQL_MEDIA_FRAME_SAMPLE = f"""
SELECT media_ref, frame_idx, n_frames, width, height, mean_ink
FROM read_parquet('{_EXPECTED}/multimodal_frame_sample.parquet')
"""

SQL_WINNOW_FINGERPRINTS = f"""
SELECT doc_id, fingerprint
FROM read_parquet('{_EXPECTED}/text_winnow_fingerprints.parquet')
WHERE corpus_sig = {_SIG}
"""

SQL_HTML_MAIN_CONTENT = f"""
SELECT doc_id, main_text, length(main_text)::INT AS n_chars
FROM read_parquet('{_EXPECTED}/html_main_content.parquet')
"""

SQL_BPE_MERGE_TOKENS = f"""
SELECT doc_id, bpe_tokens
FROM read_parquet('{_EXPECTED}/text_bpe_merge_tokens.parquet')
WHERE corpus_sig = {_SIG}
"""

SQL_BPE_TOKEN_IDS = f"""
SELECT doc_id, pos, token_id
FROM read_parquet('{_EXPECTED}/text_bpe_token_ids.parquet')
WHERE corpus_sig = {_SIG}
"""


# ---------------------------------------------------------------------------
# tenth-session additions: corpus line dedup, triangle counting,
# cohort retention, bloom-prefiltered join
# ---------------------------------------------------------------------------

def q_corpus_lines(spark, sf_dir):
    """RefinedWeb/MassiveText-style corpus-level duplicate-LINE
    removal (functions/dedup.corpus_line_dedup): a 5-word aligned line
    occurring >= 3 times across >= 2 docs is boilerplate and is removed
    from EVERY document (no canonical owner — unlike the
    first-writer-wins dedup_paragraph_chunks). Line construction is
    map-only HOFs; the occurrence count is ONE partial-agg hash
    aggregate on the portable line hash; removal is a left-anti
    shuffle join on the hash (the duplicate-line set at 10^12 docs is
    beyond broadcast)."""
    from operator_zoo.functions.dedup import corpus_line_dedup

    docs = _t_wide(spark, sf_dir, "documents")
    return corpus_line_dedup(docs, line_words=5, min_total=3, min_docs=2)


SQL_CORPUS_LINES = f"""
WITH w AS (SELECT doc_id, str_split(text, ' ') AS words FROM documents),
base AS (SELECT doc_id, words, (len(words) + 4) // 5 AS n_lines FROM w),
lines AS (
  SELECT doc_id, i AS pos,
         array_to_string(words[(i*5+1):(i*5+5)], ' ') AS line
  FROM base, unnest(range(n_lines)) AS t(i)
),
hashed AS (
  SELECT doc_id, pos, line, {h60_sql("line", "linededup")} AS h FROM lines
),
dup AS (
  SELECT h FROM hashed GROUP BY h
  HAVING count(*) >= 3 AND count(DISTINCT doc_id) >= 2
),
kept AS (SELECT * FROM hashed WHERE h NOT IN (SELECT h FROM dup)),
agg AS (
  SELECT doc_id, string_agg(line, ' ' ORDER BY pos) AS clean_text,
         count(*)::BIGINT AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT b.doc_id, coalesce(a.clean_text, '') AS clean_text,
       b.n_lines::BIGINT AS n_lines,
       (b.n_lines - coalesce(a.n_kept, 0))::BIGINT AS n_removed
FROM base b LEFT JOIN agg a USING (doc_id)
"""


def q_triangle_parts(spark, sf_dir):
    """Per-part triangle counts over the co-purchase graph
    (functions/graph.triangle_counts, degree-ordered orientation so
    wedge fan-out is bounded O(sqrt(2m)) per node — no celebrity-key
    quadratic blowup). Edges = part pairs bought together in >= 2
    orders (the support filter is the market-basket semantics AND
    what keeps the toy graph's triangle set meaningful); the
    within-order pair self-join fans out <= 13 items/order, bounded
    by the order size cap. The oriented relation is probed three
    times; the registered query persists it (round 4's plan audit
    counted 154 exchanges / 60 parquet scans on the recompute form —
    AQE exchange reuse did NOT bound it). Persisted handles ride on
    the returned DataFrame as ``_ptxv_persisted``; the caller
    unpersists after collecting."""
    from operator_zoo.functions.graph import triangle_counts

    li = _t_wide(spark, sf_dir, "lineitem")
    # per-order basket array + map-side HOF pair expansion: ONE
    # aggregate shuffle replaces the within-order shuffle self-join
    # (same <=13-items/order fan-out bound, sorted array gives
    # src < dst for free); safe because order size is capped — a
    # group whose basket couldn't fit in memory would need the join
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(ps, (x, i) -> "
                "transform(slice(ps, i + 2, size(ps)), "
                "y -> struct(x AS src, y AS dst))))"
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    edges = (
        pairs.groupBy("src", "dst")
        .agg(F.count("*").alias("support"))
        .where(F.col("support") >= 2)
        .select("src", "dst")
    )
    sink: list = []
    # the support build emits distinct src < dst pairs by construction
    # (groupBy + src < dst filter), so the operator's canonicalization
    # exchange + distinct is skipped
    out = triangle_counts(
        edges, persisted_sink=sink, assume_canonical=True
    ).select(F.col("node").alias("part_id"), "n_triangles")
    out._ptxv_persisted = sink
    return out


def _sql_triangle_parts() -> str:
    from operator_zoo.functions.graph import triangle_counts_sql

    body = triangle_counts_sql("edges")
    return f"""
WITH tup AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
pairs AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst
  FROM tup a JOIN tup b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
edges AS (
  SELECT src, dst FROM pairs GROUP BY src, dst HAVING count(*) >= 2
),
{body}
SELECT node AS part_id, n_triangles FROM tri_counts
"""


def q_retention_cohorts(spark, sf_dir):
    """Cohort retention — the canonical product-analytics rollup:
    users bucketed by first-activity epoch-day, then distinct active
    users and event volume per (cohort_day, days_since). All keys are
    integer epoch-day numbers (epoch div 86400 — no date formatting
    to diverge across engines; day granularity keeps the rollup
    discriminative on the 30-day fixture where every user is
    first-active in week 0). Plan: first-touch aggregate on user_id,
    join back on user_id (same key — the exchange is reusable), one
    final aggregate; the distinct count is two-phase so a power user
    never funnels one reducer."""
    ev = (
        _t(spark, sf_dir, "events")
        .select("user_id", _epoch_of("ts").alias("epoch"))
        .select("user_id", F.expr("epoch div 86400").alias("day"))
    )
    first = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        ev.join(first, "user_id")
        .groupBy(
            "cohort_day",
            (F.col("day") - F.col("cohort_day")).alias("days_since"),
        )
        .agg(
            F.count_distinct("user_id").cast("long").alias("n_users"),
            F.count("*").cast("long").alias("n_events"),
        )
    )


SQL_RETENTION_COHORTS = """
WITH e AS (
  SELECT user_id, floor(epoch(ts))::BIGINT // 86400 AS day FROM events
),
f AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id)
SELECT f.cohort_day, e.day - f.cohort_day AS days_since,
       count(DISTINCT e.user_id)::BIGINT AS n_users,
       count(*)::BIGINT AS n_events
FROM e JOIN f USING (user_id)
GROUP BY 1, 2
"""


def q_bloom_prefilter_join(spark, sf_dir):
    """Bloom-prefiltered key join
    (functions/relational.bloom_prefilter_join): lineitem rows shed
    non-urgent orders BEFORE any shuffle via a probe against the
    verified portable bloom of the urgent-order key set (4032 bits
    summarize the dim side whatever its row count — the regime where
    dim rows exceed the broadcast threshold but the bloom doesn't).
    No false negatives, so the result — and the oracle — is exactly
    the plain join; quantities sum as integers."""
    from operator_zoo.functions.relational import (
        bloom_prefilter_join,
    )

    orders = _t(spark, sf_dir, "orders")
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_orderkey").alias("l_orderkey")
    )
    # _t_wide: the probe is CPU-bound md5 work on a fact side whose
    # toy-SF scan is a single usable split; the quantity sum is cast
    # to long per row before aggregation, so reordering is safe
    li = _t_wide(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    joined = bloom_prefilter_join(li, urgent, "l_orderkey")
    return joined.groupBy(
        F.col("l_orderkey").alias("o_orderkey")
    ).agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("sum_qty"),
    )


SQL_BLOOM_PREFILTER_JOIN = """
SELECT o_orderkey, count(*)::BIGINT AS n_lines,
       sum(CAST(l_quantity AS BIGINT))::BIGINT AS sum_qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
GROUP BY o_orderkey
"""


def q_embedding_outliers(spark, sf_dir):
    """Per-label embedding outliers (functions/ann.embedding_outliers
    — the SemDeDup-complement curation pass): top-5 vectors FARTHEST
    from their group centroid by the integer count-scaled squared
    distance dist2n = sum_i (q_i*n - s_i)^2 (no division, no float —
    bit-identical to the oracle). One map-side-combined aggregate per
    group, broadcast centroid join-back, map-only HOF scoring,
    two-phase salted top-k."""
    from operator_zoo.functions.ann import embedding_outliers

    embs = _t_wide(spark, sf_dir, "embeddings")
    return embedding_outliers(embs, k=5, dim=64)


def _sql_embedding_outliers() -> str:
    sums = ", ".join(f"sum(qv[{i}])::BIGINT" for i in range(1, 65))
    return f"""
WITH q AS (
  SELECT vec_id, label,
         [floor(CAST(x AS DOUBLE) * 1000)::BIGINT FOR x IN embedding] AS qv
  FROM embeddings
),
cent AS (
  SELECT label, count(*)::BIGINT AS n, [{sums}] AS s
  FROM q GROUP BY label
),
scored AS (
  SELECT q.vec_id, q.label,
         list_sum(list_transform(range(1, 65),
                  i -> (qv[i] * n - s[i]) * (qv[i] * n - s[i])))::BIGINT
           AS dist2n
  FROM q JOIN cent USING (label)
)
SELECT label,
       row_number() OVER (PARTITION BY label
                          ORDER BY dist2n DESC, vec_id)::BIGINT AS rank,
       vec_id, dist2n
FROM scored
QUALIFY rank <= 5
"""


def q_type_transitions(spark, sf_dir):
    """Event-type transition matrix — the Markov-chain view of user
    journeys: per user, consecutive event pairs under the total order
    (ts, event_id), counted per (from_type, to_type) with an integer
    ppm share of the from-type's outgoing total. One user_id window
    pass + one cell aggregate; the row total is a window over the
    aggregated cells (n_types rows per from_type — never a hot key),
    NOT a self-join, so the cells subtree is derived once."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cells = (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .where(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").cast("long").alias("n_transitions"))
    )
    wt = Window.partitionBy("from_type")
    return cells.withColumn(
        "row_total", F.sum("n_transitions").over(wt)
    ).select(
        "from_type",
        "to_type",
        "n_transitions",
        F.expr("n_transitions * 1000000 div row_total")
        .cast("long")
        .alias("share_ppm"),
    )


SQL_TYPE_TRANSITIONS = """
WITH pairs AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events
),
cells AS (
  SELECT from_type, to_type, count(*)::BIGINT AS n_transitions
  FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2
),
totals AS (
  SELECT from_type, sum(n_transitions)::BIGINT AS row_total
  FROM cells GROUP BY 1
)
SELECT c.from_type, c.to_type, c.n_transitions,
       (c.n_transitions * 1000000 // t.row_total)::BIGINT AS share_ppm
FROM cells c JOIN totals t USING (from_type)
"""


def q_graph_components(spark, sf_dir):
    """Connected components of the co-purchase graph (support >= 3)
    via the generic large-star/small-star operator
    (functions/cluster.connected_components — the same O(log n)-round
    kernel behind dedup_clusters, registered here over an arbitrary
    graph input): (part_id, component-min-id, component size). The
    support-3 graph exercises both regimes — one dense 189-node
    component at sf0.001 (multi-round convergence) and 56 small
    components at sf0.01."""
    from operator_zoo.functions.cluster import (
        connected_components,
    )

    li = _t(spark, sf_dir, "lineitem")
    tup = li.select("l_orderkey", "l_partkey").distinct()
    pairs = (
        tup.join(
            tup.select("l_orderkey", F.col("l_partkey").alias("p2")),
            "l_orderkey",
        )
        .where(F.col("l_partkey") < F.col("p2"))
        .groupBy(F.col("l_partkey").alias("doc_a"), F.col("p2").alias("doc_b"))
        .agg(F.count("*").alias("support"))
        .where(F.col("support") >= 3)
        .select("doc_a", "doc_b")
    )
    comp = connected_components(pairs)
    sizes = comp.groupBy("component").agg(
        F.count("*").cast("long").alias("comp_size")
    )
    return comp.join(sizes, "component").select(
        F.col("node").alias("part_id"), "component", "comp_size"
    )


def q_sliding_window(spark, sf_dir):
    """Time-RANGE sliding window — the frame family the registry's
    other windows don't cover (they are ROWS/segment windows): per
    event, the trailing-24h sum and count of the user's activity via
    RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW over epoch seconds.
    RANGE frames include ALL peer rows at equal order values, so ties
    in epoch are deterministic without a tiebreak column. Values sum
    as integer millis (the registry's float-exactness rule). One
    shuffle on user_id; frame state is bounded by the window span, not
    the partition size."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        _epoch_of("ts").alias("epoch"),
        F.floor(F.col("value") * 1000).cast("long").alias("value_milli"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("epoch")
        .rangeBetween(-86400, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        "epoch",
        F.sum("value_milli").over(w).cast("long").alias("sum_milli_24h"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_events_24h"),
    )


SQL_SLIDING_WINDOW = """
WITH e AS (
  SELECT user_id, event_id, floor(epoch(ts))::BIGINT AS epoch,
         floor(value * 1000)::BIGINT AS value_milli
  FROM events
)
SELECT user_id, event_id, epoch,
       sum(value_milli) OVER w::BIGINT AS sum_milli_24h,
       count(*) OVER w::BIGINT AS n_events_24h
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY epoch
             RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW)
"""


def q_rollup_revenue(spark, sf_dir):
    """ROLLUP over the region -> nation hierarchy (the partial
    grouping-sets lattice CUBE doesn't exercise: subtotals only along
    the hierarchy, no nation-without-region cell). Revenue in exact
    integer cents; same grouping_id bit convention as agg_pricing_cube
    (first column = most significant bit, verified empirically)."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    region = _t(spark, sf_dir, "region")
    joined = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.grouping_id().alias("gid"),
            F.sum("cents").cast("long").alias("revenue_cents"),
            F.count("*").cast("long").alias("n_orders"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            "gid",
            "revenue_cents",
            "n_orders",
        )
    )


SQL_ROLLUP_REVENUE = """
SELECT coalesce(r_name, 'ALL') AS region,
       coalesce(n_name, 'ALL') AS nation,
       grouping_id(r_name, n_name) AS gid,
       sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS revenue_cents,
       count(*)::BIGINT AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


def q_hll_by_lang(spark, sf_dir):
    """Grouped HLL rollup (functions/sketches.hll_registers_grouped):
    per-language register tables from ONE aggregate, plus the corpus
    'ALL' sketch produced by MERGING the per-language sketches
    (elementwise register max — no rescan). The oracle computes the
    'ALL' registers DIRECTLY from the data, so a value-hash match is a
    cross-engine proof of the union-merge property
    (merge(per-group) == sketch(union)), not just an engine-side
    pytest claim."""
    from operator_zoo.functions.sketches import (
        hll_registers_grouped,
    )

    docs = _t_wide(spark, sf_dir, "documents")
    regs = hll_registers_grouped(docs, "lang", F.col("text"), p=6)
    merged = (
        regs.groupBy("bucket")
        .agg(F.max("register").cast("long").alias("register"))
        .select(F.lit("ALL").alias("lang"), "bucket", "register")
    )
    return regs.select(
        F.col("grp").alias("lang"), "bucket", "register"
    ).unionByName(merged)


def _sql_hll_by_lang() -> str:
    h = h60_sql("text", "hll")
    rem_bits = 54
    mask = (1 << rem_bits) - 1
    reg = (
        f"max(CASE WHEN (h & {mask}) = 0 THEN {rem_bits + 1} "
        f"ELSE {rem_bits} - length(bin(h & {mask})) + 1 END)::BIGINT"
    )
    return f"""
WITH hashes AS (SELECT lang, {h} AS h FROM documents)
SELECT lang, h >> {rem_bits} AS bucket, {reg} AS register
FROM hashes GROUP BY lang, bucket
UNION ALL
SELECT 'ALL' AS lang, h >> {rem_bits} AS bucket, {reg} AS register
FROM hashes GROUP BY bucket
"""


def q_user_rfm(spark, sf_dir):
    """RFM segmentation — the classic customer-analytics triple:
    per-user Recency (days between the user's last event and the
    corpus max day), Frequency (event count), Monetary (integer milli
    value sum), each scored 1-5 against broadcast quintile BOUNDARIES
    (percentile_disc picks actual data values — integer-exact;
    r_score counts boundaries the recency beats downward, f/m upward,
    so 5 = best under the usual RFM reading). Deliberately NOT
    ntile(5): a global rank window is a one-reducer sort over every
    user — the boundary form is one metadata-row aggregate plus a
    map-only application, the shape that survives 10^9 users. Tie
    semantics: equal metric values share a score (quantile binning),
    which is what a segmentation consumer wants anyway. The user-level
    aggregate sits on several lineage paths (boundaries, corpus max,
    application) and statically re-derives per path — AQE exchange
    reuse recovers the identical subtrees at runtime; a deployment
    caching the per_user relation follows the repo's persisted_sink
    pattern."""
    ev = (
        _t(spark, sf_dir, "events")
        .select(
            "user_id",
            _epoch_of("ts").alias("epoch"),
            F.floor(F.col("value") * 1000).cast("long").alias("value_milli"),
        )
        .select(
            "user_id", F.expr("epoch div 86400").alias("day"), "value_milli"
        )
    )
    per_user = ev.groupBy("user_id").agg(
        F.max("day").alias("last_day"),
        F.count("*").cast("long").alias("frequency"),
        F.sum("value_milli").cast("long").alias("monetary_milli"),
    )
    corpus_max = per_user.agg(F.max("last_day").alias("max_day"))
    scored = per_user.crossJoin(F.broadcast(corpus_max)).select(
        "user_id",
        (F.col("max_day") - F.col("last_day"))
        .cast("long")
        .alias("recency_days"),
        "frequency",
        "monetary_milli",
    )
    pcts = [0.2, 0.4, 0.6, 0.8]
    bounds = scored.agg(
        *[
            F.expr(
                f"percentile_disc({p}) WITHIN GROUP (ORDER BY {m})"
            ).alias(f"{m[0]}b{i}")
            for m in ("recency_days", "frequency", "monetary_milli")
            for i, p in enumerate(pcts)
        ]
    )
    out = scored.crossJoin(F.broadcast(bounds))
    r_sc = sum(
        (F.col("recency_days") < F.col(f"rb{i}")).cast("long")
        for i in range(4)
    ) + F.lit(1)
    f_sc = sum(
        (F.col("frequency") > F.col(f"fb{i}")).cast("long") for i in range(4)
    ) + F.lit(1)
    m_sc = sum(
        (F.col("monetary_milli") > F.col(f"mb{i}")).cast("long")
        for i in range(4)
    ) + F.lit(1)
    return out.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary_milli",
        r_sc.cast("long").alias("r_score"),
        f_sc.cast("long").alias("f_score"),
        m_sc.cast("long").alias("m_score"),
    )


# the oracle spells out the ANSI percentile_disc definition (smallest
# value with cume_dist >= p) the same way SQL_ORDER_PERCENTILES does,
# so no engine-specific quantile convention is trusted
SQL_USER_RFM = """
WITH e AS (
  SELECT user_id, floor(epoch(ts))::BIGINT // 86400 AS day,
         floor(value * 1000)::BIGINT AS value_milli
  FROM events
),
per_user AS (
  SELECT user_id, max(day) AS last_day, count(*)::BIGINT AS frequency,
         sum(value_milli)::BIGINT AS monetary_milli
  FROM e GROUP BY user_id
),
scored AS (
  SELECT user_id,
         ((SELECT max(last_day) FROM per_user) - last_day)::BIGINT
           AS recency_days,
         frequency, monetary_milli
  FROM per_user
),
cd AS (
  SELECT recency_days, frequency, monetary_milli,
         cume_dist() OVER (ORDER BY recency_days) AS cd_r,
         cume_dist() OVER (ORDER BY frequency) AS cd_f,
         cume_dist() OVER (ORDER BY monetary_milli) AS cd_m
  FROM scored
),
b AS (
  SELECT
    min(recency_days) FILTER (cd_r >= 0.2) AS rb0,
    min(recency_days) FILTER (cd_r >= 0.4) AS rb1,
    min(recency_days) FILTER (cd_r >= 0.6) AS rb2,
    min(recency_days) FILTER (cd_r >= 0.8) AS rb3,
    min(frequency) FILTER (cd_f >= 0.2) AS fb0,
    min(frequency) FILTER (cd_f >= 0.4) AS fb1,
    min(frequency) FILTER (cd_f >= 0.6) AS fb2,
    min(frequency) FILTER (cd_f >= 0.8) AS fb3,
    min(monetary_milli) FILTER (cd_m >= 0.2) AS mb0,
    min(monetary_milli) FILTER (cd_m >= 0.4) AS mb1,
    min(monetary_milli) FILTER (cd_m >= 0.6) AS mb2,
    min(monetary_milli) FILTER (cd_m >= 0.8) AS mb3
  FROM cd
)
SELECT user_id, recency_days, frequency, monetary_milli,
       (1 + (recency_days < rb0)::INT + (recency_days < rb1)::INT
          + (recency_days < rb2)::INT + (recency_days < rb3)::INT)::BIGINT
         AS r_score,
       (1 + (frequency > fb0)::INT + (frequency > fb1)::INT
          + (frequency > fb2)::INT + (frequency > fb3)::INT)::BIGINT
         AS f_score,
       (1 + (monetary_milli > mb0)::INT + (monetary_milli > mb1)::INT
          + (monetary_milli > mb2)::INT + (monetary_milli > mb3)::INT)::BIGINT
         AS m_score
FROM scored, b
"""


def q_salted_skew(spark, sf_dir):
    """Skew-salted shuffled join (functions/relational.salted_join):
    events (celebrity user_ids — see profile_key_skew) joined to the
    customer dim on user_id with every key pre-split across 8 salted
    reducers, dim replicated 8x. Salting only moves rows between
    reducers, so the result — and the oracle — is exactly the plain
    join, rolled up per (segment, event_type) with integer counts."""
    from operator_zoo.functions.relational import salted_join

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("c_custkey"), "event_type"
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = salted_join(ev, cust, "c_custkey", n_salt=8)
    return joined.groupBy("c_mktsegment", "event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.count_distinct("c_custkey").cast("long").alias("n_users"),
    )


SQL_SALTED_SKEW = """
SELECT c_mktsegment, event_type, count(*)::BIGINT AS n_events,
       count(DISTINCT c_custkey)::BIGINT AS n_users
FROM events JOIN customer ON user_id = c_custkey
GROUP BY 1, 2
"""


def q_source_overlap(spark, sf_dir):
    """Cross-source corpus overlap matrix
    (functions/dedup.pairwise_set_similarity): exact pairwise Jaccard
    between the 20 sources' 3-gram shingle sets — the diagnostic that
    decides which source pairs carry enough shared mass to warrant a
    cross-dedup pass (crawl-snapshot overlap analysis). One membership
    -mask aggregate over distinct (source, shingle) rows; pair count
    never touches item count (bit explodes of the mask cells)."""
    from operator_zoo.functions.dedup import (
        pairwise_set_similarity,
    )

    docs = _t_wide(spark, sf_dir, "documents")
    words = F.split("text", " ")
    toks = F.when(
        F.size(words) >= 3,
        F.transform(
            F.sequence(F.lit(0), F.size(words) - 3),
            lambda i: F.concat_ws(" ", F.slice(words, i + 1, 3)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # no .distinct() here: bit_or and count_distinct both absorb
    # duplicate (set, item) rows, so the items subtree stays map-only
    # (it sits on three lineage paths — see the operator docstring)
    items = docs.select(
        F.substring("source", 4, 10).cast("int").alias("set_id"),
        F.explode(toks).alias("tok"),
    ).select("set_id", h60("tok", "srcov").alias("item"))
    # ids are 0..19 by construction, so pin the mask fast path —
    # 'auto' would burn a min/max job at plan-build time for nothing
    sim = pairwise_set_similarity(items, strategy="mask")
    return sim.select(
        F.concat(F.lit("src"), F.col("set_a")).alias("source_a"),
        F.concat(F.lit("src"), F.col("set_b")).alias("source_b"),
        "inter_items",
        "union_items",
        "jaccard_ppm",
    )


SQL_SOURCE_OVERLAP = f"""
WITH w AS (
  SELECT CAST(substr(source, 4) AS INT) AS sid,
         str_split(text, ' ') AS wds
  FROM documents
),
toks AS (
  SELECT DISTINCT sid,
         unnest([wds[i] || ' ' || wds[i+1] || ' ' || wds[i+2]
                 FOR i IN range(1, len(wds) - 1)]) AS tok
  FROM w WHERE len(wds) >= 3
),
items AS (SELECT DISTINCT sid, {h60_sql("tok", "srcov")} AS item FROM toks),
masks AS (SELECT item, bit_or(1::BIGINT << sid) AS mask FROM items GROUP BY item),
cells AS (SELECT mask, count(*)::BIGINT AS cnt FROM masks GROUP BY mask),
bits AS (
  SELECT mask, cnt, b FROM cells, range(0, 63) t(b)
  WHERE (mask & (1::BIGINT << b)) != 0
),
sizes AS (SELECT b, sum(cnt)::BIGINT AS size FROM bits GROUP BY b),
inter AS (
  SELECT b1.b AS sa, b2.b AS sb, sum(b1.cnt)::BIGINT AS inter_items
  FROM bits b1 JOIN bits b2 ON b1.mask = b2.mask AND b1.b < b2.b
  GROUP BY 1, 2
)
SELECT 'src' || sa::VARCHAR AS source_a, 'src' || sb::VARCHAR AS source_b,
       inter_items,
       (s1.size + s2.size - inter_items)::BIGINT AS union_items,
       (inter_items * 1000000 // (s1.size + s2.size - inter_items))::BIGINT
         AS jaccard_ppm
FROM inter JOIN sizes s1 ON sa = s1.b JOIN sizes s2 ON sb = s2.b
"""


SQL_GRAPH_COMPONENTS = """
WITH RECURSIVE tup AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
cand AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM tup a JOIN tup b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 3
),
edges AS (SELECT u, v FROM cand UNION SELECT v, u FROM cand),
reach(node, label) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.u, r.label FROM edges e JOIN reach r ON r.node = e.v
),
comp AS (SELECT node, min(label) AS component FROM reach GROUP BY node),
sizes AS (
  SELECT component, count(*)::BIGINT AS comp_size FROM comp GROUP BY 1
)
SELECT c.node AS part_id, c.component, s.comp_size
FROM comp c JOIN sizes s USING (component)
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# round-5 additions: SimHash banded near-dups, SemDeDup prune, nearest
# as-of join, MAD anomaly days, truncated-EWMA window, dataset card
# ---------------------------------------------------------------------------


def q_simhash_near_dups(spark, sf_dir):
    """Text near-dup pairs by SimHash Hamming distance
    (functions/dedup.simhash_near_dups): 48-bit bit-vote signatures,
    banded completeness search (6 bands of 8 bits; pigeonhole-complete
    for max_hamming 3 < 6). The band join runs over DISTINCT
    signatures — never all-pairs on docs; the oracle, the semantic
    spec, IS the all-pairs definition. The signature relation (a full
    bit-vote aggregate) is referenced four times, so the registered
    query persists it (handles ride as ``_ptxv_persisted``; the caller
    unpersists after collecting)."""
    from operator_zoo.functions.dedup import simhash_near_dups

    sink: list = []
    out = simhash_near_dups(
        _t_wide(spark, sf_dir, "documents"),
        bits=48,
        max_hamming=3,
        bands=6,
        persisted_sink=sink,
    )
    out._ptxv_persisted = sink
    return out


SQL_SIMHASH_NEAR_DUPS = f"""
WITH sigs AS ({_simhash_sql(48)})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


def q_semdedup_prune(spark, sf_dir):
    """SemDeDup pruning (functions/ann.semdedup_prune): k-means
    clusters confine the pairwise cosine check, then every vector with
    a lower-id within-cell neighbor at cosine >= threshold is dropped.
    Fully self-contained (trains the deterministic Lloyd's centroids);
    the oracle replays training bit-for-bit and spells the keep rule
    as NOT EXISTS."""
    from operator_zoo.functions.ann import (
        KMEANS_ITERS,
        KMEANS_K,
        assign_cells,
        kmeans_train,
        semdedup_prune,
    )

    emb = _t_wide(spark, sf_dir, "embeddings")
    centroids = kmeans_train(emb, k=KMEANS_K, iterations=KMEANS_ITERS)
    tagged = assign_cells(emb, centroids)
    return semdedup_prune(
        tagged, threshold=NEAR_DUP_THRESHOLD, cell_col="cell"
    )


def _sql_semdedup_prune() -> str:
    from operator_zoo.functions.ann import KMEANS_ITERS, KMEANS_K

    return f"""
WITH {_kmeans_cte(KMEANS_K, KMEANS_ITERS)},
normed AS (
  SELECT cell, vid, qv,
         list_sum([qv[i] * qv[i] FOR i IN range(1, len(qv) + 1)])::BIGINT AS n2
  FROM asg_final
),
pairs AS (
  SELECT a.vid AS vec_a, b.vid AS vec_b
  FROM normed a JOIN normed b ON a.cell = b.cell AND a.vid < b.vid
  WHERE list_sum([a.qv[i] * b.qv[i] FOR i IN range(1, len(a.qv) + 1)])::BIGINT
          / sqrt(CAST(a.n2 * b.n2 AS DOUBLE)) >= {NEAR_DUP_THRESHOLD}
),
pruned AS (SELECT DISTINCT vec_b FROM pairs)
SELECT n.vid AS vec_id, n.cell, (p.vec_b IS NULL) AS is_kept
FROM normed n LEFT JOIN pruned p ON p.vec_b = n.vid
"""


#: nearest-click window for the nearest as-of query (seconds)
ASOF_NEAREST_TOL = 3600


def q_asof_nearest_click(spark, sf_dir):
    """Nearest as-of join (functions/temporal.asof_join_nearest): each
    purchase attaches the same user's closest click in EITHER direction
    within ±1 h — one shuffle on user_id + two partition-local sorts
    over the reused exchange; never an inequality join. Ties: equal
    distance prefers the backward row; equal-ts backward rows pick the
    greatest event_id, forward the smallest (the oracle's signed-id
    ORDER BY spells the same rule)."""
    from operator_zoo.functions.temporal import asof_join_nearest

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", _epoch_of("ts").alias("ts_epoch")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        _epoch_of("ts").alias("ts_epoch"),
        F.col("event_id").alias("click_event_id"),
    )
    out = asof_join_nearest(
        purchases,
        clicks,
        key="user_id",
        left_ts="ts_epoch",
        right_ts="ts_epoch",
        payload_cols=["click_event_id"],
        tolerance=ASOF_NEAREST_TOL,
    )
    return out.select(
        "event_id",
        "user_id",
        "ts_epoch",
        F.col("asof_click_event_id").alias("near_click_event_id"),
        F.col("asof_distance").alias("near_click_distance"),
    )


SQL_ASOF_NEAREST_CLICK = f"""
WITH p AS (
  SELECT event_id, user_id, floor(epoch(ts))::BIGINT AS ts_epoch
  FROM events WHERE event_type = 'purchase'
),
c AS (
  SELECT user_id, floor(epoch(ts))::BIGINT AS ts_epoch,
         event_id AS click_event_id
  FROM events WHERE event_type = 'click'
)
SELECT p.event_id, p.user_id, p.ts_epoch,
       v.click_event_id AS near_click_event_id,
       v.dist AS near_click_distance
FROM p LEFT JOIN LATERAL (
  SELECT click_event_id, abs(c.ts_epoch - p.ts_epoch) AS dist
  FROM c
  WHERE c.user_id = p.user_id
    AND abs(c.ts_epoch - p.ts_epoch) <= {ASOF_NEAREST_TOL}
  ORDER BY abs(c.ts_epoch - p.ts_epoch) ASC,
           (c.ts_epoch <= p.ts_epoch) DESC,
           CASE WHEN c.ts_epoch <= p.ts_epoch
                THEN -click_event_id ELSE click_event_id END ASC
  LIMIT 1
) v ON TRUE
"""


#: classic robust-statistics multiplier (3 x MAD ~ 2 sigma for normal)
MAD_MULTIPLIER = 3


def q_anomaly_mad_days(spark, sf_dir):
    """Robust per-type traffic anomaly days: flag (event_type, day)
    cells whose daily event count deviates from the type's median by
    more than MAD_MULTIPLIER x the median absolute deviation. Median
    and MAD are DISCRETE percentiles (percentile_disc — actual data
    values, integer-exact cross-engine; the oracle spells the ANSI
    cume_dist >= 0.5 definition). Plan: one groupBy(type, day) count,
    two small per-type aggregates joined back on the type key (the
    per-type medians are tiny and broadcast). The daily relation is
    referenced by the median aggregate AND the deviation branch (which
    the MAD aggregate and the final filter both read) — persisted so
    the full-corpus count aggregate runs once, not four times; handles
    ride as ``_ptxv_persisted``."""
    from pyspark import StorageLevel

    ev = _t(spark, sf_dir, "events")
    sink: list = []
    daily = (
        ev.select("event_type", _epoch_of("ts").alias("epoch"))
        .select("event_type", F.expr("epoch div 86400").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count("*").cast("long").alias("n_events"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sink.append(daily)
    med = daily.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n_events)")
        .cast("long")
        .alias("med")
    )
    dev = daily.join(F.broadcast(med), "event_type").withColumn(
        "dev", F.abs(F.col("n_events") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY dev)")
        .cast("long")
        .alias("mad")
    )
    out = (
        dev.join(F.broadcast(mad), "event_type")
        .filter(F.col("dev") > MAD_MULTIPLIER * F.col("mad"))
        .select("event_type", "day", "n_events", "med", "mad")
    )
    out._ptxv_persisted = sink
    return out


SQL_ANOMALY_MAD_DAYS = f"""
WITH d AS (
  SELECT event_type, floor(epoch(ts))::BIGINT // 86400 AS day,
         count(*)::BIGINT AS n_events
  FROM events GROUP BY 1, 2
),
r AS (
  SELECT event_type, day, n_events,
         cume_dist() OVER (PARTITION BY event_type ORDER BY n_events) AS cd
  FROM d
),
m AS (
  SELECT event_type, min(n_events) FILTER (WHERE cd >= 0.5) AS med
  FROM r GROUP BY event_type
),
j AS (
  SELECT d.event_type, d.day, d.n_events, m.med,
         abs(d.n_events - m.med) AS dev
  FROM d JOIN m USING (event_type)
),
r2 AS (
  SELECT *, cume_dist() OVER (PARTITION BY event_type ORDER BY dev) AS cd2
  FROM j
),
m2 AS (
  SELECT event_type, min(dev) FILTER (WHERE cd2 >= 0.5) AS mad
  FROM r2 GROUP BY event_type
)
SELECT j.event_type, j.day, j.n_events, j.med, m2.mad
FROM j JOIN m2 USING (event_type)
WHERE j.dev > {MAD_MULTIPLIER} * m2.mad
"""


#: truncated-EWMA depth and alpha=1/2 weights scaled by 128 (exact ints)
EWMA_DEPTH = 8


def q_ewma_value(spark, sf_dir):
    """Per-user truncated EWMA of event value (alpha = 1/2, depth 8) —
    the standard streaming-feature smoother expressed as ONE window
    shuffle on user_id: weight 2^(7-i) on lag i, normalized by the
    weights actually present (cold-start rows use shorter tails).
    Values quantize to integer thousandths first, so numerator and
    denominator are exact integers cross-engine; the single final
    divide is rounded to 6 places."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        _epoch_of("ts").alias("ts_epoch"),
        F.floor(F.col("value") * 1000).cast("long").alias("vq"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_epoch", "event_id")
    num = None
    den = None
    for i in range(EWMA_DEPTH):
        weight = 1 << (EWMA_DEPTH - 1 - i)
        lag_v = F.lag("vq", i).over(w) if i else F.col("vq")
        contrib = F.when(lag_v.isNotNull(), lag_v * weight).otherwise(F.lit(0))
        present = F.when(lag_v.isNotNull(), F.lit(weight)).otherwise(F.lit(0))
        num = contrib if num is None else num + contrib
        den = present if den is None else den + present
    return ev.select(
        "event_id",
        "user_id",
        "ts_epoch",
        F.round(
            num.cast("double") / den.cast("double") / F.lit(1000.0), 6
        ).alias("ewma_value"),
    )


def _sql_ewma_value() -> str:
    terms_num = []
    terms_den = []
    for i in range(EWMA_DEPTH):
        weight = 1 << (EWMA_DEPTH - 1 - i)
        lv = f"lag(vq, {i}) OVER w" if i else "vq"
        terms_num.append(
            f"(CASE WHEN {lv} IS NOT NULL THEN {lv} * {weight} ELSE 0 END)"
        )
        terms_den.append(
            f"(CASE WHEN {lv} IS NOT NULL THEN {weight} ELSE 0 END)"
        )
    num = " + ".join(terms_num)
    den = " + ".join(terms_den)
    return f"""
WITH e AS (
  SELECT event_id, user_id, floor(epoch(ts))::BIGINT AS ts_epoch,
         floor(value * 1000)::BIGINT AS vq
  FROM events
)
SELECT event_id, user_id, ts_epoch,
       round(({num})::DOUBLE / ({den})::DOUBLE / 1000.0, 6) AS ewma_value
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY ts_epoch, event_id)
"""


def q_dataset_card(spark, sf_dir):
    """Per-source dataset card — the one-row-per-source manifest a
    training-data release ships (docs, whitespace tokens, language
    spread, exact-dup rate, mean quality). Every figure is integer or
    integer-derived (quality in ppm via floor(q * 1e6), mean as integer
    division), so the card is cross-engine exact. Plan: one pass of
    map-side exprs + a single hash aggregate per source; the distinct
    counts are two-phase."""
    docs = _t_wide(spark, sf_dir, "documents")
    enriched = docs.select(
        "source",
        "lang",
        h60("text", "exact").alias("content_hash"),
        token_count_expr("text").alias("n_tokens"),
        F.floor(quality_score_expr("text") * 1000000)
        .cast("long")
        .alias("quality_ppm"),
    )
    return enriched.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct("content_hash").cast("long").alias("n_distinct_texts"),
        F.expr("sum(quality_ppm) div count(*)").alias("avg_quality_ppm"),
    )


def _sql_dataset_card() -> str:
    return f"""
WITH q AS ({SQL_QUALITY_SCORE}),
enriched AS (
  SELECT d.source, d.lang,
         {h60_sql('d.text', 'exact')} AS content_hash,
         len(list_filter(string_split(d.text, ' '), x -> x <> '')) AS n_tokens,
         floor(q.quality * 1000000)::BIGINT AS quality_ppm
  FROM documents d JOIN q ON q.doc_id = d.doc_id
)
SELECT source,
       count(*)::BIGINT AS n_docs,
       sum(n_tokens)::BIGINT AS total_tokens,
       count(DISTINCT lang)::BIGINT AS n_langs,
       count(DISTINCT content_hash)::BIGINT AS n_distinct_texts,
       (sum(quality_ppm) // count(*))::BIGINT AS avg_quality_ppm
FROM enriched
GROUP BY source
"""


def q_pmi_bigrams(spark, sf_dir):
    """Top-50 PMI collocations (functions/text.pmi_bigrams): adjacent
    word pairs scored by the exact integer independence ratio
    n_ab * N * 1e6 div (n_a * n_b) — monotone in PMI, bit-exact
    cross-engine. Map-only pair construction, two vocab-keyed joins
    (never broadcast at design scale), TakeOrderedAndProject top-k.
    The unigram aggregate (3 references) is persisted; handles ride as
    ``_ptxv_persisted``."""
    from operator_zoo.functions.text import pmi_bigrams

    sink: list = []
    out = pmi_bigrams(
        _t_wide(spark, sf_dir, "documents"), min_count=3, k=50,
        persisted_sink=sink,
    )
    out._ptxv_persisted = sink
    return out


SQL_PMI_BIGRAMS = """
WITH w AS (
  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS w
  FROM documents
),
uni AS (
  SELECT word, count(*)::BIGINT AS n_w
  FROM (SELECT unnest(w) AS word FROM w) GROUP BY word
),
pairs AS (
  SELECT w1, w2, count(*)::BIGINT AS n_ab FROM (
    SELECT unnest([w[i] FOR i IN range(1, len(w))]) AS w1,
           unnest([w[i + 1] FOR i IN range(1, len(w))]) AS w2
    FROM w WHERE len(w) >= 2
  ) GROUP BY w1, w2 HAVING count(*) >= 3
),
total AS (SELECT sum(n_w)::BIGINT AS n_total FROM uni)
SELECT p.w1, p.w2, p.n_ab,
       (p.n_ab * t.n_total * 1000000 // (a.n_w * b.n_w))::BIGINT AS pmi_ppm
FROM pairs p
JOIN uni a ON a.word = p.w1
JOIN uni b ON b.word = p.w2
CROSS JOIN total t
ORDER BY pmi_ppm DESC, p.w1 ASC, p.w2 ASC
LIMIT 50
"""


def q_minhash_estimate(spark, sf_dir):
    """MinHash Jaccard ESTIMATE next to the exact value, per capped-LSH
    candidate pair — the estimator-quality view a dedup deployment
    tunes its seed count with (agreeing signature components / seeds,
    in exact ppm). Signature join is pair-scoped; the exact side is
    ``size(array_intersect)`` over doc-keyed joins of the candidate
    pairs against map-built per-doc token sets (round 6 — replaces
    the exploded token-row join + count aggregate). The signature
    relation (3 references: band build + both pair sides), the
    candidate pairs (3 references: estimate + exact + final), and the
    doc-set relation (both verify sides) are persisted — without it
    the MinHash aggregate replays per reference (round-4 lesson from
    the jaccard-prefix plan); handles ride as ``_ptxv_persisted``."""
    from pyspark import StorageLevel

    docs = _t_wide(spark, sf_dir, "documents")
    sink: list = []
    sigs = minhash_signatures(docs).persist(StorageLevel.MEMORY_AND_DISK)
    sink.append(sigs)
    pairs = lsh_candidate_pairs(
        sigs, band_rows=4, max_bucket_size=LSH_BUCKET_CAP
    ).persist(StorageLevel.MEMORY_AND_DISK)
    sink.append(pairs)
    # per-doc token SETS as map-built arrays (round 6): the exact side
    # is size(array_intersect) over two doc-keyed joins of the
    # candidate pairs — pair-scoped array merges instead of the
    # exploded token-row join + count aggregate (the round-5
    # jaccard-prefix lesson applied here)
    doc_sets = (
        docs.select(
            "doc_id",
            F.array_distinct(
                F.filter(F.split(F.col("text"), " "), lambda x: x != "")
            ).alias("toks"),
        )
        .withColumn("n_tokens", F.size("toks"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sink.append(doc_sets)
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"), "seed", F.col("minhash").alias("ma")
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"), "seed", F.col("minhash").alias("mb")
    )
    est = (
        pairs.join(sa, "doc_a")
        .join(sb, ["doc_b", "seed"])
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum(F.when(F.col("ma") == F.col("mb"), 1).otherwise(0))
            .cast("long")
            .alias("n_agree")
        )
    )
    sa2 = doc_sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("toks").alias("toks_a"),
        F.col("n_tokens").alias("n_a"),
    )
    sb2 = doc_sets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("toks").alias("toks_b"),
        F.col("n_tokens").alias("n_b"),
    )
    exact = (
        pairs.join(sa2, "doc_a")
        .join(sb2, "doc_b")
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
    from operator_zoo.functions.dedup import MINHASH_SEEDS

    out = exact.join(est, ["doc_a", "doc_b"]).select(
        "doc_a",
        "doc_b",
        F.expr(f"n_agree * 1000000 div {MINHASH_SEEDS}")
        .cast("long")
        .alias("est_ppm"),
        "jaccard",
    )
    out._ptxv_persisted = sink
    return out


def _sql_minhash_estimate() -> str:
    from operator_zoo.functions.dedup import MINHASH_SEEDS

    agree = " + ".join(
        f"(a.m{i} = b.m{i})::INT" for i in range(MINHASH_SEEDS)
    )
    return f"""
WITH {_minhash_mins_sql()},
bands AS (
  SELECT doc_id, 0 AS band,
         m0::VARCHAR || ',' || m1::VARCHAR || ',' || m2::VARCHAR || ',' || m3::VARCHAR AS sig
  FROM mins
  UNION ALL
  SELECT doc_id, 1 AS band,
         m4::VARCHAR || ',' || m5::VARCHAR || ',' || m6::VARCHAR || ',' || m7::VARCHAR AS sig
  FROM mins
),
kept AS (
  SELECT doc_id, band, sig FROM bands
  QUALIFY count(*) OVER (PARTITION BY band, sig) <= {LSH_BUCKET_CAP}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM kept a JOIN kept b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
agree AS (
  SELECT c.doc_a, c.doc_b, ({agree})::BIGINT AS n_agree
  FROM cand c
  JOIN mins a ON a.doc_id = c.doc_a
  JOIN mins b ON b.doc_id = c.doc_b
),
jt AS (
  SELECT DISTINCT doc_id, token FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
  ) WHERE token <> ''
),
jsizes AS (SELECT doc_id, count(*) AS n FROM jt GROUP BY doc_id),
jinter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM cand c
  JOIN jt ta ON ta.doc_id = c.doc_a
  JOIN jt tb ON tb.doc_id = c.doc_b AND tb.token = ta.token
  GROUP BY c.doc_a, c.doc_b
)
SELECT c.doc_a, c.doc_b,
       (g.n_agree * 1000000 // {MINHASH_SEEDS})::BIGINT AS est_ppm,
       round(coalesce(i.n_inter, 0)
             / CAST(sa.n + sb.n - coalesce(i.n_inter, 0) AS DOUBLE), 6) AS jaccard
FROM cand c
JOIN agree g ON g.doc_a = c.doc_a AND g.doc_b = c.doc_b
LEFT JOIN jinter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
JOIN jsizes sa ON sa.doc_id = c.doc_a
JOIN jsizes sb ON sb.doc_id = c.doc_b
"""


def q_equidepth_histogram(spark, sf_dir):
    """Equi-depth histogram of event values
    (functions/profile.equidepth_histogram): 8 buckets with DISCRETE
    percentile edges (integer-quantized values, cut fractions i/8 are
    exact binary doubles), ONE metadata-row percentile aggregate +
    map-only bucket assignment + one count aggregate — never a global
    sort. The oracle spells every edge as the ANSI cume_dist >= p
    minimum."""
    from operator_zoo.functions.profile import equidepth_histogram

    return equidepth_histogram(
        _t(spark, sf_dir, "events"), "value", buckets=8
    )


def _sql_equidepth_histogram(buckets: int = 8) -> str:
    cuts = ",\n         ".join(
        f"min(vq) FILTER (WHERE cd >= {i / buckets}) AS c{i}"
        for i in range(1, buckets)
    )
    bucket = " + ".join(f"(vq > c{i})::INT" for i in range(1, buckets))
    return f"""
WITH base AS (
  SELECT floor(value * 1000)::BIGINT AS vq FROM events
  WHERE value IS NOT NULL
),
r AS (SELECT vq, cume_dist() OVER (ORDER BY vq) AS cd FROM base),
cuts AS (
  SELECT {cuts}
  FROM r
),
b AS (
  SELECT ({bucket})::INT AS bucket, vq
  FROM base CROSS JOIN cuts
)
SELECT bucket, count(*)::BIGINT AS n_rows, min(vq) AS lo_q, max(vq) AS hi_q
FROM b GROUP BY bucket
"""


# ---------------------------------------------------------------------------
# round-5 additions (session 2): DSIR importance selection, label
# propagation communities, semi-structured JSON ingestion
# ---------------------------------------------------------------------------


def q_dsir_select(spark, sf_dir):
    """DSIR data selection (functions/curation.dsir_select; Xie et al.
    2023): hashed-bigram importance weights target=en vs the raw
    corpus, integer-ppm scoring, deterministic top-200. One exploded
    gram relation (persisted — referenced by the weight build and the
    scoring join), one conditional-sum aggregate for both bucket
    counts, weight relation bounded by n_buckets=2048 so broadcast is
    safe by construction, TakeOrderedAndProject selection."""
    from operator_zoo.functions.curation import dsir_select

    docs = _t_wide(spark, sf_dir, "documents")
    sink: list = []
    out = dsir_select(
        docs,
        F.col("lang") == "en",
        n_buckets=2048,
        k=200,
        persisted_sink=sink,
    )
    out._ptxv_persisted = sink
    return out


SQL_DSIR_SELECT = f"""
WITH w AS (
  SELECT doc_id, (lang = 'en') AS is_target,
         list_filter(string_split(text, ' '), x -> x <> '') AS w
  FROM documents
),
grams AS (
  SELECT doc_id, is_target,
         {h60_sql("g", "dsir")} % 2048 AS bucket
  FROM (
    SELECT doc_id, is_target,
           unnest([w[i] || ' ' || w[i + 1] FOR i IN range(1, len(w))]) AS g
    FROM w WHERE len(w) >= 2
  )
),
wts AS (
  SELECT bucket,
         CAST((CAST(sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) + 1)
              * 1000000 // (count(*)::BIGINT + 1) AS BIGINT) AS w_ppm
  FROM grams GROUP BY bucket
),
scored AS (
  SELECT g.doc_id, count(*)::BIGINT AS n_bigrams,
         CAST(CAST(sum(t.w_ppm) AS BIGINT) // count(*)::BIGINT AS BIGINT)
           AS score_ppm
  FROM grams g JOIN wts t USING (bucket)
  GROUP BY g.doc_id
),
top AS (
  SELECT doc_id, n_bigrams, score_ppm FROM scored
  ORDER BY score_ppm DESC, doc_id ASC LIMIT 200
)
SELECT CAST(row_number() OVER (ORDER BY score_ppm DESC, doc_id ASC) AS BIGINT)
         AS dsir_rank,
       doc_id, n_bigrams, score_ppm
FROM top
"""


def q_graph_label_propagation(spark, sf_dir):
    """Label-propagation communities (functions/graph.label_propagation)
    over the co-purchase graph (support >= 3) — the modularity-free
    community complement to graph_components_parts (CC merges anything
    connected; LPA splits dense regions by neighborhood majority).
    Deterministic synchronous form, 3 unrolled rounds, min-label tie
    break; edge relation + per-round labels persisted (handles ride as
    ``_ptxv_persisted``). Output: (part_id, community, comm_size)."""
    from operator_zoo.functions.graph import label_propagation

    li = _t_wide(spark, sf_dir, "lineitem")
    # per-order basket array + map-side HOF pair expansion (the
    # round-5 triangle-build shape): ONE aggregate shuffle replaces
    # the tup-distinct exchange + within-order shuffle self-join; the
    # sorted set gives src < dst for free and each order contributes
    # each pair once, so the support counts are identical
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(ps, (x, i) -> "
                "transform(slice(ps, i + 2, size(ps)), "
                "y -> struct(x AS src, y AS dst))))"
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    edges = (
        pairs.groupBy("src", "dst")
        .agg(F.count("*").alias("support"))
        .where(F.col("support") >= 3)
        .select("src", "dst")
    )
    sink: list = []
    lab = label_propagation(edges, iters=3, persisted_sink=sink)
    sizes = lab.groupBy("community").agg(
        F.count("*").cast("long").alias("comm_size")
    )
    out = lab.join(sizes, "community").select(
        F.col("node").alias("part_id"), "community", "comm_size"
    )
    out._ptxv_persisted = sink
    return out


def _sql_graph_label_propagation() -> str:
    from operator_zoo.functions.graph import label_propagation_sql

    return f"""
WITH tup AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
cand AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM tup a JOIN tup b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 3
),
e AS (SELECT u AS src, v AS dst FROM cand),
{label_propagation_sql("e", iters=3)},
comm AS (SELECT node, label AS community FROM l3),
sizes AS (
  SELECT community, count(*)::BIGINT AS comm_size FROM comm GROUP BY 1
)
SELECT c.node AS part_id, c.community, s.comm_size
FROM comm c JOIN sizes s USING (community)
"""


def q_events_json_stats(spark, sf_dir):
    """Semi-structured ingestion: extract the JSON payload field
    ``props.$.k`` (get_json_object — JVM-side JSON path, no Python)
    and aggregate integer stats per event type. The JSONL-ingestion
    shape every training pipeline starts with: parse-then-aggregate in
    one map + one hash aggregate, nulls/empties surviving as missing
    values (n_events vs n_with_k). Integer sum/min/max only — exact
    cross-engine."""
    ev = _t(spark, sf_dir, "events")
    k = (
        F.when(
            F.col("props").isNull() | (F.col("props") == ""), F.lit(None)
        )
        .otherwise(F.get_json_object("props", "$.k"))
        .cast("long")
    )
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.count("k").cast("long").alias("n_with_k"),
            F.sum("k").cast("long").alias("sum_k"),
            F.min("k").cast("long").alias("min_k"),
            F.max("k").cast("long").alias("max_k"),
        )
    )


SQL_EVENTS_JSON_STATS = """
WITH ex AS (
  SELECT event_type,
         CASE WHEN props IS NULL OR props = '' THEN NULL
              ELSE CAST(json_extract_string(props, '$.k') AS BIGINT)
         END AS k
  FROM events
)
SELECT event_type,
       count(*)::BIGINT AS n_events,
       count(k)::BIGINT AS n_with_k,
       CAST(sum(k) AS BIGINT) AS sum_k,
       CAST(min(k) AS BIGINT) AS min_k,
       CAST(max(k) AS BIGINT) AS max_k
FROM ex GROUP BY event_type
"""


def q_quality_ensemble(spark, sf_dir):
    """Rank-ensemble quality blend (functions/scoring.quality_ensemble):
    three integer signals (length, distinctness, mean word length)
    each quantile-binned 1..8 against broadcast percentile_disc
    boundaries, summed into one ensemble score. n_bins=8 keeps every
    cut fraction i/8 an exact binary double, so the engines' cume_dist
    >= p comparisons agree bit-for-bit (the equidepth-histogram
    lesson). One metadata-row boundary aggregate + map-only scoring —
    no global rank window at any corpus size."""
    from operator_zoo.functions.scoring import quality_ensemble

    return quality_ensemble(_t_wide(spark, sf_dir, "documents"), n_bins=8)


def _sql_quality_ensemble(n_bins: int = 8) -> str:
    metrics = ("n_tokens", "distinct_ppm", "mean_len_ppm")
    cuts = [(i, i / n_bins) for i in range(1, n_bins)]
    bounds = ",\n    ".join(
        f"min({m}) FILTER (cd_{m[0]} >= {p!r}) AS {m[0]}b{i - 1}"
        for m in metrics
        for i, p in cuts
    )
    scores = ",\n       ".join(
        "(1 + "
        + " + ".join(f"({m} > {m[0]}b{j})::INT" for j in range(n_bins - 1))
        + f")::BIGINT AS s_{alias}"
        for m, alias in zip(metrics, ("len", "distinct", "wordlen"))
    )
    return f"""
WITH w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
  FROM documents
),
sig AS (
  SELECT doc_id,
         len(w)::BIGINT AS n_tokens,
         CAST(len(list_distinct(w)) * 1000000 // len(w) AS BIGINT)
           AS distinct_ppm,
         CAST(list_sum(list_transform(w, t -> length(t))) * 1000000
              // len(w) AS BIGINT) AS mean_len_ppm
  FROM w WHERE len(w) >= 1
),
cd AS (
  SELECT *,
         cume_dist() OVER (ORDER BY n_tokens) AS cd_n,
         cume_dist() OVER (ORDER BY distinct_ppm) AS cd_d,
         cume_dist() OVER (ORDER BY mean_len_ppm) AS cd_m
  FROM sig
),
b AS (
  SELECT
    {bounds}
  FROM cd
),
sc AS (
  SELECT doc_id, n_tokens, distinct_ppm, mean_len_ppm,
       {scores}
  FROM sig, b
)
SELECT doc_id, n_tokens, distinct_ppm, mean_len_ppm,
       s_len, s_distinct, s_wordlen,
       (s_len + s_distinct + s_wordlen)::BIGINT AS ensemble
FROM sc
"""


def q_graph_kcore(spark, sf_dir):
    """3-core of the co-purchase graph (functions/graph.kcore_membership,
    6 peeling rounds — fixpoint within 6 on all test SFs, pinned by
    pytest): the density filter that strips hangers-on from the
    support>=2 graph before community work. Per-round edge relations
    are localCheckpoint'ed inside the operator (lineage truncation —
    the persist-only chain measured exponential plan-analysis blowup),
    so no persisted handles ride on the result."""
    from operator_zoo.functions.graph import kcore_membership

    li = _t_wide(spark, sf_dir, "lineitem")
    tup = li.select("l_orderkey", "l_partkey").distinct()
    edges = (
        tup.join(
            tup.select("l_orderkey", F.col("l_partkey").alias("p2")),
            "l_orderkey",
        )
        .where(F.col("l_partkey") < F.col("p2"))
        .groupBy(F.col("l_partkey").alias("src"), F.col("p2").alias("dst"))
        .agg(F.count("*").alias("support"))
        .where(F.col("support") >= 2)
        .select("src", "dst")
    )
    out = kcore_membership(edges, k=3, rounds=6)
    return out.select(F.col("node").alias("part_id"), "core_deg")


def _sql_graph_kcore() -> str:
    from operator_zoo.functions.graph import kcore_membership_sql

    return f"""
WITH tup AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
cand AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM tup a JOIN tup b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
e AS (SELECT u AS src, v AS dst FROM cand),
{kcore_membership_sql("e", k=3, rounds=6)}
SELECT node AS part_id, core_deg FROM core
"""


def q_containment_join(spark, sf_dir):
    """EXACT 3-gram set-containment >= 0.9 self-join
    (functions/dedup.containment_prefix_join) — ordered pairs where
    doc_a's shingle set is >=90% inside doc_b (quote / subset-page /
    boilerplate-wrapper detection; the asymmetric complement to
    dedup_jaccard_prefix_join). A-prefix tokens probe the full
    posting list, the size prune is lossless, verify is an exact
    array_intersect; the oracle replays the same candidates + verify.
    Doc-set relation persisted; handles ride as
    ``_ptxv_persisted``."""
    from operator_zoo.functions.dedup import (
        containment_prefix_join,
    )

    docs = _t_wide(spark, sf_dir, "documents")
    sink: list = []
    out = containment_prefix_join(
        docs, threshold_pct=90, shingle=3, persisted_sink=sink
    )
    out._ptxv_persisted = sink
    return out


SQL_CONTAINMENT_JOIN = """
WITH words AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
  FROM documents
),
toks AS (
  SELECT DISTINCT doc_id,
         unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                 FOR i IN range(1, len(w) - 1)]) AS token
  FROM words WHERE len(w) >= 3
),
freq AS (SELECT token, count(*)::BIGINT AS df FROM toks GROUP BY token),
sizes AS (SELECT doc_id, count(*)::BIGINT AS n FROM toks GROUP BY doc_id),
ranked AS (
  SELECT t.doc_id, t.token, s.n,
         row_number() OVER (PARTITION BY t.doc_id
                            ORDER BY f.df, t.token) AS rk
  FROM toks t JOIN freq f USING (token) JOIN sizes s USING (doc_id)
),
pref AS (
  SELECT doc_id, token, n FROM ranked
  WHERE rk <= n - ((90 * n + 99) // 100) + 1
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, t.doc_id AS doc_b
  FROM pref a
  JOIN toks t ON t.token = a.token AND t.doc_id <> a.doc_id
  JOIN sizes sb ON sb.doc_id = t.doc_id
  WHERE sb.n >= (90 * a.n + 99) // 100
),
tb AS (SELECT tb.doc_id AS doc_b, tb.token FROM toks tb),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*)::BIGINT AS n_inter
  FROM cand c
  JOIN toks ta ON ta.doc_id = c.doc_a
  JOIN tb ON tb.doc_b = c.doc_b AND tb.token = ta.token
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b, i.n_inter, sa.n AS n_a, sb.n AS n_b,
       (100 * i.n_inter // sa.n)::BIGINT AS containment_pct
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE 100 * i.n_inter >= 90 * sa.n
"""


def q_winsorize_value(spark, sf_dir):
    """Per-event-type winsorization report
    (functions/profile.winsorize_stats): clip event values to the
    type's [1/8, 7/8] discrete percentiles (exact binary cut
    fractions, integer-milli values) and report clipped counts + mass
    moved. One metadata-scale bounds aggregate broadcast back, map-only
    clipping, one final hash aggregate."""
    from operator_zoo.functions.profile import winsorize_stats

    ev = _t(spark, sf_dir, "events")
    return winsorize_stats(ev, "value", "event_type")


SQL_WINSORIZE_VALUE = """
WITH base AS (
  SELECT event_type AS grp, floor(value * 1000)::BIGINT AS v_milli
  FROM events
),
cd AS (
  SELECT grp, v_milli,
         cume_dist() OVER (PARTITION BY grp ORDER BY v_milli) AS c
  FROM base
),
b AS (
  SELECT grp,
         min(v_milli) FILTER (c >= 0.125) AS lo_b,
         min(v_milli) FILTER (c >= 0.875) AS hi_b
  FROM cd GROUP BY grp
)
SELECT base.grp AS event_type,
       count(*)::BIGINT AS n_rows,
       min(lo_b)::BIGINT AS lo_bound_milli,
       min(hi_b)::BIGINT AS hi_bound_milli,
       CAST(sum((v_milli < lo_b)::INT) AS BIGINT) AS n_clipped_lo,
       CAST(sum((v_milli > hi_b)::INT) AS BIGINT) AS n_clipped_hi,
       CAST(sum(v_milli) AS BIGINT) AS sum_milli,
       CAST(sum(greatest(lo_b, least(hi_b, v_milli))) AS BIGINT)
         AS sum_winsorized_milli
FROM base JOIN b USING (grp)
GROUP BY base.grp
"""


def q_forward_fill_value(spark, sf_dir):
    """LOCF gap fill (functions/temporal.forward_fill): per user, the
    last PURCHASE amount carried forward at every event — value is
    observed only on purchase rows, every other row inherits the most
    recent purchase (integer milli; rows before the first purchase
    stay NULL — no backfill, no future leakage). ONE shuffle on
    user_id; (ts, event_id) total order so ties are engine-independent."""
    from operator_zoo.functions.temporal import forward_fill

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        _epoch_of("ts").alias("ts_epoch"),
        "event_type",
        F.when(
            F.col("event_type") == "purchase",
            F.floor(F.col("value") * 1000).cast("long"),
        ).alias("last_purchase_milli"),
    )
    return forward_fill(
        ev,
        "user_id",
        "ts_epoch",
        ["last_purchase_milli"],
        tiebreak_col="event_id",
    ).select(
        "event_id",
        "user_id",
        "ts_epoch",
        "event_type",
        "last_purchase_milli",
        "last_purchase_milli_filled",
    )


SQL_FORWARD_FILL_VALUE = """
WITH base AS (
  SELECT event_id, user_id, floor(epoch(ts))::BIGINT AS ts_epoch,
         event_type,
         CASE WHEN event_type = 'purchase'
              THEN floor(value * 1000)::BIGINT END AS v
  FROM events
)
SELECT event_id, user_id, ts_epoch, event_type,
       last_value(v IGNORE NULLS) OVER w AS last_purchase_milli,
       (v IS NULL AND last_value(v IGNORE NULLS) OVER w IS NOT NULL)::BIGINT
         AS last_purchase_milli_filled
FROM base
WINDOW w AS (PARTITION BY user_id ORDER BY ts_epoch, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def q_streaming_heavy_hitters(spark, sf_dir):
    """Batch parity of the streaming token heavy-hitters
    (streaming/heavy_hitters.py): documents streamed as 4 files
    (maxFilesPerTrigger=1, so window contributions genuinely cross
    micro-batch boundaries), synthetic event times spreading the
    corpus over ~2 hours of 1-hour windows, far-future advancer doc
    pushing the final watermark past every real window. Every (window,
    word) with a final count >= 100 must appear exactly once with the
    exact batch count — GROUP BY + HAVING parity. The advancer's own
    window never finalizes and stays out of the sink by construction.

    The advancer is written as a SEPARATE, LATER file (append after
    the 4 real files), never repartitioned in with the corpus: the
    file source orders files by modification time, and an advancer
    batched before a real file would push the watermark 30 days ahead
    and silently drop every later real token as late data (observed
    as a flaky VALUE MISMATCH before this ordering was pinned). Real
    files are safe in ANY order among themselves — the corpus spans
    2 hours and the watermark delay is 2 hours, so no real batch can
    finalize a real window early."""
    import atexit
    import shutil

    from operator_zoo.streaming.heavy_hitters import (
        token_heavy_hitters,
    )

    base = tempfile.mkdtemp(prefix="ptxv_stream_hh_")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    in_dir, out_dir, ckpt = (os.path.join(base, d) for d in ("in", "out", "ck"))
    docs = _t(spark, sf_dir, "documents").select(
        "text",
        F.timestamp_seconds(
            F.lit(1704067200) + F.col("doc_id") % 7200
        ).alias("ts"),
    )
    adv = spark.range(1).select(
        F.lit("__advancer__").alias("text"),
        F.timestamp_seconds(F.lit(1704067200 + 30 * 86400)).alias("ts"),
    )
    docs.repartition(4).write.mode("overwrite").parquet(in_dir)
    before = {
        f: os.path.getmtime(os.path.join(in_dir, f))
        for f in os.listdir(in_dir)
        if f.endswith(".parquet")
    }
    adv.coalesce(1).write.mode("append").parquet(in_dir)
    # pin STRICT mtime ordering: on a coarse-mtime filesystem the
    # append can tie with the corpus files and the file source may
    # batch the advancer first, pushing the watermark 30 days ahead
    # and dropping every real token as late (the flake described
    # above). An explicit utime makes the ordering unconditional.
    latest_real = max(before.values())
    for f in os.listdir(in_dir):
        if f.endswith(".parquet") and f not in before:
            p = os.path.join(in_dir, f)
            os.utime(p, (latest_real + 2, latest_real + 2))
    stream = (
        spark.readStream.schema("text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        token_heavy_hitters(
            stream, window_duration="1 hour", watermark="2 hours",
            min_count=100,
        )
        .select(
            F.unix_timestamp("window_start").alias("window_start_epoch"),
            "word",
            "n",
        )
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(600):
        q.stop()
        raise RuntimeError(
            "streaming parity run 'heavy_hitters' timed out after 600s — "
            "refusing to compare a partial sink against the oracle"
        )
    return spark.read.parquet(out_dir)


SQL_STREAMING_HEAVY_HITTERS = """
WITH tok AS (
  SELECT (floor((1704067200 + doc_id % 7200) / 3600) * 3600)::BIGINT
           AS window_start_epoch,
         unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
  FROM documents
)
SELECT window_start_epoch, word, count(*)::BIGINT AS n
FROM tok
GROUP BY 1, 2
HAVING count(*) >= 100
"""


def q_events_conversion_labels(spark, sf_dir):
    """Supervised-label generation (time-to-event): for every user
    with a signup event, did a purchase follow within 7 days of the
    FIRST signup, and after how long? The label-materialization pass a
    churn/conversion trainer runs over the event log — the labels are
    the training target, so they must be deterministic and leakage-
    free (only events at or after the signup count; the window is
    fixed, not data-dependent). Shapes: one per-user conditional
    aggregate for the first signup, one user-keyed join back to
    purchases, one final aggregate — every shuffle on user_id.
    Output: (user_id, signup_epoch, converted, time_to_purchase_sec
    — NULL when no purchase landed in the window)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", _epoch_of("ts").alias("epoch"), "event_type"
    )
    signup = ev.where(F.col("event_type") == "signup").groupBy(
        "user_id"
    ).agg(F.min("epoch").alias("signup_epoch"))
    joined = signup.join(
        ev.where(F.col("event_type") == "purchase").select(
            "user_id", F.col("epoch").alias("p_epoch")
        ),
        "user_id",
        "left",
    )
    win = 7 * 86400
    in_win = F.col("p_epoch").isNotNull() & (
        (F.col("p_epoch") >= F.col("signup_epoch"))
        & (F.col("p_epoch") <= F.col("signup_epoch") + win)
    )
    return (
        joined.groupBy("user_id", "signup_epoch")
        .agg(
            F.min(F.when(in_win, F.col("p_epoch"))).alias("first_p")
        )
        .select(
            "user_id",
            "signup_epoch",
            F.col("first_p").isNotNull().cast("long").alias("converted"),
            (F.col("first_p") - F.col("signup_epoch"))
            .cast("long")
            .alias("time_to_purchase_sec"),
        )
    )


SQL_EVENTS_CONVERSION_LABELS = """
WITH e AS (
  SELECT user_id, floor(epoch(ts))::BIGINT AS epoch, event_type FROM events
),
signup AS (
  SELECT user_id, min(epoch) AS signup_epoch FROM e
  WHERE event_type = 'signup' GROUP BY user_id
),
firstp AS (
  SELECT s.user_id, s.signup_epoch, min(p.epoch) AS first_p
  FROM signup s
  LEFT JOIN e p ON p.user_id = s.user_id AND p.event_type = 'purchase'
   AND p.epoch >= s.signup_epoch AND p.epoch <= s.signup_epoch + 604800
  GROUP BY s.user_id, s.signup_epoch
)
SELECT user_id, signup_epoch,
       (first_p IS NOT NULL)::BIGINT AS converted,
       (first_p - signup_epoch)::BIGINT AS time_to_purchase_sec
FROM firstp
"""


def q_agg_revenue_contribution(spark, sf_dir):
    """Contribution analysis (ratio-to-report): each nation's exact
    integer-ppm share of its region's revenue and of the global total
    — the classic percent-of-total rollup, computed WITHOUT a second
    scan: one nation-level aggregate, then window sums over the
    (region) partition and the whole (25-row) aggregate. The windows
    run on the AGGREGATE relation (metadata scale), never on the fact
    table — the shape that survives any fact-table size. Revenue in
    exact integer cents; shares as cents-based integer ppm."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = _t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    reg = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    per_nation = (
        li.join(
            F.broadcast(sup),
            li.l_suppkey == sup.s_suppkey,
        )
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(F.sum("cents").cast("long").alias("revenue_cents"))
    )
    return per_nation.select(
        "r_name",
        "n_name",
        "revenue_cents",
        F.expr(
            "revenue_cents * 1000000 div sum(revenue_cents) "
            "OVER (PARTITION BY r_name)"
        )
        .cast("long")
        .alias("region_share_ppm"),
        F.expr(
            "revenue_cents * 1000000 div sum(revenue_cents) OVER ()"
        )
        .cast("long")
        .alias("global_share_ppm"),
    )


SQL_AGG_REVENUE_CONTRIBUTION = """
WITH per_nation AS (
  SELECT r.r_name, n.n_name,
         CAST(sum(floor(l.l_extendedprice * 100)::BIGINT) AS BIGINT)
           AS revenue_cents
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY r.r_name, n.n_name
)
SELECT r_name, n_name, revenue_cents,
       CAST(revenue_cents * 1000000 //
            sum(revenue_cents) OVER (PARTITION BY r_name) AS BIGINT)
         AS region_share_ppm,
       CAST(revenue_cents * 1000000 //
            sum(revenue_cents) OVER () AS BIGINT) AS global_share_ppm
FROM per_nation
"""


def q_negative_samples(spark, sf_dir):
    """Deterministic contrastive negative sampling
    (functions/curation.negative_samples): 5 reproducible negatives
    per anchor doc, candidates scoped to a shared pseudo-random hash
    bucket (bucket-keyed self-join, never all-pairs), ranked by an
    independent per-pair hash draw, same-source candidates excluded
    (false-negative guard). Selection via the two-phase salted
    top-k."""
    from operator_zoo.functions.curation import negative_samples

    return negative_samples(
        _t_wide(spark, sf_dir, "documents"), k=5, n_buckets=64
    )


SQL_NEGATIVE_SAMPLES = f"""
WITH base AS (
  SELECT doc_id AS id, source AS src,
         {h60_sql("CAST(doc_id AS VARCHAR)", "negb")} % 64 AS b
  FROM documents
),
pairs AS (
  SELECT a.id AS anchor_id, c.id AS neg_id,
         {h60_sql("(a.id::VARCHAR || ':' || c.id::VARCHAR)", "negr")} AS draw
  FROM base a JOIN base c ON a.b = c.b
  WHERE a.id <> c.id AND a.src <> c.src
),
ranked AS (
  SELECT anchor_id, neg_id, draw,
         row_number() OVER (PARTITION BY anchor_id
                            ORDER BY draw ASC, neg_id ASC) AS rk
  FROM pairs
)
SELECT anchor_id, rk::BIGINT AS neg_rank, neg_id, draw
FROM ranked WHERE rk <= 5
"""


QUERIES = {
    "graph_pagerank_parts": q_pagerank_parts,
    "graph_triangle_parts": q_triangle_parts,
    "graph_components_parts": q_graph_components,
    "scd2_priority_history": q_scd2_priority_history,
    "cdc_merge_upsert": q_cdc_merge_upsert,
    "layout_zorder_keys": q_zorder_keys,
    "dedup_jaccard_prefix_join": q_jaccard_prefix_join,
    "dedup_normalized_exact": q_dedup_normalized,
    "dedup_corpus_lines": q_corpus_lines,
    "dedup_paragraph_chunks": q_dedup_chunks,
    "dedup_ngram_spans": q_ngram_spans,
    "dedup_source_overlap": q_source_overlap,
    "join_bloom_prefilter": q_bloom_prefilter_join,
    "join_salted_skew": q_salted_skew,
    "join_semi_anti_customers": q_semi_anti_customers,
    "join_asof_purchase_view": q_asof_purchase_view,
    "join_range_error_context": q_range_join_error_context,
    "join_shipping_priority": q_shipping_priority,
    "events_retention_cohorts": q_retention_cohorts,
    "events_type_transitions": q_type_transitions,
    "events_user_rfm": q_user_rfm,
    "events_funnel": q_events_funnel,
    "window_sliding_24h": q_sliding_window,
    "window_topk_per_segment": q_topk_orders_per_segment,
    "agg_rollup_revenue": q_rollup_revenue,
    "agg_pricing_cube": q_pricing_cube,
    "agg_pivot_status": q_pivot_status,
    "agg_order_percentiles": q_order_percentiles,
    "sketch_hll_by_lang": q_hll_by_lang,
    "ann_embedding_outliers": q_embedding_outliers,
    "curation_decontaminate": q_decontaminate,
    "curation_temperature_mix": q_temperature_mix,
    "curation_domain_filter": q_domain_filter,
    "text_rare_word_stats": q_rare_word_stats,
    "text_distinctive_terms": q_distinctive_terms,
    "text_repetition_filters": q_text_repetition,
    "text_pii_scrub": q_pii_scrub,
    "text_quality_classifier": q_quality_classifier,
    "text_lm_score": q_lm_score,
    "index_postings": q_index_postings,
    "index_search_topk": q_index_search,
    "profile_key_skew": q_profile_key_skew,
    "profile_events_stats": q_profile_events_stats,
    "multimodal_phash_dedup": q_media_phash_dedup,
    "multimodal_phash_near_dups": q_media_phash_near_dups,
    "streaming_dedup_docs": q_streaming_dedup_docs,
    "streaming_enrich_join": q_streaming_enrich_join,
    "streaming_interval_join": q_streaming_interval_join,
    "streaming_line_dedup": q_streaming_line_dedup,
    "profile_value_histogram": q_profile_value_histogram,
    "dedup_exact": q_exact_dedup,
    "dedup_minhash_signatures": q_minhash_signatures,
    "dedup_lsh_pairs_capped": q_lsh_pairs_capped,
    "dedup_clusters": q_dedup_clusters,
    "dedup_simhash": q_simhash,
    "dedup_jaccard_neighbors": q_jaccard_neighbors,
    "dedup_jaccard_bigram": q_jaccard_bigram,
    "ann_topk_brute": q_ann_brute_force,
    "ann_topk_ivf": q_ann_ivf,
    "ann_kmeans_cells": q_kmeans_cells,
    "ann_topk_ivf_kmeans": q_ann_ivf_kmeans,
    "ann_kmeans_cells_balanced": q_kmeans_cells_balanced,
    "ann_topk_ivf_balanced": q_ann_ivf_balanced,
    "ann_topk_ivf_probe_aware": q_ann_ivf_probe_aware,
    "ann_pq_codes": q_pq_codes,
    "ann_topk_ivf_pq": q_ann_ivf_pq,
    "ann_pq_codes_residual": q_pq_codes_residual,
    "ann_topk_ivf_pq_residual": q_ann_ivf_pq_residual,
    "dedup_embedding_cosine": q_embedding_near_dups,
    "dedup_embedding_cosine_kmeans": q_embedding_near_dups_kmeans,
    "dedup_embedding_cosine_lsh": q_embedding_lsh,
    "text_token_stats": q_token_stats,
    "text_bpe_tokens": q_bpe_token_stats,
    "text_lang_id": q_lang_id,
    "text_quality_score": q_quality_score,
    "curation_token_budget": q_token_budget_sample,
    "curation_token_budget_sharded": q_token_budget_sample_sharded,
    "curation_hash_sample": q_hash_sample,
    "curation_train_val_test": q_assign_splits,
    "curation_quota_sample": q_quota_sample,
    "curation_shuffle_order": q_shuffle_order,
    "curation_chunk_documents": q_chunk_documents,
    "curation_pack_sequences": q_pack_sequences,
    "sketch_hll_distinct": q_hll_distinct,
    "sketch_bloom_filter": q_bloom_filter,
    "sketch_countmin_words": q_countmin_words,
    "sketch_kmv_distinct": q_kmv_distinct,
    "sketch_quantile_doclen": q_quantile_sketch_doclen,
    "sketch_kmv_intersection": q_kmv_intersection,
    "curation_weighted_sample": q_weighted_sample,
    "text_fingerprint": q_fingerprint,
    "html_strip_tags": q_html_strip_tags,
    "agg_pricing_summary": q_pricing_summary,
    "agg_pricing_rollup": q_pricing_rollup,
    "setop_part_usage": q_set_ops,
    "join_nation_revenue": q_nation_revenue,
    "streaming_windowed_counts": q_streaming_windowed_counts,
    "streaming_sessionize": q_streaming_sessionize,
    "multimodal_media_features": q_media_features,
    "multimodal_resize": q_media_resize,
    "multimodal_frame_sample": q_media_frame_sample,
    "text_winnow_fingerprints": q_winnow_fingerprints,
    "text_bpe_merge_tokens": q_bpe_merge_tokens,
    "text_bpe_token_ids": q_bpe_token_ids,
    "html_main_content": q_html_main_content,
    # --- round-5 second-session additions (rehearsal-green; outside the
    # 50-slot driver window, which stays reserved for the never-checked
    # backlog — see NOTES_ROUND5.md)
    "dedup_simhash_near_dups": q_simhash_near_dups,
    "dedup_semdedup_prune": q_semdedup_prune,
    "join_asof_nearest": q_asof_nearest_click,
    "profile_anomaly_mad_days": q_anomaly_mad_days,
    "window_ewma_value": q_ewma_value,
    "curation_dataset_card": q_dataset_card,
    "text_pmi_bigrams": q_pmi_bigrams,
    "dedup_minhash_estimate": q_minhash_estimate,
    "profile_equidepth_histogram": q_equidepth_histogram,
    "curation_dsir_select": q_dsir_select,
    "graph_label_propagation": q_graph_label_propagation,
    "events_json_stats": q_events_json_stats,
    "text_quality_ensemble": q_quality_ensemble,
    "graph_kcore": q_graph_kcore,
    "dedup_containment_join": q_containment_join,
    "profile_winsorize_value": q_winsorize_value,
    "window_forward_fill": q_forward_fill_value,
    "streaming_heavy_hitters": q_streaming_heavy_hitters,
    "events_conversion_labels": q_events_conversion_labels,
    "agg_revenue_contribution": q_agg_revenue_contribution,
    "curation_negative_samples": q_negative_samples,
}

ORACLES = {
    "dedup_exact": SQL_EXACT_DEDUP,
    "dedup_minhash_signatures": SQL_MINHASH_SIGNATURES,
    "dedup_lsh_pairs_capped": SQL_LSH_PAIRS_CAPPED.format(mins=_minhash_mins_sql()),
    "dedup_clusters": SQL_DEDUP_CLUSTERS.format(
        mins=_minhash_mins_sql(), cap=LSH_BUCKET_CAP
    ),
    "dedup_simhash": SQL_SIMHASH,
    "dedup_jaccard_neighbors": SQL_JACCARD_NEIGHBORS,
    "dedup_jaccard_bigram": SQL_JACCARD_BIGRAM,
    "ann_topk_brute": SQL_ANN_BRUTE,
    "ann_topk_ivf": SQL_ANN_IVF,
    "ann_kmeans_cells": _sql_kmeans_cells(),
    "ann_topk_ivf_kmeans": _sql_ann_ivf_kmeans(),
    "ann_kmeans_cells_balanced": _sql_kmeans_cells_balanced(),
    "ann_topk_ivf_balanced": _sql_ann_ivf_balanced(),
    "ann_topk_ivf_probe_aware": _sql_ann_ivf_probe_aware(),
    "ann_pq_codes": _sql_pq_codes(),
    "ann_topk_ivf_pq": _sql_ann_ivf_pq(),
    "ann_pq_codes_residual": _sql_pq_codes_residual(),
    "ann_topk_ivf_pq_residual": _sql_ann_ivf_pq_residual(),
    "dedup_embedding_cosine": SQL_EMBEDDING_NEAR_DUPS,
    "dedup_embedding_cosine_kmeans": _sql_embedding_near_dups_kmeans(),
    "dedup_embedding_cosine_lsh": _sql_embedding_lsh(),
    "text_token_stats": SQL_TOKEN_STATS,
    "text_bpe_tokens": SQL_BPE_TOKEN_STATS,
    "text_lang_id": SQL_LANG_ID,
    "text_quality_score": SQL_QUALITY_SCORE,
    "curation_token_budget": _sql_token_budget_sample(),
    "curation_token_budget_sharded": _sql_token_budget_sample(sharded=True),
    "curation_hash_sample": _sql_hash_sample(),
    "curation_train_val_test": _sql_assign_splits(),
    "curation_quota_sample": _sql_quota_sample(),
    "curation_shuffle_order": _sql_shuffle_order(),
    "curation_chunk_documents": _sql_chunk_documents(),
    "curation_pack_sequences": SQL_PACK_SEQUENCES,
    "sketch_hll_distinct": _sql_hll_distinct(),
    "sketch_bloom_filter": _sql_bloom_filter(),
    "sketch_countmin_words": _sql_countmin_words(),
    "sketch_kmv_distinct": _sql_kmv_distinct(),
    "sketch_quantile_doclen": _sql_quantile_sketch_doclen(),
    "sketch_kmv_intersection": _sql_kmv_intersection(),
    "curation_weighted_sample": _sql_weighted_sample(),
    "graph_pagerank_parts": _sql_pagerank_parts(),
    "scd2_priority_history": SQL_SCD2_PRIORITY_HISTORY,
    "dedup_jaccard_prefix_join": SQL_JACCARD_PREFIX_JOIN,
    "cdc_merge_upsert": SQL_CDC_MERGE_UPSERT,
    "dedup_normalized_exact": _sql_dedup_normalized(),
    "profile_key_skew": SQL_PROFILE_KEY_SKEW,
    "dedup_corpus_lines": SQL_CORPUS_LINES,
    "graph_triangle_parts": _sql_triangle_parts(),
    "events_retention_cohorts": SQL_RETENTION_COHORTS,
    "join_bloom_prefilter": SQL_BLOOM_PREFILTER_JOIN,
    "ann_embedding_outliers": _sql_embedding_outliers(),
    "events_type_transitions": SQL_TYPE_TRANSITIONS,
    "graph_components_parts": SQL_GRAPH_COMPONENTS,
    "join_salted_skew": SQL_SALTED_SKEW,
    "dedup_source_overlap": SQL_SOURCE_OVERLAP,
    "window_sliding_24h": SQL_SLIDING_WINDOW,
    "agg_rollup_revenue": SQL_ROLLUP_REVENUE,
    "sketch_hll_by_lang": _sql_hll_by_lang(),
    "events_user_rfm": SQL_USER_RFM,
    "curation_decontaminate": _sql_decontaminate(),
    "text_fingerprint": SQL_FINGERPRINT,
    "text_rare_word_stats": SQL_RARE_WORD_STATS,
    "text_distinctive_terms": SQL_DISTINCTIVE_TERMS,
    "text_repetition_filters": _sql_text_repetition(),
    "text_pii_scrub": _sql_pii_scrub(),
    "dedup_paragraph_chunks": _sql_dedup_chunks(),
    "dedup_ngram_spans": _sql_ngram_spans(),
    "html_strip_tags": SQL_HTML_STRIP_TAGS,
    "agg_pricing_summary": SQL_PRICING_SUMMARY,
    "agg_pricing_rollup": SQL_PRICING_ROLLUP,
    "agg_pricing_cube": SQL_PRICING_CUBE,
    "agg_pivot_status": SQL_PIVOT_STATUS,
    "join_semi_anti_customers": SQL_SEMI_ANTI_CUSTOMERS,
    "setop_part_usage": SQL_SET_OPS,
    "join_nation_revenue": SQL_NATION_REVENUE,
    "join_asof_purchase_view": SQL_ASOF_PURCHASE_VIEW,
    "join_range_error_context": SQL_RANGE_JOIN_ERROR_CONTEXT,
    "events_funnel": SQL_EVENTS_FUNNEL,
    "agg_order_percentiles": SQL_ORDER_PERCENTILES,
    "window_topk_per_segment": SQL_TOPK_ORDERS_PER_SEGMENT,
    "join_shipping_priority": SQL_SHIPPING_PRIORITY,
    "streaming_windowed_counts": SQL_STREAMING_WINDOWED_COUNTS,
    "streaming_sessionize": SQL_STREAMING_SESSIONIZE,
    "streaming_dedup_docs": SQL_STREAMING_DEDUP_DOCS,
    "streaming_line_dedup": SQL_STREAMING_LINE_DEDUP,
    "streaming_enrich_join": SQL_STREAMING_ENRICH_JOIN,
    "streaming_interval_join": SQL_STREAMING_INTERVAL_JOIN,
    "index_postings": SQL_INDEX_POSTINGS,
    "index_search_topk": _sql_index_search(),
    "text_quality_classifier": _sql_quality_classifier(),
    "text_lm_score": _sql_lm_score(),
    "curation_temperature_mix": _sql_temperature_mix(),
    "curation_domain_filter": _sql_domain_filter(),
    "layout_zorder_keys": _sql_zorder_keys(),
    "profile_events_stats": SQL_PROFILE_EVENTS_STATS,
    "profile_value_histogram": SQL_PROFILE_VALUE_HISTOGRAM,
    "multimodal_media_features": SQL_MEDIA_FEATURES,
    "multimodal_phash_dedup": SQL_MEDIA_PHASH_DEDUP,
    "multimodal_phash_near_dups": SQL_MEDIA_PHASH_NEAR_DUPS,
    "multimodal_resize": SQL_MEDIA_RESIZE,
    "multimodal_frame_sample": SQL_MEDIA_FRAME_SAMPLE,
    "text_winnow_fingerprints": SQL_WINNOW_FINGERPRINTS,
    "text_bpe_merge_tokens": SQL_BPE_MERGE_TOKENS,
    "text_bpe_token_ids": SQL_BPE_TOKEN_IDS,
    "html_main_content": SQL_HTML_MAIN_CONTENT,
    "dedup_simhash_near_dups": SQL_SIMHASH_NEAR_DUPS,
    "dedup_semdedup_prune": _sql_semdedup_prune(),
    "join_asof_nearest": SQL_ASOF_NEAREST_CLICK,
    "profile_anomaly_mad_days": SQL_ANOMALY_MAD_DAYS,
    "window_ewma_value": _sql_ewma_value(),
    "curation_dataset_card": _sql_dataset_card(),
    "text_pmi_bigrams": SQL_PMI_BIGRAMS,
    "dedup_minhash_estimate": _sql_minhash_estimate(),
    "profile_equidepth_histogram": _sql_equidepth_histogram(),
    "curation_dsir_select": SQL_DSIR_SELECT,
    "graph_label_propagation": _sql_graph_label_propagation(),
    "events_json_stats": SQL_EVENTS_JSON_STATS,
    "text_quality_ensemble": _sql_quality_ensemble(),
    "graph_kcore": _sql_graph_kcore(),
    "dedup_containment_join": SQL_CONTAINMENT_JOIN,
    "profile_winsorize_value": SQL_WINSORIZE_VALUE,
    "window_forward_fill": SQL_FORWARD_FILL_VALUE,
    "streaming_heavy_hitters": SQL_STREAMING_HEAVY_HITTERS,
    "events_conversion_labels": SQL_EVENTS_CONVERSION_LABELS,
    "agg_revenue_contribution": SQL_AGG_REVENUE_CONTRIBUTION,
    "curation_negative_samples": SQL_NEGATIVE_SAMPLES,
}
