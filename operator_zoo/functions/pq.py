"""Product quantization (PQ) + IVF-PQ approximate nearest neighbor.

The memory-side scale path for embedding search: a 64-dim float vector
(256 B) compresses to ``m`` one-byte codes (here 4 B) — at the 10^12-
vector design point that is the difference between an index that fits
the cluster's memory and one that doesn't (Jégou et al., "Product
Quantization for Nearest Neighbor Search", TPAMI 2011; the FAISS
IVFPQ layout).

Everything is integer-exact over the engine's standard ``floor(x *
1000)`` quantization so the DuckDB oracle replays training, encoding,
and asymmetric-distance scoring bit-for-bit:

- **training**: per subspace, deterministic first-``k``-distinct init
  (sub-vectors ordered by the smallest vid that carries them) followed
  by the same exact-integer Lloyd refinement the coarse quantizer uses
  (:func:`ann._lloyd` — int64 squared-L2, ties to the lowest cell,
  floor(sum/count) updates);
- **encoding**: map-only argmin against the ``m * k_codes`` broadcast
  codebook literals — no shuffle, no UDF;
- **search (ADC)**: asymmetric distance = exact squared L2 between the
  probe's quantized vector and the base vector's *reconstruction*
  (concatenated codebook entries), equal to the sum of per-subspace
  LUT distances; candidate generation reuses the trained coarse IVF
  cells, so the scan per probe is one cell, not the corpus.

Scale shape: both trainings collect only driver metadata (k*d longs
per iteration); base rows carry (cell, id, codes) — the full vector
never shuffles; the probe side is small by construction. The cell
equi-join + per-probe top-k window is the same audited plan as
:func:`ann.topk_ivf_kmeans`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from operator_zoo.functions.ann import (
    KMEANS_ITERS,
    KMEANS_K,
    _attach_codebook,
    _cell_entries,
    _CENTS_COL,
    _centroids_lit,
    _dist_to_centroids,
    _first_distinct_init,
    _lloyd,
    _qvec,
    assign_cells,
    assign_cells_multi,
    kmeans_train,
)

#: default PQ geometry for the 64-dim corpus embeddings: 4 subspaces
#: of 16 dims, 16 codes each — 256 B/vector -> 4 B/vector
PQ_M = 4
PQ_CODES = 16
PQ_ITERS = 2


def pq_subspace_bounds(dim: int, m: int) -> list[tuple[int, int]]:
    """(1-based start, length) of each subspace slice; dim % m == 0."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    ds = dim // m
    return [(s * ds + 1, ds) for s in range(m)]


def pq_train(
    embeddings: DataFrame,
    m: int = PQ_M,
    k_codes: int = PQ_CODES,
    iterations: int = PQ_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> list[list[list[int]]]:
    """Train ``m`` per-subspace codebooks (list of m lists of k_codes
    quantized centroids). Direct PQ over the raw quantized vectors
    (not residuals — documented deviation from IVFPQ-with-residuals;
    keeps encode/search a pure function of the vector)."""
    if dim is None:
        dim = len(embeddings.select(vec_col).first()[0])
    vecs = embeddings.select(
        F.col(id_col).alias("vid"), _qvec(F.col(vec_col)).alias("qv")
    ).persist()
    try:
        books = []
        for start, length in pq_subspace_bounds(dim, m):
            sub = vecs.select("vid", F.slice("qv", start, length).alias("qv"))
            books.append(
                _lloyd(sub, _first_distinct_init(sub, k_codes), iterations)
            )
        return books
    finally:
        vecs.unpersist()


def _codes_from_qv(
    qv: Column, codebooks: list[list[list[int]]], dim: int
) -> list[Column]:
    """Per-subspace nearest-code index over an already-quantized
    bigint-array column (map-only argmin vs broadcast codebook
    literals, ties to the lowest code)."""
    return [
        _dist_to_centroids(F.slice(qv, start, length), codebooks[s])
        for s, (start, length) in enumerate(
            pq_subspace_bounds(dim, len(codebooks))
        )
    ]


def pq_code_exprs(
    vec_col: Column, codebooks: list[list[list[int]]], dim: int
) -> list[Column]:
    """Per-subspace nearest-code index for a raw float-vector column."""
    return _codes_from_qv(_qvec(vec_col), codebooks, dim)


def pq_encode(
    embeddings: DataFrame,
    codebooks: list[list[list[int]]],
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, code_0..code_{m-1}) — the compressed representation."""
    codes = pq_code_exprs(F.col(vec_col), codebooks, dim)
    return embeddings.select(
        F.col(id_col),
        *[c.alias(f"code_{s}") for s, c in enumerate(codes)],
    )


def pq_reconstruct_expr(
    code_cols: list[Column], codebooks: list[list[list[int]]]
) -> Column:
    """Concatenated codebook entries for a row's codes — the PQ
    reconstruction; exact squared L2 against it equals the summed
    per-subspace ADC lookup."""
    parts = []
    for s, cb in enumerate(codebooks):
        lit = F.array(
            *[
                F.array(*[F.lit(int(x)).cast("bigint") for x in cent])
                for cent in cb
            ]
        )
        parts.append(F.element_at(lit, code_cols[s].cast("int") + 1))
    return F.concat(*parts)


def _sqdist_cols(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def topk_ivf_pq(
    embeddings: DataFrame,
    probes: DataFrame,
    k: int = 5,
    n_cells: int = KMEANS_K,
    coarse_iterations: int = KMEANS_ITERS,
    m: int = PQ_M,
    k_codes: int = PQ_CODES,
    pq_iterations: int = PQ_ITERS,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse_centroids: list[list[int]] | None = None,
    codebooks: list[list[list[int]]] | None = None,
) -> DataFrame:
    """IVF-PQ top-k: coarse k-means cells prune candidates, ADC over
    PQ codes scores them. Returns (query_id, rank, nbr_id, adist) with
    the total order (adist ASC, nbr_id ASC) so the result set is
    deterministic through ties."""
    dim = len(embeddings.select(vec_col).first()[0])
    if coarse_centroids is None:
        coarse_centroids = kmeans_train(
            embeddings,
            k=n_cells,
            iterations=coarse_iterations,
            id_col=id_col,
            vec_col=vec_col,
        )
    if codebooks is None:
        codebooks = pq_train(
            embeddings,
            m=m,
            k_codes=k_codes,
            iterations=pq_iterations,
            id_col=id_col,
            vec_col=vec_col,
            dim=dim,
        )
    code_cols = [f"code_{s}" for s in range(m)]
    base = assign_cells(embeddings, coarse_centroids, vec_col=vec_col).select(
        "cell",
        F.col(id_col).alias("nbr_id"),
        *[
            c.alias(code_cols[s])
            for s, c in enumerate(pq_code_exprs(F.col(vec_col), codebooks, dim))
        ],
    )
    q = assign_cells_multi(
        probes, coarse_centroids, nprobe, vec_col=vec_col
    ).select(
        "cell",
        F.col(id_col).alias("query_id"),
        _qvec(F.col(vec_col)).alias("q_vec"),
    )
    recon = pq_reconstruct_expr(
        [F.col(c) for c in code_cols], codebooks
    )
    scored = (
        q.join(base, "cell")
        .filter(F.col("query_id") != F.col("nbr_id"))
        .select(
            "query_id",
            "nbr_id",
            _sqdist_cols(F.col("q_vec"), recon).alias("adist"),
        )
    )
    if nprobe > 1:
        # a (probe, neighbor) pair can meet in several probed cells;
        # adist is identical in each, so min-dedup is exact
        scored = scored.groupBy("query_id", "nbr_id").agg(
            F.min("adist").alias("adist")
        )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("nbr_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "nbr_id", "adist")
    )


# ---------------------------------------------------------------------------
# Residual encoding — the full FAISS IVFPQ form (Jégou et al. §IV.B):
# PQ codebooks are trained on (vector - coarse_centroid[cell]) instead
# of the raw vector. Residuals of a trained coarse quantizer are
# centered near zero with much smaller spread than the vectors
# themselves, so the same m x k_codes budget quantizes them with lower
# reconstruction error — recall improves at an identical code size.
# Everything stays integer-exact (quantized vectors and centroids are
# int64, the residual is their difference), so the DuckDB oracle
# replays training, encoding, and ADC search bit-for-bit.
# ---------------------------------------------------------------------------


def residual_rows(
    embeddings: DataFrame,
    coarse_centroids: list[list[int]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vid, cell, qv) rows where ``qv = quantized(vec) -
    coarse_centroid[cell]`` — exact int64, map-only (the codebook is a
    plan literal for small k*d, a one-row broadcast join above
    :data:`ann._LIT_ELEMS_MAX`)."""
    src, cents, attached = _attach_codebook(embeddings, coarse_centroids)
    qv = _qvec(F.col(vec_col))
    cols = [
        F.col(id_col).alias("vid"),
        qv.alias("full_qv"),
        F.array_min(_cell_entries(qv, cents))["cell"].alias("cell"),
    ]
    if attached:
        cols.append(F.col(_CENTS_COL))
    tmp = src.select(*cols)
    cents2 = F.col(_CENTS_COL) if attached else _centroids_lit(coarse_centroids)
    res = F.zip_with(
        F.col("full_qv"),
        F.element_at(cents2, F.col("cell") + 1),
        lambda x, y: x - y,
    )
    return tmp.select("vid", "cell", res.alias("qv"))


def pq_train_residual(
    embeddings: DataFrame,
    coarse_centroids: list[list[int]],
    m: int = PQ_M,
    k_codes: int = PQ_CODES,
    iterations: int = PQ_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> list[list[list[int]]]:
    """Train ``m`` per-subspace codebooks on coarse-quantizer
    RESIDUALS (same deterministic first-k-distinct init + exact-int64
    Lloyd as :func:`pq_train`, different training distribution)."""
    if dim is None:
        dim = len(embeddings.select(vec_col).first()[0])
    vecs = residual_rows(
        embeddings, coarse_centroids, id_col=id_col, vec_col=vec_col
    ).persist()
    try:
        books = []
        for start, length in pq_subspace_bounds(dim, m):
            sub = vecs.select("vid", F.slice("qv", start, length).alias("qv"))
            books.append(
                _lloyd(sub, _first_distinct_init(sub, k_codes), iterations)
            )
        return books
    finally:
        vecs.unpersist()


def pq_encode_residual(
    embeddings: DataFrame,
    coarse_centroids: list[list[int]],
    codebooks: list[list[list[int]]],
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell, code_0..code_{m-1}) — the IVFPQ posting-list entry:
    the coarse cell is part of the representation (reconstruction =
    coarse centroid + residual codebook entries), so it is returned
    alongside the codes."""
    res = residual_rows(
        embeddings, coarse_centroids, id_col=id_col, vec_col=vec_col
    )
    codes = _codes_from_qv(F.col("qv"), codebooks, dim)
    return res.select(
        F.col("vid").alias(id_col),
        "cell",
        *[c.alias(f"code_{s}") for s, c in enumerate(codes)],
    )


def topk_ivf_pq_residual(
    embeddings: DataFrame,
    probes: DataFrame,
    k: int = 5,
    n_cells: int = KMEANS_K,
    coarse_iterations: int = KMEANS_ITERS,
    m: int = PQ_M,
    k_codes: int = PQ_CODES,
    pq_iterations: int = PQ_ITERS,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse_centroids: list[list[int]] | None = None,
    codebooks: list[list[list[int]]] | None = None,
) -> DataFrame:
    """IVF-PQ top-k with residual encoding: candidates from the coarse
    cells, ADC against ``coarse_centroid[cell] + residual
    reconstruction``. Same audited plan shape as :func:`topk_ivf_pq`
    (map-only encode, cell equi-join, per-probe top-k window); only
    the reconstruction expression changes."""
    dim = len(embeddings.select(vec_col).first()[0])
    if coarse_centroids is None:
        coarse_centroids = kmeans_train(
            embeddings,
            k=n_cells,
            iterations=coarse_iterations,
            id_col=id_col,
            vec_col=vec_col,
        )
    if codebooks is None:
        codebooks = pq_train_residual(
            embeddings,
            coarse_centroids,
            m=m,
            k_codes=k_codes,
            iterations=pq_iterations,
            id_col=id_col,
            vec_col=vec_col,
            dim=dim,
        )
    code_cols = [f"code_{s}" for s in range(m)]
    base = pq_encode_residual(
        embeddings, coarse_centroids, codebooks, dim, id_col, vec_col
    ).select("cell", F.col(id_col).alias("nbr_id"), *code_cols)
    q = assign_cells_multi(
        probes, coarse_centroids, nprobe, vec_col=vec_col
    ).select(
        "cell",
        F.col(id_col).alias("query_id"),
        _qvec(F.col(vec_col)).alias("q_vec"),
    )
    joined = q.join(base, "cell").filter(F.col("query_id") != F.col("nbr_id"))
    src, cents, attached = _attach_codebook(joined, coarse_centroids)
    recon = F.zip_with(
        F.element_at(cents, F.col("cell") + 1),
        pq_reconstruct_expr([F.col(c) for c in code_cols], codebooks),
        lambda x, y: x + y,
    )
    scored = src.select(
        "query_id",
        "nbr_id",
        _sqdist_cols(F.col("q_vec"), recon).alias("adist"),
    )
    # no dedup needed: the base side is single-assigned, so a
    # (probe, neighbor) pair meets in exactly one probed cell
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("nbr_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "nbr_id", "adist")
    )
