"""Similarity search over embedding columns (``array<float>``).

- :func:`topk_dot_quantized` — brute-force top-k with an *integer-
  quantized* dot product (``floor(x * 1000)`` per component): fully
  deterministic across engines (no float summation-order ambiguity), so
  the DuckDB oracle matches bit-for-bit. The quantization is the only
  deviation from true cosine and is documented as such.
- :func:`topk_cosine` — true double-precision cosine via
  ``F.zip_with`` + ``F.aggregate`` (JVM-side, no UDF), for engine use.
- :func:`topk_ivf` — the scale path: a coarse inverted-file (cells =
  the ``label`` partition; in production a k-means assignment) so each
  probe scans one cell instead of the corpus. Cuts the cross product by
  the cell count; the same pattern shards a 100 TB embedding table.

Brute force is quadratic in probes x corpus — correct as a baseline
and as the in-cell scorer for IVF; never run it unpartitioned at scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

QUANT = 1000


def _qvec(col: Column) -> Column:
    return F.transform(col, lambda x: F.floor(x.cast("double") * QUANT).cast("bigint"))


def _qdot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def topk_dot_quantized(
    embeddings: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k neighbors per probe by integer-quantized dot product.

    ``probes`` has the same schema as ``embeddings``; ties break on
    ascending neighbor id so ranking is total and reproducible.
    """
    base = embeddings.select(
        F.col(id_col).alias("nbr_id"), _qvec(F.col(vec_col)).alias("nbr_vec")
    )
    q = probes.select(
        F.col(id_col).alias("query_id"), _qvec(F.col(vec_col)).alias("q_vec")
    )
    scored = q.crossJoin(base).filter(F.col("query_id") != F.col("nbr_id")).select(
        "query_id", "nbr_id", _qdot(F.col("q_vec"), F.col("nbr_vec")).alias("qdot")
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("qdot").desc(), F.col("nbr_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "nbr_id", "qdot")
    )


def cosine_expr(a: Column, b: Column) -> Column:
    """Double-precision cosine similarity, fully JVM-side."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )
    nb = F.sqrt(
        F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )
    return dot / (na * nb)


def topk_cosine(
    embeddings: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """True-cosine brute-force top-k (engine-native; float summation
    order makes this one *not* oracle-exact — use the quantized variant
    for cross-engine checks)."""
    base = embeddings.select(F.col(id_col).alias("nbr_id"), F.col(vec_col).alias("nv"))
    q = probes.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    scored = q.crossJoin(base).filter(F.col("query_id") != F.col("nbr_id")).select(
        "query_id", "nbr_id", cosine_expr(F.col("qv"), F.col("nv")).alias("cosine")
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("nbr_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "nbr_id", F.round("cosine", 6).alias("cosine"))
    )


def embedding_near_dups(
    embeddings: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the dedup-family member
    over vectors): all (a < b) pairs in the same coarse cell whose
    quantized cosine >= ``threshold``.

    Cell bucketing (IVF assignment; k-means at scale) replaces the
    all-pairs cross join exactly like LSH bands do for MinHash — the
    join shuffles on the cell key and AQE splits hot cells. The cosine
    is computed from integer-quantized components, so numerator and
    norms are exact integers; one sqrt + one divide in IEEE double is
    then bit-identical across engines (values < 2^53), keeping the
    DuckDB oracle exact.
    """
    sides = embeddings.select(
        F.col(cell_col).alias("cell"),
        F.col(id_col).alias("vid"),
        _qvec(F.col(vec_col)).alias("qv"),
    ).withColumn("n2", _qdot(F.col("qv"), F.col("qv")))
    a, b = sides.alias("a"), sides.alias("b")
    pairs = a.join(
        b,
        (F.col("a.cell") == F.col("b.cell")) & (F.col("a.vid") < F.col("b.vid")),
    ).select(
        F.col("a.vid").alias("vec_a"),
        F.col("b.vid").alias("vec_b"),
        (
            _qdot(F.col("a.qv"), F.col("b.qv"))
            / F.sqrt((F.col("a.n2") * F.col("b.n2")).cast("double"))
        ).alias("cos_raw"),
    )
    return (
        pairs.filter(F.col("cos_raw") >= threshold)
        .select("vec_a", "vec_b", F.round("cos_raw", 6).alias("cosine_q"))
    )


KMEANS_K = 8
KMEANS_ITERS = 4


def _centroids_lit(centroids: list[list[int]]) -> Column:
    """The k x d codebook as ONE 2-D array literal (broadcast by
    construction — it ships inside the serialized plan)."""
    return F.array(
        *[
            F.array(*[F.lit(int(x)).cast("bigint") for x in cent])
            for cent in centroids
        ]
    )


#: codebooks up to this many elements (k * d) stay plan literals; above
#: it they attach as a one-row broadcast relation — a fresh giant
#: literal forces a full codegen/JIT pass per unique plan (~25s at
#: 256x16 measured), while the broadcast form keeps the generated code
#: identical across Lloyd iterations (codegen cache hit) and the plan
#: size O(1)
_LIT_ELEMS_MAX = 2048

_CENTS_COL = "__cents__"


def _attach_codebook(
    df: DataFrame, centroids: list[list[int]]
) -> tuple[DataFrame, Column, bool]:
    """(df', codebook expression, attached?) — literal for small k*d,
    one-row broadcast join above _LIT_ELEMS_MAX. Values identical
    either way; callers drop _CENTS_COL when attached."""
    k, d = len(centroids), len(centroids[0])
    if k * d <= _LIT_ELEMS_MAX:
        return df, _centroids_lit(centroids), False
    cents_df = df.sparkSession.createDataFrame(
        [([[int(x) for x in c] for c in centroids],)],
        f"{_CENTS_COL}: array<array<bigint>>",
    )
    return df.join(F.broadcast(cents_df)), F.col(_CENTS_COL), True


def _cell_entries(qv: Column, cents: Column) -> Column:
    """(dist, cell) structs for every codebook entry: ONE transform
    over the 2-D codebook — lexicographic struct ordering makes
    array_min/array_sort give (min dist, then min cell). A
    per-centroid unrolled expression (k separate aggregate trees) is
    value-identical but its analysis/codegen cost grows O(k)."""
    return F.transform(
        cents,
        lambda c, i: F.named_struct(
            F.lit("dist"),
            F.aggregate(
                F.zip_with(qv, c, lambda x, y: (x - y) * (x - y)),
                F.lit(0).cast("bigint"),
                lambda acc, v: acc + v,
            ),
            F.lit("cell"),
            i.cast("int"),
        ),
    )


def _dist_to_centroids(qv: Column, centroids: list[list[int]]) -> Column:
    """Nearest-centroid cell for a quantized vector (ties to the lowest
    cell), literal-codebook form — for small k*d expression contexts
    (per-subspace PQ codebooks, in-cell 2-means)."""
    return F.array_min(_cell_entries(qv, _centroids_lit(centroids)))["cell"]


def _sqdist(qv: Column, cent: list[int]) -> Column:
    c = F.array(*[F.lit(int(x)).cast("bigint") for x in cent])
    return F.aggregate(
        F.zip_with(qv, c, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def _maximin_init(vecs: DataFrame, k: int) -> list[list[int]]:
    """Deterministic farthest-point init: start from the min-id vector,
    then repeatedly take the vector maximizing the distance to its
    nearest chosen centroid (ties to the lowest id). Guarantees one
    seed per well-separated cluster — min-id or random init can drop
    all k seeds into one dense region. Each step is a top-1
    (TakeOrdered) job, k-1 tiny jobs total."""
    first = vecs.orderBy("vid").limit(1).collect()[0]
    chosen = [list(first.qv)]
    for _ in range(k - 1):
        mind = F.least(*[_sqdist(F.col("qv"), c) for c in chosen]) if len(
            chosen
        ) > 1 else _sqdist(F.col("qv"), chosen[0])
        nxt = (
            vecs.select("vid", "qv", mind.alias("mind"))
            .orderBy(F.col("mind").desc(), F.col("vid").asc())
            .limit(1)
            .collect()[0]
        )
        chosen.append(list(nxt.qv))
    return chosen


def _first_distinct_init(vecs: DataFrame, k: int) -> list[list[int]]:
    """Deterministic one-job init: the first ``k`` *distinct* vectors
    in order of the smallest vid that carries each value. Maximin's
    k-1 sequential top-1 jobs (each with a k-term least() expression)
    are fine at k=8 but prohibitive at k=256+ — this is the large-k /
    per-subspace-codebook alternative."""
    rows = (
        vecs.groupBy("qv")
        .agg(F.min("vid").alias("mv"))
        .orderBy("mv")
        .limit(k)
        .collect()
    )
    if len(rows) < k:
        raise ValueError(
            f"need >= {k} distinct vectors for first-distinct init, "
            f"got {len(rows)}"
        )
    return [list(r.qv) for r in rows]


def _lloyd(
    vecs: DataFrame, centroids: list[list[int]], iterations: int
) -> list[list[int]]:
    """Deterministic Lloyd refinement over prepared ``(vid, qv)`` rows:
    exact int64 assignment, floor-mean updates, empty cells keep their
    centroid. Each iteration collects k*d longs (driver metadata)."""
    k = len(centroids)
    for _ in range(iterations):
        src, cents, _ = _attach_codebook(vecs, centroids)
        cell = F.array_min(_cell_entries(F.col("qv"), cents))["cell"].alias(
            "cell"
        )
        sums = (
            src.select(cell, F.posexplode("qv").alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        fresh: dict[int, dict[int, int]] = {}
        for r in sums:
            fresh.setdefault(r.cell, {})[r.pos] = int(r.s) // int(r.n)
        centroids = [
            [fresh[c][p] for p in range(len(centroids[c]))]
            if c in fresh
            else centroids[c]
            for c in range(k)
        ]
    return centroids


def kmeans_train(
    embeddings: DataFrame,
    k: int = KMEANS_K,
    iterations: int = KMEANS_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init: str = "maximin",
) -> list[list[int]]:
    """Deterministic Lloyd's over integer-quantized vectors.

    - init: farthest-point (maximin) from the min-id vector (no RNG;
      the oracled default), or ``"first_distinct"`` — first k distinct
      vectors by min-vid, ONE job, for large k (256+ cells) where
      maximin's k-1 sequential top-1 jobs dominate training wall;
    - assignment: exact int64 squared-L2, ties to the lowest cell;
    - update: per-dimension ``floor(sum / count)`` (exact — floor
      division of int sums), empty cells keep their centroid.

    Every step is integer-exact, so the DuckDB oracle replays training
    bit-for-bit (plans/queries.py unrolls the same iterations in SQL).

    Scale shape: assignment is a map-only scan against k*d broadcast
    literals; the update is a (cell, dim) partial aggregate collecting
    k*d longs to the driver — the same skeleton as Spark MLlib KMeans.
    The returned centroids are tiny driver metadata, NOT data rows.
    """
    if init not in ("maximin", "first_distinct"):
        raise ValueError(f"unknown init {init!r}")
    vecs = embeddings.select(
        F.col(id_col).alias("vid"), _qvec(F.col(vec_col)).alias("qv")
    )
    # Scale-adaptive parallelism floor for the training relation: the
    # per-row distance arithmetic (k cells x d dims of interpreted
    # higher-order-function lambdas) is CPU-heavy, and a single-split
    # source (toy-SF single-row-group parquet) would run every Lloyd
    # assignment pass on one core. All math is integer — a round-robin
    # reorder cannot change any aggregate. No-op when the source
    # already has >= defaultParallelism partitions.
    par = embeddings.sparkSession.sparkContext.defaultParallelism
    if vecs.rdd.getNumPartitions() < par:
        vecs = vecs.repartition(par)
    vecs = vecs.persist()
    try:
        seed = (
            _maximin_init(vecs, k)
            if init == "maximin"
            else _first_distinct_init(vecs, k)
        )
        return _lloyd(vecs, seed, iterations)
    finally:
        vecs.unpersist()


def kmeans_train_balanced(
    embeddings: DataFrame,
    k: int = KMEANS_K,
    iterations: int = KMEANS_ITERS,
    balance_factor: float = 2.0,
    max_splits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[int]]:
    """Hot-cell-balanced k-means IVF training (deterministic).

    Plain Lloyd's first, then repeatedly split the largest cell whose
    population exceeds ``balance_factor * n / n_cells``: a recursive
    2-means (maximin init restricted to the hot cell's members) turns
    its centroid into two children, and to keep the cell count at
    ``k`` the emptiest other cell's centroid is retired (its members
    reassign to their next-nearest on the following pass). One global
    refinement iteration runs after each split.

    Every step is the same integer-exact arithmetic as
    :func:`kmeans_train`, so the result is reproducible bit-for-bit;
    per split the driver handles k*d longs plus two tiny top-1 jobs —
    metadata, not data. IVF recall on skewed corpora is bounded by the
    hottest cell (a probe landing there scans the hot cell and gains
    nothing from nprobe); bounding cell size with ``balance_factor``
    restores the recall-vs-nprobe trade (see BENCH recall curves).

    Oracle-replayed in SQL by ``ann_kmeans_cells_balanced`` /
    ``ann_topk_ivf_balanced`` (plans/queries.py unrolls the split /
    retire rounds in DuckDB CTEs) and covered by pytest on skewed blob
    fixtures.
    """
    if k < 2:
        # the split step needs a second cell to retire; with k == 1 the
        # emptiest-cell min() would be over an empty sequence
        raise ValueError("kmeans_train_balanced requires k >= 2")
    vecs = embeddings.select(
        F.col(id_col).alias("vid"), _qvec(F.col(vec_col)).alias("qv")
    )
    # same scale-adaptive parallelism floor as kmeans_train (integer
    # math — order-safe; no-op at real split counts)
    par = embeddings.sparkSession.sparkContext.defaultParallelism
    if vecs.rdd.getNumPartitions() < par:
        vecs = vecs.repartition(par)
    vecs = vecs.persist()
    try:
        centroids = _lloyd(vecs, _maximin_init(vecs, k), iterations)
        n_total = vecs.count()
        for _ in range(max_splits):
            cell = _dist_to_centroids(F.col("qv"), centroids).alias("cell")
            sizes = {
                int(r.cell): int(r.n)
                for r in vecs.select(cell).groupBy("cell").agg(
                    F.count("*").alias("n")
                ).collect()
            }
            cap = balance_factor * n_total / len(centroids)
            hot = max(
                (c for c in sizes if sizes[c] > cap),
                key=lambda c: (sizes[c], -c),
                default=None,
            )
            if hot is None:
                break
            members = vecs.filter(
                _dist_to_centroids(F.col("qv"), centroids) == hot
            )
            children = _lloyd(members, _maximin_init(members, 2), iterations)
            # retire the emptiest non-hot cell (ties to lowest index)
            emptiest = min(
                (c for c in range(len(centroids)) if c != hot),
                key=lambda c: (sizes.get(c, 0), c),
            )
            centroids = [
                c
                for i, c in enumerate(centroids)
                if i not in (hot, emptiest)
            ] + children
            centroids = _lloyd(vecs, centroids, 1)
        return centroids
    finally:
        vecs.unpersist()


def assign_cells(
    embeddings: DataFrame,
    centroids: list[list[int]],
    vec_col: str = "embedding",
    cell_col: str = "cell",
) -> DataFrame:
    """Tag each row with its nearest trained centroid (map-only for
    small codebooks; one-row broadcast join above _LIT_ELEMS_MAX)."""
    src, cents, attached = _attach_codebook(embeddings, centroids)
    out = src.withColumn(
        cell_col,
        F.array_min(_cell_entries(_qvec(F.col(vec_col)), cents))["cell"],
    )
    return out.drop(_CENTS_COL) if attached else out


def assign_cells_multi(
    embeddings: DataFrame,
    centroids: list[list[int]],
    nprobe: int,
    vec_col: str = "embedding",
    cell_col: str = "cell",
) -> DataFrame:
    """Probe-side multi-assignment: one row per (vector, cell) for the
    ``nprobe`` nearest centroids — the standard IVF recall lever (the
    base side keeps single assignment; only probes fan out). Map-only +
    a small explode; ties order (distance, cell)."""
    qv = _qvec(F.col(vec_col))
    src, cents, attached = _attach_codebook(embeddings, centroids)
    top = F.slice(F.array_sort(_cell_entries(qv, cents)), 1, nprobe)
    out = src.withColumn(
        cell_col, F.explode(F.transform(top, lambda s: s["cell"]))
    )
    return out.drop(_CENTS_COL) if attached else out


def topk_ivf_kmeans(
    embeddings: DataFrame,
    probes: DataFrame,
    k: int = 5,
    n_cells: int = KMEANS_K,
    iterations: int = KMEANS_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
    centroids: list[list[int]] | None = None,
) -> DataFrame:
    """IVF top-k over *trained* k-means cells — no pre-labeled column.

    Trains coarse centroids once (driver metadata), assigns the base
    side map-only, fans each probe out to its ``nprobe`` nearest cells,
    scores within those cells, and keeps the global top-k per probe
    (ties on ascending neighbor id). nprobe trades scan cost for
    recall: nprobe == n_cells is exactly brute force. Pass pre-trained
    ``centroids`` (e.g. from :func:`kmeans_train_balanced`) to reuse or
    swap the coarse quantizer.
    """
    if centroids is None:
        centroids = kmeans_train(
            embeddings,
            k=n_cells,
            iterations=iterations,
            id_col=id_col,
            vec_col=vec_col,
        )
    base = assign_cells(embeddings, centroids, vec_col=vec_col).select(
        "cell", F.col(id_col).alias("nbr_id"), _qvec(F.col(vec_col)).alias("nbr_vec")
    )
    q = assign_cells_multi(probes, centroids, nprobe, vec_col=vec_col).select(
        "cell", F.col(id_col).alias("query_id"), _qvec(F.col(vec_col)).alias("q_vec")
    )
    scored = (
        q.join(base, "cell")
        .filter(F.col("query_id") != F.col("nbr_id"))
        .select(
            "query_id", "nbr_id", _qdot(F.col("q_vec"), F.col("nbr_vec")).alias("qdot")
        )
        # no dedup needed: the base side is single-assigned, so a
        # (probe, neighbor) pair meets in exactly one probed cell
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("qdot").desc(), F.col("nbr_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "nbr_id", "qdot")
    )


def topk_ivf_probe_aware(
    embeddings: DataFrame,
    probes: DataFrame,
    k: int = 5,
    n_cells: int = KMEANS_K,
    iterations: int = KMEANS_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe_max: int = 4,
    centroids: list[list[int]] | None = None,
    scanned_cells_sink: list | None = None,
) -> DataFrame:
    """Probe-aware IVF top-k: bound-pruned multi-probe search.

    The standard IVF refinement — instead of unconditionally scanning a
    probe's ``nprobe_max`` nearest cells, scan the nearest cell first,
    take the running k-th best dot as a bound, and visit a further
    candidate cell only if it could still contribute:

        max dot(q, x) over x in cell c
          <= dot(q, centroid_c) + |q| * max|x - centroid_c|      (C-S)
          <= qdot(q, c) + floor(sqrt(q2 * r2_c)) + 1  =: ub_c

    with everything in the exact integer-quantized space (q2 * r2_c <
    2^53, so the double sqrt is computed on an exact value and the +1
    absorbs its rounding). A cell is pruned only when ``ub_c < kth`` —
    a tie at ``kth`` could still win on ascending neighbor id, so ties
    are kept. The pruning is therefore LOSSLESS: the result is
    bit-identical to a fixed nprobe = ``nprobe_max`` fan-out (which is
    exactly what the DuckDB oracle replays), while the expected scan
    cost per probe drops toward one cell as the nearest cell gets
    competitive.

    Scale shape: cell radii are one extra (cell, max) aggregate at
    training time (k longs of driver metadata); the two scan phases are
    the same cell equi-joins as :func:`topk_ivf_kmeans`; the bound join
    is against a broadcast k-row relation. At 1000 cells the win is the
    difference between scanning nprobe_max cells per probe and ~1-2.

    ``scanned_cells_sink``: pass a list to receive a DataFrame of
    (query_id, cells_scanned) for bench diagnostics.
    """
    if centroids is None:
        centroids = kmeans_train(
            embeddings,
            k=n_cells,
            iterations=iterations,
            id_col=id_col,
            vec_col=vec_col,
        )
    base = assign_cells(embeddings, centroids, vec_col=vec_col).select(
        "cell",
        F.col(id_col).alias("nbr_id"),
        _qvec(F.col(vec_col)).alias("nbr_vec"),
    )
    # per-cell radius^2: max member squared-L2 distance to its centroid
    # (tiny aggregate; k rows -> broadcast)
    radii = (
        base.withColumn(
            "r2", _sqdist_by_cell(F.col("nbr_vec"), F.col("cell"), centroids)
        )
        .groupBy("cell")
        .agg(F.max("r2").alias("r2"))
    )

    # probe fan-out to nprobe_max nearest cells with visit rank and the
    # exact qdot(q, centroid) per candidate cell
    q = _probe_cells_ranked(
        probes, centroids, nprobe_max, id_col=id_col, vec_col=vec_col
    )
    q1 = q.filter(F.col("cell_rank") == 1)
    qrest = q.filter(F.col("cell_rank") > 1)

    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("qdot").desc(), F.col("nbr_id").asc()
    )

    def _scan(side: DataFrame) -> DataFrame:
        return (
            side.join(base, "cell")
            .filter(F.col("query_id") != F.col("nbr_id"))
            .select(
                "query_id",
                "nbr_id",
                _qdot(F.col("q_vec"), F.col("nbr_vec")).alias("qdot"),
            )
        )

    first = _scan(q1)
    # running bound: the k-th best dot within the nearest cell (null if
    # the cell held fewer than k competitors -> no pruning)
    kth = (
        first.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") == k)
        .select("query_id", F.col("qdot").alias("kth_dot"))
    )
    survivors = (
        qrest.join(F.broadcast(radii), "cell", "left")
        .join(F.broadcast(kth), "query_id", "left")
        .withColumn(
            "ub",
            F.col("cent_dot")
            + F.floor(
                F.sqrt((F.col("q2") * F.coalesce(F.col("r2"), F.lit(0))).cast("double"))
            ).cast("bigint")
            + F.lit(1),
        )
        .filter(F.col("kth_dot").isNull() | (F.col("ub") >= F.col("kth_dot")))
    )
    if scanned_cells_sink is not None:
        scanned_cells_sink.append(
            survivors.groupBy("query_id")
            .agg((F.count("*") + 1).alias("cells_scanned"))
        )
    rest = _scan(survivors.select("cell", "query_id", "q_vec"))
    scored = first.unionByName(rest)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "nbr_id", "qdot")
    )


def _sqdist_by_cell(
    qv: Column, cell: Column, centroids: list[list[int]]
) -> Column:
    """Squared L2 distance of ``qv`` to the centroid selected by
    ``cell`` (chained whens over the k centroid literals)."""
    expr = None
    for c, cent in enumerate(centroids):
        d = _sqdist(qv, cent)
        expr = F.when(cell == c, d) if expr is None else expr.when(cell == c, d)
    return expr


def _probe_cells_ranked(
    probes: DataFrame,
    centroids: list[list[int]],
    nprobe_max: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One row per (probe, candidate cell) for the ``nprobe_max``
    nearest centroids, with visit rank (1 = nearest, ties (dist, cell)
    like assign_cells_multi), the probe's exact dot with the cell
    centroid (the bound's first term), and its squared norm."""
    qv = _qvec(F.col(vec_col))
    src, cents, _ = _attach_codebook(probes, centroids)
    entries = F.transform(
        cents,
        lambda c, i: F.named_struct(
            F.lit("dist"),
            F.aggregate(
                F.zip_with(qv, c, lambda x, y: (x - y) * (x - y)),
                F.lit(0).cast("bigint"),
                lambda acc, v: acc + v,
            ),
            F.lit("cell"),
            i.cast("int"),
            F.lit("cent_dot"),
            F.aggregate(
                F.zip_with(qv, c, lambda x, y: x * y),
                F.lit(0).cast("bigint"),
                lambda acc, v: acc + v,
            ),
        ),
    )
    top = F.slice(F.array_sort(entries), 1, nprobe_max)
    return (
        src.select(
            F.col(id_col).alias("query_id"),
            qv.alias("q_vec"),
            F.posexplode(top).alias("pos", "s"),
        )
        .select(
            "query_id",
            "q_vec",
            (F.col("pos") + 1).alias("cell_rank"),
            F.col("s.cell").alias("cell"),
            F.col("s.cent_dot").alias("cent_dot"),
        )
        .withColumn("q2", _qdot(F.col("q_vec"), F.col("q_vec")))
    )


RP_BITS = 24
RP_BAND_BITS = 8
RP_PLANE_MOD = 2001  # hyperplane components in [-1000, 1000]
RP_MAX_BUCKET = 256


def rp_planes(n_bits: int, dim: int) -> list[list[int]]:
    """Deterministic integer random-projection hyperplanes: component
    (i, j) = (md5-56bit of "rp:i:j") mod 2001 - 1000 — the same
    portable-hash convention as the MinHash seeds, so any engine can
    regenerate the identical planes (the oracle SQL inlines them)."""
    import hashlib

    def h(i: int, j: int) -> int:
        d = hashlib.md5(f"rp:{i}:{j}".encode()).digest()
        return int.from_bytes(d[:7], "big") % RP_PLANE_MOD - (RP_PLANE_MOD // 2)

    return [[h(i, j) for j in range(dim)] for i in range(n_bits)]


def cosine_lsh_pairs(
    embeddings: DataFrame,
    dim: int,
    n_bits: int = RP_BITS,
    band_bits: int = RP_BAND_BITS,
    max_bucket_size: int | None = RP_MAX_BUCKET,
    threshold: float | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane (SimHash-for-vectors) LSH candidate pairs —
    the cosine-space sibling of the MinHash/Jaccard LSH family
    (Charikar, STOC'02): bit i = sign(v · h_i), signatures split into
    ``n_bits / band_bits``-bit bands, candidates = pairs sharing any
    band bucket. P(bit match) = 1 - θ/π, so near-parallel vectors
    collide with high probability while near-orthogonal ones land in
    ~uniform buckets.

    Scale shape matches the MinHash LSH: signatures are map-only
    integer dot products against ``n_bits × dim`` broadcast literals
    (no training, no shuffle), the band self-join shuffles on the
    bucket key, and ``max_bucket_size`` drops degenerate buckets
    (quadratic blowup, no signal) before the join. With ``threshold``
    set, candidates are verified with the exact integer-quantized
    cosine — approximate RECALL, exact PRECISION, the standard LSH
    contract. All arithmetic is integer/IEEE-exact, so the DuckDB
    oracle matches bit-for-bit.
    """
    if n_bits % band_bits != 0:
        raise ValueError("n_bits must be a multiple of band_bits")
    planes = rp_planes(n_bits, dim)

    # qv is projected as a REAL column first so the quantization pass
    # (transform over the embedding) runs once per row; the whole
    # signature is then one aggregate over a broadcast 2-D plane
    # literal — a single pass over qv, not n_bits inlined re-scans.
    qvecs = embeddings.select(
        F.col(id_col).alias("vid"), _qvec(F.col(vec_col)).alias("qv")
    )
    planes_lit = F.array(
        *[
            F.array(*[F.lit(int(w)).cast("bigint") for w in plane])
            for plane in planes
        ]
    )
    sig = F.transform(
        planes_lit,
        lambda p: F.when(
            F.aggregate(
                F.zip_with(F.col("qv"), p, lambda x, y: x * y),
                F.lit(0).cast("bigint"),
                lambda acc, v: acc + v,
            )
            >= 0,
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    sigd = qvecs.select("vid", sig.alias("sig"))

    # band key = the band's bits MSB-first (acc*2 + bit over the slice)
    n_bands = n_bits // band_bits
    band_keys = [
        F.struct(
            F.lit(b).alias("band"),
            F.aggregate(
                F.slice(F.col("sig"), b * band_bits + 1, band_bits),
                F.lit(0).cast("bigint"),
                lambda acc, bit: acc * 2 + bit,
            ).alias("key"),
        )
        for b in range(n_bands)
    ]
    # candidate discovery carries ONLY (vid, band, key) — never vectors.
    # Buckets are assembled with ONE groupBy (collect_list) and pairs
    # generated in-bucket with bounded higher-order functions, instead
    # of a banded self-join: the join formulation evaluates the
    # signature subtree twice (once per side) and costs two window
    # shuffles + a join shuffle; this shape is one bucket shuffle + the
    # pair dedup. The cap filter on size() is the same semantics as the
    # windowed count (both buffer one bucket per task — a degenerate
    # all-identical-signature bucket is O(bucket) memory either way,
    # which is why the cap exists).
    tagged = sigd.select(
        "vid", F.explode(F.array(*band_keys)).alias("bk")
    ).select("vid", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))

    buckets = tagged.groupBy("band", "key").agg(
        F.array_sort(F.collect_list("vid")).alias("vids")
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("vids") <= max_bucket_size)
    # all unordered pairs within a bucket (vids sorted -> a < b is the
    # deterministic orientation, identical to the old a.vid < b.vid)
    pair_structs = F.filter(
        F.flatten(
            F.transform(
                F.col("vids"),
                lambda x: F.transform(
                    F.col("vids"),
                    lambda y: F.struct(x.alias("a"), y.alias("b")),
                ),
            )
        ),
        lambda s: s["a"] < s["b"],
    )
    pairs = (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.a").alias("vec_a"), F.col("p.b").alias("vec_b"))
        .dropDuplicates(["vec_a", "vec_b"])
    )
    if threshold is None:
        return pairs.select("vec_a", "vec_b")
    # exact verification: join the (few, deduped) candidate id pairs
    # back to the quantized vectors + precomputed norms
    qn = qvecs.withColumn("n2", _qdot(F.col("qv"), F.col("qv")))
    scored = (
        pairs.join(
            qn.select(
                F.col("vid").alias("vec_a"),
                F.col("qv").alias("qa"),
                F.col("n2").alias("na2"),
            ),
            "vec_a",
        )
        .join(
            qn.select(
                F.col("vid").alias("vec_b"),
                F.col("qv").alias("qb"),
                F.col("n2").alias("nb2"),
            ),
            "vec_b",
        )
        .select(
            "vec_a",
            "vec_b",
            (
                _qdot(F.col("qa"), F.col("qb"))
                / F.sqrt((F.col("na2") * F.col("nb2")).cast("double"))
            ).alias("cos_raw"),
        )
    )
    return scored.filter(F.col("cos_raw") >= threshold).select(
        "vec_a", "vec_b", F.round("cos_raw", 6).alias("cosine_q")
    )


def make_blob_embeddings(
    spark,
    n: int = 2000,
    d: int = 16,
    n_clusters: int = 10,
    sizes: list[float] | None = None,
    noise: float = 0.05,
    seed: int = 7,
) -> DataFrame:
    """Deterministic *clusterable* embedding fixture: ``n_clusters``
    Gaussian-ish blobs around unit-sphere centers, normalized — the
    data shape IVF recall curves are meaningful on (the driver's
    synthetic embeddings are near-orthogonal noise, where neighbors
    are effectively random across cells and no coarse quantizer can
    score well). ``sizes`` (proportions) skews cluster populations for
    the balancing tests. RNG is a self-contained LCG — no library RNG
    state, reproducible everywhere.
    """
    import numpy as np

    m = 1 << 31
    x = (seed % m) or 1

    def lcg(count: int) -> "np.ndarray":
        nonlocal x
        out = np.empty(count, dtype=np.float64)
        for i in range(count):
            x = (1103515245 * x + 12345) % m
            out[i] = x / m
        return out

    centers = (lcg(n_clusters * d).reshape(n_clusters, d) * 2.0) - 1.0
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    props = sizes if sizes is not None else [1.0 / n_clusters] * n_clusters
    total = sum(props)
    counts = [int(round(n * p / total)) for p in props]
    counts[0] += n - sum(counts)

    rows_vid, rows_label, rows_vec = [], [], []
    vid = 0
    for c, cnt in enumerate(counts):
        pts = centers[c] + ((lcg(cnt * d).reshape(cnt, d) * 2.0) - 1.0) * noise
        pts /= np.linalg.norm(pts, axis=1, keepdims=True)
        for p in pts:
            rows_vid.append(vid)
            rows_label.append(c)
            rows_vec.append([float(v) for v in p])
            vid += 1

    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": rows_vid, "label": rows_label, "embedding": rows_vec}
        ),
        schema="vec_id long, label int, embedding array<float>",
    )


def topk_ivf(
    embeddings: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
) -> DataFrame:
    """IVF-style search: score only within the probe's coarse cell.

    The cell equi-join replaces the cross join — at 1000 cells that is
    a 1000x scan reduction, and the join shuffles on the cell key,
    which buckets/cluster-bys trivially at scale.
    """
    base = embeddings.select(
        F.col(cell_col).alias("cell"),
        F.col(id_col).alias("nbr_id"),
        _qvec(F.col(vec_col)).alias("nbr_vec"),
    )
    q = probes.select(
        F.col(cell_col).alias("cell"),
        F.col(id_col).alias("query_id"),
        _qvec(F.col(vec_col)).alias("q_vec"),
    )
    scored = q.join(base, "cell").filter(F.col("query_id") != F.col("nbr_id")).select(
        "query_id", "nbr_id", _qdot(F.col("q_vec"), F.col("nbr_vec")).alias("qdot")
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("qdot").desc(), F.col("nbr_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "nbr_id", "qdot")
    )


def embedding_outliers(
    embs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_col: str = "label",
    *,
    k: int = 5,
    dim: int | None = None,
) -> DataFrame:
    """Per-group embedding outliers — the SemDeDup/CLIP-filtering
    complement: instead of removing near-DUPLICATES, surface the k
    vectors FARTHEST from their group centroid (mislabeled / noisy /
    off-distribution candidates a curation pass reviews or drops).

    Everything is integer-exact on the quantized vectors so the DuckDB
    oracle replays bit-for-bit: with group size ``n`` and elementwise
    sums ``s_i``, the score is the count-scaled squared distance

        dist2n(v) = sum_i (q_i * n - s_i)^2   (= n^2 * ||q - mean||^2)

    — no division, no float. Magnitudes: |q_i| <= ~1000, n bounded by
    group size, so each term is < 2^62 at any realistic group size
    (the centroid sums are bigint-exact regardless of corpus size).

    Plan: ONE map-side-combined aggregate per group (count + ``dim``
    elementwise sums), centroids joined back on the group key
    (group-count rows — broadcastable by construction, like k-means
    centroids), score map-only via zip_with/aggregate HOFs, then the
    exact two-phase salted top-k (functions/relational.topk_per_group)
    so a giant group never funnels one reducer.
    """
    from operator_zoo.functions.relational import topk_per_group

    if dim is None:
        # metadata-scale probe, same pattern as topk_ivf_pq_residual:
        # a hard-coded dim larger than the vectors would make
        # element_at past the end yield nulls that propagate to null
        # centroid sums instead of failing fast
        first = embs.select(F.size(vec_col).alias("d")).first()
        if first is None:
            raise ValueError("embedding_outliers: empty input")
        dim = first["d"]
    q = embs.select(
        F.col(id_col).alias("vec_id"),
        F.col(group_col).alias("grp"),
        F.when(
            F.size(vec_col) == dim, _qvec(F.col(vec_col))
        )
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"embedding_outliers: expected {dim}-dim "
                        "vector, got size "
                    ),
                    F.size(vec_col).cast("string"),
                )
            ).cast("array<bigint>")
        )
        .alias("qv"),
    )
    cent = q.groupBy("grp").agg(
        F.count("*").cast("long").alias("n"),
        F.array(
            *[
                F.sum(F.element_at("qv", i + 1)).cast("long")
                for i in range(dim)
            ]
        ).alias("s"),
    )
    scored = q.join(F.broadcast(cent), "grp").select(
        "vec_id",
        "grp",
        "n",
        F.aggregate(
            F.zip_with("qv", "s", lambda a, b: (a * F.col("n") - b) * (a * F.col("n") - b)),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("dist2n"),
    )
    return (
        topk_per_group(
            scored,
            group_cols=["grp"],
            order_col="dist2n",
            k=k,
            descending=True,
            tiebreak_col="vec_id",
        )
        .select(
            F.col("grp").alias(group_col),
            F.col("rk").cast("long").alias("rank"),
            "vec_id",
            "dist2n",
        )
    )


def semdedup_prune(
    embeddings: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
) -> DataFrame:
    """SemDeDup pruning (Abbas et al. 2023, arXiv:2303.09540): within
    each coarse cell (k-means cluster at scale), a vector is PRUNED iff
    some lower-id vector in the same cell has quantized cosine
    >= ``threshold`` — the standard id-ordered, non-transitive keep
    rule (the lowest id of each near-dup pair always survives; chains
    prune everything but their minimum *pairwise* neighbor). Returns
    every input row as ``(vec_id, cell, is_kept)``.

    Scale shape: the pair search is :func:`embedding_near_dups` — a
    cell-bucketed equi-join (never all-pairs; AQE splits hot cells),
    exactly the SemDeDup recipe of confining the quadratic check to
    within-cluster members — followed by one distinct on the pruned
    side and one left join back to the id relation. The keep decision
    is partitioning-independent (pure function of the pair set).
    """
    pairs = embedding_near_dups(
        embeddings,
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
        cell_col=cell_col,
    )
    pruned = pairs.select(F.col("vec_b").alias("__pruned")).distinct()
    return (
        embeddings.select(
            F.col(id_col).alias("vec_id"), F.col(cell_col).alias("cell")
        )
        .join(pruned, F.col("vec_id") == F.col("__pruned"), "left")
        .select(
            "vec_id",
            "cell",
            F.col("__pruned").isNull().alias("is_kept"),
        )
    )
