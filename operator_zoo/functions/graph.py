"""Graph centrality over co-occurrence edges: fixed-iteration
integer PageRank.

A training-data curator ranks sources/domains/items by link-graph
centrality (the quality signal behind "popular domains are cleaner"
heuristics). Classic PageRank is float-iterative and engine-order
dependent; this version keeps every rank an INTEGER scaled by
``SCALE`` with truncating division at each step, so a fixed number of
iterations is bit-identical across Spark, DuckDB (unrolled CTEs), and
a sequential model — summing integers is order-independent where
summing doubles is not.

Per iteration: ``contrib(u) = r(u) div outdeg(u)`` and

    r'(v) = (100 - d)·SCALE div (100·N)  +  d · Σ_in contrib(u) div 100

Dangling nodes (no out-edges) leak their damped mass — the common
"leaky" formulation (Spark's own GraphX example does the same); ranks
still order nodes by centrality, which is the curation use.

Scale shape: node/outdeg prep is two hash-aggregates; each iteration
is one shuffle-join of edges with ranks on ``src`` plus one
hash-aggregate on ``dst`` — the canonical distributed PageRank plan
(ranks are |V| rows, never broadcast). ``n_nodes`` is the only
driver-side value (one scalar count — metadata by the repo's rule).

No reference counterpart; part of the training-data-pipeline family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: fixed-point scale: ranks sum to ~SCALE (minus dangling leakage)
PR_SCALE = 10**12


def pagerank_fixed(
    edges: DataFrame,
    *,
    iters: int = 3,
    damping_pct: int = 85,
    scale: int = PR_SCALE,
    src: str = "src",
    dst: str = "dst",
    persisted_sink: list | None = None,
) -> DataFrame:
    """Integer PageRank over a distinct-edge DataFrame; returns
    ``(node, pr_scaled)`` for every node that appears as a src or dst.

    ``iters`` is a plan-unroll count (each adds one join + one
    aggregate to the lineage), matching the unrolled-CTE oracle replay
    the same way the k-means oracles replay Lloyd rounds.

    The degree-keyed edge relation and the node relation are
    referenced by EVERY iteration; without materialization their
    derivation re-executes per lineage path (AQE exchange reuse
    recovers only the identical-exchange subtrees). At deployment
    scale do what GraphX does — cache the per-iteration constants:
    pass ``persisted_sink`` (the repo's leak-guard pattern) and both
    are persisted MEMORY_AND_DISK
    and appended for the caller to unpersist after materializing. The
    registered query takes this path (round 4's audit measured the
    recompute form at 104 exchanges / 28 scans); the caller unpersists
    after collecting, so nothing leaks across queries.

    Round 6: out-degree rides the one src-keyed window shuffle
    instead of a separate aggregate + join, the edge input needs no
    persist of its own (single reference), and iteration 1's
    edges-ranks join is constant-folded (all ranks start equal) — two
    fewer materializations and two fewer joins, bit-identical output.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    if not 1 <= damping_pct <= 99:
        raise ValueError("damping_pct must be in [1, 99]")
    from pyspark.sql.window import Window

    # out-degree attached via a window over the one src-keyed shuffle
    # (no separate outdeg aggregate + join); the caller's edge
    # derivation is referenced only here, so it needs no persist of
    # its own — ed is the single materialization every iteration and
    # the node derivation both probe
    ed = edges.select(src, dst).withColumn(
        "deg", F.count("*").over(Window.partitionBy(src)).cast("long")
    )
    if persisted_sink is not None:
        from pyspark import StorageLevel

        ed = ed.persist(StorageLevel.MEMORY_AND_DISK)
        persisted_sink.append(ed)
    nodes = (
        ed.select(F.col(src).alias("node"))
        .unionAll(ed.select(F.col(dst).alias("node")))
        .distinct()
    )
    if persisted_sink is not None:
        from pyspark import StorageLevel

        nodes = nodes.persist(StorageLevel.MEMORY_AND_DISK)
        persisted_sink.append(nodes)
    n_nodes = nodes.count()  # one scalar — driver metadata (fills the
    # nodes cache when persisted)
    if n_nodes == 0:
        raise ValueError("edge set is empty")
    base = (100 - damping_pct) * scale // (100 * n_nodes)
    r0 = scale // n_nodes
    ranks = None
    for it in range(iters):
        if it == 0:
            # round 1 folded: every node starts at the same constant
            # rank r0, so the edges-ranks join is the identity — the
            # contribution is r0 div deg straight off ed (one join
            # fewer; bit-identical because every src is a node)
            inflow = (
                ed.select(
                    F.col(dst).alias("node"),
                    F.expr(f"cast({r0} as bigint) div deg").alias("c"),
                )
                .groupBy("node")
                .agg(F.sum("c").cast("long").alias("s"))
            )
        else:
            inflow = (
                ed.join(ranks, ed[src] == ranks["node"])
                .select(
                    F.col(dst).alias("node"), F.expr("r div deg").alias("c")
                )
                .groupBy("node")
                .agg(F.sum("c").cast("long").alias("s"))
            )
        ranks = nodes.join(inflow, "node", "left").select(
            "node",
            (
                F.lit(base)
                + F.expr(
                    f"{damping_pct} * coalesce(s, cast(0 as bigint)) div 100"
                )
            )
            .cast("long")
            .alias("r"),
        )
    return ranks.select("node", F.col("r").alias("pr_scaled"))


def pagerank_fixed_sql(
    edges_cte: str,
    *,
    iters: int = 3,
    damping_pct: int = 85,
    scale: int = PR_SCALE,
) -> str:
    """DuckDB replay of :func:`pagerank_fixed`: the unrolled CTE
    chain over an ``edges(src, dst)`` CTE named ``edges_cte``.
    Returns only the CTE body — the caller appends its own final
    ``SELECT ... FROM r{iters}`` (columns ``node``, ``r``)."""
    d = damping_pct
    parts = [
        f"nodes AS (SELECT DISTINCT n AS node FROM ("
        f"SELECT src AS n FROM {edges_cte} UNION ALL "
        f"SELECT dst FROM {edges_cte}))",
        "params AS (SELECT count(*)::BIGINT AS n_nodes FROM nodes)",
        f"outdeg AS (SELECT src, count(*)::BIGINT AS deg "
        f"FROM {edges_cte} GROUP BY src)",
        f"r0 AS (SELECT node, ({scale} // p.n_nodes)::BIGINT AS r "
        f"FROM nodes, params p)",
    ]
    for i in range(iters):
        parts.append(
            f"inf{i} AS (SELECT e.dst AS node, "
            f"sum(r.r // o.deg)::BIGINT AS s "
            f"FROM {edges_cte} e "
            f"JOIN r{i} r ON e.src = r.node "
            f"JOIN outdeg o ON e.src = o.src GROUP BY e.dst)"
        )
        parts.append(
            f"r{i + 1} AS (SELECT n.node, "
            f"(({100 - d} * {scale}) // (100 * p.n_nodes) "
            f"+ ({d} * coalesce(i.s, 0)) // 100)::BIGINT AS r "
            f"FROM nodes n CROSS JOIN params p "
            f"LEFT JOIN inf{i} i ON n.node = i.node)"
        )
    return ",\n".join(parts)


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    persisted_sink: list | None = None,
    assume_canonical: bool = False,
) -> DataFrame:
    """Per-node triangle counts over an undirected simple graph via
    degree-ordered edge orientation (Schank–Wagner; the MapReduce form
    is Suri–Vassilvitskii, WWW'11). Returns ``(node, n_triangles)``
    for every node in at least one triangle.

    Input edges may be directed/duplicated — they are canonicalized to
    distinct ``u < v`` pairs first (self-loops dropped). Callers whose
    edge relation is ALREADY distinct ``src < dst`` pairs (e.g. the
    output of a ``groupBy(src, dst)`` with a ``src < dst`` filter,
    like the co-purchase support build) pass
    ``assume_canonical=True`` to skip the canonicalization's
    exchange + distinct aggregate entirely.

    Why orientation matters at scale: enumerating wedges from raw
    adjacency makes a celebrity node with degree D emit D^2 wedge
    candidates. Directing every edge from its lower-(degree, id)
    endpoint to the higher bounds every out-degree by O(sqrt(2m)), so
    the wedge self-join fan-out is O(m^1.5) worst case with no hot
    key: exactly one orientation of each triangle (a->b1, a->b2,
    b1->b2 in the (deg, id) total order) is counted, so no dedup pass
    is needed. Plan: two hash-aggregates (degrees, final counts) +
    four shuffle joins (2x degree attach, wedge self-join on the low
    endpoint, closing-edge join) — degree relations are |V| rows and
    never broadcast.

    Integer counts only — bit-identical to the DuckDB CTE replay
    (:func:`triangle_counts_sql`).

    The oriented edge relation is referenced three times (both wedge
    sides + the closing-edge probe); without materialization its whole
    derivation (canonicalize -> degrees -> orient, itself a multi-join
    chain) re-executes per reference and the static plan multiplies
    out. Pass ``persisted_sink`` (the repo's leak-guard pattern) to
    persist it MEMORY_AND_DISK — computed once, probed three times;
    the caller unpersists after materializing. The registered query
    takes this path (round 4's audit measured the recompute form at
    154 exchanges / 60 scans — AQE exchange reuse did NOT bound it);
    the caller unpersists after collecting.
    """
    if assume_canonical:
        e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    else:
        e = (
            edges.select(
                F.least(F.col(src), F.col(dst)).alias("u"),
                F.greatest(F.col(src), F.col(dst)).alias("v"),
            )
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
    if persisted_sink is not None:
        from pyspark import StorageLevel

        # e is referenced by deg (2x via the union) and keyed; its own
        # derivation includes the caller's edge build (a self-join +
        # support aggregate in the co-purchase query) — persist so the
        # canonicalization runs once, not once per reference
        e = e.persist(StorageLevel.MEMORY_AND_DISK)
        persisted_sink.append(e)
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    keyed = e.join(
        deg.select(F.col("node").alias("u"), F.col("deg").alias("deg_u")), "u"
    ).join(
        deg.select(F.col("node").alias("v"), F.col("deg").alias("deg_v")), "v"
    )
    u_first = F.struct(F.col("deg_u"), F.col("u")) < F.struct(
        F.col("deg_v"), F.col("v")
    )
    oriented = keyed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        F.when(u_first, F.col("deg_v")).otherwise(F.col("deg_u")).alias("deg_b"),
    )
    if persisted_sink is not None:
        from pyspark import StorageLevel

        oriented = oriented.persist(StorageLevel.MEMORY_AND_DISK)
        persisted_sink.append(oriented)
    o1 = oriented.select(
        "a", F.col("b").alias("b1"), F.col("deg_b").alias("deg_b1")
    )
    o2 = oriented.select(
        "a", F.col("b").alias("b2"), F.col("deg_b").alias("deg_b2")
    )
    wedges = o1.join(o2, "a").where(
        F.struct(F.col("deg_b1"), F.col("b1"))
        < F.struct(F.col("deg_b2"), F.col("b2"))
    )
    closing = oriented.select(
        F.col("a").alias("b1"), F.col("b").alias("b2")
    )
    tri = wedges.join(closing, ["b1", "b2"]).select("a", "b1", "b2")
    return (
        tri.select(F.explode(F.array("a", "b1", "b2")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )


def triangle_counts_sql(edges_cte: str) -> str:
    """DuckDB replay of :func:`triangle_counts` over an
    ``edges(src, dst)`` CTE. Returns the CTE body — the caller appends
    ``SELECT ... FROM tri_counts`` (columns ``node, n_triangles``)."""
    return f"""
tri_canon AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM {edges_cte} WHERE src <> dst
),
tri_deg AS (
  SELECT node, count(*)::BIGINT AS deg FROM (
    SELECT u AS node FROM tri_canon
    UNION ALL SELECT v FROM tri_canon
  ) GROUP BY node
),
tri_oriented AS (
  SELECT CASE WHEN (du.deg, c.u) < (dv.deg, c.v) THEN c.u ELSE c.v END AS a,
         CASE WHEN (du.deg, c.u) < (dv.deg, c.v) THEN c.v ELSE c.u END AS b,
         CASE WHEN (du.deg, c.u) < (dv.deg, c.v) THEN dv.deg ELSE du.deg END AS deg_b
  FROM tri_canon c
  JOIN tri_deg du ON du.node = c.u
  JOIN tri_deg dv ON dv.node = c.v
),
tri AS (
  SELECT o1.a, o1.b AS b1, o2.b AS b2
  FROM tri_oriented o1
  JOIN tri_oriented o2
    ON o1.a = o2.a AND (o1.deg_b, o1.b) < (o2.deg_b, o2.b)
  JOIN tri_oriented oc ON oc.a = o1.b AND oc.b = o2.b
),
tri_counts AS (
  SELECT node, count(*)::BIGINT AS n_triangles FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b1 FROM tri
    UNION ALL SELECT b2 FROM tri
  ) GROUP BY node
)"""


def label_propagation(
    edges: DataFrame,
    *,
    iters: int = 3,
    src: str = "src",
    dst: str = "dst",
    persisted_sink: list | None = None,
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et
    al. 2007, deterministic variant) over an undirected edge list;
    returns ``(node, community)`` after ``iters`` full rounds.

    Every node starts labeled with its own id; each round it adopts
    the most frequent label among its NEIGHBORS (its own label does
    not vote), breaking frequency ties on the MINIMUM label — so the
    update is a pure function of the previous round's labels and the
    result is bit-identical across engines and partitionings (the
    classic async/random-tie LPA is run-dependent; this is the
    deterministic semi-synchronous form GraphFrames' LPA also uses).
    Labels are node ids (integers), so no float order-dependence
    exists anywhere.

    Scale shape: edges are symmetrized once (map-only union); each
    round is one shuffle-join of the symmetrized edges with the |V|-row
    label relation on ``src`` + one (node, label) hash aggregate + one
    per-node top-1 (TakeOrderedAndProject shape via max_by struct
    comparison — never a wide window sort). ``iters`` is a plan-unroll
    count exactly like :func:`pagerank_fixed`; pass ``persisted_sink``
    to materialize the symmetrized edge relation (referenced by every
    round) and the FINAL label relation (referenced by callers more
    than once) once each. Round 1's neighbor-label join is
    constant-folded away (label(u) = u initially, so sym itself is the
    vote relation) and intermediate rounds are single-consumer chains
    that need no persist — round-6 change, bit-identical output.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    sym = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
    if persisted_sink is not None:
        from pyspark import StorageLevel

        sym = sym.persist(StorageLevel.MEMORY_AND_DISK)
        persisted_sink.append(sym)
    labels = None
    for it in range(iters):
        if it == 0:
            # round 1 folded: label(u) = u initially, so the
            # neighbor-label join is the identity — sym IS the vote
            # relation (and the initial distinct-node label build is
            # never needed; every node occurs in sym by construction)
            votes = (
                sym.groupBy(
                    F.col("v").alias("node"), F.col("u").alias("label")
                )
                .agg(F.count("*").cast("long").alias("c"))
            )
        else:
            votes = (
                sym.join(
                    labels.select(
                        F.col("node").alias("u"), F.col("label").alias("nl")
                    ),
                    "u",
                )
                .groupBy(F.col("v").alias("node"), F.col("nl").alias("label"))
                .agg(F.count("*").cast("long").alias("c"))
            )
        # top-1 per node: max over (count, -label) — tie prefers the
        # smaller label; struct comparison keeps it one hash aggregate
        # (max_by), never a per-node window sort.
        labels = votes.groupBy("node").agg(
            F.max(F.struct(F.col("c"), (-F.col("label")).alias("neg"))).alias(
                "m"
            )
        ).select("node", (-F.col("m.neg")).cast("long").alias("label"))
    # only the FINAL label relation is multiply referenced by callers
    # (community sizes + the output join); intermediates are each
    # consumed exactly once by the next round, so persisting them only
    # added cache-fill work (round-6 change — bit-identical output)
    if persisted_sink is not None:
        from pyspark import StorageLevel

        labels = labels.persist(StorageLevel.MEMORY_AND_DISK)
        persisted_sink.append(labels)
    return labels.select("node", F.col("label").alias("community"))


def label_propagation_sql(edges_cte: str, *, iters: int = 3) -> str:
    """DuckDB replay of :func:`label_propagation`: unrolled CTE chain
    over an ``edges(src, dst)`` CTE named ``edges_cte``. Returns the
    CTE body only; the final labels live in ``l{iters}(node, label)``.
    """
    parts = [
        f"sym AS (SELECT src AS u, dst AS v FROM {edges_cte} "
        f"UNION ALL SELECT dst, src FROM {edges_cte})",
        "l0 AS (SELECT DISTINCT u AS node, u AS label FROM sym)",
    ]
    for i in range(iters):
        parts.append(
            f"votes{i} AS (SELECT s.v AS node, l.label, "
            f"count(*)::BIGINT AS c "
            f"FROM sym s JOIN l{i} l ON s.u = l.node GROUP BY 1, 2)"
        )
        parts.append(
            f"l{i + 1} AS (SELECT node, label FROM ("
            f"SELECT node, label, row_number() OVER ("
            f"PARTITION BY node ORDER BY c DESC, label ASC) AS rn "
            f"FROM votes{i}) WHERE rn = 1)"
        )
    return ",\n".join(parts)


def kcore_membership(
    edges: DataFrame,
    *,
    k: int = 2,
    rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
    persisted_sink: list | None = None,
) -> DataFrame:
    """k-core decomposition by iterative peeling (Seidman 1983):
    repeatedly delete nodes of degree < ``k`` until none remain; the
    survivors are the k-core — the standard density filter for "is
    this node embedded in a cohesive region" (spam/link-farm analysis,
    community seeding).

    ``rounds`` is the maximum peeling depth; each round is one degree
    aggregate + two semi-join restrictions of the edge set. Peeling is
    MONOTONE (the alive set only shrinks) and a fixpoint round is the
    identity, so the loop exits early when the edge count stops
    changing — the result is then the exact k-core AND bit-identical
    to running all ``rounds`` rounds, which is what the unrolled-CTE
    oracle (:func:`kcore_membership_sql`) replays.

    Each round's edge relation is ``localCheckpoint(eager=True)``'d,
    NOT merely persisted: the round references its input three times
    (degree + both semi-joins), so without lineage truncation the
    logical plan multiplies ~4x per round and analysis time explodes
    exponentially (measured: round 5 of a persist-only chain cost
    146 s on a 4k-edge graph — pure driver-side plan analysis). Same
    rationale as functions/cluster.connected_components; on a cluster
    with a reliable checkpoint dir, ``DataFrame.checkpoint`` is the
    drop-in durable upgrade. ``persisted_sink`` is accepted for
    signature symmetry but unused (checkpointed blocks are managed by
    the context).

    Scale shape per round: one hash aggregate on the node key (degree)
    + two shuffle semi-joins restricting edges to alive endpoints —
    all keyed on node ids, nothing broadcast (the alive set is |V|
    rows).

    Returns ``(node, core_deg)`` — the degree WITHIN the k-core.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .localCheckpoint(eager=True)
    )
    prev = e.count()
    for _ in range(rounds):
        deg = e.groupBy("u").agg(F.count("*").alias("deg"))
        alive = deg.where(F.col("deg") >= k).select("u")
        e = (
            e.join(alive, "u", "left_semi")
            .join(alive.select(F.col("u").alias("v")), "v", "left_semi")
            .localCheckpoint(eager=True)
        )
        cur = e.count()
        if cur == prev:
            break
        prev = cur
    return (
        e.groupBy(F.col("u").alias("node"))
        .agg(F.count("*").cast("long").alias("core_deg"))
        .where(F.col("core_deg") >= k)
    )


def kcore_membership_sql(edges_cte: str, *, k: int = 2, rounds: int = 4) -> str:
    """DuckDB replay of :func:`kcore_membership`: unrolled peeling CTE
    chain over ``edges(src, dst)``. Returns the CTE body; the final
    core degrees live in ``core(node, core_deg)``.

    Every per-round CTE is ``AS MATERIALIZED``: each is referenced
    more than once (``e{i}`` by the alive aggregate and the next
    restriction, ``a{i}`` by both semi-joins), and DuckDB's default
    inlining of single-use CTEs re-evaluates the whole chain per
    reference — the same exponential plan growth the Spark side
    avoids with localCheckpoint (measured 231 s vs sub-second on a
    4k-edge graph)."""
    parts = [
        f"e0 AS MATERIALIZED (SELECT src AS u, dst AS v FROM {edges_cte} "
        f"UNION ALL SELECT dst, src FROM {edges_cte})",
    ]
    for i in range(rounds):
        parts.append(
            f"a{i} AS MATERIALIZED (SELECT u FROM e{i} GROUP BY u "
            f"HAVING count(*) >= {k})"
        )
        parts.append(
            f"e{i + 1} AS MATERIALIZED (SELECT e.u, e.v FROM e{i} e "
            f"JOIN a{i} x ON e.u = x.u JOIN a{i} y ON e.v = y.u)"
        )
    parts.append(
        f"core AS (SELECT u AS node, count(*)::BIGINT AS core_deg "
        f"FROM e{rounds} GROUP BY u HAVING count(*) >= {k})"
    )
    return ",\n".join(parts)
