"""Deterministic k-means IVF: training properties and assignment."""

import numpy as np
import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.slow  # multi-minute module; fast path skips it


def _blob_df(spark, k=3, per=20, dim=8, seed=7):
    """k well-separated blobs: centers at 2*e_j, points jittered ±0.05."""
    rng = np.random.default_rng(seed)
    rows = []
    vid = 0
    for j in range(k):
        center = np.zeros(dim)
        center[j] = 2.0
        for _ in range(per):
            v = center + rng.uniform(-0.05, 0.05, dim)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_kmeans_recovers_separated_blobs(spark):
    from operator_zoo.functions.ann import assign_cells, kmeans_train

    df = _blob_df(spark)
    cents = kmeans_train(df, k=3, iterations=4)
    got = assign_cells(df, cents).select("vec_id", "cell").collect()
    # every true blob lands in exactly one cell, and cells don't mix
    by_blob = {}
    for r in got:
        by_blob.setdefault(r.vec_id // 20, set()).add(r.cell)
    assert all(len(cells) == 1 for cells in by_blob.values())
    assert len({next(iter(c)) for c in by_blob.values()}) == 3


def test_kmeans_deterministic(spark):
    from operator_zoo.functions.ann import kmeans_train

    df = _blob_df(spark, seed=11)
    a = kmeans_train(df, k=3, iterations=3)
    b = kmeans_train(df, k=3, iterations=3)
    assert a == b


def test_kmeans_empty_cell_keeps_centroid(spark):
    """With k larger than the number of distinct points, surplus cells
    must keep their init centroid instead of crashing or drifting."""
    from operator_zoo.functions.ann import kmeans_train

    rows = [(i, [1.0, 1.0]) for i in range(3)] + [(10 + i, [5.0, 5.0]) for i in range(3)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = kmeans_train(df, k=4, iterations=3)
    assert len(cents) == 4
    # the two occupied cells converge to the two point masses
    assert [1000, 1000] in cents and [5000, 5000] in cents


def test_ivf_kmeans_topk_matches_in_cell_brute(spark):
    """Within a cell, IVF ranking must equal brute force restricted to
    that cell (the IVF approximation is only the cell restriction)."""
    from operator_zoo.functions.ann import (
        assign_cells,
        kmeans_train,
        topk_dot_quantized,
        topk_ivf_kmeans,
    )

    df = _blob_df(spark, k=2, per=15, seed=3)
    probes = df.filter(F.col("vec_id") < 3)
    ivf = {
        (r.query_id, r.rank): r.nbr_id
        for r in topk_ivf_kmeans(df, probes, k=4, n_cells=2, iterations=3).collect()
    }
    cents = kmeans_train(df, k=2, iterations=3)
    tagged = assign_cells(df, cents)
    cell_of = {r.vec_id: r.cell for r in tagged.select("vec_id", "cell").collect()}
    for q in range(3):
        cell_members = tagged.filter(F.col("cell") == cell_of[q]).drop("cell")
        brute = {
            (r.query_id, r.rank): r.nbr_id
            for r in topk_dot_quantized(
                cell_members, cell_members.filter(F.col("vec_id") == q), k=4
            ).collect()
        }
        for key, nbr in brute.items():
            assert ivf[key] == nbr


def test_nprobe_full_equals_brute(spark):
    """nprobe == n_cells scans every cell, so IVF must equal exact
    brute force — the strongest multi-probe correctness check."""
    from operator_zoo.functions.ann import (
        topk_dot_quantized,
        topk_ivf_kmeans,
    )

    df = _blob_df(spark, k=3, per=12, seed=5)
    probes = df.filter(F.col("vec_id") < 4)
    brute = sorted(map(tuple, topk_dot_quantized(df, probes, k=5).collect()))
    full = sorted(map(tuple, topk_ivf_kmeans(
        df, probes, k=5, n_cells=3, iterations=3, nprobe=3
    ).collect()))
    assert full == brute


def test_nprobe_monotone_recall(spark):
    """Recall vs brute is non-decreasing in nprobe."""
    from operator_zoo.functions.ann import (
        topk_dot_quantized,
        topk_ivf_kmeans,
    )

    df = _blob_df(spark, k=4, per=10, seed=9)
    probes = df.filter(F.col("vec_id") < 5)
    brute = {(r.query_id, r.nbr_id) for r in topk_dot_quantized(df, probes, k=5).collect()}
    recalls = []
    for nprobe in (1, 2, 4):
        got = {(r.query_id, r.nbr_id) for r in topk_ivf_kmeans(
            df, probes, k=5, n_cells=4, iterations=3, nprobe=nprobe
        ).collect()}
        recalls.append(len(got & brute) / len(brute))
    assert recalls == sorted(recalls)
    assert recalls[-1] == 1.0


# ---------------------------------------------------------------------------
# balanced training + recall on clusterable blobs (round 3)
# ---------------------------------------------------------------------------


def _cell_sizes(spark, df, cents):
    from operator_zoo.functions.ann import assign_cells

    return {
        int(r.cell): int(r.n)
        for r in assign_cells(df, cents)
        .groupBy("cell")
        .agg(F.count("*").alias("n"))
        .collect()
    }


def test_balanced_training_bounds_hot_cell(spark):
    """On a heavily skewed corpus (one cluster holds ~2/3 of the
    points) the balanced trainer must split the hot cell below the
    balance bound while keeping the cell count at k."""
    from operator_zoo.functions.ann import (
        kmeans_train,
        kmeans_train_balanced,
        make_blob_embeddings,
    )

    df = make_blob_embeddings(
        spark, n=600, d=8, n_clusters=4, sizes=[0.67, 0.11, 0.11, 0.11],
        seed=13,
    ).drop("label")
    plain = kmeans_train(df, k=4, iterations=3)
    balanced = kmeans_train_balanced(
        df, k=4, iterations=3, balance_factor=1.5, max_splits=4
    )
    assert len(balanced) == 4
    n = df.count()
    hot_plain = max(_cell_sizes(spark, df, plain).values())
    hot_bal = max(_cell_sizes(spark, df, balanced).values())
    assert hot_plain > 1.5 * n / 4          # the skew really is there
    assert hot_bal <= 1.5 * n / 4 + 1       # and balancing removed it
    # deterministic
    again = kmeans_train_balanced(
        df, k=4, iterations=3, balance_factor=1.5, max_splits=4
    )
    assert balanced == again


def test_blob_recall_curve_high_at_small_nprobe(spark):
    """On clusterable data (the honest fixture for IVF quality) the
    trained quantizer reaches recall@5 >= 0.9 with nprobe << n_cells."""
    from operator_zoo.functions.ann import (
        make_blob_embeddings,
        topk_dot_quantized,
        topk_ivf_kmeans,
    )

    df = make_blob_embeddings(spark, n=800, d=16, n_clusters=8, seed=7).drop(
        "label"
    )
    probes = df.filter(F.col("vec_id") % 40 == 0)  # 20 probes across blobs
    brute = {
        (r.query_id, r.nbr_id)
        for r in topk_dot_quantized(df, probes, k=5).collect()
    }
    got1 = {
        (r.query_id, r.nbr_id)
        for r in topk_ivf_kmeans(
            df, probes, k=5, n_cells=8, iterations=4, nprobe=1
        ).collect()
    }
    recall1 = len(got1 & brute) / len(brute)
    assert recall1 >= 0.9, recall1


def test_cosine_lsh_recall_on_tight_blobs(spark):
    """On tight blobs (cos >= ~0.99 within a cluster) the
    random-hyperplane LSH must recover nearly all true near-dup pairs
    — P(bit match) = 1 - theta/pi ~ 0.97, so each 8-bit band collides
    w.p. ~0.8 and any-of-3 ~0.99."""
    from operator_zoo.functions.ann import (
        cosine_lsh_pairs,
        make_blob_embeddings,
    )

    df = make_blob_embeddings(
        spark, n=400, d=16, n_clusters=8, noise=0.02, seed=21
    ).drop("label")
    got = {
        (r.vec_a, r.vec_b)
        for r in cosine_lsh_pairs(df, dim=16, threshold=0.99).collect()
    }
    # exact truth: same-blob pairs all have cosine >= 0.99 by
    # construction (noise 0.02 on unit centers)
    from operator_zoo.functions.ann import embedding_near_dups

    truth = {
        (r.vec_a, r.vec_b)
        for r in embedding_near_dups(
            df.withColumn("label", (F.col("vec_id") / 50).cast("int")),
            threshold=0.99,
        ).collect()
    }
    assert truth, "fixture must contain true near-dups"
    recall = len(got & truth) / len(truth)
    assert recall >= 0.95, recall
    # exact-precision contract: every emitted pair really clears the bar
    assert got
    assert all(
        r.cosine_q >= 0.99
        for r in cosine_lsh_pairs(df, dim=16, threshold=0.99).collect()
    )


def test_cosine_lsh_bucket_cap_and_determinism(spark):
    """Degenerate buckets (here: every vector identical, so all
    signatures collide) are dropped by the cap instead of exploding
    quadratically; results are deterministic."""
    from operator_zoo.functions.ann import cosine_lsh_pairs

    rows = [(i, [1.0, 0.5, -0.25, 2.0]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    capped = cosine_lsh_pairs(df, dim=4, max_bucket_size=10)
    assert capped.count() == 0  # one 40-deep bucket per band, all dropped
    uncapped = cosine_lsh_pairs(df, dim=4, max_bucket_size=None)
    assert uncapped.count() == 40 * 39 // 2
    a = sorted(map(tuple, uncapped.collect()))
    b = sorted(map(tuple, cosine_lsh_pairs(df, dim=4, max_bucket_size=None).collect()))
    assert a == b


def test_balanced_centroids_plug_into_ivf(spark):
    """Pre-trained balanced centroids drop into topk_ivf_kmeans and
    keep recall on the skewed corpus."""
    from operator_zoo.functions.ann import (
        kmeans_train_balanced,
        make_blob_embeddings,
        topk_dot_quantized,
        topk_ivf_kmeans,
    )

    df = make_blob_embeddings(
        spark, n=600, d=8, n_clusters=4, sizes=[0.67, 0.11, 0.11, 0.11],
        seed=13,
    ).drop("label")
    cents = kmeans_train_balanced(
        df, k=4, iterations=3, balance_factor=1.5, max_splits=4
    )
    probes = df.filter(F.col("vec_id") % 30 == 0)
    brute = {
        (r.query_id, r.nbr_id)
        for r in topk_dot_quantized(df, probes, k=5).collect()
    }
    got = {
        (r.query_id, r.nbr_id)
        for r in topk_ivf_kmeans(
            df, probes, k=5, nprobe=2, centroids=cents
        ).collect()
    }
    assert len(got & brute) / len(brute) >= 0.9


def test_probe_aware_equals_fixed_nprobe_and_prunes(spark):
    """Bound-pruned search is LOSSLESS: identical rows to the fixed
    nprobe_max fan-out, while visiting fewer cells on clusterable data
    (the nearest cell usually settles the top-k)."""
    from operator_zoo.functions.ann import (
        kmeans_train,
        make_blob_embeddings,
        topk_ivf_kmeans,
        topk_ivf_probe_aware,
    )

    blobs = make_blob_embeddings(
        spark, n=600, d=16, n_clusters=8, seed=11
    ).drop("label")
    probes = blobs.filter(F.col("vec_id") % 40 == 0)
    cents = kmeans_train(blobs, k=8, iterations=3)

    fixed = sorted(
        tuple(r)
        for r in topk_ivf_kmeans(
            blobs, probes, k=5, nprobe=4, centroids=cents
        ).collect()
    )
    sink: list = []
    aware = sorted(
        tuple(r)
        for r in topk_ivf_probe_aware(
            blobs, probes, k=5, nprobe_max=4,
            centroids=cents, scanned_cells_sink=sink,
        ).collect()
    )
    assert aware == fixed and len(aware) > 0

    scanned = {r.query_id: r.cells_scanned for r in sink[0].collect()}
    n_probes = probes.count()
    avg = sum(scanned.get(q, 1) for q in
              {r[0] for r in fixed}) / max(n_probes, 1)
    # pruning must actually fire: well under the 4-cell budget
    assert avg < 4.0


def test_probe_aware_keeps_boundary_ties(spark):
    """On the driver-shaped near-orthogonal noise the bound rarely
    prunes — the result must STILL be identical to the fixed fan-out
    (the lossless claim is unconditional)."""
    from operator_zoo.functions.ann import (
        kmeans_train,
        topk_ivf_kmeans,
        topk_ivf_probe_aware,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    probes = emb.filter(F.col("vec_id") < 10)
    cents = kmeans_train(emb, k=8, iterations=2)
    fixed = sorted(
        tuple(r)
        for r in topk_ivf_kmeans(
            emb, probes, k=5, nprobe=3, centroids=cents
        ).collect()
    )
    aware = sorted(
        tuple(r)
        for r in topk_ivf_probe_aware(
            emb, probes, k=5, nprobe_max=3, centroids=cents
        ).collect()
    )
    assert aware == fixed
