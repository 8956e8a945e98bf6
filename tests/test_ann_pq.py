"""Product quantization: training determinism, encode/reconstruct
invariants, and IVF-PQ recall on clusterable data."""

import numpy as np
import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.slow


def _blob_df(spark, k=4, per=25, dim=8, seed=3, interleave=False):
    """k blobs of `per` points. interleave=True assigns vids
    round-robin across blobs so the deterministic first-k-distinct PQ
    init (ordered by min vid) spans all blobs — sequential vids put
    every init point inside blob 0, a local optimum 2 Lloyd iterations
    can't escape when k_codes == k_blobs."""
    rng = np.random.default_rng(seed)
    rows = []
    vid = 0
    for j in range(k):
        center = np.zeros(dim)
        center[j] = 2.0
        for i in range(per):
            v = center + rng.uniform(-0.05, 0.05, dim)
            rows.append((j + k * i if interleave else vid, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_pq_train_deterministic(spark):
    from operator_zoo.functions.pq import pq_train

    df = _blob_df(spark)
    a = pq_train(df, m=2, k_codes=4, iterations=2, dim=8)
    b = pq_train(df, m=2, k_codes=4, iterations=2, dim=8)
    assert a == b
    assert len(a) == 2 and all(len(cb) == 4 for cb in a)
    assert all(len(cent) == 4 for cb in a for cent in cb)


def test_pq_geometry_validation(spark):
    from operator_zoo.functions.pq import pq_subspace_bounds

    assert pq_subspace_bounds(8, 2) == [(1, 4), (5, 4)]
    with pytest.raises(ValueError):
        pq_subspace_bounds(10, 4)


def test_pq_encode_codes_in_range(spark):
    from operator_zoo.functions.pq import pq_encode, pq_train

    df = _blob_df(spark)
    books = pq_train(df, m=2, k_codes=4, iterations=2, dim=8)
    codes = pq_encode(df, books, dim=8).collect()
    assert len(codes) == 100
    for r in codes:
        assert 0 <= r.code_0 < 4 and 0 <= r.code_1 < 4


def test_pq_reconstruction_beats_random(spark):
    """The trained reconstruction must be much closer to the original
    vector than the worst codebook entry — i.e. encode really picks
    the argmin and training really adapts the codebooks."""
    from operator_zoo.functions.ann import _qvec
    from operator_zoo.functions.pq import (
        pq_code_exprs,
        pq_reconstruct_expr,
        pq_train,
    )

    df = _blob_df(spark, interleave=True)
    books = pq_train(df, m=2, k_codes=4, iterations=2, dim=8)
    codes = pq_code_exprs(F.col("embedding"), books, 8)
    recon = pq_reconstruct_expr(codes, books)
    err = F.aggregate(
        F.zip_with(
            _qvec(F.col("embedding")), recon, lambda x, y: (x - y) * (x - y)
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    rows = df.select(err.alias("err")).collect()
    # jitter is ±0.05 => quantized ±50 per dim; a correct assignment
    # reconstructs within the blob (err ~ dim * 50^2 = 2e4), a wrong
    # blob is ~2.0 away in 1-2 dims (err >= ~4e6)
    assert max(r.err for r in rows) < 10**5


def test_ivf_pq_recall_on_blobs(spark):
    """Recall@5 of IVF-PQ vs exact quantized-L2 brute force on
    clusterable blobs — the ADC approximation must keep most true
    neighbors when codes are informative."""
    from operator_zoo.functions.pq import topk_ivf_pq

    df = _blob_df(spark, k=4, per=25)
    probes = df.filter(F.col("vec_id").isin([0, 25, 50, 75]))
    got = topk_ivf_pq(
        df, probes, k=5, n_cells=4, coarse_iterations=3,
        m=2, k_codes=8, pq_iterations=2,
    ).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, set()).add(r.nbr_id)
    # exact neighbors: all in the same blob
    hits = tot = 0
    for q, nbrs in by_q.items():
        blob = q // 25
        tot += len(nbrs)
        hits += sum(1 for n in nbrs if n // 25 == blob)
    assert tot == 20
    assert hits / tot >= 0.9


def test_residual_pq_train_deterministic(spark):
    from operator_zoo.functions.ann import kmeans_train
    from operator_zoo.functions.pq import pq_train_residual

    df = _blob_df(spark)
    coarse = kmeans_train(df, k=4, iterations=3)
    a = pq_train_residual(df, coarse, m=2, k_codes=4, iterations=2, dim=8)
    b = pq_train_residual(df, coarse, m=2, k_codes=4, iterations=2, dim=8)
    assert a == b
    assert len(a) == 2 and all(len(cb) == 4 for cb in a)


def test_residual_encode_carries_cell_and_codes(spark):
    from operator_zoo.functions.ann import kmeans_train
    from operator_zoo.functions.pq import (
        pq_encode_residual,
        pq_train_residual,
    )

    df = _blob_df(spark)
    coarse = kmeans_train(df, k=4, iterations=3)
    books = pq_train_residual(df, coarse, m=2, k_codes=4, iterations=2, dim=8)
    rows = pq_encode_residual(df, coarse, books, dim=8).collect()
    assert len(rows) == 100
    for r in rows:
        assert 0 <= r.cell < 4
        assert 0 <= r.code_0 < 4 and 0 <= r.code_1 < 4


def test_residual_pq_tightens_reconstruction(spark):
    """The FAISS IVFPQ claim the residual form exists for: at an
    IDENTICAL code budget (same m, k_codes, iterations), codebooks
    trained on coarse residuals reconstruct with lower total squared
    error than direct PQ — residuals of a trained coarse quantizer
    are centered with smaller spread. Measured on this deterministic
    fixture: 372,405 vs 507,429 (27% lower); on the sf0.001 corpus
    embeddings at the default 4x16 geometry: 6.8% lower."""
    from operator_zoo.functions.ann import _qvec, kmeans_train
    from operator_zoo.functions.pq import (
        _codes_from_qv,
        _sqdist_cols,
        pq_code_exprs,
        pq_reconstruct_expr,
        pq_train,
        pq_train_residual,
        residual_rows,
    )

    df = _blob_df(spark)
    coarse = kmeans_train(df, k=4, iterations=3)

    books_d = pq_train(df, m=2, k_codes=4, iterations=2, dim=8)
    recon_d = pq_reconstruct_expr(
        pq_code_exprs(F.col("embedding"), books_d, 8), books_d
    )
    err_d = df.select(
        _sqdist_cols(_qvec(F.col("embedding")), recon_d).alias("e")
    ).agg(F.sum("e")).collect()[0][0]

    books_r = pq_train_residual(df, coarse, m=2, k_codes=4, iterations=2, dim=8)
    res = residual_rows(df, coarse)
    recon_r = pq_reconstruct_expr(
        _codes_from_qv(F.col("qv"), books_r, 8), books_r
    )
    err_r = res.select(
        _sqdist_cols(F.col("qv"), recon_r).alias("e")
    ).agg(F.sum("e")).collect()[0][0]

    assert err_r < err_d


def test_ivf_pq_residual_recall_on_blobs(spark):
    """Recall@5 of residual IVF-PQ vs exact neighbors on clusterable
    blobs — at least as good as the direct-PQ bar."""
    from operator_zoo.functions.pq import topk_ivf_pq_residual

    df = _blob_df(spark, k=4, per=25)
    probes = df.filter(F.col("vec_id").isin([0, 25, 50, 75]))
    got = topk_ivf_pq_residual(
        df, probes, k=5, n_cells=4, coarse_iterations=3,
        m=2, k_codes=8, pq_iterations=2,
    ).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, set()).add(r.nbr_id)
    hits = tot = 0
    for q, nbrs in by_q.items():
        blob = q // 25
        tot += len(nbrs)
        hits += sum(1 for n in nbrs if n // 25 == blob)
    assert tot == 20
    assert hits / tot >= 0.9


def test_ivf_pq_multiprobe_dedups_pairs(spark):
    """nprobe > 1 must not emit duplicate (query, neighbor) rows."""
    from operator_zoo.functions.pq import topk_ivf_pq

    df = _blob_df(spark, k=3, per=20)
    probes = df.filter(F.col("vec_id") < 3)
    got = topk_ivf_pq(
        df, probes, k=5, n_cells=3, coarse_iterations=2,
        m=2, k_codes=4, pq_iterations=1, nprobe=2,
    ).collect()
    pairs = [(r.query_id, r.nbr_id) for r in got]
    assert len(pairs) == len(set(pairs))
    ranks = {}
    for r in got:
        ranks.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, 6)) for v in ranks.values())
