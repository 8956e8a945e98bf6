"""Round-5 second-session operators: banded-Hamming SimHash near-dups,
SemDeDup pruning, nearest as-of join, truncated EWMA. The registry
parity harness covers each end-to-end vs DuckDB; these pin the
boundary/completeness rules against brute-force models."""

from __future__ import annotations

import itertools

import pytest

from pyspark.sql import functions as F

from operator_zoo.functions.ann import semdedup_prune
from operator_zoo.functions.dedup import banded_hamming_pairs
from operator_zoo.functions.temporal import asof_join_nearest


# ---------------------------------------------------------------------------
# banded_hamming_pairs — completeness + exactness vs the all-pairs model
# ---------------------------------------------------------------------------

def _sig_fixture():
    # deterministic signatures with exact-dup groups, near pairs at
    # hamming 1..3, and far pairs; 24-bit space
    base = 0b101101001110010110100101
    sigs = [
        (1, base),
        (2, base),                # hamming 0 (exact group with 1)
        (3, base ^ 0b1),          # hamming 1
        (4, base ^ 0b11000000),   # hamming 2
        (5, base ^ 0b10101),      # hamming 3
        (6, base ^ 0b1111),       # hamming 4 — beyond threshold
        (7, 0b000000000000000000001111),  # far
    ]
    return sigs


def _brute_pairs(sigs, max_h):
    out = set()
    for (ia, sa), (ib, sb) in itertools.combinations(sigs, 2):
        h = bin(sa ^ sb).count("1")
        if h <= max_h:
            out.add((min(ia, ib), max(ia, ib), h))
    return out


@pytest.mark.parametrize("bands", [4, 6])
def test_banded_hamming_complete_and_exact(spark, bands):
    sigs = _sig_fixture()
    df = spark.createDataFrame(sigs, "doc_id long, sig long")
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in banded_hamming_pairs(
            df, id_col="doc_id", sig_col="sig",
            bits=24, max_hamming=3, bands=bands,
        ).collect()
    }
    assert got == _brute_pairs(sigs, 3)


def test_banded_hamming_rejects_bad_params(spark):
    df = spark.createDataFrame([(1, 0)], "doc_id long, sig long")
    with pytest.raises(ValueError):  # pigeonhole violated
        banded_hamming_pairs(df, sig_col="sig", bits=24, max_hamming=4, bands=4)
    with pytest.raises(ValueError):  # bands must divide bits
        banded_hamming_pairs(df, sig_col="sig", bits=24, max_hamming=3, bands=5)
    with pytest.raises(ValueError):  # signed-int64 width
        banded_hamming_pairs(df, sig_col="sig", bits=64, max_hamming=3, bands=8)


# ---------------------------------------------------------------------------
# semdedup_prune — keep rule vs brute-force model
# ---------------------------------------------------------------------------

def test_semdedup_prune_matches_model(spark):
    # cell 0: 1~2 and 2~3 near (chain), 1!~3; cell 1: all far;
    # near-dups across cells are NOT considered (4 == 1 but other cell)
    # unit vectors at 0/15/30 degrees: cos 15 ~ 0.966 > 0.95 but
    # cos 30 ~ 0.866 < 0.95 — a chain 1~2~3 with 1 !~ 3
    rows = [
        (1, [1.0, 0.0, 0.0], 0),
        (2, [0.9659, 0.2588, 0.0], 0),  # cos(1,2) > t -> 2 pruned
        (3, [0.8660, 0.5, 0.0], 0),     # cos(2,3) > t -> 3 pruned (even
                                        # though its pairwise keeper 2 is
                                        # itself pruned: the standard
                                        # non-transitive rule)
        (4, [1.0, 0.0, 0.0], 1),        # identical to 1, other cell -> kept
        (5, [0.0, 0.0, 1.0], 1),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = {
        r["vec_id"]: r["is_kept"]
        for r in semdedup_prune(df, threshold=0.95).collect()
    }
    assert got == {1: True, 2: False, 3: False, 4: True, 5: True}


def test_semdedup_prune_partitioning_independent(spark):
    rows = [(i, [float(i % 7), float((i * 3) % 5), 1.0], i % 3) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    a = sorted(
        tuple(r) for r in semdedup_prune(df, threshold=0.9).collect()
    )
    b = sorted(
        tuple(r)
        for r in semdedup_prune(df.repartition(13), threshold=0.9).collect()
    )
    assert a == b


# ---------------------------------------------------------------------------
# asof_join_nearest — brute-force model incl. ties and tolerance
# ---------------------------------------------------------------------------

def _nearest_model(left_rows, right_rows, tol):
    # model: min |diff| (within tol), ties -> backward side, then
    # backward: max payload id; forward: min payload id
    out = {}
    for lid, k, lt in left_rows:
        cands = []
        for rk, rt, rid in right_rows:
            if rk != k:
                continue
            d = abs(rt - lt)
            if tol is not None and d > tol:
                continue
            backward = rt <= lt
            cands.append((d, 0 if backward else 1, -rid if backward else rid, rid))
        out[lid] = min(cands)[3] if cands else None
    return out


def test_asof_nearest_matches_model(spark):
    left_rows = [(i, i % 3, 100 * i % 77) for i in range(30)]
    right_rows = [((j * 7) % 3, (j * 13) % 80, j) for j in range(40)]
    # duplicate timestamps on both sides exercise every tie rule
    right_rows += [(0, left_rows[0][2], 900), (0, left_rows[0][2], 901)]
    for tol in (None, 10):
        left = spark.createDataFrame(left_rows, "lid long, k long, lt long")
        right = spark.createDataFrame(right_rows, "k long, rt long, rid long")
        got = {
            r["lid"]: r["asof_rid"]
            for r in asof_join_nearest(
                left, right, key="k", left_ts="lt", right_ts="rt",
                payload_cols=["rid"], tolerance=tol,
            ).collect()
        }
        assert got == _nearest_model(left_rows, right_rows, tol), f"tol={tol}"


def test_asof_nearest_distance_and_nulls(spark):
    left = spark.createDataFrame([(1, 7, 100), (2, 8, 100)], "lid long, k long, lt long")
    right = spark.createDataFrame([(7, 94, 10), (7, 105, 20)], "k long, rt long, rid long")
    rows = {
        r["lid"]: (r["asof_rid"], r["asof_distance"])
        for r in asof_join_nearest(
            left, right, key="k", left_ts="lt", right_ts="rt",
            payload_cols=["rid"], tolerance=50,
        ).collect()
    }
    assert rows[1] == (20, 5)        # forward 5 beats backward 6
    assert rows[2] == (None, None)   # no right rows for key 8


# ---------------------------------------------------------------------------
# truncated EWMA — model check on one user
# ---------------------------------------------------------------------------

def test_ewma_query_model(spark, tmp_path):
    import pandas as pd

    # one user, known values; write a minimal events.parquet the query
    # can read
    ts = pd.to_datetime(
        [f"2024-01-01T00:00:{s:02d}" for s in range(6)]
    )
    pdf = pd.DataFrame(
        {
            "event_id": range(6),
            "ts": ts,
            "user_id": [1] * 6,
            "event_type": ["view"] * 6,
            "value": [1.0, 2.0, 4.0, 8.0, 16.0, 32.0],
            "props": [""] * 6,
        }
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")  # Spark rejects NANOS
    pdf.to_parquet(tmp_path / "events.parquet")
    from operator_zoo.queries import EWMA_DEPTH, q_ewma_value

    got = {
        r["event_id"]: r["ewma_value"]
        for r in q_ewma_value(spark, str(tmp_path)).collect()
    }
    vals = [1000, 2000, 4000, 8000, 16000, 32000]
    for n in range(6):
        num = den = 0
        for i in range(EWMA_DEPTH):
            if n - i < 0:
                break
            w = 1 << (EWMA_DEPTH - 1 - i)
            num += vals[n - i] * w
            den += w
        assert got[n] == round(num / den / 1000.0, 6)


# ---------------------------------------------------------------------------
# pmi_bigrams — model check on a tiny corpus
# ---------------------------------------------------------------------------

def test_pmi_bigrams_model(spark):
    from collections import Counter

    from operator_zoo.functions.text import pmi_bigrams

    texts = [
        "new york is a big city",
        "new york new york",
        "big city big city big city",
        "a a a new city",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = [
        (r["w1"], r["w2"], r["n_ab"], r["pmi_ppm"])
        for r in pmi_bigrams(df, min_count=2, k=10).collect()
    ]
    uni = Counter(w for t in texts for w in t.split())
    pairs = Counter()
    for t in texts:
        w = t.split()
        for i in range(len(w) - 1):
            pairs[(w[i], w[i + 1])] += 1
    n = sum(uni.values())
    want = [
        (a, b, c, c * n * 1000000 // (uni[a] * uni[b]))
        for (a, b), c in pairs.items()
        if c >= 2
    ]
    want.sort(key=lambda r: (-r[3], r[0], r[1]))
    assert got == want[:10]
    # 'new york' must outrank 'a a' (frequent-word pair)
    top_pairs = [(a, b) for a, b, _, _ in got]
    assert top_pairs.index(("new", "york")) < top_pairs.index(("a", "a"))


# ---------------------------------------------------------------------------
# equidepth_histogram — coverage, depth, validation
# ---------------------------------------------------------------------------

def test_equidepth_histogram_balanced_and_total(spark):
    from operator_zoo.functions.profile import equidepth_histogram

    # 800 distinct values -> perfectly balanced 8 x 100
    df = spark.createDataFrame(
        [(i / 1000.0,) for i in range(800)], "v double"
    )
    rows = {r["bucket"]: r for r in equidepth_histogram(df, "v", buckets=8).collect()}
    assert sorted(rows) == list(range(8))
    assert all(rows[b]["n_rows"] == 100 for b in rows)
    # buckets tile the range without overlap
    for b in range(7):
        assert rows[b]["hi_q"] < rows[b + 1]["lo_q"]
    assert sum(r["n_rows"] for r in rows.values()) == 800


def test_equidepth_histogram_ties_lower_bucket(spark):
    from operator_zoo.functions.profile import equidepth_histogram

    # massive tie at one value: the tied mass lands in ONE bucket
    df = spark.createDataFrame(
        [(1.0,)] * 90 + [(2.0,)] * 5 + [(3.0,)] * 5, "v double"
    )
    rows = {r["bucket"]: r["n_rows"] for r in equidepth_histogram(df, "v", buckets=4).collect()}
    assert rows[0] == 90  # all ties in the lowest bucket
    assert sum(rows.values()) == 100
    import pytest as _pt

    with _pt.raises(ValueError):
        equidepth_histogram(df, "v", buckets=1)


# ---------------------------------------------------------------------------
# minhash estimate — exact-duplicate pair estimates 1.0
# ---------------------------------------------------------------------------

def test_minhash_estimate_identical_docs(spark, tmp_path):
    import pandas as pd

    pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["alpha beta gamma delta"] * 2 + ["zeta eta theta iota"],
            "lang": ["en"] * 3,
            "source": ["s"] * 3,
            "n_chars": [22] * 3,
        }
    ).to_parquet(tmp_path / "documents.parquet")
    from operator_zoo.queries import q_minhash_estimate

    rows = {(r["doc_a"], r["doc_b"]): r for r in q_minhash_estimate(spark, str(tmp_path)).collect()}
    assert (1, 2) in rows
    assert rows[(1, 2)]["est_ppm"] == 1000000
    assert rows[(1, 2)]["jaccard"] == 1.0
