"""Edge semantics of the temporal/ranking operators
(functions/temporal.py, functions/relational.py). The registry parity
tests cover them end-to-end vs DuckDB; these pin the boundary rules."""

from __future__ import annotations

import datetime as dt

import pytest

from pyspark.sql import functions as F

from operator_zoo.functions.relational import topk_per_group
from operator_zoo.functions.temporal import (
    asof_join,
    banded_count_join,
    funnel_stages,
)


def _ts(s):
    return dt.datetime.fromisoformat(s)


# ---------------------------------------------------------------------------
# asof_join
# ---------------------------------------------------------------------------

def _asof(spark, left_rows, right_rows):
    left = spark.createDataFrame(left_rows, "lid int, k int, lt timestamp")
    right = spark.createDataFrame(right_rows, "k int, rt timestamp, rid int")
    out = asof_join(
        left, right, key="k", left_ts="lt", right_ts="rt", payload_cols=["rid"]
    )
    return {r["lid"]: r["asof_rid"] for r in out.collect()}


def test_asof_picks_latest_on_or_before(spark):
    got = _asof(
        spark,
        [(1, 7, _ts("2024-01-01T10:00:00")), (2, 7, _ts("2024-01-01T12:00:00"))],
        [
            (7, _ts("2024-01-01T09:00:00"), 100),
            (7, _ts("2024-01-01T11:00:00"), 200),
            (7, _ts("2024-01-01T13:00:00"), 300),
        ],
    )
    assert got == {1: 100, 2: 200}


def test_asof_equal_ts_is_inclusive(spark):
    got = _asof(
        spark,
        [(1, 7, _ts("2024-01-01T10:00:00"))],
        [(7, _ts("2024-01-01T10:00:00"), 100)],
    )
    assert got == {1: 100}


def test_asof_tie_on_ts_takes_max_payload(spark):
    got = _asof(
        spark,
        [(1, 7, _ts("2024-01-01T10:00:00"))],
        [
            (7, _ts("2024-01-01T09:00:00"), 150),
            (7, _ts("2024-01-01T09:00:00"), 151),
        ],
    )
    assert got == {1: 151}


def test_asof_no_match_is_null_and_other_keys_ignored(spark):
    got = _asof(
        spark,
        [(1, 7, _ts("2024-01-01T10:00:00")), (2, 8, _ts("2024-01-01T10:00:00"))],
        [
            (7, _ts("2024-01-01T11:00:00"), 100),  # after the probe
            (9, _ts("2024-01-01T09:00:00"), 200),  # different key
        ],
    )
    assert got == {1: None, 2: None}


# ---------------------------------------------------------------------------
# banded_count_join
# ---------------------------------------------------------------------------

def test_banded_count_band_edges_inclusive(spark):
    probes = spark.createDataFrame([(1, 1000)], "pid int, pe long")
    facts = spark.createDataFrame(
        [(880,), (1120,), (879,), (1121,), (1000,)], "fe long"
    )
    out = banded_count_join(
        probes, facts, probe_epoch="pe", fact_epoch="fe",
        band_seconds=120, bucket_seconds=50,
    ).collect()
    # 880, 1120, 1000 are in [1000-120, 1000+120]; 879/1121 are out;
    # each in-band fact counted exactly once despite multi-bucket explode
    assert [(r["pid"], r["n_in_band"]) for r in out] == [(1, 3)]


def test_banded_count_rejects_bad_params(spark):
    probes = spark.createDataFrame([(1, 0)], "pid int, pe long")
    with pytest.raises(ValueError):
        banded_count_join(
            probes, probes, probe_epoch="pe", fact_epoch="pe",
            band_seconds=0, bucket_seconds=10,
        )


# ---------------------------------------------------------------------------
# funnel_stages
# ---------------------------------------------------------------------------

def _funnel(spark, rows):
    df = spark.createDataFrame(rows, "user_id int, ts timestamp, event_type string")
    out = funnel_stages(df, ["a", "b", "c"])
    return {
        r["user_id"]: (r["t_a"], r["t_b"], r["t_c"], r["funnel_depth"])
        for r in out.collect()
    }


def test_funnel_requires_order(spark):
    t = _ts
    got = _funnel(
        spark,
        [
            # u1: b before a → that b must NOT count; later b does
            (1, t("2024-01-01T09:00:00"), "b"),
            (1, t("2024-01-01T10:00:00"), "a"),
            (1, t("2024-01-01T11:00:00"), "b"),
            (1, t("2024-01-01T10:30:00"), "c"),  # c before reach(b) → depth 2
            # u2: full ordered funnel, same-ts step counts (>=)
            (2, t("2024-01-01T10:00:00"), "a"),
            (2, t("2024-01-01T10:00:00"), "b"),
            (2, t("2024-01-01T12:00:00"), "c"),
            # u3: never does step a → absent from output
            (3, t("2024-01-01T10:00:00"), "b"),
        ],
    )
    assert got[1] == (
        t("2024-01-01T10:00:00"), t("2024-01-01T11:00:00"), None, 2
    )
    assert got[2] == (
        t("2024-01-01T10:00:00"), t("2024-01-01T10:00:00"),
        t("2024-01-01T12:00:00"), 3,
    )
    assert 3 not in got


def test_funnel_empty_steps_rejected(spark):
    df = spark.createDataFrame([], "user_id int, ts timestamp, event_type string")
    with pytest.raises(ValueError):
        funnel_stages(df, [])


# ---------------------------------------------------------------------------
# topk_per_group
# ---------------------------------------------------------------------------

def test_topk_exact_vs_single_window(spark):
    import random

    rng = random.Random(7)
    rows = [
        (rng.randrange(4), i, float(rng.randrange(50))) for i in range(400)
    ]
    df = spark.createDataFrame(rows, "g int, id int, v double")
    got = topk_per_group(
        df, group_cols=["g"], order_col="v", k=5, tiebreak_col="id", n_salt=8
    )
    naive = {}
    for g, i, v in rows:
        naive.setdefault(g, []).append((-v, i))
    expect = set()
    for g, items in naive.items():
        for rk, (_nv, i) in enumerate(sorted(items)[:5], 1):
            expect.add((g, rk, i))
    assert {(r["g"], r["rk"], r["id"]) for r in got.collect()} == expect


def test_topk_requires_tiebreak(spark):
    df = spark.createDataFrame([(1, 1, 1.0)], "g int, id int, v double")
    with pytest.raises(ValueError):
        topk_per_group(df, group_cols=["g"], order_col="v", k=1, tiebreak_col=None)


# ---------------------------------------------------------------------------
# property-based: asof_join and topk_per_group vs naive in-Python models
# ---------------------------------------------------------------------------

try:
    from hypothesis import given, settings, strategies as st

    HAVE_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    HAVE_HYPOTHESIS = False

if HAVE_HYPOTHESIS:

    _epochs = st.integers(min_value=0, max_value=50)
    _keys = st.integers(min_value=0, max_value=3)

    @settings(max_examples=12, deadline=None)
    @given(
        lefts=st.lists(st.tuples(_keys, _epochs), min_size=1, max_size=12),
        rights=st.lists(st.tuples(_keys, _epochs), min_size=0, max_size=12),
    )
    def test_asof_matches_naive_model(spark, lefts, rights):
        left = spark.createDataFrame(
            [(i, k, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=e))
             for i, (k, e) in enumerate(lefts)],
            "lid int, k int, lt timestamp",
        )
        right = spark.createDataFrame(
            [(k, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=e), i)
             for i, (k, e) in enumerate(rights)],
            "k int, rt timestamp, rid int",
        )
        out = asof_join(
            left, right, key="k", left_ts="lt", right_ts="rt",
            payload_cols=["rid"],
        )
        got = {r["lid"]: r["asof_rid"] for r in out.collect()}
        for i, (k, e) in enumerate(lefts):
            # naive: max (rt, rid) among same-key rights with rt <= lt
            cands = [
                (re_, ri) for ri, (rk, re_) in enumerate(rights)
                if rk == k and re_ <= e
            ]
            expect = max(cands)[1] if cands else None
            assert got[i] == expect, (i, k, e, cands)

    @settings(max_examples=10, deadline=None)
    @given(
        rows=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=2),
                st.integers(min_value=0, max_value=9),
            ),
            min_size=1,
            max_size=40,
        ),
        k=st.integers(min_value=1, max_value=5),
        n_salt=st.sampled_from([1, 2, 7]),
    )
    def test_topk_matches_naive_model(spark, rows, k, n_salt):
        df = spark.createDataFrame(
            [(g, i, float(v)) for i, (g, v) in enumerate(rows)],
            "g int, id int, v double",
        )
        got = {
            (r["g"], r["rk"], r["id"])
            for r in topk_per_group(
                df, group_cols=["g"], order_col="v", k=k,
                tiebreak_col="id", n_salt=n_salt,
            ).collect()
        }
        expect = set()
        groups = {}
        for i, (g, v) in enumerate(rows):
            groups.setdefault(g, []).append((-float(v), i))
        for g, items in groups.items():
            for rk, (_nv, i) in enumerate(sorted(items)[:k], 1):
                expect.add((g, rk, i))
        assert got == expect


# ---------------------------------------------------------------------------
# asof_join forward direction
# ---------------------------------------------------------------------------

def _asof_fwd(spark, left_rows, right_rows):
    left = spark.createDataFrame(left_rows, "lid int, k int, lt timestamp")
    right = spark.createDataFrame(right_rows, "k int, rt timestamp, rid int")
    out = asof_join(
        left, right, key="k", left_ts="lt", right_ts="rt",
        payload_cols=["rid"], direction="forward",
    )
    return {r["lid"]: r["asof_rid"] for r in out.collect()}


def test_asof_forward_picks_earliest_on_or_after(spark):
    got = _asof_fwd(
        spark,
        [(1, 7, _ts("2024-01-01T10:00:00"))],
        [
            (7, _ts("2024-01-01T09:00:00"), 100),  # before -> inadmissible
            (7, _ts("2024-01-01T11:00:00"), 200),
            (7, _ts("2024-01-01T12:00:00"), 300),
        ],
    )
    assert got == {1: 200}


def test_asof_forward_equal_ts_inclusive_and_tie_min_payload(spark):
    got = _asof_fwd(
        spark,
        [(1, 7, _ts("2024-01-01T10:00:00"))],
        [
            (7, _ts("2024-01-01T10:00:00"), 151),
            (7, _ts("2024-01-01T10:00:00"), 150),
        ],
    )
    assert got == {1: 150}


def test_asof_rejects_bad_direction(spark):
    df = spark.createDataFrame([(1, 1, _ts("2024-01-01T00:00:00"))],
                               "lid int, k int, lt timestamp")
    with pytest.raises(ValueError):
        asof_join(df, df.selectExpr("k", "lt as rt", "lid as rid"),
                  key="k", left_ts="lt", right_ts="rt",
                  payload_cols=["rid"], direction="nearest")


if HAVE_HYPOTHESIS:

    @settings(max_examples=10, deadline=None)
    @given(
        lefts=st.lists(st.tuples(_keys, _epochs), min_size=1, max_size=10),
        rights=st.lists(st.tuples(_keys, _epochs), min_size=0, max_size=10),
    )
    def test_asof_forward_matches_naive_model(spark, lefts, rights):
        left = spark.createDataFrame(
            [(i, k, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=e))
             for i, (k, e) in enumerate(lefts)],
            "lid int, k int, lt timestamp",
        )
        right = spark.createDataFrame(
            [(k, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=e), i)
             for i, (k, e) in enumerate(rights)],
            "k int, rt timestamp, rid int",
        )
        out = asof_join(
            left, right, key="k", left_ts="lt", right_ts="rt",
            payload_cols=["rid"], direction="forward",
        )
        got = {r["lid"]: r["asof_rid"] for r in out.collect()}
        for i, (k, e) in enumerate(lefts):
            cands = [
                (re_, ri) for ri, (rk, re_) in enumerate(rights)
                if rk == k and re_ >= e
            ]
            expect = min(cands)[1] if cands else None
            assert got[i] == expect, (i, k, e, cands)


# ------------------------------------------------------------- SCD2

def _scd2_model(rows):
    """Independent per-key sequential model: sort, walk, open/close."""
    from collections import defaultdict

    by_key = defaultdict(list)
    for k, a, ts, tb in rows:
        by_key[k].append((ts, tb, a))
    out = []
    for k, items in by_key.items():
        items.sort()
        runs = []
        for ts, tb, a in items:
            if not runs or runs[-1][0] != a:
                runs.append((a, ts))
        for i, (a, start) in enumerate(runs):
            nxt = runs[i + 1][1] if i + 1 < len(runs) else None
            out.append((k, a, start, nxt, nxt is None))
    return sorted(out, key=_nullsafe)


def _nullsafe(t):
    return tuple((x is None, x) for x in t)


def _scd2_spark(spark, rows):
    from operator_zoo.functions.temporal import scd2_from_changelog

    df = spark.createDataFrame(rows, ["k", "attr", "ts", "tb"])
    got = scd2_from_changelog(df, key="k", attr="attr", ts="ts", tiebreak="tb")
    return sorted((tuple(r) for r in got.collect()), key=_nullsafe)


def test_scd2_matches_model(spark):
    rows = [
        (1, "A", 10, 1), (1, "A", 20, 2), (1, "B", 30, 3), (1, "A", 40, 4),
        (2, "X", 5, 5),
        (3, "P", 1, 6), (3, "P", 2, 7),
    ]
    assert _scd2_spark(spark, rows) == _scd2_model(rows)


def test_scd2_duplicate_ts_uses_tiebreak(spark):
    # same timestamp, attr flips twice: tiebreak decides run structure
    rows = [(1, "A", 10, 1), (1, "B", 10, 2), (1, "A", 10, 3)]
    got = _scd2_spark(spark, rows)
    assert got == _scd2_model(rows)
    assert len(got) == 3  # three runs, deterministic under (ts, tb)


def test_scd2_single_current_row_per_key(spark):
    import random

    rng = random.Random(7)
    rows = [
        (k, rng.choice("ABC"), rng.randrange(100), i)
        for i, k in enumerate(rng.choices(range(5), k=200))
    ]
    got = _scd2_spark(spark, rows)
    assert got == _scd2_model(rows)
    current = [r for r in got if r[4]]
    assert len(current) == len({r[0] for r in got})  # one per key
    assert all(r[3] is None for r in current)
