"""Watermarked windowed aggregation + event-time stateful sessionizer.

Each scenario drives the streaming plan with a file source, appending
files between availableNow runs that share one checkpoint — the same
resume discipline as the ingest tests. The sessionizer is event-time
driven (EventTimeTimeout), so every test completes in seconds: flushes
come from watermark passage, never wall-clock waits.
"""

import os
from datetime import datetime, timedelta

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

T0 = datetime(2024, 1, 1, 10, 0, 0)


def _write_events(path, rows):
    tbl = pa.table(
        {
            "user_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "event_type": pa.array([r[2] for r in rows], pa.string()),
            "value": pa.array([r[3] for r in rows], pa.float64()),
        }
    )
    pq.write_table(tbl, path)


def _stream(spark, in_dir, max_files=None):
    r = spark.readStream.schema(
        "user_id long, ts timestamp, event_type string, value double"
    )
    if max_files:
        r = r.option("maxFilesPerTrigger", max_files)
    return r.parquet(in_dir)


def _run(spark, df, out_dir, ckpt):
    q = (
        df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)


@pytest.mark.slow
def test_windowed_counts_drop_too_late_rows(spark, tmp_path):
    from operator_zoo.streaming.aggregate import windowed_event_counts

    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ck"))
    os.makedirs(in_dir)

    # run 1: two 10:00-10:30 events and one 11:30 event (advances the
    # watermark to 10:30 on the NEXT trigger)
    _write_events(
        f"{in_dir}/f1.parquet",
        [
            (1, T0, "click", 1.0),
            (2, T0 + timedelta(minutes=10), "click", 2.0),
            (3, T0 + timedelta(minutes=90), "click", 4.0),
        ],
    )
    _run(spark, windowed_event_counts(_stream(spark, in_dir)), out_dir, ckpt)

    # run 2: a too-late row (9:05 — behind the 10:30 watermark, must be
    # DROPPED) and a 13:00 row that pushes the watermark to 12:00 so
    # every earlier window finalizes
    _write_events(
        f"{in_dir}/f2.parquet",
        [
            (4, T0 - timedelta(minutes=55), "click", 100.0),
            (5, T0 + timedelta(hours=3), "click", 8.0),
        ],
    )
    _run(spark, windowed_event_counts(_stream(spark, in_dir)), out_dir, ckpt)
    # run 3: empty trigger-advancer so 13:00's own window can finalize
    _write_events(
        f"{in_dir}/f3.parquet", [(6, T0 + timedelta(hours=5), "click", 0.5)]
    )
    _run(spark, windowed_event_counts(_stream(spark, in_dir)), out_dir, ckpt)

    got = {
        (r.window_start.isoformat(), r.n_events, r.value_milli)
        for r in spark.read.parquet(out_dir).collect()
    }
    assert ("2024-01-01T10:00:00", 2, 3000) in got  # NOT 3 — late row dropped
    assert ("2024-01-01T11:30:00", 1, 4000) in got
    assert ("2024-01-01T13:00:00", 1, 8000) in got
    assert not any(s.startswith("2024-01-01T09") for s, _, _ in got)


# ---------------------------------------------------------------------------
# pure merge kernel (no Spark)
# ---------------------------------------------------------------------------


def test_merge_events_pure_kernel():
    from operator_zoo.streaming.aggregate import (
        SESSION_GAP_SECONDS as GAP,
        merge_events_into_sessions,
    )

    # extend, late-merge (last = max(last, epoch)), bridge, new session
    sessions = [(0, 600, 2, 10), (4000, 4000, 1, 5)]
    # 300 is LATE inside session 1 -> merges without shrinking its end;
    # 2300 bridges (2300-600 <= GAP and 4000-2300 <= GAP) -> one session;
    # 99999 opens a new one
    out = merge_events_into_sessions(sessions, [(300, 1), (2300, 2), (99999, 3)])
    assert out == [(0, 4000, 5, 18), (99999, 99999, 1, 3)]

    # empty cases
    assert merge_events_into_sessions([], []) == []
    assert merge_events_into_sessions([], [(5, 1)]) == [(5, 5, 1, 1)]
    # exact-gap boundary chains; gap+1 splits
    assert merge_events_into_sessions([], [(0, 1), (GAP, 1)]) == [(0, GAP, 2, 2)]
    assert merge_events_into_sessions([], [(0, 1), (GAP + 1, 1)]) == [
        (0, 0, 1, 1),
        (GAP + 1, GAP + 1, 1, 1),
    ]


# ---------------------------------------------------------------------------
# event-time sessionizer (seconds-fast: watermark-driven, no wall waits)
# ---------------------------------------------------------------------------


def test_sessionize_stream_closes_on_gap_across_batches(spark, tmp_path):
    """State survives a query restart via the checkpoint; the session
    closes when the WATERMARK (not wall clock) passes end + gap."""
    from operator_zoo.streaming.aggregate import sessionize_stream

    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ck"))
    os.makedirs(in_dir)

    # run 1: two events 10 minutes apart -> one OPEN session, nothing emitted
    _write_events(
        f"{in_dir}/f1.parquet",
        [(7, T0, "click", 1.5), (7, T0 + timedelta(minutes=10), "click", 2.25)],
    )
    _run(spark, sessionize_stream(_stream(spark, in_dir)), out_dir, ckpt)
    assert spark.read.parquet(out_dir).count() == 0

    # run 2 (fresh query on the same checkpoint): an event 2h later
    # advances the watermark to T0+90min > (T0+10min) + 30min gap, so
    # session 1 flushes during this run's no-data batch.
    _write_events(
        f"{in_dir}/f2.parquet", [(7, T0 + timedelta(minutes=120), "click", 9.0)]
    )
    _run(spark, sessionize_stream(_stream(spark, in_dir)), out_dir, ckpt)

    rows = spark.read.parquet(out_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.user_id == 7
    assert r.session_start == T0
    assert r.session_end == T0 + timedelta(minutes=10)
    assert r.n_events == 2
    assert r.value_milli == 1500 + 2250


@pytest.mark.slow
def test_sessionize_late_event_merges_without_shrinking(spark, tmp_path):
    """A late-but-admissible event (>= watermark) merges into the held
    session: end stays at the max event time, count/value grow."""
    from operator_zoo.streaming.aggregate import sessionize_stream

    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ck"))
    os.makedirs(in_dir)

    _write_events(
        f"{in_dir}/f1.parquet",
        [(9, T0, "c", 1.0), (9, T0 + timedelta(minutes=10), "c", 1.0)],
    )
    _run(spark, sessionize_stream(_stream(spark, in_dir)), out_dir, ckpt)

    # watermark is now T0-20min; T0+5min is late (< max seen) but admissible
    _write_events(
        f"{in_dir}/f2.parquet",
        [(9, T0 + timedelta(minutes=5), "c", 1.0),
         (9, T0 + timedelta(minutes=20), "c", 1.0)],
    )
    _run(spark, sessionize_stream(_stream(spark, in_dir)), out_dir, ckpt)

    # advancer flushes everything
    _write_events(
        f"{in_dir}/f3.parquet", [(9, T0 + timedelta(hours=10), "c", 0.0)]
    )
    _run(spark, sessionize_stream(_stream(spark, in_dir)), out_dir, ckpt)

    rows = sorted(spark.read.parquet(out_dir).collect())
    assert len(rows) == 1
    r = rows[0]
    assert (r.session_start, r.session_end) == (T0, T0 + timedelta(minutes=20))
    assert r.n_events == 4


@pytest.mark.slow
def test_sessionize_bridge_event_fuses_held_sessions(spark, tmp_path):
    """An admissible event landing within one gap of two held sessions
    fuses them into a single session."""
    from operator_zoo.streaming.aggregate import sessionize_stream

    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ck"))
    os.makedirs(in_dir)

    # two sessions 50 minutes apart (> 30-min gap), both held
    # (watermark after this batch: T0+20min)
    _write_events(
        f"{in_dir}/f1.parquet",
        [(4, T0, "c", 1.0), (4, T0 + timedelta(minutes=50), "c", 1.0)],
    )
    _run(spark, sessionize_stream(_stream(spark, in_dir)), out_dir, ckpt)

    # T0+25min: >= watermark, within one gap of both -> bridges them
    _write_events(
        f"{in_dir}/f2.parquet", [(4, T0 + timedelta(minutes=25), "c", 1.0)]
    )
    _run(spark, sessionize_stream(_stream(spark, in_dir)), out_dir, ckpt)

    _write_events(
        f"{in_dir}/f3.parquet", [(4, T0 + timedelta(hours=10), "c", 0.0)]
    )
    _run(spark, sessionize_stream(_stream(spark, in_dir)), out_dir, ckpt)

    rows = sorted(spark.read.parquet(out_dir).collect())
    assert len(rows) == 1
    r = rows[0]
    assert (r.session_start, r.session_end) == (T0, T0 + timedelta(minutes=50))
    assert r.n_events == 3


def _replay_fixture_files():
    """Three files of interleaved multi-user events + a far-future
    advancer that finalizes every real session."""
    f1 = [
        (1, T0, "c", 1.0),
        (2, T0 + timedelta(minutes=5), "c", 2.0),
        (1, T0 + timedelta(minutes=20), "c", 1.0),
    ]
    f2 = [
        (2, T0 + timedelta(minutes=10), "c", 2.0),
        (1, T0 + timedelta(minutes=120), "c", 3.0),  # new session for 1
        (2, T0 + timedelta(minutes=95), "c", 2.0),
    ]
    f3 = [(1, T0 + timedelta(days=30), "adv", 0.0)]
    return [f1, f2, f3]


def _sessionize_run_rows(spark, tmp_path, tag, batched):
    from operator_zoo.streaming.aggregate import sessionize_stream

    in_dir, out_dir, ckpt = (
        str(tmp_path / f"{tag}_{d}") for d in ("in", "out", "ck")
    )
    os.makedirs(in_dir)
    files = _replay_fixture_files()
    if batched:
        # one availableNow run per file (three restarts)
        for i, rows in enumerate(files):
            _write_events(f"{in_dir}/f{i}.parquet", rows)
            _run(spark, sessionize_stream(_stream(spark, in_dir)), out_dir, ckpt)
    else:
        # all files visible at once, one file per micro-batch. The
        # file source orders files by MODIFICATION TIME; back-to-back
        # writes can tie on a coarse-mtime filesystem and batch f2
        # (later events) before f0, advancing the watermark so f0's
        # events drop as late data — pin strictly increasing mtimes
        # so the replay order is unconditional.
        for i, rows in enumerate(files):
            path = f"{in_dir}/f{i}.parquet"
            _write_events(path, rows)
            os.utime(path, (1_700_000_000 + 10 * i, 1_700_000_000 + 10 * i))
        _run(
            spark,
            sessionize_stream(_stream(spark, in_dir, max_files=1)),
            out_dir,
            ckpt,
        )
    return sorted(
        (r.user_id, r.session_start, r.session_end, r.n_events, r.value_milli)
        for r in spark.read.parquet(out_dir).collect()
    )


@pytest.mark.slow
def test_sessionize_replay_deterministic_across_batchings(spark, tmp_path):
    """The emitted session rows are a pure function of the event set:
    two replays with different micro-batch boundaries (one-run-per-file
    with restarts vs a single run batching per file) produce identical
    rows — the property processing-time timeouts cannot give."""
    a = _sessionize_run_rows(spark, tmp_path, "a", batched=True)
    b = _sessionize_run_rows(spark, tmp_path, "b", batched=False)
    assert a == b
    assert a == [
        (1, T0, T0 + timedelta(minutes=20), 2, 2000),
        (1, T0 + timedelta(minutes=120), T0 + timedelta(minutes=120), 1, 3000),
        (2, T0 + timedelta(minutes=5), T0 + timedelta(minutes=10), 2, 4000),
        (2, T0 + timedelta(minutes=95), T0 + timedelta(minutes=95), 1, 2000),
    ]


def test_merge_events_custom_gap():
    from operator_zoo.streaming.aggregate import (
        merge_events_into_sessions,
    )

    # gap=60: 0 and 60 chain, 121 opens a new session
    assert merge_events_into_sessions(
        [], [(0, 1), (60, 1), (121, 1)], gap_seconds=60
    ) == [(0, 60, 2, 2), (121, 121, 1, 1)]


def test_sessionize_custom_gap_splits_sooner(spark, tmp_path):
    """gap_seconds is a real operator knob: with a 60s gap, events two
    minutes apart land in separate sessions (the default 30-min gap
    would fuse them)."""
    from operator_zoo.streaming.aggregate import sessionize_stream

    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ck"))
    os.makedirs(in_dir)
    _write_events(
        f"{in_dir}/f1.parquet",
        [(5, T0, "c", 1.0), (5, T0 + timedelta(minutes=2), "c", 2.0)],
    )
    _write_events(
        f"{in_dir}/f2.parquet", [(5, T0 + timedelta(hours=5), "c", 0.0)]
    )
    _run(
        spark,
        sessionize_stream(
            _stream(spark, in_dir, max_files=1),
            gap_seconds=60,
            watermark="2 minutes",
        ),
        out_dir,
        ckpt,
    )
    rows = sorted(
        (r.session_start, r.session_end, r.n_events)
        for r in spark.read.parquet(out_dir).collect()
    )
    assert rows == [
        (T0, T0, 1),
        (T0 + timedelta(minutes=2), T0 + timedelta(minutes=2), 1),
    ]

    with pytest.raises(ValueError, match="gap_seconds"):
        sessionize_stream(_stream(spark, in_dir), gap_seconds=0)


@pytest.mark.slow
def test_sessionize_dst_fallback_hour_does_not_crash(spark, tmp_path):
    """With a DST-observing session timezone, events whose wall-clock
    time falls in the fall-back (ambiguous) hour must not kill the
    stream: tz_localize resolves them deterministically to standard
    time instead of raising AmbiguousTimeError."""
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        from operator_zoo.streaming.aggregate import sessionize_stream

        in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ck"))
        os.makedirs(in_dir)
        # 2024-11-03 01:00/01:30 local: the repeated (ambiguous) hour in
        # America/New_York; 2024-03-10 03:30 sits just past the
        # spring-forward jump
        fall_back = datetime(2024, 11, 3, 1, 0, 0)
        _write_events(
            f"{in_dir}/f1.parquet",
            [
                (11, fall_back, "c", 1.0),
                (11, fall_back + timedelta(minutes=30), "c", 1.0),
                (12, datetime(2024, 3, 10, 3, 30, 0), "c", 1.0),
            ],
        )
        _write_events(
            f"{in_dir}/f2.parquet",
            [(11, fall_back + timedelta(hours=10), "c", 0.0)],
        )
        _run(
            spark,
            sessionize_stream(_stream(spark, in_dir, max_files=1)),
            out_dir,
            ckpt,
        )
        rows = spark.read.parquet(out_dir).collect()
        by_user = {r.user_id: r for r in rows}
        assert by_user[11].n_events == 2
        assert by_user[11].session_start == fall_back
        assert 12 in by_user  # spring-forward-adjacent session flushed too
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


@pytest.mark.slow
def test_sessionize_non_utc_session_timezone(spark, tmp_path):
    """Epochs are derived by localizing the Arrow wall-clock times with
    the session tz, so gap math and emitted rows are tz-independent."""
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        from operator_zoo.streaming.aggregate import sessionize_stream

        in_dir, out_dir, ckpt = (
            str(tmp_path / d) for d in ("in", "out", "ck")
        )
        os.makedirs(in_dir)
        _write_events(
            f"{in_dir}/f1.parquet",
            [(3, T0, "c", 1.0), (3, T0 + timedelta(minutes=10), "c", 1.0)],
        )
        _write_events(
            f"{in_dir}/f2.parquet", [(3, T0 + timedelta(hours=5), "c", 0.0)]
        )
        _run(
            spark,
            sessionize_stream(_stream(spark, in_dir, max_files=1)),
            out_dir,
            ckpt,
        )
        rows = spark.read.parquet(out_dir).collect()
        assert len(rows) == 1
        assert rows[0].session_start == T0
        assert rows[0].session_end == T0 + timedelta(minutes=10)
        assert rows[0].n_events == 2
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
