"""CLI entry point (G2): end-to-end run, resume no-op, --no-resume,
and argument errors. Runs main() in-process against tmp dirs."""

from __future__ import annotations

import json

import pyarrow.parquet as pq
import pytest

from pdf_to_xls_vision_spark.cli import build_parser, main
from pdf_to_xls_vision_spark.corpus import corpus_to_arrow, generate_corpus


@pytest.fixture(scope="module")
def small_corpus_path(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("cli") / "docs.parquet")
    pq.write_table(corpus_to_arrow(generate_corpus(8)), path)
    return path


@pytest.mark.slow
def test_cli_run_and_resume(spark, small_corpus_path, tmp_path, capsys):
    out_dir = str(tmp_path / "out")
    rc = main([small_corpus_path, "-o", out_dir, "--buckets", "4", "--report"])
    assert rc == 0
    lines = capsys.readouterr().out.strip().splitlines()
    summary = json.loads(lines[0])
    assert summary["committed_buckets"] == 4
    assert summary["resumed_buckets"] == 0
    assert summary["docs"] > 8  # pinned docs ride along
    assert summary["pages_parsed"] > 0
    assert len([l for l in lines if l.startswith("bucket")]) == 4

    # rerun: resume is a no-op, totals unchanged
    rc = main([small_corpus_path, "-o", out_dir, "--buckets", "4"])
    assert rc == 0
    again = json.loads(capsys.readouterr().out.strip().splitlines()[0])
    assert again["committed_buckets"] == 0
    assert again["resumed_buckets"] == 4
    assert again["docs"] == summary["docs"]

    # --no-resume wipes and recommits everything
    rc = main([small_corpus_path, "-o", out_dir, "--buckets", "4", "--no-resume"])
    assert rc == 0
    fresh = json.loads(capsys.readouterr().out.strip().splitlines()[0])
    assert fresh["committed_buckets"] == 4
    assert fresh["docs"] == summary["docs"]


def test_cli_arg_errors():
    with pytest.raises(SystemExit):
        build_parser().parse_args([])  # missing input and -o
    with pytest.raises(SystemExit):
        build_parser().parse_args(["in.parquet"])  # missing -o
    args = build_parser().parse_args(
        ["in.parquet", "-o", "out", "--force-vision", "--buckets", "16"]
    )
    assert args.force_vision and args.buckets == 16 and args.output == "out"
    from pdf_to_xls_vision_spark.cli import main

    with pytest.raises(SystemExit, match="read-snapshot"):
        main(["in.parquet", "-o", "out", "--read-snapshot", "3", "--no-resume"])


def test_cli_partitions_set_page_partitions(
    spark, small_corpus_path, tmp_path, monkeypatch
):
    """--partitions is the page-relation repartition width: it reaches
    run_extraction as page_partitions."""
    from pdf_to_xls_vision_spark.operators import pipeline

    class Planned(Exception):
        pass

    seen = {}

    def run_extraction(docs, **kwargs):
        seen.update(kwargs)
        raise Planned

    monkeypatch.setattr(pipeline, "run_extraction", run_extraction)
    with pytest.raises(Planned):
        main([small_corpus_path, "-o", str(tmp_path / "out"), "--partitions", "3"])
    assert seen["page_partitions"] == 3


@pytest.mark.slow
def test_cli_stream_mode(spark, tiny_corpus, tmp_path):
    """--stream drains the input dir via Structured Streaming and
    prints the stream summary; a second invocation picks up only new
    files (checkpoint resume)."""
    import json
    import os

    import pyarrow.parquet as pq

    from pdf_to_xls_vision_spark.cli import main
    from pdf_to_xls_vision_spark.corpus import corpus_to_arrow

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    os.makedirs(in_dir)
    pq.write_table(corpus_to_arrow(tiny_corpus[:12]), f"{in_dir}/f1.parquet")

    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main([in_dir, "-o", out_dir, "--stream", "--buckets", "8"])
    assert rc == 0
    summary = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert summary["mode"] == "stream"
    assert summary["docs"] == 12

    pq.write_table(corpus_to_arrow(tiny_corpus[12:20]), f"{in_dir}/f2.parquet")
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main([in_dir, "-o", out_dir, "--stream", "--buckets", "8"])
    assert rc == 0
    summary = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert summary["docs"] == 20

    # time-travel read: as of the first run's batch only f1's docs are
    # visible; a far-future batch bound sees everything
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main([in_dir, "-o", out_dir, "--read-snapshot", "0"])
    assert rc == 0
    snap = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert snap["mode"] == "read-snapshot" and snap["docs"] == 12
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main([in_dir, "-o", out_dir, "--read-snapshot", "99"])
    assert rc == 0
    assert json.loads(buf.getvalue().strip().splitlines()[-1])["docs"] == 20


@pytest.mark.slow
def test_cli_stream_sessionize_with_custom_gap(spark, tmp_path):
    """--stream --stream-op sessionize wires gap/watermark end-to-end:
    a 60s gap splits events two minutes apart into separate sessions."""
    import io
    import json
    import os
    from contextlib import redirect_stdout
    from datetime import datetime, timedelta

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdf_to_xls_vision_spark.cli import main

    t0 = datetime(2024, 1, 1, 10, 0, 0)
    in_dir = str(tmp_path / "ev_in")
    out_dir = str(tmp_path / "ev_out")
    os.makedirs(in_dir)
    rows = [
        (5, t0, "c", 1.0),
        (5, t0 + timedelta(minutes=2), "c", 2.0),
        (5, t0 + timedelta(hours=5), "c", 0.0),  # watermark advancer
    ]
    pq.write_table(
        pa.table(
            {
                "user_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "event_type": pa.array([r[2] for r in rows], pa.string()),
                "value": pa.array([r[3] for r in rows], pa.float64()),
            }
        ),
        f"{in_dir}/f1.parquet",
    )

    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(
            [
                in_dir, "-o", out_dir, "--stream",
                "--stream-op", "sessionize",
                "--session-gap", "60",
                "--session-watermark", "2 minutes",
            ]
        )
    assert rc == 0
    summary = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert summary["mode"] == "stream:sessionize"
    assert summary["gap_seconds"] == 60
    sessions = sorted(
        (r.session_start, r.session_end, r.n_events)
        for r in spark.read.parquet(out_dir).collect()
    )
    assert sessions == [
        (t0, t0, 1),
        (t0 + timedelta(minutes=2), t0 + timedelta(minutes=2), 1),
    ]
