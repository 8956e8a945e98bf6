"""CLI entry point (G2): end-to-end run, resume no-op, --no-resume
(on a ``file://`` output and with an outside stream checkpoint), reads
of an output with nothing committed, and argument errors. Runs main()
in-process against tmp dirs."""

from __future__ import annotations

import json
import re

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


def _summary(capsys) -> dict:
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


@pytest.mark.slow
def test_cli_no_resume_wipes_a_uri_output(
    spark, small_corpus_path, tmp_path, capsys
):
    """--no-resume wipes through the filesystem Spark writes to, so an
    output given as a ``file://`` URI is recommitted, not resumed."""
    argv = [small_corpus_path, "-o", (tmp_path / "out").as_uri(), "--buckets", "4"]
    assert main(argv) == 0
    first = _summary(capsys)
    assert main([*argv, "--no-resume"]) == 0
    fresh = _summary(capsys)
    assert (fresh["committed_buckets"], fresh["resumed_buckets"]) == (4, 0)
    assert fresh["attempt"] == 1
    assert fresh["docs"] == first["docs"]


@pytest.mark.slow
def test_cli_stream_no_resume_wipes_the_stream_checkpoint(
    spark, tiny_corpus, tmp_path, capsys
):
    """--stream --no-resume with a --stream-checkpoint outside -o wipes
    the checkpoint too: kept, it would mark the input processed and the
    rerun would commit nothing."""
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    pq.write_table(corpus_to_arrow(tiny_corpus[:6]), str(in_dir / "f1.parquet"))
    argv = [str(in_dir), "-o", str(tmp_path / "out"), "--stream", "--buckets", "4",
            "--stream-checkpoint", str(tmp_path / "ckpt")]
    assert main(argv) == 0
    assert _summary(capsys)["docs"] == 6
    assert main([*argv, "--no-resume"]) == 0
    assert _summary(capsys)["docs"] == 6


@pytest.mark.slow
def test_cli_stream_over_an_empty_input_dir(spark, tmp_path, capsys):
    """A stream that commits no document reports zero, not a read of a
    span table that was never written."""
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    assert main([str(in_dir), "-o", str(tmp_path / "out"), "--stream"]) == 0
    summary = _summary(capsys)
    assert (summary["docs"], summary["span_rows"]) == (0, 0)


def test_cli_read_snapshot_without_a_span_table(spark, tmp_path):
    """--read-snapshot on an output that holds no span table exits with
    a message naming the missing path."""
    out = tmp_path / "out"
    out.mkdir()
    with pytest.raises(SystemExit, match=re.escape(str(out / "spans"))):
        main([str(tmp_path / "in"), "-o", str(out), "--read-snapshot", "0"])


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


def test_cli_stream_passes_the_vision_backend(spark, tmp_path, monkeypatch):
    """--stream --vision-backend anthropic reaches stream_extraction as
    the live backend, not the stub."""
    from pdf_to_xls_vision_spark.core.vision_client import AnthropicVisionBackend
    from pdf_to_xls_vision_spark.streaming import ingest

    class Started(Exception):
        pass

    seen = {}

    def stream_extraction(spark, *args, **kwargs):
        seen.update(kwargs)
        raise Started

    monkeypatch.setattr(ingest, "stream_extraction", stream_extraction)
    monkeypatch.setenv("ANTHROPIC_API_KEY", "sk-test")
    with pytest.raises(Started):
        main([str(tmp_path / "in"), "-o", str(tmp_path / "out"), "--stream",
              "--vision-backend", "anthropic", "--media-dir", str(tmp_path)])
    assert isinstance(seen["backend"], AnthropicVisionBackend)


@pytest.mark.parametrize(
    "flags",
    [["--force-vision"], ["--partitions", "4"], ["--commit-group-size", "2"]],
)
def test_cli_stream_rejects_batch_only_flags(flags, tmp_path, monkeypatch):
    """Batch-only flags are an error with --stream, raised before a
    session starts or any extraction runs, not silently ignored."""
    from pdf_to_xls_vision_spark import session
    from pdf_to_xls_vision_spark.streaming import ingest

    def ran(*args, **kwargs):
        raise AssertionError("the job started")

    monkeypatch.setattr(session, "get_spark", ran)
    monkeypatch.setattr(ingest, "stream_extraction", ran)
    with pytest.raises(SystemExit, match=flags[0]):
        main([str(tmp_path / "in"), "-o", str(tmp_path / "out"), "--stream",
              *flags])


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
    # span_rows counts the committed spans, not the per-document rows
    from tests.oracle import oracle_corpus

    want = oracle_corpus(tiny_corpus[:12])
    assert summary["span_rows"] == sum(len(v) for v in want.values())

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

    # compaction rewrites the batch layout only: on the stream's
    # (ingest_batch, bucket) table it refuses instead of reporting an
    # empty pass
    with pytest.raises(SystemExit, match="ingest_batch"):
        main([in_dir, "-o", out_dir, "--compact"])
