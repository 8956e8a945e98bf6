"""Bad parameters fail before any work: a bucket count, commit-group
size or partition width below 1 would otherwise plan no commit
(``range(0, n, -1)`` is empty) and report success, a compaction target
below 1 would divide by zero or rewrite every bucket to one file, and a
CLI flag the chosen mode ignores would be dropped without a word."""

from __future__ import annotations

import os

import pytest

from pdf_to_xls_vision_spark.cli import build_parser, main
from pdf_to_xls_vision_spark.operators.pipeline import run_extraction
from pdf_to_xls_vision_spark.sink.checkpoint import run_checkpointed_extraction
from pdf_to_xls_vision_spark.sink.compaction import compact_spans
from pdf_to_xls_vision_spark.streaming.ingest import stream_extraction

_BAD_COUNTS = [
    ({"n_buckets": 0}, "n_buckets"),
    ({"n_buckets": -4}, "n_buckets"),
    ({"commit_group_size": 0}, "commit_group_size"),
    ({"commit_group_size": -1}, "commit_group_size"),
]


@pytest.fixture
def docs(spark, tiny_corpus_path):
    return spark.read.parquet(tiny_corpus_path)


@pytest.mark.parametrize("kwargs,name", _BAD_COUNTS)
def test_checkpointed_extraction_rejects(docs, tmp_path, kwargs, name):
    out_dir = str(tmp_path / "out")
    with pytest.raises(ValueError, match=name):
        run_checkpointed_extraction(docs, out_dir, **kwargs)
    assert not os.path.exists(out_dir)


@pytest.mark.parametrize("n_buckets", [0, -1])
def test_stream_extraction_rejects(spark, tmp_path, n_buckets):
    with pytest.raises(ValueError, match="n_buckets"):
        stream_extraction(
            spark,
            str(tmp_path / "in"),
            str(tmp_path / "out"),
            str(tmp_path / "ckpt"),
            n_buckets=n_buckets,
        )
    assert spark.streams.active == []


@pytest.mark.parametrize("target_file_bytes", [0, -1])
def test_compact_spans_rejects(spark, tmp_path, target_file_bytes):
    with pytest.raises(ValueError, match="target_file_bytes"):
        compact_spans(
            spark, str(tmp_path / "out"), target_file_bytes=target_file_bytes
        )


@pytest.mark.parametrize("page_partitions", [0, -2])
def test_run_extraction_rejects(docs, page_partitions):
    with pytest.raises(ValueError, match="page_partitions"):
        run_extraction(docs, page_partitions=page_partitions)


@pytest.mark.parametrize(
    "flag", ["--buckets", "--commit-group-size", "--partitions", "--target-file-mb"]
)
@pytest.mark.parametrize("value", ["0", "-3"])
def test_cli_rejects_counts_below_one(flag, value, capsys):
    with pytest.raises(SystemExit) as exc:
        build_parser().parse_args(["in.parquet", "-o", "out", flag, value])
    assert exc.value.code == 2
    assert flag in capsys.readouterr().err


def test_cli_accepts_positive_counts():
    args = build_parser().parse_args(
        ["in.parquet", "-o", "out", "--buckets", "1",
         "--commit-group-size", "2", "--partitions", "3"]
    )
    assert (args.buckets, args.commit_group_size, args.partitions) == (1, 2, 3)


@pytest.mark.parametrize(
    "flags,ignored",
    [
        (["--continuous"], "--continuous"),
        (["--stream-checkpoint", "ckpt"], "--stream-checkpoint"),
        (["--stream", "--report"], "--report"),
        (["--compact", "--report"], "--report"),
        (["--read-snapshot", "0", "--report"], "--report"),
        (["--compact", "--buckets", "8"], "--buckets"),
        (["--stream", "--snapshot", "s1"], "--snapshot"),
        (["--read-snapshot", "0", "--vision-backend", "anthropic"],
         "--vision-backend"),
        (["--target-file-mb", "64"], "--target-file-mb"),
        (["--media-dir", "media"], "--media-dir"),
        (["--stream", "--vision-backend", "stub", "--media-dir", "media"],
         "--media-dir"),
    ],
    ids=["continuous", "stream_checkpoint", "stream_report", "compact_report",
         "read_snapshot_report", "compact_buckets", "stream_snapshot",
         "read_snapshot_vision_backend", "batch_target_file_mb",
         "batch_media_dir_stub", "stream_media_dir_stub"],
)
def test_cli_rejects_flags_the_mode_ignores(flags, ignored, tmp_path, monkeypatch):
    """A flag the chosen mode does not read is an error, raised before
    a session starts."""
    from pdf_to_xls_vision_spark import session

    def ran(*args, **kwargs):
        raise AssertionError("the job started")

    monkeypatch.setattr(session, "get_spark", ran)
    with pytest.raises(SystemExit, match=ignored):
        main([str(tmp_path / "in"), "-o", str(tmp_path / "out"), *flags])


@pytest.mark.parametrize(
    "flags",
    [["--compact", "--stream"], ["--read-snapshot", "0", "--compact"]],
    ids=["compact_stream", "read_snapshot_compact"],
)
def test_cli_rejects_two_modes(flags, capsys, monkeypatch):
    """At most one mode flag: argparse refuses a second one."""
    from pdf_to_xls_vision_spark import session

    def ran(*args, **kwargs):
        raise AssertionError("the job started")

    monkeypatch.setattr(session, "get_spark", ran)
    with pytest.raises(SystemExit) as exc:
        main(["in.parquet", "-o", "out", *flags])
    assert exc.value.code == 2
    assert "--compact" in capsys.readouterr().err


def test_cli_every_option_is_read_by_a_mode():
    """The mode table covers the parser: an option no mode reads would
    be rejected everywhere, and one whose default is neither None nor
    False could be given without the check seeing it."""
    from pdf_to_xls_vision_spark.cli import MODES

    read = {"--output", "--master"}
    for _run, flags in MODES.values():
        read.update(flags)
    options = [a for a in build_parser()._actions
               if a.option_strings and a.dest != "help"]
    assert {a.option_strings[-1] for a in options} == read
    for a in options:
        assert a.default is None or a.default is False, a.option_strings



def test_cli_missing_key_fails_before_the_job(tmp_path, monkeypatch):
    """The live backend's key is checked before --no-resume wipes the
    output and before a session starts."""
    from pdf_to_xls_vision_spark import session

    def ran(*args, **kwargs):
        raise AssertionError("the job started")

    monkeypatch.setattr(session, "get_spark", ran)
    monkeypatch.delenv("ANTHROPIC_API_KEY", raising=False)
    out = tmp_path / "out"
    out.mkdir()
    with pytest.raises(ValueError, match="ANTHROPIC_API_KEY"):
        main([str(tmp_path / "in"), "-o", str(out), "--no-resume",
              "--vision-backend", "anthropic", "--media-dir", str(tmp_path)])
    assert out.exists()
