"""Bad count parameters fail before any work: a bucket count,
commit-group size or partition width below 1 would otherwise plan no
commit (``range(0, n, -1)`` is empty) and report success."""

from __future__ import annotations

import os

import pytest

from pdf_to_xls_vision_spark.cli import build_parser
from pdf_to_xls_vision_spark.operators.pipeline import run_extraction
from pdf_to_xls_vision_spark.sink.checkpoint import run_checkpointed_extraction
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


@pytest.mark.parametrize("page_partitions", [0, -2])
def test_run_extraction_rejects(docs, page_partitions):
    with pytest.raises(ValueError, match="page_partitions"):
        run_extraction(docs, page_partitions=page_partitions)


@pytest.mark.parametrize(
    "flag", ["--buckets", "--commit-group-size", "--partitions"]
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
