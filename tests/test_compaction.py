"""Small-file compaction of the span table: layout changes, nothing
else does — rows, manifest, and resume state are all invariant, and a
second pass is a no-op."""

import shutil

import pytest

from pdf_to_xls_vision_spark.sink.checkpoint import (
    committed_buckets,
    read_manifest,
    run_checkpointed_extraction,
)
from pdf_to_xls_vision_spark.sink.compaction import (
    compact_spans,
    list_bucket_files,
    plan_compaction,
)

N_BUCKETS = 4


@pytest.fixture(scope="module")
def committed_table(spark, tiny_corpus_path, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("compaction") / "ckpt")
    # 8 writer tasks x 4 buckets -> every bucket directory collects
    # multiple small files, the state a long ingest run accumulates
    run_checkpointed_extraction(
        spark.read.parquet(tiny_corpus_path),
        out,
        n_buckets=N_BUCKETS,
        page_partitions=8,
    )
    return out


@pytest.fixture()
def populated(committed_table, tmp_path):
    """A private copy of the committed table: compaction rewrites it."""
    out = str(tmp_path / "ckpt")
    shutil.copytree(committed_table, out)
    return out


def _rowset(spark, out):
    return sorted(
        tuple(r)
        for r in spark.read.parquet(f"{out}/spans").collect()
    )


def test_compaction_rewrites_layout_only(spark, populated):
    out = populated
    before_files = list_bucket_files(spark, out)
    assert set(before_files) == set(range(N_BUCKETS))
    assert all(len(fs) > 1 for fs in before_files.values())
    before_rows = _rowset(spark, out)
    before_manifest = sorted(
        tuple(r) for r in read_manifest(spark, out).collect()
    )

    res = compact_spans(spark, out)  # default 128 MB target -> 1 file/bucket
    assert set(res["compacted"]) == set(range(N_BUCKETS))

    after_files = list_bucket_files(spark, out)
    assert all(len(fs) == 1 for fs in after_files.values()), after_files
    assert _rowset(spark, out) == before_rows
    assert (
        sorted(tuple(r) for r in read_manifest(spark, out).collect())
        == before_manifest
    )
    assert committed_buckets(spark, out) == set(range(N_BUCKETS))

    # idempotent: the second pass plans nothing and touches nothing
    res2 = compact_spans(spark, out)
    assert res2["compacted"] == {}
    assert sorted(res2["skipped"]) == list(range(N_BUCKETS))
    assert list_bucket_files(spark, out) == after_files

    # the rewrite is logged outside the manifest
    log = spark.read.parquet(f"{out}/compactions")
    assert log.count() == N_BUCKETS
    assert set(log.columns) == {
        "bucket", "files_before", "files_after_target", "bytes",
        "compacted_at_ts",
    }


def test_plan_respects_byte_target(spark, populated):
    listing = list_bucket_files(spark, populated)
    # a target smaller than any single file -> every bucket already
    # needs >= its file count, nothing to do
    tiny = plan_compaction(listing, target_file_bytes=1)
    assert tiny == {}
    # a huge target -> one file per bucket is the goal
    big = plan_compaction(listing, target_file_bytes=1 << 40)
    assert {b: p["files_target"] for b, p in big.items()} == {
        b: 1 for b in listing
    }


def test_compaction_splits_large_buckets(spark, populated):
    out = populated
    listing = list_bucket_files(spark, out)
    # pick a per-bucket byte target ~half the bucket size -> 2 files
    some_bucket = min(listing)
    total = sum(sz for _, sz in listing[some_bucket])
    before_rows = _rowset(spark, out)
    res = compact_spans(spark, out, target_file_bytes=(total + 1) // 2)
    assert res["compacted"][some_bucket]["files_target"] == 2
    after = list_bucket_files(spark, out)
    # slot hashing can only merge below target, never exceed it
    assert all(
        len(after[b]) <= res["compacted"][b]["files_target"]
        for b in res["compacted"]
    )
    assert _rowset(spark, out) == before_rows


@pytest.mark.slow
def test_cli_compact_mode(spark, populated, capsys):
    import json

    from pdf_to_xls_vision_spark.cli import main

    out = populated
    rc = main(["ignored-input", "-o", out, "--compact"])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["mode"] == "compact"
    assert summary["compacted_buckets"] == list(range(N_BUCKETS))
    assert summary["files_rewritten"] > N_BUCKETS
    assert all(
        len(fs) == 1 for fs in list_bucket_files(spark, out).values()
    )
    # --no-resume would delete the table being maintained: refused
    with pytest.raises(SystemExit):
        main(["ignored-input", "-o", out, "--compact", "--no-resume"])
    # a batch table has no ingest_batch partitions to read a snapshot of
    with pytest.raises(SystemExit, match="ingest_batch"):
        main(["ignored-input", "-o", out, "--read-snapshot", "0"])
