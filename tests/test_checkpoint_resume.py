"""W2 semantics: idempotent bucket commits, kill-and-rerun resume,
manifest metrics + lineage (FIXTURES.md §5)."""

from collections import Counter, defaultdict

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from pdf_to_xls_vision_spark.operators.pipeline import run_extraction
from pdf_to_xls_vision_spark.sink.checkpoint import (
    MANIFEST_SCHEMA,
    CheckpointAbort,
    committed_buckets,
    read_committed,
    read_manifest,
    run_checkpointed_extraction,
)

pytestmark = pytest.mark.slow  # multi-minute module; fast path skips it

N_BUCKETS = 8


@pytest.fixture(scope="module")
def docs(spark, tiny_corpus_path):
    return spark.read.parquet(tiny_corpus_path)


@pytest.fixture(scope="module")
def result_df(docs):
    return run_extraction(docs).cache()


def _span_set(df):
    rows = df.select("doc_id", F.explode_outer("spans").alias("s")).collect()
    return {
        (r.doc_id, None if r.s is None else (r.s.kind, r.s.text, r.s.media_ref, r.s.order))
        for r in rows
    }


def test_kill_and_rerun_equals_uninterrupted(docs, result_df, tmp_path):
    """Kill after 2 of 4 commit groups, rerun: the resume commits only
    the uncommitted buckets and the committed table equals both an
    uninterrupted run and the plain extraction result."""
    spark = docs.sparkSession
    clean_dir = str(tmp_path / "clean")
    crash_dir = str(tmp_path / "crash")

    run_checkpointed_extraction(
        docs, clean_dir, n_buckets=N_BUCKETS, input_snapshot="tiny"
    )

    with pytest.raises(CheckpointAbort):
        run_checkpointed_extraction(
            docs,
            crash_dir,
            n_buckets=N_BUCKETS,
            commit_group_size=2,
            fail_after_groups=2,
            input_snapshot="tiny",
        )
    partial = committed_buckets(spark, crash_dir)
    assert len(partial) == 4

    out = run_checkpointed_extraction(
        docs, crash_dir, n_buckets=N_BUCKETS, input_snapshot="tiny"
    )
    assert set(out["skipped"]) == partial
    assert set(out["committed"]) == set(range(N_BUCKETS)) - partial
    assert out["attempt"] == 2

    committed = _span_set(read_committed(spark, crash_dir))
    assert committed == _span_set(read_committed(spark, clean_dir))
    assert committed == _span_set(result_df.select("doc_id", "spans"))


def test_rerun_is_noop(docs, tmp_path):
    out_dir = str(tmp_path / "noop")
    run_checkpointed_extraction(docs, out_dir, n_buckets=N_BUCKETS)
    before = _span_set(read_committed(docs.sparkSession, out_dir))
    out = run_checkpointed_extraction(docs, out_dir, n_buckets=N_BUCKETS)
    assert out["committed"] == []
    assert set(out["skipped"]) == set(range(N_BUCKETS))
    assert _span_set(read_committed(docs.sparkSession, out_dir)) == before


def test_manifest_metrics_and_lineage(docs, result_df, tmp_path):
    out_dir = str(tmp_path / "metrics")
    run_checkpointed_extraction(
        docs, out_dir, n_buckets=N_BUCKETS, input_snapshot="corpus@tiny"
    )
    spark = result_df.sparkSession
    m = read_manifest(spark, out_dir)
    rows = m.collect()
    assert {r.bucket for r in rows} == set(range(N_BUCKETS))
    totals = m.agg(
        F.sum("docs").alias("docs"), F.sum("pages_parsed").alias("pages")
    ).collect()[0]
    expected = result_df.agg(
        F.count("*").alias("docs"), F.sum("pages_parsed").alias("pages")
    ).collect()[0]
    assert totals.docs == expected.docs
    assert totals.pages == expected.pages
    assert all(r.lineage.input_snapshot == "corpus@tiny" for r in rows)
    assert all(r.lineage.attempt == 1 for r in rows)
    assert all(r.lineage.committed_at_ts > 0 for r in rows)


@pytest.mark.parametrize("n_buckets", [1, 64])
def test_manifest_rows_match_committed_spans(docs, tmp_path, n_buckets):
    """One bucket holds every doc; 64 buckets over the tiny corpus
    leave some empty. Either way the manifest has exactly
    MANIFEST_SCHEMA and one row per bucket whose metrics are the sums
    over that bucket's committed span rows."""
    spark = docs.sparkSession
    out_dir = str(tmp_path / f"schema{n_buckets}")
    run_checkpointed_extraction(docs, out_dir, n_buckets=n_buckets)
    manifest = read_manifest(spark, out_dir)
    assert manifest.schema == StructType.fromDDL(MANIFEST_SCHEMA)

    sums = defaultdict(Counter)
    accuracy = defaultdict(list)
    for r in read_committed(spark, out_dir).collect():
        sums[r.bucket].update(
            docs=1,
            pages_parsed=r.pages_parsed,
            tables_found=r.n_tables,
            rotation_corrections=r.rotation_corrections,
            quality_retries=r.quality_retried,
        )
        if r.validation_status == "completed":
            accuracy[r.bucket].append(r.accuracy_pct)
    rows = {r.bucket: r for r in manifest.collect()}
    assert sorted(rows) == list(range(n_buckets))
    empty = set(rows) - set(sums)
    assert bool(empty) == (n_buckets > 1)
    for bucket, row in rows.items():
        for col in ("docs", "pages_parsed", "tables_found",
                    "rotation_corrections", "quality_retries"):
            assert row[col] == sums[bucket][col], (bucket, col)
        acc = accuracy[bucket]
        if acc:
            assert row.accuracy_pct == pytest.approx(sum(acc) / len(acc), abs=0.006)
        else:
            assert row.accuracy_pct is None, bucket
    for bucket in empty:
        assert rows[bucket].docs == 0


def test_doc_validation_metrics(result_df):
    byid = {r.doc_id: r for r in result_df.collect()}
    # all-image doc has no text layer -> validation skipped
    assert byid["doc-pin-image"].validation_status == "skipped"
    # clean text docs validate perfectly: every table number came from
    # the page text, so accuracy is 100 minus prose-absent cells... the
    # continuation doc's cells are all present in its page text:
    cont = byid["doc-pin-continuation"]
    assert cont.validation_status == "completed"
    assert cont.pdf_numbers > 0
    assert cont.accuracy_pct > 0


def test_input_pruned_resume_matches_full_run(docs, result_df, tmp_path):
    """Kill after the first commit group of 3 buckets (a crash point off
    the half-way mark), rerun: the bucket filter on the input scan
    re-extracts only the 5 uncommitted buckets, and the committed table
    equals the plain extraction result."""
    spark = docs.sparkSession
    crash_dir = str(tmp_path / "crash_pruned")

    with pytest.raises(CheckpointAbort):
        run_checkpointed_extraction(
            docs,
            crash_dir,
            n_buckets=N_BUCKETS,
            commit_group_size=3,
            fail_after_groups=1,
        )
    partial = committed_buckets(spark, crash_dir)
    assert len(partial) == 3

    out = run_checkpointed_extraction(docs, crash_dir, n_buckets=N_BUCKETS)
    assert set(out["skipped"]) == partial
    assert set(out["committed"]) == set(range(N_BUCKETS)) - partial
    assert _span_set(read_committed(spark, crash_dir)) == _span_set(
        result_df.select("doc_id", "spans")
    )
