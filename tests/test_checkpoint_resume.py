"""W2 semantics: idempotent bucket commits, kill-and-rerun resume,
manifest metrics + lineage (FIXTURES.md §5)."""

import os
import subprocess
import sys
import textwrap

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameReader
from pyspark.sql.types import StructType

from pdf_to_xls_vision_spark.operators.pipeline import run_extraction
from pdf_to_xls_vision_spark.sink import checkpoint
from pdf_to_xls_vision_spark.sink.checkpoint import (
    MANIFEST_SCHEMA,
    committed_buckets,
    read_committed,
    read_manifest,
    run_checkpointed_extraction,
)
from tests.manifest_check import assert_manifest_matches_spans

pytestmark = pytest.mark.slow  # multi-minute module; fast path skips it

N_BUCKETS = 8


@pytest.fixture(scope="module")
def docs(spark, tiny_corpus_path):
    return spark.read.parquet(tiny_corpus_path)


@pytest.fixture(scope="module")
def result_df(docs):
    return run_extraction(docs).cache()


class SimulatedCrash(RuntimeError):
    """A mid-run crash of the job between two commit groups."""


def _crash_after_groups(monkeypatch, n_groups):
    """Make ``run_checkpointed_extraction`` die before committing group
    ``n_groups`` (0-based), after committing the groups before it."""
    commit = checkpoint._commit_group
    done = []

    def commit_or_crash(*args, **kwargs):
        if len(done) >= n_groups:
            raise SimulatedCrash(f"before group {len(done)}")
        commit(*args, **kwargs)
        done.append(args[1])

    monkeypatch.setattr(checkpoint, "_commit_group", commit_or_crash)


def _span_set(df):
    rows = df.select("doc_id", F.explode_outer("spans").alias("s")).collect()
    return {
        (r.doc_id, None if r.s is None else (r.s.kind, r.s.text, r.s.media_ref, r.s.order))
        for r in rows
    }


def test_kill_and_rerun_equals_uninterrupted(docs, result_df, tmp_path, monkeypatch):
    """Kill after 2 of 4 commit groups, rerun: the resume commits only
    the uncommitted buckets and the committed table equals both an
    uninterrupted run and the plain extraction result."""
    spark = docs.sparkSession
    clean_dir = str(tmp_path / "clean")
    crash_dir = str(tmp_path / "crash")

    run_checkpointed_extraction(
        docs, clean_dir, n_buckets=N_BUCKETS, input_snapshot="tiny"
    )

    with monkeypatch.context() as m, pytest.raises(SimulatedCrash):
        _crash_after_groups(m, 2)
        run_checkpointed_extraction(
            docs,
            crash_dir,
            n_buckets=N_BUCKETS,
            commit_group_size=2,
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


def test_resume_reads_the_manifest_once(docs, tmp_path, monkeypatch):
    """A resumed run learns its committed buckets and its attempt
    number from one read of the manifest."""
    spark = docs.sparkSession
    out_dir = str(tmp_path / "resume")
    spark.createDataFrame(
        [
            (b, 1, 1, 0, 0, 0, None, ("x", 1 + b % 2, 0))
            for b in range(N_BUCKETS)
        ],
        MANIFEST_SCHEMA,
    ).write.parquet(checkpoint._manifest_dir(out_dir))
    reads = []
    parquet = DataFrameReader.parquet

    def recording_parquet(self, *paths, **options):
        reads.extend(paths)
        return parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", recording_parquet)
    out = run_checkpointed_extraction(docs, out_dir, n_buckets=N_BUCKETS)
    assert out == {
        "committed": [],
        "skipped": list(range(N_BUCKETS)),
        "attempt": 3,
        "totals": {
            "docs": N_BUCKETS,
            "pages_parsed": N_BUCKETS,
            "tables_found": 0,
            "rotation_corrections": 0,
            "quality_retries": 0,
        },
    }
    assert reads == [os.path.join(out_dir, "manifest")]


@pytest.mark.parametrize("n_buckets", [1, 64])
def test_manifest_rows_match_committed_spans(docs, tmp_path, n_buckets):
    """One bucket holds every doc; 64 buckets over the tiny corpus
    leave some empty. Either way the manifest files have exactly
    MANIFEST_SCHEMA and one row per bucket whose metrics are the sums
    over that bucket's committed span rows."""
    spark = docs.sparkSession
    out_dir = str(tmp_path / f"schema{n_buckets}")
    run_checkpointed_extraction(docs, out_dir, n_buckets=n_buckets)
    written = spark.read.parquet(checkpoint._manifest_dir(out_dir))
    assert written.schema == StructType.fromDDL(MANIFEST_SCHEMA)

    rows = read_manifest(spark, out_dir).collect()
    assert sorted(r.bucket for r in rows) == list(range(n_buckets))
    empty = assert_manifest_matches_spans(
        rows, read_committed(spark, out_dir).collect(), ["bucket"]
    )
    assert bool(empty) == (n_buckets > 1)
    assert all(r.docs == 0 for r in rows if (r.bucket,) in empty)


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


def test_input_pruned_resume_matches_full_run(docs, result_df, tmp_path, monkeypatch):
    """Kill after the first commit group of 3 buckets (a crash point off
    the half-way mark), rerun: the bucket filter on the input scan
    re-extracts only the 5 uncommitted buckets, and the committed table
    equals the plain extraction result."""
    spark = docs.sparkSession
    crash_dir = str(tmp_path / "crash_pruned")

    with monkeypatch.context() as m, pytest.raises(SimulatedCrash):
        _crash_after_groups(m, 1)
        run_checkpointed_extraction(
            docs,
            crash_dir,
            n_buckets=N_BUCKETS,
            commit_group_size=3,
        )
    partial = committed_buckets(spark, crash_dir)
    assert len(partial) == 3

    out = run_checkpointed_extraction(docs, crash_dir, n_buckets=N_BUCKETS)
    assert set(out["skipped"]) == partial
    assert set(out["committed"]) == set(range(N_BUCKETS)) - partial
    assert _span_set(read_committed(spark, crash_dir)) == _span_set(
        result_df.select("doc_id", "spans")
    )


def test_resume_drops_a_stale_partition_of_an_empty_bucket(docs, result_df, tmp_path):
    """A crash between the spans write and the manifest append leaves a
    bucket's span files without a manifest row. When the resumed input
    has no docs in that bucket, dynamic overwrite writes nothing there,
    so the commit must delete the stale files before the bucket's
    ``docs`` 0 manifest row makes them committed."""
    spark = docs.sparkSession
    out_dir = str(tmp_path / "stale")
    bucketed = checkpoint.with_bucket(result_df, N_BUCKETS)
    stale = bucketed.groupBy("bucket").count().orderBy(F.desc("count")).first()
    checkpoint.overwrite_partitions(
        bucketed.filter(F.col("bucket") == stale.bucket),
        checkpoint._spans_dir(out_dir),
        "bucket",
    )
    changed = checkpoint.with_bucket(docs, N_BUCKETS).filter(
        F.col("bucket") != stale.bucket
    ).drop("bucket")

    out = run_checkpointed_extraction(changed, out_dir, n_buckets=N_BUCKETS)
    assert out["committed"] == list(range(N_BUCKETS))
    committed = read_committed(spark, out_dir)
    assert committed.filter(F.col("bucket") == stale.bucket).count() == 0
    rows = read_manifest(spark, out_dir).collect()
    empty = assert_manifest_matches_spans(rows, committed.collect(), ["bucket"])
    assert (stale.bucket,) in empty
    assert out["totals"]["docs"] == changed.count()


_RETRY_FAILS_ONCE = textwrap.dedent(
    """
    import os, sys
    from pyspark import TaskContext
    from pdf_to_xls_vision_spark.operators import pipeline
    from pdf_to_xls_vision_spark.session import get_spark
    from pdf_to_xls_vision_spark.sink.checkpoint import run_checkpointed_extraction

    corpus, out_dir, marker = sys.argv[1:]
    make = pipeline.make_vision_extractor

    def make_vision_extractor(backend=None):
        inner = make(backend)

        def extract(batches):
            def failing_first_retry():
                for b in batches:
                    retry = (b["route"] == "text").any()
                    if retry and TaskContext.get().attemptNumber() == 0:
                        open(marker, "a").close()
                        raise RuntimeError("injected R2 retry failure")
                    yield b

            return inner(failing_first_retry())

        return extract

    pipeline.make_vision_extractor = make_vision_extractor
    spark = get_spark("retry-once", master="local[2,2]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    run_checkpointed_extraction(spark.read.parquet(corpus), out_dir, n_buckets=4)
    spark.stop()
    """
)


def test_fold_counts_only_the_committed_task_attempt(
    docs, tiny_corpus, tiny_corpus_path, tmp_path
):
    """A merge task that fails after folding some documents' metrics
    and succeeds on its retry must leave each document committed once
    and the manifest equal to the committed spans: Spark drops the
    failed attempt's accumulator update along with its files. Run at
    ``local[2,2]`` (task retries allowed) in a subprocess, with the
    inline R2 retry raising on every task's first attempt."""
    out_dir = str(tmp_path / "retried")
    marker = str(tmp_path / "failed-once")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {
        **os.environ,
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        ),
        "SPARK_DRIVER_MEM": "2g",
    }
    env.pop("SPARK_GRAFT_MASTER", None)
    subprocess.run(
        [sys.executable, "-c", _RETRY_FAILS_ONCE, tiny_corpus_path, out_dir, marker],
        env=env,
        check=True,
        timeout=600,
    )
    assert os.path.exists(marker)

    spark = docs.sparkSession
    committed = read_committed(spark, out_dir).collect()
    assert sorted(r.doc_id for r in committed) == sorted(d for d, _ in tiny_corpus)
    assert_manifest_matches_spans(
        read_manifest(spark, out_dir).collect(), committed, ["bucket"]
    )


def test_wipe_takes_paths_literally(spark, tmp_path):
    """``wipe`` deletes the named path, a file:// URI included, never
    what it would match as a glob pattern, and a missing path is no
    error."""
    for name in ("out[1]", "out1", "kept"):
        (tmp_path / name / "spans").mkdir(parents=True)
    checkpoint.wipe(spark, f"file://{tmp_path}/out[1]", str(tmp_path / "gone"))
    assert sorted(os.listdir(tmp_path)) == ["kept", "out1"]
    checkpoint.wipe(spark, str(tmp_path / "kept"))
    assert sorted(os.listdir(tmp_path)) == ["out1"]
