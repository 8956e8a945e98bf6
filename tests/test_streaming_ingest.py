"""Structured Streaming ingest: exactly-once pickup of arriving files,
output parity with the batch pipeline, and restart-without-reprocess."""

import os

import pytest

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from pdf_to_xls_vision_spark.corpus import corpus_to_arrow, generate_corpus
from pdf_to_xls_vision_spark.operators.pipeline import run_extraction
from pdf_to_xls_vision_spark.streaming.ingest import (
    read_stream_committed,
    stream_extraction,
)

N_BUCKETS = 8


def _span_set(df):
    rows = df.select("doc_id", F.explode_outer("spans").alias("s")).collect()
    return {
        (r.doc_id, None if r.s is None else (r.s.kind, r.s.text, r.s.media_ref, r.s.order))
        for r in rows
    }


@pytest.mark.slow
def test_stream_matches_batch_and_resumes(spark, tiny_corpus, tmp_path):
    docs = generate_corpus(24)
    in_dir = str(tmp_path / "incoming")
    os.makedirs(in_dir)
    # two files land "first", one arrives later
    pq.write_table(corpus_to_arrow(docs[:10]), f"{in_dir}/part-0.parquet")
    pq.write_table(corpus_to_arrow(docs[10:20]), f"{in_dir}/part-1.parquet")

    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    q = stream_extraction(
        spark, in_dir, out_dir, ckpt, n_buckets=N_BUCKETS, available_now=True
    )
    q.awaitTermination(600)
    first = read_stream_committed(spark, out_dir)
    assert first.select("doc_id").distinct().count() == 20

    # batch parity on the same input
    batch = run_extraction(
        spark.read.parquet(in_dir).select("doc_id", "spans")
    ).select("doc_id", "spans")
    assert _span_set(first.select("doc_id", "spans")) == _span_set(batch)

    # late file arrives; restart from the same checkpoint
    pq.write_table(corpus_to_arrow(docs[20:]), f"{in_dir}/part-2.parquet")
    q2 = stream_extraction(
        spark, in_dir, out_dir, ckpt, n_buckets=N_BUCKETS, available_now=True
    )
    q2.awaitTermination(600)

    final = read_stream_committed(spark, out_dir)
    assert final.select("doc_id").distinct().count() == len(docs)
    # exactly-once: every doc appears once, and the first 20 docs kept
    # their original batch rows (no reprocessing of seen files)
    assert final.count() == len(docs)
    batches_per_doc = (
        final.groupBy("doc_id").agg(F.countDistinct("ingest_batch").alias("n"))
    )
    assert batches_per_doc.filter(F.col("n") > 1).count() == 0

    # snapshot read (Iceberg time-travel analog): as-of the last batch
    # of the FIRST run reproduces exactly the pre-restart table — the
    # sink appends new ingest_batch= partitions, never rewrites history
    first_max = first.agg(F.max("ingest_batch")).collect()[0][0]
    snap = read_stream_committed(spark, out_dir, as_of_batch=first_max)
    assert _span_set(snap.select("doc_id", "spans")) == _span_set(
        first.select("doc_id", "spans")
    )
    assert snap.count() == 20
    # as-of beyond the newest batch sees everything
    assert (
        read_stream_committed(spark, out_dir, as_of_batch=first_max + 10).count()
        == len(docs)
    )
    # as-of before the first batch sees nothing
    assert read_stream_committed(spark, out_dir, as_of_batch=-1).count() == 0


@pytest.mark.slow
def test_replayed_micro_batch_manifest_idempotent(spark, tiny_corpus, tmp_path):
    """A micro-batch replayed after a failure between the manifest write
    and the streaming-checkpoint commit must not duplicate manifest rows
    (metrics aggregations would double-count): commit the same batch_id
    twice and check one manifest row per (ingest_batch, bucket)."""
    import pyarrow.parquet as pq

    from pdf_to_xls_vision_spark.corpus import corpus_to_arrow
    from pdf_to_xls_vision_spark.streaming.ingest import (
        _commit_micro_batch,
        _manifest_dir,
        read_stream_committed,
    )

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    import os

    os.makedirs(in_dir)
    pq.write_table(corpus_to_arrow(tiny_corpus[:10]), f"{in_dir}/part-1.parquet")
    batch = spark.read.parquet(in_dir).select("doc_id", "spans")

    _commit_micro_batch(batch, 7, out_dir, 8, in_dir)
    _commit_micro_batch(batch, 7, out_dir, 8, in_dir)  # the replay

    man = spark.read.parquet(_manifest_dir(out_dir))
    assert man.count() == man.select("ingest_batch", "bucket").distinct().count()
    docs = read_stream_committed(spark, out_dir)
    assert docs.count() == docs.select("doc_id").distinct().count() == 10


def test_micro_batch_commit_probes_the_spark_filesystem(
    spark, tiny_corpus, tmp_path, monkeypatch
):
    """Whether a micro-batch wrote anything is asked of the filesystem
    Spark writes to (the Hadoop-FS probe), not of the driver's local
    disk, which never holds an hdfs:// or s3a:// output: a probe that
    reports the batch partition missing means no manifest row."""
    from pdf_to_xls_vision_spark.streaming import ingest

    in_path = str(tmp_path / "in.parquet")
    out_dir = str(tmp_path / "out")
    pq.write_table(corpus_to_arrow(tiny_corpus[:4]), in_path)
    probed = []

    def missing(spark_, path):
        probed.append(path)
        return True

    monkeypatch.setattr(ingest, "_path_missing", missing)
    ingest._commit_micro_batch(spark.read.parquet(in_path), 3, out_dir, 4, in_path)
    assert probed == [os.path.join(ingest._spans_dir(out_dir), "ingest_batch=3")]
    assert os.path.isdir(probed[0])
    assert not os.path.exists(ingest._manifest_dir(out_dir))


def _commit_files(spark, tmp_path, docs, batch_ids):
    """Commit ``docs`` split evenly over ``batch_ids`` micro-batches."""
    from pdf_to_xls_vision_spark.streaming.ingest import _commit_micro_batch

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    os.makedirs(in_dir)
    step = len(docs) // len(batch_ids)
    for i, batch_id in enumerate(batch_ids):
        path = f"{in_dir}/part-{batch_id}.parquet"
        pq.write_table(corpus_to_arrow(docs[i * step : (i + 1) * step]), path)
        _commit_micro_batch(spark.read.parquet(path), batch_id, out_dir, 4, in_dir)
    return out_dir


def test_stream_manifest_matches_declared_schema(spark, tiny_corpus, tmp_path):
    """The manifest files carry exactly STREAM_MANIFEST_SCHEMA (less the
    ``ingest_batch`` partition column, which lives in the directory
    name), so ``lineage.committed_at_ts`` is a long, not an int."""
    from pyspark.sql.types import StructType

    from pdf_to_xls_vision_spark.sink.checkpoint import _manifest_dir
    from pdf_to_xls_vision_spark.streaming.ingest import STREAM_MANIFEST_SCHEMA

    out_dir = _commit_files(spark, tmp_path, tiny_corpus[:6], [5])
    declared = StructType.fromDDL(STREAM_MANIFEST_SCHEMA)
    written = spark.read.parquet(os.path.join(_manifest_dir(out_dir), "ingest_batch=5"))
    assert written.schema == StructType(
        [f for f in declared.fields if f.name != "ingest_batch"]
    )


def test_mixed_width_manifest_still_reads(spark, tiny_corpus, tmp_path):
    """A manifest directory where one batch was committed with an int32
    ``committed_at_ts`` (as older commits wrote it) and one with a long
    still reads through the committed-output gate."""
    import shutil

    from pdf_to_xls_vision_spark.sink.checkpoint import _manifest_dir

    docs = tiny_corpus[:8]
    out_dir = _commit_files(spark, tmp_path, docs, [0, 1])
    old = os.path.join(_manifest_dir(out_dir), "ingest_batch=0")
    narrowed = str(tmp_path / "narrowed")
    spark.read.parquet(old).withColumn(
        "lineage",
        F.struct(
            F.col("lineage.input_snapshot").alias("input_snapshot"),
            F.col("lineage.committed_at_ts").cast("int").alias("committed_at_ts"),
        ),
    ).write.parquet(narrowed)
    shutil.rmtree(old)
    shutil.move(narrowed, old)

    def ts_type(batch_dir):
        part = next(f for f in os.listdir(batch_dir) if f.endswith(".parquet"))
        return pq.read_schema(os.path.join(batch_dir, part)).field(
            "lineage"
        ).type.field("committed_at_ts").type

    assert str(ts_type(old)) == "int32"
    assert str(ts_type(old.replace("=0", "=1"))) == "int64"

    committed = read_stream_committed(spark, out_dir)
    assert committed.select("doc_id").distinct().count() == len(docs)
    assert {r.ingest_batch for r in committed.select("ingest_batch").collect()} == {0, 1}
