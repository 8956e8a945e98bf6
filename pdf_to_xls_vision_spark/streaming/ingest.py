"""Structured Streaming ingest: continuously-arriving span documents.

The reference is strictly batch (one process per file; SURVEY.md §2.12
notes no streaming counterpart), but a 10^12-document corpus is never
static — new documents land while the backfill runs. This stage wires
the same extraction pipeline into ``readStream -> foreachBatch`` with
exactly-once end-to-end semantics:

- **file pickup**: Spark's streaming checkpoint records processed
  files, so a restart resumes with unseen files only;
- **output idempotence**: each micro-batch commits its span rows under
  ``(ingest_batch, bucket)`` with dynamic partition overwrite — a
  replayed batch (failure between sink write and checkpoint commit)
  atomically REPLACES exactly its own partitions instead of appending
  duplicates — plus one manifest row per (batch, bucket) with lineage
  and the same extraction metrics as the batch sink (W2);
- **visibility**: ``read_stream_committed`` joins data against the
  manifest, so a half-written batch is invisible, mirroring
  sink/checkpoint.read_committed.

``trigger(availableNow=True)`` drains everything present and stops —
the batch-backfill mode; leaving it unset runs continuously.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_to_xls_vision_spark.operators.pipeline import run_extraction
from pdf_to_xls_vision_spark.sink.checkpoint import (
    DEFAULT_BUCKETS,
    _path_missing,
    require_positive,
    with_bucket,
)
from pdf_to_xls_vision_spark.sources.span_docs import stream_span_docs

STREAM_MANIFEST_SCHEMA = (
    "ingest_batch long, bucket int, docs long, pages_parsed long, "
    "tables_found long, rotation_corrections long, quality_retries long, "
    "lineage struct<input_snapshot string, committed_at_ts long>"
)


def _spans_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "spans")


def _manifest_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "manifest")


def _commit_micro_batch(
    batch_df: DataFrame,
    batch_id: int,
    out_dir: str,
    n_buckets: int,
    input_snapshot: str,
    backend=None,
) -> None:
    result = run_extraction(batch_df, backend=backend)
    chunk = with_bucket(result, n_buckets).withColumn(
        "ingest_batch", F.lit(batch_id).cast("long")
    )
    (
        chunk.write.format("parquet")
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest_batch", "bucket")
        .save(_spans_dir(out_dir))
    )
    # Aggregate the manifest metrics from the parquet JUST WRITTEN, not
    # from `chunk`: the extraction plan is lazy and caches nothing, so
    # `chunk.groupBy` would re-execute the whole UDF pipeline a second
    # time per micro-batch (this exact re-execution was the dominant
    # per-batch fixed cost behind the 47-vs-451 docs/sec streaming gap
    # in BENCH_r03). The read-back is a column-pruned scan of the five
    # small metric columns of this batch's partition only; the data is
    # identical by construction.
    spark = batch_df.sparkSession
    batch_part = os.path.join(
        _spans_dir(out_dir), f"ingest_batch={batch_id}"
    )
    if _path_missing(spark, batch_part):
        return  # empty micro-batch: nothing written, nothing to commit
    written = (
        spark.read.option("basePath", _spans_dir(out_dir))
        .parquet(batch_part)
    )
    now = int(time.time())
    metrics = (
        written.groupBy("ingest_batch", "bucket")
        .agg(
            F.count("*").alias("docs"),
            F.sum("pages_parsed").alias("pages_parsed"),
            F.sum("n_tables").alias("tables_found"),
            F.sum("rotation_corrections").alias("rotation_corrections"),
            F.sum("quality_retried").alias("quality_retries"),
        )
        .withColumn(
            "lineage",
            F.struct(
                F.lit(input_snapshot).alias("input_snapshot"),
                F.lit(now).alias("committed_at_ts"),
            ),
        )
    )
    # dynamic overwrite on ingest_batch makes the manifest itself
    # replay-idempotent: a micro-batch replayed after a failure between
    # this write and the streaming-checkpoint commit REPLACES its own
    # manifest partition instead of appending a duplicate row, so
    # metric aggregations over the manifest never double-count.
    (
        metrics.write.format("parquet")
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest_batch")
        .save(_manifest_dir(out_dir))
    )


def stream_extraction(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    n_buckets: int = DEFAULT_BUCKETS,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    backend=None,
):
    """Start the streaming extraction job; returns the StreamingQuery.

    Callers ``.awaitTermination()`` it (availableNow drains and stops).
    """
    require_positive(n_buckets=n_buckets)
    docs = stream_span_docs(
        spark, input_dir, max_files_per_trigger=max_files_per_trigger
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        _commit_micro_batch(
            batch_df, batch_id, out_dir, n_buckets, input_dir, backend
        )

    writer = docs.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_stream_committed(
    spark: SparkSession, out_dir: str, as_of_batch: int | None = None
) -> DataFrame:
    """Committed stream output: rows whose (ingest_batch, bucket) has a
    manifest row — a replayed-but-uncommitted micro-batch is invisible.

    ``as_of_batch`` is the Iceberg snapshot-read analog: only batches
    with ``ingest_batch <= as_of_batch`` are visible, reproducing the
    table exactly as a reader saw it after that micro-batch committed
    (the sink only appends new ``ingest_batch=`` partitions, so
    history is never rewritten). The bound is applied to BOTH the span
    scan (a partition-pruning predicate on the ``ingest_batch=``
    directory layout — pruned batches are never read) and the
    manifest, keeping the gate and the data consistent."""
    spans = spark.read.parquet(_spans_dir(out_dir))
    manifest = spark.read.parquet(_manifest_dir(out_dir))
    if as_of_batch is not None:
        spans = spans.where(F.col("ingest_batch") <= as_of_batch)
        manifest = manifest.where(F.col("ingest_batch") <= as_of_batch)
    gate = manifest.select("ingest_batch", "bucket").distinct()
    return spans.join(
        F.broadcast(gate), ["ingest_batch", "bucket"], "left_semi"
    )
