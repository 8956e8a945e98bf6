"""Structured Streaming ingest: continuously-arriving span documents.

The reference is strictly batch (one process per file; SURVEY.md §2.12
notes no streaming counterpart), but a 10^12-document corpus is never
static — new documents land while the backfill runs. This module wires
the extraction pipeline into ``readStream -> foreachBatch``: Spark's
streaming checkpoint records processed files, so a restart resumes with
unseen files only, and each micro-batch is extracted once and committed
through the shared commit protocol
(``sink/checkpoint.commit_stream_batch``: replay-idempotent
``(ingest_batch, bucket)`` partitions plus manifest rows, read through
the manifest-gated ``read_stream_committed``). The one run of the
extraction plan is the spans write; its merge tasks fold the manifest
metrics (``ManifestFold``), so nothing is read back.

``trigger(availableNow=True)`` drains everything present and stops —
the batch-backfill mode; leaving it unset runs continuously.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pdf_to_xls_vision_spark.operators.pipeline import run_extraction
from pdf_to_xls_vision_spark.sink.checkpoint import (  # noqa: F401
    DEFAULT_BUCKETS,
    ManifestFold,
    commit_stream_batch,
    read_stream_committed,
    require_positive,
)
from pdf_to_xls_vision_spark.sources.span_docs import stream_span_docs


def _commit_micro_batch(
    batch_df: DataFrame,
    batch_id: int,
    out_dir: str,
    n_buckets: int,
    input_snapshot: str,
    backend=None,
) -> None:
    """The ``foreachBatch`` body: extract the micro-batch, commit it."""
    fold = ManifestFold(batch_df.sparkSession, n_buckets)
    result = run_extraction(batch_df, backend=backend, fold=fold)
    commit_stream_batch(result, fold, batch_id, out_dir, input_snapshot)


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
