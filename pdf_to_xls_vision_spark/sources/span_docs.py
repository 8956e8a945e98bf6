"""Span-document source (S1).

The reference "source" is a directory glob over .pdf/image files
(converter.py:203-221); here the corpus is a table of interleaved
text+media span documents (BASELINE.json input_hint):

    doc_id : string
    spans  : array<struct<kind string, text string,
                          media_ref string, offset int>>

``read_span_docs`` is the batch scan of a parquet table (an Iceberg
table would need its runtime jar and a format switch here);
``stream_span_docs`` is the unbounded variant for continuously-arriving
corpora (new parquet files under the path become micro-batches; Spark's
streaming checkpoint tracks processed files, giving exactly-once file
pickup across restarts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

SPAN_DOC_SCHEMA = (
    "doc_id string, "
    "spans array<struct<kind string, text string, media_ref string, offset int>>"
)


def read_span_docs(spark: SparkSession, path: str) -> DataFrame:
    """Batch scan of the span-document corpus. The declared schema
    reads only (doc_id, spans) however wide the physical table is, and
    spares the footer-inference job Spark would otherwise run before
    the first stage."""
    return spark.read.schema(SPAN_DOC_SCHEMA).format("parquet").load(path)


def stream_span_docs(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Unbounded scan: files appearing under ``path`` feed micro-batches.

    ``max_files_per_trigger`` bounds per-batch work (the streaming
    analogue of the commit-group size)."""
    reader = spark.readStream.schema(SPAN_DOC_SCHEMA).format("parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)
