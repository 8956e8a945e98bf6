"""The commit protocol (W2), shared by the batch sink, the streaming
ingest and the span-table compaction: idempotent per-partition commits
with lineage + metrics.

The reference "checkpoints" by rewriting the whole Excel workbook every
10 pages (excel_writer.py:262-302; trigger table_extraction.py:202-203).
At 10^12 documents the unit of commit must be a *partition*, and commits
must be idempotent and resumable. This module:

- buckets documents by ``pmod(xxhash64(doc_id), n_buckets)`` — a stable,
  data-independent partition key, also the layout partition column, so
  resume filters prune file listings (partition pruning);
- writes span rows with one writer, ``overwrite_partitions`` (**dynamic
  partition overwrite**): re-running a bucket, replaying a micro-batch
  or compacting a bucket atomically replaces exactly that partition, so
  a task, job or trigger retry can never duplicate spans;
- writes one manifest row per committed partition: the
  ``MANIFEST_METRICS`` (docs, pages_parsed, tables_found,
  rotation_corrections, quality_retries, accuracy_pct) from one
  projection + aggregate, plus each sink's own lineage and write mode;
- gates every read of committed output on the manifest, so data
  written without its manifest row is invisible;
- resumes by anti-filtering committed buckets: only the manifest — a
  tiny table — is read on restart, and commit groups bound the work
  lost to a mid-run failure (the ``save_every`` analogue).

An Iceberg runtime jar is not bundled with this sandbox's PySpark; the
sink's parquet layout reproduces the snapshot-isolation property needed
here (per-partition atomic replace + manifest-gated reads). Swapping
``format("parquet")`` for ``format("iceberg")`` preserves semantics.
"""

from __future__ import annotations

import os
import time

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_BUCKETS = 64

#: manifest column -> the extraction-result column it sums per
#: partition (``None``: one per document row)
MANIFEST_SUMS = {
    "docs": None,
    "pages_parsed": "pages_parsed",
    "tables_found": "n_tables",
    "rotation_corrections": "rotation_corrections",
    "quality_retries": "quality_retried",
}
#: the metric columns of both manifests: the sums, then accuracy_pct
#: averaged over the partition's ``completed`` documents
MANIFEST_METRICS = (
    ", ".join(f"{name} long" for name in MANIFEST_SUMS) + ", accuracy_pct double"
)
MANIFEST_SCHEMA = (
    f"bucket int, {MANIFEST_METRICS}, "
    "lineage struct<input_snapshot string, attempt int, committed_at_ts long>"
)
STREAM_MANIFEST_SCHEMA = (
    f"ingest_batch long, bucket int, {MANIFEST_METRICS}, "
    "lineage struct<input_snapshot string, committed_at_ts long>"
)
_STREAM_KEYS = ("ingest_batch", "bucket")


def _spans_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "spans")


def _manifest_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "manifest")


def require_positive(**params) -> None:
    """Fail fast on a count parameter below 1 (``None`` means "use the
    default"): a zero or negative bucket count or commit-group size
    would otherwise plan no commit at all and report success."""
    for name, value in params.items():
        if value is not None and value < 1:
            raise ValueError(f"{name} must be >= 1, got {value}")


def with_bucket(df: DataFrame, n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")
    )


def _path_missing(spark: SparkSession, path: str) -> bool:
    """True when ``path`` does not exist on the filesystem Spark will
    actually read — probed via the Hadoop FileSystem API, so a
    scheme-less path resolves against ``fs.defaultFS`` (HDFS/S3A on a
    cluster, local in tests) instead of assuming the driver's local
    disk. Avoids an expected-but-noisy AnalysisException on the first
    run against a fresh out_dir; on any probe error we report "not
    missing" and fall through to the guarded read attempt."""
    try:
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        return not fs.exists(jpath)
    except Exception:
        return False


def overwrite_partitions(df: DataFrame, path: str, *keys: str) -> None:
    """The protocol's one partitioned writer: dynamic partition
    overwrite on ``keys``, so a rerun atomically replaces exactly the
    partitions ``df`` holds and leaves every other one alone."""
    (
        df.write.format("parquet")
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*keys)
        .save(path)
    )


def _metric_rows(result: DataFrame, *keys: str) -> DataFrame:
    """The manifest's per-document projection of extraction-result
    rows: the partition ``keys``, one term per ``MANIFEST_SUMS`` column,
    and ``accuracy_pct`` for ``completed`` documents only."""
    return result.select(
        *keys,
        *(
            (F.lit(1) if src is None else F.col(src)).alias(name)
            for name, src in MANIFEST_SUMS.items()
        ),
        F.when(
            F.col("validation_status") == "completed", F.col("accuracy_pct")
        ).alias("accuracy_pct"),
    )


def _manifest_rows(rows: DataFrame, keys, lineage: Column) -> DataFrame:
    """One manifest row per partition of ``_metric_rows`` output: the
    sums as longs, ``accuracy_pct`` averaged over non-null terms (null
    when the partition has no ``completed`` doc), then ``lineage``."""
    return rows.groupBy(*keys).agg(
        *(F.sum(name).cast("long").alias(name) for name in MANIFEST_SUMS),
        F.round(F.avg("accuracy_pct"), 2).alias("accuracy_pct"),
        lineage.alias("lineage"),
    )


def read_manifest(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.schema(MANIFEST_SCHEMA).parquet(_manifest_dir(out_dir))


def _resume_state(spark: SparkSession, out_dir: str) -> tuple[set[int], int]:
    """The committed buckets and the next attempt number, from one read
    of the manifest (none and 1 on a fresh ``out_dir``)."""
    if _path_missing(spark, _manifest_dir(out_dir)):
        return set(), 1
    try:
        rows = (
            read_manifest(spark, out_dir)
            .groupBy("bucket")
            .agg(F.max("lineage.attempt").alias("attempt"))
            .collect()
        )
    except AnalysisException:  # missing after all: the probe failed
        return set(), 1
    return {r.bucket for r in rows}, 1 + max((r.attempt or 0 for r in rows), default=0)


def committed_buckets(spark: SparkSession, out_dir: str) -> set[int]:
    return _resume_state(spark, out_dir)[0]


def _commit_group(
    chunk: DataFrame,
    group: list[int],
    out_dir: str,
    input_snapshot: str,
    attempt: int,
) -> None:
    """Commit one bucket group in two actions: the span rows, then the
    manifest (append). A crash between the two leaves the group
    uncommitted, and the rerun's overwrite is idempotent.

    The manifest aggregates ``chunk``'s metric rows unioned with one
    zero row per bucket of the group, built in the JVM, so every bucket
    gets its row, empty ones included (``docs`` 0, ``accuracy_pct``
    null), without a driver-side round trip. The aggregate re-runs the
    extraction plan once more; the spans write is the other run."""
    overwrite_partitions(chunk, _spans_dir(out_dir), "bucket")
    zeros = chunk.sparkSession.range(1).select(
        F.explode(F.lit(group).cast("array<int>")).alias("bucket"),
        *(F.lit(0).alias(name) for name in MANIFEST_SUMS),
        F.lit(None).cast("double").alias("accuracy_pct"),
    )
    lineage = F.struct(
        F.lit(input_snapshot).alias("input_snapshot"),
        F.lit(attempt).cast("int").alias("attempt"),
        F.lit(int(time.time())).cast("long").alias("committed_at_ts"),
    )
    rows = _metric_rows(chunk, "bucket").unionByName(zeros)
    manifest = _manifest_rows(rows, ["bucket"], lineage)
    manifest.write.format("parquet").mode("append").save(_manifest_dir(out_dir))


def commit_stream_batch(
    chunk: DataFrame, batch_id: int, out_dir: str, input_snapshot: str
) -> None:
    """Commit one micro-batch's bucketed result under
    ``(ingest_batch, bucket)``: the span rows, then the manifest rows,
    which replace the batch's ``ingest_batch`` manifest partition, so a
    micro-batch replayed after a failure before the streaming-checkpoint
    commit never leaves a duplicate row.

    The metrics are read back from the partition just written — a
    column-pruned scan of this batch's files — so the extraction plan
    runs once per micro-batch. An empty micro-batch writes nothing and
    gets no manifest row."""
    spark = chunk.sparkSession
    spans = _spans_dir(out_dir)
    overwrite_partitions(
        chunk.withColumn("ingest_batch", F.lit(batch_id).cast("long")),
        spans,
        *_STREAM_KEYS,
    )
    batch_part = os.path.join(spans, f"ingest_batch={batch_id}")
    if _path_missing(spark, batch_part):
        return
    written = spark.read.option("basePath", spans).parquet(batch_part)
    lineage = F.struct(
        F.lit(input_snapshot).alias("input_snapshot"),
        F.lit(int(time.time())).cast("long").alias("committed_at_ts"),
    )
    overwrite_partitions(
        _manifest_rows(_metric_rows(written, *_STREAM_KEYS), _STREAM_KEYS, lineage),
        _manifest_dir(out_dir),
        "ingest_batch",
    )


def run_checkpointed_extraction(
    docs: DataFrame,
    out_dir: str,
    n_buckets: int = DEFAULT_BUCKETS,
    commit_group_size: int | None = None,
    input_snapshot: str = "",
    force_vision: bool = False,
    backend=None,
    page_partitions: int | None = None,
) -> dict:
    """Resume-pruned checkpointed extraction: bucket the INPUT docs and
    extract one commit group at a time.

    Each group is one ``run_extraction`` plan (``page_partitions`` is
    its page-relation repartition width) committed by
    ``_commit_group``, which executes the plan twice: once for the
    spans write and once for the manifest aggregate.
    """
    from pdf_to_xls_vision_spark.operators.pipeline import run_extraction

    require_positive(
        n_buckets=n_buckets,
        commit_group_size=commit_group_size,
        page_partitions=page_partitions,
    )
    already, attempt = _resume_state(docs.sparkSession, out_dir)
    todo = sorted(set(range(n_buckets)) - already)
    if not todo:
        return {"committed": [], "skipped": sorted(already), "attempt": attempt}

    bucketed_docs = with_bucket(docs, n_buckets)
    group_size = commit_group_size or len(todo)
    committed: list[int] = []
    for i in range(0, len(todo), group_size):
        group = todo[i : i + group_size]
        sub = bucketed_docs.filter(F.col("bucket").isin(group)).drop("bucket")
        result = run_extraction(
            sub,
            force_vision=force_vision,
            backend=backend,
            page_partitions=page_partitions,
        )
        chunk = with_bucket(result, n_buckets)
        _commit_group(chunk, group, out_dir, input_snapshot, attempt)
        committed.extend(group)

    return {"committed": committed, "skipped": sorted(already), "attempt": attempt}


def _read_committed(
    spark: SparkSession, out_dir: str, schema: str, keys, where: Column | None = None
) -> DataFrame:
    """The one committed-read gate: span rows whose partition ``keys``
    have a manifest row (data written without its manifest commit is
    invisible — snapshot isolation by a left-semi join against the
    broadcast manifest keys). ``where`` bounds both sides alike."""
    spans = spark.read.parquet(_spans_dir(out_dir))
    manifest = spark.read.schema(schema).parquet(_manifest_dir(out_dir))
    if where is not None:
        spans, manifest = spans.where(where), manifest.where(where)
    gate = manifest.select(*keys).distinct()
    return spans.join(F.broadcast(gate), list(keys), "left_semi")


def read_committed(spark: SparkSession, out_dir: str) -> DataFrame:
    """The committed batch result: span rows whose bucket has a
    manifest row."""
    return _read_committed(spark, out_dir, MANIFEST_SCHEMA, ["bucket"])


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
    where = None if as_of_batch is None else F.col("ingest_batch") <= as_of_batch
    return _read_committed(
        spark, out_dir, STREAM_MANIFEST_SCHEMA, _STREAM_KEYS, where
    )
