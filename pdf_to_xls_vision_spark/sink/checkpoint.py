"""Idempotent per-partition checkpoint commits with lineage + metrics (W2).

The reference "checkpoints" by rewriting the whole Excel workbook every
10 pages (excel_writer.py:262-302; trigger table_extraction.py:202-203).
At 10^12 documents the unit of commit must be a *partition*, and commits
must be idempotent and resumable. This sink:

- buckets documents by ``pmod(xxhash64(doc_id), n_buckets)`` — a stable,
  data-independent partition key, also the layout partition column, so
  resume filters prune file listings (partition pruning);
- writes span rows with **dynamic partition overwrite**: re-running a
  bucket atomically replaces exactly that bucket's directory, so a task
  or job retry can never duplicate spans;
- appends one manifest row per committed bucket carrying the metrics
  the north star requires (docs, pages_parsed, tables_found,
  rotation_corrections, quality_retries, accuracy) and lineage
  (input_snapshot, attempt, committed_at_ts);
- resumes by anti-filtering committed buckets: only the manifest — a
  tiny table — is read on restart, and commit groups bound the work
  lost to a mid-run failure (the ``save_every`` analogue).

An Iceberg runtime jar is not bundled with this sandbox's PySpark; the
sink's parquet layout reproduces the snapshot-isolation property needed
here (per-partition atomic replace + append-only manifest). Swapping
``format("parquet")`` for ``format("iceberg")`` preserves semantics.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_BUCKETS = 64

MANIFEST_SCHEMA = (
    "bucket int, docs long, pages_parsed long, tables_found long, "
    "rotation_corrections long, quality_retries long, accuracy_pct double, "
    "lineage struct<input_snapshot string, attempt int, committed_at_ts long>"
)


class CheckpointAbort(RuntimeError):
    """Raised by the test-only failure hook to simulate a mid-run crash."""


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


def committed_buckets(spark: SparkSession, out_dir: str) -> set[int]:
    path = _manifest_dir(out_dir)
    if _path_missing(spark, path):
        return set()
    try:
        rows = spark.read.parquet(path).select("bucket").distinct().collect()
    except Exception:
        return set()
    return {r.bucket for r in rows}


def _next_attempt(spark: SparkSession, out_dir: str) -> int:
    if _path_missing(spark, _manifest_dir(out_dir)):
        return 1
    try:
        row = (
            spark.read.parquet(_manifest_dir(out_dir))
            .agg(F.max("lineage.attempt").alias("m"))
            .collect()[0]
        )
        return int(row.m or 0) + 1
    except Exception:
        return 1


#: (manifest column, column of the extraction result it sums)
_METRIC_SUMS = (
    ("pages_parsed", "pages_parsed"),
    ("tables_found", "n_tables"),
    ("rotation_corrections", "rotation_corrections"),
    ("quality_retries", "quality_retried"),
)
#: the manifest columns summed per bucket; `docs` sums a 1 per real row
_SUM_COLS = ("docs", *(name for name, _ in _METRIC_SUMS))


def _commit_group(
    chunk: DataFrame,
    group: list[int],
    out_dir: str,
    input_snapshot: str,
    attempt: int,
) -> None:
    """Commit one bucket group in two actions: the span rows (atomic
    per-bucket dynamic overwrite), then the manifest (append). A crash
    between the two leaves the group uncommitted, and the rerun's
    overwrite is idempotent.

    The manifest is one aggregate over ``chunk``'s metric columns
    unioned with one zero row per bucket of the group, built in the JVM,
    so every bucket gets its row, empty ones included, without a
    driver-side round trip. ``docs`` counts only real rows, the sums
    default to 0, and ``accuracy_pct`` averages the ``completed`` docs
    (null for an empty bucket). The aggregate re-runs the extraction
    plan once more; the spans write is the other run."""
    spark = chunk.sparkSession
    (
        chunk.write.format("parquet")
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .save(_spans_dir(out_dir))
    )
    real = chunk.select(
        "bucket",
        F.lit(1).alias("docs"),
        *(F.col(src).alias(name) for name, src in _METRIC_SUMS),
        F.when(
            F.col("validation_status") == "completed", F.col("accuracy_pct")
        ).alias("accuracy_pct"),
    )
    zeros = spark.range(1).select(
        F.explode(F.lit(group).cast("array<int>")).alias("bucket"),
        *(F.lit(0).alias(name) for name in _SUM_COLS),
        F.lit(None).cast("double").alias("accuracy_pct"),
    )
    metrics = (
        real.unionByName(zeros)
        .groupBy("bucket")
        .agg(
            *(F.sum(name).cast("long").alias(name) for name in _SUM_COLS),
            F.round(F.avg("accuracy_pct"), 2).alias("accuracy_pct"),
            F.struct(
                F.lit(input_snapshot).alias("input_snapshot"),
                F.lit(attempt).cast("int").alias("attempt"),
                F.lit(int(time.time())).cast("long").alias("committed_at_ts"),
            ).alias("lineage"),
        )
    )
    metrics.write.format("parquet").mode("append").save(_manifest_dir(out_dir))


def run_checkpointed_extraction(
    docs: DataFrame,
    out_dir: str,
    n_buckets: int = DEFAULT_BUCKETS,
    commit_group_size: int | None = None,
    input_snapshot: str = "",
    force_vision: bool = False,
    backend=None,
    fail_after_groups: int | None = None,
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
    spark = docs.sparkSession
    already = committed_buckets(spark, out_dir)
    attempt = _next_attempt(spark, out_dir)
    todo = sorted(set(range(n_buckets)) - already)
    if not todo:
        return {"committed": [], "skipped": sorted(already), "attempt": attempt}

    bucketed_docs = with_bucket(docs, n_buckets)
    group_size = commit_group_size or len(todo)
    groups = [todo[i : i + group_size] for i in range(0, len(todo), group_size)]

    committed: list[int] = []
    for g_idx, group in enumerate(groups):
        if fail_after_groups is not None and g_idx >= fail_after_groups:
            raise CheckpointAbort(
                f"simulated failure before group {g_idx} (committed {committed})"
            )
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


def read_committed(spark: SparkSession, out_dir: str) -> DataFrame:
    """The committed result: span rows whose bucket has a manifest row
    (data written without a manifest commit is invisible — snapshot
    isolation by join)."""
    spans = spark.read.parquet(_spans_dir(out_dir))
    manifest = spark.read.parquet(_manifest_dir(out_dir)).select("bucket").distinct()
    return spans.join(F.broadcast(manifest), "bucket", "left_semi")


def read_manifest(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(_manifest_dir(out_dir))
