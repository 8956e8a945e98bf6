"""Small-file compaction for the checkpoint sink's span table.

The 100 TB problem this solves: every commit group writes its buckets
with however many tasks the extraction plan ended on, so a long-running
ingest accumulates many small parquet files per bucket partition —
and at 10^12 documents the *file count*, not the byte count, becomes
the scan bottleneck (driver-side file listing, task-per-file scheduling
overhead, footer reads). Iceberg ships `rewrite_data_files` for exactly
this; the parquet stand-in sink needs the same maintenance pass.

Design (mirrors Iceberg's bin-packing rewrite):

- file listing is driver metadata (one Hadoop FS sweep, no Spark job);
- buckets already at their target layout are skipped, so the pass is
  idempotent and a scheduled re-run is a cheap no-op;
- all selected buckets rewrite in ONE Spark job: rows re-shuffle on
  ``(bucket, slot)`` where ``slot = pmod(xxhash64(doc_id), files
  needed for that bucket)`` — per-bucket output file counts are
  controlled without a driver loop of per-bucket jobs;
- the rewrite goes through the commit protocol's one writer
  (``checkpoint.overwrite_partitions``), so each bucket directory is
  replaced atomically-per-partition with the same crash exposure as a
  normal commit (an Iceberg swap would make it a
  snapshot commit; semantics preserved);
- the commit manifest is NOT touched — compaction changes layout, not
  lineage; ``committed_buckets`` and the metric sums stay exact. The
  rewrite is recorded in a separate append-only ``compactions`` log.

Reference parity: the reference's incremental Excel save rewrites the
whole workbook every 10 pages (excel_writer.py:262-302) — its "table"
is one file, so it never meets this problem; this is the operation its
checkpoint semantics need once the sink is a partitioned table.
"""

from __future__ import annotations

import math
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_to_xls_vision_spark.sink.checkpoint import (
    _filesystem,
    _spans_dir,
    overwrite_partitions,
    require_positive,
)

DEFAULT_TARGET_FILE_BYTES = 128 * 1024 * 1024

COMPACTION_LOG_SCHEMA = (
    "bucket int, files_before int, files_after_target int, bytes long, "
    "compacted_at_ts long"
)


def _compactions_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "compactions")


def list_bucket_files(spark: SparkSession, out_dir: str) -> dict[int, list[tuple[str, int]]]:
    """``{bucket: [(file_path, bytes), ...]}`` for the span table —
    one driver-side listing on the FileSystem Spark writes the table
    through (``checkpoint._filesystem``: local disk, HDFS or S3A
    alike), no Spark job.

    Raises ``ValueError`` when the table is not partitioned by
    ``bucket`` at its top level (the stream's ``ingest_batch=``
    layout): its files would go unlisted and the pass would report
    nothing to compact."""
    spans = _spans_dir(out_dir)
    fs, jpath = _filesystem(spark, spans)
    out: dict[int, list[tuple[str, int]]] = {}
    if not fs.exists(jpath):
        return out
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if not (st.isDirectory() and "=" in name):
            continue
        key, value = name.split("=", 1)
        if key != "bucket":
            raise ValueError(
                f"{spans} is partitioned by {key}, not bucket: "
                "compaction rewrites the batch span table only"
            )
        bucket = int(value)
        files = []
        for f in fs.listStatus(st.getPath()):
            fname = f.getPath().getName()
            if f.isFile() and not fname.startswith("_") and not fname.startswith("."):
                files.append((str(f.getPath()), int(f.getLen())))
        out[bucket] = files
    return out


def plan_compaction(
    bucket_files: dict[int, list[tuple[str, int]]],
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
) -> dict[int, dict]:
    """Buckets worth rewriting: more files than the bin-packed target
    ``ceil(bytes / target)`` needs. Returns per-bucket
    ``{files_before, bytes, files_target}``."""
    plan: dict[int, dict] = {}
    for bucket, files in bucket_files.items():
        n = len(files)
        total = sum(sz for _, sz in files)
        want = max(1, math.ceil(total / target_file_bytes))
        if n > want:
            plan[bucket] = {
                "files_before": n,
                "bytes": total,
                "files_target": want,
            }
    return plan


def compact_spans(
    spark: SparkSession,
    out_dir: str,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
) -> dict:
    """Bin-pack-rewrite every bucket whose file count exceeds its
    byte-size target. One listing, one Spark job, one log append.

    Returns ``{"compacted": {bucket: info}, "skipped": [buckets]}``.
    Idempotent: a second run immediately after returns an empty plan.
    """
    require_positive(target_file_bytes=target_file_bytes)
    listing = list_bucket_files(spark, out_dir)
    plan = plan_compaction(listing, target_file_bytes)
    skipped = sorted(set(listing) - set(plan))
    if not plan:
        return {"compacted": {}, "skipped": skipped}

    spans = _spans_dir(out_dir)
    # slot count per bucket as an inline map literal (driver metadata,
    # |plan| entries) -> per-bucket output file counts in a single
    # shuffle keyed by (bucket, slot). A hash collision can co-locate
    # two (bucket, slot) groups in one task, which only LOWERS a
    # bucket's file count below target — never raises it.
    slot_map = F.create_map(
        *[
            c
            for b, info in sorted(plan.items())
            for c in (F.lit(b), F.lit(info["files_target"]))
        ]
    )
    df: DataFrame = (
        spark.read.parquet(spans)
        .where(F.col("bucket").isin([int(b) for b in plan]))
        .withColumn(
            "slot",
            F.pmod(F.xxhash64("doc_id"), slot_map[F.col("bucket")]).cast("int"),
        )
    )
    n_parts = sum(info["files_target"] for info in plan.values())
    overwrite_partitions(
        df.repartition(n_parts, "bucket", "slot").drop("slot"), spans, "bucket"
    )

    now = int(time.time())
    log = spark.createDataFrame(
        [
            (b, info["files_before"], info["files_target"], info["bytes"], now)
            for b, info in sorted(plan.items())
        ],
        COMPACTION_LOG_SCHEMA,
    )
    log.write.format("parquet").mode("append").save(_compactions_dir(out_dir))
    return {"compacted": plan, "skipped": skipped}
