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
  rotation_corrections, quality_retries, accuracy_pct), summed per
  bucket by the merge tasks that write the spans (``ManifestFold``),
  so a commit runs the extraction plan once, plus each sink's own
  lineage and write mode;
- gates every read of committed output on the manifest, so data
  written without its manifest row is invisible;
- resumes by anti-filtering committed buckets: only the manifest — a
  tiny table — is read on restart, and commit groups bound the work
  lost to a mid-run failure (the ``save_every`` analogue);
- reaches the output's files outside Spark's reads and writes (the
  resume probe, the CLI's ``--no-resume`` wipe, the empty-bucket
  delete, compaction's listing) through one Hadoop FileSystem lookup,
  so an ``hdfs://``, ``s3a://`` or ``file://`` output is seen as Spark
  writes it.

An Iceberg runtime jar is not bundled with this sandbox's PySpark; the
sink's parquet layout reproduces the snapshot-isolation property needed
here (per-partition atomic replace + manifest-gated reads). Swapping
``format("parquet")`` for ``format("iceberg")`` preserves semantics.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.accumulators import AccumulatorParam
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


def bucket_of(n_buckets: int) -> Column:
    """A row's commit bucket: ``pmod(xxhash64(doc_id), n_buckets)``."""
    return F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")


def with_bucket(df: DataFrame, n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    return df.withColumn("bucket", bucket_of(n_buckets))


def _filesystem(spark: SparkSession, path: str):
    """The Hadoop FileSystem Spark reads and writes ``path`` through,
    and the path on it: a scheme-less path resolves against
    ``fs.defaultFS`` (HDFS/S3A on a cluster, local in tests), a URI
    (``hdfs://``, ``s3a://``, ``file://``) against its own scheme —
    never the driver's local disk by assumption. Every access to the
    output's files outside a Spark read or write goes through here."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def path_exists(spark: SparkSession, path: str) -> bool:
    fs, jpath = _filesystem(spark, path)
    return fs.exists(jpath)


def wipe(spark: SparkSession, *paths: str) -> None:
    """Delete each of ``paths`` recursively; a missing one is no error.
    A path is taken literally, not as a glob pattern: wiping ``out[1]``
    never deletes ``out1``."""
    for path in paths:
        fs, jpath = _filesystem(spark, path)
        fs.delete(jpath, True)


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


#: a bucket's summed terms: the ``MANIFEST_SUMS`` columns, then the sum
#: and the count of its ``completed`` documents' ``accuracy_pct``
_TERMS = (*MANIFEST_SUMS, "accuracy_sum", "completed")
_TERMS_TYPE = (
    "array<struct<bucket int, "
    + ", ".join(f"{name} long" for name in MANIFEST_SUMS)
    + ", accuracy_sum double, completed long>>"
)


class _BucketSums(AccumulatorParam):
    """Accumulator of ``{bucket: [term, ...]}`` in ``_TERMS`` order."""

    def zero(self, value):
        return {}

    def addInPlace(self, acc, other):
        for bucket, terms in other.items():
            have = acc.get(bucket)
            acc[bucket] = (
                list(terms) if have is None else [a + b for a, b in zip(have, terms)]
            )
        return acc


class ManifestFold:
    """The manifest metrics of one commit, folded into the merge tasks
    that write its spans.

    ``run_extraction(..., fold=)`` carries each row's ``bucket``
    through the doc-keyed exchange and calls :meth:`add` on every frame
    the merge UDF emits. The merge runs in the spans write's result
    stage, where Spark applies each partition's accumulator update once,
    from the attempt whose files were committed, so after the write
    :attr:`sums` holds exactly the written rows' terms, by bucket."""

    def __init__(self, spark: SparkSession, n_buckets: int):
        self.bucket = bucket_of(n_buckets)
        self._acc = spark.sparkContext.accumulator({}, _BucketSums())

    def __getstate__(self):
        # executors need only the accumulator; a Column does not pickle
        return {"_acc": self._acc}

    def add(self, result) -> None:
        """Add one pandas frame of merge output (with ``bucket``)."""
        completed = result["validation_status"] == "completed"
        frame = result[["bucket"]].assign(
            **{
                name: 1 if src is None else result[src]
                for name, src in MANIFEST_SUMS.items()
            },
            accuracy_sum=result["accuracy_pct"].where(completed, 0.0),
            completed=completed,
        )
        sums = frame.groupby("bucket").sum()
        self._acc.add(
            {
                int(bucket): [
                    *(int(v) for v in row[:-2]), float(row[-2]), int(row[-1])
                ]
                for bucket, row in zip(sums.index, sums.itertuples(index=False))
            }
        )

    @property
    def sums(self) -> dict:
        """``{bucket: terms}`` for every bucket that got documents."""
        return self._acc.value

    def totals(self) -> dict:
        """The ``MANIFEST_SUMS`` columns summed over every bucket."""
        return {
            name: sum(terms[i] for terms in self.sums.values())
            for i, name in enumerate(MANIFEST_SUMS)
        }


def _manifest_rows(
    spark: SparkSession, sums: dict, lineage: Column, *keys: Column
) -> DataFrame:
    """One manifest row per bucket of ``sums`` (``bucket -> terms``,
    ``None`` for an empty bucket): the ``keys``, the bucket, the sums
    as longs, ``accuracy_pct`` averaged over the ``completed`` docs
    (null without one), then ``lineage``. One JVM-only literal relation
    in one partition, parsed from one JSON literal."""
    terms = json.dumps(
        [
            {"bucket": bucket, **dict(zip(_TERMS, t or [0] * len(_TERMS)))}
            for bucket, t in sorted(sums.items())
        ]
    )
    rows = spark.range(0, 1, 1, 1).select(
        F.inline(F.from_json(F.lit(terms), _TERMS_TYPE))
    )
    return rows.select(
        *keys,
        "bucket",
        *MANIFEST_SUMS,
        F.round(
            F.when(
                F.col("completed") > 0, F.col("accuracy_sum") / F.col("completed")
            ),
            2,
        ).alias("accuracy_pct"),
        lineage.alias("lineage"),
    )


def _delete_partitions(spark: SparkSession, path: str, buckets) -> None:
    """Remove the ``bucket=`` partitions of ``path`` for ``buckets``
    that exist, through the Hadoop FileSystem Spark writes to: one
    ``globStatus`` over ``bucket={…}`` finds them, so a fresh output
    costs one listing, not a delete per bucket."""
    if buckets:
        fs, pattern = _filesystem(
            spark, os.path.join(path, "bucket={%s}" % ",".join(map(str, buckets)))
        )
        wipe(spark, *(str(st.getPath()) for st in fs.globStatus(pattern) or []))


def read_manifest(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.schema(MANIFEST_SCHEMA).parquet(_manifest_dir(out_dir))


def _resume_state(spark: SparkSession, out_dir: str) -> tuple[set[int], int, dict]:
    """The committed buckets, the next attempt number and the committed
    rows' ``MANIFEST_SUMS`` totals, from one read of the manifest (none,
    1 and zeros on a fresh ``out_dir``)."""
    fresh = set(), 1, dict.fromkeys(MANIFEST_SUMS, 0)
    if not path_exists(spark, _manifest_dir(out_dir)):
        return fresh
    rows = (
        read_manifest(spark, out_dir)
        .groupBy("bucket")
        .agg(
            F.max("lineage.attempt").alias("attempt"),
            *(F.sum(name).alias(name) for name in MANIFEST_SUMS),
        )
        .collect()
    )
    return (
        {r.bucket for r in rows},
        1 + max((r.attempt or 0 for r in rows), default=0),
        {name: sum(r[name] or 0 for r in rows) for name in MANIFEST_SUMS},
    )


def committed_buckets(spark: SparkSession, out_dir: str) -> set[int]:
    return _resume_state(spark, out_dir)[0]


def _commit_group(
    chunk: DataFrame,
    group: list[int],
    out_dir: str,
    input_snapshot: str,
    attempt: int,
    fold: ManifestFold,
) -> None:
    """Commit one bucket group in two actions: the span rows, then the
    manifest (append). A crash between the two leaves the group
    uncommitted, and the rerun's overwrite is idempotent.

    ``chunk`` is the group's ``run_extraction(..., fold=fold)`` result,
    so the spans write is the one run of the extraction plan and leaves
    the group's metrics in ``fold``. Every bucket of the group gets a
    manifest row, empty ones included (``docs`` 0, ``accuracy_pct``
    null); before they are appended, the span partitions of the empty
    buckets are deleted, because dynamic overwrite replaces only the
    partitions that have rows and a crashed earlier attempt's files
    would otherwise become committed."""
    spark = chunk.sparkSession
    spans = _spans_dir(out_dir)
    overwrite_partitions(chunk, spans, "bucket")
    sums = fold.sums
    _delete_partitions(spark, spans, [b for b in group if b not in sums])
    lineage = F.struct(
        F.lit(input_snapshot).alias("input_snapshot"),
        F.lit(attempt).cast("int").alias("attempt"),
        F.lit(int(time.time())).cast("long").alias("committed_at_ts"),
    )
    manifest = _manifest_rows(spark, {b: sums.get(b) for b in group}, lineage)
    manifest.write.format("parquet").mode("append").save(_manifest_dir(out_dir))


def commit_stream_batch(
    chunk: DataFrame,
    fold: ManifestFold,
    batch_id: int,
    out_dir: str,
    input_snapshot: str,
) -> None:
    """Commit one micro-batch's extraction result under
    ``(ingest_batch, bucket)``: the span rows, then the manifest rows,
    which replace the batch's ``ingest_batch`` manifest partition, so a
    micro-batch replayed after a failure before the streaming-checkpoint
    commit never leaves a duplicate row.

    ``chunk`` is ``run_extraction(..., fold=fold)``: the spans write is
    the one run of the extraction plan, and the manifest rows, one per
    bucket that got documents, come from ``fold``. A micro-batch that
    commits no document gets no manifest row."""
    spark = chunk.sparkSession
    overwrite_partitions(
        chunk.withColumn("ingest_batch", F.lit(batch_id).cast("long")),
        _spans_dir(out_dir),
        *_STREAM_KEYS,
    )
    sums = fold.sums
    if not sums:
        return
    lineage = F.struct(
        F.lit(input_snapshot).alias("input_snapshot"),
        F.lit(int(time.time())).cast("long").alias("committed_at_ts"),
    )
    overwrite_partitions(
        _manifest_rows(
            spark, sums, lineage, F.lit(batch_id).cast("long").alias("ingest_batch")
        ),
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
    ``_commit_group``, which executes the plan once: the spans write,
    whose merge tasks fold the manifest metrics. When one group covers
    every bucket (a fresh run's default) the input is not bucketed or
    filtered at all.

    Returns the committed and the skipped (resumed) buckets, the
    attempt number and ``totals``: the ``MANIFEST_SUMS`` columns summed
    over both, the skipped buckets' from the resume's one manifest read.
    """
    from pdf_to_xls_vision_spark.operators.pipeline import run_extraction

    require_positive(
        n_buckets=n_buckets,
        commit_group_size=commit_group_size,
        page_partitions=page_partitions,
    )
    spark = docs.sparkSession
    already, attempt, totals = _resume_state(spark, out_dir)
    todo = sorted(set(range(n_buckets)) - already)
    committed: list[int] = []
    # without a group size, all pending buckets commit as one group
    group_size = commit_group_size or n_buckets
    for i in range(0, len(todo), group_size):
        group = todo[i : i + group_size]
        if len(group) == n_buckets:
            sub = docs
        else:
            sub = with_bucket(docs, n_buckets)
            sub = sub.filter(F.col("bucket").isin(group)).drop("bucket")
        fold = ManifestFold(spark, n_buckets)
        result = run_extraction(
            sub,
            force_vision=force_vision,
            backend=backend,
            page_partitions=page_partitions,
            fold=fold,
        )
        _commit_group(result, group, out_dir, input_snapshot, attempt, fold)
        committed.extend(group)
        for name, value in fold.totals().items():
            totals[name] += value

    return {
        "committed": committed,
        "skipped": sorted(already),
        "attempt": attempt,
        "totals": totals,
    }


def _read_committed(
    spark: SparkSession, out_dir: str, schema: str, keys, where: Column | None = None
) -> DataFrame:
    """The one committed-read gate: span rows whose partition ``keys``
    have a manifest row (data written without its manifest commit is
    invisible — snapshot isolation by a left-semi join against the
    broadcast manifest keys). ``where`` bounds both sides alike.
    Raises ``ValueError`` when ``out_dir`` holds no span table or no
    manifest (nothing committed), or when the span table is not
    partitioned by ``keys`` (a batch table read as a stream table)."""
    for path in (_spans_dir(out_dir), _manifest_dir(out_dir)):
        if not path_exists(spark, path):
            raise ValueError(
                f"{path} does not exist: {out_dir} holds no committed span table"
            )
    spans = spark.read.parquet(_spans_dir(out_dir))
    missing = [k for k in keys if k not in spans.columns]
    if missing:
        raise ValueError(
            f"{_spans_dir(out_dir)} has no {', '.join(missing)} partitions: "
            f"it is not a span table committed under ({', '.join(keys)})"
        )
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
