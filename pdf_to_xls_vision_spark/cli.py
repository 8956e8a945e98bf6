"""spark-submit entry point (G2).

Mirrors the reference CLI's surface (``pdf_to_xls_cli.py:12-63``:
positional input, ``-o/--output``, ``--force-vision``) and adds the
cluster-job flags the north rule requires (``--partitions``,
``--buckets``, ``--commit-group-size``, ``--no-resume``, ``--master``).
The reference's per-file/recursive dispatch disappears: the input is a
table of span documents, not a directory tree.

Four modes: the batch job, or one of ``--stream``, ``--compact`` and
``--read-snapshot`` (argparse refuses two). ``MODES`` names each
mode's runner and the flags it reads besides INPUT, ``-o`` and
``--master``. ``main`` parses; rejects any other flag given on the
command line; resolves the vision backend (a missing key, or
``--media-dir`` without the live backend, stops the job); starts the
session; and only then, for ``--no-resume``, wipes ``-o`` and the
stream checkpoint on the filesystem Spark writes to
(``sink/checkpoint.wipe``: an ``hdfs://``, ``s3a://`` or ``file://``
output alike). A new flag goes into the rows of the modes that read
it, and defaults to None (or False) so that giving it shows.

Usage::

    spark-submit --py-files pdf_to_xls_vision_spark.zip \
        -m pdf_to_xls_vision_spark.cli corpus.parquet -o /out/extracted
    # or locally:
    python -m pdf_to_xls_vision_spark.cli corpus.parquet -o /tmp/out

Resume is the default: committed buckets (per the output manifest) are
pruned from the input scan before any extraction work runs. Every mode
prints one JSON summary line; the batch job's is the reference's batch
summary (``converter.py:257-265``), from the run's own sums: the
resumed buckets' from the resume's manifest read, the new ones' from
their commits. Only ``--report`` reads the manifest again.
"""

from __future__ import annotations

import argparse
import json
import sys


def _positive_int(value: str) -> int:
    """argparse type for counts: a bucket count, commit-group size,
    partition width or compaction target below 1 must stop the job
    before it starts, not plan no commit and report success."""
    n = int(value)
    if n < 1:
        raise argparse.ArgumentTypeError(f"must be >= 1, got {n}")
    return n


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="pdf-to-xls-vision-spark",
        description="Distributed span-document table extraction (PySpark).",
    )
    p.add_argument("input", help="parquet/iceberg path of (doc_id, spans) docs")
    p.add_argument("-o", "--output", required=True, help="checkpointed output dir")
    p.add_argument(
        "--force-vision",
        action="store_true",
        help="route every document through the vision stage "
        "(reference --force-vision)",
    )
    p.add_argument(
        "--partitions",
        type=_positive_int,
        help="page-relation repartition width (default: 2x parallelism)",
    )
    p.add_argument(
        "--buckets", type=_positive_int, help="commit buckets (default: 64)"
    )
    p.add_argument(
        "--commit-group-size",
        type=_positive_int,
        help="buckets per atomic commit (default: all pending in one)",
    )
    p.add_argument(
        "--no-resume",
        action="store_true",
        help="wipe the output dir and the stream checkpoint instead of "
        "resuming from them",
    )
    p.add_argument(
        "--master",
        help="spark master (default: the launcher's, e.g. spark-submit --master)",
    )
    p.add_argument(
        "--snapshot",
        help="input snapshot id recorded in commit lineage (default: INPUT)",
    )
    p.add_argument(
        "--report",
        action="store_true",
        help="print the per-bucket validation/metrics report (X7) after the "
        "batch run",
    )
    modes = p.add_mutually_exclusive_group()
    modes.add_argument(
        "--stream",
        action="store_true",
        help="treat INPUT as a continuously-growing directory: run the "
        "Structured Streaming ingest (exactly-once per-micro-batch "
        "commits) instead of the batch job",
    )
    p.add_argument(
        "--stream-checkpoint",
        help="with --stream: streaming checkpoint dir "
        "(default: <output>/_stream_checkpoint)",
    )
    p.add_argument(
        "--continuous",
        action="store_true",
        help="with --stream: keep running for new files instead of "
        "draining what's present and stopping (availableNow)",
    )
    modes.add_argument(
        "--read-snapshot",
        type=int,
        metavar="BATCH",
        help="read-only mode: report the streaming output table as of "
        "ingest batch BATCH (Iceberg time-travel analog); no "
        "extraction runs and the input path is ignored",
    )
    modes.add_argument(
        "--compact",
        action="store_true",
        help="maintenance mode: bin-pack small parquet files in the "
        "output span table (the Iceberg rewrite_data_files analog); "
        "no extraction runs and the input path is ignored",
    )
    p.add_argument(
        "--target-file-mb",
        type=_positive_int,
        help="with --compact: target output file size in MiB (default: 128)",
    )
    p.add_argument(
        "--vision-backend",
        choices=["stub", "anthropic"],
        help="vision-inference backend: 'stub' (the default: "
        "deterministic, no network) or 'anthropic' (live Messages API — "
        "reference table_extraction.py:46-133; needs ANTHROPIC_API_KEY "
        "and --media-dir)",
    )
    p.add_argument(
        "--media-dir",
        help="with --vision-backend anthropic: directory holding the "
        "rendered page rasters, one file per media_ref",
    )
    return p


def _vision_backend(args):
    """None (-> stub) or a live AnthropicVisionBackend resolving
    media refs against --media-dir. Fails fast on missing key/dir —
    never a silently-empty extraction."""
    if args.vision_backend in (None, "stub"):
        if args.media_dir is not None:
            raise SystemExit(
                "--media-dir is read only with --vision-backend anthropic; "
                "the stub backend reads no rasters"
            )
        return None
    if not args.media_dir:
        raise SystemExit(
            "--vision-backend anthropic requires --media-dir "
            "(rendered page rasters, one file per media_ref)"
        )
    import os

    from pdf_to_xls_vision_spark.core.vision_client import (
        AnthropicVisionBackend,
    )

    root = os.path.realpath(args.media_dir)
    _MIME = {".png": "image/png", ".jpg": "image/jpeg", ".jpeg": "image/jpeg",
             ".gif": "image/gif", ".webp": "image/webp"}

    def loader(ref: str) -> tuple[bytes, str]:
        # media refs come from the input table: an absolute or ../ ref
        # must not read (and send out) a file outside --media-dir
        path = os.path.realpath(os.path.join(root, ref))
        if os.path.commonpath([root, path]) != root:
            raise ValueError(f"media_ref {ref!r} resolves outside --media-dir")
        ext = os.path.splitext(ref)[1].lower()
        with open(path, "rb") as f:
            return f.read(), _MIME.get(ext, "image/png")

    return AnthropicVisionBackend(media_loader=loader)


def _committed_counts(committed) -> dict:
    """``docs`` and ``span_rows`` of a committed result (one row per
    document, its spans in an array), in one Spark job."""
    from pyspark.sql import functions as F

    row = committed.agg(
        F.countDistinct("doc_id").alias("docs"),
        F.coalesce(F.sum(F.size("spans")), F.lit(0)).alias("span_rows"),
    ).first()
    return {"docs": row.docs, "span_rows": row.span_rows}


def _run_batch(spark, args, backend) -> dict:
    from pdf_to_xls_vision_spark.sink import checkpoint
    from pdf_to_xls_vision_spark.sources.span_docs import read_span_docs

    summary = checkpoint.run_checkpointed_extraction(
        read_span_docs(spark, args.input),
        args.output,
        n_buckets=args.buckets or checkpoint.DEFAULT_BUCKETS,
        commit_group_size=args.commit_group_size,
        input_snapshot=args.snapshot or args.input,
        force_vision=args.force_vision,
        backend=backend,
        page_partitions=args.partitions,
    )
    return {
        "committed_buckets": len(summary["committed"]),
        "resumed_buckets": len(summary["skipped"]),
        "attempt": summary["attempt"],
        **summary["totals"],
        "output": args.output,
    }


def _run_stream(spark, args, backend) -> dict:
    import os

    from pdf_to_xls_vision_spark.sink import checkpoint
    from pdf_to_xls_vision_spark.streaming.ingest import stream_extraction

    ckpt = args.stream_checkpoint or os.path.join(args.output, "_stream_checkpoint")
    stream_extraction(
        spark,
        args.input,
        args.output,
        ckpt,
        n_buckets=args.buckets or checkpoint.DEFAULT_BUCKETS,
        available_now=not args.continuous,
        backend=backend,
    ).awaitTermination()
    counts = {"docs": 0, "span_rows": 0}  # no micro-batch committed a doc
    if checkpoint.path_exists(spark, checkpoint._manifest_dir(args.output)):
        counts = _committed_counts(
            checkpoint.read_stream_committed(spark, args.output)
        )
    return {
        "mode": "stream",
        **counts,
        "output": args.output,
        "checkpoint": ckpt,
    }


def _run_compact(spark, args, _backend) -> dict:
    from pdf_to_xls_vision_spark.sink import compaction

    mb = args.target_file_mb
    res = compaction.compact_spans(
        spark,
        args.output,
        target_file_bytes=compaction.DEFAULT_TARGET_FILE_BYTES if mb is None
        else mb * 1024 * 1024,
    )
    return {
        "mode": "compact",
        "output": args.output,
        "compacted_buckets": sorted(res["compacted"]),
        "skipped_buckets": res["skipped"],
        "files_rewritten": sum(c["files_before"] for c in res["compacted"].values()),
    }


def _run_read_snapshot(spark, args, _backend) -> dict:
    from pdf_to_xls_vision_spark.sink import checkpoint

    snap = checkpoint.read_stream_committed(
        spark, args.output, as_of_batch=args.read_snapshot
    )
    return {
        "mode": "read-snapshot",
        "as_of_batch": args.read_snapshot,
        **_committed_counts(snap),
        "output": args.output,
    }


#: mode -> (runner, the flags it reads besides INPUT, -o and --master).
#: A mode other than the batch job is chosen by the flag of its name;
#: a runner gets the session, the arguments and the vision backend.
MODES = {
    "batch": (_run_batch, (
        "--force-vision", "--partitions", "--buckets", "--commit-group-size",
        "--no-resume", "--snapshot", "--report", "--vision-backend",
        "--media-dir",
    )),
    "stream": (_run_stream, (
        "--stream", "--buckets", "--no-resume", "--stream-checkpoint",
        "--continuous", "--vision-backend", "--media-dir",
    )),
    "compact": (_run_compact, ("--compact", "--target-file-mb")),
    "read-snapshot": (_run_read_snapshot, ("--read-snapshot",)),
}


def _given_flags(parser: argparse.ArgumentParser, args) -> list[str]:
    """The options given on the command line, by their long name. Every
    option defaults to None or False, so any other value was given;
    compared with ``is``, since ``--read-snapshot 0`` is given and
    ``0 == False``."""
    return [
        a.option_strings[-1]
        for a in parser._actions
        if a.option_strings and a.default is not argparse.SUPPRESS
        and getattr(args, a.dest) is not None
        and getattr(args, a.dest) is not False
    ]


def main(argv: list[str] | None = None) -> int:
    parser = build_parser()
    args = parser.parse_args(argv)
    given = _given_flags(parser, args)
    mode = next((m for m in MODES if f"--{m}" in given), "batch")
    run, reads = MODES[mode]
    ignored = [f for f in given if f not in ("--output", "--master", *reads)]
    if ignored:
        raise SystemExit(
            f"the {mode} mode does not read {', '.join(ignored)}; "
            f"it reads {', '.join(reads)}"
        )
    # a bad key or --media-dir must fail before a JVM starts and
    # before --no-resume wipes anything
    backend = _vision_backend(args)

    from pyspark.sql import SparkSession

    from pdf_to_xls_vision_spark.session import get_spark
    from pdf_to_xls_vision_spark.sink import checkpoint

    # only stop the session on exit if this invocation created it —
    # embedded callers (tests, notebooks) keep theirs alive
    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark("pdf_to_xls_vision_spark.cli", master=args.master)
    spark.sparkContext.setLogLevel("WARN")
    try:
        if args.no_resume:
            # on the filesystem Spark writes to; a kept stream checkpoint
            # would mark every input file processed and commit nothing
            checkpoint.wipe(
                spark, *[p for p in (args.output, args.stream_checkpoint) if p]
            )
        print(json.dumps(run(spark, args, backend)))
        if args.report:
            rows = checkpoint.read_manifest(spark, args.output).orderBy("bucket")
            for row in rows.collect():
                print(
                    f"bucket {row.bucket:>4}: docs={row.docs} "
                    f"pages={row.pages_parsed} tables={row.tables_found} "
                    f"rot={row.rotation_corrections} "
                    f"retries={row.quality_retries} "
                    f"acc={row.accuracy_pct} attempt={row.lineage.attempt}"
                )
        return 0
    except KeyboardInterrupt:
        print("interrupted", file=sys.stderr)
        return 1
    except ValueError as exc:
        # a maintenance mode pointed at the other sink's table layout
        if mode in ("compact", "read-snapshot"):
            raise SystemExit(str(exc)) from exc
        raise
    finally:
        if owns_session:
            spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
