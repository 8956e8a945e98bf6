"""spark-submit entry point (G2).

Mirrors the reference CLI's surface (``pdf_to_xls_cli.py:12-63``:
positional input, ``-o/--output``, ``--force-vision``) and adds the
cluster-job flags the north rule requires (``--partitions``,
``--buckets``, ``--commit-group-size``, ``--no-resume``, ``--master``).
The reference's per-file/recursive dispatch disappears: the input is a
table of span documents, not a directory tree.

Usage::

    spark-submit --py-files pdf_to_xls_vision_spark.zip \
        -m pdf_to_xls_vision_spark.cli corpus.parquet -o /out/extracted
    # or locally:
    python -m pdf_to_xls_vision_spark.cli corpus.parquet -o /tmp/out

Resume is the default: committed buckets (per the output manifest) are
pruned from the input scan before any extraction work runs. The job
prints one JSON summary line (the reference's batch summary,
``converter.py:257-265``) from the run's own sums: the resumed buckets'
from the resume's manifest read, the new ones' from their commits.
Only ``--report`` reads the manifest again.
"""

from __future__ import annotations

import argparse
import json
import shutil
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
        default=None,
        help="page-relation repartition width (default: 2x parallelism)",
    )
    p.add_argument(
        "--buckets", type=_positive_int, default=64, help="commit buckets"
    )
    p.add_argument(
        "--commit-group-size",
        type=_positive_int,
        default=None,
        help="buckets per atomic commit (default: all pending in one)",
    )
    p.add_argument(
        "--no-resume",
        action="store_true",
        help="wipe the output dir instead of resuming from its manifest",
    )
    p.add_argument(
        "--master",
        default=None,
        help="spark master (default: the launcher's, e.g. spark-submit --master)",
    )
    p.add_argument(
        "--snapshot",
        default="",
        help="input snapshot id recorded in commit lineage",
    )
    p.add_argument(
        "--report",
        action="store_true",
        help="print the per-bucket validation/metrics report (X7) after the "
        "batch run",
    )
    p.add_argument(
        "--stream",
        action="store_true",
        help="treat INPUT as a continuously-growing directory: run the "
        "Structured Streaming ingest (exactly-once per-micro-batch "
        "commits) instead of the batch job; --force-vision, --partitions, "
        "--commit-group-size and --report are batch-only",
    )
    p.add_argument(
        "--stream-checkpoint",
        default=None,
        help="with --stream: streaming checkpoint dir "
        "(default: <output>/_stream_checkpoint)",
    )
    p.add_argument(
        "--continuous",
        action="store_true",
        help="with --stream: keep running for new files instead of "
        "draining what's present and stopping (availableNow)",
    )
    p.add_argument(
        "--read-snapshot",
        type=int,
        default=None,
        metavar="BATCH",
        help="read-only mode: report the streaming output table as of "
        "ingest batch BATCH (Iceberg time-travel analog); no "
        "extraction runs and the input path is ignored",
    )
    p.add_argument(
        "--compact",
        action="store_true",
        help="maintenance mode: bin-pack small parquet files in the "
        "output span table (the Iceberg rewrite_data_files analog); "
        "no extraction runs and the input path is ignored",
    )
    p.add_argument(
        "--target-file-mb",
        type=_positive_int,
        default=128,
        help="with --compact: target output file size in MiB",
    )
    p.add_argument(
        "--vision-backend",
        choices=["stub", "anthropic"],
        default="stub",
        help="vision-inference backend: 'stub' (deterministic, no "
        "network) or 'anthropic' (live Messages API — reference "
        "table_extraction.py:46-133; needs ANTHROPIC_API_KEY and "
        "--media-dir)",
    )
    p.add_argument(
        "--media-dir",
        default=None,
        help="with --vision-backend anthropic: directory holding the "
        "rendered page rasters, one file per media_ref",
    )
    return p


def _vision_backend(args):
    """None (-> stub) or a live AnthropicVisionBackend resolving
    media refs against --media-dir. Fails fast on missing key/dir —
    never a silently-empty extraction."""
    if args.vision_backend == "stub":
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


def _run_stream(spark, args) -> int:
    import os

    from pdf_to_xls_vision_spark.streaming.ingest import (
        read_stream_committed,
        stream_extraction,
    )

    ckpt = args.stream_checkpoint or os.path.join(
        args.output, "_stream_checkpoint"
    )
    q = stream_extraction(
        spark,
        args.input,
        args.output,
        ckpt,
        n_buckets=args.buckets,
        available_now=not args.continuous,
        backend=_vision_backend(args),
    )
    q.awaitTermination()
    committed = read_stream_committed(spark, args.output)
    print(
        json.dumps(
            {
                "mode": "stream",
                **_committed_counts(committed),
                "output": args.output,
                "checkpoint": ckpt,
            }
        )
    )
    return 0


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    from pdf_to_xls_vision_spark.session import get_spark
    from pdf_to_xls_vision_spark.sink.checkpoint import (
        read_manifest,
        run_checkpointed_extraction,
    )
    from pdf_to_xls_vision_spark.sources.span_docs import read_span_docs

    if args.compact and args.no_resume:
        raise SystemExit(
            "--compact maintains the existing output table; "
            "--no-resume would delete it first"
        )
    batch = "the batch job"
    mode = (
        "--compact" if args.compact
        else "--read-snapshot" if args.read_snapshot is not None
        else "--stream" if args.stream
        else batch
    )
    ignored = [
        flag
        for flag, given, used_by in (
            ("--force-vision", args.force_vision, batch),
            ("--partitions", args.partitions is not None, batch),
            ("--commit-group-size", args.commit_group_size is not None, batch),
            ("--report", args.report, batch),
            ("--continuous", args.continuous, "--stream"),
            ("--stream-checkpoint", args.stream_checkpoint is not None, "--stream"),
        )
        if given and mode != used_by
    ]
    if ignored:
        raise SystemExit(
            f"{mode} does not support {', '.join(ignored)}: --force-vision, "
            "--partitions, --commit-group-size and --report are batch-only "
            "(each micro-batch commits as one group over the default routing "
            "and page partitioning); --continuous and --stream-checkpoint "
            "need --stream"
        )
    if args.read_snapshot is not None and args.no_resume:
        raise SystemExit(
            "--read-snapshot reads the existing output table; "
            "--no-resume would delete it first"
        )
    if args.no_resume:
        shutil.rmtree(args.output, ignore_errors=True)

    from pyspark.sql import SparkSession

    # only stop the session on exit if this invocation created it —
    # embedded callers (tests, notebooks) keep theirs alive
    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark("pdf_to_xls_vision_spark.cli", master=args.master)
    spark.sparkContext.setLogLevel("WARN")
    try:
        if args.compact:
            from pdf_to_xls_vision_spark.sink.compaction import compact_spans

            res = compact_spans(
                spark,
                args.output,
                target_file_bytes=args.target_file_mb * 1024 * 1024,
            )
            print(
                json.dumps(
                    {
                        "mode": "compact",
                        "output": args.output,
                        "compacted_buckets": sorted(res["compacted"]),
                        "skipped_buckets": res["skipped"],
                        "files_rewritten": sum(
                            info["files_before"]
                            for info in res["compacted"].values()
                        ),
                    }
                )
            )
            return 0
        if args.read_snapshot is not None:
            from pdf_to_xls_vision_spark.streaming.ingest import (
                read_stream_committed,
            )

            snap = read_stream_committed(
                spark, args.output, as_of_batch=args.read_snapshot
            )
            print(
                json.dumps(
                    {
                        "mode": "read-snapshot",
                        "as_of_batch": args.read_snapshot,
                        **_committed_counts(snap),
                        "output": args.output,
                    }
                )
            )
            return 0
        if args.stream:
            return _run_stream(spark, args)
        summary = run_checkpointed_extraction(
            read_span_docs(spark, args.input),
            args.output,
            n_buckets=args.buckets,
            commit_group_size=args.commit_group_size,
            input_snapshot=args.snapshot or args.input,
            force_vision=args.force_vision,
            backend=_vision_backend(args),
            page_partitions=args.partitions,
        )
        print(
            json.dumps(
                {
                    "committed_buckets": len(summary["committed"]),
                    "resumed_buckets": len(summary["skipped"]),
                    "attempt": summary["attempt"],
                    **summary["totals"],
                    "output": args.output,
                }
            )
        )
        if args.report:
            manifest = read_manifest(spark, args.output)
            for row in manifest.orderBy("bucket").collect():
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
        if args.compact or args.read_snapshot is not None:
            raise SystemExit(str(exc)) from exc
        raise
    finally:
        if owns_session:
            spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
