"""Watermarked streaming exact-dedup (streaming/dedup.py).

Each scenario drives the plan with a file source, appending files
between availableNow runs that share one checkpoint — duplicates
therefore genuinely cross micro-batch (and restart) boundaries, which
is the property batch ``dropDuplicates`` cannot give a stream.
"""

import os
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from operator_zoo.streaming.dedup import dedup_stream

T0 = datetime(2024, 1, 1, 10, 0, 0)


def _write_rows(path, rows):
    pq.write_table(
        pa.table(
            {
                "key": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            }
        ),
        path,
    )


def _stream(spark, in_dir):
    return (
        spark.readStream.schema("key long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )


def _run(spark, df, out_dir, ckpt):
    q = (
        df.select("key")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600)


def _keys(spark, out_dir):
    return sorted(r.key for r in spark.read.parquet(out_dir).collect())


@pytest.mark.slow
def test_duplicates_dropped_across_batches_and_restarts(spark, tmp_path):
    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ck"))
    os.makedirs(in_dir)

    # run 1, two single-file micro-batches: key 1 twice (second file's
    # copy crosses a micro-batch boundary), key 2 once
    _write_rows(f"{in_dir}/f1.parquet", [(1, T0), (2, T0 + timedelta(minutes=1))])
    _write_rows(f"{in_dir}/f2.parquet", [(1, T0 + timedelta(minutes=2))])
    plan = dedup_stream(_stream(spark, in_dir), ["key"], watermark="1 hour")
    _run(spark, plan, out_dir, ckpt)
    assert _keys(spark, out_dir) == [1, 2]

    # run 2 (same checkpoint — a restart): another copy of key 1 within
    # the watermark is still dropped; new key 3 passes through
    _write_rows(
        f"{in_dir}/f3.parquet",
        [(1, T0 + timedelta(minutes=3)), (3, T0 + timedelta(minutes=4))],
    )
    _run(spark, dedup_stream(_stream(spark, in_dir), ["key"], watermark="1 hour"),
         out_dir, ckpt)
    assert _keys(spark, out_dir) == [1, 2, 3]


@pytest.mark.slow
def test_beyond_watermark_duplicate_reemits(spark, tmp_path):
    """The documented at-least-once boundary: once the watermark passes
    a key's event time + delay its state is evicted, and a later
    admissible copy is emitted again."""
    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ck"))
    os.makedirs(in_dir)

    # key 1 at 10:00 with a 10-minute delay; the 11:00 row drags the
    # watermark to 10:50 at the end of the batch, past 10:10 eviction
    _write_rows(
        f"{in_dir}/f1.parquet", [(1, T0), (99, T0 + timedelta(hours=1))]
    )
    _run(spark, dedup_stream(_stream(spark, in_dir), ["key"], watermark="10 minutes"),
         out_dir, ckpt)
    # key 1 again at 10:55 — admissible (>= watermark), state long gone
    _write_rows(f"{in_dir}/f2.parquet", [(1, T0 + timedelta(minutes=55))])
    _run(spark, dedup_stream(_stream(spark, in_dir), ["key"], watermark="10 minutes"),
         out_dir, ckpt)
    assert _keys(spark, out_dir) == [1, 1, 99]


def test_key_validation(spark):
    df = spark.createDataFrame([(1, T0)], "key long, ts timestamp")
    with pytest.raises(ValueError, match="at least one column"):
        dedup_stream(df, [])
    with pytest.raises(ValueError, match="event-time column"):
        dedup_stream(df, ["ts", "key"])


def _write_docs(path, rows):
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "ts": pa.array([r[2] for r in rows], pa.timestamp("us")),
            }
        ),
        path,
    )


def _doc_stream(spark, in_dir):
    return (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )


@pytest.mark.slow
def test_line_dedup_drops_boilerplate_across_batches(spark, tmp_path):
    """line_dedup_stream: a 5-word boilerplate line repeated in a later
    document (a later micro-batch) is dropped; unique lines pass; the
    surviving hash set equals batch DISTINCT over the same windows."""
    from pyspark.sql import functions as F

    from operator_zoo.functions.hashing import h60
    from operator_zoo.streaming.dedup import line_dedup_stream

    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ck"))
    os.makedirs(in_dir)
    boiler = "all rights reserved contact us"
    d1 = boiler + " " + "alpha beta gamma delta epsilon"
    d2 = boiler + " " + "zeta eta theta iota kappa"  # boiler repeats
    _write_docs(f"{in_dir}/f1.parquet", [(1, d1, T0)])
    _write_docs(f"{in_dir}/f2.parquet", [(2, d2, T0 + timedelta(minutes=1))])
    plan = line_dedup_stream(_doc_stream(spark, in_dir), line_words=5)
    q = (
        plan.select("h")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600)
    got = sorted(r.h for r in spark.read.parquet(out_dir).collect())
    # batch reference: distinct hashes of the 4 line windows (boiler
    # once + three unique tails)
    batch = spark.createDataFrame([(d1,), (d2,)], ["text"])
    words = F.split("text", " ")
    lines = F.transform(
        F.sequence(
            F.lit(0).cast("long"),
            F.expr("(size(split(text, ' ')) + 4) div 5") - 1,
        ),
        lambda i: F.concat_ws(" ", F.slice(words, i * 5 + 1, 5)),
    )
    want = sorted(
        r.h
        for r in batch.select(F.explode(lines).alias("line"))
        .select(h60("line", "linededup").alias("h"))
        .distinct()
        .collect()
    )
    assert got == want and len(got) == 3
    with pytest.raises(ValueError, match="line_words"):
        line_dedup_stream(_doc_stream(spark, in_dir), line_words=0)
