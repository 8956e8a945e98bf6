"""Stream-stream interval join (streaming/interval_join.py): matches
emit across micro-batch boundaries, out-of-window pairs never emit,
and a restart resumes from the checkpoint without duplicating or
losing matches."""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from operator_zoo.streaming.interval_join import (
    interval_join_streams,
)

_T0 = dt.datetime(2024, 1, 1, 12, 0, 0)


def _write(path, rows):
    """rows: list of (id, key, minutes_after_t0)."""
    pq.write_table(
        pa.table(
            {
                "rid": pa.array([r[0] for r in rows], pa.int64()),
                "key": pa.array([r[1] for r in rows], pa.int64()),
                "ts": pa.array(
                    [_T0 + dt.timedelta(minutes=r[2]) for r in rows],
                    pa.timestamp("us"),
                ),
            }
        ),
        path,
    )


def _run(spark, l_dir, r_dir, out_dir, ckpt, upper_seconds=600):
    left = (
        spark.readStream.schema("rid long, key long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(l_dir)
        .select(F.col("rid").alias("l_id"), "key", F.col("ts").alias("l_ts"))
    )
    right = (
        spark.readStream.schema("rid long, key long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(r_dir)
        .select(F.col("rid").alias("r_id"), "key", F.col("ts").alias("r_ts"))
    )
    q = (
        interval_join_streams(
            left,
            right,
            key="key",
            left_ts="l_ts",
            right_ts="r_ts",
            lower_seconds=0,
            upper_seconds=upper_seconds,
            watermark="365 days",
        )
        .select("l_id", "r_id", "key")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600)


def _pairs(spark, out_dir):
    return sorted(
        (r["l_id"], r["r_id"]) for r in spark.read.parquet(out_dir).collect()
    )


@pytest.mark.slow
def test_interval_join_cross_batch_and_window(spark, tmp_path):
    l_dir, r_dir, out_dir, ckpt = (
        str(tmp_path / d) for d in ("l", "r", "out", "ck")
    )
    os.makedirs(l_dir)
    os.makedirs(r_dir)
    # left events at t0 (key 1) and t0+30min (key 2)
    _write(f"{l_dir}/f1.parquet", [(10, 1, 0), (11, 2, 30)])
    # right: in-window match for 10 (t0+5min), out-of-window for 10
    # (t0+20min > 10min window), wrong key for 11
    _write(f"{r_dir}/f1.parquet", [(20, 1, 5), (21, 1, 20), (22, 3, 31)])
    _run(spark, l_dir, r_dir, out_dir, ckpt)
    assert _pairs(spark, out_dir) == [(10, 20)]

    # a LATER micro-batch delivers a match for the key-2 left row that
    # is already in state — cross-batch join; plus a right event
    # BEFORE its left partner (lower bound 0 excludes it)
    _write(f"{r_dir}/f2.parquet", [(23, 2, 35), (24, 2, 29)])
    _run(spark, l_dir, r_dir, out_dir, ckpt)
    assert _pairs(spark, out_dir) == [(10, 20), (11, 23)]

    # restart again with a new left row matching an already-seen right
    # row: right state is also retained across batches/restarts
    _write(f"{l_dir}/f2.parquet", [(12, 2, 27)])
    _run(spark, l_dir, r_dir, out_dir, ckpt)
    assert _pairs(spark, out_dir) == [(10, 20), (11, 23), (12, 23), (12, 24)]


def test_interval_join_validation(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    stream = spark.readStream.schema("rid long, key long, ts timestamp").parquet(
        str(src)
    )
    static = spark.createDataFrame([], "rid long, key long, ts timestamp")
    with pytest.raises(ValueError, match="two streaming sides"):
        interval_join_streams(stream, static, key="key")
    with pytest.raises(ValueError, match="upper_seconds"):
        interval_join_streams(
            stream, stream, key="key", lower_seconds=10, upper_seconds=5
        )
    with pytest.raises(ValueError, match="ambiguous columns"):
        interval_join_streams(stream, stream, key="key")
    renamed = stream.select(
        F.col("rid").alias("r_id"), "key", F.col("ts").alias("r_ts")
    )
    out = interval_join_streams(
        stream, renamed, key="key", left_ts="ts", right_ts="r_ts"
    )
    assert out.isStreaming
