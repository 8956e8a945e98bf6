"""Stream-static enrichment join (streaming/enrich.py): dimension
rows attach to streamed events, left-join keeps dimension misses, and
a dimension update is visible to the NEXT micro-batch without a query
restart (Spark re-reads the static side per batch)."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from operator_zoo.streaming.enrich import enrich_stream


def _write(path, ids):
    pq.write_table(
        pa.table({"user_id": pa.array(ids, pa.int64())}), path
    )


def _write_dim(spark, dim_dir, rows):
    spark.createDataFrame(rows, "user_id long, segment string").coalesce(
        1
    ).write.mode("overwrite").parquet(dim_dir)


def _run(spark, in_dir, dim_dir, out_dir, ckpt):
    stream = spark.readStream.schema("user_id long").parquet(in_dir)
    dim = spark.read.parquet(dim_dir)
    q = (
        enrich_stream(stream, dim, "user_id", how="left")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600)


@pytest.mark.slow
def test_enrich_left_join_and_dim_update_across_restarts(spark, tmp_path):
    in_dir, dim_dir, out_dir, ckpt = (
        str(tmp_path / d) for d in ("in", "dim", "out", "ck")
    )
    os.makedirs(in_dir)
    _write_dim(spark, dim_dir, [(1, "gold"), (2, "silver")])

    _write(f"{in_dir}/f1.parquet", [1, 2, 3])  # 3 has no dim row
    _run(spark, in_dir, dim_dir, out_dir, ckpt)
    got = {
        r["user_id"]: r["segment"]
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got == {1: "gold", 2: "silver", 3: None}

    # dim update + more stream data: the new batch sees the new dim
    _write_dim(spark, dim_dir, [(1, "gold"), (2, "silver"), (3, "bronze")])
    _write(f"{in_dir}/f2.parquet", [3])
    _run(spark, in_dir, dim_dir, out_dir, ckpt)
    rows = sorted(
        ((r["user_id"], r["segment"]) for r in
         spark.read.parquet(out_dir).collect()),
        key=lambda t: (t[0], t[1] or ""),
    )
    assert rows == [(1, "gold"), (2, "silver"), (3, None), (3, "bronze")]


def test_enrich_validation(spark, tmp_path):
    static = spark.createDataFrame([(1,)], "user_id long")
    src = tmp_path / "src"
    src.mkdir()
    stream = spark.readStream.schema("user_id long").parquet(str(src))
    with pytest.raises(ValueError, match="how must be"):
        enrich_stream(stream, static, "user_id", how="full")
    with pytest.raises(ValueError, match="left side must be a streaming"):
        enrich_stream(static, static, "user_id")
    with pytest.raises(ValueError, match="dimension side must be a static"):
        enrich_stream(stream, stream, "user_id")
