"""SparkSession factory with scale-oriented defaults.

Only settings that differ from Spark's own defaults are set (AQE, with
partition coalescing and skew-join splitting, and 128 MiB input splits
are already Spark's, and so are the shuffle writer and AQE's coalescing
floor: the engine's two exchanges are ``repartition(n, ...)``, which AQE
does not coalesce). Each remaining setting is exercised locally:

- Arrow on for every pandas UDF exchange,
- bounded Arrow batch size so Python workers never hold more than a
  few hundred pages of payload at once (the reference's 5 MB-per-image
  cap, image_processing.py:12, becomes our batch-memory bound),
- zstd parquet output, UTC session time, the UI off, and a driver heap
  sized from the machine (local mode hosts every executor in it),
- PySpark's DataFrame debugging off (a serial cost before each job),
- shuffle partitions sized by the caller (the tests use 8).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Pages per Arrow batch entering pandas UDFs. 256 keeps Python worker
# memory minimal but pays ~19% throughput in JVM<->Python round-trips
# (measured on the 4000-doc corpus: 48.6s -> 39.5s at local[8]); 2048
# is the sweet spot — a batch of 2048 pages of word-box JSON is still
# only a few tens of MB per worker.
ARROW_MAX_RECORDS = 2048


def _default_driver_mem() -> str:
    """Local-mode heap default: min(48g, ~40% of MemTotal). In local
    mode the driver hosts every executor thread, and an undersized heap
    (8g) GC-thrashes the UDF-heavy extraction stage ~10x; but a fixed
    48g fails JVM startup on smaller boxes/CI, so derive from the
    machine. SPARK_DRIVER_MEM always overrides."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_gib = int(line.split()[1]) / (1024 * 1024)
                    return f"{max(1, min(48, int(total_gib * 0.4)))}g"
    except OSError:
        pass
    return "4g"


def get_spark(
    app_name: str = "pdf_to_xls_vision_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's tuned defaults.

    The master is set only when passed in or named by
    ``SPARK_GRAFT_MASTER``: a master set in code outranks
    ``spark-submit --master``, so otherwise the launcher's master wins
    (``local[*]`` when launched without one)."""
    master = master or os.environ.get("SPARK_GRAFT_MASTER")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_MAX_RECORDS)
        )
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM", _default_driver_mem()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # PySpark's DataFrame debugging records the Python call site of
        # every Column/DataFrame API call (extra py4j round trips and a
        # stack walk each, plus an IPython import on the first), ~0.9 s
        # of serial driver time before a job's first stage. Off, error
        # messages lose that call-site context; pass
        # {"spark.python.sql.dataFrameDebugging.enabled": "true"} in
        # extra_conf to get it back.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if master:
        builder = builder.master(master)
    if shuffle_partitions is not None:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
