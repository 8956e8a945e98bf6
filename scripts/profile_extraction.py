"""Extraction-pipeline profiling: wall time + shuffle bytes.

Usage: PYTHONPATH=. python scripts/profile_extraction.py
Runs ``run_extraction`` into a noop sink min-of-2 on the 8000-doc
skewed corpus at local[32] and reports total shuffle read/write from
the status store.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "8000"))


UI_PORT = 40441


def shuffle_totals(spark):
    """(write_bytes, read_bytes) summed over all stages, via the
    monitoring REST API (the documented interface)."""
    import json
    import urllib.request

    base = f"http://localhost:{UI_PORT}/api/v1/applications"
    apps = json.load(urllib.request.urlopen(base, timeout=10))
    app_id = apps[0]["id"]
    stages = json.load(
        urllib.request.urlopen(f"{base}/{app_id}/stages", timeout=10)
    )
    w = sum(s.get("shuffleWriteBytes", 0) for s in stages)
    r = sum(s.get("shuffleReadBytes", 0) for s in stages)
    return w, r


def main() -> None:
    from pdf_to_xls_vision_spark.corpus import write_corpus_parquet
    from pdf_to_xls_vision_spark.operators.pipeline import run_extraction
    from pdf_to_xls_vision_spark.session import get_spark

    corpus_path = f"/tmp/ptxv_bench_corpus_{DOCS}.parquet"
    if not os.path.exists(corpus_path):
        write_corpus_parquet(corpus_path, DOCS)

    spark = get_spark(
        "profile",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.port": str(UI_PORT),
            "spark.ui.retainedStages": "5000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    corpus = spark.read.parquet(corpus_path)
    corpus.select("doc_id").write.format("noop").mode("overwrite").save()  # warm

    times = []
    for _ in range(2):
        w0, r0 = shuffle_totals(spark)
        t0 = time.perf_counter()
        run_extraction(corpus).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        w1, r1 = shuffle_totals(spark)
        times.append((dt, w1 - w0, r1 - r0))
    best = min(times)
    print(
        f"best {best[0]:.2f}s  "
        f"shuffle_write {best[1] / 1e6:.1f}MB  "
        f"shuffle_read {best[2] / 1e6:.1f}MB  "
        f"(all: {[(round(t, 2)) for t, _, _ in times]})"
    )
    spark.stop()


if __name__ == "__main__":
    main()
