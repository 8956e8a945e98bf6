#!/usr/bin/env python3
"""Per-stage executor-time breakdown of the extraction pipeline.

Runs successive PREFIXES of the pipeline to a noop sink and reports
the executor-run-time delta of each added stage (REST stages endpoint,
min over reps — contention-immune on this shared VM):

    scan_explode_shuffle   scan -> classify -> explode -> repartition
    + text_parse_udf       mapInPandas layout parse (T1-T4, Q1-Q6)
    + vision_udf           mapInPandas vision stage over vision-routed pages
    + full_pipeline        doc-keyed exchange, then one mapInPandas that
                           decides R2, runs the vision retry inline for
                           retried docs, and merges + serializes

The deltas attribute the pipeline's executor cost to its stages; wall
time is reported for reference but the shared-VM noise makes executor
time the comparable figure. Every prefix and the full pipeline are
one linear plan that persists nothing.

Usage: python scripts/profile_stage_breakdown.py [docs]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
UI_PORT = 40445


def exec_ms(spark) -> int:
    sc = spark.sparkContext
    url = (
        f"http://localhost:{UI_PORT}/api/v1/applications/"
        f"{sc.applicationId}/stages?status=complete"
    )
    with urllib.request.urlopen(url, timeout=10) as r:
        return sum(st.get("executorRunTime", 0) for st in json.load(r))


def run_noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def measure(spark, make_df, reps: int = 2):
    run_noop(make_df())  # warm-up
    walls, execs = [], []
    for _ in range(reps):
        df = make_df()
        e0 = exec_ms(spark)
        walls.append(run_noop(df))
        execs.append((exec_ms(spark) - e0) / 1000.0)
    return min(walls), min(execs)


def main() -> None:
    from pyspark.sql import functions as F

    from pdf_to_xls_vision_spark.corpus import write_corpus_parquet
    from pdf_to_xls_vision_spark.operators.extract import (
        EXTRACTION_SCHEMA,
        extract_text_pages,
        make_vision_extractor,
    )
    from pdf_to_xls_vision_spark.operators.pipeline import (
        explode_pages,
        run_extraction,
    )
    from pdf_to_xls_vision_spark.session import get_spark

    docs_n = int(sys.argv[1]) if len(sys.argv) > 1 else 8000
    corpus_path = f"/tmp/ptxv_bench_corpus_{docs_n}.parquet"
    if not os.path.exists(corpus_path):
        write_corpus_parquet(corpus_path, docs_n)

    spark = get_spark(
        "stage_breakdown",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.port": str(UI_PORT),
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    corpus = spark.read.parquet(corpus_path)
    n_parts = spark.sparkContext.defaultParallelism * 2
    vision = make_vision_extractor(None)

    def pages_plan():
        return explode_pages(corpus).repartition(n_parts)

    def text_plan():
        p = pages_plan()
        return p.filter(F.col("route") == "text").mapInPandas(
            extract_text_pages, EXTRACTION_SCHEMA
        )

    def all_ext_plan():
        p = pages_plan()
        text_ext = p.filter(F.col("route") == "text").mapInPandas(
            extract_text_pages, EXTRACTION_SCHEMA
        )
        vision_ext = p.filter(F.col("route") == "vision").mapInPandas(
            vision, EXTRACTION_SCHEMA
        )
        return text_ext.unionByName(vision_ext)

    def full_plan():
        return run_extraction(corpus)

    rows = []
    prev_exec = 0.0
    for name, mk in (
        ("scan_explode_shuffle", pages_plan),
        ("+ text_parse_udf", text_plan),
        ("+ vision_udf", all_ext_plan),
        ("full_pipeline(+R2 retry, merge_serialize)", full_plan),
    ):
        wall, ex = measure(spark, mk)
        rows.append((name, wall, ex, ex - prev_exec))
        prev_exec = ex

    print(f"\n{docs_n} docs, local[{CPUS}], min of 2 reps after warm-up")
    print(f"{'stage':<50} {'wall_s':>8} {'exec_s':>9} {'delta_s':>9}")
    for name, wall, ex, d in rows:
        print(f"{name:<50} {wall:>8.2f} {ex:>9.1f} {d:>9.1f}")
    spark.stop()


if __name__ == "__main__":
    main()
