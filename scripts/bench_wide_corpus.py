#!/usr/bin/env python3
"""Full-pipeline bench on a WIDE-table corpus (round-5 backlog item:
the grid/spans JSON contracts were chosen on a ~6-column corpus; this
measures the whole extraction pipeline where per-row cell count is
~8x larger, the regime the per-CELL Arrow-hop argument targets).

Two corpora of equal document count, identical doc-shape distribution
(same page-count sampler, same table/image/prose mix minus the prose
suffix the wide layout cannot carry — corpus.py docstring):

- narrow: default 2-5 numeric columns (the bench corpus shape)
- wide:   col_range=(28, 48) -> 30-50 total columns per table

For each: warmup 1 then best-of-``--reps`` wall + executorRunTime
delta of ``run_extraction`` (fresh plan per rep), plus docs/sec and an exact total-cell count
from the result spans. One JSON line on stdout.

Correctness on the wide shape is pinned by
tests/test_e2e_spans.py::test_wide_corpus_spans_equal_oracle (byte
equality vs the sequential oracle).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _executor_ms(spark) -> int:
    sc = spark.sparkContext
    url = (
        f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        "/stages?status=complete"
    )
    with urllib.request.urlopen(url, timeout=10) as r:
        return sum(st.get("executorRunTime", 0) for st in json.load(r))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=4000)
    ap.add_argument("--reps", type=int, default=2)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from pdf_to_xls_vision_spark.corpus import write_corpus_parquet
    from pdf_to_xls_vision_spark.operators.pipeline import run_extraction
    from pdf_to_xls_vision_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        "bench-wide-corpus",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.retainedStages": "5000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    tmp = os.environ.get("TMPDIR", "/tmp")
    out: dict = {"docs": args.docs, "master": f"local[{cpus}]"}
    for label, col_range in (("narrow", None), ("wide", (28, 48))):
        path = os.path.join(
            tmp, f"ptxv_widebench_{label}_{args.docs}.parquet"
        )
        if not os.path.exists(path):
            write_corpus_parquet(path, args.docs, col_range=col_range)
        corpus = spark.read.parquet(path)

        def once():
            res = run_extraction(corpus)
            t0 = time.time()
            res.count()
            return time.time() - t0

        once()  # warmup (JIT + first scan)
        walls, execs = [], []
        for _ in range(args.reps):
            e0 = _executor_ms(spark)
            walls.append(once())
            execs.append((_executor_ms(spark) - e0) / 1000.0)
        # exact table-cell volume from the result spans (one extra run,
        # unmeasured): table_start text is "page:order:RxC"
        res = run_extraction(corpus)
        cells = (
            res.select(F.explode("spans").alias("s"))
            .where(F.col("s.kind") == "table_start")
            .select(
                F.split(F.split(F.col("s.text"), ":")[2], "x")
            .alias("rc")
            )
            .select(
                (
                    F.element_at("rc", 1).cast("long")
                    * F.element_at("rc", 2).cast("long")
                ).alias("n")
            )
            .agg(F.sum("n"))
            .first()[0]
        )
        out[label] = {
            "wall_sec": round(min(walls), 2),
            "executor_sec": round(min(execs), 2),
            "docs_per_sec": round(args.docs / min(walls), 1),
            "table_cells": int(cells),
        }
    out["wide_over_narrow_cells"] = round(
        out["wide"]["table_cells"] / out["narrow"]["table_cells"], 2
    )
    out["wide_over_narrow_exec"] = round(
        out["wide"]["executor_sec"] / out["narrow"]["executor_sec"], 2
    )
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
