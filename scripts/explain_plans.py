#!/usr/bin/env python3
"""Physical-plan audit for the registered queries.

Dumps ``explain("formatted")`` for every registered query plus the
extraction pipeline into PLANS.md and greps for the scale signals that
matter at 100 TB:

- ``PushedFilters`` / ``ReadSchema`` on every parquet scan (predicate
  pushdown + column pruning actually reached the source),
- ``BroadcastHashJoin`` where a small side exists,
- ``WholeStageCodegen`` spans over the relational sections,
- counted ``Exchange`` nodes per query (shuffle budget).

Usage: python scripts/explain_plans.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def plan_text(df) -> str:
    jdf = df._jdf
    return jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def audit(name: str, df, out: io.StringIO) -> dict:
    txt = plan_text(df)
    n_exchange = len(re.findall(r"\bExchange\b", txt))
    n_bhj = len(re.findall(r"BroadcastHashJoin", txt))
    n_smj = len(re.findall(r"SortMergeJoin", txt))
    n_scan = len(re.findall(r"Scan parquet", txt))
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", txt)
    schemas = re.findall(r"ReadSchema: (.*)", txt)
    out.write(f"\n## {name}\n\n")
    out.write(
        f"exchanges={n_exchange} broadcast_joins={n_bhj} "
        f"sortmerge_joins={n_smj} parquet_scans={n_scan}\n\n"
    )
    for i, (p, s) in enumerate(zip(pushed, schemas)):
        out.write(f"- scan{i}: PushedFilters=[{p}] ReadSchema={s.strip()}\n")
    out.write("\n```\n" + txt.strip()[:4000] + "\n```\n")
    return {
        "exchanges": n_exchange,
        "broadcast": n_bhj,
        "sortmerge": n_smj,
        "scans": n_scan,
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from pdf_to_xls_vision_spark.corpus import write_corpus_parquet
    from pdf_to_xls_vision_spark.operators.pipeline import run_extraction
    from pdf_to_xls_vision_spark.plans.queries import QUERIES
    from pdf_to_xls_vision_spark.session import get_spark

    spark = get_spark("plans", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    out = io.StringIO()
    out.write(
        "# PLANS — physical-plan audit (explain formatted)\n\n"
        f"Generated by scripts/explain_plans.py over {sf_dir}. Signals:\n"
        "pushdown reaching scans, broadcast vs sort-merge joins, shuffle\n"
        "(Exchange) counts. The extraction pipeline plan shows the page\n"
        "repartition (round-robin Exchange) and the Arrow UDF stages.\n"
    )
    summary = {}
    corpus_path = "/tmp/ptxv_plan_corpus.parquet"
    if not os.path.exists(corpus_path):
        write_corpus_parquet(corpus_path, 64)
    corpus = spark.read.parquet(corpus_path)
    summary["extraction_pipeline"] = audit(
        "extraction_pipeline", run_extraction(corpus), out
    )
    for name, fn in QUERIES.items():
        # the extraction queries are audited via the pipeline entry above
        if name.startswith("extraction"):
            continue
        try:
            summary[name] = audit(name, fn(spark, sf_dir), out)
        except Exception as e:  # pragma: no cover
            out.write(f"\n## {name}\n\nERROR: {e}\n")
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write(out.getvalue())
    for name, s in summary.items():
        print(
            f"{name:32s} exch={s['exchanges']:2d} bhj={s['broadcast']} "
            f"smj={s['sortmerge']} scans={s['scans']}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
