#!/usr/bin/env python3
"""N -> 4N scaling efficiency of the extraction pipeline.

Runs the identical extraction job on the identical input at two
parallelism levels, ``local[N]`` and ``local[4N]``, with
``N = max(1, nproc // 4)`` so 4N never oversubscribes the host, and
reports docs/sec at both plus

    efficiency = throughput(4N) / (4 * throughput(N)).

Each measurement is a fresh process (fresh JVM + Python worker pool)
pinned with ``os.sched_setaffinity`` to the first N or 4N CPUs it may
use before it starts the JVM, so the JVM, its GC and Arrow threads and
the Python workers inherit the pin: unpinned, ``local[N]`` also runs
its JVM threads on the idle cores and reads as too fast. Each level's
throughput comes from the median of its ``--repeats`` runs (at least 3
for a recorded figure).

Usage::

    python scripts/bench_scaling.py [--docs 32000] [--repeats 3]
    python scripts/bench_scaling.py --job 4   # internal: one measurement

Prints one JSON line. ``BENCH/BASELINE.md`` is a hand-kept record; its
figures are transcribed from that line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_LOW = max(1, len(os.sched_getaffinity(0)) // 4)
LEVELS = (N_LOW, 4 * N_LOW)


def corpus_path(n_docs: int) -> str:
    return os.path.join(
        os.environ.get("TMPDIR", "/tmp"), f"ptxv_bench_corpus_{n_docs}.parquet"
    )


def run_job(cpus: int, n_docs: int) -> None:
    """One measurement: full extraction pipeline at local[cpus], this
    process and every process it starts pinned to ``cpus`` CPUs."""
    os.sched_setaffinity(0, sorted(os.sched_getaffinity(0))[:cpus])
    from pdf_to_xls_vision_spark.operators.pipeline import run_extraction
    from pdf_to_xls_vision_spark.session import get_spark

    spark = get_spark(
        f"scaling-{cpus}", master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    spark.sparkContext.setLogLevel("ERROR")
    corpus = spark.read.parquet(corpus_path(n_docs))
    # Warm the scan, whole-stage codegen JIT and the Python worker pool
    # with a tiny slice, so the timed region measures steady-state
    # throughput. Both levels get the identical warm-up.
    run_extraction(corpus.limit(32)).write.format("noop").mode("overwrite").save()
    t0 = time.perf_counter()
    run_extraction(corpus).write.format("noop").mode("overwrite").save()
    elapsed = time.perf_counter() - t0
    print(json.dumps({"cpus": cpus, "sec": round(elapsed, 3)}))
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=32000)
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--job", type=int, default=None, help="internal")
    args = ap.parse_args()

    if args.job is not None:
        run_job(args.job, args.docs)
        return

    from pdf_to_xls_vision_spark.corpus import write_corpus_parquet

    path = corpus_path(args.docs)
    if not os.path.exists(path):
        write_corpus_parquet(path, args.docs)

    results: dict[int, list[float]] = {c: [] for c in LEVELS}
    for rep in range(args.repeats):
        for cpus in LEVELS:
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__),
                 "--job", str(cpus), "--docs", str(args.docs)],
                capture_output=True, text=True, cwd=REPO,
                env={**os.environ, "PYTHONPATH": REPO}, timeout=3600,
                check=True,
            )
            line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
            sec = json.loads(line)["sec"]
            results[cpus].append(sec)
            print(f"rep {rep} local[{cpus}]: {sec}s", file=sys.stderr)

    thr = {c: args.docs / statistics.median(v) for c, v in results.items()}
    print(json.dumps({
        "docs": args.docs,
        "repeats": args.repeats,
        "sec": {f"local[{c}]": v for c, v in results.items()},
        "docs_per_sec": {f"local[{c}]": round(t, 2) for c, t in thr.items()},
        "scaling_efficiency_n_to_4n": round(thr[LEVELS[1]] / (4 * thr[LEVELS[0]]), 3),
    }))


if __name__ == "__main__":
    main()
