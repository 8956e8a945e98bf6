#!/usr/bin/env python3
"""Headline benchmark harness.

Runs the flagship extraction pipeline plus the heaviest SURVEY-stage
queries from the registry at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[nproc]``, then the
streaming-ingest curve and one big extraction run with peak heap, and
prints exactly ONE JSON line::

    {"metric": "...", "value": N, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": 0.1, ...}

Plans execute end-to-end via the ``noop`` DSv2 sink (full computation,
no collect-to-driver, no disk write), so the timing measures scan +
shuffle + UDF + aggregation — the same path a cluster run takes.
Executor run time and peak heap come from Spark's REST API through
``perfbench.sparkstats.Rest``.

The extraction headline also reports ``docs_per_sec`` over the
deterministic skewed corpus (FIXTURES.md): many 1-pagers, a heavy tail
of 100+-page documents. The benchmark of record, with per-layer
executor seconds, is ``perfbench/run.py`` (``--trace 1``); N -> 4N
scaling efficiency, with N derived from nproc, is
``scripts/bench_scaling.py``.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.cpu_count() or 1
# documents in the deterministic extraction corpus (seeded, skewed).
# 8000 amortizes the ~12s fixed job overhead (stage barriers, worker
# pool spin-up) that dominates smaller corpora at local[32]; the 16k
# scaling corpus measured 420 docs/sec steady-state.
BENCH_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "8000"))

# Headline SURVEY-stage queries from the driver registry
# (plans/queries.py): the validation multiset/join and the M1 window.
HEADLINE = [
    "x4_multiset_counts",
    "x5_discrepancy_join",
    "m1_sessionize_window",
]


def _run(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _executor_run_time_ms(rest) -> int | None:
    """Total executorRunTime (ms) over all completed stages (bench
    enables the UI; retainedStages is raised so no stage is evicted
    mid-delta). Executor CPU-side run time is stable on a
    wall-clock-noisy shared host, so per-query regression triage uses
    deltas of this figure, not wall."""
    try:
        return sum(
            st.get("executorRunTime", 0)
            for st in rest.get("stages?status=complete")
        )
    except (OSError, ValueError):  # UI unreachable or a bad reply
        return None


def _peak_jvm_heap(rest) -> int | None:
    """Peak JVM heap (bytes) across executors (the local-mode driver),
    from the executors endpoint's peakMemoryMetrics."""
    try:
        return max(
            e.get("peakMemoryMetrics", {}).get("JVMHeapMemory", 0)
            for e in rest.get("executors")
        )
    except (OSError, ValueError):  # UI unreachable or a bad reply
        return None


def _run_best(df, rest, reps: int = 2, warmup: int = 1) -> tuple[float, float | None]:
    """``warmup`` unrecorded executions (first-scan footer reads +
    whole-stage-codegen JIT are one-time costs a long-running cluster
    never re-pays), then best of ``reps`` measured runs — the sandbox
    host injects random 10-20s stalls (shared-VM co-tenancy), and the
    minimum is the least-contended, reproducible steady-state figure.

    The plan is built ONCE and re-executed: every ``.write`` fully
    re-runs the plan (no cross-job shuffle reuse), so the measured
    region is identical to rebuild-per-rep.

    Returns (best wall sec, best executor-run-time sec or None)."""
    for _ in range(warmup):
        _run(df)
    walls: list[float] = []
    execs: list[float] = []
    for _ in range(reps):
        e0 = _executor_run_time_ms(rest)
        walls.append(_run(df))
        e1 = _executor_run_time_ms(rest)
        if e0 is not None and e1 is not None:
            execs.append((e1 - e0) / 1000.0)
    return min(walls), (min(execs) if execs else None)


def _log(msg: str) -> None:
    """Phase progress to stderr (the driver only reads the stdout JSON
    line; stderr makes slow phases diagnosable when a run is killed)."""
    print(f"[bench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


_T_START = time.perf_counter()


def main() -> None:
    from pdf_to_xls_vision_spark.corpus import write_corpus_parquet
    from pdf_to_xls_vision_spark.operators.pipeline import run_extraction
    from pdf_to_xls_vision_spark.plans.queries import QUERIES
    from pdf_to_xls_vision_spark.session import get_spark
    from perfbench.sparkstats import Rest

    spark = get_spark(
        "bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        # UI on for the metrics REST API (executor run time + peak
        # heap); retention raised so stage eviction can't corrupt the
        # per-query executor-time deltas
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedJobs": "50000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    # the REST client reads executor run time and peak heap
    rest = Rest(spark.sparkContext.uiWebUrl)

    # corpus generation happens outside the timed region
    corpus_path = os.path.join(
        os.environ.get("TMPDIR", "/tmp"), f"ptxv_bench_corpus_{BENCH_DOCS}.parquet"
    )
    if not os.path.exists(corpus_path):
        write_corpus_parquet(corpus_path, BENCH_DOCS)
    corpus = spark.read.parquet(corpus_path)

    # warm the JVM + Python worker pool so q1 doesn't pay startup costs
    _run(corpus.select("doc_id"))

    timings: dict[str, float] = {}
    exec_secs: dict[str, float | None] = {}

    _log("extraction pipeline")
    spark.catalog.clearCache()
    t_ext, e_ext = _run_best(run_extraction(corpus), rest)
    timings["extraction_pipeline"] = round(t_ext, 3)
    exec_secs["extraction_pipeline"] = (
        round(e_ext, 3) if e_ext is not None else None
    )
    spark.catalog.clearCache()

    for name in HEADLINE:
        _log(f"query {name}")
        w, e = _run_best(QUERIES[name](spark, SF_DIR), rest)
        timings[name] = round(w, 3)
        exec_secs[name] = round(e, 3) if e is not None else None

    # Streaming-ingest amortization curve: the corpus streamed
    # availableNow through foreachBatch with exactly-once
    # (ingest_batch, bucket) commits + manifest rows — the full
    # checkpoint/commit path (file pickup, extraction,
    # dynamic-overwrite sink). The input is 8 files; sweeping
    # maxFilesPerTrigger in {1,2,4,8} varies the micro-batch size at
    # constant total work, so the curve separates the per-batch fixed
    # cost (plan re-execution, two sink commits, manifest write) from
    # the per-doc cost. files1 (8 micro-batches) prices the
    # exactly-once machinery; files8 (one batch over everything) is
    # the amortized steady-state limit a production trigger size
    # approaches — deployment guidance is to size triggers so batch
    # work dominates the ~fixed seconds per batch. Single rep per
    # point (the curve's SHAPE is the deliverable; per-point wall
    # noise shifts levels, not the monotone fixed-cost trend).
    import shutil
    import tempfile

    from pdf_to_xls_vision_spark.streaming.ingest import stream_extraction

    stream_docs = min(BENCH_DOCS, 2000)
    stream_in = tempfile.mkdtemp(prefix="ptxv_stream_bench_in_")

    def _stream_run(mfpt: int) -> float:
        base = tempfile.mkdtemp(prefix="ptxv_stream_bench_")
        t0 = time.perf_counter()
        q = stream_extraction(
            spark,
            stream_in,
            os.path.join(base, "out"),
            os.path.join(base, "ck"),
            max_files_per_trigger=mfpt,
        )
        q.awaitTermination()
        elapsed = time.perf_counter() - t0
        shutil.rmtree(base, ignore_errors=True)
        return elapsed

    _log("streaming curve")
    try:
        corpus.limit(stream_docs).repartition(8).write.mode("overwrite").parquet(
            stream_in
        )
        _stream_run(8)  # warm-up (worker pool + sink-path JIT)
        stream_curve = {
            f"files{mfpt}": round(stream_docs / _stream_run(mfpt), 2)
            for mfpt in (1, 2, 4, 8)
        }
    finally:
        shutil.rmtree(stream_in, ignore_errors=True)
    t_stream = stream_docs / stream_curve["files1"]

    # One 64k-doc extraction run (8x the headline corpus): evidences
    # that headline docs/sec holds at a memory-pressure-relevant scale
    # — no warm-up/min-of-N (one long run is its own amortization),
    # peak JVM heap recorded to show no memory-growth cliff.
    _log("big run")
    big = {}
    big_docs = int(os.environ.get("SPARK_GRAFT_BENCH_BIG_DOCS", "64000"))
    # Time-box: the one JSON line is the primary deliverable. Under a
    # host storm (documented 10-20s random stalls) the preceding
    # phases can run 2-3x long; if the budget is already spent, skip
    # the optional 64k run rather than risk the whole bench being
    # killed with nothing on stdout.
    budget_sec = int(os.environ.get("SPARK_GRAFT_BENCH_BIG_BUDGET", "1100"))
    if time.perf_counter() - _T_START > budget_sec:
        _log(
            f"skipping big run: {time.perf_counter() - _T_START:.0f}s "
            f"elapsed > {budget_sec}s budget (contended host)"
        )
        big_docs = 0
    if big_docs > 0:
        big_path = os.path.join(
            os.environ.get("TMPDIR", "/tmp"),
            f"ptxv_bench_corpus_{big_docs}.parquet",
        )
        if not os.path.exists(big_path):
            write_corpus_parquet(big_path, big_docs)
        big_corpus = spark.read.parquet(big_path)
        spark.catalog.clearCache()
        t_big = _run(run_extraction(big_corpus))
        spark.catalog.clearCache()
        peak = _peak_jvm_heap(rest)
        big = {
            "big_run_docs": big_docs,
            "big_run_sec": round(t_big, 3),
            "big_run_docs_per_sec": round(big_docs / t_big, 2),
            "peak_jvm_heap_gib": (
                round(peak / (1 << 30), 2) if peak else None
            ),
        }

    total = round(sum(timings.values()), 3)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf

    # Full payload -> file. Round 4's single stdout line (timings +
    # executor times + recall tables + curves) overflowed the driver's
    # 2000-char tail capture and BENCH_r04 recorded "parsed": null —
    # the headline value was lost from the permanent record. Everything
    # diagnostic now lands in BENCH/bench_full.json; stdout carries ONE
    # compact line (measured <1.9 KB) with the contract fields only.
    full_payload = {
        "value": total,
        "unit": "sec",
        "queries": timings,
        # executor-run-time (sum over tasks, min across reps): the
        # contention-immune figure to triage regressions on this
        # 2-3x-wall-noisy shared VM
        "queries_executor_sec": exec_secs,
        "sf": sf_val,
        "docs_per_sec": round(BENCH_DOCS / t_ext, 2),
        "bench_docs": BENCH_DOCS,
        "streaming_ingest_docs_per_sec": round(stream_docs / t_stream, 2),
        "streaming_ingest_docs": stream_docs,
        # docs/sec vs micro-batch size (maxFilesPerTrigger over an
        # 8-file input): separates per-batch fixed cost from per-doc
        # cost; filesN with N=8 is the amortized limit
        "streaming_ingest_curve": stream_curve,
        **big,
        # protocol tag so cross-round deltas are compared
        # like-for-like: r01/r02 ran bestof2 with NO warm-up rep
        # (their figures include one-time JIT/footer-scan cost);
        # r03+ run warmup1_bestof2 (steady state).
        "timing_protocol": "warmup1_bestof2",
        "master": f"local[{CPUS}]",
    }
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH", "bench_full.json"
    )
    try:
        with open(full_path, "w") as f:
            json.dump(full_payload, f, indent=1)
        _log(f"full payload -> {full_path}")
    except OSError as exc:  # read-only checkout: stdout line still lands
        _log(f"full-payload write failed ({exc}); stdout line unaffected")
        full_path = None

    compact = {
        "metric": (
            f"headline wall sec: extraction ({BENCH_DOCS} skewed docs) "
            f"+ {len(HEADLINE)} queries, local[{CPUS}]"
        ),
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "docs_per_sec": round(BENCH_DOCS / t_ext, 2),
        "big_run_docs_per_sec": big.get("big_run_docs_per_sec"),
        "streaming_files8_docs_per_sec": stream_curve.get("files8"),
        "timing_protocol": "warmup1_bestof2",
        "full_payload": full_path,
    }
    print(json.dumps(compact, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
