#!/usr/bin/env python3
"""Headline benchmark harness (driver contract).

Runs the flagship extraction pipeline plus the heavy relational /
dedup / similarity queries from the driver registry at
``$SPARK_GRAFT_SF_DIR`` (default ``/root/testdata/sf0.1``) on
``local[$SPARK_GRAFT_CPUS]`` and prints exactly ONE JSON line::

    {"metric": "...", "value": N, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": 0.1, ...}

Plans execute end-to-end via the ``noop`` DSv2 sink (full computation,
no collect-to-driver, no disk write), so the timing measures scan +
shuffle + UDF + aggregation — the same path a cluster run takes.

The extraction headline also reports ``docs_per_sec`` — the
BASELINE.json target metric — over the deterministic skewed corpus
(FIXTURES.md): many 1-pagers, a heavy tail of 100+-page documents.
Scaling-efficiency evidence (local[8] vs local[32]) lives in
``scripts/bench_scaling.py`` / ``BENCH/BASELINE.md``.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# documents in the deterministic extraction corpus (seeded, skewed).
# 8000 amortizes the ~12s fixed job overhead (stage barriers, worker
# pool spin-up) that dominates smaller corpora at local[32]; the 16k
# scaling corpus measured 420 docs/sec steady-state.
BENCH_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "8000"))

# Headline relational queries from the driver registry (plans/queries.py).
# dedup_lsh_pairs_capped is the production default (the uncapped
# variant exists only for oracle parity and is quadratic on hot
# buckets by design — not a representative number).
HEADLINE = [
    "agg_pricing_summary",
    "join_nation_revenue",
    "x4_multiset_counts",
    "x5_discrepancy_join",
    "m1_sessionize_window",
    "dedup_exact",
    "dedup_minhash_signatures",
    "dedup_lsh_pairs_capped",
    "dedup_clusters",
    "dedup_simhash",
    "dedup_embedding_cosine_lsh",
    "ann_topk_ivf",
    "ann_topk_ivf_kmeans",
    "ann_topk_ivf_probe_aware",
    "ann_topk_ivf_pq",
    "ann_topk_ivf_pq_residual",
    "text_quality_score",
    "text_lang_id",
    "text_bpe_merge_tokens",
    "text_repetition_filters",
    "dedup_paragraph_chunks",
    "join_asof_purchase_view",
    "join_range_error_context",
    "window_topk_per_segment",
    "index_postings",
    "index_search_topk",
    "dedup_ngram_spans",
    "text_quality_classifier",
    "text_lm_score",
    "curation_temperature_mix",
    "layout_zorder_keys",
    "graph_pagerank_parts",
    "graph_triangle_parts",
    "dedup_jaccard_prefix_join",
    "dedup_corpus_lines",
    "cdc_merge_upsert",
    "events_retention_cohorts",
    "join_bloom_prefilter",
    "join_salted_skew",
    "ann_embedding_outliers",
    "graph_components_parts",
    "dedup_source_overlap",
    "window_sliding_24h",
    "events_user_rfm",
    "profile_events_stats",
    "dedup_simhash_near_dups",
    "join_asof_nearest",
    "window_ewma_value",
    "curation_dataset_card",
    "text_pmi_bigrams",
    "dedup_minhash_estimate",
    "profile_equidepth_histogram",
    "curation_dsir_select",
    "graph_label_propagation",
    "events_json_stats",
    "text_quality_ensemble",
    "graph_kcore",
    "dedup_containment_join",
    "profile_winsorize_value",
    "window_forward_fill",
    "events_conversion_labels",
    "agg_revenue_contribution",
    "curation_negative_samples",
]


def _run(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


_SPARK_FOR_METRICS = None


def _executor_run_time_ms() -> int | None:
    """Total executorRunTime (ms) over all completed stages, via the
    UI REST API (bench enables the UI; retainedStages is raised so no
    stage is evicted mid-delta). Executor CPU-side run time is stable
    on this 2-3x-wall-noisy shared VM, so per-query regression triage
    uses deltas of this figure, not wall."""
    try:
        import json as _json
        import urllib.request

        sc = _SPARK_FOR_METRICS.sparkContext
        url = (
            f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
            "/stages?status=complete"
        )
        with urllib.request.urlopen(url, timeout=10) as r:
            return sum(st.get("executorRunTime", 0) for st in _json.load(r))
    except Exception:
        return None


def _peak_jvm_heap() -> int | None:
    """Peak JVM heap (bytes) across executors (the local-mode driver),
    from the executors REST endpoint's peakMemoryMetrics."""
    try:
        import json as _json
        import urllib.request

        sc = _SPARK_FOR_METRICS.sparkContext
        url = (
            f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/executors"
        )
        with urllib.request.urlopen(url, timeout=10) as r:
            return max(
                e.get("peakMemoryMetrics", {}).get("JVMHeapMemory", 0)
                for e in _json.load(r)
            )
    except Exception:
        return None


def _run_best(df, reps: int = 2, warmup: int = 1) -> tuple[float, float | None]:
    """``warmup`` unrecorded executions (first-scan footer reads +
    whole-stage-codegen JIT are one-time costs a long-running cluster
    never re-pays), then best of ``reps`` measured runs — the sandbox
    host injects random 10-20s stalls (shared-VM co-tenancy), and the
    minimum is the least-contended, reproducible steady-state figure.

    The plan is built ONCE and re-executed: every ``.write`` fully
    re-runs the plan (no cross-job shuffle reuse), so the measured
    region is identical to rebuild-per-rep, while builder-side
    training jobs (k-means collects, CC rounds — excluded from both
    wall and the executor delta by protocol) run once instead of
    warmup+reps times. That build-per-rep cost was the bench's
    stall-amplification hot spot: dozens of tiny sequential driver
    jobs, each exposed to the host's 10-20s random stalls.

    ``df`` may instead be a zero-arg callable returning ``(DataFrame,
    persisted_handles)`` — used for query plans that persist internally:
    each rep gets a fresh plan and its caches are dropped after the
    rep, so every measured run executes the full plan.

    Returns (best wall sec, best executor-run-time sec or None)."""
    def _once():
        if callable(df):
            d, sink = df()
            wall = _run(d)
            for c in sink:
                c.unpersist(blocking=True)
            return wall
        return _run(df)

    for _ in range(warmup):
        _once()
    walls: list[float] = []
    execs: list[float] = []
    for _ in range(reps):
        e0 = _executor_run_time_ms()
        walls.append(_once())
        e1 = _executor_run_time_ms()
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
    global _SPARK_FOR_METRICS
    _SPARK_FOR_METRICS = spark

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
    t_ext, e_ext = _run_best(run_extraction(corpus))
    timings["extraction_pipeline"] = round(t_ext, 3)
    exec_secs["extraction_pipeline"] = (
        round(e_ext, 3) if e_ext is not None else None
    )
    spark.catalog.clearCache()

    for name in HEADLINE:
        _log(f"query {name}")
        probe = QUERIES[name](spark, SF_DIR)
        probe_sink = getattr(probe, "_ptxv_persisted", None)
        if probe_sink is None:
            w, e = _run_best(probe)
        else:
            # plans that persist internally (graphs' iteration
            # constants, the jaccard-prefix token/prefix relations):
            # rebuild per rep and unpersist after, so each measured
            # run pays the real compute-once-probe-many cost and
            # nothing leaks across queries (extraction thunk pattern)
            for c in probe_sink:
                c.unpersist(blocking=True)

            def _q_thunk(nm=name):
                d = QUERIES[nm](spark, SF_DIR)
                return d, list(getattr(d, "_ptxv_persisted", []))

            w, e = _run_best(_q_thunk)
        timings[name] = round(w, 3)
        exec_secs[name] = round(e, 3) if e is not None else None

    # IVF quality: recall@5 of trained-kmeans IVF vs exact brute force
    # over the bench embeddings (quantized scores on both sides)
    from pyspark.sql import functions as F

    from pdf_to_xls_vision_spark.functions.ann import (
        kmeans_train_balanced,
        make_blob_embeddings,
        topk_dot_quantized,
        topk_ivf_kmeans,
    )

    _log("IVF recall section")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    probes = emb.filter(F.col("vec_id") < 25)
    brute = {
        (r.query_id, r.nbr_id)
        for r in topk_dot_quantized(emb, probes, k=5).collect()
    }

    def _recall(nprobe: int) -> float:
        ivf = {
            (r.query_id, r.nbr_id)
            for r in topk_ivf_kmeans(emb, probes, k=5, nprobe=nprobe).collect()
        }
        return round(len(brute & ivf) / max(len(brute), 1), 4)

    recall = {f"nprobe{n}": _recall(n) for n in (1, 2)}

    # Recall-vs-nprobe curve on CLUSTERABLE data (the honest IVF
    # fixture — the driver embeddings are near-orthogonal noise, where
    # neighbors are random across cells and recall says nothing about
    # the quantizer). 16 cells, nprobe << n_cells.
    blobs = make_blob_embeddings(
        spark, n=2000, d=16, n_clusters=12,
        sizes=[0.45] + [0.05] * 11, seed=7,
    ).drop("label").cache()
    bprobes = blobs.filter(F.col("vec_id") % 100 == 0)
    bbrute = {
        (r.query_id, r.nbr_id)
        for r in topk_dot_quantized(blobs, bprobes, k=5).collect()
    }
    bal_cents = kmeans_train_balanced(
        blobs, k=16, iterations=4, balance_factor=1.5, max_splits=8
    )

    def _blob_recall(nprobe: int) -> float:
        got = {
            (r.query_id, r.nbr_id)
            for r in topk_ivf_kmeans(
                blobs, bprobes, k=5, nprobe=nprobe, centroids=bal_cents
            ).collect()
        }
        return round(len(got & bbrute) / max(len(bbrute), 1), 4)

    blob_recall = {f"nprobe{n}": _blob_recall(n) for n in (1, 2, 4, 8)}

    # Probe-aware pruning effect on the same fixture: the bound-pruned
    # search returns bit-identical rows to nprobe=4 while scanning
    # fewer cells; report avg cells actually scanned per probe (the
    # budget is 4) plus its identity with the fixed fan-out.
    from pdf_to_xls_vision_spark.functions.ann import topk_ivf_probe_aware

    _log("probe-aware stats")
    sink: list = []
    aware_rows = sorted(
        tuple(r)
        for r in topk_ivf_probe_aware(
            blobs, bprobes, k=5, nprobe_max=4,
            centroids=bal_cents, scanned_cells_sink=sink,
        ).collect()
    )
    fixed_rows = sorted(
        tuple(r)
        for r in topk_ivf_kmeans(
            blobs, bprobes, k=5, nprobe=4, centroids=bal_cents
        ).collect()
    )
    scanned = {r.query_id: r.cells_scanned for r in sink[0].collect()}
    n_bprobes = bprobes.count()
    # probes absent from the sink had every extra cell pruned -> 1 cell
    total_cells = sum(scanned.values()) + (n_bprobes - len(scanned))
    probe_aware = {
        "identical_to_nprobe4": aware_rows == fixed_rows,
        "cells_scanned_avg": round(total_cells / max(n_bprobes, 1), 3),
        "cells_budget": 4,
    }
    blobs.unpersist()

    # Dedup effect metrics: what the production path (capped LSH ->
    # connected components -> canonical mapping) actually removes from
    # the SF documents corpus — the yield number a curation run reports
    # next to its throughput.
    _log("dedup yield")
    clusters_df = QUERIES["dedup_clusters"](spark, SF_DIR).cache()
    n_docs = clusters_df.count()
    n_canonical = int(
        clusters_df.filter(F.col("is_canonical") == 1).count()
    )
    n_multi_clusters = int(
        clusters_df.groupBy("cluster_rep")
        .agg(F.count("*").alias("sz"))
        .filter(F.col("sz") > 1)
        .count()
    )
    clusters_df.unpersist()
    dedup_yield = {
        "n_docs": int(n_docs),
        "docs_removed": int(n_docs - n_canonical),
        "removed_pct": round(100.0 * (n_docs - n_canonical) / max(n_docs, 1), 2),
        "dup_clusters": n_multi_clusters,
    }

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
    corpus.limit(stream_docs).repartition(8).write.mode("overwrite").parquet(
        stream_in
    )

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
    _stream_run(8)  # warm-up (worker pool + sink-path JIT)
    stream_curve = {
        f"files{mfpt}": round(stream_docs / _stream_run(mfpt), 2)
        for mfpt in (1, 2, 4, 8)
    }
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
        peak = _peak_jvm_heap()
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
        "ivf_kmeans_recall_at_5": recall,
        "ivf_balanced_recall_at_5_blobs": blob_recall,
        "ivf_probe_aware": probe_aware,
        "dedup_yield": dedup_yield,
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
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1900:  # belt-and-braces vs the 2000-char tail capture
        compact["queries"] = {
            k: v
            for k, v in sorted(
                timings.items(), key=lambda kv: -kv[1]
            )[:25]
        }
        compact["queries_note"] = "slowest 25; full set in full_payload"
        line = json.dumps(compact, separators=(",", ":"))
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
