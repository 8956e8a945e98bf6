"""Extraction benchmark: the engine's public entry points, timed end to end,
checked against the sequential oracle, and broken down by layer.

Usage (from the repository root)::

    python3 perfbench/run.py --workload cli_skewed --seed 1 --seconds 5 --trace 0

Workloads (one per run; ``--seed`` makes every input):

- ``cli_skewed``: ``cli.main([corpus, -o, out, --no-resume])`` in process,
  over the skewed random corpus plus the pinned edge documents;
- ``cli_force_vision``: the same CLI job with ``--force-vision``;
- ``stream_backlog``: ``stream_extraction(available_now=True,
  max_files_per_trigger=1)`` draining a backlog of pre-split files with
  pinned, increasing mtimes (a closed loop, one trigger in flight).

Each run starts its own ``local[nproc]`` session once (JVM launch,
session and worker-pool warm-up: ``setup_s``), then repeats the
workload's job until ``--seconds`` of job time has passed (at least
once). The first job of a run is the cold job a one-shot CLI invocation
pays. After each job the committed output is read back and compared
with the oracle (outside the timed region).

The last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``: end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1`` (which also installs the counting probes).
``attempted``/``failed`` count documents, so ``failed / attempted`` is
the failed fraction. Progress and the layer table go to stderr.

Working files live under ``.perfbench/`` in the repository root.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import shutil
import statistics
import sys
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("cli_skewed", "cli_force_vision", "stream_backlog")

END_TO_END = {
    "docs_per_sec": "1/s",
    "core_ms_per_doc": "ms",
    "core_util": "ratio",
    "microbatch_s.p50": "s",
    "setup_s": "s",
}
PER_LAYER = {
    "text_parse.rows_in": "count",
    "text_parse.busy_s": "s",
    "text_parse.runs_per_page": "ratio",
    "retry.docs": "count",
    "retry.rows_in": "count",
    "vision.calls": "count",
    "vision.busy_s": "s",
    "vision.calls_per_page": "ratio",
    "page_shuffle.bytes": "B",
    "page_shuffle.task_skew": "ratio",
    "driver.serial_s": "s",
    "merge.docs_out": "count",
    "merge.busy_s": "s",
    "merge.shuffle_bytes": "B",
    "jvm.gc_s": "s",
    "jvm.peak_heap_mib": "MiB",
    "plan.executions": "count",
    "sink.write_s": "s",
    "sink.bytes": "B",
    "manifest.s": "s",
    "microbatch.fixed_s": "s",
    "microbatch.tail_s": "s",
    "scan.exec_s": "s",
    "explode.pages_out": "count",
    "page_shuffle.exec_s": "s",
    "text_parse.exec_s": "s",
    "retry.exec_s": "s",
    "vision.exec_s": "s",
    "merge.exec_s": "s",
    "manifest.exec_s": "s",
    "layers.coverage": "ratio",
    "trace.docs_per_sec": "1/s",
}


_T0 = time.perf_counter()


def log(*a) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:6.1f}s]", *a, file=sys.stderr, flush=True)


def _prepare_env() -> None:
    """Keep every file Spark and Python write inside the checkout, and
    let Python workers import the engine and these probes."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _session(cores: int):
    from pdf_to_xls_vision_spark.session import get_spark

    return get_spark(
        "perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            # no hsperfdata file under /tmp: the run writes only in WORK
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK}/tmp -XX:-UsePerfData",
        },
    )


def _warm_pool(spark, cores: int) -> None:
    """One task per core, each importing the engine in its Python worker."""

    def touch(batches):
        import pdf_to_xls_vision_spark.operators.pipeline  # noqa: F401

        yield from batches

    spark.range(0, cores * 16, 1, cores).mapInPandas(touch, "id long").count()


def _old_gen_pools(spark):
    """The tenured heap pools. Their peak is the high-water mark of data
    the job keeps alive; the young-generation peak follows the
    collector's adaptive eden sizing instead (it moved 2x between
    identical runs)."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return [
        p for p in mf.getMemoryPoolMXBeans()
        if p.getType().name() == "HEAP" and ("Old" in p.getName() or "Tenured" in p.getName())
    ]


def _shutdown(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if proc is not None:
        import subprocess

        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _tail(samples: list[float]) -> float:
    """Highest percentile with at least 10 samples beyond it; below 20
    samples that percentile would sit under the median, so the maximum
    stands in for it."""
    n = len(samples)
    if n >= 20:
        return statistics.quantiles(samples, n=n, method="inclusive")[n - 11]
    return max(samples)


class Job:
    """One timed execution of a workload's job plus its oracle check.

    ``golden`` computes the oracle's spans, once. It and the read-back of
    the committed output run in threads after the timed region, while
    the UI's REST API starts and settles."""

    def __init__(self, spark, workload, inputs, golden, probes):
        self.spark, self.workload = spark, workload
        self.inputs, self.golden, self.probes = inputs, golden, probes
        self.out = os.path.join(WORK, "out", workload)
        self.rest = self._gold = self._output = None
        self._pool = ThreadPoolExecutor(2)

    def run(self) -> dict:
        from perfbench import sparkstats

        shutil.rmtree(self.out, ignore_errors=True)
        t0 = time.time()
        p0 = time.perf_counter()
        triggers = self._execute()
        wall = time.perf_counter() - p0
        t1 = time.time()
        # the stats cover stages and executions submitted in [t0, t1],
        # so the read-back's own Spark jobs stay out of them
        self._output = self._pool.submit(self._read_output)
        if self._gold is None:
            self._gold = self._pool.submit(self.golden)
            self.rest = sparkstats.Rest(self.spark.sparkContext.uiWebUrl)
        stats = _settled(self.rest, t0, t1)
        if not triggers:
            triggers = [(t0, wall)]
        fixed = [
            dur - sparkstats.covered(stats["intervals"], start, start + dur)
            for start, dur in triggers
        ]
        heaviest = stats["udf_stages"][0][1] if stats["udf_stages"] else None
        traced = self.probes is not None and heaviest is not None
        return {
            "skew": sparkstats.task_skew(self.rest, heaviest) if traced else 1.0,
            "wall": wall,
            "stats": stats,
            "triggers": [d for _, d in triggers],
            "fixed": fixed,
            "serial": wall - sparkstats.covered(stats["intervals"], t0, t1),
        }

    def _execute(self):
        if self.workload == "stream_backlog":
            return self._stream()
        from pdf_to_xls_vision_spark import cli

        argv = [self.inputs, "-o", self.out, "--no-resume"]
        if self.workload == "cli_force_vision":
            argv.append("--force-vision")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = cli.main(argv)
        if rc != 0:
            raise RuntimeError(f"cli exited {rc}")
        log("cli:", buf.getvalue().strip())
        return []

    def _stream(self):
        from datetime import datetime, timezone

        from pdf_to_xls_vision_spark.streaming.ingest import stream_extraction

        ckpt = self.out + "-checkpoint"
        shutil.rmtree(ckpt, ignore_errors=True)
        q = stream_extraction(
            self.spark,
            self.inputs,
            self.out,
            ckpt,
            max_files_per_trigger=1,
            available_now=True,
            backend=self.probes.backend if self.probes else None,
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        out = []
        for p in q.recentProgress:
            if p["numInputRows"] == 0:
                continue
            start = (
                datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
                .replace(tzinfo=timezone.utc)
                .timestamp()
            )
            out.append((start, p["durationMs"]["triggerExecution"] / 1000.0))
        return out

    @property
    def gold(self) -> dict:
        return self._gold.result()

    def _read_output(self):
        from perfbench import gate

        if self.workload == "stream_backlog":
            return gate.read_stream(self.spark, self.out)
        return gate.read_batch(self.spark, self.out)

    def check(self) -> dict:
        from perfbench import gate

        rows, manifest = self._output.result()
        key = ("ingest_batch", "bucket") if self.workload == "stream_backlog" else ("bucket",)
        return gate.check(rows, manifest, self.gold, key=key)


def _settled(rest, t0: float, t1: float) -> dict:
    """Stage/SQL stats for [t0, t1], once the UI listener has caught up."""
    from perfbench import sparkstats

    # poll the cheap listings; the detailed SQL listing is read once
    prev = None
    for _ in range(50):
        stages = rest.get("stages")
        sql = rest.get("sql?details=false&planDescription=false&length=100000")
        key = (
            [q["status"] for q in sql],
            [(s["status"], s["executorRunTime"]) for s in stages],
        )
        if key == prev and all(s["status"] != "ACTIVE" for s in stages):
            break
        prev = key
        time.sleep(0.1)
    return sparkstats.collect(rest, t0, t1)


def run(args) -> dict:
    _prepare_env()
    from perfbench import inputs

    cores = os.cpu_count() or 1
    stream = args.workload == "stream_backlog"
    size = "stream" if stream and args.size == "bench" else args.size
    force_vision = args.workload == "cli_force_vision"
    log("start")
    corpus = inputs.make_corpus(WORK, args.seed, size)
    if stream:
        job_input = inputs.make_backlog(WORK, corpus, inputs.STREAM_FILES)
    else:
        job_input = corpus.path
    log(f"{args.workload}: corpus seed {corpus.seed}, {corpus.n_docs} docs, "
        f"{sum(len(spans) for _, spans in corpus.docs)} pages")

    spark = None
    try:
        # Set up once: every run pays the JVM launch anyway, and a session
        # restart per extra sample would add ~3 s to each run.
        t = time.perf_counter()
        spark = _session(cores)
        spark.sparkContext.setLogLevel("WARN")
        _warm_pool(spark, cores)
        setup_s = time.perf_counter() - t
        log(f"setup_s: {setup_s:.3f}")
        probes = pools = None
        if args.trace:
            from perfbench.probes import Probes

            probes = Probes(spark.sparkContext)
            probes.install()
            # collect what set-up left behind, so the peak starts from live data
            spark._jvm.java.lang.System.gc()
            pools = _old_gen_pools(spark)
            for p in pools:
                p.resetPeakUsage()

        job = Job(
            spark, args.workload, job_input,
            lambda: inputs.golden(WORK, corpus, force_vision), probes,
        )
        results, checks = [], []
        while not results or sum(r["wall"] for r in results) < args.seconds:
            results.append(job.run())
            checks.append(job.check())
            r = results[-1]
            log(f"job {len(results)}: {r['wall']:.3f}s wall, "
                f"{r['stats']['total_exec_s']:.1f} executor-s, "
                f"{checks[-1]['failed']}/{checks[-1]['attempted']} failed")
        peak_heap = counts = None
        if probes:
            peak_heap = sum(p.getPeakUsage().getUsed() for p in pools) / 2**20
            counts = probes.snapshot()
            probes.uninstall()
    finally:
        if spark is not None:
            _shutdown(spark)
    log("session stopped")

    attempted = sum(c["attempted"] for c in checks)
    failed = sum(c["failed"] for c in checks)
    for c in checks:
        for doc_id, why in list(c["reasons"].items())[:5]:
            log(f"FAIL {doc_id}: {why}")
    log(f"oracle gate: {'PASS' if failed == 0 else 'FAIL'} "
        f"failed_frac={failed / attempted:.4f} ({failed}/{attempted} docs)")

    e2e = _end_to_end(results, checks, setup_s, cores)
    if args.trace:
        metrics = _per_layer(results, checks, job.gold, counts, e2e)
        metrics["jvm.peak_heap_mib"] = peak_heap
        units = PER_LAYER
    else:
        metrics, units = e2e, END_TO_END
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }


def _end_to_end(results, checks, setup_s, cores) -> dict:
    docs = [c["committed"] for c in checks]
    exec_s = sum(r["stats"]["total_exec_s"] for r in results)
    wall = sum(r["wall"] for r in results)
    batches = [t for r in results for t in r["triggers"]]
    return {
        "docs_per_sec": statistics.median(d / r["wall"] for d, r in zip(docs, results)),
        "core_ms_per_doc": exec_s * 1000.0 / sum(docs),
        "core_util": exec_s / (cores * wall),
        "microbatch_s.p50": statistics.median(batches),
        "setup_s": setup_s,
    }


def _per_layer(results, checks, gold, counts, e2e) -> dict:
    from perfbench import sparkstats

    n = len(results)
    layer, counters, durations = defaultdict(float), defaultdict(float), defaultdict(float)
    executions = gc = total = 0.0
    for r in results:
        st = r["stats"]
        for acc, part in ((layer, "layer_exec"), (counters, "counters"), (durations, "durations")):
            for k, v in st[part].items():
                acc[k] += v
        executions += st["executions"]
        gc += st["gc_s"]
        total += st["total_exec_s"]
    commits = sum(len(r["triggers"]) for r in results)
    text_pages = sum(g["pages"] for g in gold.values() if g["route"] == "text")
    vision_pages = sum(
        g["pages"] for g in gold.values() if g["route"] == "vision" or g["retried"]
    )
    m = {
        "text_parse.rows_in": counts["text_rows"] / n,
        "text_parse.busy_s": counters["text_parse.busy_s"] / n,
        "text_parse.runs_per_page": (
            counts["text_rows"] / (n * text_pages) if text_pages else 0.0
        ),
        "retry.docs": statistics.median(c["retried"] for c in checks),
        "retry.rows_in": counts["retry_rows"] / n,
        "vision.calls": counts["vision_calls"] / n,
        "vision.busy_s": counters["vision.busy_s"] / n,
        "vision.calls_per_page": (
            counts["vision_calls"] / (n * vision_pages) if vision_pages else 0.0
        ),
        "page_shuffle.bytes": counters["page_shuffle.bytes"] / n,
        "page_shuffle.task_skew": statistics.median(r["skew"] for r in results),
        "driver.serial_s": statistics.median(r["serial"] for r in results),
        "merge.docs_out": counters["merge.docs_out"] / n,
        "merge.busy_s": counters["merge.busy_s"] / n,
        "merge.shuffle_bytes": counters["merge.shuffle_bytes"] / n,
        "jvm.gc_s": gc / n,
        "plan.executions": executions / commits,
        "sink.write_s": durations["spans_write"] / n,
        "sink.bytes": counters["sink.bytes"] / n,
        "manifest.s": (durations["manifest_write"] + durations["other"]) / n,
        "microbatch.fixed_s": statistics.median(f for r in results for f in r["fixed"]),
        "microbatch.tail_s": _tail([t for r in results for t in r["triggers"]]),
        "explode.pages_out": counters["explode.pages_out"] / n,
        "layers.coverage": sum(layer[k] for k in sparkstats.LAYERS) / total if total else 1.0,
        "trace.docs_per_sec": e2e["docs_per_sec"],
    }
    for k in sparkstats.LAYERS:
        m[f"{k}.exec_s"] = layer[k] / n
    log("layers (executor-s per job, share of total):")
    for k in sparkstats.LAYERS:
        log(f"  {k:<13} {layer[k] / n:9.2f}  {layer[k] / total if total else 0:6.1%}")
    log(f"  {'(unattributed)':<13} {layer['other'] / n:9.2f}")
    return m


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("tiny", "bench"), default="bench")
    args = p.parse_args(argv)
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
