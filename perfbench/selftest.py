"""Self-tests for the benchmark itself (not part of the engine's test suite).

Run from the repository root::

    python3 perfbench/selftest.py

1. Every workload, at the tiny size, prints every metric named in
   ``BENCHMARK.json`` with its unit, for ``--trace 0`` and ``--trace 1``,
   and passes the oracle gate.
2. The oracle gate can fail: after a real CLI job, one committed span is
   altered, one bucket's spans are deleted and one manifest row is
   inflated; each must raise the failed fraction above 0.
3. In a directory holding only ``BENCHMARK.json`` and ``perfbench/``
   (no engine), the benchmark exits non-zero without a result line.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench", "selftest")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _bench(cwd: str, workload: str, trace: int, size: str = "tiny"):
    argv = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", "1", "--seconds", "1", "--trace", str(trace),
    ]
    if size:
        argv += ["--size", size]
    return subprocess.run(argv, cwd=cwd, capture_output=True, text=True, timeout=900)


def check_metric_names() -> None:
    spec = _spec()
    # cli_force_vision runs here too although the timed set leaves it out
    names = [w["name"] for w in spec["workloads"]] + ["cli_force_vision"]
    for name in dict.fromkeys(names):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            p = _bench(ROOT, name, trace)
            assert p.returncode == 0, p.stderr[-2000:]
            out = json.loads(p.stdout.strip().splitlines()[-1])
            assert set(out) == {"correct", "attempted", "failed", "metrics"}, out
            assert out["correct"] and out["failed"] == 0, out
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            assert got == want, (name, trace, sorted(set(got) ^ set(want)))
            for k, v in out["metrics"].items():
                assert isinstance(v["value"], (int, float)), (k, v)
                print(f"{name} trace={trace} {k} = {v['value']:.4g} {v['unit']}")


def _rewrite(path: str, edit) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pq.read_table(path)
    rows = edit(table.to_pylist())
    pq.write_table(pa.Table.from_pylist(rows, schema=table.schema), path)
    # the local Hadoop filesystem would reject the file against its old checksum
    crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def check_gate_fails() -> None:
    sys.path.insert(0, ROOT)
    from perfbench import gate, inputs, run

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    run._prepare_env()
    corpus = inputs.make_corpus(WORK, 1, "tiny")
    gold = inputs.golden(WORK, corpus, False)
    out = os.path.join(WORK, "out")
    spark = run._session(2)
    try:
        from pdf_to_xls_vision_spark import cli

        assert cli.main([corpus.path, "-o", out, "--no-resume", "--buckets", "8"]) == 0

        def frac() -> float:
            res = gate.check(*gate.read_batch(spark, out), gold)
            return res["failed"] / res["attempted"]

        assert frac() == 0.0, "clean output must pass"
        spans = os.path.join(out, "spans")
        buckets = sorted(d for d in os.listdir(spans) if d.startswith("bucket="))

        def alter_span(rows):
            row = next(r for r in rows if r["spans"])
            row["spans"][0]["text"] += " (altered)"
            return rows

        import pyarrow.parquet as pq

        target = next(
            os.path.join(spans, b, f)
            for b in buckets
            for f in sorted(os.listdir(os.path.join(spans, b)))
            if f.endswith(".parquet")
            and any(r["spans"] for r in pq.read_table(os.path.join(spans, b, f)).to_pylist())
        )
        _rewrite(target, alter_span)
        altered = frac()
        assert altered > 0.0, "an altered span must fail the gate"

        other = next(b for b in buckets if f"/{b}/" not in target)
        shutil.rmtree(os.path.join(spans, other))
        assert frac() > altered, "a deleted bucket must fail more docs"

        # inflate the manifest row of a bucket whose spans are untouched
        untouched = {
            int(b.split("=")[1]) for b in buckets if b != other and f"/{b}/" not in target
        }
        mdir = os.path.join(out, "manifest")
        mpart = next(
            os.path.join(mdir, f)
            for f in sorted(os.listdir(mdir))
            if f.endswith(".parquet")
            and any(
                r["bucket"] in untouched and r["docs"]
                for r in pq.read_table(os.path.join(mdir, f)).to_pylist()
            )
        )

        def inflate(rows):
            row = next(r for r in rows if r["bucket"] in untouched and r["docs"])
            row["docs"] += 1
            return rows

        before = frac()
        _rewrite(mpart, inflate)
        assert frac() > before, "a manifest row that disagrees must fail its docs"
        print(f"gate: clean 0.0, altered span {altered:.3f}, deleted bucket "
              f"{before:.3f}, inflated manifest {frac():.3f}")
    finally:
        run._shutdown(spark)


def check_bare_dir_fails() -> None:
    bare = os.path.join(WORK, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _bench(bare, "cli_skewed", 0, size="")
    assert p.returncode != 0, "must fail without the engine"
    lines = p.stdout.strip().splitlines()
    assert not lines or '"metrics"' not in lines[-1], lines[-1]
    print(f"bare directory: exit {p.returncode}, no result line")


if __name__ == "__main__":
    check_bare_dir_fails()
    check_gate_fails()
    check_metric_names()
    print("selftest: OK")
