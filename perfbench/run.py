#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload stream_replay --seed 1 --seconds 10 --trace 0

Run from the repository root.  Workloads are described in workloads.py.
Human-readable lines go first: the host stamp, every end-to-end metric of
the workload under its own name with its unit, the failed ratio and the
correctness verdict.  The last stdout line is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics every workload
reports (E2E below); with ``--trace 1`` the per-layer metrics.  The traced
run also writes its spans under ``.perfbench_work/traces/`` and prints its
overhead against the untraced runs recorded in the same checkout.

The benchmark pins the host for its own process only: ``local[<cores>]``
(default: every core) and a driver heap that fits a small box.  All scratch
data, checkpoints, Spark local dirs and JVM temp files stay under
``.perfbench_work/`` in the checkout.  Exit code 2 means the program under
test is not there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
PACKAGE = "kafka_go_cardinality_spark"
DRIVER_MEMORY = "3g"

# Gated end-to-end metrics: name → (unit, better).  Each workload maps its
# own metrics onto these (workloads.Result.named ↔ Result.e2e).
E2E = {
    "throughput_per_s": ("1/s", "higher"),
    "latency_p50_s": ("s", "lower"),
    "latency_p90_s": ("s", "lower"),
    "setup_s": ("s", "lower"),
}


def _pin_environment(work: str, cores: int) -> None:
    """Process-local settings; must run before pyspark launches the JVM."""
    tmp = os.path.join(work, "tmp")
    for d in ("tmp", "spark-local", "ckpt"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "KGC_CHECKPOINT_SCRATCH": os.path.join(work, "ckpt"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
    })
    import tempfile

    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)


def _stop_spark() -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM (its
    Python workers exit with it)."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _history(workload: str) -> str:
    return os.path.join(WORK_ROOT, "history", f"{workload}.jsonl")


def _overhead(workload: str, cores: int, primary: str, traced_value: float) -> str:
    """Traced vs the median of the untraced runs recorded in this checkout."""
    try:
        with open(_history(workload)) as f:
            rows = [json.loads(line) for line in f if line.strip()]
        vals = [r["metrics"][primary] for r in rows if r["cores"] == cores and primary in r["metrics"]]
    except FileNotFoundError:
        vals = []
    if not vals:
        return f"tracing overhead: n/a (no untraced {workload} run recorded in this checkout)"
    base = statistics.median(vals)
    worse = base / traced_value - 1 if E2E[primary][1] == "higher" else traced_value / base - 1
    return (f"tracing overhead on {primary}: {worse:+.1%} "
            f"(traced {traced_value:.4g} vs untraced median {base:.4g} over {len(vals)} runs)")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=os.cpu_count(),
                    help="local[N] master; 1 records the single-threaded baseline")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"program package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _pin_environment(work, args.cores)
    run = workloads.Run(args.seed, args.seconds, bool(args.trace), work)
    try:
        result = workloads.WORKLOADS[args.workload](run)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            _stop_spark()
        finally:
            shutil.rmtree(work, ignore_errors=True)

    print("host " + json.dumps(result.notes.pop("host"), sort_keys=True))
    print("run " + json.dumps({"workload": args.workload, "seed": args.seed,
                               "seconds": args.seconds, "cores": args.cores, **result.notes}))
    for name, (value, unit) in result.named.items():
        print(f"{name} = {value:.6g} {unit}")
    for p in result.problems[:50]:
        print(f"problem: {p}")
    correct = result.failed == 0
    print(f"correct = {correct} ({result.failed} of {result.attempted} operations failed)")

    if args.trace:
        print(_overhead(args.workload, args.cores, result.primary, result.e2e[result.primary]))
        names = workloads.PER_LAYER
        values = {n: float(result.layers.get(n, 0.0)) for n in names}
        units = {n: workloads.unit_of(n) for n in names}
        run.tracer.write(
            os.path.join(WORK_ROOT, "traces", f"{args.workload}-seed{args.seed}-{int(time.time())}.json"),
            {"workload": args.workload, "seed": args.seed, "e2e": result.e2e, "layers": values},
        )
    else:
        names = list(E2E)
        values = {n: float(result.e2e[n]) for n in names}
        units = {n: E2E[n][0] for n in names}
        os.makedirs(os.path.dirname(_history(args.workload)), exist_ok=True)
        with open(_history(args.workload), "a") as f:
            f.write(json.dumps({"seed": args.seed, "cores": args.cores, "metrics": values}) + "\n")
    print(json.dumps({
        "correct": correct,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": {n: {"value": values[n], "unit": units[n]} for n in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
