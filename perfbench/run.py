"""Benchmark entry point; run from the repository root.

    python3 perfbench/run.py --workload bulk_ingest --seed 1 --seconds 12 --trace 0

Prints the workload's named figures and a self-describing run record, then,
as the last line, one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer ones
with ``--trace 1``; both lists are in BENCHMARK.json). Exits non-zero when a
correctness check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

ROOT = os.getcwd()


def _cpu_jiffies() -> list[int]:
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:9]]


def _cpu_shares(before: list[int], after: list[int]) -> dict[str, float]:
    """idle% and steal% of all CPU time between two /proc/stat samples."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return {"idle_pct": 100.0 * (d[3] + d[4]) / total, "steal_pct": 100.0 * d[7] / total}


def _metric_units(trace: bool) -> dict[str, str]:
    """Name -> unit of the metrics a run reports, as BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}


def _isolate(work_dir: str, nproc: int) -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout,
    and pin the session to ``local[nproc]``."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark")
    # Python workers import the engine from the checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # session.get_spark resolves local[SPARK_GRAFT_CPUS] unless SPARK_MASTER
    # is set; an inherited value of either would change what is measured
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ.pop("SPARK_MASTER", None)
    # -XX:-UsePerfData: HotSpot would otherwise write /tmp/hsperfdata_<user>
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell'
    )


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # input size multiplier, for the benchmark's own quick tests
    ap.add_argument("--scale", type=float, default=1.0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "redpanda_spark", "engine.py")):
        print("perfbench: run from the repository root (redpanda_spark/ not found)", file=sys.stderr)
        return 2
    # import the benchmark as the ``perfbench`` package of the checkout,
    # not its modules from the script's own directory
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != here]
    from perfbench import layers
    from perfbench.spans import Tracer, install_engine_patches
    from perfbench.workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    units = _metric_units(bool(args.trace))
    nproc = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench")
    work_dir = os.path.join(base, f"run-{os.getpid()}")
    _isolate(work_dir, nproc)
    from redpanda_spark import session

    cpu0, t_run = _cpu_jiffies(), time.perf_counter()
    tracer = Tracer()
    tracer.recording = bool(args.trace)
    t0 = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = session.get_spark("perfbench")
    session_s = time.perf_counter() - t0
    tracer.recording = False
    outcome, error = None, None
    try:
        spark.sparkContext.setLogLevel("ERROR")
        master = spark.sparkContext.master
        if master != f"local[{nproc}]":
            raise RuntimeError(f"session resolved {master}, not local[{nproc}]")
        tracer.sc = spark.sparkContext
        t0 = time.perf_counter()
        if args.trace:
            install_engine_patches(tracer)
        install_s = time.perf_counter() - t0
        ctx = Ctx(spark, tracer, args.seed, args.seconds, args.scale, work_dir, bool(args.trace))
        try:
            outcome = WORKLOADS[args.workload](ctx)
        except Exception as e:  # a failed operation: report it, exit non-zero
            traceback.print_exc()
            error = f"{type(e).__name__}: {e}"
        finally:
            tracer.uninstall()
    finally:
        _stop_spark(spark)
        shutil.rmtree(work_dir, ignore_errors=True)
    cpu = _cpu_shares(cpu0, _cpu_jiffies())

    if outcome is None:
        print(f"perfbench: {args.workload} failed: {error}", file=sys.stderr)
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        return 1

    e2e = layers.end_to_end(session_s + outcome.setup_s, [r for r in outcome.rounds if not r.traced])
    figures = layers.named_figures(args.workload, e2e, outcome.rounds, outcome.attempted, outcome.failed)
    for name, (value, unit) in figures.items():
        print(f"perfbench {args.workload} {name} = {value:.4f} {unit}")
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "scale": args.scale,
        "tracing": bool(args.trace),
        "master": master,
        "local_n": int(os.environ["SPARK_GRAFT_CPUS"]),
        "nproc": nproc,
        "sf_dir": os.path.relpath(outcome.data_dir, ROOT) if outcome.data_dir else None,
        "loadavg": os.getloadavg(),
        **{k: round(v, 2) for k, v in cpu.items()},
        "session_s": round(session_s, 3),
        "round_s": [round(r.round_s, 3) for r in outcome.rounds],
        "round_traced": [r.traced for r in outcome.rounds],
        "ops_per_round": [len(r.ops_ms) for r in outcome.rounds],
        "run_s": round(time.perf_counter() - t_run, 2),
        "errors": outcome.errors,
    }
    print("perfbench record " + json.dumps(record))

    if args.trace:
        metrics = layers.per_layer(
            tracer, outcome, e2e, session_s, install_s / (session_s + outcome.setup_s)
        )
        os.makedirs(os.path.join(base, "spans"), exist_ok=True)
        tracer.dump(os.path.join(base, "spans", f"{args.workload}-seed{args.seed}.jsonl"))
    else:
        metrics = e2e
    if set(metrics) != set(units):
        print(f"perfbench: metric names differ from BENCHMARK.json: {sorted(set(metrics) ^ set(units))}",
              file=sys.stderr)
        return 1
    correct = outcome.failed == 0
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": outcome.attempted,
                "failed": outcome.failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
