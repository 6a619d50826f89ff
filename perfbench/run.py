#!/usr/bin/env python3
"""The aeon-spark benchmark: closed loop, one client.

    python3 perfbench/run.py --workload aeon_hourly --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py                  # every workload, seed 1

Run from the root of a checkout of the repository. Workloads:

- ``aeon_hourly``: the hourly-chunk pipelines (ingest, combine, detect).
- ``query_mix``: a fixed sample of the registry's queries, cold then warm.
- ``store_churn``: small commits and reads against one manifest chunk store.

Inputs are generated from ``--seed``; the engine receives only those inputs.
Set-up (session start, input generation and staging, warm-up) is timed on
its own; generation and staging run three times and count once, at their
median. Then round 0 runs each of the workload's operations once, cold, and
a fixed number of warm rounds follows, sized from ``--seconds`` so that the
warm rounds take about that long on 4 CPUs; both sides of a comparison do
the same work. Every operation's output is checked outside the timed region;
a failed or wrong operation counts in ``failed``.

The last stdout line is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``. With ``--trace 0`` the metrics are the end-to-end ones. Each
workload reports every one, over its own operation (a chunk cycle, a query,
a store write) and its own reads (the two detector calls of a cycle, every
query, the store's read ops):

- ``setup_s``: session start + warm-up + median input generation and staging
- ``op_cold_s``: median latency of the cold round's operations
- ``op_p50_s``, ``op_p90_s``: median and 90th percentile of warm operation
  latency
- ``read_p50_s``, ``read_p90_s``: the same over warm reads
- ``items_per_s``: warm work items per second spent in warm operations and
  reads (pose rows for aeon_hourly, queries for query_mix, store ops for
  store_churn)

With ``--trace 1`` rounds alternate between traced and untraced, and the
metrics are per layer (see ``layers.py``), including the tracing overhead.
Spans are written to ``.perfbench_work/trace-<workload>-<seed>.jsonl``. The
line before the result records the environment the run used.

Without ``--workload`` every workload runs in turn, in a process of its own,
and the last line merges their results, metrics named ``<workload>.<metric>``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("aeon_hourly", "query_mix", "store_churn")
SETUP_REPS = 3
DRIVER_MEM = "4g"
UNITS = {"setup_s": "s", "op_cold_s": "s", "op_p50_s": "s", "op_p90_s": "s",
         "read_p50_s": "s", "read_p90_s": "s", "items_per_s": "1/s"}


class Recorder:
    """Operation latencies and outcomes of one run. ``main`` marks the
    workload's own operation (a chunk cycle, a query, a store write);
    ``reads`` are the latencies of the reads an operation made (the
    operation itself, when it is a read); ``items`` is the work it did."""

    def __init__(self):
        self.ops: list[dict] = []
        self.checks: list[bool] = []  # whole-output checks after the last round

    def add(self, kind: str, seconds: float, ok: bool, rnd: int, traced: bool,
            main: bool = True, reads: list[float] = (), items: int = 1) -> None:
        self.ops.append({"kind": kind, "s": seconds, "ok": ok, "round": rnd, "traced": traced,
                         "main": main, "reads": list(reads), "items": items})

    def check(self, ok: bool) -> None:
        self.checks.append(ok)

    @property
    def attempted(self) -> int:
        return len(self.ops) + len(self.checks)

    @property
    def failed(self) -> int:
        return sum(not o["ok"] for o in self.ops) + self.checks.count(False)


def p90(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=10, method="inclusive")[-1]


def op_metrics(ops: list[dict]) -> dict[str, float]:
    cold = [o["s"] for o in ops if o["round"] == 0 and o["main"]]
    warm = [o for o in ops if o["round"] > 0]
    lat = [o["s"] for o in warm if o["main"]]
    reads = [r for o in warm for r in o["reads"]]
    return {
        "op_cold_s": statistics.median(cold),
        "op_p50_s": statistics.median(lat),
        "op_p90_s": p90(lat),
        "read_p50_s": statistics.median(reads),
        "read_p90_s": p90(reads),
        "items_per_s": sum(o["items"] for o in warm) / sum(o["s"] for o in warm),
    }


def peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def _environment(spark, args, cpus: int) -> dict:
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": cpus,
        "loadavg": list(os.getloadavg()),
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "spark_local_dirs": os.environ["SPARK_LOCAL_DIRS"],
        "driver_memory": DRIVER_MEM,
    }


def _prepare_env(work: str, cpus: int) -> None:
    """Pin the engine's parallelism and memory, keep every file the run
    writes inside the checkout, and let Python workers import the engine."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    import tempfile

    tempfile.tempdir = os.path.join(work, "tmp")


def _stop(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def _default_seconds() -> float:
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            return float(json.load(f)["run_seconds"])
    except (OSError, KeyError, ValueError):
        return 15.0


def run_all(args) -> int:
    """Every workload in a process of its own; one merged result line."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed",
             str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True,
        )
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"perfbench: {w} exited with {p.returncode}", file=sys.stderr)
            return p.returncode or 1
        print("\n".join(lines[:-1]))
        res = json.loads(lines[-1])
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        merged["metrics"].update({f"{w}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(merged))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "aeon_sleap_processing_spark")):
        print("perfbench: run from the root of a checkout of the engine", file=sys.stderr)
        return 2
    if args.seconds is None:
        args.seconds = _default_seconds()
    if args.workload is None:
        return run_all(args)
    sys.path[:0] = [ROOT, HERE]
    cpus = len(os.sched_getaffinity(0))
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work, cpus)

    import layers
    from spans import NoTrace, Tracer

    from aeon_sleap_processing_spark.session import get_spark

    workload = __import__(args.workload).Workload(args.seed, work)
    # a fixed-size heap: no heap-resize decisions to vary GC from run to run
    conf = {"spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -Xms{DRIVER_MEM}"}
    if args.trace:
        conf.update(layers.TRACE_CONF)

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    start_s = time.perf_counter() - t0
    rec = Recorder()
    try:
        stage_s = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            workload.prepare(spark, os.path.join(work, f"setup{rep}"))
            stage_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        workload.warmup(spark)
        warmup_s = time.perf_counter() - t0

        tracer = Tracer(spark) if args.trace else NoTrace()
        workload.run(spark, tracer, args.seconds, rec)
        if args.trace:
            tracer.collect_counters()
            tracer.write(os.path.join(work_root, f"trace-{args.workload}-{args.seed}.jsonl"))
            metrics = layers.per_layer(tracer, rec, workload, {
                "session.start_s": start_s,
                "session.warmup_s": warmup_s,
                "session.peak_rss_mb": peak_rss_mb(spark),
                "gen.stage_s": statistics.median(stage_s),
            })
            units = layers.UNITS
        else:
            metrics = {
                "setup_s": start_s + warmup_s + statistics.median(stage_s),
                **op_metrics(rec.ops),
            }
            units = UNITS
        env = _environment(spark, args, cpus)
        for o in rec.ops:
            print(f"perfbench: round {o['round']} {o['kind']}: {o['s']:.3f}", file=sys.stderr)
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"env": env}))
    print(json.dumps({
        "correct": rec.failed == 0,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
