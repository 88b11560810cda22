#!/usr/bin/env python3
"""Closed-loop benchmark of the engine at sf0.1.

    python3 perfbench/run.py --workload headline_warm --seed 1 --seconds 10 --trace 0

Run from the repository root. Prints one line per metric (name, value,
unit), then, as the last line, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Exits 1 when any op fails or disagrees with its oracle, 2 when the
engine or its data cannot be found. See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PKG = "bangdatapipeline_spark"

sys.path.insert(0, HERE)

import expected  # noqa: E402
import probe  # noqa: E402
import workloads  # noqa: E402


def configure_environment() -> dict[str, str]:
    """Session sizing and process environment, set before any JVM starts.

    ``get_spark`` defaults to ``local[32]`` and a 16g heap; the benchmark
    sizes both to this host. Python workers get the repository root on
    ``PYTHONPATH`` (kernels that ship engine functions to workers import
    ``bangdatapipeline_spark`` there). Temporary files, Spark's local dirs
    and the JVM's tmpdir stay inside the benchmark's work directory."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) / 2**20
    heap_gb = max(2, min(6, int(mem_gb * 0.3)))
    tmp = os.path.join(WORK, f"tmp-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    settings = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{heap_gb}g",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    }
    os.environ.update(settings)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    sys.path.insert(0, ROOT)
    return settings


class Engine:
    """The set-up every workload shares: a SparkSession, the registry and
    a first scan plan of each table in ``names`` (default: every table),
    timed from process start."""

    def __init__(self, names=None):
        from bangdatapipeline_spark import caches, registry, session, tables

        self.spark = session.get_spark("perfbench")
        t2 = time.perf_counter()
        self.registry = registry.load_all()
        t3 = time.perf_counter()
        self.caches = caches
        for name in names or tables.TABLES:
            tables.load_table(self.spark, workloads.sf_dir(), name)
        self.t_ready = time.perf_counter()
        self.times = {
            "session.get_spark_s": t2 - PROCESS_T0,
            "registry.load_all_s": t3 - t2,
            "tables.first_load_s": self.t_ready - t3,
        }


def shutdown() -> None:
    """Stop the active session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc  # the JVM; it exits when its stdin closes
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def ops_per_s(timed: list[tuple[str, float]]) -> float:
    """Keys ÷ the sum of each key's median latency over the run's passes:
    the rate of one pass, with one slow sample of a key filtered out
    whenever the key ran three or more times."""
    by_key: dict[str, list[float]] = {}
    for key, lat in timed:
        by_key.setdefault(key, []).append(lat)
    total = sum(statistics.median(v) for v in by_key.values())
    return len(by_key) / total if total else 0.0


def end_to_end_metrics(loop) -> dict[str, tuple[float, str]]:
    return {
        "setup_s": (loop.setup_end - PROCESS_T0, "s"),
        "ops_per_s": (ops_per_s(loop.timed), "1/s"),
        "op_p50_s": (probe.median([lat for _, lat in loop.timed]), "s"),
    }


def layer_metrics(loop) -> dict[str, tuple[float, str]]:
    L = loop.layer
    n = L["ops"] or 1
    wall = L["build_s"] + L["plan_s"] + L["collect_s"]
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    step = loop.txn
    T = step.stats if step else {}
    merges = T.get("merges") or 1
    return {
        **{k: (v, "s") for k, v in loop.eng.times.items()},
        "operators.build_s": (L["build_s"] / n, "s"),
        "operators.plan_s": (L["plan_s"] / n, "s"),
        "operators.collect_s": (L["collect_s"] / n, "s"),
        "operators.jobs_per_op": (L["jobs"] / n, "count"),
        "operators.stages_per_op": (L["stages"] / n, "count"),
        "operators.tasks_per_op": (L["tasks"] / n, "count"),
        "operators.task_busy_s_per_op": (L["task_busy_s"] / n, "s"),
        "operators.gc_s_per_op": (L["gc_s"] / n, "s"),
        "operators.core_busy_frac": (L["task_busy_s"] / (wall * cores) if wall else 0.0, "ratio"),
        "operators.input_bytes_per_op": (L["input_bytes"] / n, "B"),
        "operators.shuffle_write_bytes_per_op": (L["shuffle_write_bytes"] / n, "B"),
        "operators.spill_bytes_per_op": (L["spill_bytes"] / n, "B"),
        "caches.release_s": (probe.median(loop.release_s), "s"),
        "caches.persisted_rdds_after_op": (L["persisted_rdds"] / n, "count"),
        "caches.storage_bytes_after_op": (L["storage_bytes"] / n, "B"),
        **{
            f"caches.substrate_build_s.{k}": (probe.median(loop.substrate_build.get(k, [])), "s")
            for k in workloads.SUBSTRATE
        },
        "txn_table.create_s": (step.create_s if step else 0.0, "s"),
        "txn_table.merge_small_s": (probe.median(step.merge_s if step else []), "s"),
        "txn_table.read_s": (probe.median(step.read_s if step else []), "s"),
        "txn_table.touched_buckets_per_merge": (T.get("touched_buckets", 0) / merges, "count"),
        "txn_table.files_added_per_merge": (T.get("files_added", 0) / merges, "count"),
        "txn_table.bytes_written_per_merge": (T.get("bytes_written", 0) / merges, "B"),
        "txn_table.write_amp": (
            T["bytes_written"] / T["changelog_bytes"] if T.get("changelog_bytes") else 0.0,
            "ratio",
        ),
        "host.steal_frac": (loop.steal, "ratio"),
        "host.calib_s": (probe.median(loop.calib_s), "s"),
        "trace.ops_per_s": (ops_per_s(loop.timed), "1/s"),
        "trace.bookkeeping_frac": (
            loop.tracer.bookkeeping_s / loop.window_s if loop.window_s else 0.0,
            "ratio",
        ),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: engine package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2
    settings = configure_environment()
    if not os.path.isdir(workloads.sf_dir()):
        print(f"perfbench: data directory {workloads.sf_dir()} not found", file=sys.stderr)
        shutil.rmtree(os.environ["TMPDIR"], ignore_errors=True)
        return 2
    tmp = os.environ["TMPDIR"]
    try:
        return run(args, settings)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def run(args, settings: dict[str, str]) -> int:
    tracer = probe.Tracer(bool(args.trace))
    try:
        eng = Engine(workloads.SETUP_TABLES[args.workload])
        loop = workloads.OpLoop(eng, tracer, args.seed, args.seconds)
        workloads.WORKLOADS[args.workload](loop)
    finally:
        shutdown()

    # correctness, after the session has stopped and outside every timer
    loop.failed += expected.check_ops(
        eng.registry, loop.sf_dir, loop.results, int(settings["SPARK_GRAFT_CPUS"])
    )
    if loop.txn:
        loop.failed += expected.check_txn(loop.txn, loop.sf_dir)
    if args.trace:
        tracer.dump(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"))

    print(f"perfbench: workload={args.workload} seed={args.seed} trace={args.trace} "
          + " ".join(f"{k}={v}" for k, v in settings.items()))
    print(f"perfbench: timed ops={len(loop.timed)} "
          f"warmup_s={loop.warmup_s:.3f} window_s={loop.window_s:.3f} "
          f"fail_frac={loop.failed / max(loop.attempted, 1):.4f} (ratio) "
          f"host.steal_frac={loop.steal:.4f} host.calib_s={probe.median(loop.calib_s):.4f}")
    print("perfbench: timed op latencies (s): "
          + " ".join(f"{k}={v:.3f}" for k, v in loop.timed))
    shown = (layer_metrics if args.trace else end_to_end_metrics)(loop)
    for name, (value, unit) in shown.items():
        print(f"perfbench: {name} {value:.6g} {unit}")
    correct = loop.failed == 0 and bool(loop.timed)
    print(json.dumps({
        "correct": correct,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
