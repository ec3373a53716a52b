"""Run one benchmark workload and print its metrics.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 5 --trace 0

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. With `--trace 0` the
metrics are the end-to-end ones of BENCHMARK.json; with `--trace 1` the
per-layer ones, from a run that records spans and Spark counters.

Everything the run writes stays under `.bench_build/perfbench/` in the
checkout: the generated data (made by the first run, then reused), a
per-run directory for Spark's warehouse, local and temporary files, the
multi-file copy of the data and the engine's snapshots, removed at exit,
and a traced run's spans. A report of the phases goes to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import layers  # noqa: E402
from metrics import latency_summary, median, throughput  # noqa: E402

SETUP_REPS = 3


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=layers.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _configure_env(run_dir: str, cores: int) -> None:
    """Keep Spark's and the JVM's files inside the checkout, and give the
    session the cores it may run tasks on."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    confs = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # the traced run reads every job and stage back from the status
        # store after the window, so none may be evicted before then
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    args = [f"--conf {k}={v}" for k, v in confs.items()]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    # every JVM the launch starts: temporary files in the run directory,
    # and no hsperfdata file, which the JVM always writes under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


@dataclass
class Context:
    """What a workload needs from the run."""

    spark: object
    seed: int
    data_dir: str  # one parquet file per table
    cores: int
    run_dir: str
    tracer: object


def run(args, root: str) -> dict:
    # one core stays free for the client process and the JVM's driver,
    # JIT and GC threads: with a task on every core, a stage waits for
    # whichever task those threads preempt
    cores = max(1, len(os.sched_getaffinity(0)) - 1)
    base = os.path.join(root, ".bench_build", "perfbench")
    run_dir = os.path.join(base, f"run-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        _configure_env(run_dir, cores)
        return _run(args, cores, base, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, cores: int, base: str, run_dir: str) -> dict:
    from pyspark import SparkContext

    from neumann_spark.session import get_spark
    from spans import Tracer
    from workloads import WORKLOADS

    data_dir = datagen.write(os.path.join(base, "data", datagen.DATA_VERSION))
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    gateway = SparkContext._gateway
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    try:
        tracer = Tracer(spark, args.workload, enabled=bool(args.trace))
        ctx = Context(spark, args.seed, data_dir, cores, run_dir, tracer)
        wl = WORKLOADS[args.workload](ctx)

        t0 = time.perf_counter()
        wl.bootstrap()
        _log(f"bootstrap {time.perf_counter() - t0:.1f} s")

        setups, parts = [], {}
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            for k, v in wl.setup(rep).items():
                parts.setdefault(k, []).append(v)
            setups.append(time.perf_counter() - t0)
        setup_s = median(setups)
        _log(f"setup {[round(s, 3) for s in setups]} s; spark start "
             f"{start_s:.2f} s")
        wl.begin()

        t0 = time.perf_counter()
        rounds = 0
        while time.perf_counter() - t0 < args.seconds:
            wl.round()
            rounds += 1
        window_s = time.perf_counter() - t0

        # the heap still in use after a full collection: what the run's
        # state (caches, overlays, checkpoints) retains
        memory = spark._jvm.java.lang.management.ManagementFactory \
            .getMemoryMXBean()
        memory.gc()
        live_heap_mb = memory.getHeapMemoryUsage().getUsed() / 2**20

        t1 = time.perf_counter()
        wl.check()
        _log(f"window {window_s:.1f} s, {rounds} rounds, "
             f"{wl.log.attempted} ops; check {time.perf_counter() - t1:.1f} s")

        rss_mb = (_vm_hwm_kb(os.getpid()) + _vm_hwm_kb(jvm_pid)) / 1024
        reads = latency_summary(wl.read_latencies())
        _log(f"latency p50 {reads['p50']:.3f} s; tail p{reads['tail_pct']} "
             f"{reads['tail']:.3f} s over {reads['n']} reads "
             f"({wl.log.attempted} ops)")
        for p in wl.problems:
            _log(f"PROBLEM {p}")

        if args.trace:
            metrics = layers.per_layer(
                wl, tracer, start_s=start_s, setup_parts=parts,
                reads=reads, peak_rss_mb=rss_mb, live_heap_mb=live_heap_mb)
            trace_path = os.path.join(
                os.path.dirname(run_dir),
                f"trace-{args.workload}-{args.seed}.json")
            tracer.dump(trace_path)
            _log(f"spans written to {trace_path}")
        else:
            metrics = {
                "setup_s": setup_s,
                "throughput_ops_s": throughput(wl.log.completed(), window_s),
                "latency_p50_s": reads["p50"],
                "latency_tail_s": reads["tail"],
            }
        tracer.close()
        return {
            "correct": not wl.problems,
            "attempted": wl.log.attempted,
            "failed": wl.log.failures,
            "metrics": layers.with_units(metrics, bool(args.trace)),
        }
    finally:
        _stop(spark, gateway)


def _stop(spark, gateway) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a JVM that will not exit is killed
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = _args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "neumann_spark")):
        print("perfbench: run from the root of a checkout holding the "
              "neumann_spark package", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    sys.path.insert(1, os.path.join(root, "tools"))
    result = run(args, root)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
