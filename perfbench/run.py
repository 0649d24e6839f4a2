"""Benchmark entry point.

    python3 perfbench/run.py --workload plumber_loop --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. One process is one closed-loop client: it
builds the seeded inputs, starts a Spark session under a private, freshly
wiped warehouse, sets up the workload, runs its ops back to back (as many
whole rotations or cycles as fill ``--seconds`` at their nominal length) and
checks every op's output. The last line of standard output
is one JSON object ``{"correct", "attempted", "failed", "metrics"}``; with
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones. A diagnostics line (host load, CPU steal, drift) is printed
just before it, and a report with the per-op records (and, traced, the spans)
is written under ``perfbench/.run/<workload>/``.

See ``perfbench/README.md`` for the workloads, metrics and run isolation.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("plumber_loop", "index_serve", "corpus_curation")

# Fixed run isolation: one task thread fewer than the host has cores (a core
# stays free for the Python driver, JVM GC/JIT and the host's neighbours), a
# driver heap that fits a 15 GB host next to its neighbours, and private dirs wiped at each start.
DRIVER_MEM = "2g"


def task_threads() -> int:
    return max(1, (os.cpu_count() or 2) - 1)


def isolate(workload: str) -> str:
    """Point every path the session writes at a private run directory,
    wiped first; returns the run directory."""
    run_dir = os.path.join(HERE, ".run", workload)
    dirs = {name: os.path.join(run_dir, name) for name in ("warehouse", "local", "tmp")}
    for path in dirs.values():
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(task_threads()),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_WAREHOUSE=dirs["warehouse"],
        SPARK_GRAFT_UI="false",
        SPARK_LOCAL_DIRS=dirs["local"],
        TMPDIR=dirs["tmp"],
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
        # the driver heap starts at its maximum: no heap-growth decision is
        # left to timing, which otherwise moves the JVM's peak RSS
        PYSPARK_SUBMIT_ARGS=f"--driver-java-options -Xms{DRIVER_MEM} pyspark-shell",
    )
    return run_dir


def jvm_gc_ms(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(b.getCollectionTime() for b in beans))


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for every
    process this run started to end."""
    import hostproc
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while len(hostproc.descendants(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.2)
    for pid in hostproc.descendants(os.getpid())[1:]:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "plumberapp_spark", "__init__.py")):
        print(f"no plumberapp_spark package under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    workload = importlib.import_module(args.workload)

    # input generation is the benchmark's own work: before any timed figure
    workload.Workload.prepare_inputs(args.seed)
    run_dir = isolate(args.workload)

    import harness
    import hostproc
    from spans import Tracer

    stdout, sys.stdout = sys.stdout, sys.stderr  # only the result goes to stdout
    t0 = time.perf_counter()
    from plumberapp_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}")
    run = harness.Run(spark, Tracer(spark, bool(args.trace)), args.seed, args.seconds, run_dir)
    run.session_start_s = time.perf_counter() - t0
    try:
        bench = workload.Workload(run)
        bench.setup()
        host0, cpu0, gc0 = hostproc.host_sample(), hostproc.tree_cpu_s(), jvm_gc_ms(spark)
        run.setup_s = time.perf_counter() - t0
        run.start_window()
        bench.timed()
        window_s = run.elapsed()
        host1 = hostproc.host_sample()
        cpu_s = hostproc.tree_cpu_s() - cpu0 - run.check_cpu_s
        gc_ms = jvm_gc_ms(spark) - gc0
        persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
        peak_mb = hostproc.peak_rss_mb()
        if args.trace:
            metrics = harness.per_layer(run, window_s, gc_ms, persisted, host0, host1)
            units = {**harness.LAYER_UNITS, **getattr(workload, "EXTRA_LAYER_UNITS", {})}
            run.tracer.dump(os.path.join(run_dir, f"spans_s{args.seed}.json"))
        else:
            metrics = harness.end_to_end(run, window_s, cpu_s, peak_mb)
            units = harness.END_TO_END_UNITS
    finally:
        stop_spark(spark)
        sys.stdout = stdout

    diagnostics = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "task_threads": task_threads(),
        "window_s": window_s,
        "work_ops": len(run.work_ops),
        "setup_s": run.setup_s,
        "fixture_s": run.fixture_s,
        "warmup_s": run.warmup_s,
        "session_start_s": run.session_start_s,
        "check_s": run.check_s,
        "host_start": host0,
        "host_end": host1,
        "steal_share": hostproc.steal_share(host0, host1),
        "p50_drift_ratio": harness.drift_ratio(run),
        "persisted_rdds_end": persisted,
        "failures": run.failures,
        "notes": run.notes,
        "warmup_ops": [vars(o) for o in run.warmup_ops],
        "ops": [vars(o) for o in run.ops],
        "write_walls": run.write_walls,
    }
    with open(os.path.join(run_dir, f"report_s{args.seed}_t{args.trace}.json"), "w") as fh:
        json.dump(diagnostics, fh, indent=1)
    keep = ("window_s", "work_ops", "steal_share", "p50_drift_ratio", "persisted_rdds_end", "host_start", "host_end", "failures")
    print("# diagnostics " + json.dumps({k: diagnostics[k] for k in keep}))
    result = {
        "correct": not run.failures,
        "attempted": len(run.ops),
        "failed": sum(not o.ok for o in run.ops),
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
