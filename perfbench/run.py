"""perfbench: the graphiti_spark benchmark.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload build_kg --seed 1 --seconds 12 --trace 0

One workload runs in this fresh process: set-up, warm-up operations,
then a closed loop of operations from one client for `--seconds`,
then the output checks. The last line of standard output is the
result: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones; with --trace 1 the run pairs
untraced and traced operations and reports per-layer metrics instead
(see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)

import procstat  # noqa: E402

SETUP_REPEATS = 3
TRACE_PAIRS = 1


def start_session(work_dir: str, trace: bool):
    """local[nproc] Spark session with the benchmark's own settings."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) / 2**20
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers import graphiti_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # every JVM, the launcher's too: temp files inside the checkout, no
    # hsperfdata under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEMORY"] = f"{max(1, min(4, int(mem_gb // 4)))}g"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(work_dir, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work_dir, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    from graphiti_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=f"local[{cpus}]",
                      shuffle_partitions=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("OFF")
    return spark


def stop_session(spark) -> None:
    """Stop the session, then the Spark JVM and every other process this
    one started, and wait until each has ended. On its own the JVM exits
    only after this process has, once it sees its stdin close."""
    procs = procstat.descendants()
    try:
        if spark is not None:
            spark.stop()
    finally:
        from pyspark import SparkContext

        gateway, SparkContext._gateway, SparkContext._jvm = SparkContext._gateway, None, None
        proc = getattr(gateway, "proc", None)
        try:
            if gateway is not None:
                gateway.shutdown()
            if proc is not None and proc.stdin is not None:
                proc.stdin.close()  # the JVM exits at end of input
        finally:
            procstat.end_processes({**procs, **procstat.descendants()})


def timed_loop(op, seconds: float, min_ops: int) -> tuple[list[float], list[float]]:
    """Closed loop: run `op` back to back until `seconds` have passed
    and at least `min_ops` operations have run. Returns per-operation
    wall and process-tree CPU seconds."""
    walls, cpus = [], []
    deadline = time.time() + seconds
    while True:
        c0, t0 = procstat.tree_cpu_s(), time.perf_counter()
        op()
        walls.append(time.perf_counter() - t0)
        cpus.append(procstat.tree_cpu_s() - c0)
        if time.time() >= deadline and len(walls) >= min_ops:
            return walls, cpus


def run(args, spark, work_dir: str, started: float) -> tuple[dict, dict]:
    import workloads

    wl = workloads.WORKLOADS[args.workload](spark, work_dir, args.seed)
    t_session = time.time()
    setups = []
    for _ in range(SETUP_REPEATS):
        t0 = time.time()
        wl.setup()
        setups.append(time.time() - t0)
    setup_s = t_session - started + statistics.median(setups)

    pending = wl.start_checks()
    warm = []
    t0 = time.perf_counter()
    checked = wl.checked_op()
    warm.append(time.perf_counter() - t0)
    for _ in range(wl.warmup_ops - 1):
        t0 = time.perf_counter()
        wl.op()
        warm.append(time.perf_counter() - t0)
    if pending is not None:
        pending.result()

    info = {"workload": args.workload, "seed": args.seed, "items_per_op": wl.items,
            "session_s": t_session - started, "setup_repeats_s": setups, "warmup_op_s": warm}
    if args.trace:
        metrics, errors = trace_run(args, spark, wl, work_dir, info)
        attempted = TRACE_PAIRS
    else:
        steal0 = procstat.cpu_times()
        walls, cpus = timed_loop(wl.op, args.seconds, wl.min_ops)
        info["steal_share"] = procstat.steal_share(steal0, procstat.cpu_times())
        info["op_s"] = walls
        info["op_cpu_s"] = cpus
        attempted = len(walls)
        metrics = {
            "setup_s": (setup_s, "s"),
            "items_per_s": (statistics.median(wl.items / w for w in walls), "1/s"),
            "cpu_ms_per_item": (statistics.median(c * 1000 / wl.items for c in cpus), "ms"),
        }
        errors = []
    errors += wl.check(checked)
    silent = wl.self_test(checked)
    if silent:
        errors.append(f"checks that did not fire on a corrupted copy: {silent}")
    info["errors"] = errors
    result = {
        "correct": not errors,
        "attempted": attempted,
        "failed": 0,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, info


def trace_run(args, spark, wl, work_dir: str, info: dict) -> tuple[dict, list[str]]:
    """Pairs of (untraced, traced) operations, then the workload's
    extra traced layers; per-layer metrics come from the spans and the
    session's event log, read once the session has stopped."""
    from spans import EventLog, Tracer

    tr = Tracer(spark.sparkContext)
    untraced, roots, errors = [], [], []
    heap = []
    for _ in range(TRACE_PAIRS):
        t0 = time.perf_counter()
        wl.op()
        untraced.append(time.perf_counter() - t0)
        with tr.span("op") as root:
            outputs = wl.traced_op(tr)
        roots.append(root.id)
        heap.append(jvm_heap_used_mb(spark))
    wl.bookkeeping(outputs)
    errors += wl.check_traced(outputs)
    extra = wl.traced_extras(tr, outputs)
    heap.append(jvm_heap_used_mb(spark))
    worker_rss = procstat.peak_rss_mb(procstat.python_workers())
    info["untraced_op_s"] = untraced
    info["traced_op_s"] = [tr.spans[r].wall for r in roots]
    spark.stop()  # flushes the event log
    ev = EventLog(os.path.join(work_dir, "eventlog"))
    metrics = wl.layer_metrics(tr, ev, roots, extra)
    metrics.update({
        "spark.python_worker_peak_rss_mb": (worker_rss, "MB"),
        "spark.jvm_heap_used_mb": (max(heap), "MB"),
        "trace.overhead_s": (statistics.median(info["traced_op_s"]) - statistics.median(untraced), "s"),
    })
    errors += extra.pop("errors", [])
    os.makedirs(os.path.join(ROOT, ".perfbench", "traces"), exist_ok=True)
    tr.dump(os.path.join(ROOT, ".perfbench", "traces", f"{args.workload}-seed{args.seed}.json"))
    return metrics, errors


def jvm_heap_used_mb(spark) -> float:
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return mx.getHeapMemoryUsage().getUsed() / 2**20


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    started = procstat.process_start_epoch()
    if not os.path.isfile(os.path.join(ROOT, "graphiti_spark", "__init__.py")):
        print("perfbench: run from the root of a graphiti_spark checkout", file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    # a run stopped with SIGTERM still stops its processes below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(work_dir, exist_ok=True)
    spark = None
    try:
        spark = start_session(work_dir, bool(args.trace))
        result, info = run(args, spark, work_dir, started)
    finally:
        try:
            stop_session(spark)
        finally:
            shutil.rmtree(work_dir, ignore_errors=True)
    print(json.dumps({"run_info": info}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
