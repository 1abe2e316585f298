"""Monitoring-loop benchmark for rearview_spark.

    python3 perfbench/run.py --workload tick_live --seed 1 --seconds 12 --trace 0

Runs from the root of a checkout. Builds one workload's inputs from the
seed, starts Spark at ``local[<cores>]``, sets up and warms up, then runs
operations in a closed loop, checking every output against an oracle.
``--seconds`` sets how many operations a run measures: as many as take
that long at the workload's nominal operation time, and at least three.
The count does not depend on how fast the host happens to be, and the
operations still speed up for a while after the warm-up and the store
grows every tick, so a count that varied would move the median.

Timings that gate are CPU time of the driver, the JVM and its Python
workers, not wall time: on a shared host the wall time of the same run
moves with other tenants' load, CPU time much less. Wall-clock latencies
go on the ``# `` summary line. The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``; with
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones. Exits non-zero when any output is wrong. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

from spans import STORE_OPS, descendants

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HEAP = "1g"  # driver JVM heap: small, as the box is shared

# (name, unit, better). BENCHMARK.json declares the same names; the
# benchmark's tests hold the two lists together.
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("op_cpu_ms", "ms", "lower"),
    ("peak_rss_mb", "MiB", "lower"),
]
MIN_OPS = 3  # fewest operations an untraced run measures

PER_LAYER = [
    ("evaluate.busy_s", "s", "lower"),
    ("evaluate.windows_per_tick", "count", "lower"),
    ("evaluate.monitors_per_window", "count", "higher"),
    ("evaluate.spark_jobs", "count", "lower"),
    ("graphite.compile.calls", "count", "lower"),
    ("graphite.compile.busy_s", "s", "lower"),
    ("graphite.plan.busy_s", "s", "lower"),
    ("graphite.execute.busy_s", "s", "lower"),
    ("scheduler.tick.self_s", "s", "lower"),
    ("scheduler.due_monitors.busy_s", "s", "lower"),
    ("scheduler.due_per_tick", "count", "higher"),
    *[(f"store.{op}.{m}", u, "lower")
      for op in STORE_OPS for m, u in (("calls", "count"), ("busy_s", "s"))],
    ("store.bytes_written_per_tick", "B", "lower"),
    ("store.files_written_per_tick", "count", "lower"),
    ("store.files_total", "count", "lower"),
    ("notify.dispatch.calls", "count", "lower"),
    ("notify.dispatch.busy_s", "s", "lower"),
    ("notify.duplicate_ratio", "ratio", "lower"),
    ("cron.next_fire.busy_s", "s", "lower"),
    ("lifecycle.transition.calls", "count", "lower"),
    ("dashboard.overview.busy_s", "s", "lower"),
    ("dashboard.latest_result.busy_s", "s", "lower"),
    ("ingest.busy_s", "s", "lower"),
    ("ingest.rows", "count", "lower"),
    ("metrics.files_total", "count", "lower"),
    ("dedup.near_duplicates.busy_s", "s", "lower"),
    ("dedup.components.busy_s", "s", "lower"),
    ("dedup.canonical.self_s", "s", "lower"),
    ("dedup.verified_pairs", "count", "higher"),
    ("dedup.pair_recall", "ratio", "higher"),
    ("spark.jobs_per_op", "count", "lower"),
    ("spark.stages_per_op", "count", "lower"),
    ("spark.tasks_per_op", "count", "lower"),
    ("trace.overhead_ratio", "ratio", "lower"),
    ("trace.self_sum_ratio", "ratio", "higher"),
]

# spans whose busy time (summed per traced operation) is reported as-is
BUSY_SPANS = [
    "evaluate", "graphite.compile", "graphite.plan", "graphite.execute",
    "scheduler.due_monitors", "notify.dispatch", "cron.next_fire",
    "dashboard.overview", "dashboard.latest_result", "ingest",
    "dedup.near_duplicates", "dedup.components",
]


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(work: str) -> None:
    """Environment for the driver, the JVM it launches and the Python
    workers the JVM forks: workers must import ``rearview_spark`` (the
    grouped-map UDFs in monitor evaluation fail with ModuleNotFoundError
    otherwise), and every temporary file stays inside the run's directory."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, the spark-submit launcher's included: no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    os.environ["TZ"] = "UTC"
    time.tzset()
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d))


def start_spark(work: str):
    from rearview_spark.session import get_spark

    # The whole heap is committed and touched at start, so peak RSS does not
    # depend on when garbage collection happened to grow the heap; what
    # still moves it is the driver and the JVM's memory outside the heap.
    java = f"-Xms{HEAP} -XX:+AlwaysPreTouch"
    return get_spark("perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": java,
    })


def stop_spark(spark) -> None:
    """Stop the session, close the JVM's stdin (it exits on EOF) and wait
    for the JVM and the Python workers it forked to end."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    children = descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:  # a JVM that ignores EOF is killed
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while any(os.path.exists(f"/proc/{pid}") for pid in children):
        if time.monotonic() > deadline:
            for pid in children:
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass
            break
        time.sleep(0.05)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    import rearview_spark  # noqa: F401  (fails fast outside a checkout)

    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(ROOT, ".perfbench_work"))
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str) -> int:
    from spans import (Tracer, patch_program, peak_rss_mb, spark_counts, tree_cpu_s,
                       walk, written)
    from workloads import WORKLOADS, Checks, percentile_ms

    me = os.getpid()
    t_start = time.perf_counter()
    configure_env(work)
    spark = start_spark(work)
    try:
        sc = spark.sparkContext
        tracer, checks = Tracer(), Checks()
        wl = WORKLOADS[args.workload](spark, work, args.seed, tracer, checks)
        sc.setJobGroup("setup", "perfbench set-up")
        wl.setup()
        setup_wall_s = time.perf_counter() - t_start
        setup_s = tree_cpu_s(me)  # since this process started

        traced = bool(args.trace)
        if traced:
            patch_program(tracer, sc)
            wl.trace_hooks()
        lat = {True: [], False: []}  # traced / untraced op latencies
        cpu, units, busy_s, results, counts = [], 0, 0.0, [], []
        bytes_w = files_w = 0
        # A traced run alternates untraced and traced operations and needs
        # one of each. On a host running far below the nominal speed the run
        # stops early, once it has measured for 1.25 times its time and at
        # least MIN_OPS operations (two when tracing).
        least = 2 if traced else MIN_OPS
        n_ops = max(least, round(args.seconds / wl.nominal_s))
        deadline = time.perf_counter() + 1.25 * args.seconds
        for i in range(n_ops):
            if i >= least and time.perf_counter() > deadline:
                break
            on = traced and i % 2 == 1
            tracer.enabled, tracer.op = on, f"op-{i}"
            sc.setJobGroup(tracer.op, args.workload)
            before = walk(wl.store_dir) if on and wl.store_dir else None
            with tracer.span("op"):
                res = wl.op()
            if before is not None:
                b, f = written(before, walk(wl.store_dir))
                bytes_w, files_w = bytes_w + b, files_w + f
            tracer.enabled = False
            lat[on].append(res.latency_s)
            if not on:
                cpu.append(res.cpu_s)
                units += res.units
                busy_s += res.latency_s
                results += res.result_s
                counts.append(spark_counts(sc, tracer.op))
        wl.finish()

        if traced:
            n = len(lat[True])
            metrics = layer_metrics(tracer, wl, n, lat, counts, bytes_w, files_w, args.workload)
            os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
            tracer.write(os.path.join(
                ROOT, ".perfbench_out", f"spans-{args.workload}-{args.seed}.jsonl"))
            tracer.restore()
        else:
            metrics = {
                "setup_s": setup_s,
                "op_cpu_ms": statistics.median(cpu) * 1000,
                "peak_rss_mb": peak_rss_mb([me, sc._gateway.proc.pid]),
            }
    finally:
        stop_spark(spark)

    table = {name: unit for name, unit, _ in (PER_LAYER if args.trace else END_TO_END)}
    ops, res = lat[False], results
    summary = {
        "workload": args.workload, "seed": args.seed, "ops": len(ops) + len(lat[True]),
        "failed_ratio": checks.failed / max(checks.attempted, 1),
        "setup_wall_s": round(setup_wall_s, 3),
        "op_p50_ms": statistics.median(ops) * 1000,
        "units_per_s": units / busy_s if busy_s else None,
        "op_ms": [round(x * 1000) for x in ops],
        "op_cpu_ms": [round(x * 1000) for x in cpu],
        "result_p50_ms": percentile_ms(res, 0.5),
        "result_p90_ms": percentile_ms(res, 0.9), "result_samples": len(res),
        **wl.summary(),
        "notes": checks.notes,
    }
    print("# " + json.dumps(summary, default=str))
    print(json.dumps({
        "correct": checks.failed == 0,
        "attempted": checks.attempted,
        "failed": checks.failed,
        "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in table.items()},
    }), flush=True)
    return 0 if checks.failed == 0 else 1


def layer_metrics(tracer, wl, n, lat, counts, bytes_w, files_w, workload) -> dict:
    from spans import walk

    per = lambda x: x / n  # noqa: E731 - every busy time and call count is per traced op
    c = tracer.counters
    ticks = workload.startswith("tick")
    m = {f"{name}.busy_s": per(tracer.busy(name)) for name in BUSY_SPANS}
    m["graphite.compile.calls"] = per(tracer.calls("graphite.compile"))
    m["scheduler.tick.self_s"] = per(tracer.self_time("scheduler.tick"))
    m["dedup.canonical.self_s"] = per(tracer.self_time("dedup.canonical"))
    m["notify.dispatch.calls"] = per(tracer.calls("notify.dispatch"))
    m["lifecycle.transition.calls"] = per(tracer.calls("lifecycle.transition"))
    for op in STORE_OPS:
        m[f"store.{op}.calls"] = per(tracer.calls(f"store.{op}"))
        m[f"store.{op}.busy_s"] = per(tracer.busy(f"store.{op}"))
    if c.get("evaluate.windows"):
        m["evaluate.monitors_per_window"] = c["evaluate.monitors"] / c["evaluate.windows"]
    if ticks:
        m["evaluate.windows_per_tick"] = per(c.get("evaluate.windows", 0))
        m["evaluate.spark_jobs"] = per(c.get("evaluate.spark_jobs", 0))
        m["scheduler.due_per_tick"] = per(c.get("evaluate.monitors", 0))
        m["store.bytes_written_per_tick"] = per(bytes_w)
        m["store.files_written_per_tick"] = per(files_w)
        m["ingest.rows"] = per(c.get("ingest.rows", 0))
    if wl.store_dir:
        m["store.files_total"] = len(walk(wl.store_dir))
    if wl.metrics_dir:
        m["metrics.files_total"] = len(walk(wl.metrics_dir))
    if counts:
        for j, key in enumerate(("jobs", "stages", "tasks")):
            m[f"spark.{key}_per_op"] = statistics.mean(x[j] for x in counts)
    m["trace.overhead_ratio"] = statistics.median(lat[True]) / statistics.median(lat[False])
    m["trace.self_sum_ratio"] = tracer.self_sum_ratio(
        "scheduler.tick" if ticks else "op")
    m.update(wl.layer_metrics())
    return m


if __name__ == "__main__":
    sys.exit(main())
