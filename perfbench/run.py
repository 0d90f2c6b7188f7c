#!/usr/bin/env python3
"""Repository benchmark: one command, two workloads, one JSON result.

    python3 perfbench/run.py --workload ingest|analytics \\
        --seed N --seconds S --trace 0|1 [--smoke]

Run from the root of a checkout.  Each run is one process with one
closed-loop client: it starts a `local[4]` Spark session with a 1 GB
driver heap, generates its inputs from `--seed`, records the calibration
block, runs the workload's timed sequence (see `ingest.py` and
`analytics.py`) and checks its outputs.  `--seconds` is accepted but sets
no amount of work: the timed sequences are fixed, so what a run measures
does not depend on how fast the machine is.  Before it prints its result
(and on every other way out, SIGTERM included) the run stops the driver
JVM and waits until every process it started has ended.

The last line of stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones (`E2E_UNITS`), the
same names for every workload.  The timings among them are CPU seconds
of this process tree (Python, the driver JVM and its Python workers), not
wall seconds: on a shared 4-core host, CPU steal by other tenants moved
from 1% to 29% within one hour, and took the wall-clock figures of ten
seeds to an interquartile spread of 16-55% of their median, where the
CPU figures of the same runs stayed within 13%.  CPU seconds still grow
under contention (by about 15% from a quiet host to 18% steal), so
compare runs made under similar steal, which every run prints.

- setup_s: CPU seconds of set-up (session start, input generation and
  view registration);
- peak_rss_mb: peak resident memory of this process plus the driver JVM;
- op_cpu_ms: mean CPU milliseconds of the workload's unit operation (a
  silver course-day refresh; one headline query);
- timed_cpu_s: CPU seconds of the whole timed sequence.

The wall-clock figures are printed on the lines before the result, with
the workload's own metrics under their own names (`wall_metrics`).

With `--trace 1` they are the per-layer ones (`layer_units`), and every
span of the run is written to `perfbench/_out/trace-<workload>-<seed>.json`
with its self times.  Earlier stdout lines carry the calibration block,
the CPU steal over the timed window, the input size, each operation's
wall and CPU time, the failure ratio and any failed check.  `--smoke`
runs at a tiny size (see perfbench/tests).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PACKAGE = "tagmarshal_data_lakehouse_spark"
CORES = 4
DRIVER_MEMORY = "1g"

#: end-to-end metrics, reported by every workload (see BENCHMARK.json)
E2E_UNITS = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "op_cpu_ms": "ms",
    "timed_cpu_s": "s",
}


def layer_units() -> dict[str, str]:
    """Per-layer metrics, reported by every workload (0 where a workload
    does no work in that layer)."""
    from perfbench.analytics import HEADLINE

    units = {
        "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
        "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
        "spark.shuffle_write_bytes": "B", "spark.spill_bytes": "B",
        "spark.input_bytes": "B", "spark.busy_ratio": "ratio",
        "bronze.read_rounds_s": "s", "silver.backfill_s": "s",
        "silver.fixes_written": "count", "silver.quarantined": "count",
        "gold.analysis_s": "s",
        "storage.write_calls": "count", "storage.write_s": "s",
        "storage.bytes_written": "B", "storage.files_written": "count",
        "storage.write_amp": "ratio", "storage.space_amp": "ratio",
        "serving.requests": "count", "serving.hits": "count", "serving.misses": "count",
        "serving.hit_ratio": "ratio", "serving.hit_p50_us": "us",
        "serving.miss_fact_p50_ms": "ms", "serving.miss_gold_p50_ms": "ms",
        "serving.miss_param_p50_ms": "ms",
        "queries.build_s": "s", "queries.exec_s": "s",
        **{f"family.{f}_s": "s" for f in ("relational", "tpch", "events", "doc", "emb")},
        **{f"q.{n}_s": "s" for n in HEADLINE},
        "ops.wall_p50_s": "s",
        "trace.wall_s": "s", "trace.overhead_s": "s", "trace.spans": "count",
        "trace.self_cover": "ratio",
    }
    return units


class Context:
    def __init__(self, args, spark, tracer, workdir):
        self.spark = spark
        self.tracer = tracer
        self.seed = args.seed
        self.smoke = args.smoke
        self.trace = bool(args.trace)
        self.workdir = workdir

    def path(self, *parts: str) -> str:
        return os.path.join(self.workdir, *parts)


def _start_spark(workload: str, workdir: str):
    from tagmarshal_data_lakehouse_spark.session import get_spark

    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return get_spark(
        app_name=f"perfbench-{workload}",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        driver_memory=DRIVER_MEMORY,
        warehouse_dir=os.path.join(workdir, "warehouse"),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # keep every stage of a run in the status store for the trace
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    )


def calibration(spark, probe_file: str) -> dict:
    """Machine fingerprint, the readings of bench.py's calibration block:
    best-of-3 numpy GEMM and Spark range-sum, a cold read of the largest
    generated input file, and the load average."""
    import numpy as np

    a = np.full((2048, 2048), 1.0 / 2048.0)
    gemm, noop, disk = [], [], []
    for _ in range(3):
        t0 = time.perf_counter()
        a @ a
        gemm.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        spark.range(10_000_000).selectExpr("sum(id)").collect()
        noop.append(time.perf_counter() - t0)
        fd = os.open(probe_file, os.O_RDONLY)
        try:
            os.posix_fadvise(fd, 0, 0, os.POSIX_FADV_DONTNEED)
            t0 = time.perf_counter()
            while os.read(fd, 1 << 22):
                pass
            disk.append(os.path.getsize(probe_file) / (time.perf_counter() - t0) / (1 << 20))
        finally:
            os.close(fd)
    return {
        "numpy_gemm_2048_sec": round(min(gemm), 4),
        "spark_range_sum_sec": round(min(noop), 4),
        "disk_read_mbps": round(max(disk), 1),
        "loadavg_1m": round(os.getloadavg()[0], 2),
        "cpu_count": os.cpu_count(),
        "spark_cores": CORES,
    }


def _largest_file(root: str) -> str:
    best, size = "", -1
    for d, _dirs, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            if os.path.getsize(p) > size:
                best, size = p, os.path.getsize(p)
    return best


def _adopt_descendants() -> None:
    """Make this process the subreaper of everything it starts, so the
    Python workers the JVM forks stay its children (to be waited for)
    when the JVM ends before them."""
    import ctypes

    pr_set_child_subreaper = 36
    ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)


def _stop_processes(timeout_s: float = 60.0) -> None:
    """Stop the Spark session and the driver JVM, then wait until every
    process this run started has ended.  PySpark itself leaves the JVM
    to exit on its own once Python has exited and its stdin closes."""
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        gateway = SparkContext._gateway
        SparkContext._gateway = SparkContext._jvm = None
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:  # the JVM is stopped below either way
                pass
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on end of its stdin
                try:
                    proc.wait(timeout_s)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
    deadline = time.monotonic() + timeout_s
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:  # no child left
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            from perfbench.trace import _descendants

            for child in _descendants() - {os.getpid()}:
                try:
                    os.kill(child, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.05)


def _workload(name: str):
    if name == "ingest":
        from perfbench import ingest as mod
    else:
        from perfbench import analytics as mod
    return mod.Workload


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["ingest", "analytics"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs, one pass")
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ package next to perfbench/; run from a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    workdir = os.path.join(BENCH_DIR, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "tmp")
    # every JVM the run starts (the launcher too) would write hsperfdata
    # under the system /tmp; the run writes only inside its checkout
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"])
    )
    os.makedirs(os.environ["TMPDIR"])
    _adopt_descendants()
    # a plain kill still stops the JVM and waits for it (the finally below)
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    try:
        return _run(args, workdir)
    finally:
        _stop_processes()
        shutil.rmtree(workdir, ignore_errors=True)


def _run(args, workdir: str) -> int:
    from perfbench.trace import (
        Tracer, cpu_jiffies, cpu_seconds, jobs_by_span, peak_rss_mb, stage_counters,
        steal_share, window_start,
    )

    cpu0 = cpu_seconds()
    t0 = time.perf_counter()
    spark = _start_spark(args.workload, workdir)
    spark.range(1).count()
    tracer = Tracer(spark, bool(args.trace), f"{args.workload}-{args.seed}")
    ctx = Context(args, spark, tracer, workdir)
    workload = _workload(args.workload)(ctx)
    try:
        workload.setup()
        setup_wall_s = time.perf_counter() - t0
        setup_cpu_s = cpu_seconds() - cpu0
        calib = calibration(spark, _largest_file(workload.input_dir))
        print(f"# calibration: {json.dumps(calib)}", flush=True)

        tracer.mark()
        window = window_start(spark) if args.trace else None
        steal0 = cpu_jiffies()
        start = time.perf_counter()
        with tracer.span("timed", cpu=True) as timed:
            workload.run()
        wall_s = time.perf_counter() - start
        tracer.freeze()
        calib["timed_cpu_steal_pct"] = round(100 * steal_share(steal0), 2)
        calib["timed_loadavg_1m"] = round(os.getloadavg()[0], 2)
        rss = peak_rss_mb()
        if args.trace:
            spark_layer = stage_counters(spark, window, wall_s, CORES)
            span_jobs = jobs_by_span(spark, window)
        attempted, failed = workload.check()
        layer = workload.per_layer() if args.trace else {}
    finally:
        _stop_processes()

    ops = workload.op_detail()
    metrics = {
        "setup_s": setup_cpu_s,
        "peak_rss_mb": rss,
        "op_cpu_ms": 1e3 * statistics.fmean(cpu for _, cpu, _ in ops),
        "timed_cpu_s": timed.cpu,
    }
    for name, value in metrics.items():
        print(f"# e2e {name} = {value:.6g} {E2E_UNITS[name]}")
    print(f"# wall: setup {setup_wall_s:.3f} s; timed window {wall_s:.3f} s; steal "
          f"{calib['timed_cpu_steal_pct']}% / load {calib['timed_loadavg_1m']} over it")
    print(f"# input: {json.dumps(workload.input_size())}")
    print(f"# ops: {len(ops)} timed; (wall s, cpu s, steal share) each: "
          f"{json.dumps([[round(w, 3), round(c, 2), round(st, 3)] for w, c, st in ops])}")
    for name, (value, unit) in workload.wall_metrics().items():
        print(f"# wall {args.workload}.{name} = {value:.6g} {unit}")
    print(f"# fail_ratio = {failed / attempted:.6g} ({failed}/{attempted})")
    for note in workload.failures:
        print(f"# FAILED {note}")
    if args.trace:
        self_times = tracer.self_times(timed)
        layer.update(spark_layer)
        layer["ops.wall_p50_s"] = statistics.median(w for w, _, _ in ops)
        layer.update({
            "trace.wall_s": wall_s,
            "trace.overhead_s": tracer.overhead_s,
            "trace.spans": len(tracer.spans),
            "trace.self_cover": 1 - self_times["timed"] / wall_s,
        })
        tracer.write(
            os.path.join(BENCH_DIR, "_out", f"trace-{args.workload}-{args.seed}.json"),
            {"self_times_s": self_times, "spark_jobs_by_span": span_jobs,
             "per_layer": layer, "calibration": calib},
        )
        out = {k: {"value": layer.get(k, 0), "unit": u} for k, u in layer_units().items()}
    else:
        out = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in metrics.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
