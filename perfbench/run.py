#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <weather_hourly|analytics>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout: the engine package is imported
from there and every file the run writes stays under ``.perfbench_work/``
(removed at exit) and, for traced runs, ``.perfbench_out/`` (the spans).
Inputs are generated from ``--seed``. Spark runs as ``local[<cores>]`` in
one driver process. Progress goes to stderr.

With ``--trace 0`` the last stdout line carries the end-to-end metrics,
with ``--trace 1`` the per-layer metrics read from Spark's status store
(see ``trace.py``); the line above it names each workload's own metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "portfolio_data_pipelines_spark"
CALIB_REPS = 2  # at the end; the first job of the session runs once at the start


def _declared(kind: str) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _process_age_s() -> float:
    """Seconds since this process started, from the kernel's own record."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _note(msg: str) -> None:
    """Progress on stderr, stamped with the process age."""
    print(f"[{_process_age_s():7.2f}s] {msg}", file=sys.stderr, flush=True)


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def _loadavg1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _rss_peak_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _calibrate(spark, reps: int) -> list[float]:
    """A fixed tiny Spark job, timed: its drift flags a contended host."""
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        spark.range(0, 1 << 20, 1, 4).selectExpr("sum(id % 7) AS s").collect()
        out.append(time.perf_counter() - t0)
    return out


def _environment(work: str) -> dict[str, str]:
    """Keep every file Spark, its Python workers and the engine write
    inside the run's work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM (the launcher and the driver): temp files in the work
    # directory, and no hsperfdata file under the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # executor-side Python workers (the delta_feed source, pandas UDFs)
    # import the engine package
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    return {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"no {PACKAGE}/ under {ROOT}: run from the root of a source checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.trace import JobLedger, Tracer
    from perfbench.workloads import WORKLOADS, Context

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    conf = _environment(work)
    from portfolio_data_pipelines_spark.session import get_spark

    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}",
                          master=f"local[{os.cpu_count() or 1}]", extra_conf=conf)
        get_spark_s = time.perf_counter() - t0
        _note(f"session up in {get_spark_s:.2f}s")
        spark.sparkContext.setLogLevel("ERROR")
        jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        calib = _calibrate(spark, 1)
        tracer = Tracer(JobLedger(spark) if args.trace else None)

        marks: dict = {}

        def start_timing() -> None:
            _note("set-up done; timed window starts")
            marks["setup_s"] = _process_age_s()
            marks["jiffies"] = _cpu_jiffies()

        ctx = Context(spark=spark, seed=args.seed, seconds=args.seconds, work=work,
                      tracer=tracer, start_timing=start_timing, note=_note)
        out = WORKLOADS[args.workload](ctx)
        steal1, total1 = _cpu_jiffies()
        steal0, total0 = marks["jiffies"]
        _note("window and checks done")
        calib += _calibrate(spark, CALIB_REPS)
        rss_mb = _rss_peak_mb(jvm_pid)
    finally:
        if spark is not None:
            _stop(spark)
            _note("Spark stopped")
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only once no other run uses it

    window_s = sum(out.cycles)
    print(f"{args.workload}: " + ", ".join(
        f"{k}={v:.4f} {u}" for k, (v, u) in out.named.items())
        + f"; {len(out.calls)} timed calls in {len(out.cycles)} cycles ({window_s:.1f} s)")
    for f in out.failures:
        print(f"check failed: {f}")

    if args.trace:
        layers = dict(out.layers)
        layers["session.get_spark_s"] = get_spark_s
        layers["session.jvm_rss_peak_mb"] = rss_mb
        layers["host.calib_job_s"] = statistics.median(calib)
        layers["host.steal_pct"] = 100.0 * (steal1 - steal0) / max(1, total1 - total0)
        layers["host.loadavg1"] = _loadavg1()
        layers["trace.overhead_pct"] = 100.0 * out.window_trace_s / window_s
        layers["trace.cycle_s"] = statistics.median(out.cycles)
        # a layer the workload does not exercise reads 0
        values = {name: (layers.get(name, 0.0), unit)
                  for name, unit in _declared("per_layer").items()}
        os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
        with open(os.path.join(ROOT, ".perfbench_out",
                               f"spans-{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump(tracer.dump(), f)
    else:
        e2e = {"setup_s": marks["setup_s"], "call_p50_s": out.call_p50_s,
               "call_p75_s": out.call_p75_s, "cycle_s": statistics.median(out.cycles)}
        values = {name: (e2e[name], unit) for name, unit in _declared("end_to_end").items()}
    print(json.dumps({
        "correct": not out.failures,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
