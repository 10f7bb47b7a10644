#!/usr/bin/env python
"""Benchmark harness: run the declared-query suite and print ONE JSON line.

Runs every registered query at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]``, timing each
end-to-end (plan + execute) with a ``noop``-format write so the full
result is computed without driver-side collection overhead.

Output (stdout): ONE compact JSON line — total, per-family subtotals and
the flagship timing only, so the driver's tail capture never truncates it
(r1's full per-query line overflowed the capture window → "parsed": null).
The full per-query map is written to ``BENCH_FULL.json`` next to this file.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from portfolio_data_pipelines_spark.queries import all_queries  # noqa: E402
from portfolio_data_pipelines_spark.session import get_spark  # noqa: E402
from portfolio_data_pipelines_spark.sources.parquet import scan_table  # noqa: E402


def run_lakehouse_family(spark, sf_dir: str):
    """Bench the Delta-log lifecycle on the events table: write, full
    read, feed backfill, selective read, MERGE, micro-appends, OPTIMIZE,
    and the incremental change read. Each step is timed on the SECOND of
    two full lifecycle rounds (fresh roots), mirroring the per-query
    warm-run methodology. Also returns the read-amplification evidence:
    live files a full read touches before vs after OPTIMIZE (from the
    Delta log's own live-set — the same number an executor fan-out
    sees).
    """
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from portfolio_data_pipelines_spark.operators.delta_log import (
        _replay_log,
        write_delta,
    )
    from portfolio_data_pipelines_spark.operators.delta_maintain import optimize_delta
    from portfolio_data_pipelines_spark.operators.delta_merge import merge_delta
    from portfolio_data_pipelines_spark.operators.delta_scan import (
        read_delta,
        read_delta_changes,
    )
    from portfolio_data_pipelines_spark.sources.delta_feed import (
        DeltaChangeFeedDataSource,
    )

    try:
        spark.dataSource.register(DeltaChangeFeedDataSource)
    except Exception:
        pass  # already registered in this session

    events = (
        scan_table(spark, sf_dir, "events")
        .withColumn("date", F.to_date("ts").cast("string"))
        .drop("props")  # JSON payload irrelevant to the lifecycle bench
        .cache()
    )
    events.count()
    two_days = [r["date"] for r in events.select("date").distinct().orderBy("date").limit(2).collect()]
    merge_src = (
        events.filter(F.col("date").isin(two_days))
        .withColumn("value", F.col("value") * 2)
    ).cache()
    merge_src.count()

    timings: dict[str, float] = {}
    meta: dict[str, int] = {}
    for rnd in (0, 1):  # second round = warm numbers
        root = tempfile.mkdtemp(prefix="bench_lake_")
        dpath = f"{root}/delta"

        def step(name, fn):
            t0 = time.perf_counter()
            fn()
            timings[name] = round(time.perf_counter() - t0, 4)

        step("lakehouse_delta_write", lambda: write_delta(
            spark, events, dpath, partition_col="date"))
        step("lakehouse_delta_read", lambda: read_delta(spark, dpath)
             .write.format("noop").mode("overwrite").save())

        def feed_backfill():
            # cold backfill of the full table through the delta_feed
            # streaming source (arrow-batch reads, size-grouped tasks),
            # one availableNow pass against a fresh checkpoint — the
            # throughput twin of lakehouse_delta_read. Also time an
            # EMPTY run (startingVersion at the tip) so the artifact
            # separates Structured Streaming's fixed per-query cost
            # from the source's marginal read cost.
            ck = tempfile.mkdtemp(prefix="bench_feed_ck_")
            q = (
                spark.readStream.format("delta_feed")
                .option("path", dpath)
                .load()
                .writeStream.format("noop")
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(600)

        def feed_fixed_overhead():
            from portfolio_data_pipelines_spark.operators.delta_log import (
                _replay_log as _rl,
            )

            tip = _rl(spark, dpath, None).version
            ck = tempfile.mkdtemp(prefix="bench_feedfx_ck_")
            q = (
                spark.readStream.format("delta_feed")
                .option("path", dpath)
                .option("startingVersion", str(tip))
                .load()
                .writeStream.format("noop")
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(600)

        step("lakehouse_feed_backfill", feed_backfill)
        step("lakehouse_feed_fixed_overhead", feed_fixed_overhead)
        # selective read: Delta prunes files from the LOG (partition
        # values + stats ranges) before planning
        step("lakehouse_delta_skip_read", lambda: read_delta(
            spark, dpath, predicate={"date": (two_days[0], two_days[-1])})
            .filter(F.col("date").isin(two_days))
            .write.format("noop").mode("overwrite").save())
        step("lakehouse_delta_merge", lambda: merge_delta(
            spark, dpath, merge_src, key_cols=["event_id"]))

        # Pepper the touched days with micro-appends (the streaming-sink
        # file pattern) so OPTIMIZE has real work.
        micro = merge_src.limit(500)
        t0 = time.perf_counter()
        for _ in range(4):
            write_delta(spark, micro, dpath, partition_col="date")
        timings["lakehouse_delta_micro_appends"] = round(
            time.perf_counter() - t0, 4
        )
        meta["files_before_optimize"] = len(_replay_log(spark, dpath, None).adds)
        step("lakehouse_delta_optimize", lambda: optimize_delta(
            spark, dpath, partitions=two_days))
        meta["files_after_optimize"] = len(_replay_log(spark, dpath, None).adds)
        step("lakehouse_delta_changes", lambda: read_delta_changes(
            spark, dpath, from_version=0)
            .write.format("noop").mode("overwrite").save())
        shutil.rmtree(root, ignore_errors=True)
    events.unpersist()
    merge_src.unpersist()
    return timings, meta


def _load_sample() -> dict:
    """One host-load sample: 1-min loadavg + cumulative steal/total jiffies.

    Contention telemetry (r6 verdict task 3): this host has shown 1.5x
    run-to-run swings on UNCHANGED code from noisy-neighbor CPU steal.
    Sampling /proc/loadavg and the /proc/stat steal counter around each
    query makes a contended run machine-detectable from BENCH_FULL.json
    alone instead of a timing hunch.
    """
    out = {"loadavg1": None, "steal": None, "total": None}
    try:
        with open("/proc/loadavg") as f:
            out["loadavg1"] = float(f.read().split()[0])
        with open("/proc/stat") as f:
            parts = f.readline().split()  # "cpu  user nice sys idle iowait irq softirq steal ..."
        vals = [int(x) for x in parts[1:]]
        out["steal"] = vals[7] if len(vals) > 7 else 0
        out["total"] = sum(vals)
    except (OSError, ValueError, IndexError):
        pass
    return out


def _steal_pct(before: dict, after: dict):
    if before.get("total") is None or after.get("total") is None:
        return None
    dt = after["total"] - before["total"]
    if dt <= 0:
        return 0.0
    return round(100.0 * (after["steal"] - before["steal"]) / dt, 3)


def _probe_spin(n: int) -> float:
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc = (acc * 1103515245 + 12345 + i) & 0x7FFFFFFF
    return time.perf_counter() - t0


def _cpu_efficiency() -> float | None:
    """Fraction of the advertised cores this host actually delivers
    under full width, measured by a fixed pure-CPU task run once
    serially and then on every core at once (serial_time * ncpu /
    sum(parallel_times)). ~1.0 on a dedicated box; this host has been
    observed at ~0.78 with nonzero steal, which uniformly inflates
    every wall-clock below by ~1/efficiency on UNCHANGED code — so the
    number rides along in the load report to separate host throttling
    from real regressions (methodology: tools/host_probe.py)."""
    try:
        import multiprocessing as mp

        ctx = mp.get_context("fork")  # fork: no function pickling
        n = 6_000_000
        _probe_spin(n // 10)
        serial = min(_probe_spin(n) for _ in range(2))
        ncpu = os.cpu_count() or 1
        times = ctx.Array("d", ncpu)

        def worker(i: int) -> None:
            times[i] = _probe_spin(n)

        procs = [ctx.Process(target=worker, args=(i,)) for i in range(ncpu)]
        for p in procs:
            p.start()
        for p in procs:
            p.join(timeout=120)
        per_task = [t for t in times if t > 0]
        if len(per_task) < ncpu:
            return None
        return round(serial * ncpu / sum(per_task), 3)
    except Exception:
        return None


def _prior_bench_parsed():
    """(round, parsed record) from the newest driver-recorded
    ``BENCH_r*.json``. (None, None) when no prior record exists or it
    failed to parse."""
    import glob

    here = os.path.dirname(os.path.abspath(__file__))
    best = None
    for p in glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", p)
        if m and (best is None or int(m.group(1)) > best[0]):
            best = (int(m.group(1)), p)
    if best is None:
        return None, None
    try:
        with open(best[1]) as f:
            doc = json.load(f)
        return best[0], doc.get("parsed") or None
    except Exception:
        return best[0], None


def _step_key(k: str) -> str:
    """Compact line-record key for one lakehouse step: the
    ``lakehouse_``/``delta_`` prefixes carry no information inside the
    steps map (r17: the stdout line must fit the driver's 2000-char
    tail WITH the env block, the common block and the step map — the
    full names live in BENCH_FULL.json)."""
    return k.removeprefix("lakehouse_").removeprefix("delta_")


def _prior_lakehouse_steps():
    """(round, step map) from the newest driver-recorded
    ``BENCH_r*.json`` — the comparison base for the per-step lakehouse
    deltas printed each run (r12 verdict #8). Keys normalized through
    :func:`_step_key` so records from rounds before the r17 compaction
    still diff. (None, None) when no prior record exists or it carries
    no parsed step block."""
    n, parsed = _prior_bench_parsed()
    steps = ((parsed or {}).get("excluded") or {}).get("lakehouse_steps")
    if not steps:
        return n, None
    return n, {_step_key(k): v for k, v in steps.items()}


def main() -> None:
    # Python DataSource tasks (delta_feed) run in executor-side Python
    # workers that must import this package — set PYTHONPATH before the
    # JVM starts so local-mode workers inherit it.
    os.environ["PYTHONPATH"] = (
        os.path.dirname(os.path.abspath(__file__))
        + os.pathsep
        + os.environ.get("PYTHONPATH", "")
    )
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4)))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    spark = get_spark(
        app_name="pdp-spark-bench",
        master=f"local[{cpus}]",
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    # Scaling-contract evidence (r16 verdict #2): the driver's 8-core
    # rerun fired `suspect_cpus_ignored` because at sf0.1 most queries
    # are job-latency-bound, not compute-bound — so the record itself
    # must prove the requested core count was APPLIED. master comes
    # from the env var above; defaultParallelism is what the JVM
    # actually granted (local[N] ⇒ N).
    env_block = {
        "cpus": cpus,
        "master": spark.sparkContext.master,
        "defaultParallelism": spark.sparkContext.defaultParallelism,
    }

    # Warm the JVM/codegen paths so per-query numbers measure the engine,
    # not first-touch class loading.
    scan_table(spark, sf_dir, "events").count()

    def run_once(fn) -> float:
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def drop_leaked_blocks() -> None:
        """Unpersist LOCALLY-CHECKPOINTED RDD blocks between timed
        queries. Operators eagerly ``localCheckpoint`` intermediate
        frames (the right call INSIDE a query: consumers reuse one
        materialization); after the action those blocks are garbage the
        driver only reclaims at its periodic JVM GC. Left alone they
        accumulate across 50×2 runs and push later queries into memory
        pressure — measured as warm slower than cold on the 10× soak
        replica (2 GB of gram-table blocks per run). Spark's
        ContextCleaner does exactly this on GC; the bench just refuses
        to wait for it. The dedup family's cross-query shared indexes
        (``_PLAN_CACHE`` persists — NOT checkpoints) are deliberately
        kept: their reuse is the operator design being measured."""
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for jrdd in jmap.values():
            r = jrdd.rdd()
            if r.isLocallyCheckpointed():
                r.unpersist(False)

    # Per-query timing = the SECOND of two executions: the first run pays
    # first-touch codegen compilation / broadcast build / file-listing
    # costs that previously landed on whichever queries sorted early,
    # making round-over-round per-query comparison order-sensitive (r2
    # showed 4x phantom regressions on sub-second queries). The warmed
    # number measures the engine; cold_total preserves the end-to-end
    # including-warm-up wall-clock for transparency.
    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    families: dict[str, float] = {}
    families_cold: dict[str, float] = {}
    fam_load: dict[str, dict] = {}  # per-family jiffy/load accumulation

    # Pre-build the bucketed layout OUTSIDE the timed loop (r10 verdict:
    # timing the one-time bucketed write inside the declared query
    # conflated a sink with a join — regressions in the JOIN could hide
    # behind write noise). The query fn builds lazily on first call and
    # reuses the session-keyed tables afterwards, so this first
    # invocation pays the layout write + first join; the loop below then
    # times the zero-Exchange join alone. Reported separately like the
    # lakehouse family.
    qmap = all_queries()
    bucketed_layout_sec = 0.0
    if "bucketed_orders_lineitem_join" in qmap:  # rotation-proof
        t0 = time.perf_counter()
        qmap["bucketed_orders_lineitem_join"](spark, sf_dir).write.format(
            "noop"
        ).mode("overwrite").save()
        bucketed_layout_sec = round(time.perf_counter() - t0, 4)

    eff_start = _cpu_efficiency()
    load_start = _load_sample()
    for name, fn in sorted(qmap.items()):
        s0 = _load_sample()
        cold[name] = round(run_once(fn), 4)
        drop_leaked_blocks()
        timings[name] = round(run_once(fn), 4)
        drop_leaked_blocks()
        s1 = _load_sample()
        fam = fn.__module__.rsplit(".", 1)[-1]
        families[fam] = round(families.get(fam, 0.0) + timings[name], 4)
        families_cold[fam] = round(families_cold.get(fam, 0.0) + cold[name], 4)
        if s0.get("total") is not None and s1.get("total") is not None:
            acc = fam_load.setdefault(fam, {"steal": 0, "total": 0, "loadavg_max": 0.0})
            acc["steal"] += s1["steal"] - s0["steal"]
            acc["total"] += s1["total"] - s0["total"]
            acc["loadavg_max"] = max(acc["loadavg_max"], s1["loadavg1"] or 0.0)

    # Lakehouse lifecycle family (Delta log) — not a declared query (it
    # writes tables), so benched and reported as its own family, EXCLUDED
    # from `value` to keep the headline number comparable with earlier
    # rounds and the recorded baseline.
    lk0 = _load_sample()
    lake_timings, lake_meta = run_lakehouse_family(spark, sf_dir)
    lk1 = _load_sample()
    lakehouse_total = round(sum(lake_timings.values()), 4)
    load_end = _load_sample()
    # Efficiency probed at BOTH ends; normalization uses the HIGHER
    # (most conservative: higher efficiency → normalized value closer
    # to the raw wall-clock). A single end-of-run probe occasionally
    # caught a transient dip and flattered the normalized number.
    eff_end = _cpu_efficiency()
    eff_pair = [e for e in (eff_start, eff_end) if e is not None]
    load_report = {
        "loadavg1_start": load_start.get("loadavg1"),
        "loadavg1_end": load_end.get("loadavg1"),
        "cpu_efficiency": max(eff_pair) if eff_pair else None,
        "cpu_efficiency_start_end": [eff_start, eff_end],
        "steal_pct_overall": _steal_pct(load_start, load_end),
        "steal_pct_lakehouse": _steal_pct(lk0, lk1),
        "families_steal_pct": {
            k: (round(100.0 * v["steal"] / v["total"], 3) if v["total"] else 0.0)
            for k, v in sorted(fam_load.items())
        },
        "families_loadavg_max": {
            k: v["loadavg_max"] for k, v in sorted(fam_load.items())
        },
    }

    total = round(sum(timings.values()), 4)
    cold_total = round(sum(cold.values()), 4)
    full = {
        "metric": "declared-query suite wall-clock",
        "value": total,
        "unit": "sec",
        "timing": "second-of-2 per query (plan warmed)",
        "queries": timings,
        "queries_cold": cold,
        "cold_total": cold_total,
        "families": families,
        "families_cold": families_cold,
        "sf": sf,
        "n_queries": len(timings),
        # lakehouse lifecycle family: Delta-log steps, warm (second of
        # two lifecycle rounds); excluded from `value` (it writes tables
        # rather than running a declared query). read-amp = live files a
        # full read touches.
        "lakehouse": lake_timings,
        "lakehouse_total": lakehouse_total,
        "lakehouse_read_amp": lake_meta,
        # one-time bucketed-table layout write (+ first join), paid
        # before the timed loop so the declared query times the join
        "bucketed_layout_sec": bucketed_layout_sec,
        # host-contention telemetry (see _load_sample): a run with
        # steal_pct > ~2 or loadavg far above the bench's own demand is
        # contended — do not compare its timings round-over-round.
        "load": load_report,
        "env": env_block,
    }
    sidecar = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json")
    with open(sidecar, "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
    # Compact stdout line. The driver captures only a 2000-char stdout
    # TAIL (r1's full line overflowed it -> "parsed": null), so the
    # per-query map (r10 verdict #7: all 50 warm timings in the driver
    # record, so round-over-round per-query audit needs no local re-run)
    # ships at 2 dp with everything derivable dropped (families /
    # families_cold live in BENCH_FULL.json, which the driver commits).
    # A length guard falls back to family subtotals rather than ever
    # risking an unparseable overflow.
    line_base = {
        "metric": "declared-query suite wall-clock",
        "value": total,
        "unit": "sec",
        # the record self-interprets (r9 VERDICT #4): the total a
        # fully-delivered host would show — total * cpu_efficiency
        # (efficiency < 1 means the hypervisor under-delivered and
        # uniformly inflated every wall-clock)
        "value_efficiency_normalized": (
            round(total * load_report["cpu_efficiency"], 2)
            if load_report["cpu_efficiency"] else None
        ),
        "queries": {k: round(v, 2) for k, v in sorted(timings.items())},
        # warm AND cold side by side so round-over-round comparison
        # never conflates timing methodology with regression
        "cold_total": cold_total,
        "excluded": {
            "lakehouse": round(lakehouse_total, 1),
            "bucketed_layout": round(bucketed_layout_sec, 1),
            # per-step lakehouse timings (r11 verdict #9): the CDF
            # reconstruction / feed / merge steps scale differently, so
            # the driver record must carry them round-over-round, not
            # just the family total. Compact keys keep the step
            # map, the common block AND the env block inside the
            # driver's capture tail.
            "lakehouse_steps": {
                _step_key(k): round(v, 1)
                for k, v in sorted(lake_timings.items())
            },
        },
        "load": {
            "steal_pct": load_report["steal_pct_overall"],
            "cpu_efficiency": load_report["cpu_efficiency"],
            "loadavg1": [
                load_report["loadavg1_start"],
                load_report["loadavg1_end"],
            ],
        },
        "sf": sf,
        # never shed by the length ladder: this is the field the
        # driver's scaling check verifies cores against (r16 verdict #2)
        "env": env_block,
        "detail": "BENCH_FULL.json",
    }
    # Common-subset total vs the prior driver record (r15 verdict #4):
    # rotation changes the declared composition every round, so the
    # suite total alone conflates engine regressions with composition —
    # the common-query sum is the like-for-like number, now a
    # first-class field instead of a hand computation each round.
    # Compact keys: r = prior round, n = common query count, prev/cur =
    # common-subset warm totals (the driver tail is 2000 chars).
    prev_n, prev_parsed = _prior_bench_parsed()
    prev_q = (prev_parsed or {}).get("queries") or {}
    common = sorted(set(prev_q) & set(timings))
    if common:
        common_block = {
            "r": prev_n,
            "n": len(common),
            "prev": round(sum(prev_q[k] for k in common), 1),
            "cur": round(sum(timings[k] for k in common), 1),
        }
        line_base["common"] = common_block
        full["common_vs_prev"] = common_block
        with open(sidecar, "w") as f:
            json.dump(full, f, indent=1, sort_keys=True)
    # Round-over-round lakehouse step deltas (r12 verdict #8): compare
    # against the most recent driver-recorded BENCH_r*.json so a CDF /
    # merge / feed regression is visible in the bench output itself.
    prior_round, prior_steps = _prior_lakehouse_steps()
    if prior_steps:
        cur = line_base["excluded"]["lakehouse_steps"]
        deltas = {
            k: round(cur[k] - prior_steps[k], 1)
            for k in sorted(set(cur) & set(prior_steps))
        }
        moved = ", ".join(f"{k} {v:+.1f}s" for k, v in deltas.items() if v)
        print(
            f"lakehouse step deltas vs BENCH_r{prior_round:02d}: "
            + (moved or "(all flat)")
        )
        # the parsed driver record carries the significant movers only
        # (the full current map is already in the line; the guard can
        # still shed this block first if the line outgrows the tail)
        movers = {k: v for k, v in deltas.items() if abs(v) >= 0.3}
        if movers:
            line_base["excluded"]["step_delta_vs_prior"] = movers
    line = json.dumps(line_base, separators=(",", ":"))
    # Never outgrow the driver's 2000-char capture tail: shed the most
    # derivable detail first (step deltas → common block → all steps →
    # per-query map), everything dropped stays in BENCH_FULL.json.
    if len(line) > 1900:
        # normalized = value × load.cpu_efficiency; detail is implied
        line_base.pop("value_efficiency_normalized", None)
        line_base.pop("detail", None)
        line_base["excluded"].pop("step_delta_vs_prior", None)
        line = json.dumps(line_base, separators=(",", ":"))
    if len(line) > 1900:
        # the common-subset block lives in BENCH_FULL.json too and is
        # recomputable from two driver records — shed it before the
        # per-step lakehouse map (r12 verdict #8 wants steps recorded)
        line_base.pop("common", None)
        line = json.dumps(line_base, separators=(",", ":"))
    if len(line) > 1900:
        line_base["excluded"].pop("lakehouse_steps", None)
        line = json.dumps(line_base, separators=(",", ":"))
    if len(line) > 1900:
        line_base["queries"] = {
            "daily_events_mart": timings.get("daily_events_mart")
        }
        line_base["families"] = {
            k: round(v, 1) for k, v in sorted(families.items())
        }
        line = json.dumps(line_base, separators=(",", ":"))
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
