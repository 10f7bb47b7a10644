"""The benchmark's closed-loop workloads.

Each workload runs its warm-up inside set-up, calls ``ctx.start_timing()``
right before its first timed call, runs its timed window, and then checks
its outputs outside the window. One caller; each call waits for the
previous one.

- ``weather_hourly``: the window is five batches of the paper's hourly
  pipeline (Delta versions 3-7). Traced runs go on to the checkpoint
  batch (version 10) and one Delta lifecycle round on the events table
  (the lake's maintenance: bulk write, reads, skipping, merge,
  micro-appends, optimize, change read, feed backfill) for their
  per-layer numbers.
- ``analytics``: the window is whole passes over ten read-only declared
  queries, one per family, until ``ctx.seconds`` have elapsed.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os
import statistics
import time
from dataclasses import dataclass, field

import perfbench.gen as gen
from perfbench.trace import Span, Tracer


@dataclass
class Context:
    spark: object
    seed: int
    seconds: float
    work: str  # scratch directory inside the checkout
    tracer: Tracer
    start_timing: object  # callable marking the end of set-up
    note: object  # callable logging progress to stderr


@dataclass
class Outcome:
    calls: list[float]  # latencies of the timed calls the percentiles cover (s)
    cycles: list[float]  # wall time of each timed cycle (s)
    call_p50_s: float
    call_p75_s: float
    attempted: int
    failed: int
    failures: list[str] = field(default_factory=list)
    window_trace_s: float = 0.0  # time spent reading Spark's status store in the window
    #: the workload's own metric names, printed in the summary line
    named: dict[str, tuple[float, str]] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)


def pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(math.floor(pos))
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _stat(span: Span, key: str) -> float:
    if span.stats is None:
        return 0.0
    if key == "outside_jobs_s":
        return span.outside_jobs_s
    return float(getattr(span.stats, key))


# ---------------------------------------------------------------------------
# Delta log accounting, read straight from the commit JSON
# ---------------------------------------------------------------------------


def _tip_version(table: str) -> int:
    names = os.listdir(os.path.join(table, "_delta_log"))
    return max(int(n[:20]) for n in names if n.endswith(".json") and n[:20].isdigit())


def _log_io(table: str) -> dict[str, int]:
    """Data-file bytes and files added / removed over the table's whole
    history, and the live data bytes and files at its tip."""
    live: dict[str, int] = {}
    added = removed = written = 0
    for v in range(_tip_version(table) + 1):
        with open(os.path.join(table, "_delta_log", f"{v:020d}.json")) as f:
            for a in (json.loads(line) for line in f if line.strip()):
                if "add" in a:
                    live[a["add"]["path"]] = int(a["add"]["size"])
                    added += 1
                    written += int(a["add"]["size"])
                elif "remove" in a:
                    live.pop(a["remove"]["path"], None)
                    removed += 1
    return {"bytes_written": written, "files_added": added, "files_removed": removed,
            "live_bytes": sum(live.values()), "live_files": len(live)}


# ---------------------------------------------------------------------------
# The Delta lifecycle round on the events table
# ---------------------------------------------------------------------------

LIFECYCLE_SF = 0.1  # 100k events
MICRO_APPENDS, MICRO_ROWS = 4, 500
#: The per-layer metric prefix of each step, in the order a round runs them
LIFECYCLE_STEPS = (
    "delta_log.write_delta",
    "delta_scan.read_delta",
    "delta_feed.backfill",
    "delta_scan.skip_read",
    "delta_merge.merge_delta",
    "delta_log.micro_appends",
    "delta_maintain.optimize_delta",
    "delta_scan.read_delta_changes",
)


@dataclass
class Round:
    table: str
    span: Span  # its children are the steps, in LIFECYCLE_STEPS order
    failures: list[str]
    live_files_before_optimize: int
    live_files_after_optimize: int
    io: dict[str, int]


class Lifecycle:
    """Bulk write partitioned by date, a full and a file-skipping read, a
    ``delta_feed`` availableNow backfill, a MERGE over two days, four
    micro-appends, OPTIMIZE of the two days and the change read — each
    called from the module that owns it."""

    def __init__(self, ctx: Context) -> None:
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from portfolio_data_pipelines_spark.sources.delta_feed import (
            DeltaChangeFeedDataSource,
        )
        from portfolio_data_pipelines_spark.sources.parquet import scan_table

        self.ctx, self.spark, self.F = ctx, ctx.spark, F
        data = os.path.join(ctx.work, "events")
        gen.write_tables(data, ctx.seed, LIFECYCLE_SF, only=("events",))
        self.spark.dataSource.register(DeltaChangeFeedDataSource)
        # expected counts, derived from the generated input
        ts = pq.read_table(os.path.join(data, "events.parquet"), columns=["ts"]).to_pandas()
        days = ts["ts"].dt.strftime("%Y-%m-%d")
        self.two_days = sorted(days.unique())[:2]
        self.n_rows = len(ts)
        self.n_two = int(days.isin(self.two_days).sum())
        self.n_appended = MICRO_APPENDS * MICRO_ROWS

        self.events = (scan_table(self.spark, data, "events")
                       .withColumn("date", F.to_date("ts").cast("string"))
                       .drop("props"))
        self.merge_src = (self.events.filter(F.col("date").isin(self.two_days))
                          .withColumn("value", F.col("value") * 2))
        self.micro = self.merge_src.orderBy("event_id").limit(MICRO_ROWS)

    def _two_day_rows(self, table: str, version: int | None = None):
        from portfolio_data_pipelines_spark.operators.delta_scan import read_delta

        return (read_delta(self.spark, table, version=version,
                           predicate={"date": (self.two_days[0], self.two_days[-1])})
                .filter(self.F.col("date").isin(self.two_days)))

    def run(self) -> Round:
        """One round, on a fresh table."""
        from portfolio_data_pipelines_spark.operators.delta_log import write_delta
        from portfolio_data_pipelines_spark.operators.delta_maintain import optimize_delta
        from portfolio_data_pipelines_spark.operators.delta_merge import merge_delta
        from portfolio_data_pipelines_spark.operators.delta_scan import (
            read_delta,
            read_delta_changes,
        )

        spark, tr = self.spark, self.ctx.tracer
        table = os.path.join(self.ctx.work, "events_delta")
        feed_rows: list[int] = []

        def step(name, fn):
            with tr.span(name):
                fn()

        def feed():
            q = (spark.readStream.format("delta_feed").option("path", table).load()
                 .writeStream.format("noop")
                 .option("checkpointLocation", table + "_feed_checkpoint")
                 .trigger(availableNow=True).start())
            if not q.awaitTermination(120):
                q.stop()
                raise TimeoutError("delta_feed backfill did not finish within 120 s")
            feed_rows.append(sum(int(p["numInputRows"]) for p in q.recentProgress))

        def appends():
            for _ in range(MICRO_APPENDS):
                write_delta(spark, self.micro, table, partition_col="date")

        with tr.span("round") as rnd:
            step("write_delta", lambda: write_delta(spark, self.events, table,
                                                    partition_col="date"))
            step("read_delta", lambda: _noop(read_delta(spark, table)))
            step("feed_backfill", feed)
            step("skip_read", lambda: _noop(self._two_day_rows(table)))
            step("merge_delta", lambda: merge_delta(spark, table, self.merge_src,
                                                    key_cols=["event_id"]))
            step("micro_appends", appends)
            files_before = _log_io(table)["live_files"]
            step("optimize_delta", lambda: optimize_delta(spark, table,
                                                          partitions=self.two_days))
            files_after = _log_io(table)["live_files"]
            step("read_delta_changes", lambda: _noop(
                read_delta_changes(spark, table, from_version=0)))
        failures = [] if feed_rows == [self.n_rows] else [
            f"lifecycle feed backfill: {feed_rows} rows, expected {self.n_rows}"]
        return Round(table, rnd, failures, files_before, files_after, _log_io(table))

    def verify(self, rnd: Round) -> None:
        """Row counts after every step of a finished round, read back by
        time travel (version 0 is the bulk write, 1 the MERGE, 2-5 the
        appends), against counts derived from the input."""
        from portfolio_data_pipelines_spark.operators.delta_scan import (
            read_delta,
            read_delta_changes,
        )

        spark, table = self.spark, rnd.table
        final = self.n_rows + self.n_appended
        for what, got, want in (
            ("write_delta", read_delta(spark, table, version=0).count(), self.n_rows),
            ("skip_read", self._two_day_rows(table, version=0).count(), self.n_two),
            ("merge_delta", read_delta(spark, table, version=1).count(), self.n_rows),
            ("micro_appends", read_delta(spark, table, version=1 + MICRO_APPENDS).count(),
             final),
            ("optimize_delta", read_delta(spark, table).count(), final),
            ("optimize_delta, two days", self._two_day_rows(table).count(),
             self.n_two + self.n_appended),
            # MERGE rewrites every file of the two days; appends add rows
            ("read_delta_changes", read_delta_changes(spark, table, from_version=0).count(),
             self.n_two + self.n_appended),
        ):
            if got != want:
                rnd.failures.append(f"lifecycle after {what}: {got} rows, expected {want}")


# ---------------------------------------------------------------------------
# weather_hourly: the paper's hourly ELT pipeline on a Delta bronze
# ---------------------------------------------------------------------------

#: Set-up batches: the first creates the bronze table at version 0; batch
#: times still fall over the next two as the JVM warms up.
WEATHER_WARM = 3
#: Timed batches: versions 3-7, a fixed window that ends before the first
#: Delta checkpoint (every 10th commit). Traced runs go on to version 10
#: to time the checkpoint batch.
WINDOW_BATCHES = 5
CHECKPOINT_EVERY = 10
_WEATHER_STAGES = ("transform_and_store", "load_warehouse", "run_models", "mart_collect")


def _parse_hour(s: str):
    try:
        return dt.datetime.strptime(s, "%Y-%m-%dT%H:%M")
    except ValueError:
        return None


def _expected_marts(payloads: list[str]) -> list[list[tuple]]:
    """The weather_daily mart after each batch, computed in plain Python
    from a simulated bronze: each batch replaces exactly the day
    partitions it carries (malformed timestamps form the NULL day, which
    the warehouse load filters out)."""
    bronze: dict = {}
    out = []
    for raw in payloads:
        h = json.loads(raw)["hourly"]
        rows: dict = {}
        for t, temp, rh in zip(h["time"], h["temperature_2m"], h["relative_humidity_2m"]):
            ts = _parse_hour(t)
            rows.setdefault(ts.date() if ts else None, []).append((temp, rh))
        bronze.update(rows)
        mart = []
        for day in sorted(d for d in bronze if d is not None):
            temps = [r[0] for r in bronze[day]]
            rhs = [r[1] for r in bronze[day]]
            mart.append((day, sum(temps) / len(temps), max(temps), min(temps),
                         sum(rhs) / len(rhs)))
        out.append(mart)
    return out


def _mart_matches(got: list, want: list[tuple]) -> bool:
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if g[0] != w[0] or g[2] != w[2] or g[3] != w[3]:
            return False
        if not (math.isclose(g[1], w[1], abs_tol=1e-9) and math.isclose(g[4], w[4], abs_tol=1e-9)):
            return False
    return True


def weather_hourly(ctx: Context) -> Outcome:
    from portfolio_data_pipelines_spark.config import PipelineConfig
    from portfolio_data_pipelines_spark.runner import WeatherPipeline

    tr = ctx.tracer
    payloads = gen.weather_payloads(ctx.seed, CHECKPOINT_EVERY + 1)
    lake = os.path.join(ctx.work, "lake")
    pipe = WeatherPipeline(ctx.spark, PipelineConfig(lake_format="delta", lake_root=lake))
    table = os.path.join(lake, "weather")
    marts: list[list] = []
    batch_spans: list[Span] = []

    def batch(raw: str) -> None:
        with tr.span("batch") as sp:
            with tr.span("transform_and_store"):
                manifest = pipe.transform_and_store(raw)
            with tr.span("load_warehouse"):
                pipe.load_warehouse(manifest)
            with tr.span("run_models"):
                built = pipe.run_models()
            with tr.span("mart_collect"):
                marts.append([tuple(r) for r in built["marts_weather_daily"].collect()])
        batch_spans.append(sp)

    ctx.note("inputs ready")
    for raw in payloads[:WEATHER_WARM]:
        batch(raw)
    ctx.start_timing()
    t0, o0 = time.perf_counter(), tr.overhead_s
    for raw in payloads[WEATHER_WARM:WEATHER_WARM + WINDOW_BATCHES]:
        batch(raw)
    cycles = [time.perf_counter() - t0]
    window_trace_s = tr.overhead_s - o0
    calls = [b.wall_s for b in batch_spans[WEATHER_WARM:]]
    ctx.note("timed window done")
    # Traced runs go on past the window: to the checkpoint batch, then the
    # lake's maintenance round. The window itself is the same work traced
    # and untraced; untraced runs skip the rest to stay inside their time
    # budget.
    rnd = None
    if tr.ledger:
        for raw in payloads[WEATHER_WARM + WINDOW_BATCHES:]:
            batch(raw)
        lifecycle = Lifecycle(ctx)
        rnd = lifecycle.run()
        lifecycle.verify(rnd)
    n = len(marts)

    want = _expected_marts(payloads[:n])
    bad = [i for i, (g, w) in enumerate(zip(marts, want)) if not _mart_matches(g, w)]
    failures = [f"weather_daily mart after batch {i}" for i in bad]
    # a Delta checkpoint is due at every version divisible by CHECKPOINT_EVERY
    due = [v for v in range(1, n) if v % CHECKPOINT_EVERY == 0]
    failures += [f"no Delta checkpoint at version {v}" for v in due if not os.path.exists(
        os.path.join(table, "_delta_log", f"{v:020d}.checkpoint.parquet"))]
    attempted = len(calls)
    failed = sum(1 for i in bad if WEATHER_WARM <= i < WEATHER_WARM + WINDOW_BATCHES)
    named = {"batch_p50_s": (pct(calls, 50), "s"),
             "batches_per_min": (60.0 * len(calls) / cycles[0], "1/min")}
    if rnd:
        failures += rnd.failures
        attempted += len(LIFECYCLE_STEPS)
        failed += len(LIFECYCLE_STEPS) if rnd.failures else 0
        write_amp = rnd.io["bytes_written"] / rnd.io["live_bytes"]
        named.update(lifecycle_s=(rnd.span.wall_s, "s"), write_amp=(write_amp, "ratio"))
    if failures and not failed:  # not attributable to one call
        failed = attempted
    out = Outcome(
        calls=calls, cycles=cycles, call_p50_s=pct(calls, 50), call_p75_s=pct(calls, 75),
        attempted=attempted, failed=failed, failures=failures, named=named,
        window_trace_s=window_trace_s,
    )
    if rnd:
        timed = batch_spans[WEATHER_WARM:WEATHER_WARM + WINDOW_BATCHES]
        layers = {}
        for stage in _WEATHER_STAGES:
            layers[f"runner.{stage}_s"] = _median(
                s.wall_s for b in timed for s in tr.children(b) if s.name == stage)
        layers["runner.jobs_per_batch"] = _median(_stat(b, "jobs") for b in timed)
        layers["runner.outside_jobs_s"] = _median(b.outside_jobs_s for b in timed)
        layers["runner.checkpoint_batch_s"] = _median(batch_spans[v].wall_s for v in due)
        layers["runner.checkpoint_batch.jobs"] = _median(_stat(batch_spans[v], "jobs") for v in due)
        for metric, sp in zip(LIFECYCLE_STEPS, tr.children(rnd.span)):
            layers[f"{metric}_s"] = sp.wall_s
            layers[f"{metric}.jobs"] = _stat(sp, "jobs")
        layers["delta_log.bytes_written_mb"] = rnd.io["bytes_written"] / 1e6
        layers["delta_log.files_added"] = rnd.io["files_added"]
        layers["delta_log.files_removed"] = rnd.io["files_removed"]
        layers["delta_log.write_amp"] = write_amp
        layers["delta_scan.live_files_before_optimize"] = rnd.live_files_before_optimize
        layers["delta_scan.live_files_after_optimize"] = rnd.live_files_after_optimize
        out.layers = layers
    return out


# ---------------------------------------------------------------------------
# analytics: read-only declared queries over seeded star-schema tables
# ---------------------------------------------------------------------------

ANALYTICS_SF = 0.01
#: One declared read-only query per family. Where a family has several,
#: the choice favours the shapes the ROADMAP names — the small
#: job-latency-bound queries (market_share_q8, bm25_topk_docs,
#: packed_sequences) and the compute-heavy dedup and similarity operators
#: (ngram_jaccard_dups_capped rides the dedup family's shared-index plan
#: cache) — among those whose DuckDB oracle runs in well under a second
#: and whose first (cold) run is short.
ANALYTICS_QUERIES = (
    "daily_events_mart",  # relational
    "market_share_q8",  # tpch
    "rolling_7d_user_value",  # temporal
    "stats_price_qty_corr",  # stats
    "ann_ivf_topk",  # similarity
    "bm25_topk_docs",  # text
    "ngram_jaccard_dups_capped",  # dedup
    "multimodal_feature_extract",  # multimodal
    "streaming_daily_mart",  # streaming_live
    "packed_sequences",  # pipeline
)
ANALYTICS_MAX_PASSES = 8


def _canon_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    return str(v)


def _canon_rows(columns: list[str], rows) -> list[tuple]:
    """Rows as tuples of canonical cells, columns by name, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_canon_cell(r[i]) for i in order) for r in rows)


def _digest(canon: list[tuple]) -> str:
    h = hashlib.sha256()
    for row in canon:
        h.update(("\x1f".join(row) + "\x1e").encode())
    return f"{len(canon)} rows, {h.hexdigest()[:16]}"


def _close(a: str, b: str) -> bool:
    """Cells equal, or both floats equal to 1e-9 relative."""
    if a == b:
        return True
    try:
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-12)
    except ValueError:
        return False


def _near(got: list[tuple], want: list[tuple]) -> bool:
    return len(got) == len(want) and all(
        len(g) == len(w) and all(_close(x, y) for x, y in zip(g, w))
        for g, w in zip(got, want))


def _drop_checkpointed_blocks(spark) -> int:
    """Unpersist locally-checkpointed RDD blocks left by a finished query
    (bench.py's ``drop_leaked_blocks``); returns the bytes dropped. The
    dedup family's persisted shared indexes are not checkpoints and stay."""
    sizes = {int(i.id()): int(i.memSize()) + int(i.diskSize())
             for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}
    dropped = 0
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        r = jrdd.rdd()
        if r.isLocallyCheckpointed():
            dropped += sizes.get(int(r.id()), 0)
            r.unpersist(False)
    return dropped


def analytics(ctx: Context) -> Outcome:
    import duckdb

    from portfolio_data_pipelines_spark.queries import REGISTRY, _load_all

    _load_all()
    spark, tr = ctx.spark, ctx.tracer
    data = os.path.join(ctx.work, "data")
    gen.write_tables(data, ctx.seed, ANALYTICS_SF)
    specs = {n: REGISTRY[n] for n in ANALYTICS_QUERIES}
    ctx.note("inputs ready")

    # set-up: one pass, every result collected for the check
    results, cold = {}, []
    for name, spec in specs.items():
        q0 = time.perf_counter()
        df = spec.fn(spark, data)
        results[name] = (sorted(df.columns), _canon_rows(df.columns, df.collect()))
        cold.append(f"{name} {time.perf_counter() - q0:.2f}s")
        _drop_checkpointed_blocks(spark)
    ctx.note("first pass: " + ", ".join(cold))

    ctx.start_timing()
    spans: dict[str, list[Span]] = {n: [] for n in specs}
    samples: dict[str, list[float]] = {n: [] for n in specs}
    cycles, dropped_mb = [], []
    t0, o0 = time.perf_counter(), tr.overhead_s
    while True:
        p0 = time.perf_counter()
        dropped = 0
        with tr.span("pass"):
            for name, spec in specs.items():
                with tr.span(name) as sp:
                    _noop(spec.fn(spark, data))
                samples[name].append(sp.wall_s)
                spans[name].append(sp)
                dropped += _drop_checkpointed_blocks(spark)
        cycles.append(time.perf_counter() - p0)
        dropped_mb.append(dropped / 1e6)
        if time.perf_counter() - t0 >= ctx.seconds or len(cycles) == ANALYTICS_MAX_PASSES:
            break
    window_trace_s = tr.overhead_s - o0
    ctx.note("timed window done")

    # output check: the warm-up results against the DuckDB oracle SQL, as
    # an exact value digest; a result that differs from its oracle only in
    # the last float digits passes, and is named
    failures, inexact = [], []
    con = duckdb.connect()
    try:
        for t in gen.TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                    f"'{os.path.join(data, t)}.parquet')")
        for name, spec in specs.items():
            rel = con.sql(spec.oracle)
            want = (sorted(rel.columns), _canon_rows(rel.columns, rel.fetchall()))
            cols, got = results[name]
            if cols == want[0] and _digest(got) == _digest(want[1]):
                continue
            if cols == want[0] and _near(got, want[1]):
                inexact.append(name)
            else:
                failures.append(f"{name}: got {cols} {_digest(got)}, "
                                f"oracle {want[0]} {_digest(want[1])}")
    finally:
        con.close()
    if inexact:
        ctx.note("matches its oracle only to 1e-9 relative: " + ", ".join(inexact))

    medians = {n: _median(v) for n, v in samples.items()}
    calls = [x for v in samples.values() for x in v]
    bad = {f.split(":")[0] for f in failures}
    out = Outcome(
        calls=calls, cycles=cycles,
        call_p50_s=pct(list(medians.values()), 50),
        call_p75_s=pct(list(medians.values()), 75),
        attempted=len(calls), failed=sum(len(samples[n]) for n in bad),
        failures=failures, window_trace_s=window_trace_s,
        named={"pass_s": (_median(cycles), "s"),
               "query_p50_s": (pct(list(medians.values()), 50), "s"),
               "query_p75_s": (pct(list(medians.values()), 75), "s")},
    )
    if tr.ledger:
        layers = {}
        for name, spec in specs.items():
            fam = spec.fn.__module__.rsplit(".", 1)[-1]
            layers[f"queries.{fam}.s"] = medians[name]
            layers[f"queries.{fam}.jobs"] = _median(_stat(s, "jobs") for s in spans[name])
            layers[f"queries.{fam}.outside_jobs_s"] = _median(
                s.outside_jobs_s for s in spans[name])
            layers[f"queries.{fam}.executor_cpu_s"] = _median(
                _stat(s, "executor_cpu_s") for s in spans[name])
            layers[f"queries.{fam}.shuffle_mb"] = _median(
                _stat(s, "shuffle_bytes") / 1e6 for s in spans[name])
        layers["queries.checkpoint_mb_dropped"] = _median(dropped_mb)
        out.layers = layers
    return out


WORKLOADS = {
    "weather_hourly": weather_hourly,
    "analytics": analytics,
}
