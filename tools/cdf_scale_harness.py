"""CDF / APPLY CHANGES scale-sensitivity harness: does the row-level
change feed's cost track the CHANGES, not the TABLE?

Setup: a date-partitioned Delta events table at 1× and N× history
depth (N× = N times as many days, each its own commit — the shape of a
long-lived table), then ONE day-sized MERGE against each. Measured:

- files the MERGE's discovery pass scans (via the stats-pruning
  file-list — should stay ~constant while table files grow N×);
- warm wall-clock of the MERGE, of ``read_delta_cdf`` over ONLY the
  merge commit, and of ``apply_changes_delta`` folding that commit's
  changes into a same-shaped replica;
- rows the CDF emits (must equal the merge's net changes, both scales).

Contract: all three timings and the scan counts grow ~O(changes) — a
table 10× deeper must NOT make a one-day merge or its change feed 10×
slower. (The initial full-history CDF is O(table) by definition and is
reported separately for honesty.)

Writes ONE JSON line to stdout; progress to stderr.

    python tools/cdf_scale_harness.py [--base /root/testdata/sf0.01]
        [--replicas 10]

`tests/test_cdf_scale.py` runs this at sf0.001 as the slow-marked
regression; an sf0.01 run is recorded in SCALE.md.
"""

from __future__ import annotations

import argparse
import json
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

import portfolio_data_pipelines_spark.operators.delta_log as dl  # noqa: E402
import portfolio_data_pipelines_spark.operators.delta_scan as ds  # noqa: E402
from portfolio_data_pipelines_spark.operators.delta_cdf import (  # noqa: E402
    enable_change_data_feed,
    read_delta_cdf,
)
from portfolio_data_pipelines_spark.operators.delta_log import write_delta  # noqa: E402
from portfolio_data_pipelines_spark.operators.delta_merge import (  # noqa: E402
    apply_changes_delta,
    merge_delta,
)
from portfolio_data_pipelines_spark.session import get_spark  # noqa: E402
from portfolio_data_pipelines_spark.sources.parquet import scan_table  # noqa: E402


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def build_table(spark, base_events, path, replicas):
    """One commit per (replica, day): replica r shifts days by r months
    worth of days and event_ids into a disjoint band — N× history depth
    with day-partitioned commits, the long-lived-table shape."""
    days = [r["day"] for r in base_events.select("day").distinct().collect()]
    n_days = len(days)
    for r in range(replicas):
        shifted = base_events.select(
            (F.col("event_id") + F.lit(r * 100_000_000)).alias("event_id"),
            F.date_format(
                F.date_add(F.to_date("day"), r * n_days), "yyyy-MM-dd"
            ).alias("day"),
            "value",
        )
        for d in [
            row["day"] for row in shifted.select("day").distinct().collect()
        ]:
            write_delta(
                spark,
                shifted.filter(F.col("day") == d),
                path,
                partition_col="day",
            )
    return dl._replay_log(spark, path, None)


def measure(spark, base_events, replicas):
    root = tempfile.mkdtemp(prefix=f"cdf_scale_{replicas}x_")
    path = f"{root}/t"
    st = build_table(spark, base_events, path, replicas)
    n_files = len(st.adds)
    tip = st.version
    # the day-sized merge: double one original day's values + new ids
    day0 = base_events.select("day").orderBy("day").first()["day"]
    src = base_events.filter(F.col("day") == day0).select(
        "event_id", "day", (F.col("value") * 2).alias("value")
    )
    scanned = []
    orig = ds._read_adds

    def spy(spark_, path_, adds, meta, with_file=False, **kw):
        if with_file:  # the discovery pass
            scanned.append(len(adds))
        return orig(spark_, path_, adds, meta, with_file, **kw)

    ds._read_adds = spy
    try:
        t0 = time.perf_counter()
        v_merge = merge_delta(spark, path, src, key_cols=["event_id"])
        t_merge = time.perf_counter() - t0
    finally:
        ds._read_adds = orig
    t0 = time.perf_counter()
    changes = read_delta_cdf(
        spark, path, from_version=v_merge - 1, key_cols=["event_id"],
        to_version=v_merge,
    ).localCheckpoint(eager=True)
    n_changes = changes.count()
    t_cdf = time.perf_counter() - t0
    # replica: same table shape, fold the merge commit's changes in
    rep = f"{root}/rep"
    build_table(spark, base_events, rep, replicas)
    t0 = time.perf_counter()
    apply_changes_delta(spark, rep, changes, key_cols=["event_id"])
    t_apply = time.perf_counter() - t0
    # full-history CDF is O(table) by definition — reported for honesty
    t0 = time.perf_counter()
    n_full = read_delta_cdf(spark, path, from_version=-1, key_cols=["event_id"]).count()
    t_full = time.perf_counter() - t0
    return {
        "table_files": n_files,
        "commits": tip + 1,
        "discovery_files_scanned": scanned[0] if scanned else 0,
        "merge_s": round(t_merge, 3),
        "cdf_one_commit_s": round(t_cdf, 3),
        "cdf_rows": n_changes,
        "apply_s": round(t_apply, 3),
        "cdf_full_history_s": round(t_full, 3),
        "cdf_full_rows": n_full,
    }


def measure_cdc_vs_recon(spark, base_events, n_merges=4):
    """Twin tables through the SAME rewrite-heavy history (one
    day-merge per day, every row of the day updated): table A reads
    its change window by keyed reconstruction, table B carries
    write-side cdc files (enable_change_data_feed before the merges).
    Measured: warm ``read_delta_cdf`` over the whole merge window on
    each — B needs no key shuffle and reads only the change files —
    then the same read after the files the merges tombstoned are
    DELETED (an aged vacuum): B still answers, A raises the retention
    error. Rows must match exactly."""
    import os
    import shutil

    root = tempfile.mkdtemp(prefix="cdf_cdc_recon_")
    days = sorted(
        r["day"] for r in base_events.select("day").distinct().collect()
    )[:n_merges]
    paths = {}
    for name, enable in (("recon", False), ("cdc", True)):
        p = f"{root}/{name}"
        build_table(spark, base_events, p, 1)
        if enable:
            enable_change_data_feed(spark, p)
        v0 = dl._replay_log(spark, p, None).version
        for i, d in enumerate(days):
            src = base_events.filter(F.col("day") == d).select(
                "event_id", "day",
                (F.col("value") * (i + 2)).alias("value"),
            )
            merge_delta(spark, p, src, key_cols=["event_id"])
        paths[name] = (p, v0)
    out = {}
    for name, (p, v0) in paths.items():
        keys = ["event_id"] if name == "recon" else None  # cdc: keyless
        t0 = time.perf_counter()
        n = read_delta_cdf(spark, p, from_version=v0, key_cols=keys).count()
        out[f"{name}_window_s"] = round(time.perf_counter() - t0, 3)
        out[f"{name}_rows"] = n
    # aged-vacuum simulation: remove every data file the merge commits
    # tombstoned (non-live, outside _change_data)
    for name, (p, _v0) in paths.items():
        live = set(dl._replay_log(spark, p, None).adds)
        for walk_root, _dirs, files in os.walk(p):
            if "_delta_log" in walk_root or "_change_data" in walk_root:
                continue
            for f in files:
                full = os.path.join(walk_root, f)
                rel = os.path.relpath(full, p)
                if f.endswith(".parquet") and rel not in live:
                    os.remove(full)
    p, v0 = paths["cdc"]
    t0 = time.perf_counter()
    out["cdc_after_cleanup_rows"] = read_delta_cdf(
        spark, p, from_version=v0
    ).count()
    out["cdc_after_cleanup_s"] = round(time.perf_counter() - t0, 3)
    p, v0 = paths["recon"]
    try:
        read_delta_cdf(spark, p, from_version=v0, key_cols=["event_id"]).count()
        out["recon_after_cleanup"] = "UNEXPECTEDLY SUCCEEDED"
    except Exception:
        out["recon_after_cleanup"] = "raises (window exceeds retention)"
    shutil.rmtree(root)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", default="/root/testdata/sf0.01")
    ap.add_argument("--replicas", type=int, default=10)
    ap.add_argument("--cpus", type=int, default=8)
    args = ap.parse_args()
    spark = get_spark(
        app_name="cdf-scale", master=f"local[{args.cpus}]",
        extra_conf={"spark.ui.enabled": "false",
                    "spark.sql.shuffle.partitions": str(args.cpus)},
    )
    spark.sparkContext.setLogLevel("ERROR")
    base = (
        scan_table(spark, args.base, "events")
        .select(
            "event_id",
            F.to_date("ts").cast("string").alias("day"),
            "value",
        )
        .cache()
    )
    base.count()
    out = {}
    for n in (1, args.replicas):
        log(f"building + measuring {n}x ...")
        out[f"{n}x"] = measure(spark, base, n)
    log("measuring write-side cdc vs reconstruction ...")
    out["cdc_vs_recon"] = measure_cdc_vs_recon(spark, base)
    one, many = out["1x"], out[f"{args.replicas}x"]
    out["growth"] = {
        "table_files": round(many["table_files"] / one["table_files"], 2),
        "discovery_files_scanned": round(
            many["discovery_files_scanned"]
            / max(1, one["discovery_files_scanned"]), 2
        ),
        "merge_s": round(many["merge_s"] / one["merge_s"], 2),
        "cdf_one_commit_s": round(
            many["cdf_one_commit_s"] / one["cdf_one_commit_s"], 2
        ),
        "apply_s": round(many["apply_s"] / one["apply_s"], 2),
    }
    print(json.dumps(out, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
