"""Measure DELETE strategies at scale: deletion vectors vs copy-on-write.

Twin tables through the same day-partitioned history take the SAME
selective delete (~1% of rows, spread across every file — the GDPR-
erasure shape); one uses ``delete_where_dv`` (write a roaring bitmap
per touched file, re-add the same paths), the other ``delete_where``
(rewrite every touched file without the matching rows). Measured:

- delete wall-clock and BYTES WRITTEN by the commit (the cost that
  scales with table size for copy-on-write and with deleted-row count
  for DVs);
- post-delete full-table read on each (the DV anti-join's overhead vs
  the clean rewrite);
- row parity between the two results (and vs the expected predicate).

Run: PYTHONPATH=/root/repo python tools/dv_scale_harness.py
     [--base /root/testdata/sf0.01] [--cpus 8]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

import portfolio_data_pipelines_spark.operators.delta_log as dl  # noqa: E402
from portfolio_data_pipelines_spark.operators.delta_dv import (  # noqa: E402
    delete_where_dv,
)
from portfolio_data_pipelines_spark.operators.delta_scan import read_delta  # noqa: E402
from portfolio_data_pipelines_spark.session import get_spark  # noqa: E402
from portfolio_data_pipelines_spark.sources.parquet import scan_table  # noqa: E402


def log(msg):
    print(f"[dv-scale] {msg}", file=sys.stderr, flush=True)


def _build(spark, base_events, path):
    """One commit per day — the day-partitioned history shape."""
    days = [r["day"] for r in base_events.select("day").distinct().collect()]
    for d in sorted(days):
        dl.write_delta(
            spark,
            base_events.filter(F.col("day") == d),
            path,
            partition_col="day",
        )
    return dl._replay_log(spark, path, None)


def _commit_bytes(path: str, version: int) -> dict:
    """Bytes the commit caused to be written: new data files (add
    actions whose path was not re-added in place) + DV .bin files."""
    with open(f"{path}/_delta_log/{version:020d}.json") as f:
        actions = [json.loads(l) for l in f.read().splitlines() if l.strip()]
    removed = {
        a["remove"]["path"] for a in actions if "remove" in a
    }
    data_bytes = sum(
        int(a["add"]["size"])
        for a in actions
        if "add" in a and a["add"]["path"] not in removed
    )
    dv_bytes = sum(
        int(a["add"]["deletionVector"]["sizeInBytes"])
        for a in actions
        if "add" in a and a["add"].get("deletionVector")
    )
    return {"data_file_bytes": data_bytes, "dv_bytes": dv_bytes}


def measure_dv_vs_cow(spark, base_events, predicate="event_id % 97 = 0"):
    root = tempfile.mkdtemp(prefix="dv_scale_")
    out = {}
    counts = {}
    for name, fn in (("dv", delete_where_dv), ("cow", dl.delete_where)):
        p = f"{root}/{name}"
        st = _build(spark, base_events, p)
        out.setdefault("table_files", len(st.adds))
        t0 = time.perf_counter()
        v = fn(spark, p, predicate)
        out[f"{name}_delete_s"] = round(time.perf_counter() - t0, 3)
        out[f"{name}_commit_bytes"] = _commit_bytes(p, v)
        t0 = time.perf_counter()
        counts[name] = read_delta(spark, p).count()
        out[f"{name}_read_s"] = round(time.perf_counter() - t0, 3)
        # warm second read (JVM/code paths warmed)
        t0 = time.perf_counter()
        read_delta(spark, p).count()
        out[f"{name}_read_warm_s"] = round(time.perf_counter() - t0, 3)
    expect = base_events.filter(f"not ({predicate})").count()
    out["rows_parity"] = (
        counts["dv"] == counts["cow"] == expect
    )
    out["rows_after_delete"] = counts["dv"]
    import shutil

    shutil.rmtree(root)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", default="/root/testdata/sf0.01")
    ap.add_argument("--cpus", type=int, default=8)
    args = ap.parse_args()
    spark = get_spark(
        app_name="dv-scale", master=f"local[{args.cpus}]",
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
    log(f"base rows: {base.count()}")
    out = measure_dv_vs_cow(spark, base)
    cb_dv = out["dv_commit_bytes"]
    cb_cow = out["cow_commit_bytes"]
    out["bytes_ratio_cow_over_dv"] = round(
        cb_cow["data_file_bytes"]
        / max(1, cb_dv["data_file_bytes"] + cb_dv["dv_bytes"]),
        1,
    )
    print(json.dumps(out))  # one line: scripts take stdout's last line


if __name__ == "__main__":
    main()
