"""Measure row tracking's read and write overhead at scale.

Twin Delta tables from the same day-partitioned events slice — one with
row tracking ON (creation-time), one without. Measured:

- full-read aggregate wall-clock, plain vs ``row_ids=True`` (the
  broadcast-join surcharge for surfacing ``_row_id``);
- an identical MERGE into each (RT preservation adds one key-join
  against the touched files' ids plus the materialized columns in the
  rewrite);
- row parity and id-stability checks so a fast-but-wrong result cannot
  masquerade as a win.

Run: PYTHONPATH=/root/repo python tools/rt_scale_harness.py
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

from portfolio_data_pipelines_spark.operators.delta_log import write_delta  # noqa: E402
from portfolio_data_pipelines_spark.operators.delta_merge import (  # noqa: E402
    merge_delta,
)
from portfolio_data_pipelines_spark.operators.delta_scan import read_delta  # noqa: E402
from portfolio_data_pipelines_spark.session import get_spark  # noqa: E402
from portfolio_data_pipelines_spark.sources.parquet import scan_table  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", default="/root/testdata/sf0.01")
    ap.add_argument("--cpus", type=int, default=8)
    args = ap.parse_args()
    spark = get_spark(
        master=f"local[{args.cpus}]",
        extra_conf={
            "spark.sql.shuffle.partitions": str(args.cpus),
            "spark.ui.enabled": "false",
        },
    )
    events = (
        scan_table(spark, args.base, "events")
        .select(
            "event_id",
            F.to_date("ts").cast("string").alias("day"),
            "value",
        )
    )
    n = events.count()
    root = tempfile.mkdtemp(prefix="rt_scale_")
    plain, rt = f"{root}/plain", f"{root}/rt"
    write_delta(spark, events, plain, partition_col="day")
    write_delta(
        spark, events, rt, partition_col="day",
        configuration={"delta.enableRowTracking": "true"},
    )

    def t(fn):
        t0 = time.perf_counter()
        out = fn()
        return out, round(time.perf_counter() - t0, 4)

    # warm both, then time the second pass (plan + page cache warm)
    for _ in range(2):
        _, read_plain = t(lambda: read_delta(spark, plain).agg(
            F.count(F.lit(1)), F.sum("value")).first())
        _, read_rt = t(lambda: read_delta(spark, rt, row_ids=True).agg(
            F.count(F.lit(1)), F.sum("value"),
            F.countDistinct("_row_id")).first())
    ids_before = dict(
        read_delta(spark, rt, row_ids=True)
        .select("event_id", "_row_id")
        .rdd.map(lambda r: (r[0], r[1]))
        .collect()
    )
    assert len(set(ids_before.values())) == n, "row ids not unique"

    # identical selective merge into both (~one day's keys updated +
    # 1% new keys)
    day = events.select(F.min("day")).first()[0]
    src = events.filter(F.col("day") == day).select(
        "event_id", "day", (F.col("value") + 1.0).alias("value")
    ).unionByName(
        events.filter(F.col("day") == day)
        .filter(F.col("event_id") % 100 == 0)
        .select(
            (F.col("event_id") + 10**9).alias("event_id"),
            "day",
            "value",
        )
    )
    _, merge_plain = t(lambda: merge_delta(
        spark, plain, src, key_cols=["event_id"]))
    _, merge_rt = t(lambda: merge_delta(
        spark, rt, src, key_cols=["event_id"]))

    after = dict(
        read_delta(spark, rt, row_ids=True)
        .select("event_id", "_row_id")
        .rdd.map(lambda r: (r[0], r[1]))
        .collect()
    )
    moved = sum(
        1 for k, v in ids_before.items() if k in after and after[k] != v
    )
    assert moved == 0, f"{moved} row ids moved through the merge"
    p_rows = read_delta(spark, plain).count()
    r_rows = read_delta(spark, rt).count()
    assert p_rows == r_rows, (p_rows, r_rows)

    print(json.dumps({
        "rows": n,
        "read_plain_s": read_plain,
        "read_row_ids_s": read_rt,
        "read_overhead_x": round(read_rt / read_plain, 2),
        "merge_plain_s": merge_plain,
        "merge_rt_s": merge_rt,
        "merge_overhead_x": round(merge_rt / merge_plain, 2),
        "ids_stable_through_merge": True,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
