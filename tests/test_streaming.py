"""Structured Streaming surface vs batch equivalents (SURVEY M5/O2).

Every streaming aggregation is checked against the same computation done
in batch over the same fixture — the stream (AvailableNow, memory sink)
must converge to exactly the batch answer.
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from portfolio_data_pipelines_spark.functions import davg
from portfolio_data_pipelines_spark.operators.delta_log import delta_stream_sink
from portfolio_data_pipelines_spark.operators.delta_scan import read_delta
from portfolio_data_pipelines_spark.sources.parquet import scan_table
from portfolio_data_pipelines_spark.streaming import (
    events_file_stream,
    running_user_totals,
    tumbling_daily_mart,
    user_session_windows,
)

SF = "/root/testdata/sf0.001"


def _run_to_memory(stream_df, mode: str):
    name = "t" + uuid.uuid4().hex[:12]
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return name


def _rows(spark, name):
    return sorted(tuple(map(str, r)) for r in spark.table(name).collect())


def test_stream_schema_matches_batch(spark):
    stream = events_file_stream(spark, SF)
    assert stream.isStreaming
    assert stream.schema == scan_table(spark, SF, "events").schema


def test_tumbling_daily_mart_equals_batch(spark):
    name = _run_to_memory(tumbling_daily_mart(events_file_stream(spark, SF)), "complete")
    batch = (
        scan_table(spark, SF, "events")
        .groupBy(F.to_date("ts").alias("date_utc"))
        .agg(
            davg("value").alias("avg_value"),
            F.max("value").alias("max_value"),
            F.min("value").alias("min_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    assert _rows(spark, name) == sorted(tuple(map(str, r)) for r in batch.collect())


def test_session_windows_equal_batch_session_window(spark):
    name = _run_to_memory(user_session_windows(events_file_stream(spark, SF)), "complete")
    batch = (
        scan_table(spark, SF, "events")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select("user_id", F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"), "n_events", "total_value")
    )
    assert _rows(spark, name) == sorted(tuple(map(str, r)) for r in batch.collect())


def test_running_user_totals_equal_batch_groupby(spark):
    name = _run_to_memory(running_user_totals(events_file_stream(spark, SF)), "update")
    # Single AvailableNow pass ⇒ the last update per user is the total.
    got = {
        r["user_id"]: (r["n_events"], round(r["total_value"], 6))
        for r in spark.table(name).collect()
    }
    batch = {
        r["user_id"]: (r["n"], round(r["tv"], 6))
        for r in scan_table(spark, SF, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("tv"))
        .collect()
    }
    assert got == batch


def test_running_totals_last_ts_is_user_max(spark):
    name = _run_to_memory(running_user_totals(events_file_stream(spark, SF)), "update")
    got = {r["user_id"]: r["last_ts"] for r in spark.table(name).collect()}
    batch = {
        r["user_id"]: r["m"]
        for r in scan_table(spark, SF, "events").groupBy("user_id").agg(F.max("ts").alias("m")).collect()
    }
    assert got == batch


def _stream_to_delta_bronze(spark, src: str, out: str, ckpt: str) -> None:
    """Run the events stream at ``src`` to completion into the Delta
    bronze at ``out``, date-partitioned, through the exactly-once sink."""
    q = (
        events_file_stream(spark, src)
        .withColumn("date", F.to_date("ts"))
        .writeStream.foreachBatch(
            delta_stream_sink(out, partition_col="date", app_id="events-bronze")
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)


def _rows_per_day(df, ts_col: str | None = None) -> dict[str, int]:
    day = F.to_date(ts_col) if ts_col else F.col("date")
    return {
        str(r["d"]): r["n"]
        for r in df.groupBy(day.alias("d")).agg(F.count("*").alias("n")).collect()
    }


def test_stream_to_bronze_is_idempotent(spark, tmp_path):
    out = str(tmp_path / "bronze")
    for i in range(2):  # second run replays from a fresh checkpoint
        _stream_to_delta_bronze(spark, SF, out, str(tmp_path / f"ckpt{i}"))
    written = read_delta(spark, out)
    src = scan_table(spark, SF, "events")
    assert written.count() == src.count()  # the txn ledger skipped the replay
    assert set(written.columns) == set(src.columns) | {"date"}


def test_stream_restart_replay_is_exactly_once(spark, tmp_path):
    """Kill-and-resume recovery: after a simulated crash between sink
    success and offset commit (offsets/0 present, commits/0 deleted),
    the restarted query REPLAYS batch 0 through the foreachBatch sink.
    The Delta sink's txn ledger skips the replayed batch id, so the
    final bronze is exactly-once, and a second same-day batch appends
    beside the first instead of replacing it."""
    import glob
    import os
    import shutil

    src = str(tmp_path / "landing")
    out = str(tmp_path / "bronze")
    ckpt = str(tmp_path / "ckpt")
    batch = scan_table(spark, SF, "events")
    batch.withColumn("ts", F.expr("unix_micros(ts) * 1000")).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    f = glob.glob(f"{src}/part-*.parquet")[0]
    os.rename(f, f"{src}/events-0.parquet")

    _stream_to_delta_bronze(spark, src, out, ckpt)
    src_per_day = _rows_per_day(batch, "ts")
    assert _rows_per_day(read_delta(spark, out)) == src_per_day

    # crash simulation: batch 0's sink output is on disk, its offset is
    # logged, but the commit marker is gone → restart must re-run it
    # (the sidecar .crc must go too, or LocalFS flags the rewrite as a
    # concurrent modification of the commit log)
    os.remove(os.path.join(ckpt, "commits", "0"))
    crc = os.path.join(ckpt, "commits", ".0.crc")
    if os.path.exists(crc):
        os.remove(crc)
    # and a second file (same days!) arrives before the restart
    shutil.copy(f"{src}/events-0.parquet", f"{src}/events-1.parquet")

    _stream_to_delta_bronze(spark, src, out, ckpt)

    # the replayed batch 0 did not duplicate, and batch 1's same-day
    # rows sit beside batch 0's
    assert _rows_per_day(read_delta(spark, out)) == {
        d: 2 * c for d, c in src_per_day.items()
    }


def test_dedup_stream_drops_replayed_duplicates(spark, tmp_path):
    """A replayed (duplicated) source file must contribute no extra rows:
    the streamed dedup output equals the batch-distinct answer."""
    from portfolio_data_pipelines_spark.streaming import dedup_stream

    src = str(tmp_path / "landing")
    batch = scan_table(spark, SF, "events")
    # Landing files carry ts as epoch-nanos long like the source fixture
    # (events_file_stream declares that read schema and converts).
    # Simulate at-least-once delivery: the same batch lands twice.
    batch.withColumn("ts", F.expr("unix_micros(ts) * 1000")).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    import glob
    import shutil

    f = glob.glob(f"{src}/part-*.parquet")[0]
    shutil.copy(f, f.replace("part-", "events-replay-part-"))
    import os

    os.rename(f, f.replace("part-", "events-part-"))

    stream = events_file_stream(spark, src)
    name = _run_to_memory(dedup_stream(stream, key_cols=["event_id"]), "append")
    got = spark.table(name)
    assert got.count() == batch.count()  # each event exactly once
    assert got.select("event_id").distinct().count() == batch.count()


def test_interval_join_equals_batch_interval_join(spark):
    from portfolio_data_pipelines_spark.streaming import interval_join_attribution

    name = _run_to_memory(
        interval_join_attribution(events_file_stream(spark, SF)), "append"
    )
    ev = scan_table(spark, SF, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("l_event_id"),
        F.col("user_id").alias("l_user_id"),
        F.col("ts").alias("l_ts"),
        F.col("value").alias("l_value"),
    )
    right = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("r_event_id"),
        F.col("user_id").alias("r_user_id"),
        F.col("ts").alias("r_ts"),
    )
    batch = left.join(
        right,
        (F.col("l_user_id") == F.col("r_user_id"))
        & (F.col("r_ts") >= F.expr("l_ts - INTERVAL 1 hour"))
        & (F.col("r_ts") <= F.col("l_ts")),
    ).select("l_event_id", "l_user_id", "l_ts", "l_value", "r_event_id", "r_ts")
    assert _rows(spark, name) == sorted(tuple(map(str, r)) for r in batch.collect())


def test_interval_join_left_outer_keeps_unmatched(spark):
    from portfolio_data_pipelines_spark.streaming import interval_join_attribution

    inner = _run_to_memory(
        interval_join_attribution(events_file_stream(spark, SF)), "append"
    )
    outer = _run_to_memory(
        interval_join_attribution(events_file_stream(spark, SF), how="leftOuter"),
        "append",
    )
    inner_df, outer_df = spark.table(inner), spark.table(outer)
    ev = scan_table(spark, SF, "events")
    matched_ids = {r[0] for r in inner_df.select("l_event_id").distinct().collect()}
    unmatched = outer_df.filter(F.col("r_event_id").isNull())
    unmatched_ids = {r[0] for r in unmatched.select("l_event_id").collect()}
    batch_unmatched = {
        r[0]
        for r in ev.filter(F.col("event_type") == "purchase")
        .select("event_id", "ts")
        .collect()
        if r[0] not in matched_ids
    }
    # Streaming left-outer emits an unmatched row only once the watermark
    # closes its interval; purchases in the stream's final
    # (watermark + max_delay) tail stay buffered when AvailableNow stops.
    assert unmatched_ids <= batch_unmatched
    max_ts = ev.agg(F.max("ts")).first()[0]
    closable = {
        r["event_id"]
        for r in ev.filter(F.col("event_type") == "purchase").collect()
        if r["event_id"] in batch_unmatched
        and (max_ts - r["ts"]).total_seconds() > 25 * 3600  # 1 day wm + 1 h delay
    }
    assert closable <= unmatched_ids
    assert unmatched_ids  # the fixture must actually exercise the path
    # inner rows are exactly the matched subset of outer rows
    assert outer_df.count() == inner_df.count() + unmatched.count()


def test_stream_static_enrichment_equals_batch_join(spark):
    """Stream-static broadcast enrichment: the streamed left join against
    a static dimension equals the batch join, and rows without a match
    survive with nulls (left semantics)."""
    from portfolio_data_pipelines_spark.streaming import enrich_with_dimension

    dim = spark.createDataFrame(
        [("click", "engagement"), ("purchase", "revenue"), ("view", "engagement")],
        "event_type string, category string",
    )
    stream = enrich_with_dimension(
        events_file_stream(spark, SF).select("event_id", "event_type", "value"),
        dim,
        on="event_type",
    )
    name = _run_to_memory(stream, "append")
    got = _rows(spark, name)

    batch = (
        scan_table(spark, SF, "events")
        .select("event_id", "event_type", "value")
        .join(F.broadcast(dim), "event_type", "left")
    )
    want = sorted(tuple(map(str, r)) for r in batch.collect())
    assert got == want
    # Unmatched types must be present (left join, not inner).
    assert any(r[-1] == "None" for r in got) or all(
        t in ("click", "purchase", "view")
        for t in {r[0] for r in got}
    )


def test_transform_with_state_totals_equal_classic_form(spark):
    """Spark 4's transformWithState spelling of the running-totals
    operator (named ValueState in a StatefulProcessor) must produce
    exactly the classic applyInPandasWithState results — and match the
    batch groupBy ground truth.

    Environment gate: TWS's streaming Python runner imports
    google.protobuf at init (the driver-side processor channel);
    sandboxes without the protobuf wheel cannot start the query at all
    (probed r14: ImportError inside StreamingPythonRunner), so the test
    skips there rather than fake a pass — same stance as the
    no-network HTTP source."""
    pytest.importorskip("google.protobuf")
    from portfolio_data_pipelines_spark.streaming import (
        running_user_totals_tws,
    )

    name = _run_to_memory(
        running_user_totals_tws(events_file_stream(spark, SF)), "update"
    )
    got = {
        r["user_id"]: (r["n_events"], round(r["total_value"], 6), r["last_ts"])
        for r in spark.table(name).collect()
    }
    batch = {
        r["user_id"]: (r["n"], round(r["tv"], 6), r["m"])
        for r in scan_table(spark, SF, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("tv"),
            F.max("ts").alias("m"),
        )
        .collect()
    }
    assert got == batch
