"""Structured Streaming surface (SURVEY §2.9 O2, §7 M5).

The reference's hourly cadence is an Airflow ``@hourly`` schedule driving
a batch delete-day-then-insert upsert (``weather_hourly_pipeline.py:40,
101-112``). The idiomatic Spark restatement is Structured Streaming: a
file source watching the landing zone, event-time windows with watermarks
for late hourly data, and the Delta bronze as the ``foreachBatch`` sink
(``operators/delta_log.delta_stream_sink``: its ``txn`` ledger skips a
replayed batch, so output is exactly-once across restarts) — one code
path for backfill (``Trigger.AvailableNow``) and steady-state
(processing-time trigger).

Scale notes:
- Windowed aggregations shuffle on (window, key); state is bounded by the
  watermark — without it, state grows without bound at 100 TB. Every
  aggregation here takes an explicit watermark delay.
- ``applyInPandasWithState`` keys state by group: state shuffles once per
  trigger on the grouping key; per-key state must stay small (two longs
  and a double here), never per-event history.
- File source at scale: maxFilesPerTrigger bounds batch size so one
  trigger never has to process an unbounded backlog in one shot.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING, Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..functions import davg
from ..schemas import STAR_SCHEMA

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd


def events_file_stream(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over the events table.

    Same timestamp handling as the batch scan (sources/parquet.py):
    when the fixture stores ``ts`` as TIMESTAMP(NANOS) — detected from
    the parquet footer — read it as an epoch-nanos long and convert to
    TimestampType, so batch and stream share one declared schema.
    """
    import glob as _glob

    from ..sources.parquet import _is_nanos_column

    schema = STAR_SCHEMA["events"]
    matches = sorted(_glob.glob(f"{sf_dir}/events*.parquet"))
    nanos = _is_nanos_column(matches[0] if matches else f"{sf_dir}/events.parquet", "ts")
    read_schema = (
        T.StructType(
            [
                T.StructField(f.name, T.LongType() if f.name == "ts" else f.dataType, f.nullable)
                for f in schema.fields
            ]
        )
        if nanos
        else schema
    )
    # The file source requires a directory. Two fixture shapes exist:
    # a single FILE named events.parquet beside the other tables (the
    # driver testdata), where a pathGlobFilter keeps sibling tables out
    # of the listing — and a DIRECTORY dataset events.parquet/ of
    # part-*.parquet files (every Spark-written table at scale), where
    # that same glob would match ZERO leaf files and silently stream
    # nothing; stream the directory itself instead.
    import os as _os

    reader = spark.readStream.schema(read_schema)
    if _os.path.isdir(f"{sf_dir}/events.parquet"):
        src_path = f"{sf_dir}/events.parquet"
    else:
        reader = reader.option("pathGlobFilter", "events*.parquet")
        src_path = sf_dir
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    df = reader.parquet(src_path)
    if nanos:
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.select(*[f.name for f in schema.fields])


def tumbling_daily_mart(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Streaming restatement of the reference's daily mart (A2): tumbling
    1-day event-time windows with a watermark bounding late-data state."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(
            davg("value").alias("avg_value"),
            F.max("value").alias("max_value"),
            F.min("value").alias("min_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(F.to_date("w.start").alias("date_utc"), "avg_value", "max_value", "min_value", "n_events")
    )


def user_session_windows(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 day"
) -> DataFrame:
    """Gap-based sessionization per user via the built-in session_window:
    a session closes after ``gap`` of silence; the watermark lets Spark
    finalize (and evict) sessions older than the delay."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


_TOTALS_OUT = "user_id bigint, n_events bigint, total_value double, last_ts timestamp"
_TOTALS_STATE = "n_events bigint, total_value double, last_ts_us bigint"


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: running
    per-user totals that survive across triggers — the shape of any
    accumulate-forever profile (fraud scores, usage meters).

    State per key is three scalars, so state-store size is O(distinct
    users), independent of event volume. Output mode: update (one row per
    user per trigger it appeared in).
    """
    import datetime as dt

    import pandas as pd  # noqa: F811

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        n, total, last_us = state.get if state.exists else (0, 0.0, 0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
            batch_max_us = int(pdf["ts"].astype("int64").max()) // 1000
            last_us = max(last_us, batch_max_us)
        state.update((n, total, last_us))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [total],
                "last_ts": [dt.datetime.utcfromtimestamp(last_us / 1_000_000)],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_TOTALS_OUT,
        stateStructType=_TOTALS_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def running_user_totals_tws(events: DataFrame) -> DataFrame:
    """:func:`running_user_totals` on Spark 4's ``transformWithState``
    API (``transformWithStateInPandas`` + a :class:`StatefulProcessor`
    with named ``ValueState``) — the successor to
    ``applyInPandasWithState``: typed state handles instead of one
    opaque tuple, per-state TTL support, timers, and RocksDB-backed
    stores at scale. Pinned equal to the classic form in tests so both
    spellings stay correct."""
    import datetime as dt

    import pandas as pd  # noqa: F811
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", _TOTALS_STATE)

        def handleInputRows(self, key, rows, timerValues):
            prev = self._totals.get() if self._totals.exists() else None
            n, total, last_us = prev if prev is not None else (0, 0.0, 0)
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
                batch_max_us = int(pdf["ts"].astype("int64").max()) // 1000
                last_us = max(last_us, batch_max_us)
            self._totals.update((n, total, last_us))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [total],
                    "last_ts": [
                        dt.datetime.utcfromtimestamp(last_us / 1_000_000)
                    ],
                }
            )

        def close(self) -> None:
            pass

    # transformWithState runs only on the RocksDB state store (the
    # scale-grade store: changelog checkpointing, bounded memory); the
    # classic HDFS-backed default crashes the TWS worker. Session-level
    # and runtime-settable, so flipping it here covers queries started
    # after this call without touching unrelated sessions' state config.
    events.sparkSession.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_RunningTotals(),
        outputStructType=_TOTALS_OUT,
        outputMode="Update",
        timeMode="None",
    )


def dedup_stream(
    events: DataFrame,
    key_cols: list[str] | None = None,
    watermark: str = "1 day",
    within_watermark: bool = True,
) -> DataFrame:
    """Streaming exact deduplication — the ingest-time guard an LLM data
    pipeline puts in front of the lake (at-least-once sources replay;
    duplicate documents must not reach training data twice).

    ``within_watermark=True`` uses ``dropDuplicatesWithinWatermark``:
    state per key is evicted once the watermark passes it, so the state
    store is bounded by (keys seen per watermark window), not by stream
    lifetime — the only viable form at 100 TB. Duplicates arriving
    later than the watermark delay are NOT caught (they are late data by
    definition); the batch dedup operators sweep those in the silver
    layer. ``within_watermark=False`` keeps keys forever (exact,
    unbounded state — only for short-lived or low-cardinality streams).
    """
    keys = key_cols or ["event_id"]
    wm = events.withWatermark("ts", watermark)
    if within_watermark:
        return wm.dropDuplicatesWithinWatermark(keys)
    return wm.dropDuplicates(keys)


def interval_join_attribution(
    events: DataFrame,
    left_type: str = "purchase",
    right_type: str = "click",
    max_delay: str = "1 hour",
    watermark: str = "1 day",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: attribute each ``left_type`` event to
    the same user's ``right_type`` events in the preceding ``max_delay``
    — the streaming form of click→purchase attribution (the batch as-of
    join in operators/temporal.py answers the last-touch variant).

    Both sides carry a watermark AND the join condition bounds event-time
    distance (``r.ts BETWEEN l.ts - max_delay AND l.ts``); together they
    let Spark evict buffered rows once the watermark passes the interval,
    so join state is O(events per watermark window per side), not
    O(stream lifetime) — the only viable stream-stream join at 100 TB.
    ``how='leftOuter'`` emits unmatched left rows (NULL right columns)
    after the watermark closes their interval.
    """
    left = (
        events.filter(F.col("event_type") == left_type)
        .select(
            F.col("event_id").alias("l_event_id"),
            F.col("user_id").alias("l_user_id"),
            F.col("ts").alias("l_ts"),
            F.col("value").alias("l_value"),
        )
        .withWatermark("l_ts", watermark)
    )
    right = (
        events.filter(F.col("event_type") == right_type)
        .select(
            F.col("event_id").alias("r_event_id"),
            F.col("user_id").alias("r_user_id"),
            F.col("ts").alias("r_ts"),
        )
        .withWatermark("r_ts", watermark)
    )
    cond = (
        (F.col("l_user_id") == F.col("r_user_id"))
        & (F.col("r_ts") >= F.expr(f"l_ts - INTERVAL {max_delay}"))
        & (F.col("r_ts") <= F.col("l_ts"))
    )
    return left.join(right, cond, how).select(
        "l_event_id", "l_user_id", "l_ts", "l_value", "r_event_id", "r_ts"
    )


def enrich_with_dimension(
    stream: DataFrame, dim: DataFrame, on: str | list, how: str = "left"
) -> DataFrame:
    """Stream-static enrichment join: a (small) dimension broadcast into
    every micro-batch — the standard lookup-enrichment shape.

    The static side is re-resolved per micro-batch, so a dimension view
    over a slowly-refreshed table picks up updates without restarting
    the query. Broadcast keeps the stream side shuffle-free: at scale a
    stream-static join must never shuffle the stream on the join key
    per batch (the dimension moves to the data, not the reverse). For
    dimensions too big to broadcast, pre-bucket both sides or go
    stream-stream with watermarks (interval_join_attribution).
    """
    return stream.join(F.broadcast(dim), on, how)

