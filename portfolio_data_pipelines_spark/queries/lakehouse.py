"""Lakehouse-path queries under the ORACLE harness (SURVEY §2.2/K4).

The Delta log's write → skip-read path was previously verified only by
its own test suite; this registers it with the same DuckDB value-hash
gate every relational operator faces: the query lands the events table
in a Delta table (partitioned, stats-bearing), reads it back through
file-level data skipping, and aggregates — any wire-format, partition-
restore, stats, or pruning bug surfaces as a hash mismatch against
plain SQL over the original parquet.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import dsum, dsum_sql
from ..sources.parquet import scan_table
from . import extra_query, query

#: Fixed window inside the generator's 2024-01-01..30 span, so the
#: oracle literal is scale-independent.
_LO, _HI = "2024-01-10", "2024-01-14"

#: Queries that BUILD (and mutate) their own Delta table at run time.
#: Their physical-plan shape depends on how many files each commit
#: produced in this session (leftover state, AQE coalescing), so they are
#: excluded from the plan-shape golden pin (tests/test_plan_signatures.py)
#: — one observed wobble in r13 (`delta_rowtracking_mart`, VERDICT #3).
#: Their correctness gate is the lifecycle value-hash oracle, which is
#: plan-independent.
LIFECYCLE_QUERIES = frozenset(
    {
        "delta_skip_daily_mart",
        "delta_dv_delete_mart",
        "delta_update_delete_mart",
        "delta_cdf_merge_replace",
        "delta_cdf_writeside",
        "delta_colmap_renamed_mart",
        "delta_apply_replica_mart",
        "delta_gencol_pruned_mart",
        "delta_dv_purged_mart",
        "delta_identity_mart",
        "delta_rowtracking_mart",
        "delta_variant_mart",
        "delta_defaults_mart",
        "delta_nested_idmode_mart",
        "delta_below_array_mart",
        "delta_lcase_merge_mart",
        "delta_iceberg_compat_mart",
    }
)


@extra_query(
    "delta_skip_daily_mart",
    oracle=f"""
    SELECT CAST(ts AS DATE) AS date_utc,
           COUNT(*) AS n_events,
           {dsum_sql('value')} AS total_value
    FROM events
    WHERE CAST(ts AS DATE) BETWEEN '{_LO}' AND '{_HI}'
    GROUP BY CAST(ts AS DATE)
    ORDER BY date_utc
    """,
)
def delta_skip_daily_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily mart over a 5-day window, computed THROUGH the lakehouse:
    events → Delta table (date-partitioned, per-file stats) → skip-read
    (``predicate`` prunes non-window files from the log alone) → exact
    filter → aggregate. The oracle never sees the Delta table, so the
    hash match certifies the whole write/read/skip path end to end.

    The rewrite-per-call is the fixture shape; production writes once
    and serves every reader. Scale: the skip-read plans O(window days)
    files regardless of table history — the property the declared
    lifecycle tests pin via inputFiles counts."""
    from ..operators.delta_log import write_delta
    from ..operators.delta_scan import read_delta

    # PID-keyed fixture root: two concurrent runs against the same scale
    # factor (e.g. bench and pytest on one host) must not share a table —
    # one process deleting/rewriting while the other is mid-read produced
    # spurious failures (r6 ADVICE). Within one process calls are
    # sequential, so rmtree-then-rewrite is safe.
    table = os.path.join(
        "/tmp", "pdp_delta_q", f"pid{os.getpid()}",
        os.path.basename(os.path.normpath(sf_dir)), "events"
    )
    shutil.rmtree(table, ignore_errors=True)
    events = scan_table(spark, sf_dir, "events").select(
        F.to_date("ts").cast("string").alias("date"), "value"
    )
    write_delta(spark, events, table, partition_col="date")
    pruned = read_delta(spark, table, predicate={"date": (_LO, _HI)})
    return (
        pruned.filter(F.col("date").between(_LO, _HI))
        .groupBy(F.col("date").cast("date").alias("date_utc"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .orderBy("date_utc")
    )


@extra_query(
    "delta_dv_delete_mart",
    oracle=f"""
    SELECT CAST(ts AS DATE) AS date_utc,
           COUNT(*) AS n_events,
           {dsum_sql('value')} AS total_value
    FROM events
    WHERE CAST(ts AS DATE) BETWEEN '{_LO}' AND '{_HI}'
      AND NOT (event_id % 3 = 0 AND value < 500)
    GROUP BY CAST(ts AS DATE)
    ORDER BY date_utc
    """,
)
def delta_dv_delete_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE-without-rewrite under the DuckDB value-hash gate: events
    land in a Delta table, ``delete_where_dv`` marks a predicate's rows
    deleted via deletion vectors (the data files are untouched — the
    commit re-adds the SAME paths with roaring-bitmap descriptors), and
    the read-back aggregate must hash-match plain SQL filtering the
    same rows out of the raw parquet. A mis-encoded bitmap, a dropped
    descriptor, or a mispaired (group, basename, position) identity
    all break the hash.

    Scale: the delete costs O(matched rows) (bitmap write + one small
    commit) instead of rewriting every touched file — the GDPR-erasure
    shape on a 100 TB table; the read pays one broadcast anti-join of
    the deleted positions (executor-side bitmap decode, driver holds
    only compressed bytes)."""
    from ..operators.delta_dv import delete_where_dv
    from ..operators.delta_log import write_delta
    from ..operators.delta_scan import read_delta

    table = os.path.join(
        "/tmp", "pdp_delta_q", f"pid{os.getpid()}",
        os.path.basename(os.path.normpath(sf_dir)), "events_dv"
    )
    shutil.rmtree(table, ignore_errors=True)
    events = (
        scan_table(spark, sf_dir, "events")
        .filter(F.to_date("ts").between(_LO, _HI))
        .select(
            "event_id",
            F.to_date("ts").cast("string").alias("day"),
            "value",
        )
    )
    write_delta(spark, events, table, partition_col="day")
    delete_where_dv(spark, table, "event_id % 3 = 0 AND value < 500")
    return (
        read_delta(spark, table)
        .groupBy(F.col("day").cast("date").alias("date_utc"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .orderBy("date_utc")
    )


@extra_query(
    "delta_update_delete_mart",
    oracle=f"""
    WITH base AS (
      SELECT event_id,
             CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
             value
      FROM events
      WHERE CAST(ts AS DATE) BETWEEN '{_LO}' AND '{_HI}'
    ), updated AS (
      SELECT event_id, day,
             CASE WHEN day = '{_LO}' AND value < 100
                  THEN value * 2 + 1 ELSE value END AS value
      FROM base
    )
    SELECT day,
           COUNT(*) AS n_events,
           {dsum_sql('value')} AS total_value
    FROM updated
    WHERE NOT (event_id % 4 = 1 AND value >= 900)
    GROUP BY day
    ORDER BY day
    """,
)
def delta_update_delete_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write UPDATE then DELETE under the DuckDB value-hash
    gate: events land in a Delta table, ``update_where`` rewrites one
    day's low values with an expression over the PRE-update row,
    ``delete_where`` removes a predicate (evaluated AFTER the update,
    as the commit order implies), and the read-back aggregate must
    hash-match plain SQL applying the same transform+filter to the raw
    parquet. A wrong pre/post evaluation order, a resurrected row from
    an untouched file, or a survivor lost in a rewrite all break the
    hash.

    Scale: both commands rewrite only files HOLDING matches (file-
    granular copy-on-write, delta-spark's cost model); discovery is
    one predicate-filtered scan of the live set."""
    from ..operators.delta_log import delete_where, update_where, write_delta
    from ..operators.delta_scan import read_delta

    table = os.path.join(
        "/tmp", "pdp_delta_q", f"pid{os.getpid()}",
        os.path.basename(os.path.normpath(sf_dir)), "events_ud"
    )
    shutil.rmtree(table, ignore_errors=True)
    events = (
        scan_table(spark, sf_dir, "events")
        .filter(F.to_date("ts").between(_LO, _HI))
        .select(
            "event_id",
            F.to_date("ts").cast("string").alias("day"),
            "value",
        )
    )
    write_delta(spark, events, table, partition_col="day")
    update_where(
        spark, table, f"day = '{_LO}' and value < 100",
        {"value": "value * 2 + 1"},
    )
    delete_where(spark, table, "event_id % 4 = 1 and value >= 900")
    return (
        read_delta(spark, table)
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .orderBy("day")
    )


@extra_query(
    "delta_cdf_merge_replace",
    oracle=f"""
    WITH base AS (
      SELECT event_id,
             CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
             value
      FROM events
      WHERE CAST(ts AS DATE) BETWEEN '{_LO}' AND '{_HI}'
    )
    SELECT event_id, day, value,
           'insert' AS _change_type, CAST(0 AS BIGINT) AS _commit_version
    FROM base
    UNION ALL
    SELECT event_id, day, value, 'update_preimage', CAST(1 AS BIGINT)
    FROM base WHERE day = '{_LO}'
    UNION ALL
    SELECT event_id, day, value + 7.5, 'update_postimage', CAST(1 AS BIGINT)
    FROM base WHERE day = '{_LO}'
    UNION ALL
    SELECT CAST(event_id + 100000000 AS BIGINT), day, value + 1.0,
           'insert', CAST(1 AS BIGINT)
    FROM base WHERE day = '{_LO}'
    UNION ALL
    SELECT event_id, day, value, 'delete', CAST(2 AS BIGINT)
    FROM base WHERE day = '{_HI}' AND NOT (value >= 50)
    UNION ALL
    SELECT event_id, day, value, 'update_preimage', CAST(2 AS BIGINT)
    FROM base WHERE day = '{_HI}' AND value >= 50
    UNION ALL
    SELECT event_id, day, value - 3.0, 'update_postimage', CAST(2 AS BIGINT)
    FROM base WHERE day = '{_HI}' AND value >= 50
    """,
)
def delta_cdf_merge_replace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level change-data-feed under the full oracle: events → Delta
    table (v0 insert) → MERGE that updates one day and inserts shifted
    keys (v1) → day-scoped replaceWhere that rewrites survivors and
    drops the rest (v2) — then the ENTIRE change stream
    (``read_delta_cdf``: insert / update_preimage / update_postimage /
    delete, per commit) is hash-matched against plain SQL that derives
    the same changes from the raw parquet. A MERGE that re-delivered
    carried-over rows, a missed delete, or a wrong pre/post image all
    break the hash.

    Scale: the CDF read costs O(files each commit touched) + one key
    shuffle per rewrite commit — never a table scan; see
    ``read_delta_cdf``'s docstring."""
    from ..operators.delta_cdf import read_delta_cdf
    from ..operators.delta_log import write_delta
    from ..operators.delta_merge import merge_delta

    table = os.path.join(
        "/tmp", "pdp_delta_q", f"pid{os.getpid()}",
        os.path.basename(os.path.normpath(sf_dir)), "events_cdf"
    )
    shutil.rmtree(table, ignore_errors=True)
    base = (
        scan_table(spark, sf_dir, "events")
        .filter(F.to_date("ts").between(_LO, _HI))
        .select(
            "event_id",
            F.to_date("ts").cast("string").alias("day"),
            "value",
        )
    )
    write_delta(spark, base, table, partition_col="day")  # v0: inserts
    day_lo = base.filter(F.col("day") == _LO)
    merge_src = day_lo.withColumn("value", F.col("value") + F.lit(7.5)).unionByName(
        day_lo.select(
            (F.col("event_id") + F.lit(100000000)).alias("event_id"),
            "day",
            (F.col("value") + F.lit(1.0)).alias("value"),
        )
    )
    merge_delta(spark, table, merge_src, key_cols=["event_id"])  # v1
    survivors = (
        base.filter(F.col("day") == _HI)
        .filter(F.col("value") >= 50)
        .withColumn("value", F.col("value") - F.lit(3.0))
    )
    write_delta(  # v2: replaceWhere — updates for survivors, deletes for the rest
        spark, survivors, table, partition_col="day",
        mode="overwrite", replace_partitions=[_HI],
    )
    return read_delta_cdf(
        spark, table, from_version=-1, key_cols=["event_id"]
    ).select("event_id", "day", "value", "_change_type", "_commit_version")


@extra_query(
    "delta_cdf_writeside",
    oracle=f"""
    WITH base AS (
      SELECT event_id,
             CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
             value
      FROM events
      WHERE CAST(ts AS DATE) BETWEEN '{_LO}' AND '{_HI}'
    )
    SELECT event_id, day, value,
           'insert' AS _change_type, CAST(0 AS BIGINT) AS _commit_version
    FROM base
    UNION ALL
    SELECT event_id, day, value, 'update_preimage', CAST(2 AS BIGINT)
    FROM base WHERE day = '{_LO}'
    UNION ALL
    SELECT event_id, day, value + 7.5, 'update_postimage', CAST(2 AS BIGINT)
    FROM base WHERE day = '{_LO}'
    UNION ALL
    SELECT CAST(event_id + 100000000 AS BIGINT), day, value + 1.0,
           'insert', CAST(2 AS BIGINT)
    FROM base WHERE day = '{_LO}'
    UNION ALL
    SELECT event_id, day, value, 'delete', CAST(3 AS BIGINT)
    FROM base WHERE day = '{_HI}' AND NOT (value >= 50)
    UNION ALL
    SELECT event_id, day, value, 'update_preimage', CAST(3 AS BIGINT)
    FROM base WHERE day = '{_HI}' AND value >= 50
    UNION ALL
    SELECT event_id, day, value - 3.0, 'update_postimage', CAST(3 AS BIGINT)
    FROM base WHERE day = '{_HI}' AND value >= 50
    """,
)
def delta_cdf_writeside(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WRITE-SIDE change-data-feed path under the same full oracle
    as ``delta_cdf_merge_replace`` — the twin that proves the cdc-file
    materialization (not just reconstruction) produces hash-identical
    changes. ``enable_change_data_feed`` lands as commit v1 (no rows),
    so the merge is v2 and the replaceWhere v3, and BOTH rewrite
    commits stage ``_change_data`` files at write time. The CDF read
    passes NO key_cols: a rewrite commit lacking cdc actions would
    RAISE in reconstruction mode, so a hash-green run certifies every
    change row was served from the write-side files.

    Scale: the cdc read is O(change files) with no shuffle and survives
    vacuuming of the rewritten data files — the production CDF shape
    at 100 TB (measured 2.4× over reconstruction in SCALE.md r8)."""
    from ..operators.delta_cdf import enable_change_data_feed, read_delta_cdf
    from ..operators.delta_log import write_delta
    from ..operators.delta_merge import merge_delta

    table = os.path.join(
        "/tmp", "pdp_delta_q", f"pid{os.getpid()}",
        os.path.basename(os.path.normpath(sf_dir)), "events_cdf_ws"
    )
    shutil.rmtree(table, ignore_errors=True)
    base = (
        scan_table(spark, sf_dir, "events")
        .filter(F.to_date("ts").between(_LO, _HI))
        .select(
            "event_id",
            F.to_date("ts").cast("string").alias("day"),
            "value",
        )
    )
    write_delta(spark, base, table, partition_col="day")  # v0: inserts
    enable_change_data_feed(spark, table)  # v1: metadata only
    day_lo = base.filter(F.col("day") == _LO)
    merge_src = day_lo.withColumn(
        "value", F.col("value") + F.lit(7.5)
    ).unionByName(
        day_lo.select(
            (F.col("event_id") + F.lit(100000000)).alias("event_id"),
            "day",
            (F.col("value") + F.lit(1.0)).alias("value"),
        )
    )
    merge_delta(spark, table, merge_src, key_cols=["event_id"])  # v2
    survivors = (
        base.filter(F.col("day") == _HI)
        .filter(F.col("value") >= 50)
        .withColumn("value", F.col("value") - F.lit(3.0))
    )
    write_delta(  # v3: replaceWhere, keyed cdc staged at write time
        spark, survivors, table, partition_col="day",
        mode="overwrite", replace_partitions=[_HI],
        cdf_key_cols=["event_id"],
    )
    return read_delta_cdf(spark, table, from_version=-1).select(
        "event_id", "day", "value", "_change_type", "_commit_version"
    )


@extra_query(
    "delta_colmap_renamed_mart",
    oracle=f"""
    WITH base AS (
      SELECT event_id,
             CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
             value
      FROM events
      WHERE CAST(ts AS DATE) BETWEEN '{_LO}' AND '{_HI}'
    ), merged AS (
      SELECT event_id, day,
             CASE WHEN day = '{_LO}' THEN value + 2.5 ELSE value END AS amount
      FROM base
    )
    SELECT day,
           COUNT(*) AS n_events,
           {dsum_sql('amount')} AS total_amount
    FROM merged
    GROUP BY day
    ORDER BY day
    """,
)
def delta_colmap_renamed_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column mapping under the full oracle: events → Delta table →
    ``enable_column_mapping`` (protocol 2/5) → metadata-only RENAME of
    the value column → MERGE under the NEW logical name (files keep
    the old physical name) → aggregate through the mapped read. The
    oracle recomputes the same numbers from raw parquet with plain
    SQL, so a wrong logical↔physical resolution anywhere in the
    enable/rename/merge/read chain breaks the hash — not just a
    test assertion.

    Scale: rename and enable are single metadata commits (zero data
    movement); the MERGE pays its stats-pruned file-granular rewrite;
    the read is the ordinary one-call hive scan under the physical
    schema plus a rename projection (no extra stage)."""
    from ..operators.delta_alter import enable_column_mapping, rename_column
    from ..operators.delta_log import write_delta
    from ..operators.delta_merge import merge_delta
    from ..operators.delta_scan import read_delta

    table = os.path.join(
        "/tmp", "pdp_delta_q", f"pid{os.getpid()}",
        os.path.basename(os.path.normpath(sf_dir)), "events_colmap"
    )
    shutil.rmtree(table, ignore_errors=True)
    base = (
        scan_table(spark, sf_dir, "events")
        .filter(F.to_date("ts").between(_LO, _HI))
        .select(
            "event_id",
            F.to_date("ts").cast("string").alias("day"),
            "value",
        )
    )
    write_delta(spark, base, table, partition_col="day")  # v0
    enable_column_mapping(spark, table)  # v1: protocol 2/5 + field ids
    rename_column(spark, table, "value", "amount")  # v2: metadata-only
    merge_src = (
        base.filter(F.col("day") == _LO)
        .select(
            "event_id", "day",
            (F.col("value") + F.lit(2.5)).alias("amount"),
        )
    )
    merge_delta(spark, table, merge_src, key_cols=["event_id"])  # v3
    return (
        read_delta(spark, table)
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("amount").alias("total_amount"),
        )
        .orderBy("day")
    )


@extra_query(
    "delta_apply_replica_mart",
    oracle=f"""
    WITH base AS (
      SELECT event_id,
             CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
             value
      FROM events
      WHERE CAST(ts AS DATE) BETWEEN '{_LO}' AND '{_HI}'
    ), after_merge AS (
      SELECT event_id, day,
             CASE WHEN day = '{_LO}' THEN value + 7.5 ELSE value END AS value
      FROM base
      UNION ALL
      SELECT CAST(event_id + 100000000 AS BIGINT), day, value + 1.0
      FROM base WHERE day = '{_LO}'
    ), final AS (
      SELECT event_id, day,
             CASE WHEN day = '{_HI}' THEN value - 3.0 ELSE value END AS value
      FROM after_merge
      WHERE day <> '{_HI}' OR value >= 50
    )
    SELECT day,
           COUNT(*) AS n_events,
           {dsum_sql('value')} AS total_value
    FROM final
    GROUP BY day
    ORDER BY day
    """,
)
def delta_apply_replica_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full replication loop under one value hash: source Delta
    table driven through write → MERGE (updates + shifted-key inserts)
    → day-scoped replaceWhere (updates + deletes) — then the ENTIRE
    row-level CDF is folded into an initially-empty REPLICA with
    ``apply_changes_delta``, and the replica (never the source!) is
    aggregated. The oracle recomputes the same mart from raw parquet,
    so a missed delete, a re-delivered carried-over row, or a wrong
    image anywhere in source-write → CDF → apply → replica-read breaks
    the hash.

    Scale: apply's cost tracks the CHANGES (stats-pruned discovery,
    file-granular rewrite — measured flat against 10× table history in
    SCALE.md); the replica bootstrap here is the fixture shape."""
    from ..operators.delta_cdf import read_delta_cdf
    from ..operators.delta_log import write_delta
    from ..operators.delta_merge import apply_changes_delta, merge_delta
    from ..operators.delta_scan import read_delta

    root = os.path.join(
        "/tmp", "pdp_delta_q", f"pid{os.getpid()}",
        os.path.basename(os.path.normpath(sf_dir))
    )
    src = os.path.join(root, "events_apply_src")
    rep = os.path.join(root, "events_apply_rep")
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(rep, ignore_errors=True)
    base = (
        scan_table(spark, sf_dir, "events")
        .filter(F.to_date("ts").between(_LO, _HI))
        .select(
            "event_id",
            F.to_date("ts").cast("string").alias("day"),
            "value",
        )
    )
    write_delta(spark, base, src, partition_col="day")  # v0
    day_lo = base.filter(F.col("day") == _LO)
    merge_src = day_lo.withColumn("value", F.col("value") + F.lit(7.5)).unionByName(
        day_lo.select(
            (F.col("event_id") + F.lit(100000000)).alias("event_id"),
            "day",
            (F.col("value") + F.lit(1.0)).alias("value"),
        )
    )
    merge_delta(spark, src, merge_src, key_cols=["event_id"])  # v1
    survivors = (
        base.filter(F.col("day") == _HI)
        .filter(F.col("value") >= 50)
        .withColumn("value", F.col("value") - F.lit(3.0))
    )
    write_delta(  # v2
        spark, survivors, src, partition_col="day",
        mode="overwrite", replace_partitions=[_HI],
    )
    write_delta(  # empty replica, same shape
        spark,
        spark.createDataFrame([], "event_id bigint, day string, value double"),
        rep, partition_col="day",
    )
    changes = read_delta_cdf(spark, src, from_version=-1, key_cols=["event_id"])
    apply_changes_delta(spark, rep, changes, key_cols=["event_id"])
    return (
        read_delta(spark, rep)
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .orderBy("day")
    )


@query(
    "delta_gencol_pruned_mart",
    oracle=f"""
    SELECT CAST(ts AS DATE) AS date_utc,
           COUNT(*) AS n_events,
           {dsum_sql('value')} AS total_value
    FROM events
    WHERE CAST(ts AS DATE) BETWEEN '{_LO}' AND '{_HI}'
    GROUP BY CAST(ts AS DATE)
    ORDER BY date_utc
    """,
)
def delta_gencol_pruned_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated-column partition pruning under the DuckDB value-hash
    gate: events land in a Delta table whose ``day`` partition column
    is GENERATED from ``ts`` (the writer computes it — the frame never
    carries it), and the read-back prunes partitions from a predicate
    on the BASE column alone (``_derived_partition_bounds`` inverts the
    generation expression). The oracle filters the raw parquet by the
    same window, so a pruning bug that drops a needed partition — a
    mis-inverted expression, a missing timezone pad — breaks the hash,
    not just a perf counter.

    Scale: this is the canonical 100 TB layout (hive day-grain
    partitions, queries phrased on the event timestamp) — the derived
    bounds turn a ts-range scan from every-partition stats checks into
    the few covered partitions, before any parquet footer is opened."""
    from ..operators.delta_log import write_delta
    from ..operators.delta_scan import read_delta

    table = os.path.join(
        "/tmp", "pdp_delta_q", f"pid{os.getpid()}",
        os.path.basename(os.path.normpath(sf_dir)), "events_gencol"
    )
    shutil.rmtree(table, ignore_errors=True)
    events = scan_table(spark, sf_dir, "events").select("ts", "value")
    write_delta(
        spark, events, table, partition_col="day",
        generated_cols={"day": "CAST(ts AS DATE)"},
    )
    pruned = read_delta(
        spark, table,
        predicate={"ts": (f"{_LO} 00:00:00", f"{_HI} 23:59:59")},
    )
    return (
        pruned.filter(F.to_date("ts").between(_LO, _HI))
        .groupBy(F.to_date("ts").alias("date_utc"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .orderBy("date_utc")
    )


@query(
    "delta_dv_purged_mart",
    oracle=f"""
    SELECT CAST(ts AS DATE) AS date_utc,
           COUNT(*) AS n_events,
           {dsum_sql('value')} AS total_value
    FROM events
    WHERE CAST(ts AS DATE) BETWEEN '{_LO}' AND '{_HI}'
      AND NOT (event_id % 3 = 0 AND value < 500)
    GROUP BY CAST(ts AS DATE)
    ORDER BY date_utc
    """,
)
def delta_dv_purged_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PURGE twin of ``delta_dv_delete_mart`` (same oracle SQL):
    after the deletion-vector delete, ``purge_delta`` hardens the soft
    deletes — every DV'd file is rewritten descriptor-free — and
    ``drop_table_feature`` downgrades the protocol back off the
    table-features form. The read-back must hash-match the raw-parquet
    oracle exactly as the DV'd table did: a purge that resurrects a
    DV'd row, drops a surviving one, or rewrites an untouched file
    incorrectly breaks the hash.

    Scale: purge cost is O(bytes of DV'd files only); afterwards reads
    pay no anti-join at all — the lifecycle a 100 TB table follows when
    accumulated DVs start taxing the hot read path."""
    from ..operators.delta_dv import delete_where_dv
    from ..operators.delta_log import write_delta
    from ..operators.delta_maintain import drop_table_feature, purge_delta
    from ..operators.delta_scan import read_delta

    table = os.path.join(
        "/tmp", "pdp_delta_q", f"pid{os.getpid()}",
        os.path.basename(os.path.normpath(sf_dir)), "events_dv_purged"
    )
    shutil.rmtree(table, ignore_errors=True)
    events = (
        scan_table(spark, sf_dir, "events")
        .filter(F.to_date("ts").between(_LO, _HI))
        .select(
            "event_id",
            F.to_date("ts").cast("string").alias("day"),
            "value",
        )
    )
    write_delta(spark, events, table, partition_col="day")
    delete_where_dv(spark, table, "event_id % 3 = 0 AND value < 500")
    purge_delta(spark, table)
    drop_table_feature(spark, table, "deletionVectors")
    return (
        read_delta(spark, table)
        .groupBy(F.col("day").cast("date").alias("date_utc"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .orderBy("date_utc")
    )


@query(
    "delta_identity_mart",
    oracle=f"""
    WITH n AS (
      SELECT COUNT(*) AS c
      FROM events
      WHERE CAST(ts AS DATE) BETWEEN '{_LO}' AND '{_HI}'
    ),
    m AS (
      SELECT COUNT(*) AS c15
      FROM events
      WHERE CAST(ts AS DATE) = '2024-01-15'
    ),
    u AS (
      SELECT COUNT(*) AS cu
      FROM events
      WHERE CAST(ts AS DATE) BETWEEN '{_LO}' AND '{_HI}'
        AND event_id % 5 = 0
    )
    SELECT c + c15 AS n_rows,
           c + c15 AS n_distinct_ids,
           CAST(7 AS BIGINT) AS min_id,
           CAST(7 + 3 * (c + c15 - 1) AS BIGINT) AS max_id,
           CAST(0 AS BIGINT) AS off_lattice,
           CAST(0 AS BIGINT) AS gaps,
           cu AS n_updated
    FROM n, m, u
    """,
)
def delta_identity_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identity-column allocation under the DuckDB value-hash gate
    (ADVICE r9 #2; extended through MERGE r12): the events window lands
    in an identity table (GENERATED ALWAYS AS IDENTITY START 7
    INCREMENT 3) in THREE separate append commits, then a MERGE whose
    source OMITS the identity column updates every ``event_id % 5 = 0``
    row (sentinel value) and inserts the next day's events. The
    read-back hashes the allocation CONTRACT — dense (no gaps), unique,
    on-lattice, min at start, max exactly start + step*(N-1) across
    appends AND the merge. A double-allocated value breaks
    n_distinct_ids; a skipped value breaks max_id/gaps; an off-lattice
    value breaks off_lattice; a MATCHED row whose identity was
    reallocated instead of kept leaves a hole and pushes the max —
    breaking gaps — and a lost update breaks n_updated; each against
    numbers DuckDB derives from the raw parquet alone.

    Scale: allocation is per-input-partition (broadcast offset map +
    partition-local running count — never a global window), so the
    contract holds at any partition count; the merge repairs matched
    rows from only the touched files."""
    from ..operators.delta_log import write_delta
    from ..operators.delta_scan import read_delta

    table = os.path.join(
        "/tmp", "pdp_delta_q", f"pid{os.getpid()}",
        os.path.basename(os.path.normpath(sf_dir)), "events_identity"
    )
    shutil.rmtree(table, ignore_errors=True)
    # ONE scan + ONE round-robin exchange feed every downstream action
    # (r17, guide §1.2): the query runs ~10 sequential driver actions
    # (3 allocation counts + 3 staged writes + the MERGE profile and
    # rewrite + the read-back), each ~0.25 s of fixed latency at sf0.1,
    # and before this every one of them re-planned and re-ran the
    # parquet scan + date filter + a per-batch repartition. The LAZY
    # localCheckpoint materializes the 6-day projection on its first
    # consumer (no dedicated action) into 4 partitions, so each batch
    # filter inherits multi-partition allocation (the contract the mart
    # exercises) without paying a per-commit exchange.
    evs_all = (
        scan_table(spark, sf_dir, "events")
        .filter(F.to_date("ts").between(_LO, "2024-01-15"))
        .select(
            "event_id",
            F.to_date("ts").cast("string").alias("day"),
            "value",
        )
        .repartition(4)
        .localCheckpoint(eager=False)
    )
    events = evs_all.filter(F.col("day") <= _HI)
    # the identity column is never in the batch — allocation ADDS it
    # three batches split by a stable hash of event_id: exercises
    # high-water-mark continuation across commits (and, within each
    # commit, allocation across multiple input partitions)
    bucket = F.abs(F.hash("event_id")) % 3
    first = True
    for b in range(3):
        batch = events.filter(bucket == b)
        write_delta(
            spark, batch, table,
            identity_cols=(
                {"sk": {"start": 7, "step": 3}} if first else None
            ),
        )
        first = False
    # MERGE (r12): update every event_id%5==0 row to a sentinel value
    # (matched rows must KEEP their sk) and insert the next day's
    # events (allocated past the high-water mark) — sk omitted
    from ..operators.delta_merge import merge_delta

    updates = events.filter(F.col("event_id") % 5 == 0).withColumn(
        "value", F.lit(-123456.789)
    )
    inserts = evs_all.filter(F.col("day") == "2024-01-15")
    merge_delta(
        spark, table, updates.unionByName(inserts), key_cols=["event_id"]
    )
    t = read_delta(spark, table)
    lat = (F.col("sk") - F.lit(7)) % F.lit(3)
    return t.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("sk").alias("n_distinct_ids"),
        F.min("sk").alias("min_id"),
        F.max("sk").alias("max_id"),
        F.sum((lat != 0).cast("long")).alias("off_lattice"),
        # dense ⇔ the max equals start + step*(N-1) AND all distinct;
        # count the arithmetic gap surplus explicitly
        (
            (F.max("sk") - F.lit(7)) / F.lit(3)
            - (F.count(F.lit(1)) - F.lit(1))
        ).cast("long").alias("gaps"),
        F.sum(
            (F.col("value") == F.lit(-123456.789)).cast("long")
        ).alias("n_updated"),
    )


@extra_query(
    "delta_rowtracking_mart",
    oracle=f"""
    WITH base AS (
      SELECT event_id, CAST(CAST(ts AS DATE) AS VARCHAR) AS day
      FROM events
      WHERE CAST(ts AS DATE) BETWEEN '{_LO}' AND '{_HI}'
    )
    SELECT day,
           COUNT(*) + (CASE WHEN day = '{_LO}' THEN COUNT(*) ELSE 0 END)
             AS n_rows,
           COUNT(*) AS n_stable,
           CAST(CASE WHEN day = '{_LO}' THEN COUNT(*) ELSE 0 END AS BIGINT)
             AS n_fresh,
           COUNT(*) + (CASE WHEN day = '{_LO}' THEN COUNT(*) ELSE 0 END)
             AS n_distinct_ids
    FROM base
    GROUP BY day
    ORDER BY day
    """,
)
def delta_rowtracking_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-id stability across a MERGE + OPTIMIZE + RESTORE window
    (VERDICT r9 top-next's done-bar): events land in a rowTracking
    table (v0), a MERGE updates one day's values and inserts shifted
    keys (v1), OPTIMIZE compacts (v2), RESTORE returns to v1 (v3). The
    final read joins each key's ``_row_id`` against its v0 id and
    hashes, per day: every original key's id STABLE through all three
    rewrites (n_stable), every inserted key's id fresh (n_fresh), and
    all ids distinct — numbers DuckDB derives from the raw parquet
    alone. One moved/duplicated/lost row id anywhere in the
    merge-rewrite, compaction-materialization, or restore-rollback
    chain breaks the hash.

    Scale: ids ride the files (baseRowId + hidden materialized
    columns) — stability costs no extra shuffle at any table size; the
    verification join here is the TEST's cost, not the feature's."""
    from ..operators.delta_log import write_delta
    from ..operators.delta_maintain import optimize_delta, restore_delta
    from ..operators.delta_merge import merge_delta
    from ..operators.delta_scan import read_delta

    table = os.path.join(
        "/tmp", "pdp_delta_q", f"pid{os.getpid()}",
        os.path.basename(os.path.normpath(sf_dir)), "events_rowtracking"
    )
    shutil.rmtree(table, ignore_errors=True)
    events = (
        scan_table(spark, sf_dir, "events")
        .filter(F.to_date("ts").between(_LO, _HI))
        .select(
            "event_id",
            F.to_date("ts").cast("string").alias("day"),
            "value",
        )
    )
    write_delta(
        spark, events, table, partition_col="day",
        configuration={"delta.enableRowTracking": "true"},
    )
    ids0 = (
        read_delta(spark, table, version=0, row_ids=True)
        .select("event_id", F.col("_row_id").alias("_rid0"))
    )
    lo_rows = events.filter(F.col("day") == _LO)
    source = lo_rows.select(
        "event_id", "day", (F.col("value") + 7.5).alias("value")
    ).unionByName(
        lo_rows.select(
            (F.col("event_id") + 100000000).alias("event_id"),
            "day",
            (F.col("value") + 1.0).alias("value"),
        )
    )
    v1 = merge_delta(spark, table, source, key_cols=["event_id"])
    optimize_delta(spark, table)
    restore_delta(spark, table, v1)
    final = read_delta(spark, table, row_ids=True)
    joined = final.join(F.broadcast(ids0), "event_id", "left")
    return (
        joined.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                (
                    F.col("_rid0").isNotNull()
                    & (F.col("_row_id") == F.col("_rid0"))
                ).cast("long")
            ).alias("n_stable"),
            F.sum(F.col("_rid0").isNull().cast("long")).alias("n_fresh"),
            F.countDistinct("_row_id").alias("n_distinct_ids"),
        )
        .orderBy("day")
    )


@query(
    "delta_variant_mart",
    oracle=f"""
    SELECT CAST(ts AS DATE) AS date_utc,
           COUNT(*) AS n_events,
           -- driver-contract cast: DuckDB SUM(BIGINT) is HUGEINT, which
           -- the driver's .df() fetch coerces to float64 ("860.0" vs
           -- "860" — the q12 lesson, r15)
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS k_sum,
           {dsum_sql('value')} AS total_value,
           COUNT(DISTINCT event_type) AS n_types
    FROM events
    WHERE CAST(ts AS DATE) BETWEEN '{_LO}' AND '{_HI}'
    GROUP BY CAST(ts AS DATE)
    ORDER BY date_utc
    """,
)
def delta_variant_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """variantType WRITE path under the oracle gate (round 11): each
    event's fields fold into one semi-structured document
    (``parse_json`` → VARIANT), land in a Delta table whose staging
    converts the column to the spec's physical struct<value,metadata>
    pair, read back through the native variant decode, and the typed
    fields are re-extracted with ``variant_get`` — the aggregate must
    hash-match DuckDB computing the same numbers from the RAW parquet.
    Any loss anywhere in encode → physical transform → write → read →
    decode → extract breaks the hash (nested object + array + int64 +
    double all exercised per row).

    Scale: the variant re-wrap is one arrow-batched mapInPandas over
    the staged rows (no per-row Python objects besides the binary
    pair); reads ride the same single-scan plan as any other column."""
    from ..operators.delta_log import write_delta
    from ..operators.delta_scan import read_delta

    table = os.path.join(
        "/tmp", "pdp_delta_q", f"pid{os.getpid()}",
        os.path.basename(os.path.normpath(sf_dir)), "events_variant"
    )
    shutil.rmtree(table, ignore_errors=True)
    events = (
        scan_table(spark, sf_dir, "events")
        .filter(F.to_date("ts").between(_LO, _HI))
        .select(
            F.to_date("ts").alias("date_utc"),
            F.parse_json(
                F.to_json(
                    F.struct(
                        F.get_json_object("props", "$.k")
                        .cast("bigint")
                        .alias("k"),
                        F.struct(
                            F.col("event_type").alias("type")
                        ).alias("meta"),
                        F.array("value").alias("vals"),
                    )
                )
            ).alias("doc"),
        )
    )
    write_delta(
        spark, events, table,
        partition_col="date_utc",
    )
    back = read_delta(spark, table)
    return (
        back.select(
            "date_utc",
            F.expr("variant_get(doc, '$.k', 'bigint')").alias("k"),
            F.expr("variant_get(doc, '$.meta.type', 'string')").alias("typ"),
            F.expr("variant_get(doc, '$.vals[0]', 'double')").alias("val"),
        )
        .groupBy("date_utc")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("k_sum"),
            dsum("val").alias("total_value"),
            F.countDistinct("typ").alias("n_types"),
        )
        .orderBy("date_utc")
    )


@extra_query(
    "delta_defaults_mart",
    oracle=f"""
    SELECT CASE WHEN CAST(ts AS DATE) <= '{_LO}' THEN 'seed'
                WHEN CAST(ts AS DATE) <= '2024-01-12' THEN 'landing'
                ELSE 'backfill' END AS src,
           COUNT(*) AS n_events,
           {dsum_sql('value')} AS total_value
    FROM events
    WHERE CAST(ts AS DATE) BETWEEN '{_LO}' AND '{_HI}'
    GROUP BY 1
    ORDER BY src
    """,
)
def delta_defaults_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """allowColumnDefaults under the oracle gate (round 11): the table
    is created with a DEFAULT on ``src`` ('landing'), the creation
    batch provides 'seed' explicitly, a second batch OMITS the column
    (fill-on-omit duty → 'landing'), then ALTER COLUMN SET DEFAULT
    'backfill' and a third omitting batch lands under the new default.
    The aggregate groups by the filled column — DuckDB derives the same
    labels from the RAW parquet day slices alone, so a fill that
    missed a batch, used a stale default, or leaked onto provided
    values breaks the hash.

    Scale: fill-on-omit is one free column expression on the staged
    frame (no extra pass); everything else is the ordinary partitioned
    write + single-scan read."""
    from ..operators.delta_alter import set_column_default
    from ..operators.delta_log import write_delta
    from ..operators.delta_scan import read_delta

    table = os.path.join(
        "/tmp", "pdp_delta_q", f"pid{os.getpid()}",
        os.path.basename(os.path.normpath(sf_dir)), "events_defaults"
    )
    shutil.rmtree(table, ignore_errors=True)
    base = (
        scan_table(spark, sf_dir, "events")
        .filter(F.to_date("ts").between(_LO, _HI))
        .select(F.to_date("ts").alias("date_utc"), "value")
    )
    seed = base.filter(F.col("date_utc") <= _LO).withColumn(
        "src", F.lit("seed")
    )
    write_delta(
        spark, seed, table,
        partition_col="date_utc",
        default_cols={"src": "'landing'"},
    )
    write_delta(  # omits src -> filled with 'landing'
        spark,
        base.filter(
            (F.col("date_utc") > _LO) & (F.col("date_utc") <= "2024-01-12")
        ),
        table, partition_col="date_utc",
    )
    set_column_default(spark, table, "src", "'backfill'")
    write_delta(  # omits src -> filled with the NEW default
        spark,
        base.filter(F.col("date_utc") > "2024-01-12"),
        table, partition_col="date_utc",
    )
    return (
        read_delta(spark, table)
        .groupBy("src")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .orderBy("src")
    )


@query(
    "delta_nested_idmode_mart",
    oracle=f"""
    WITH base AS (SELECT event_id, event_type, value FROM events),
    upd AS (
        SELECT event_id, event_type,
               CASE WHEN event_id % 7 = 0 THEN value + 1000
                    ELSE value END AS v
        FROM base
    ),
    ins AS (
        SELECT event_id + 1000000000 AS event_id, event_type,
               value + 5 AS v
        FROM base WHERE event_id % 13 = 0
    ),
    m AS (SELECT * FROM upd UNION ALL SELECT * FROM ins)
    SELECT event_type AS t,
           COUNT(*) AS n_rows,
           {dsum_sql('v')} AS total_v
    FROM m GROUP BY event_type ORDER BY t
    """,
)
def delta_nested_idmode_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r13 nested-id-mode surface under the full value-hash gate:
    a FOREIGN-created id-mode table whose schema nests a struct (per-
    level ``delta.columnMapping.id``s, physical names this writer never
    chose) takes an events-derived append and a MERGE that updates a
    nested field on matched keys and inserts offset keys — then the
    mart aggregates per nested ``obj.t`` THROUGH field-id resolution.
    The oracle reproduces the end state from the raw parquet alone, so
    any mis-stamped id, mis-resolved nested level, or merge-rewrite
    drift surfaces as a hash mismatch.

    Scale: identical to the other delta marts — the lifecycle is the
    fixture; reads plan O(live files) and the aggregation is one
    (t)-keyed shuffle with map-side partials."""
    import json as _json

    from ..operators.delta_log import write_delta
    from ..operators.delta_merge import merge_delta
    from ..operators.delta_scan import read_delta

    table = os.path.join(
        "/tmp", "pdp_delta_q", f"pid{os.getpid()}",
        f"nested_idmode_{os.path.basename(os.path.normpath(sf_dir))}",
    )
    shutil.rmtree(table, ignore_errors=True)
    os.makedirs(f"{table}/_delta_log")
    fields = [
        {"name": "id", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.id": 1,
                      "delta.columnMapping.physicalName": "ice_id"}},
        {"name": "obj", "nullable": True,
         "type": {"type": "struct", "fields": [
             {"name": "t", "type": "string", "nullable": True,
              "metadata": {"delta.columnMapping.id": 3,
                           "delta.columnMapping.physicalName": "ice_t"}},
             {"name": "v", "type": "double", "nullable": True,
              "metadata": {"delta.columnMapping.id": 4,
                           "delta.columnMapping.physicalName": "ice_v"}},
         ]},
         "metadata": {"delta.columnMapping.id": 2,
                      "delta.columnMapping.physicalName": "ice_obj"}},
    ]
    with open(f"{table}/_delta_log/{0:020d}.json", "w") as f:
        for a in [
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["columnMapping"],
                          "writerFeatures": ["columnMapping"]}},
            {"metaData": {"id": "nested-idmode-mart",
                          "format": {"provider": "parquet", "options": {}},
                          "schemaString": _json.dumps(
                              {"type": "struct", "fields": fields}),
                          "partitionColumns": [],
                          "configuration": {
                              "delta.columnMapping.mode": "id",
                              "delta.columnMapping.maxColumnId": "4"},
                          "createdTime": 0}},
        ]:
            f.write(_json.dumps(a) + "\n")
    e = scan_table(spark, sf_dir, "events")
    rows = e.select(
        F.col("event_id").alias("id"),
        F.struct(
            F.col("event_type").alias("t"), F.col("value").alias("v")
        ).alias("obj"),
    )
    write_delta(spark, rows, table, mode="append")
    src = rows.filter(F.col("id") % 7 == 0).select(
        "id",
        F.struct(
            F.col("obj.t").alias("t"), (F.col("obj.v") + 1000).alias("v")
        ).alias("obj"),
    ).unionByName(
        rows.filter(F.col("id") % 13 == 0).select(
            (F.col("id") + 1_000_000_000).alias("id"),
            F.struct(
                F.col("obj.t").alias("t"), (F.col("obj.v") + 5).alias("v")
            ).alias("obj"),
        )
    )
    merge_delta(spark, table, src, key_cols=["id"])
    out = read_delta(spark, table)
    return (
        out.groupBy(F.col("obj.t").alias("t"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("obj.v")).alias("total_v"),
        )
        .orderBy("t")
    )


@query(
    "delta_below_array_mart",
    oracle=f"""
    WITH base AS (SELECT event_id AS id, event_type AS t, value FROM events),
    upd AS (
        SELECT id, t,
               CASE WHEN id % 7 = 0 THEN value + 1000 ELSE value END AS v
        FROM base
    ),
    ins AS (
        SELECT id + 1000000000 AS id, t, value + 5 AS v
        FROM base WHERE id % 13 = 0
    ),
    m AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
    elems AS (
        SELECT t, v FROM m
        UNION ALL
        SELECT t, v / 2 AS v FROM m
    )
    SELECT t,
           COUNT(*) AS n_elems,
           {dsum_sql('v')} AS total_v
    FROM elems GROUP BY t ORDER BY t
    """,
)
def delta_below_array_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r14 struct-below-array id-mode surface under the full
    value-hash gate: a FOREIGN-created id-mode table whose only data
    column is ``items array<struct<t, v>>`` (per-level ids, physical
    names this writer never chose — including BELOW the array) takes an
    events-derived append (two elements per row: (t, v) and (t, v/2))
    and a MERGE that rewrites matched rows' arrays and inserts offset
    keys — then the mart EXPLODES the array and aggregates per inner
    ``t`` through field-id resolution below the repeated level. The
    oracle reproduces the element stream from the raw parquet alone, so
    a mis-stamped inner id, a mis-aligned list child, or a merge drift
    surfaces as a hash mismatch.

    Scale: the explode is map-side (no shuffle until the final t-keyed
    aggregation with partials); the lifecycle is the fixture's cost."""
    import json as _json

    from ..operators.delta_log import write_delta
    from ..operators.delta_merge import merge_delta
    from ..operators.delta_scan import read_delta

    table = os.path.join(
        "/tmp", "pdp_delta_q", f"pid{os.getpid()}",
        f"below_array_{os.path.basename(os.path.normpath(sf_dir))}",
    )
    shutil.rmtree(table, ignore_errors=True)
    os.makedirs(f"{table}/_delta_log")
    fields = [
        {"name": "id", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.id": 1,
                      "delta.columnMapping.physicalName": "ice_id"}},
        {"name": "items", "nullable": True,
         "type": {"type": "array", "containsNull": True,
                  "elementType": {"type": "struct", "fields": [
                      {"name": "t", "type": "string", "nullable": True,
                       "metadata": {"delta.columnMapping.id": 3,
                                    "delta.columnMapping.physicalName":
                                        "ice_t"}},
                      {"name": "v", "type": "double", "nullable": True,
                       "metadata": {"delta.columnMapping.id": 4,
                                    "delta.columnMapping.physicalName":
                                        "ice_v"}}]}},
         "metadata": {"delta.columnMapping.id": 2,
                      "delta.columnMapping.physicalName": "ice_items"}},
    ]
    with open(f"{table}/_delta_log/{0:020d}.json", "w") as f:
        for a in [
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["columnMapping"],
                          "writerFeatures": ["columnMapping"]}},
            {"metaData": {"id": "below-array-mart",
                          "format": {"provider": "parquet", "options": {}},
                          "schemaString": _json.dumps(
                              {"type": "struct", "fields": fields}),
                          "partitionColumns": [],
                          "configuration": {
                              "delta.columnMapping.mode": "id",
                              "delta.columnMapping.maxColumnId": "4"},
                          "createdTime": 0}},
        ]:
            f.write(_json.dumps(a) + "\n")

    def two_elems(t, v):
        return F.array(
            F.struct(t.alias("t"), v.alias("v")),
            F.struct(t.alias("t"), (v / 2).alias("v")),
        )

    e = scan_table(spark, sf_dir, "events")
    rows = e.select(
        F.col("event_id").alias("id"),
        two_elems(F.col("event_type"), F.col("value")).alias("items"),
    )
    write_delta(spark, rows, table, mode="append")
    base = e.select("event_id", "event_type", "value")
    src = base.filter(F.col("event_id") % 7 == 0).select(
        F.col("event_id").alias("id"),
        two_elems(
            F.col("event_type"), F.col("value") + 1000
        ).alias("items"),
    ).unionByName(
        base.filter(F.col("event_id") % 13 == 0).select(
            (F.col("event_id") + 1_000_000_000).alias("id"),
            two_elems(
                F.col("event_type"), F.col("value") + 5
            ).alias("items"),
        )
    )
    merge_delta(spark, table, src, key_cols=["id"])
    out = read_delta(spark, table)
    return (
        out.select(F.explode("items").alias("e"))
        .groupBy(F.col("e.t").alias("t"))
        .agg(
            F.count(F.lit(1)).alias("n_elems"),
            dsum(F.col("e.v")).alias("total_v"),
        )
        .orderBy("t")
    )


@query(
    "delta_lcase_merge_mart",
    oracle=f"""
    WITH base AS (SELECT event_id AS id, event_type, value FROM events),
    upd AS (
        SELECT id,
               CASE WHEN id % 7 = 0
                        THEN lower(event_type || '-' || CAST(id AS VARCHAR))
                    WHEN id % 2 = 0
                        THEN upper(event_type || '-' || CAST(id AS VARCHAR))
                    ELSE event_type || '-' || CAST(id AS VARCHAR) END AS k,
               CASE WHEN id % 7 = 0 THEN value + 1000 ELSE value END AS v
        FROM base
    ),
    ins AS (
        SELECT id + 1000000000 AS id,
               'new-' || CAST(id AS VARCHAR) AS k,
               value + 5 AS v
        FROM base WHERE id % 13 = 0
    ),
    m AS (SELECT * FROM upd UNION ALL SELECT * FROM ins)
    SELECT lower(string_split(k, '-')[1]) AS t,
           COUNT(*) AS n_rows,
           {dsum_sql('v')} AS total_v
    FROM m GROUP BY 1 ORDER BY t
    """,
)
def delta_lcase_merge_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UTF8_LCASE fold-MERGE under the full value-hash gate (r13): a
    foreign collated table stores MIXED-case keys (even ids upper), a
    MERGE source spells its matched keys strictly LOWER — so the even
    ids it touches (id % 7 = 0 ∧ id % 2 = 0) match ONLY if the key join
    genuinely folds per the declared collation. A failed fold turns
    those updates into spurious inserts and the hash diverges. The
    oracle reproduces the end state with plain lower()/upper() algebra
    over the raw parquet."""
    import json as _json

    from ..operators.delta_log import write_delta
    from ..operators.delta_merge import merge_delta
    from ..operators.delta_scan import read_delta

    table = os.path.join(
        "/tmp", "pdp_delta_q", f"pid{os.getpid()}",
        f"lcase_merge_{os.path.basename(os.path.normpath(sf_dir))}",
    )
    shutil.rmtree(table, ignore_errors=True)
    os.makedirs(f"{table}/_delta_log")
    fields = [
        {"name": "id", "type": "long", "nullable": True, "metadata": {}},
        {"name": "k", "type": "string", "nullable": True,
         "metadata": {"__COLLATIONS": {"k": "spark.UTF8_LCASE"}}},
        {"name": "v", "type": "double", "nullable": True, "metadata": {}},
    ]
    with open(f"{table}/_delta_log/{0:020d}.json", "w") as f:
        for a in [
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["collations-preview"],
                          "writerFeatures": ["collations-preview"]}},
            {"metaData": {"id": "lcase-merge-mart",
                          "format": {"provider": "parquet", "options": {}},
                          "schemaString": _json.dumps(
                              {"type": "struct", "fields": fields}),
                          "partitionColumns": [],
                          "configuration": {}, "createdTime": 0}},
        ]:
            f.write(_json.dumps(a) + "\n")
    e = scan_table(spark, sf_dir, "events")
    kbase = F.concat_ws(
        "-", F.col("event_type"), F.col("event_id").cast("string")
    )
    rows = e.select(
        F.col("event_id").alias("id"),
        F.when(F.col("event_id") % 2 == 0, F.upper(kbase))
        .otherwise(kbase)
        .alias("k"),
        F.col("value").alias("v"),
    )
    write_delta(spark, rows, table, mode="append")
    src = e.filter(F.col("event_id") % 7 == 0).select(
        F.col("event_id").alias("id"),
        F.lower(kbase).alias("k"),
        (F.col("value") + 1000).alias("v"),
    ).unionByName(
        e.filter(F.col("event_id") % 13 == 0).select(
            (F.col("event_id") + 1_000_000_000).alias("id"),
            F.concat(
                F.lit("new-"), F.col("event_id").cast("string")
            ).alias("k"),
            (F.col("value") + 5).alias("v"),
        )
    )
    # keyed on the COLLATED column: the matched branch exists only if
    # the key join folds ('pageview-124' must match 'PAGEVIEW-124')
    merge_delta(spark, table, src, key_cols=["k"])
    out = read_delta(spark, table)
    return (
        out.groupBy(
            F.lower(F.split(F.col("k"), "-")[0]).alias("t")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("v")).alias("total_v"),
        )
        .orderBy("t")
    )


@query(
    "delta_iceberg_compat_mart",
    oracle=f"""
    WITH base AS (SELECT event_id AS id, event_type, value FROM events),
    upd AS (
        SELECT id, event_type,
               CASE WHEN id % 7 = 0 THEN value + 1000 ELSE value END AS v
        FROM base
    ),
    ins AS (
        SELECT id + 1000000000 AS id, event_type, value + 5 AS v
        FROM base WHERE id % 13 = 0
    ),
    m AS (SELECT * FROM upd UNION ALL SELECT * FROM ins)
    SELECT event_type AS t,
           COUNT(*) AS n_rows,
           {dsum_sql('v')} AS total_v
    FROM m GROUP BY event_type ORDER BY t
    """,
)
def delta_iceberg_compat_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """icebergCompatV2 lifecycle under the full value-hash gate (r13):
    events land in a PLAIN table, column mapping + compat are enabled
    (the enable pass REWRITES every unstamped file dataChange=false),
    then a MERGE updates/inserts through the stamping commit path and
    the mart aggregates the end state. The oracle reproduces it from
    the raw parquet alone — a row lost or duplicated by the
    enable-rewrite, or a mis-stamped file breaking the merge's read,
    surfaces as a hash mismatch."""
    from ..operators.delta_alter import enable_column_mapping, enable_iceberg_compat
    from ..operators.delta_log import write_delta
    from ..operators.delta_merge import merge_delta
    from ..operators.delta_scan import read_delta

    table = os.path.join(
        "/tmp", "pdp_delta_q", f"pid{os.getpid()}",
        f"iceberg_compat_{os.path.basename(os.path.normpath(sf_dir))}",
    )
    shutil.rmtree(table, ignore_errors=True)
    e = scan_table(spark, sf_dir, "events")
    rows = e.select(
        F.col("event_id").alias("id"),
        F.col("event_type").alias("t"),
        F.col("value").alias("v"),
    )
    write_delta(spark, rows, table)
    enable_column_mapping(spark, table)
    enable_iceberg_compat(spark, table, version=2)
    src = rows.filter(F.col("id") % 7 == 0).withColumn(
        "v", F.col("v") + 1000
    ).unionByName(
        rows.filter(F.col("id") % 13 == 0).select(
            (F.col("id") + 1_000_000_000).alias("id"),
            "t",
            (F.col("v") + 5).alias("v"),
        )
    )
    merge_delta(spark, table, src, key_cols=["id"])
    out = read_delta(spark, table)
    return (
        out.groupBy("t")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("v")).alias("total_v"),
        )
        .orderBy("t")
    )
