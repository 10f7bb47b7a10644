"""Medallion writers (SURVEY §2.2 K1-K4, §7 M3).

The reference's sink contract, restated Spark-native:

- **Bronze (lake)**: zstd Parquet under Hive-style ``date=YYYY-MM-DD``
  partitions (``weather_hourly_pipeline.py:70-79``). Spark writes the
  partitioned layout directly — no per-file boto3 uploads.
- **Idempotent day-level upsert (K4)**: the reference deletes the day then
  re-inserts inside one transaction (``weather_hourly_pipeline.py:101-112``).
  Spark-native equivalent: *dynamic partition overwrite* — an
  ``INSERT OVERWRITE`` that replaces only the partitions present in the
  incoming batch. Running the same batch twice yields the same rows
  (idempotency test in tests/test_medallion.py).

Atomicity note (SURVEY §4 "hard parts" #1): dynamic partition overwrite on
plain Parquet is last-writer-wins per partition, not transactional across
partitions — readers can observe a partially-rewritten multi-day batch. The
reference has the same exposure (its DELETE+INSERT is transactional only
because one Postgres txn spans the whole batch). A table format with
commit atomicity (Delta/Iceberg — the reference's own roadmap,
``README.md:204,209``) closes the gap; the writer below works unchanged on
those via ``saveAsTable``/``replaceWhere``.

Scale notes:
- Partition column = ``to_date(time)`` → one directory per day; at 100 TB
  (~years of data × many locations) add a second partition level (e.g.
  location bucket) before any single day exceeds a few GB.
- ``repartition(partition_cols)`` before write: groups each output
  partition's rows into one task → one file per partition per batch, the
  same layout the reference produces, and avoids the many-small-files
  failure mode of a 32-way-parallel write of a tiny batch.
"""

from __future__ import annotations

import re
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_bronze(
    df: DataFrame,
    path: str,
    partition_col: str = "date",
    derive_from: str = "time",
    coalesce_files: bool = True,
) -> None:
    """Write a batch to the bronze lake, Hive-partitioned by date.

    Derives ``partition_col`` from ``derive_from`` when absent (the
    reference computes ``date`` from ``time`` at
    ``weather_hourly_pipeline.py:67``). Uses dynamic partition overwrite:
    re-running a batch replaces exactly its own days.
    """
    if partition_col not in df.columns:
        df = df.withColumn(partition_col, F.to_date(F.col(derive_from)))
    if coalesce_files:
        # One task per output day ⇒ one file per day per batch. For large
        # batches drop coalesce_files and let AQE size the tasks.
        df = df.repartition(partition_col)
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("compression", "zstd")
        .partitionBy(partition_col)
        .parquet(path)
    )


def write_partition_overwrite(
    df: DataFrame,
    table: str,
    partition_col: str = "date",
    derive_from: str = "time",
) -> None:
    """Idempotent day-level upsert into a catalog table (K4 parity).

    ``INSERT OVERWRITE`` with ``partitionOverwriteMode=dynamic`` (set in
    the session factory) replaces only the partitions present in ``df`` —
    the declarative form of the reference's ``DELETE WHERE time::date = %s``
    + ``executemany INSERT``.
    """
    spark = df.sparkSession
    if partition_col not in df.columns:
        df = df.withColumn(partition_col, F.to_date(F.col(derive_from)))
    if not spark.catalog.tableExists(table):
        (
            df.repartition(partition_col)
            .write.partitionBy(partition_col)
            .format("parquet")
            .saveAsTable(table)
        )
        return
    # insertInto is positional: align to the table's column order (the
    # partition column sits last in a saveAsTable-created schema).
    aligned = df.select(*spark.table(table).columns)
    (
        aligned.repartition(partition_col)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .insertInto(table)
    )


def write_warehouse_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    batch_date,
    date_col: str = "time",
    user: str | None = None,
    password: str | None = None,
    batchsize: int = 10_000,
) -> None:
    """Idempotent day-level upsert over JDBC (K4 on a row-store warehouse).

    The reference's exact contract (weather_hourly_pipeline.py:101-112):
    DELETE the batch day, then insert the batch rows — restated with the
    Spark JDBC writer instead of row-at-a-time ``executemany`` (the
    reference's slowest path, SURVEY §6): the pre-delete runs as one
    driver-side statement, then ``df.write.jdbc(mode="append")`` streams
    partition-parallel batched inserts.

    Atomicity caveat (same as the lake writer, SURVEY §4): delete and
    insert are separate transactions here; a reader between them sees an
    empty day. The reference wraps both in one psycopg commit — on JDBC
    that requires routing the insert through the same connection, which
    the parallel writer cannot do. For transactional parity use a
    staging-table swap or a MERGE-capable warehouse.

    Requires a JDBC driver jar on the Spark classpath and a reachable
    warehouse. The integration test drives this end-to-end against
    embedded Derby (whose jar ships inside pyspark); Postgres/MySQL need
    their driver vendored onto the classpath.
    """
    # Identifiers are interpolated into SQL text (JDBC can't bind them);
    # restrict to plain [schema.]name / column tokens so non-literal
    # config can never smuggle SQL. The date value IS bindable — use a
    # PreparedStatement parameter, not string interpolation.
    for ident, what in ((table, "table"), (date_col, "date_col")):
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_$]*(\.[A-Za-z_][A-Za-z0-9_$]*)?", ident):
            raise ValueError(f"unsafe {what} identifier: {ident!r}")
    props = {k: v for k, v in (("user", user), ("password", password)) if v}
    jvm = df.sparkSession._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url, props.get("user"), props.get("password"))
    try:
        ps = conn.prepareStatement(f"DELETE FROM {table} WHERE CAST({date_col} AS DATE) = ?")
        ps.setDate(1, jvm.java.sql.Date.valueOf(str(batch_date)))
        ps.executeUpdate()
        ps.close()
    finally:
        conn.close()
    (
        df.write.mode("append")
        .option("batchsize", str(batchsize))
        .jdbc(url, table, properties=props)
    )


def read_warehouse_jdbc(
    spark,
    url: str,
    table: str,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound=None,
    upper_bound=None,
    user: str | None = None,
    password: str | None = None,
    driver: str | None = None,
) -> DataFrame:
    """Partitioned JDBC read-back of the warehouse (S-side of K4).

    The reference's read path is Postgres-side views over the warehouse
    table (``dbt/models/staging/stg_weather_hourly.sql:8`` reading
    ``public.weather_hourly``); this is the Spark-side scan of the same
    table. With ``partition_column`` (numeric/date/timestamp), the scan
    issues ``num_partitions`` parallel range queries instead of one
    single-threaded cursor — the difference between a 1-task and an
    N-task stage when the warehouse table is large. Bounds are probed
    with one driver-side MIN/MAX when not supplied (the same scalar
    round-trip a catalog would cache).

    Predicate pushdown is free: ``.filter(...)`` on the returned
    DataFrame compiles into the JDBC query's WHERE clause (visible as
    ``PushedFilters`` on the JDBCRelation in ``.explain``), so the
    warehouse — not Spark — prunes rows. The integration test pins both
    properties against embedded Derby.
    """
    for ident, what in ((table, "table"),) + (
        ((partition_column, "partition_column"),) if partition_column else ()
    ):
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_$]*(\.[A-Za-z_][A-Za-z0-9_$]*)?", ident):
            raise ValueError(f"unsafe {what} identifier: {ident!r}")
    props = {k: v for k, v in (("user", user), ("password", password), ("driver", driver)) if v}
    if partition_column and (lower_bound is None or upper_bound is None):
        jvm = spark._jvm
        if driver:
            # DriverManager only auto-registers JDBC4 service-loaded drivers;
            # mirror the Spark reader's behavior of honoring the explicit class.
            jvm.java.lang.Class.forName(driver)
        conn = jvm.java.sql.DriverManager.getConnection(url, props.get("user"), props.get("password"))
        try:
            st = conn.createStatement()
            rs = st.executeQuery(
                f"SELECT MIN({partition_column}), MAX({partition_column}) FROM {table}"
            )
            rs.next()
            lower_bound = lower_bound if lower_bound is not None else rs.getString(1)
            upper_bound = upper_bound if upper_bound is not None else rs.getString(2)
            rs.close()
            st.close()
        finally:
            conn.close()
        if lower_bound is None or upper_bound is None:  # empty table
            partition_column = None
    # The options form (not reader.jdbc()) because the pyspark wrapper
    # coerces bounds to int — date/timestamp partition columns need their
    # bounds passed as strings for the JVM side to parse.
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in props.items():
        reader = reader.option(k, v)
    if partition_column:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    return reader.load()


def merge_upsert(
    spark,
    path: str,
    updates: DataFrame,
    key_cols: Sequence[str],
    partition_col: str = "date",
    derive_from: str = "time",
) -> None:
    """Row-level MERGE (upsert) into a partitioned parquet lake.

    The reference's roadmap asks for Delta/Iceberg + MERGE
    (``README.md:204,209``); this is the plain-parquet restatement:
    within each partition touched by ``updates``, rows matching on
    ``key_cols`` are replaced and new keys appended (WHEN MATCHED THEN
    UPDATE / WHEN NOT MATCHED THEN INSERT), untouched partitions are
    never read or written. Implementation: anti-join the existing slice
    against the updates on the keys, union the updates, rewrite only
    those partitions via dynamic partition overwrite.

    Scale: cost is O(touched partitions), not O(lake) — the anti-join
    shuffles only the affected days, and the per-partition rewrite is
    the same day-scoped write the bronze sink does. Atomicity matches
    the lake writer (last-writer-wins per partition, not transactional
    across partitions); on Delta/Iceberg swap this for native MERGE and
    gain commit atomicity with the same call shape.
    """
    keys = list(key_cols)
    if partition_col not in updates.columns:
        updates = updates.withColumn(partition_col, F.to_date(F.col(derive_from)))
    try:
        existing = spark.read.parquet(path)
    except Exception:  # first write: nothing to merge against
        updates.repartition(partition_col).write.mode("overwrite").option(
            "compression", "zstd"
        ).partitionBy(partition_col).parquet(path)
        return
    # Partition pruning: only the days present in the update batch are
    # scanned (driver-side collect of a handful of partition values —
    # the same scalar the reference passes around as the batch date).
    days = [r[0] for r in updates.select(partition_col).distinct().collect()]
    slice_ = existing.filter(F.col(partition_col).isin(days))
    kept = slice_.join(updates.select(*keys).distinct(), keys, "left_anti")
    merged = kept.select(*updates.columns).unionByName(updates)
    # The dynamic mode is pinned per-write, not inherited from the
    # session: under the default STATIC mode this overwrite would delete
    # the ENTIRE lake path and keep only the touched partitions — silent
    # data loss if called from a stock SparkSession.
    (
        merged.repartition(partition_col)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("compression", "zstd")
        .partitionBy(partition_col)
        .parquet(path)
    )


def compact_partition(
    spark,
    path: str,
    partition_col: str,
    partition_value,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Compact one Hive partition's small files (lake maintenance).

    Streaming/micro-batch sinks accrete one file per trigger per day
    (the many-small-files failure mode); readers then pay per-file open
    cost and tiny row groups. This rewrites a single partition into
    ``ceil(bytes / target_file_bytes)`` files via dynamic partition
    overwrite, so the rewrite is idempotent and scoped to that partition
    only — safe to run day-by-day behind the watermark while newer
    partitions keep ingesting. Returns the file count after compaction.

    At 100 TB this runs as a rolling maintenance job over closed
    partitions; table formats (Delta OPTIMIZE / Iceberg rewrite_data_files)
    are the managed equivalent.
    """
    import math

    from pyspark.sql import functions as F  # noqa: F811

    part_path = f"{path}/{partition_col}={partition_value}"
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(part_path)
    fs = p.getFileSystem(hconf)
    size = fs.getContentSummary(p).getLength()
    n_files = max(1, math.ceil(size / target_file_bytes))

    df = (
        spark.read.parquet(path)
        .filter(F.col(partition_col) == F.lit(partition_value))
        .repartition(n_files)
        .withColumn(partition_col, F.lit(partition_value))
    )
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )
    return sum(
        1 for f in fs.listStatus(p) if f.getPath().getName().endswith(".parquet")
    )
