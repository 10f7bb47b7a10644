"""Warehouse writers over JDBC (SURVEY §2.2 K3/K4).

The reference loads each hourly batch into Postgres with a
delete-day-then-insert inside one transaction
(``weather_hourly_pipeline.py:101-112``) and reads the warehouse back
through dbt views. These are the Spark-native restatements: a
day-scoped JDBC upsert and a partitioned JDBC read-back. The lake-side
bronze is Delta (``operators/delta_log.write_delta``), whose
day-scoped ``replace_partitions`` overwrite commits every day of a
batch atomically.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


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

    Atomicity caveat (SURVEY §4): delete and
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
