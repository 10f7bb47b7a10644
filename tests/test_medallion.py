"""Medallion writer tests: layout, zstd, and the K4 idempotency contract."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

from portfolio_data_pipelines_spark.operators.medallion import write_bronze
from portfolio_data_pipelines_spark.schemas import WEATHER_BRONZE


def _batch(spark, day: int, n: int = 4, temp: float = 20.0):
    rows = [
        (
            dt.datetime(2025, 8, day, h),
            temp + h,
            50.0,
            "-23.55",
            "-46.63",
            dt.datetime(2025, 8, day, 12),
        )
        for h in range(n)
    ]
    return spark.createDataFrame(rows, schema=WEATHER_BRONZE)


class TestBronzeWriter:
    def test_hive_layout_and_zstd(self, spark, tmp_path):
        path = str(tmp_path / "bronze")
        write_bronze(_batch(spark, day=20), path)
        # Hive-style date= directories (K2 parity)
        assert any(d.startswith("date=2025-08-20") for d in os.listdir(path))
        part_dir = os.path.join(path, "date=2025-08-20")
        files = [f for f in os.listdir(part_dir) if f.endswith(".parquet")]
        assert len(files) == 1  # one file per day per batch, like the reference
        assert ".zstd." in files[0]

    def test_dynamic_overwrite_only_touches_batch_days(self, spark, tmp_path):
        path = str(tmp_path / "bronze2")
        write_bronze(_batch(spark, day=20), path)
        write_bronze(_batch(spark, day=21), path)
        df = spark.read.parquet(path)
        assert df.count() == 8  # day-21 write did not clobber day-20

    def test_rerun_same_day_idempotent(self, spark, tmp_path):
        path = str(tmp_path / "bronze3")
        write_bronze(_batch(spark, day=20, temp=20.0), path)
        write_bronze(_batch(spark, day=20, temp=30.0), path)  # reprocess day
        df = spark.read.parquet(path)
        assert df.count() == 4  # replaced, not appended
        assert df.agg(F.min("temperature_2m")).first()[0] == 30.0


def test_bronze_date_filter_prunes_partitions(spark, tmp_path):
    """A date predicate on the bronze lake must prune at the partition
    level (PartitionFilters in the scan), not post-filter rows — the
    property that makes day-scoped queries O(day) instead of O(lake)."""
    from pyspark.sql import functions as F

    from portfolio_data_pipelines_spark.operators.medallion import write_bronze
    from portfolio_data_pipelines_spark.sources.parquet import scan_table

    out = str(tmp_path / "bronze_prune")
    write_bronze(
        scan_table(spark, "/root/testdata/sf0.001", "events"),
        out, partition_col="date", derive_from="ts",
    )
    one_day = spark.read.parquet(out).filter(F.col("date") == "2024-01-05")
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    # The predicate lands in PartitionFilters (directory-level pruning),
    # not DataFilters (row-level post-filtering).
    assert "PartitionFilters: [isnotnull(date" in plan
    assert "= 2024-01-05)" in plan.split("PartitionFilters:")[1].split("]")[0]
    assert one_day.count() > 0


def test_compact_partition_merges_small_files(spark, tmp_path):
    from pyspark.sql import functions as F

    from portfolio_data_pipelines_spark.operators.medallion import compact_partition
    from portfolio_data_pipelines_spark.sources.parquet import scan_table

    out = str(tmp_path / "frag")
    src = scan_table(spark, "/root/testdata/sf0.001", "events").withColumn(
        "date", F.to_date("ts")
    )
    one_day = src.filter(F.col("date") == "2024-01-05")
    # Fragment: 8 separate appends → ≥8 files in the partition.
    for _ in range(8):
        one_day.coalesce(1).write.mode("append").partitionBy("date").parquet(out)
    # Materialize the pre-compaction rows: the lazy plan would re-list
    # files after the rewrite deleted them.
    before_rows = sorted(map(tuple, spark.read.parquet(out).collect()))

    n_files = compact_partition(spark, out, "date", "2024-01-05")
    after = spark.read.parquet(out)
    assert n_files == 1  # tiny partition → single file
    assert sorted(map(tuple, after.collect())) == before_rows  # no rows lost


def test_bronze_uri_scheme_bucket_layout(spark, tmp_path):
    """K2 end-to-end through an explicit URI scheme: writing to a
    file:// "bucket" exercises the same Hadoop FileSystem abstraction an
    s3a:// target uses (scheme -> FS impl resolution, qualified-path key
    construction); only the FS implementation differs. Asserts the
    Hive-key layout and a round-trip read through the same URI."""
    bucket = f"file://{tmp_path}/lake-bucket/weather"
    write_bronze(_batch(spark, day=22), bucket)
    local = str(tmp_path / "lake-bucket" / "weather")
    part_dir = os.path.join(local, "date=2025-08-22")
    assert os.path.isdir(part_dir), os.listdir(local)
    assert any(f.endswith(".parquet") for f in os.listdir(part_dir))
    back = spark.read.parquet(bucket)
    assert back.count() == 4
    assert set(back.select("date").distinct().toPandas()["date"].astype(str)) == {"2025-08-22"}


class TestJdbcWarehouse:
    """K4 over JDBC, driven end-to-end against embedded Derby — the one
    JDBC engine whose driver ships inside pyspark's jars. Covers table
    creation, the delete-then-append upsert, idempotent re-runs, and
    the identifier guard."""

    URL_TMPL = "jdbc:derby:{db};create=true"

    def _ddl(self, spark, url: str, sql: str) -> None:
        jvm = spark._jvm
        conn = jvm.java.sql.DriverManager.getConnection(url)
        try:
            st = conn.createStatement()
            st.executeUpdate(sql)
            st.close()
        finally:
            conn.close()

    def test_upsert_roundtrip_idempotent(self, spark, tmp_path):
        import pytest

        from portfolio_data_pipelines_spark.operators.medallion import write_warehouse_jdbc

        url = self.URL_TMPL.format(db=tmp_path / "derbydb")
        # `time` is reserved in Derby; the warehouse column is ts there.
        self._ddl(
            spark, url,
            "CREATE TABLE weather_hourly (ts TIMESTAMP, temperature_2m DOUBLE)",
        )
        day = dt.date(2025, 8, 20)
        batch = _batch(spark, day=20).select(
            F.col("time").alias("ts"), "temperature_2m"
        )

        write_warehouse_jdbc(batch, url, "weather_hourly", day, date_col="ts")
        props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
        assert spark.read.jdbc(url, "weather_hourly", properties=props).count() == 4

        # Re-running the same day replaces, never duplicates (K4).
        write_warehouse_jdbc(batch, url, "weather_hourly", day, date_col="ts")
        assert spark.read.jdbc(url, "weather_hourly", properties=props).count() == 4

        # Another day appends alongside.
        write_warehouse_jdbc(
            _batch(spark, day=21).select(F.col("time").alias("ts"), "temperature_2m"),
            url, "weather_hourly", dt.date(2025, 8, 21), date_col="ts",
        )
        assert spark.read.jdbc(url, "weather_hourly", properties=props).count() == 8

        with pytest.raises(ValueError, match="unsafe table identifier"):
            write_warehouse_jdbc(batch, url, "weather_hourly; DROP TABLE x", day)

    def test_partitioned_readback_with_pushdown(self, spark, tmp_path):
        import pytest

        from portfolio_data_pipelines_spark.operators.medallion import (
            read_warehouse_jdbc,
            write_warehouse_jdbc,
        )

        url = self.URL_TMPL.format(db=tmp_path / "derbydb_rb")
        self._ddl(
            spark, url,
            "CREATE TABLE weather_hourly (ts TIMESTAMP, temperature_2m DOUBLE)",
        )
        batches = [
            _batch(spark, day=20).select(F.col("time").alias("ts"), "temperature_2m"),
            _batch(spark, day=21).select(F.col("time").alias("ts"), "temperature_2m"),
        ]
        for day, b in zip((dt.date(2025, 8, 20), dt.date(2025, 8, 21)), batches):
            write_warehouse_jdbc(b, url, "weather_hourly", day, date_col="ts")

        got = read_warehouse_jdbc(
            spark, url, "weather_hourly",
            partition_column="ts", num_partitions=3,
            driver="org.apache.derby.jdbc.EmbeddedDriver",
        )
        # Round-trip equality vs what was written.
        expected = sorted(
            (r["ts"], r["temperature_2m"]) for b in batches for r in b.collect()
        )
        assert sorted((r["TS"], r["TEMPERATURE_2M"]) for r in got.collect()) == expected
        # The scan is genuinely partitioned: one range query per partition.
        assert got.rdd.getNumPartitions() == 3

        # Predicate pushdown reaches the JDBCRelation (warehouse-side WHERE).
        filtered = got.filter(F.col("TEMPERATURE_2M") > 15.0)
        plan = filtered._jdf.queryExecution().executedPlan().toString()
        assert "JDBCRelation" in plan
        assert "PushedFilters" in plan and "TEMPERATURE_2M" in plan.split("PushedFilters")[1][:200]
        exp_n = sum(1 for b in batches for r in b.collect() if r["temperature_2m"] > 15.0)
        assert filtered.count() == exp_n

        # Empty table: bounds probe finds no min/max, falls back to a plain scan.
        self._ddl(spark, url, "CREATE TABLE empty_t (ts TIMESTAMP, v DOUBLE)")
        empty = read_warehouse_jdbc(
            spark, url, "empty_t", partition_column="ts",
            driver="org.apache.derby.jdbc.EmbeddedDriver",
        )
        assert empty.count() == 0

        with pytest.raises(ValueError, match="unsafe partition_column"):
            read_warehouse_jdbc(spark, url, "weather_hourly", partition_column="ts; DROP")


class TestMergeUpsert:
    def test_update_insert_and_untouched_partitions(self, spark, tmp_path):
        from portfolio_data_pipelines_spark.operators.medallion import merge_upsert

        path = str(tmp_path / "merge_lake")
        merge_upsert(spark, path, _batch(spark, day=20, temp=20.0), key_cols=["time"])
        merge_upsert(spark, path, _batch(spark, day=21, temp=40.0), key_cols=["time"])
        assert spark.read.parquet(path).count() == 8

        # One matched key (hour 0 of day 20, new temp) + one new key (hour 9).
        upd = spark.createDataFrame(
            [
                (dt.datetime(2025, 8, 20, 0), 99.0, 50.0, "-23.55", "-46.63",
                 dt.datetime(2025, 8, 20, 13)),
                (dt.datetime(2025, 8, 20, 9), 77.0, 50.0, "-23.55", "-46.63",
                 dt.datetime(2025, 8, 20, 13)),
            ],
            schema=_batch(spark, day=20).schema,
        )
        merge_upsert(spark, path, upd, key_cols=["time"])

        lake = spark.read.parquet(path)
        d20 = lake.filter(F.col("date") == "2025-08-20")
        assert d20.count() == 5  # 4 original, 1 updated in place, 1 inserted
        temps = {r["time"]: r["temperature_2m"] for r in d20.collect()}
        assert temps[dt.datetime(2025, 8, 20, 0)] == 99.0   # WHEN MATCHED: updated
        assert temps[dt.datetime(2025, 8, 20, 1)] == 21.0   # untouched row kept
        assert temps[dt.datetime(2025, 8, 20, 9)] == 77.0   # WHEN NOT MATCHED: inserted
        # Partition not present in the update batch is never rewritten.
        d21 = lake.filter(F.col("date") == "2025-08-21")
        assert d21.count() == 4
        assert d21.agg(F.min("temperature_2m")).first()[0] == 40.0

    def test_merge_rerun_idempotent(self, spark, tmp_path):
        from portfolio_data_pipelines_spark.operators.medallion import merge_upsert

        path = str(tmp_path / "merge_lake2")
        batch = _batch(spark, day=20)
        merge_upsert(spark, path, batch, key_cols=["time"])
        merge_upsert(spark, path, batch, key_cols=["time"])  # same batch again
        assert spark.read.parquet(path).count() == 4


def test_jdbc_readback_numeric_partition_column(spark, tmp_path):
    """Numeric partitionColumn with explicit and probed bounds: all rows
    exactly once across the range queries."""
    from portfolio_data_pipelines_spark.operators.medallion import read_warehouse_jdbc

    url = f"jdbc:derby:{tmp_path}/derbynum;create=true"
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    st = conn.createStatement()
    st.executeUpdate("CREATE TABLE t (id INT, v DOUBLE)")
    for i in range(50):
        st.executeUpdate(f"INSERT INTO t VALUES ({i}, {i * 1.5})")
    st.close()
    conn.close()
    drv = "org.apache.derby.jdbc.EmbeddedDriver"
    # explicit bounds
    got = read_warehouse_jdbc(
        spark, url, "t", partition_column="id", num_partitions=4,
        lower_bound=0, upper_bound=49, driver=drv,
    )
    assert got.rdd.getNumPartitions() == 4
    assert sorted(r["ID"] for r in got.collect()) == list(range(50))
    # probed bounds (driver-side MIN/MAX)
    probed = read_warehouse_jdbc(
        spark, url, "t", partition_column="id", num_partitions=3, driver=drv
    )
    assert sorted(r["ID"] for r in probed.collect()) == list(range(50))
