"""Medallion tests: the weather bronze's layout and K4 day-level
overwrite on Delta, and the JDBC warehouse writer's upsert and
partitioned read-back, driven against embedded Derby."""

from __future__ import annotations

import datetime as dt
import json
import os

from pyspark.sql import functions as F

from portfolio_data_pipelines_spark.config import PipelineConfig
from portfolio_data_pipelines_spark.operators.delta_scan import read_delta
from portfolio_data_pipelines_spark.runner import WeatherPipeline
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


def _payload(day: int, hours: int = 4) -> str:
    """An Open-Meteo-shaped payload of ``hours`` hourly rows on 2025-08-``day``."""
    return json.dumps({
        "hourly": {
            "time": [f"2025-08-{day:02d}T{h:02d}:00" for h in range(hours)],
            "temperature_2m": [20.0 + h for h in range(hours)],
            "relative_humidity_2m": [50.0] * hours,
        },
        "_meta": {"lat": "-23.55", "lon": "-46.63", "ingested_at": "2025-08-20T12:00:00Z"},
    })


def _day_files(table: str, day: str) -> list[str]:
    """The data files under one ``date=`` directory of the bronze."""
    return sorted(
        f for f in os.listdir(os.path.join(table, f"date={day}")) if f.endswith(".parquet")
    )


class TestBronzeWriter:
    """The weather bronze is written by ``WeatherPipeline.transform_and_store``
    (a day-scoped Delta overwrite); these pin the reference's lake layout
    and its day-level re-run contract on it."""

    def test_hive_layout_and_zstd(self, spark, tmp_path):
        cfg = PipelineConfig(lake_root=str(tmp_path / "lake"))
        m = WeatherPipeline(spark, config=cfg).transform_and_store(_payload(20))
        # Hive-style date= directories (K2 parity)
        assert any(d.startswith("date=2025-08-20") for d in os.listdir(m.path))
        files = _day_files(m.path, "2025-08-20")
        assert len(files) == 1  # one file per day per batch, like the reference
        assert ".zstd." in files[0]
        assert os.path.isdir(os.path.join(m.path, "_delta_log"))

    def test_dynamic_overwrite_only_touches_batch_days(self, spark, tmp_path):
        cfg = PipelineConfig(lake_root=str(tmp_path / "lake"))
        p = WeatherPipeline(spark, config=cfg)
        m = p.transform_and_store(_payload(20))
        first = _day_files(m.path, "2025-08-20")
        p.transform_and_store(_payload(21))
        assert _day_files(m.path, "2025-08-20") == first  # day 20 left alone
        assert read_delta(spark, m.path).count() == 8  # day-21 write did not clobber day-20


def test_bronze_uri_scheme_bucket_layout(spark, tmp_path):
    """K2 end-to-end through an explicit URI scheme: a file:// lake root
    exercises the same Hadoop FileSystem abstraction an s3a:// bucket uses
    (scheme -> FS impl resolution, qualified-path key construction); only
    the FS implementation differs. Asserts the Hive-key layout and a
    round-trip read through the same URI."""
    bucket = f"file://{tmp_path}/lake-bucket"
    m = WeatherPipeline(spark, config=PipelineConfig(lake_root=bucket)).transform_and_store(
        _payload(22)
    )
    assert m.path == f"{bucket}/weather"
    local = str(tmp_path / "lake-bucket" / "weather")
    part_dir = os.path.join(local, "date=2025-08-22")
    assert os.path.isdir(part_dir), os.listdir(local)
    assert any(f.endswith(".parquet") for f in os.listdir(part_dir))
    back = read_delta(spark, m.path)
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
