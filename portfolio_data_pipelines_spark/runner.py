"""Pipeline driver (SURVEY §2.9 O1-O4, §3.1): the 4-stage weather vertical.

The reference wires ``fetch → transform_and_store → load_postgres →
dbt_run`` as an Airflow DAG with XCom hops between worker processes
(``weather_hourly_pipeline.py:123-126``). Spark-native restatement: one
driver program; stage outputs stay in the driver (the XCom boundary
disappears); lineage is the Spark plan. Each stage remains independently
runnable with self-bootstrapping inputs — the reference's
``airflow tasks test`` contract (O4, ``weather_hourly_pipeline.py:53-59``).
"""

from __future__ import annotations

import json
import random
import time
from dataclasses import dataclass
from typing import Any, Callable, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import DEFAULT_CONFIG, PipelineConfig
from .operators.delta_log import write_delta
from .operators.delta_scan import read_delta
from .plans.models import default_registry
from .plans.quality import not_null, row_range, run_expectations
from .sources.weather import weather_payload_to_df


def with_retry(fn: Callable[[], Any], retries: int = 1, base_delay_s: float = 0.1) -> Any:
    """Retry wrapper (O3): the reference sets ``retries: 1``; its roadmap
    asks for exponential backoff + jitter (``README.md:188``)."""
    attempt = 0
    while True:
        try:
            return fn()
        except Exception:
            if attempt >= retries:
                raise
            time.sleep(base_delay_s * (2**attempt) * (1 + random.random()))
            attempt += 1


@dataclass
class StageResult:
    """The manifest the reference passes between tasks via XCom
    (``{date, parquet, s3_key, rows}`` at ``weather_hourly_pipeline.py:81``)."""

    date: str | None
    path: str | None
    rows: int


class WeatherPipeline:
    """fetch → transform_and_store → load_warehouse → run_models."""

    def __init__(
        self,
        spark: SparkSession,
        config: PipelineConfig | None = None,
        fetcher: Callable[[], str] | None = None,
    ) -> None:
        self.spark = spark
        self.cfg = config or DEFAULT_CONFIG
        if self.cfg.lake_format != "delta":
            raise ValueError(
                f"lake_format={self.cfg.lake_format!r} is not supported: the "
                "plain-parquet bronze was removed and the bronze is always "
                "Delta; set lake_format (LAKE_FORMAT) to 'delta'"
            )
        # Injectable fetcher: production would do an HTTP GET driver-side
        # (reference: requests.get with 30 s timeout); tests inject a
        # fixture payload. No network dependency in the engine itself.
        self._fetcher = fetcher

    # Stage 1 — fetch (S1). Returns the raw JSON string like the
    # reference task does (weather_hourly_pipeline.py:47-50).
    def fetch(self) -> str:
        if self._fetcher is None:
            raise RuntimeError(
                "no fetcher injected; pass fetcher= (the engine performs no "
                "implicit network I/O)"
            )
        return with_retry(self._fetcher, retries=self.cfg.http_retries)

    # Stage 2 — transform + bronze write (P1-P3, F1, A1, K1/K2). One
    # action, a per-day row count, yields every fact the stage needs:
    # emptiness (no groups, the P7 guard), the days the write replaces,
    # the manifest date (A1: the minimum parsed day) and the row count.
    # The bronze write is the stage's only other job.
    def transform_and_store(self, raw: str | None = None) -> StageResult:
        if raw is None:  # O4: self-bootstrap when run in isolation
            raw = self.fetch()
        payload: Mapping[str, Any] = json.loads(raw)
        df = weather_payload_to_df(self.spark, payload)
        with_date = df.withColumn("date", F.to_date(F.col("time")))
        day_rows = {r["date"]: r["count"] for r in with_date.groupBy("date").count().collect()}
        if not day_rows:
            return StageResult(date=None, path=None, rows=0)
        d = min((day for day in day_rows if day is not None), default=None)
        path = f"{self.cfg.lake_root}/weather"
        # Transaction-logged bronze: the reference's day-level idempotent
        # re-run contract becomes a replaceWhere-scoped overwrite —
        # re-running a batch tombstones exactly its own days' files, all
        # days commit atomically, and every ingest stays time-travelable.
        # Null dates (unparseable timestamps, F1's non-strict parse) stay
        # in bronze for audit — they live in the null partition, which the
        # replace set must include or the commit rejects the staged data.
        write_delta(
            self.spark, with_date, path,
            partition_col="date", mode="overwrite",
            replace_partitions=[
                day.isoformat() if day is not None else None for day in day_rows
            ],
        )
        return StageResult(
            date=d.isoformat() if d else None, path=path, rows=sum(day_rows.values())
        )

    # Stage 3 — warehouse load (K3/K4): re-read bronze, narrow to the
    # 4-column warehouse schema (P4), register as the `weather_hourly`
    # relation the models read. The reference's delete-day-then-insert is
    # the bronze's day-scoped Delta overwrite; the warehouse relation is a
    # view over the lake (no second copy, no row-at-a-time executemany).
    def load_warehouse(self, manifest: StageResult | None = None) -> DataFrame:
        if manifest is None or manifest.path is None:
            manifest = self.transform_and_store()
        if manifest.path is None:
            raise ValueError("empty batch: nothing to load")
        wh = (
            read_delta(self.spark, manifest.path)
            # P4 projection narrowing: lat/lon stay lake-only.
            .select("time", "temperature_2m", "relative_humidity_2m", "ingested_at")
            # The warehouse contract declares time not-null (dbt
            # sources.yml:9-10). Rows whose timestamp failed the
            # non-strict parse (F1 → NULL) stay in bronze for audit but
            # cannot enter the time-keyed warehouse.
            .filter(F.col("time").isNotNull())
        )
        wh.createOrReplaceTempView("weather_hourly")
        return wh

    # Stage 4 — model build (K5/O5) + data-quality checks (Q1-Q3).
    def run_models(self) -> dict[str, DataFrame]:
        built = default_registry().run(self.spark, tag="weather")
        wh = self.spark.table("weather_hourly")
        results = run_expectations(
            wh,
            [
                not_null("time"),
                row_range("temperature_2m", -80.0, 60.0),
                row_range("relative_humidity_2m", 0.0, 100.0),
            ],
        )
        failures = [r for r in results if not r.passed]
        if failures:
            raise AssertionError(f"data-quality failures: {failures}")
        return built

    # O1: the full linear DAG as one driver call.
    def run(self, raw: str | None = None) -> dict[str, DataFrame]:
        manifest = self.transform_and_store(raw)
        if manifest.rows == 0:
            return {}
        self.load_warehouse(manifest)
        return self.run_models()


# The flagship query (the ``weather_daily`` mart transposed onto the
# events table) has exactly one implementation — the oracled declared
# query; re-exported here so the driver entry point and the registry
# can never drift (r1 kept a near-twin using plain F.avg instead of
# the deterministic decimal davg).
from .queries.relational import daily_events_mart as events_daily_mart  # noqa: E402
