"""End-to-end tests for the weather vertical (SURVEY §7 M1, §5 implication b).

Mirrors the reference's smoke path — payload → bronze parquet → warehouse
relation → staging view → daily mart — with hand-computed goldens, plus the
fixture variants FIXTURES.md §1 mandates: empty payload, missing keys,
malformed timestamps.
"""

from __future__ import annotations

import datetime as dt
import json

import pytest

from portfolio_data_pipelines_spark.runner import WeatherPipeline
from portfolio_data_pipelines_spark.config import PipelineConfig
from portfolio_data_pipelines_spark.sources.fx import fx_payload_to_df
from portfolio_data_pipelines_spark.sources.weather import weather_payload_to_df


def next_job_id(spark) -> int:
    """The DAGScheduler's next job id: the difference across a call is
    the number of Spark jobs it launched."""
    nxt = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
    return int(nxt if isinstance(nxt, int) else nxt.get())


def plan_leaves(df) -> list[str]:
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    return [leaves.apply(i).nodeName() for i in range(leaves.size())]


def payload_fixture(days: int = 2, per_day: int = 24) -> dict:
    times, temps, hums = [], [], []
    for d in range(days):
        for h in range(per_day):
            times.append(f"2025-08-{20 + d:02d}T{h:02d}:00")
            temps.append(15.0 + d + h * 0.25)
            hums.append(50.0 + (h % 10))
    return {
        "hourly": {
            "time": times,
            "temperature_2m": temps,
            "relative_humidity_2m": hums,
        },
        "_meta": {"lat": "-23.5505", "lon": "-46.6333", "ingested_at": "2025-08-20T12:00:00Z"},
    }


class TestWeatherTransform:
    def test_normal_payload(self, spark):
        df = weather_payload_to_df(spark, payload_fixture())
        assert df.columns == [
            "time",
            "temperature_2m",
            "relative_humidity_2m",
            "lat",
            "lon",
            "ingested_at",
        ]
        rows = df.collect()
        assert len(rows) == 48
        assert rows[0]["lat"] == "-23.5505"  # strings, not floats
        assert isinstance(rows[0]["time"], dt.datetime)
        assert rows[0]["ingested_at"] == dt.datetime(2025, 8, 20, 12, 0, 0)

    def test_empty_payload_typed_empty_frame(self, spark):
        df = weather_payload_to_df(spark, {})
        assert df.count() == 0
        # schema must survive emptiness (weather_transform.py:18-23 parity)
        assert [f.dataType.simpleString() for f in df.schema.fields] == [
            "timestamp",
            "double",
            "double",
            "string",
            "string",
            "timestamp",
        ]

    def test_missing_keys_tolerated(self, spark):
        df = weather_payload_to_df(spark, {"hourly": {"time": None}})
        assert df.count() == 0

    def test_malformed_timestamps_null_not_error(self, spark):
        p = payload_fixture(days=1, per_day=3)
        p["hourly"]["time"][1] = "not-a-timestamp"
        df = weather_payload_to_df(spark, p)
        got = df.select("time").collect()
        assert got[1]["time"] is None  # strict=False parity
        assert got[0]["time"] is not None

    def test_integer_and_null_readings_are_doubles(self, spark):
        # JSON integers (21) must not crash the build; the reference's
        # Polars cast accepts them too
        p = payload_fixture(days=1, per_day=3)
        p["hourly"]["temperature_2m"] = [21, 15.5, None]
        p["hourly"]["relative_humidity_2m"] = [40.5, 80, 55.0]
        df = weather_payload_to_df(spark, p)
        assert df.schema["temperature_2m"].dataType.simpleString() == "double"
        rows = df.collect()
        assert [r["temperature_2m"] for r in rows] == [21.0, 15.5, None]
        assert [r["relative_humidity_2m"] for r in rows] == [40.5, 80.0, 55.0]
        assert isinstance(rows[0]["temperature_2m"], float)
        assert isinstance(rows[1]["relative_humidity_2m"], float)

    @pytest.mark.parametrize("arrow", ["true", "false"])
    def test_payload_frames_plan_as_local_relation(self, spark, arrow):
        """Driver-side payloads plan as a JVM LocalRelation, never as a
        Python RDD that starts Python workers on every action — also
        with Arrow conversion switched off."""
        key = "spark.sql.execution.arrow.pyspark.enabled"
        before = spark.conf.get(key)
        spark.conf.set(key, arrow)
        try:
            weather = weather_payload_to_df(spark, payload_fixture(days=1))
            assert plan_leaves(weather) == ["LocalRelation"]
            assert weather.count() == 24
            fx = fx_payload_to_df(
                spark, {"date": "2025-08-20", "rates": {"EUR": 0.9, "BRL": None}}
            )
            assert plan_leaves(fx) == ["LocalRelation"]
            assert {r["quote_ccy"]: r["rate"] for r in fx.collect()} == {
                "BRL": None, "EUR": 0.9,
            }
        finally:
            spark.conf.set(key, before)


class TestPipelineEndToEnd:
    @pytest.fixture()
    def pipeline(self, spark, tmp_path):
        cfg = PipelineConfig(lake_root=str(tmp_path / "lake"))
        raw = json.dumps(payload_fixture(days=2))
        return WeatherPipeline(spark, config=cfg, fetcher=lambda: raw)

    def test_full_run_builds_mart(self, spark, pipeline):
        built = pipeline.run()
        assert set(built) == {"stg_stg_weather_hourly", "marts_weather_daily"}
        mart = spark.table("marts_weather_daily").orderBy("date_utc").collect()
        assert [str(r["date_utc"]) for r in mart] == ["2025-08-20", "2025-08-21"]
        # golden: day-0 temps are 15.0 + h*0.25 for h in 0..23 → avg 17.875
        assert mart[0]["avg_temp_c"] == pytest.approx(17.875)
        assert mart[0]["max_temp_c"] == pytest.approx(15.0 + 23 * 0.25)
        assert mart[0]["min_temp_c"] == pytest.approx(15.0)
        assert mart[1]["avg_temp_c"] == pytest.approx(18.875)

    def test_warehouse_schema_narrowed(self, spark, pipeline):
        pipeline.run()
        wh = spark.table("weather_hourly")
        assert wh.columns == ["time", "temperature_2m", "relative_humidity_2m", "ingested_at"]

    def test_rerun_is_idempotent(self, spark, pipeline):
        pipeline.run()
        first = spark.table("weather_hourly").count()
        pipeline.run()  # same batch again — K4 contract: no duplicates
        assert spark.table("weather_hourly").count() == first

    def test_manifest_date_is_min_parsed_date(self, pipeline):
        p = payload_fixture(days=3)
        p["hourly"]["time"][0] = "not-a-timestamp"  # the NULL day
        m = pipeline.transform_and_store(json.dumps(p))
        assert m.date == "2025-08-20"  # NULL day ignored
        assert m.rows == 72  # NULL-day row still landed

    def test_delta_batch_job_budget(self, spark, tmp_path):
        """A batch on an existing Delta bronze — stage 2's one per-day
        count, the staged write, the warehouse load, the models with one
        quality pass, and the mart collect — stays within 10 Spark jobs."""
        cfg = PipelineConfig(lake_root=str(tmp_path / "lake_d"))
        p = WeatherPipeline(spark, config=cfg)

        def batch(payload: dict) -> None:
            built = p.run(json.dumps(payload))
            built["marts_weather_daily"].collect()

        batch(payload_fixture(days=2))
        start = next_job_id(spark)
        batch(payload_fixture(days=3))
        assert next_job_id(spark) - start <= 10
        mart = spark.table("marts_weather_daily").orderBy("date_utc").collect()
        assert [str(r["date_utc"]) for r in mart] == [
            "2025-08-20", "2025-08-21", "2025-08-22",
        ]

    def test_checkpoint_batch_job_budget(self, spark, tmp_path, monkeypatch):
        """The batch whose commit is checkpointed, and the batch after it
        (which replays from that checkpoint), keep the same ≤10-job
        budget: the checkpoint is written and read without Spark."""
        import os

        from portfolio_data_pipelines_spark.operators import delta_checkpoint

        monkeypatch.setattr(delta_checkpoint, "DELTA_CHECKPOINT_EVERY", 3)
        cfg = PipelineConfig(lake_root=str(tmp_path / "lake_c"))
        p = WeatherPipeline(spark, config=cfg)
        log_dir = f"{cfg.lake_root}/weather/_delta_log"

        def batch(days: int) -> int:
            start = next_job_id(spark)
            p.run(json.dumps(payload_fixture(days=days)))["marts_weather_daily"].collect()
            return next_job_id(spark) - start

        for days in (1, 2, 3):  # versions 0-2
            batch(days)
        assert not os.path.exists(f"{log_dir}/_last_checkpoint")
        assert batch(4) <= 10  # version 3: the checkpoint batch
        assert os.path.exists(f"{log_dir}/{3:020d}.checkpoint.parquet")
        assert batch(5) <= 10  # version 4 replays from the checkpoint
        mart = spark.table("marts_weather_daily").collect()
        assert len(mart) == 5

    def test_parquet_lake_format_is_refused(self, spark):
        """The plain-parquet bronze is gone: a stale ``LAKE_FORMAT=parquet``
        fails loudly instead of silently switching format."""
        with pytest.raises(ValueError, match="'parquet'.*parquet bronze was removed"):
            WeatherPipeline(spark, config=PipelineConfig(lake_format="parquet"))

    def test_empty_batch_short_circuits(self, spark, tmp_path):
        cfg = PipelineConfig(lake_root=str(tmp_path / "lake2"))
        p = WeatherPipeline(spark, config=cfg, fetcher=lambda: json.dumps({}))
        assert p.run() == {}

    def test_quality_gate_fails_on_out_of_range(self, spark, tmp_path):
        bad = payload_fixture(days=1)
        bad["hourly"]["temperature_2m"][0] = 999.0  # breaches −80..60 sanity
        cfg = PipelineConfig(lake_root=str(tmp_path / "lake3"))
        p = WeatherPipeline(spark, config=cfg, fetcher=lambda: json.dumps(bad))
        with pytest.raises(AssertionError, match="data-quality"):
            p.run()


def test_unique_expectation(spark):
    """dbt `unique` parity: duplicate keys are counted as violations."""
    from portfolio_data_pipelines_spark.plans.quality import run_expectations, unique

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (2, "c"), (3, "d"), (3, "e")], "id bigint, v string"
    )
    dup, composite = run_expectations(df, [unique("id"), unique(["id", "v"])])
    assert not dup.passed and dup.violations == 2  # ids 2 and 3
    assert composite.passed  # (id, v) pairs are all distinct


def test_freshness_expectation(spark):
    """dbt source `freshness` parity with an injectable clock."""
    import datetime as dt

    from portfolio_data_pipelines_spark.plans.quality import freshness, run_expectations

    df = spark.createDataFrame(
        [(dt.datetime(2025, 8, 1, 10),), (dt.datetime(2025, 8, 1, 12),)], "ts timestamp"
    )
    fresh, stale = run_expectations(
        df,
        [
            freshness("ts", 6, now=dt.datetime(2025, 8, 1, 15)),   # newest 3h old
            freshness("ts", 2, now=dt.datetime(2025, 8, 1, 15)),   # newest 3h old > 2h
        ],
    )
    assert fresh.passed
    assert not stale.passed and stale.violations == 1
    empty = spark.createDataFrame([], "ts timestamp")
    (r,) = run_expectations(empty, [freshness("ts", 6, now=dt.datetime(2025, 8, 1))])
    assert not r.passed  # no data counts as stale


def test_row_checks_run_as_one_action(spark):
    """Row-predicate expectations share one aggregation: a mixed list
    costs its non-row checks plus ONE row-check action, results keep the
    input order, and every count equals its own filtered count."""
    from pyspark.sql import functions as F

    from portfolio_data_pipelines_spark.plans.quality import (
        freshness,
        not_null,
        row_range,
        run_expectations,
        unique,
    )

    df = spark.createDataFrame(
        [
            (1, dt.datetime(2025, 8, 1, 10), 20.0, 50.0),
            (2, None, 99.0, 120.0),
            (2, dt.datetime(2025, 8, 1, 12), None, -5.0),
            (3, None, -90.0, 40.0),
        ],
        "id bigint, ts timestamp, temp double, rh double",
    )
    now = dt.datetime(2025, 8, 1, 15)
    checks = [
        not_null("ts"),
        freshness("ts", 6, now=now),
        row_range("temp", -80.0, 60.0),
        unique("id"),
        row_range("rh", 0.0, 100.0),
    ]

    def jobs(expectations) -> int:
        start = next_job_id(spark)
        run_expectations(df, expectations)
        return next_job_id(spark) - start

    jobs(checks)  # warm-up
    others = jobs([freshness("ts", 6, now=now), unique("id")])
    one_row_check = jobs([not_null("ts")])
    assert jobs(checks) == others + one_row_check

    got = run_expectations(df, checks)
    assert [r.name for r in got] == [
        "not_null(ts)", "freshness(ts,6h)", "range(temp,-80.0,60.0)",
        "unique(id)", "range(rh,0.0,100.0)",
    ]
    want = {
        0: df.filter(F.col("ts").isNull()).count(),
        2: df.filter(F.col("temp").isNotNull() & ~F.col("temp").between(-80.0, 60.0)).count(),
        4: df.filter(F.col("rh").isNotNull() & ~F.col("rh").between(0.0, 100.0)).count(),
    }
    assert want == {0: 2, 2: 2, 4: 2}
    for i, n in want.items():
        assert got[i].violations == n and not got[i].passed
    assert got[1].passed and got[1].violations == 0
    assert not got[3].passed and got[3].violations == 1
