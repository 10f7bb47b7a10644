"""Env-driven configuration (reference parity: O6 in SURVEY §2.9).

The reference wires lat/lon, API endpoints, S3 and Postgres connection
parameters through ``os.getenv`` with defaults
(``airflow/dags/weather_hourly_pipeline.py:18-20``,
``airflow/include/lib/s3_client.py:5-7``). We keep the same surface as a
dataclass so every knob is observable and testable, and add the Spark
tuning knobs the reference delegates to its engines.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field


def _env(name: str, default: str) -> str:
    return os.getenv(name, default)


@dataclass(frozen=True)
class PipelineConfig:
    """All pipeline knobs, env-overridable, with reference-parity defaults."""

    # Weather ingestion (reference: weather_hourly_pipeline.py:18-27)
    weather_lat: str = field(default_factory=lambda: _env("WEATHER_LAT", "-23.5505"))
    weather_lon: str = field(default_factory=lambda: _env("WEATHER_LON", "-46.6333"))
    weather_api_base: str = field(
        default_factory=lambda: _env("WEATHER_API_BASE", "https://api.open-meteo.com/v1/forecast")
    )
    http_timeout_s: int = field(default_factory=lambda: int(_env("HTTP_TIMEOUT_S", "30")))
    http_retries: int = field(default_factory=lambda: int(_env("HTTP_RETRIES", "1")))

    # FX ingestion (reference: .env.example:22-24)
    fx_api_base: str = field(
        default_factory=lambda: _env("EXTERNAL_API_BASE", "https://api.exchangerate.host")
    )
    fx_api_endpoint: str = field(default_factory=lambda: _env("EXTERNAL_API_ENDPOINT", "/latest"))
    fx_base_currency: str = field(default_factory=lambda: _env("EXTERNAL_API_BASE_CURRENCY", "USD"))

    # Lake layout (reference: weather_hourly_pipeline.py:70-79)
    lake_root: str = field(default_factory=lambda: _env("LAKE_ROOT", "/tmp/lake"))
    lake_bucket: str = field(default_factory=lambda: _env("S3_BUCKET", "datalake"))
    #: The bronze is always Delta; "delta" is the one value WeatherPipeline
    #: accepts, so a stale LAKE_FORMAT fails loudly instead of switching.
    lake_format: str = field(default_factory=lambda: _env("LAKE_FORMAT", "delta"))

    # Optional S3/MinIO endpoint surface (reference: s3_client.py:4-15).
    # When s3_endpoint is set, the session factory injects fs.s3a.* conf.
    s3_endpoint: str = field(default_factory=lambda: _env("S3_ENDPOINT", ""))
    s3_access_key: str = field(default_factory=lambda: _env("S3_ACCESS_KEY", ""))
    s3_secret_key: str = field(default_factory=lambda: _env("S3_SECRET_KEY", ""))

    # Spark tuning
    shuffle_partitions: int = field(
        default_factory=lambda: int(_env("SPARK_SHUFFLE_PARTITIONS", "32"))
    )
    max_partition_bytes: str = field(
        default_factory=lambda: _env("SPARK_MAX_PARTITION_BYTES", "134217728")
    )
    cpus: int = field(default_factory=lambda: int(_env("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))))

    # Testdata location used by the driver harness
    sf_dir: str = field(default_factory=lambda: _env("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))


DEFAULT_CONFIG = PipelineConfig()
