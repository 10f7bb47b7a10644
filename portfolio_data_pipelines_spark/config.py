"""Env-driven configuration (reference parity: O6 in SURVEY §2.9).

The reference wires lat/lon, API endpoints, S3 and Postgres connection
parameters through ``os.getenv`` with defaults
(``airflow/dags/weather_hourly_pipeline.py:18-20``,
``airflow/include/lib/s3_client.py:5-7``). The engine fetches nothing
over HTTP, so it keeps only the knobs its code reads: the ingestion
retry count, the lake root and format, the S3/MinIO endpoint, and the
Spark tuning knobs the reference delegates to its engines.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field


def _env(name: str, default: str) -> str:
    return os.getenv(name, default)


@dataclass(frozen=True)
class PipelineConfig:
    """All pipeline knobs, env-overridable, with reference-parity defaults."""

    # Ingestion retries (reference: weather_hourly_pipeline.py:14)
    http_retries: int = field(default_factory=lambda: int(_env("HTTP_RETRIES", "1")))

    # Lake layout (reference: weather_hourly_pipeline.py:70-79)
    lake_root: str = field(default_factory=lambda: _env("LAKE_ROOT", "/tmp/lake"))
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
