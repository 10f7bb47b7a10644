"""portfolio_data_pipelines_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the capabilities of the reference repo
``LuccaGianKolenez/portfolio-data-pipelines`` (Airflow + Polars + Parquet/S3
+ Postgres + dbt batch ELT) as one idiomatic Spark engine:

- ``session``   — configured SparkSession factory (UTC, zstd, AQE,
  dynamic partition overwrite).
- ``schemas``   — explicit StructType contracts at every boundary
  (the reference declares schemas explicitly; so do we).
- ``sources``   — ingestion: JSON payload parsing (weather / FX),
  typed parquet scans of the star schema.
- ``operators`` — the Delta lake (the bronze's idempotent day-scoped
  overwrite, MERGE, time travel), JDBC warehouse writers, dedup,
  similarity search, text analysis, multimodal plumbing.
- ``plans``     — dbt-like model registry (ref/source resolution, tags,
  topological view builds, declarative data-quality tests).
- ``streaming`` — Structured Streaming restatement of the hourly cadence
  (watermarks, tumbling/sliding/session windows, stateful ops).
- ``runner``    — the 4-stage linear pipeline driver with retry semantics.

Everything is DataFrame/SQL-first: Catalyst plans the physical execution;
Python UDFs appear only where built-ins genuinely cannot express the
semantics (and then always Arrow-batched, never per-row).
"""

__version__ = "0.1.0"
