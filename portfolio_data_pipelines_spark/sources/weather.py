"""Weather payload → typed DataFrame (SURVEY §2.3 P1-P3, §2.7 F1).

Re-expresses the reference transform
(``airflow/include/lib/weather_transform.py:4-37``) Spark-first:

- missing keys tolerated: ``payload.get("hourly") or {}`` semantics (P10);
- empty input → a **typed** empty DataFrame (the reference fabricates an
  explicit 6-column empty frame, ``weather_transform.py:18-23``);
- timestamps parsed non-strictly: malformed strings become NULL rather
  than failing the job (Polars ``strict=False`` → Spark
  ``F.try_to_timestamp``), per SURVEY §4 semantics note (b);
- ``lat``/``lon`` stay strings (reference keeps them Utf8).

The payload itself arrives driver-side (the reference fetches on an
Airflow worker with ``requests``); at reference scale (~168 rows/batch)
the columns are built into a ``pyarrow.Table`` on the driver, which Spark
plans as a JVM ``LocalRelation``: every action on the batch runs without
Python workers (a list of tuples would plan as a pickled Python RDD and
start them on every action). The Arrow ``float64`` columns also accept
JSON integer readings (``21``), as the reference's Polars cast does. For
partition-parallel ingestion of many payloads, feed a directory of raw
JSON files to ``spark.read.json`` or the streaming source instead.
"""

from __future__ import annotations

from typing import Any, Mapping

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import WEATHER_BRONZE

#: Raw (pre-cast) shape: timestamps as strings, the metrics as doubles,
#: mirroring how the reference builds from Python lists then casts.
_RAW_SCHEMA = pa.schema(
    [
        ("time", pa.string()),
        ("temperature_2m", pa.float64()),
        ("relative_humidity_2m", pa.float64()),
    ]
)


def weather_payload_to_df(spark: SparkSession, payload: Mapping[str, Any]) -> DataFrame:
    """Flatten an Open-Meteo-shaped payload into the 6-column bronze frame.

    Accepts the ``_meta``-enriched payload shape (FIXTURES.md §1). Missing
    or None-valued keys yield empty columns; ragged series are truncated
    to the shortest length (zip semantics, matching the columnar dict
    construction in the reference).
    """
    hourly = payload.get("hourly") or {}
    meta = payload.get("_meta") or {}
    times = hourly.get("time") or []
    temps = hourly.get("temperature_2m") or []
    hums = hourly.get("relative_humidity_2m") or []

    n = min(len(times), len(temps), len(hums))
    if n == 0:
        # Typed empty frame — the P7 empty-relation guard downstream
        # relies on schema presence even with zero rows.
        return spark.createDataFrame([], schema=WEATHER_BRONZE)

    raw = spark.createDataFrame(
        pa.Table.from_pydict(
            {"time": times[:n], "temperature_2m": temps[:n], "relative_humidity_2m": hums[:n]},
            schema=_RAW_SCHEMA,
        )
    )
    return raw.select(
        # try_to_timestamp: malformed → NULL, never an error (F1 parity).
        F.try_to_timestamp(F.col("time")).alias("time"),
        F.col("temperature_2m").cast("double").alias("temperature_2m"),
        F.col("relative_humidity_2m").cast("double").alias("relative_humidity_2m"),
        F.lit(meta.get("lat")).cast("string").alias("lat"),
        F.lit(meta.get("lon")).cast("string").alias("lon"),
        F.try_to_timestamp(
            F.lit(meta.get("ingested_at")),
            F.lit("yyyy-MM-dd'T'HH:mm:ss[.SSSSSS]'Z'"),
        ).alias("ingested_at"),
    )
