"""FX payload → typed DataFrame (the reference's unfinished second vertical).

The reference configures an exchangerate.host ``/latest`` pipeline
(``.env.example:22-24``, ``docker-compose.yml:97-99``) whose transform stub
just re-exports the weather transform (``airflow/include/lib/fx_transform.py:1``)
and whose two dbt models — ``stg_fx_rates``, ``fx_top10_daily`` — exist only
as names (``weather_hourly_pipeline.py:119``). We finish it: a ``/latest``
payload is ``{"base": "USD", "date": "YYYY-MM-DD", "rates": {ccy: rate}}``
and flattens into the long format of FIXTURES.md §4.

Like the weather source, the driver-side payload becomes a ``pyarrow.Table``
that Spark plans as a JVM ``LocalRelation`` (no Python workers on any
action); a ``null`` rate becomes a NULL ``rate``.
"""

from __future__ import annotations

from typing import Any, Mapping

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import FX_RATES

_RAW_SCHEMA = pa.schema([("quote_ccy", pa.string()), ("rate", pa.float64())])


def fx_payload_to_df(spark: SparkSession, payload: Mapping[str, Any]) -> DataFrame:
    """Flatten an exchangerate.host-shaped payload to long format."""
    rates = payload.get("rates") or {}
    meta = payload.get("_meta") or {}
    if not rates:
        return spark.createDataFrame([], schema=FX_RATES)

    ccys = sorted(rates)
    raw = spark.createDataFrame(
        pa.Table.from_pydict(
            {"quote_ccy": [str(c) for c in ccys], "rate": [rates[c] for c in ccys]},
            schema=_RAW_SCHEMA,
        )
    )
    return raw.select(
        F.try_to_date(F.lit(payload.get("date"))).alias("rate_date"),
        F.lit(payload.get("base") or "USD").cast("string").alias("base_ccy"),
        F.col("quote_ccy"),
        F.col("rate"),
        F.try_to_timestamp(
            F.lit(meta.get("ingested_at")),
            F.lit("yyyy-MM-dd'T'HH:mm:ss[.SSSSSS]'Z'"),
        ).alias("ingested_at"),
    )
