"""Generated columns (Delta spec: ``delta.generationExpression`` field
metadata, legacy writer version 4): writer-side compute/validate on
every commit path, survival through schema evolution, and the
scale payoff — partition pruning THROUGH the generation expression
(`day = CAST(ts AS DATE)`: predicates on ``ts`` prune ``day``
partitions).

Reference: the reference repo has no generated columns; semantics
follow the public Delta protocol and delta-spark behavior.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from portfolio_data_pipelines_spark.operators.delta_log import (
    delete_where,
    update_where,
    write_delta,
)
from portfolio_data_pipelines_spark.operators.delta_merge import merge_delta
from portfolio_data_pipelines_spark.operators.delta_scan import read_delta
from tests.delta_reader import (
    read_delta_external,
)


def _log_actions(path, version):
    with open(f"{path}/_delta_log/{version:020d}.json") as f:
        return [json.loads(l) for l in f.read().splitlines() if l.strip()]


def _mk(spark, tmp_path, name, n=60, days=6):
    path = str(tmp_path / name)
    df = spark.range(0, n).select(
        F.col("id"),
        F.expr(
            "timestamp '2024-03-01 06:00:00' + "
            f"make_dt_interval(CAST(id % {days} AS INT))"
        ).alias("ts"),
        (F.col("id") * 2).alias("val"),
    )
    write_delta(
        spark,
        df,
        path,
        partition_col="day",
        generated_cols={"day": "CAST(ts AS DATE)"},
    )
    return path


def test_creation_computes_and_records_expression(spark, tmp_path):
    path = _mk(spark, tmp_path, "t1")
    acts = _log_actions(path, 0)
    proto = next(a["protocol"] for a in acts if "protocol" in a)
    assert proto["minWriterVersion"] == 4
    meta = next(a["metaData"] for a in acts if "metaData" in a)
    fields = {f["name"]: f for f in json.loads(meta["schemaString"])["fields"]}
    assert (
        fields["day"]["metadata"]["delta.generationExpression"]
        == "CAST(ts AS DATE)"
    )
    rows = read_delta(spark, path).select("id", "ts", "day").collect()
    assert len(rows) == 60
    assert all(r["day"] == r["ts"].date() for r in rows)
    # partition layout is on the generated column
    assert any(a["add"]["partitionValues"].get("day") for a in acts if "add" in a)


def test_append_computes_when_omitted(spark, tmp_path):
    path = _mk(spark, tmp_path, "t2")
    more = spark.range(100, 110).select(
        F.col("id"),
        F.expr("timestamp '2024-03-09 01:00:00'").alias("ts"),
        (F.col("id") * 2).alias("val"),
    )
    write_delta(spark, more, path, partition_col="day")
    df = read_delta(spark, path)
    assert df.count() == 70
    got = df.filter(F.col("id") >= 100).select("day").distinct().collect()
    assert [str(r["day"]) for r in got] == ["2024-03-09"]
    # external reader sees the same rows (writer-only feature)
    names, rows = read_delta_external(path)
    assert len(rows) == 70


def test_append_validates_provided_values(spark, tmp_path):
    path = _mk(spark, tmp_path, "t3")
    good = spark.range(200, 205).select(
        F.col("id"),
        F.expr("timestamp '2024-03-10 03:00:00'").alias("ts"),
        (F.col("id") * 2).alias("val"),
        F.expr("DATE '2024-03-10'").alias("day"),
    )
    write_delta(spark, good, path, partition_col="day")
    assert read_delta(spark, path).count() == 65
    bad = good.withColumn("day", F.expr("DATE '1999-01-01'"))
    with pytest.raises(ValueError, match="generated-column"):
        write_delta(spark, bad, path, partition_col="day")


def test_generated_cols_creation_only(spark, tmp_path):
    path = _mk(spark, tmp_path, "t4")
    more = spark.range(0, 3).select(
        F.col("id"), F.current_timestamp().alias("ts"),
        F.lit(0).cast("long").alias("val"),
    )
    with pytest.raises(ValueError, match="table creation"):
        write_delta(
            spark, more, path, partition_col="day",
            generated_cols={"day": "CAST(ts AS DATE)"},
        )


def test_merge_source_may_omit_generated_col(spark, tmp_path):
    path = _mk(spark, tmp_path, "t5")
    src = spark.range(0, 5).select(
        F.col("id"),
        F.expr("timestamp '2024-03-20 12:00:00'").alias("ts"),
        F.lit(999).cast("long").alias("val"),
    )
    merge_delta(spark, path, src, key_cols=["id"])
    rows = {
        r["id"]: (str(r["day"]), r["val"])
        for r in read_delta(spark, path).filter("id < 5").collect()
    }
    assert rows == {i: ("2024-03-20", 999) for i in range(5)}


def test_update_recomputes_generated_col(spark, tmp_path):
    path = _mk(spark, tmp_path, "t6")
    update_where(
        spark, path, "id = 7", {"ts": "timestamp '2024-04-01 00:30:00'"}
    )
    r = read_delta(spark, path).filter("id = 7").collect()[0]
    assert str(r["day"]) == "2024-04-01"
    # assigning the generated (partition) column directly is refused —
    # the partition-column guard fires first on this layout; a
    # non-partition generated column hits the generated-column guard
    with pytest.raises(ValueError, match="generated|partition"):
        update_where(spark, path, "id = 8", {"day": "DATE '2024-05-05'"})


def test_update_rejects_nonpartition_generated_assignment(spark, tmp_path):
    path = str(tmp_path / "t6b")
    df = spark.range(0, 10).select(
        F.col("id"), (F.col("id") * 3).alias("val")
    )
    write_delta(
        spark, df, path, generated_cols={"doubled": "val * 2"}
    )
    with pytest.raises(ValueError, match="generated column"):
        update_where(spark, path, "id = 1", {"doubled": "0"})
    # updating the base column recomputes the derived one
    update_where(spark, path, "id = 1", {"val": "100"})
    r = read_delta(spark, path).filter("id = 1").collect()[0]
    assert (r["val"], r["doubled"]) == (100, 200)


def test_delete_keeps_generated_table_consistent(spark, tmp_path):
    path = _mk(spark, tmp_path, "t7")
    delete_where(spark, path, "id % 2 = 0")
    rows = read_delta(spark, path).select("id", "ts", "day").collect()
    assert sorted(r["id"] for r in rows) == [i for i in range(60) if i % 2]
    assert all(r["day"] == r["ts"].date() for r in rows)


def test_predicate_on_base_col_prunes_partitions(spark, tmp_path):
    path = _mk(spark, tmp_path, "t8")
    full_files = len(read_delta(spark, path).inputFiles())
    pruned = read_delta(
        spark,
        path,
        predicate={
            "ts": ("2024-03-03 00:00:00", "2024-03-03 23:59:59")
        },
    )
    pruned_files = len(pruned.inputFiles())
    # 6 day-partitions; the range covers 1 day, padded ±1 → ≤ 3 days
    assert pruned_files < full_files, (pruned_files, full_files)
    assert pruned_files <= full_files // 2
    # superset guarantee: the exact filter on top returns exactly the
    # matching rows
    exact = pruned.filter(
        (F.col("ts") >= "2024-03-03 00:00:00")
        & (F.col("ts") <= "2024-03-03 23:59:59")
    )
    assert sorted(r["id"] for r in exact.select("id").collect()) == [
        i for i in range(60) if i % 6 == 2
    ]


def test_year_shape_prunes(spark, tmp_path):
    path = str(tmp_path / "t9")
    df = spark.range(0, 40).select(
        F.col("id"),
        F.expr(
            "timestamp '2020-06-15 00:00:00' + "
            "make_interval(CAST(id % 4 AS INT))"
        ).alias("ts"),
    )
    write_delta(
        spark, df, path, partition_col="yr",
        generated_cols={"yr": "YEAR(ts)"},
    )
    full = len(read_delta(spark, path).inputFiles())
    pruned = read_delta(
        spark, path,
        predicate={"ts": ("2022-03-01 00:00:00", "2022-09-01 00:00:00")},
    )
    assert len(pruned.inputFiles()) < full
    assert sorted(
        r["id"] for r in pruned.filter(F.year("ts") == 2022).collect()
    ) == [i for i in range(40) if i % 4 == 2]


def test_expression_survives_schema_evolution(spark, tmp_path):
    path = _mk(spark, tmp_path, "t10")
    evolved = spark.range(300, 305).select(
        F.col("id"),
        F.expr("timestamp '2024-03-15 08:00:00'").alias("ts"),
        (F.col("id") * 2).alias("val"),
        F.lit("new").alias("tag"),
    )
    v = write_delta(spark, evolved, path, partition_col="day")
    meta = next(
        a["metaData"] for a in _log_actions(path, v) if "metaData" in a
    )
    fields = {f["name"]: f for f in json.loads(meta["schemaString"])["fields"]}
    assert (
        fields["day"]["metadata"]["delta.generationExpression"]
        == "CAST(ts AS DATE)"
    )
    assert "tag" in fields
    # the duty still holds after evolution
    more = spark.range(400, 402).select(
        F.col("id"),
        F.expr("timestamp '2024-03-16 09:00:00'").alias("ts"),
        (F.col("id") * 2).alias("val"),
        F.lit("x").alias("tag"),
    )
    write_delta(spark, more, path, partition_col="day")
    got = read_delta(spark, path).filter("id >= 400").select("day").collect()
    assert {str(r["day"]) for r in got} == {"2024-03-16"}
