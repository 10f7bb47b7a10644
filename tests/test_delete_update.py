"""Copy-on-write DELETE WHERE / UPDATE SET WHERE (delta-spark's
commands, absent from the reference which has no mutable table layer):
file-granular rewrites through the shared read path, CDF change rows
staged directly, constraints re-validated on update."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from portfolio_data_pipelines_spark.operators.delta_alter import add_check_constraint
from portfolio_data_pipelines_spark.operators.delta_cdf import (
    enable_change_data_feed,
    read_delta_cdf,
)
from portfolio_data_pipelines_spark.operators.delta_dv import delete_where_dv
from portfolio_data_pipelines_spark.operators.delta_log import (
    delete_where,
    update_where,
    write_delta,
)
from portfolio_data_pipelines_spark.operators.delta_scan import read_delta
from tests.delta_reader import (
    read_delta_external,
)


def _mk(spark, tmp_path, name):
    path = str(tmp_path / name)
    df = spark.range(1, 21).select(
        F.col("id"),
        (F.col("id") % 2 == 0).cast("string").alias("grp"),
        (F.col("id") * 10.0).alias("val"),
    )
    write_delta(spark, df, path, partition_col="grp")
    return path


def _log_actions(path, version):
    with open(f"{path}/_delta_log/{version:020d}.json") as f:
        return [json.loads(l) for l in f.read().splitlines() if l.strip()]


def _ids_both(spark, path):
    s = sorted(r["id"] for r in read_delta(spark, path).collect())
    names, rows = read_delta_external(path)
    assert s == sorted(r[names.index("id")] for r in rows)
    return s


def test_delete_where_rewrites_only_touched_files(spark, tmp_path):
    path = _mk(spark, tmp_path, "t1")
    files_v0 = {a["add"]["path"] for a in _log_actions(path, 0) if "add" in a}
    v = delete_where(spark, path, "id in (4, 8)")  # grp=true files only
    assert v == 1
    assert _ids_both(spark, path) == [i for i in range(1, 21) if i not in (4, 8)]
    acts = _log_actions(path, 1)
    removed = {a["remove"]["path"] for a in acts if "remove" in a}
    assert removed and removed < files_v0  # strictly fewer than all
    assert all("grp=true" in p for p in removed)  # odd files untouched
    info = next(a["commitInfo"] for a in acts if "commitInfo" in a)
    assert info["operation"] == "DELETE"
    assert info["operationMetrics"]["numDeletedRows"] == "2"


def test_delete_where_nothing_matched(spark, tmp_path):
    path = _mk(spark, tmp_path, "t2")
    assert delete_where(spark, path, "id > 999") is None


def test_delete_where_null_predicate_rows_survive(spark, tmp_path):
    path = str(tmp_path / "t3")
    write_delta(
        spark,
        spark.createDataFrame(
            [(1, 5.0), (2, None), (3, 50.0)], "id long, v double"
        ).repartition(1),
        path,
    )
    delete_where(spark, path, "v > 10")  # NULL v: predicate unknown → keep
    assert _ids_both(spark, path) == [1, 2]


def test_update_where_exprs_see_pre_update_row(spark, tmp_path):
    path = _mk(spark, tmp_path, "t4")
    v = update_where(
        spark, path, "id <= 3",
        {"val": "val + id"},  # references both columns pre-update
    )
    assert v == 1
    got = {r["id"]: r["val"] for r in read_delta(spark, path).collect()}
    assert got[1] == 11.0 and got[2] == 22.0 and got[3] == 33.0
    assert got[4] == 40.0  # untouched
    info = next(
        a["commitInfo"] for a in _log_actions(path, 1) if "commitInfo" in a
    )
    assert info["operationMetrics"]["numUpdatedRows"] == "3"
    _ids_both(spark, path)


def test_update_where_cdf_pre_post_pairs(spark, tmp_path):
    path = _mk(spark, tmp_path, "t5")
    enable_change_data_feed(spark, path)
    v = update_where(spark, path, "id = 6", {"val": "999.0"})
    ch = read_delta_cdf(spark, path, from_version=v - 1).collect()
    assert sorted((r["_change_type"], r["val"]) for r in ch) == [
        ("update_postimage", 999.0),
        ("update_preimage", 60.0),
    ]


def test_delete_where_cdf_delete_rows(spark, tmp_path):
    path = _mk(spark, tmp_path, "t6")
    enable_change_data_feed(spark, path)
    v = delete_where(spark, path, "id in (3, 5)")
    ch = read_delta_cdf(spark, path, from_version=v - 1).collect()
    assert sorted((r["id"], r["_change_type"]) for r in ch) == [
        (3, "delete"), (5, "delete")
    ]


def test_update_revalidates_check_constraints(spark, tmp_path):
    path = _mk(spark, tmp_path, "t7")
    add_check_constraint(spark, path, "val_pos", "val >= 0")
    with pytest.raises(ValueError, match="CHECK"):
        update_where(spark, path, "id = 1", {"val": "-5.0"})
    # table unchanged after the refused update
    assert _ids_both(spark, path) == list(range(1, 21))
    assert update_where(spark, path, "id = 1", {"val": "5.0"}) is not None


def test_update_refuses_partition_column_assignment(spark, tmp_path):
    path = _mk(spark, tmp_path, "t8")
    with pytest.raises(ValueError, match="partition columns"):
        update_where(spark, path, "id = 1", {"grp": "'false'"})
    with pytest.raises(ValueError, match="unknown columns"):
        update_where(spark, path, "id = 1", {"nope": "1"})


def test_delete_where_composes_with_deletion_vectors(spark, tmp_path):
    """delete_where on a table carrying DVs: the rewrite reads through
    the DV filter (no resurrection) and the new files are clean."""
    path = _mk(spark, tmp_path, "t9")
    delete_where_dv(spark, path, "id = 2")
    v = delete_where(spark, path, "grp = 'true' and id <= 10")
    assert _ids_both(spark, path) == [
        i for i in range(1, 21) if i % 2 == 1 or i > 10
    ]
    acts = _log_actions(path, v)
    assert all(
        a["add"].get("deletionVector") is None for a in acts if "add" in a
    )
