"""Liquid clustering state (public Delta protocol, clustered tables):
``enable_clustering`` records the clustering columns in the
``delta.clustering`` metadata domain and declares the ``clustering``
writer feature; OPTIMIZE with no explicit zorder_by clusters on the
recorded columns; readers need nothing (clustered tables read like any
other — pinned through both readers)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from portfolio_data_pipelines_spark.operators.delta_log import write_delta
from portfolio_data_pipelines_spark.operators.delta_maintain import (
    clustering_columns,
    enable_clustering,
    optimize_delta,
)
from portfolio_data_pipelines_spark.operators.delta_scan import read_delta
from tests.delta_reader import (
    read_delta_external,
)


def _mk(spark, tmp_path, name, n=4000):
    path = str(tmp_path / name)
    df = spark.range(n).select(
        F.col("id"),
        (F.col("id") % 97).alias("a"),
        ((F.col("id") * 31) % 89).alias("b"),
    )
    # several small files so OPTIMIZE has something to cluster
    write_delta(spark, df.repartition(6), path)
    return path


def test_enable_records_domain_and_feature(spark, tmp_path):
    path = _mk(spark, tmp_path, "t_cl")
    v = enable_clustering(spark, path, ["a", "b"])
    acts = [
        json.loads(l)
        for l in open(f"{path}/_delta_log/{v:020d}.json")
        if l.strip()
    ]
    proto = next(a["protocol"] for a in acts if "protocol" in a)
    assert {"clustering", "domainMetadata"} <= set(proto["writerFeatures"])
    assert "readerFeatures" not in proto or not set(
        proto.get("readerFeatures") or []
    ) - {"columnMapping"}
    dm = next(a["domainMetadata"] for a in acts if "domainMetadata" in a)
    assert dm["domain"] == "delta.clustering"
    assert json.loads(dm["configuration"]) == {
        "clusteringColumns": [["a"], ["b"]]
    }
    assert clustering_columns(spark, path) == ["a", "b"]
    # unknown / partition columns refused
    with pytest.raises(ValueError, match="not in schema"):
        enable_clustering(spark, path, ["nope"])


def test_optimize_clusters_on_recorded_columns(spark, tmp_path):
    path = _mk(spark, tmp_path, "t_cl_opt")
    enable_clustering(spark, path, ["a"])
    rows_before = sorted(
        tuple(r) for r in read_delta(spark, path).collect()
    )
    v = optimize_delta(spark, path)
    assert v is not None
    acts = [
        json.loads(l)
        for l in open(f"{path}/_delta_log/{v:020d}.json")
        if l.strip()
    ]
    info = next(a["commitInfo"] for a in acts if "commitInfo" in a)
    assert json.loads(info["operationParameters"]["zOrderBy"]) == ["a"]
    # rows unchanged, layout selective on `a`: after clustering, a
    # narrow `a` range plans a strict subset of the live files
    assert sorted(
        tuple(r) for r in read_delta(spark, path).collect()
    ) == rows_before
    all_files = set(read_delta(spark, path).inputFiles())
    narrow = set(
        read_delta(spark, path, predicate={"a": (0, 5)}).inputFiles()
    )
    assert narrow and len(narrow) < len(all_files)
    # both readers agree post-clustering
    names, rows = read_delta_external(path)
    assert sorted(rows) == rows_before
    # re-cluster on different columns: the next OPTIMIZE follows
    enable_clustering(spark, path, ["b"])
    v2 = optimize_delta(spark, path)
    acts2 = [
        json.loads(l)
        for l in open(f"{path}/_delta_log/{v2:020d}.json")
        if l.strip()
    ]
    info2 = next(a["commitInfo"] for a in acts2 if "commitInfo" in a)
    assert json.loads(info2["operationParameters"]["zOrderBy"]) == ["b"]


def test_clustering_domain_carries_physical_names_under_mapping(
    spark, tmp_path
):
    """On a column-mapped table the ``delta.clustering`` domain must
    record PHYSICAL name paths (delta-spark's format — foreign engines
    resolve them against parquet columns), while every API surface
    (clustering_columns, describe_detail, OPTIMIZE's zOrderBy) speaks
    LOGICAL names. Advisory fix, round 11."""
    from portfolio_data_pipelines_spark.operators.delta_alter import (
        enable_column_mapping,
        rename_column,
    )
    from portfolio_data_pipelines_spark.operators.delta_maintain import describe_detail

    path = _mk(spark, tmp_path, "t_cl_cm")
    enable_column_mapping(spark, path)
    rename_column(spark, path, "a", "alpha")
    v = enable_clustering(spark, path, ["alpha"])
    acts = [
        json.loads(l)
        for l in open(f"{path}/_delta_log/{v:020d}.json")
        if l.strip()
    ]
    dm = next(a["domainMetadata"] for a in acts if "domainMetadata" in a)
    meta = json.loads(open(f"{path}/_delta_log/{0:020d}.json").readline())
    recorded = json.loads(dm["configuration"])["clusteringColumns"]
    # the recorded path is the col-<uuid>/original physical name, NOT
    # the logical name the caller passed
    assert recorded != [["alpha"]]
    # physicalName of the renamed column comes from the current meta
    st_meta = None
    for vv in range(v, -1, -1):
        for l in open(f"{path}/_delta_log/{vv:020d}.json"):
            if l.strip() and "metaData" in json.loads(l):
                st_meta = json.loads(l)["metaData"]
                break
        if st_meta:
            break
    phys = {
        f["name"]: (f.get("metadata") or {}).get(
            "delta.columnMapping.physicalName", f["name"]
        )
        for f in json.loads(st_meta["schemaString"])["fields"]
    }
    assert recorded == [[phys["alpha"]]]
    # every API surface translates back to logical
    assert clustering_columns(spark, path) == ["alpha"]
    assert describe_detail(spark, path).first()["clusteringColumns"] == [
        "alpha"
    ]
    rows_before = sorted(tuple(r) for r in read_delta(spark, path).collect())
    v2 = optimize_delta(spark, path)
    acts2 = [
        json.loads(l)
        for l in open(f"{path}/_delta_log/{v2:020d}.json")
        if l.strip()
    ]
    info = next(a["commitInfo"] for a in acts2 if "commitInfo" in a)
    assert json.loads(info["operationParameters"]["zOrderBy"]) == ["alpha"]
    assert sorted(
        tuple(r) for r in read_delta(spark, path).collect()
    ) == rows_before


def test_describe_detail_surfaces_clustering_columns(spark, tmp_path):
    from portfolio_data_pipelines_spark.operators.delta_maintain import describe_detail

    path = _mk(spark, tmp_path, "t_cl_desc", n=100)
    assert describe_detail(spark, path).first()["clusteringColumns"] == []
    enable_clustering(spark, path, ["b", "a"])
    row = describe_detail(spark, path).first()
    assert row["clusteringColumns"] == ["b", "a"]
    assert "clustering" in row["tableFeatures"]
