"""PURGE (REORG APPLY PURGE) and DROP FEATURE — the deletion-vector
lifecycle tail: soft deletes harden into descriptor-free files, the
superseded bitmaps age out through vacuum, and the protocol downgrades
back off the table-features form once nothing uses it.

Reference: the reference repo has no DV support; semantics follow the
public Delta protocol (delta-io PROTOCOL.md, "Deletion Vectors" and
"Table Features") and delta-spark's REORG / DROP FEATURE behavior.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from portfolio_data_pipelines_spark.operators.delta_alter import enable_column_mapping
from portfolio_data_pipelines_spark.operators.delta_cdf import (
    enable_change_data_feed,
    read_delta_cdf,
)
from portfolio_data_pipelines_spark.operators.delta_dv import delete_where_dv
from portfolio_data_pipelines_spark.operators.delta_log import write_delta
from portfolio_data_pipelines_spark.operators.delta_maintain import (
    drop_table_feature,
    purge_delta,
    vacuum_delta,
)
from portfolio_data_pipelines_spark.operators.delta_scan import read_delta
from tests.delta_reader import (
    read_delta_external,
)


def _mk(spark, tmp_path, name, n=20, partitioned=True):
    path = str(tmp_path / name)
    df = spark.range(1, n + 1).select(
        F.col("id"),
        (F.col("id") % 2 == 0).cast("string").alias("grp"),
        (F.col("id") * 10).alias("val"),
    )
    write_delta(
        spark, df, path, partition_col="grp" if partitioned else None
    )
    return path


def _ids_both(spark, path, version=None):
    s = sorted(
        r["id"]
        for r in read_delta(spark, path, version=version)
        .select("id")
        .collect()
    )
    names, rows = read_delta_external(path, version=version)
    e = sorted(row[names.index("id")] for row in rows)
    assert s == e, (s, e)
    return s


def _log_actions(path, version):
    with open(f"{path}/_delta_log/{version:020d}.json") as f:
        return [json.loads(l) for l in f.read().splitlines() if l.strip()]


def _live_dv_rels(path, upto_version):
    adds = {}
    for v in range(upto_version + 1):
        for a in _log_actions(path, v):
            if "add" in a:
                adds[a["add"]["path"]] = a["add"]
            elif "remove" in a:
                adds.pop(a["remove"]["path"], None)
    return sorted(r for r, a in adds.items() if a.get("deletionVector"))


def test_purge_noop_without_dvs(spark, tmp_path):
    path = _mk(spark, tmp_path, "clean")
    assert purge_delta(spark, path) is None


def test_purge_hardens_soft_deletes(spark, tmp_path):
    path = _mk(spark, tmp_path, "t1")
    delete_where_dv(spark, path, "id % 5 = 0")
    survivors = [i for i in range(1, 21) if i % 5]
    assert _ids_both(spark, path) == survivors

    v = purge_delta(spark, path)
    assert v == 2
    # rows identical through both readers, and NO live add carries a
    # descriptor anymore
    assert _ids_both(spark, path) == survivors
    assert _live_dv_rels(path, v) == []
    # the purge commit is dataChange=false end to end (layout change,
    # not content), and its removes carry the superseded descriptor so
    # vacuum can age the .bin from the tombstone
    acts = _log_actions(path, v)
    for a in acts:
        if "add" in a:
            assert a["add"]["dataChange"] is False
        if "remove" in a:
            assert a["remove"]["dataChange"] is False
            assert a["remove"].get("deletionVector")
    info = next(a["commitInfo"] for a in acts if "commitInfo" in a)
    assert info["operation"] == "REORG"


def test_purge_touches_only_dvd_files(spark, tmp_path):
    path = _mk(spark, tmp_path, "t2")
    # DVs land only in grp=true (even ids)
    delete_where_dv(spark, path, "id = 4 or id = 8")
    before = {
        a["add"]["path"]: a["add"].get("deletionVector")
        for v in range(2)
        for a in _log_actions(path, v)
        if "add" in a
    }
    clean_files = {
        r for r, d in before.items() if d is None and r.startswith("grp=false")
    }
    v = purge_delta(spark, path)
    acts = _log_actions(path, v)
    removed = {a["remove"]["path"] for a in acts if "remove" in a}
    # every removed file was DV'd; clean files were not rewritten
    assert removed, "purge should have rewritten the DV'd files"
    assert not removed & clean_files
    assert _ids_both(spark, path) == [
        i for i in range(1, 21) if i not in (4, 8)
    ]


def test_purge_partition_scope(spark, tmp_path):
    path = _mk(spark, tmp_path, "t3")
    delete_where_dv(spark, path, "id % 5 = 0")  # hits both grps (5,10,15,20)
    v = purge_delta(spark, path, partitions=["true"])
    still_dvd = _live_dv_rels(path, v)
    assert still_dvd and all(r.startswith("grp=false") for r in still_dvd)
    assert _ids_both(spark, path) == [i for i in range(1, 21) if i % 5]
    # second pass cleans the rest; a third is a no-op
    v2 = purge_delta(spark, path)
    assert _live_dv_rels(path, v2) == []
    assert purge_delta(spark, path) is None


def test_purge_cdf_skip_and_time_travel(spark, tmp_path):
    path = _mk(spark, tmp_path, "t4")
    enable_change_data_feed(spark, path)  # v1
    delete_where_dv(spark, path, "id in (3, 14)")  # v2
    v = purge_delta(spark, path)  # v3
    # the change feed sees the delete but NOT the purge
    cdf = read_delta_cdf(spark, path, 1, key_cols=["id"], to_version=v)
    assert sorted(
        (r["id"], r["_change_type"]) for r in cdf.collect()
    ) == [(3, "delete"), (14, "delete")]
    # time travel: pre-delete shows everything, post-delete pre-purge
    # still filters through the (still on disk) DVs
    assert _ids_both(spark, path, version=1) == list(range(1, 21))
    assert _ids_both(spark, path, version=2) == [
        i for i in range(1, 21) if i not in (3, 14)
    ]
    assert _ids_both(spark, path) == [
        i for i in range(1, 21) if i not in (3, 14)
    ]


def test_purge_then_vacuum_reclaims_bins(spark, tmp_path):
    path = _mk(spark, tmp_path, "t5")
    delete_where_dv(spark, path, "id % 4 = 0")
    purge_delta(spark, path)
    far_future = 4_000_000_000_000  # ms; way past any retention window
    deleted = vacuum_delta(spark, path, retain_hours=1, now_ms=far_future)
    assert any(r.endswith(".bin") for r in deleted), deleted
    assert _ids_both(spark, path) == [i for i in range(1, 21) if i % 4]
    # nothing on disk references a DV anymore
    assert _live_dv_rels(path, 2) == []


def test_drop_feature_refused_while_live_dvs(spark, tmp_path):
    path = _mk(spark, tmp_path, "t6")
    delete_where_dv(spark, path, "id = 7")
    with pytest.raises(ValueError, match="purge_delta"):
        drop_table_feature(spark, path, "deletionVectors")


def test_drop_feature_downgrades_to_legacy(spark, tmp_path):
    path = _mk(spark, tmp_path, "t7")
    delete_where_dv(spark, path, "id = 7")  # upgrades to 3/7
    purge_delta(spark, path)
    v = drop_table_feature(spark, path, "deletionVectors")
    proto = next(
        a["protocol"] for a in _log_actions(path, v) if "protocol" in a
    )
    # plain table: collapses all the way back to the legacy form
    assert proto == {"minReaderVersion": 1, "minWriterVersion": 2}
    assert _ids_both(spark, path) == [i for i in range(1, 21) if i != 7]
    info = next(
        a["commitInfo"] for a in _log_actions(path, v) if "commitInfo" in a
    )
    assert info["operation"] == "DROP FEATURE"


def test_drop_feature_keeps_column_mapping_level(spark, tmp_path):
    path = _mk(spark, tmp_path, "t8")
    enable_column_mapping(spark, path)  # reader 2 / writer 5
    delete_where_dv(spark, path, "id = 2")  # 3/7 with both features
    purge_delta(spark, path)
    v = drop_table_feature(spark, path, "deletionVectors")
    proto = next(
        a["protocol"] for a in _log_actions(path, v) if "protocol" in a
    )
    # columnMapping survives the downgrade at its legacy level
    assert proto == {"minReaderVersion": 2, "minWriterVersion": 5}
    assert _ids_both(spark, path) == [i for i in range(1, 21) if i != 2]


def test_drop_feature_refusals(spark, tmp_path):
    path = _mk(spark, tmp_path, "t9")
    with pytest.raises(ValueError, match="not droppable"):
        drop_table_feature(spark, path, "columnMapping")
    with pytest.raises(ValueError, match="does not list"):
        drop_table_feature(spark, path, "deletionVectors")


def test_dv_after_drop_reupgrades(spark, tmp_path):
    path = _mk(spark, tmp_path, "t10")
    delete_where_dv(spark, path, "id = 1")
    purge_delta(spark, path)
    drop_table_feature(spark, path, "deletionVectors")
    v = delete_where_dv(spark, path, "id = 2")
    proto = next(
        a["protocol"] for a in _log_actions(path, v) if "protocol" in a
    )
    assert "deletionVectors" in proto["readerFeatures"]
    assert _ids_both(spark, path) == list(range(3, 21))
