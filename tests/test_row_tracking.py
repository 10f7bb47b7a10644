"""Row tracking end-to-end (public Delta protocol, "Row Tracking"):
``baseRowId``/``defaultRowCommitVersion`` assigned on every add, the
high-water mark in the ``delta.rowTracking`` metadata domain, read-side
``_row_id``/``_row_commit_version`` in BOTH readers, and preservation
through every rewrite path (UPDATE/DELETE/MERGE/OPTIMIZE/PURGE/RESTORE
and DV in-place re-adds) via the hidden materialized columns.

Reference: the reference repo's roadmap names the modern-lakehouse
trajectory (README.md:204, "Iceberg/Delta"); semantics follow the
public Delta protocol (delta-io PROTOCOL.md, "Row Tracking").
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from portfolio_data_pipelines_spark.operators.delta_alter import enable_row_tracking
from portfolio_data_pipelines_spark.operators.delta_checkpoint import (
    DELTA_CHECKPOINT_EVERY,
    checkpoint_delta,
)
from portfolio_data_pipelines_spark.operators.delta_dv import delete_where_dv
from portfolio_data_pipelines_spark.operators.delta_log import (
    delete_where,
    update_where,
    write_delta,
)
from portfolio_data_pipelines_spark.operators.delta_maintain import (
    optimize_delta,
    purge_delta,
    restore_delta,
    vacuum_delta,
)
from portfolio_data_pipelines_spark.operators.delta_merge import merge_delta
from portfolio_data_pipelines_spark.operators.delta_scan import read_delta
from tests.delta_reader import (
    read_delta_external,
)


def _mk(spark, tmp_path, name, n=10, partitioned=False, enable="create"):
    path = str(tmp_path / name)
    df = spark.range(1, n + 1).select(
        F.col("id"),
        (F.col("id") % 2 == 0).cast("string").alias("grp"),
        (F.col("id") * 10.0).alias("val"),
    ).coalesce(1)
    cfg = (
        {"delta.enableRowTracking": "true"} if enable == "create" else None
    )
    write_delta(
        spark, df, path,
        partition_col="grp" if partitioned else None,
        configuration=cfg,
    )
    if enable == "alter":
        enable_row_tracking(spark, path)
    return path


def _rows_both(spark, path, version=None):
    """(id -> (_row_id, _row_commit_version)) via read_delta, pinned
    EQUAL to the independent external reader's derivation."""
    df = read_delta(spark, path, version=version, row_ids=True)
    s = sorted(
        (r["id"], r["_row_id"], r["_row_commit_version"])
        for r in df.collect()
    )
    names, rows = read_delta_external(path, version=version, row_ids=True)
    ii = names.index("id")
    ri = names.index("_row_id")
    ci = names.index("_row_commit_version")
    e = sorted((r[ii], r[ri], r[ci]) for r in rows)
    assert s == e, (s[:8], e[:8])
    ids = [t[1] for t in s]
    assert len(set(ids)) == len(ids), f"duplicate row ids: {sorted(ids)}"
    assert all(i is not None for i in ids)
    return {t[0]: (t[1], t[2]) for t in s}


def _log_actions(path, version):
    with open(f"{path}/_delta_log/{version:020d}.json") as f:
        return [json.loads(l) for l in f.read().splitlines() if l.strip()]


def _hwm(path, version):
    for a in _log_actions(path, version):
        dm = a.get("domainMetadata")
        if dm and dm["domain"] == "delta.rowTracking":
            return json.loads(dm["configuration"])["rowIdHighWaterMark"]
    return None


def test_creation_assigns_fresh_ids_and_protocol(spark, tmp_path):
    path = _mk(spark, tmp_path, "t_create")
    acts = _log_actions(path, 0)
    proto = next(a["protocol"] for a in acts if "protocol" in a)
    assert proto["minWriterVersion"] == 7
    assert {"rowTracking", "domainMetadata"} <= set(proto["writerFeatures"])
    assert proto["minReaderVersion"] == 1  # writer-only feature
    add = next(a["add"] for a in acts if "add" in a)
    assert add["baseRowId"] == 0 and add["defaultRowCommitVersion"] == 0
    assert _hwm(path, 0) == 9
    cfg = next(a["metaData"] for a in acts if "metaData" in a)[
        "configuration"
    ]
    assert cfg.get("delta.rowTracking.materializedRowIdColumnName")
    got = _rows_both(spark, path)
    assert sorted(v[0] for v in got.values()) == list(range(10))
    assert all(v[1] == 0 for v in got.values())


def test_append_continues_past_high_water_mark(spark, tmp_path):
    path = _mk(spark, tmp_path, "t_append")
    write_delta(
        spark,
        spark.createDataFrame(
            [(100, "x", 1.0), (101, "y", 2.0)],
            "id bigint, grp string, val double",
        ).coalesce(1),
        path,
    )
    got = _rows_both(spark, path)
    assert sorted(v[0] for v in got.values()) == list(range(12))
    assert got[100] == (10, 1) and got[101] == (11, 1)
    assert _hwm(path, 1) == 11


def test_enable_on_existing_table_backfills(spark, tmp_path):
    path = _mk(spark, tmp_path, "t_alter", enable="alter")
    v1 = _log_actions(path, 1)
    # backfill re-adds are layout-only (dataChange=false)
    backfill = [a["add"] for a in v1 if "add" in a]
    assert backfill and all(a["dataChange"] is False for a in backfill)
    assert all(a.get("baseRowId") is not None for a in backfill)
    got = _rows_both(spark, path)
    assert sorted(v[0] for v in got.values()) == list(range(10))
    # double-enable refused
    with pytest.raises(ValueError, match="already enabled"):
        enable_row_tracking(spark, path)


def test_update_delete_preserve_ids(spark, tmp_path):
    path = _mk(spark, tmp_path, "t_ud", partitioned=True)
    before = _rows_both(spark, path)
    update_where(spark, path, "id = 4", {"val": "val + 0.5"})
    after = _rows_both(spark, path)
    # every surviving row keeps its id; the updated row's commit
    # version moves to the UPDATE commit, untouched rows keep theirs
    assert {k: v[0] for k, v in after.items()} == {
        k: v[0] for k, v in before.items()
    }
    assert after[4][1] == 1
    untouched_same_file = [
        k for k in after if k != 4 and k % 2 == 0
    ]
    assert all(after[k][1] == 0 for k in untouched_same_file)
    delete_where(spark, path, "id = 7")
    final = _rows_both(spark, path)
    assert sorted(final) == [i for i in range(1, 11) if i != 7]
    assert all(final[k][0] == before[k][0] for k in final)


def test_merge_preserves_matched_ids_inserts_fresh(spark, tmp_path):
    path = _mk(spark, tmp_path, "t_merge", partitioned=True)
    before = _rows_both(spark, path)
    v = merge_delta(
        spark, path,
        spark.createDataFrame(
            [(3, "x", 333.0), (50, "y", 500.0)],
            "id bigint, grp string, val double",
        ),
        key_cols=["id"],
    )
    after = _rows_both(spark, path)
    assert after[3][0] == before[3][0]  # matched: id stable
    assert after[3][1] == v             # ...but re-versioned
    assert after[50][0] > max(x[0] for x in before.values())  # fresh
    for k in after:
        if k not in (3, 50):
            assert after[k] == before[k]


def test_optimize_zorder_purge_dv_preserve_ids(spark, tmp_path):
    path = _mk(spark, tmp_path, "t_opt", partitioned=True)
    write_delta(
        spark,
        spark.createDataFrame(
            [(100, "true", 1.0)], "id bigint, grp string, val double"
        ),
        path, partition_col="grp",
    )
    before = _rows_both(spark, path)
    assert optimize_delta(spark, path) is not None
    assert _rows_both(spark, path) == before
    # post-compaction each partition is ONE multi-row file, so the DV
    # delete marks a position instead of killing a singleton file
    delete_where_dv(spark, path, "id = 2")
    after_dv = _rows_both(spark, path)
    assert after_dv == {k: v for k, v in before.items() if k != 2}
    assert purge_delta(spark, path) is not None
    assert _rows_both(spark, path) == after_dv
    # a clustering rewrite preserves ids too
    assert optimize_delta(spark, path, zorder_by=["id"]) is not None
    assert _rows_both(spark, path) == after_dv


def test_restore_rolls_ids_back_with_files(spark, tmp_path):
    path = _mk(spark, tmp_path, "t_restore")
    v0 = _rows_both(spark, path)
    merge_delta(
        spark, path,
        spark.createDataFrame(
            [(1, "x", -1.0), (200, "y", 2.0)],
            "id bigint, grp string, val double",
        ),
        key_cols=["id"],
    )
    assert _rows_both(spark, path) != v0
    restore_delta(spark, path, 0)
    assert _rows_both(spark, path) == v0


def test_checkpoint_carries_row_ids(spark, tmp_path):
    path = _mk(spark, tmp_path, "t_ckpt", n=4)
    for i in range(DELTA_CHECKPOINT_EVERY):
        write_delta(
            spark,
            spark.createDataFrame(
                [(1000 + i, "z", float(i))],
                "id bigint, grp string, val double",
            ).coalesce(1),
            path,
        )
    log = tmp_path / "t_ckpt" / "_delta_log"
    assert (log / f"{DELTA_CHECKPOINT_EVERY:020d}.checkpoint.parquet").exists()
    before = _rows_both(spark, path)
    # delete every pre-checkpoint commit: replay is checkpoint-anchored
    for j in range(DELTA_CHECKPOINT_EVERY):
        (log / f"{j:020d}.json").unlink()
    for crc in log.glob(".*.crc"):
        crc.unlink()
    assert _rows_both(spark, path) == before
    # and the next commit continues past the checkpoint-carried mark
    write_delta(
        spark,
        spark.createDataFrame(
            [(5000, "q", 1.0)], "id bigint, grp string, val double"
        ).coalesce(1),
        path,
    )
    after = _rows_both(spark, path)
    assert after[5000][0] == max(v[0] for v in before.values()) + 1


def test_time_travel_shows_versioned_ids(spark, tmp_path):
    path = _mk(spark, tmp_path, "t_tt", n=6)
    update_where(spark, path, "id = 2", {"val": "0.0"})
    v0 = _rows_both(spark, path, version=0)
    v1 = _rows_both(spark, path, version=1)
    assert v0[2] == (1, 0)
    assert v1[2] == (1, 1)
    assert {k: v[0] for k, v in v0.items()} == {
        k: v[0] for k, v in v1.items()
    }


def test_writes_to_foreign_row_tracking_table_honor_duty(spark, tmp_path):
    """A table whose protocol lists rowTracking (e.g. written by
    delta-spark) gets baseRowId on OUR appends even without the
    enablement property — the duty keys off the protocol feature."""
    path = _mk(spark, tmp_path, "t_foreign")
    # simulate 'supported but not enabled': strip the table property,
    # keep the protocol feature (delta-spark tables can be in this
    # state after ALTER ... UNSET TBLPROPERTIES)
    acts = _log_actions(path, 0)
    meta = next(a["metaData"] for a in acts if "metaData" in a)
    cfg = dict(meta["configuration"])
    cfg.pop("delta.enableRowTracking")
    from portfolio_data_pipelines_spark.operators.delta_log import Txn

    Txn(spark, path).commit(
        "UNSET TBLPROPERTIES", {},
        [{"metaData": {**meta, "configuration": cfg}}],
    )
    write_delta(
        spark,
        spark.createDataFrame(
            [(777, "z", 7.0)], "id bigint, grp string, val double"
        ).coalesce(1),
        path,
    )
    acts2 = _log_actions(path, 2)
    add = next(a["add"] for a in acts2 if "add" in a)
    assert add["baseRowId"] is not None
    assert any(
        (a.get("domainMetadata") or {}).get("domain") == "delta.rowTracking"
        for a in acts2
    )


def test_vacuum_after_rewrites_keeps_rt_reads(spark, tmp_path):
    path = _mk(spark, tmp_path, "t_vac")
    update_where(spark, path, "id <= 3", {"val": "val * 2"})
    before = _rows_both(spark, path)
    vacuum_delta(spark, path, retain_hours=168, now_ms=10**18)
    assert _rows_both(spark, path) == before


def test_row_tracking_composes_with_cdf(spark, tmp_path):
    """rowTracking + changeDataFeed on one table: the merge stages cdc
    change files (which never carry the hidden materialized columns)
    AND preserves row ids in the rewrite; the CDF nets the merge
    correctly and ids stay stable."""
    from portfolio_data_pipelines_spark.operators.delta_cdf import read_delta_cdf

    path = str(tmp_path / "t_rt_cdf")
    write_delta(
        spark,
        spark.range(1, 7).select(
            F.col("id"), (F.col("id") * 1.0).alias("v")
        ).coalesce(1),
        path,
        configuration={
            "delta.enableRowTracking": "true",
            "delta.enableChangeDataFeed": "true",
        },
    )
    before = _rows_both(spark, path)
    v = merge_delta(
        spark, path,
        spark.createDataFrame([(3, 33.0), (9, 9.0)], "id bigint, v double"),
        key_cols=["id"],
    )
    after = _rows_both(spark, path)
    assert after[3][0] == before[3][0] and after[3][1] == v
    assert after[9][0] > max(x[0] for x in before.values())
    ch = read_delta_cdf(spark, path, from_version=0, key_cols=["id"])
    got = sorted(
        (r["id"], r["v"], r["_change_type"]) for r in ch.collect()
    )
    assert got == [
        (3, 3.0, "update_preimage"),
        (3, 33.0, "update_postimage"),
        (9, 9.0, "insert"),
    ], got
    # cdc files never leak the hidden materialized columns
    assert set(ch.columns) == {
        "id", "v", "_change_type", "_commit_version", "_commit_timestamp"
    }


def test_restore_across_enablement_assigns_fresh_ids(spark, tmp_path):
    """RESTORE to a version BEFORE row tracking was enabled re-adds
    files that never had a baseRowId — the restore commit must assign
    fresh ids to those (never serve null row ids), while re-adds from
    post-enablement versions keep their originals."""
    path = str(tmp_path / "t_restore_pre")
    write_delta(
        spark,
        spark.range(1, 6).select(
            F.col("id"), (F.col("id") % 2 == 0).cast("string").alias("grp"),
            (F.col("id") * 10.0).alias("val"),
        ).coalesce(1),
        path,
    )
    write_delta(  # v1: replaced by the overwrite below, pre-enablement
        spark,
        spark.createDataFrame(
            [(9, "x", 9.0)], "id bigint, grp string, val double"
        ).coalesce(1),
        path, mode="overwrite",
    )
    enable_row_tracking(spark, path)  # v2: backfills the LIVE set only
    restore_delta(spark, path, 0)     # v3: re-adds v0's bare file
    got = _rows_both(spark, path)     # asserts non-null + unique
    assert sorted(got) == [1, 2, 3, 4, 5]
    # the restore commit carries the advanced high-water mark
    assert _hwm(path, 3) is not None


def test_drop_row_tracking_feature(spark, tmp_path):
    """DROP FEATURE rowTracking: the feature leaves the protocol, the
    table property + materialized-column names leave the
    configuration, and the delta.rowTracking domain is removed —
    afterwards row-id reads refuse cleanly and plain reads still
    serve every row; re-enabling works and starts a fresh mark."""
    from portfolio_data_pipelines_spark.operators.delta_maintain import (
        drop_table_feature,
        get_domain_metadata,
    )

    path = _mk(spark, tmp_path, "t_drop")
    update_where(spark, path, "id = 2", {"val": "val + 1"})
    v = drop_table_feature(spark, path, "rowTracking")
    acts = _log_actions(path, v)
    proto = next(a["protocol"] for a in acts if "protocol" in a)
    assert "rowTracking" not in (proto.get("writerFeatures") or [])
    meta = next(a["metaData"] for a in acts if "metaData" in a)
    assert not any(
        k.startswith("delta.rowTracking") or k == "delta.enableRowTracking"
        for k in meta["configuration"]
    )
    assert "delta.rowTracking" not in get_domain_metadata(spark, path)
    # plain reads keep every row; both readers agree
    got = sorted(r["id"] for r in read_delta(spark, path).collect())
    assert got == list(range(1, 11))
    names, rows = read_delta_external(path)
    assert sorted(r[names.index("id")] for r in rows) == got
    # appends no longer carry the duty
    v2 = write_delta(
        spark,
        spark.createDataFrame(
            [(99, "x", 9.0)], "id bigint, grp string, val double"
        ).coalesce(1),
        path,
    )
    add = next(
        a["add"] for a in _log_actions(path, v2) if "add" in a
    )
    assert "baseRowId" not in add
    # re-enabling backfills everything again
    enable_row_tracking(spark, path)
    got2 = _rows_both(spark, path)
    assert sorted(got2) == list(range(1, 11)) + [99]
