"""Writer-side deletion vectors: ``delete_where_dv`` (delete without
copy-on-write), its interaction with time travel, CDF, OPTIMIZE,
checkpoints and vacuum — each verified through BOTH readers so the
wire format, not just the engine, is what's being pinned.

Reference: the reference repo has no DV support; semantics follow the
public Delta protocol (delta-io PROTOCOL.md, "Deletion Vectors").
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from portfolio_data_pipelines_spark.operators.delta_cdf import (
    enable_change_data_feed,
    read_delta_cdf,
)
from portfolio_data_pipelines_spark.operators.delta_checkpoint import (
    DELTA_CHECKPOINT_EVERY,
    checkpoint_delta,
)
from portfolio_data_pipelines_spark.operators.delta_dv import delete_where_dv
from portfolio_data_pipelines_spark.operators.delta_log import write_delta
from portfolio_data_pipelines_spark.operators.delta_maintain import (
    optimize_delta,
    vacuum_delta,
)
from portfolio_data_pipelines_spark.operators.delta_merge import merge_delta
from portfolio_data_pipelines_spark.operators.delta_scan import read_delta
from tests.delta_reader import (
    read_delta_changes_external,
    read_delta_external,
)


def _mk(spark, tmp_path, name, n=20, partitioned=True, one_file=False):
    path = str(tmp_path / name)
    df = spark.range(1, n + 1).select(
        F.col("id"),
        (F.col("id") % 2 == 0).cast("string").alias("grp"),
        (F.col("id") * 10).alias("val"),
    )
    if one_file:
        df = df.repartition(1)
    write_delta(
        spark, df, path, partition_col="grp" if partitioned else None
    )
    return path


def _ids_both(spark, path, version=None):
    s = sorted(
        r["id"]
        for r in read_delta(spark, path, version=version).select("id").collect()
    )
    names, rows = read_delta_external(path, version=version)
    e = sorted(row[names.index("id")] for row in rows)
    assert s == e, (s, e)
    return s


def _log_actions(path, version):
    with open(f"{path}/_delta_log/{version:020d}.json") as f:
        return [json.loads(l) for l in f.read().splitlines() if l.strip()]


def test_delete_where_dv_marks_without_rewrite(spark, tmp_path):
    path = _mk(spark, tmp_path, "t1")
    files_before = {
        a["add"]["path"]
        for a in _log_actions(path, 0)
        if "add" in a
    }
    v = delete_where_dv(spark, path, "id % 5 = 0")
    assert v == 1
    assert _ids_both(spark, path) == [i for i in range(1, 21) if i % 5]
    # the SAME physical files are re-added with descriptors — no new
    # data file was written
    acts = _log_actions(path, 1)
    readds = {a["add"]["path"] for a in acts if "add" in a}
    assert readds <= files_before
    assert all(
        a["add"]["deletionVector"]["storageType"] == "u"
        for a in acts
        if "add" in a
    )
    # time travel: version 0 still shows every row, through both readers
    assert _ids_both(spark, path, version=0) == list(range(1, 21))


def test_second_delete_unions_positions(spark, tmp_path):
    # single data file, so both deletes hit the SAME file and the
    # second descriptor must be the union of old and new positions
    path = _mk(spark, tmp_path, "t2", partitioned=False, one_file=True)
    delete_where_dv(spark, path, "id = 4")
    delete_where_dv(spark, path, "id = 8")
    assert _ids_both(spark, path) == [
        i for i in range(1, 21) if i not in (4, 8)
    ]
    acts = _log_actions(path, 2)
    adds = [a["add"] for a in acts if "add" in a]
    assert len(adds) == 1
    assert adds[0]["deletionVector"]["cardinality"] == 2
    # the remove tombstone carries the SUPERSEDED descriptor (vacuum's
    # aging basis for its .bin)
    rm = next(a["remove"] for a in acts if "remove" in a)
    assert rm["deletionVector"]["cardinality"] == 1


def test_fully_deleted_file_is_removed_not_descriptored(spark, tmp_path):
    path = _mk(spark, tmp_path, "t3")
    v = delete_where_dv(spark, path, "grp = 'true'")  # entire partition
    acts = _log_actions(path, v)
    assert not any("add" in a for a in acts)  # no DV pointing at nothing
    assert any("remove" in a for a in acts)
    assert _ids_both(spark, path) == [i for i in range(1, 21) if i % 2]


def test_nothing_matched_returns_none(spark, tmp_path):
    path = _mk(spark, tmp_path, "t4")
    assert delete_where_dv(spark, path, "id > 999") is None


def test_protocol_upgrades_to_table_features_with_carryover(spark, tmp_path):
    path = _mk(spark, tmp_path, "t5")
    v = delete_where_dv(spark, path, "id = 1")
    proto = next(
        a["protocol"] for a in _log_actions(path, v) if "protocol" in a
    )
    assert proto["minReaderVersion"] == 3
    assert proto["minWriterVersion"] == 7
    assert "deletionVectors" in proto["readerFeatures"]
    assert "deletionVectors" in proto["writerFeatures"]
    # legacy writer-2 duties carried into the explicit list
    assert "appendOnly" in proto["writerFeatures"]
    # second delete does NOT re-emit a protocol action
    v2 = delete_where_dv(spark, path, "id = 2")
    assert not any("protocol" in a for a in _log_actions(path, v2))


def test_cdf_records_dv_deletes_as_change_rows(spark, tmp_path):
    path = _mk(spark, tmp_path, "t6")
    enable_change_data_feed(spark, path)
    v = delete_where_dv(spark, path, "id in (3, 7)")
    ch = read_delta_cdf(spark, path, from_version=v - 1).collect()
    assert sorted(
        (r["id"], r["_change_type"]) for r in ch
    ) == [(3, "delete"), (7, "delete")]
    # the commit carries cdc actions, so the FOREIGN cdf reader answers
    # from change files alone
    names, rows = read_delta_changes_external(path, from_version=v - 1)
    i_id, i_ct = names.index("id"), names.index("_change_type")
    assert sorted((r[i_id], r[i_ct]) for r in rows) == [
        (3, "delete"), (7, "delete")
    ]
    # CDF enablement on the table-features protocol listed the duty
    v3 = delete_where_dv(spark, path, "id = 9")
    assert v3 is not None
    # protocol emitted at the FIRST dv delete (v) since CDF bumped only
    # the legacy writer version; check the lists carried changeDataFeed
    proto = next(
        a["protocol"] for a in _log_actions(path, v) if "protocol" in a
    )
    assert "changeDataFeed" in proto["writerFeatures"]


def test_optimize_compacts_through_the_dv_filter(spark, tmp_path):
    path = _mk(spark, tmp_path, "t7")
    delete_where_dv(spark, path, "id in (2, 6, 12)")
    before = _ids_both(spark, path)
    # force multi-file partitions so compaction has work
    write_delta(
        spark,
        spark.range(100, 111).select(
            F.col("id"),
            (F.col("id") % 2 == 0).cast("string").alias("grp"),
            (F.col("id") * 10).alias("val"),
        ),
        path,
        partition_col="grp",
    )
    v = optimize_delta(spark, path)
    assert v is not None
    after = _ids_both(spark, path)
    assert after == sorted(before + list(range(100, 111)))
    # compacted files are CLEAN: no descriptor survives on live adds
    acts = _log_actions(path, v)
    assert all(
        a["add"].get("deletionVector") is None
        for a in acts
        if "add" in a
    )


def test_merge_on_dv_table_does_not_resurrect(spark, tmp_path):
    path = _mk(spark, tmp_path, "t8")
    delete_where_dv(spark, path, "id = 10")
    updates = spark.createDataFrame(
        [(12, "true", 9999), (10, "true", 1)], "id long, grp string, val long"
    )
    merge_delta(spark, path, updates, key_cols=["id"])
    rows = {r["id"]: r["val"] for r in read_delta(spark, path).collect()}
    assert rows[12] == 9999
    # id=10 was DV-deleted; the merge treats it as NOT MATCHED → insert
    assert rows[10] == 1
    _ids_both(spark, path)


def test_checkpoint_carries_descriptors_and_feature_lists(spark, tmp_path):
    path = _mk(spark, tmp_path, "t9")
    v = delete_where_dv(spark, path, "id % 4 = 0")
    checkpoint_delta(spark, path, v)
    # drop the pre-checkpoint commits: replay must anchor on the
    # checkpoint alone and still see the DVs + v3 feature lists
    for old in range(v):
        os.remove(f"{path}/_delta_log/{old:020d}.json")
    assert _ids_both(spark, path) == [i for i in range(1, 21) if i % 4]
    # a write AFTER the checkpoint keeps working (protocol replayed
    # from checkpoint is well-formed)
    write_delta(
        spark,
        spark.createDataFrame([(50, "false", 500)], "id long, grp string, val long"),
        path,
        partition_col="grp",
    )
    assert 50 in _ids_both(spark, path)


def test_vacuum_keeps_live_bins_and_reclaims_superseded(spark, tmp_path):
    # single file: the second delete must supersede the first .bin
    path = _mk(spark, tmp_path, "t10", partitioned=False, one_file=True)
    delete_where_dv(spark, path, "id = 4")
    bins_v1 = {f for f in os.listdir(path) if f.endswith(".bin")}
    assert len(bins_v1) == 1
    delete_where_dv(spark, path, "id = 8")  # supersedes the first .bin
    bins_v2 = {f for f in os.listdir(path) if f.endswith(".bin")}
    assert len(bins_v2) == 2
    live_bin = (bins_v2 - bins_v1).pop()
    # far-future vacuum: the superseded .bin ages out via its
    # tombstone's deletionTimestamp; the live one survives
    future = 10**18
    deleted = vacuum_delta(spark, path, retain_hours=168, now_ms=future)
    assert bins_v1.pop() in deleted
    assert live_bin in os.listdir(path)
    # reads still correct after the vacuum
    assert _ids_both(spark, path) == [
        i for i in range(1, 21) if i not in (4, 8)
    ]


def test_data_skipping_composes_with_dv_filter(spark, tmp_path):
    path = _mk(spark, tmp_path, "t11")
    delete_where_dv(spark, path, "id = 2")
    out = read_delta(spark, path, predicate={"id": (1, 6)}).filter(
        "id between 1 and 6"
    )
    assert sorted(r["id"] for r in out.collect()) == [1, 3, 4, 5, 6]


def test_cdf_null_keyed_rows_pair_null_safely(spark, tmp_path):
    """ADVICE r8: a row whose key is NULL must pair with itself across
    a rewrite (eqNullSafe), not explode into a spurious delete+insert.
    Unchanged NULL-keyed row -> no change rows; value-changed
    NULL-keyed row -> one update pre/post pair with a NULL key."""
    path = str(tmp_path / "t_nullkey")
    write_delta(
        spark,
        spark.createDataFrame(
            [(None, 1.0), (1, 10.0), (2, 20.0)], "id long, v double"
        ).repartition(1),
        path,
    )
    # rewrite: id=1 updated, NULL-keyed row carried over unchanged
    write_delta(
        spark,
        spark.createDataFrame(
            [(None, 1.0), (1, 11.0), (2, 20.0)], "id long, v double"
        ).repartition(1),
        path,
        mode="overwrite",
    )
    ch = read_delta_cdf(spark, path, from_version=0, key_cols=["id"]).collect()
    assert sorted(
        ((r["id"], r["v"], r["_change_type"]) for r in ch), key=repr
    ) == [(1, 10.0, "update_preimage"), (1, 11.0, "update_postimage")]
    # change the NULL-keyed row's value: one update pair, key stays NULL
    write_delta(
        spark,
        spark.createDataFrame(
            [(None, 2.0), (1, 11.0), (2, 20.0)], "id long, v double"
        ).repartition(1),
        path,
        mode="overwrite",
    )
    ch2 = read_delta_cdf(spark, path, from_version=1, key_cols=["id"]).collect()
    assert sorted(
        ((r["id"], r["v"], r["_change_type"]) for r in ch2), key=repr
    ) == [(None, 1.0, "update_preimage"), (None, 2.0, "update_postimage")]


def test_append_feed_respects_dv_and_restore_resurrects(spark, tmp_path):
    """read_delta_changes over a DV re-add emits only LIVE rows (the
    shared read path filters); RESTORE to the pre-delete version brings
    the rows back through both readers (re-added adds carry no DV)."""
    from portfolio_data_pipelines_spark.operators.delta_maintain import restore_delta
    from portfolio_data_pipelines_spark.operators.delta_scan import read_delta_changes

    path = _mk(spark, tmp_path, "t12")
    delete_where_dv(spark, path, "id in (4, 8)")
    ch = read_delta_changes(spark, path, from_version=0)
    got = sorted(r["id"] for r in ch.collect())
    # the DV commit re-added the touched file(s): their live rows only
    assert 4 not in got and 8 not in got and got
    v = restore_delta(spark, path, 0)
    assert v == 2
    assert _ids_both(spark, path) == list(range(1, 21))


def test_dv_on_column_mapped_table(spark, tmp_path):
    """delete_where_dv on a NAME-mapped table with a renamed partition
    column: the predicate speaks logical names, files/partitionValues
    carry physical names, and the DV identity (group, basename,
    position) is computed over the PHYSICAL layout. Both readers and
    time travel stay row-identical."""
    from portfolio_data_pipelines_spark.operators.delta_alter import (
        enable_column_mapping,
        rename_column,
    )

    path = _mk(spark, tmp_path, "t13")
    enable_column_mapping(spark, path)
    rename_column(spark, path, "grp", "bucket")
    rename_column(spark, path, "val", "amount")
    v = delete_where_dv(spark, path, "amount >= 150 and bucket = 'true'")
    assert v is not None
    expect = [
        i for i in range(1, 21) if not (i * 10 >= 150 and i % 2 == 0)
    ]
    assert _ids_both(spark, path) == expect
    # logical rename + DV compose: the renamed column filters post-DV
    got = sorted(
        r["id"]
        for r in read_delta(spark, path)
        .filter("bucket = 'true'")
        .collect()
    )
    assert got == [i for i in expect if i % 2 == 0]
    # time travel to pre-delete under the OLD logical schema
    pre = read_delta(spark, path, version=0)
    assert sorted(r["id"] for r in pre.collect()) == list(range(1, 21))


def test_dv_on_multilevel_partitioned_table(spark, tmp_path):
    """DV row identity holds on a two-level layout where a dynamic-
    partition write reuses basenames across leaf dirs."""
    path = str(tmp_path / "t14")
    df = spark.range(1, 41).select(
        F.col("id"),
        (F.col("id") % 2 == 0).cast("string").alias("region"),
        (F.col("id") % 3).cast("string").alias("day"),
        (F.col("id") * 10).alias("val"),
    )
    write_delta(spark, df, path, partition_col=["region", "day"])
    v = delete_where_dv(spark, path, "id % 5 = 0")
    assert v is not None
    expect = [i for i in range(1, 41) if i % 5]
    assert _ids_both(spark, path) == expect
    # second delete in the same leaves unions correctly
    delete_where_dv(spark, path, "id in (3, 6)")
    assert _ids_both(spark, path) == [
        i for i in expect if i not in (3, 6)
    ]


def test_vacuum_tracks_bin_age_across_double_tombstones(spark, tmp_path):
    """ADVICE r9: a data file tombstoned TWICE (DV delete, DV delete,
    then PURGE) collapses to one `removes` entry carrying only the
    LAST .bin — the first .bin's deletionTimestamp must still be
    tracked (keyed by BIN path across all tombstones), or an object
    store that rewrites mtimes lets vacuum reclaim a .bin still needed
    by in-retention time travel."""
    from portfolio_data_pipelines_spark.operators.delta_log import _replay_log
    from portfolio_data_pipelines_spark.operators.delta_maintain import purge_delta

    path = _mk(spark, tmp_path, "t_dbl", partitioned=False, one_file=True)
    delete_where_dv(spark, path, "id = 4")     # v1: bin1
    bins_v1 = {f for f in os.listdir(path) if f.endswith(".bin")}
    delete_where_dv(spark, path, "id = 8")     # v2: remove(F,·), bin2
    bins_v2 = {f for f in os.listdir(path) if f.endswith(".bin")}
    purge_delta(spark, path)                   # v3: remove(F, bin2)
    bin1 = bins_v1.pop()
    bin2 = (bins_v2 - bins_v1).pop()
    # replay must remember BOTH bins' tombstone times, keyed by bin
    st = _replay_log(spark, path, None)
    assert {bin1, bin2} <= set(st.dv_tombstones or {})
    # simulate an object store rewriting mtimes: age the .bins' mtime
    # far into the past — the RECENT tombstone timestamps must protect
    # them from an in-retention vacuum
    for b in (bin1, bin2):
        os.utime(os.path.join(path, b), (0, 0))
    deleted = vacuum_delta(spark, path, retain_hours=168)
    assert bin1 not in deleted and bin2 not in deleted
    # time travel inside the window still resolves through both bins
    assert _ids_both(spark, path, version=1) == [
        i for i in range(1, 21) if i != 4
    ]
    assert _ids_both(spark, path, version=2) == [
        i for i in range(1, 21) if i not in (4, 8)
    ]
    # and a far-future vacuum reclaims them via the tombstone times
    future = 10**18
    deleted2 = vacuum_delta(spark, path, retain_hours=168, now_ms=future)
    assert bin1 in deleted2 and bin2 in deleted2


def test_large_dv_delete_serializes_executor_side(spark, tmp_path, monkeypatch):
    """VERDICT r9 next #5: above the position-count bound the delete's
    bitmaps must serialize EXECUTOR-side — the driver never
    materializes the position list. Force the bound to 0 so every
    delete takes the big path, run a ~million-row erasure plus a
    second (merging) delete on a table with an EXISTING DV, and pin
    the result equal to both readers and to time travel."""
    from portfolio_data_pipelines_spark.operators import deletion_vectors, delta_dv

    path = str(tmp_path / "t_bigdv")
    n = 1_000_000
    write_delta(
        spark,
        spark.range(1, n + 1).select(
            F.col("id"), (F.col("id") % 97).alias("val")
        ).repartition(4),
        path,
    )
    monkeypatch.setattr(delta_dv, "DV_DELETE_DRIVER_MAX_POSITIONS", 0)
    # the small path serializes bitmaps in THIS process; the big path
    # only in executor workers, which this spy does not reach
    driver_serialized = []
    real_serialize = deletion_vectors.serialize_roaring64

    def spy_serialize(positions):
        driver_serialized.append(len(positions))
        return real_serialize(positions)

    monkeypatch.setattr(deletion_vectors, "serialize_roaring64", spy_serialize)
    # first delete: ~half the table, executor-side bitmaps
    v1 = delete_where_dv(spark, path, "id % 2 = 0")
    assert v1 == 1
    # second delete MERGES into the existing per-file bitmaps (the
    # closure ships the old compressed bytes, the kernel unions)
    v2 = delete_where_dv(spark, path, "id % 3 = 0")
    assert v2 == 2
    assert driver_serialized == []  # the patched bound took the big path
    expected = n - n // 2 - (n // 3 - n // 6)
    got = read_delta(spark, path)
    assert got.count() == expected
    assert got.filter("id % 2 = 0 or id % 3 = 0").count() == 0
    # sum is a stronger pin than count (wrong positions break it)
    live_sum = got.agg(F.sum("id")).first()[0]
    want_sum = sum(i for i in range(1, n + 1) if i % 2 and i % 3)
    assert live_sum == want_sum
    # time travel through the first DV state still works
    assert read_delta(spark, path, version=1).count() == n - n // 2
    # and the external reader agrees on a sample predicate
    names, rows = read_delta_external(path)
    assert len(rows) == expected
