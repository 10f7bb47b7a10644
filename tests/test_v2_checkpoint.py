"""V2 checkpoints (UUID-named main file + sidecars — the layout modern
delta-spark writes by default) read by BOTH readers, plus the writer
protocol gate: commits to tables demanding unimplemented writer duties
are refused BEFORE anything is written, and ``delta.appendOnly`` is
enforced on every row-deleting path.

Fixtures are built by TRANSFORMING this writer's classic checkpoint
into the v2 layout with pyarrow — the same foreign-table technique the
DV conformance tests use, so the readers are exercised against files
this engine never wrote.

Reference: the reference repo has no lakehouse layer; semantics follow
the public Delta protocol (delta-io PROTOCOL.md, "V2 Checkpoint Table
Feature" and "Writer Version Requirements").
"""

from __future__ import annotations

import json
import os
import uuid

import pytest
from pyspark.sql import functions as F

from portfolio_data_pipelines_spark.operators.delta_checkpoint import checkpoint_delta
from portfolio_data_pipelines_spark.operators.delta_dv import delete_where_dv
from portfolio_data_pipelines_spark.operators.delta_log import delete_where, write_delta
from portfolio_data_pipelines_spark.operators.delta_merge import merge_delta
from portfolio_data_pipelines_spark.operators.delta_scan import read_delta
from tests.delta_reader import (
    read_delta_external,
)


def _mk(spark, tmp_path, name, commits=3):
    path = str(tmp_path / name)
    for i in range(commits):
        df = spark.range(i * 10, (i + 1) * 10).select(
            F.col("id"),
            (F.col("id") % 2 == 0).cast("string").alias("grp"),
            (F.col("id") * 10).alias("val"),
        )
        write_delta(spark, df, path, partition_col="grp")
    return path


def _to_v2(path, version, sidecar=True, json_main=False, declare=True,
           cm_version=None):
    """Rewrite the classic checkpoint at ``version`` into the V2
    layout: file actions into a sidecar parquet (or inline), non-file
    actions + checkpointMetadata (+ sidecar ref) into a UUID-named
    main file; the classic file is deleted. ``declare`` upgrades the
    checkpointed protocol to readerFeatures ["v2Checkpoint"]."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    log_dir = f"{path}/_delta_log"
    classic = f"{log_dir}/{version:020d}.checkpoint.parquet"
    rows = pq.read_table(classic).to_pylist()
    os.remove(classic)
    file_rows, other_rows = [], []
    for r in rows:
        r = {k: v for k, v in r.items() if v is not None}
        if r.get("add") or r.get("remove"):
            file_rows.append(r)
        elif r:
            other_rows.append(r)
    if declare:
        for r in other_rows:
            if r.get("protocol"):
                r["protocol"] = {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["v2Checkpoint"],
                    "writerFeatures": ["v2Checkpoint"],
                }
    main_rows = list(other_rows)
    main_rows.append(
        {
            "checkpointMetadata": {
                "version": version if cm_version is None else cm_version
            }
        }
    )
    def _tbl(rows):
        # from_pylist infers the schema from the first row — normalize
        # every row to the full key set so no action column is dropped
        keys = sorted({k for r in rows for k in r})
        return pa.Table.from_pylist([{k: r.get(k) for k in keys} for r in rows])

    if sidecar and file_rows:
        os.makedirs(f"{log_dir}/_sidecars", exist_ok=True)
        sc_name = f"{uuid.uuid4().hex}.parquet"
        pq.write_table(_tbl(file_rows), f"{log_dir}/_sidecars/{sc_name}")
        main_rows.append(
            {
                "sidecar": {
                    "path": sc_name,
                    "sizeInBytes": os.path.getsize(
                        f"{log_dir}/_sidecars/{sc_name}"
                    ),
                }
            }
        )
    else:
        main_rows.extend(file_rows)
    u = uuid.uuid4().hex
    if json_main:
        main = f"{log_dir}/{version:020d}.checkpoint.{u}.json"
        with open(main, "w") as f:
            for r in main_rows:
                f.write(json.dumps(r) + "\n")
    else:
        main = f"{log_dir}/{version:020d}.checkpoint.{u}.parquet"
        pq.write_table(_tbl(main_rows), main)
    with open(f"{log_dir}/_last_checkpoint", "w") as f:
        json.dump({"version": version, "size": len(main_rows)}, f)
    # Hadoop's checksumming LocalFS wrote CRC sidecars for the files
    # this transformer rewrites with plain python — drop them so the
    # engine's Hadoop reads don't trip on stale checksums
    for crc in (
        f"{log_dir}/._last_checkpoint.crc",
        f"{log_dir}/.{version:020d}.checkpoint.parquet.crc",
    ):
        if os.path.exists(crc):
            os.remove(crc)


def _ids_both(spark, path):
    s = sorted(
        r["id"] for r in read_delta(spark, path).select("id").collect()
    )
    names, rows = read_delta_external(path)
    e = sorted(row[names.index("id")] for row in rows)
    assert s == e, (s, e)
    return s


def _drop_pre_checkpoint_commits(path, version):
    log_dir = f"{path}/_delta_log"
    for v in range(version):
        p = f"{log_dir}/{v:020d}.json"
        if os.path.exists(p):
            os.remove(p)


def test_v2_sidecar_checkpoint_both_readers(spark, tmp_path):
    path = _mk(spark, tmp_path, "t1")
    checkpoint_delta(spark, path, 2)
    _to_v2(path, 2, sidecar=True)
    # replay must anchor on the v2 checkpoint alone
    _drop_pre_checkpoint_commits(path, 2)
    assert _ids_both(spark, path) == list(range(30))


def test_v2_inline_checkpoint_both_readers(spark, tmp_path):
    path = _mk(spark, tmp_path, "t2")
    checkpoint_delta(spark, path, 2)
    _to_v2(path, 2, sidecar=False)
    _drop_pre_checkpoint_commits(path, 2)
    assert _ids_both(spark, path) == list(range(30))


def test_v2_checkpoint_feed_matches_read_delta(spark, tmp_path):
    """The streaming feed replays the log without a JVM; over a V2
    checkpoint it finds the UUID-named main through ``os`` and streams
    the rows ``read_delta`` reads."""
    from portfolio_data_pipelines_spark.sources.delta_feed import (
        DeltaChangeFeedDataSource,
    )

    path = _mk(spark, tmp_path, "t_feed")
    checkpoint_delta(spark, path, 2)
    _to_v2(path, 2, sidecar=True)
    write_delta(
        spark,
        spark.range(100, 103).select(
            F.col("id"), F.lit("true").alias("grp"),
            (F.col("id") * 10).alias("val"),
        ),
        path, partition_col="grp",
    )
    spark.dataSource.register(DeltaChangeFeedDataSource)
    q = (
        spark.readStream.format("delta_feed").option("path", path).load()
        .writeStream.format("memory").queryName("v2_feed_mem")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    cols = ["id", "grp", "val"]
    fed = spark.sql("select * from v2_feed_mem").select(cols).collect()
    assert sorted(fed) == sorted(read_delta(spark, path).select(cols).collect())
    assert len(fed) == 33


def test_v2_json_main_external_reader(spark, tmp_path):
    path = _mk(spark, tmp_path, "t3")
    checkpoint_delta(spark, path, 2)
    _to_v2(path, 2, sidecar=True, json_main=True)
    _drop_pre_checkpoint_commits(path, 2)
    names, rows = read_delta_external(path)
    assert sorted(row[names.index("id")] for row in rows) == list(range(30))


def test_v2_commits_after_checkpoint_still_apply(spark, tmp_path):
    path = _mk(spark, tmp_path, "t4")
    checkpoint_delta(spark, path, 2)
    _to_v2(path, 2, sidecar=True, declare=False)
    more = spark.range(100, 105).select(
        F.col("id"),
        (F.col("id") % 2 == 0).cast("string").alias("grp"),
        (F.col("id") * 10).alias("val"),
    )
    write_delta(spark, more, path, partition_col="grp")
    assert _ids_both(spark, path) == list(range(30)) + list(range(100, 105))


def test_v2_version_mismatch_refused(spark, tmp_path):
    path = _mk(spark, tmp_path, "t5")
    checkpoint_delta(spark, path, 2)
    _to_v2(path, 2, sidecar=True, cm_version=1)
    with pytest.raises(ValueError, match="corrupt log"):
        read_delta(spark, path).collect()
    with pytest.raises(ValueError, match="corrupt log"):
        read_delta_external(path)


def _set_protocol(path, proto):
    """Append a foreign commit carrying only a protocol action."""
    log_dir = f"{path}/_delta_log"
    versions = sorted(
        int(f[:20]) for f in os.listdir(log_dir) if f.endswith(".json")
    )
    with open(f"{log_dir}/{versions[-1] + 1:020d}.json", "w") as f:
        f.write(json.dumps({"protocol": proto}) + "\n")


def test_writer_gate_refuses_unknown_features(spark, tmp_path):
    path = _mk(spark, tmp_path, "t6", commits=1)
    _set_protocol(
        path,
        {
            "minReaderVersion": 1,
            "minWriterVersion": 7,
            "writerFeatures": ["liquidClustering", "appendOnly"],
        },
    )
    df = spark.range(0, 3).select(
        F.col("id"),
        F.lit("true").alias("grp"),
        (F.col("id") * 10).alias("val"),
    )
    with pytest.raises(ValueError, match="liquidClustering"):
        write_delta(spark, df, path, partition_col="grp")
    with pytest.raises(ValueError, match="liquidClustering"):
        delete_where(spark, path, "id = 1")
    # reads remain available
    assert read_delta(spark, path).count() == 10


def test_v2checkpoint_tables_writable_and_recheckpoint_v2(spark, tmp_path):
    # a v2Checkpoint table is both readable AND writable: commits pass
    # the gate, and this writer's own next checkpoint honors the
    # table's contract by emitting the V2 layout (UUID main + sidecar)
    path = _mk(spark, tmp_path, "t7")
    checkpoint_delta(spark, path, 2)
    _to_v2(path, 2, sidecar=True, declare=True)
    _drop_pre_checkpoint_commits(path, 2)
    assert _ids_both(spark, path) == list(range(30))
    df = spark.range(100, 102).select(
        F.col("id"), F.lit("true").alias("grp"),
        (F.col("id") * 10).alias("val"),
    )
    write_delta(spark, df, path, partition_col="grp")
    assert _ids_both(spark, path) == list(range(30)) + [100, 101]
    checkpoint_delta(spark, path, 3)
    log_dir = f"{path}/_delta_log"
    classic = f"{log_dir}/{3:020d}.checkpoint.parquet"
    assert not os.path.exists(classic)
    mains = [
        f for f in os.listdir(log_dir)
        if f.startswith(f"{3:020d}.checkpoint.") and f.endswith(".parquet")
    ]
    assert len(mains) == 1
    assert os.listdir(f"{log_dir}/_sidecars")
    # replay anchored on OUR v2 checkpoint alone, through both readers
    _drop_pre_checkpoint_commits(path, 3)
    assert _ids_both(spark, path) == list(range(30)) + [100, 101]


def test_writer_gate_legacy_6_and_malformed_7(spark, tmp_path):
    path = _mk(spark, tmp_path, "t8", commits=1)
    df = spark.range(0, 2).select(
        F.col("id"), F.lit("true").alias("grp"), F.lit(0).cast("long").alias("val")
    )
    # legacy writer 6 (identity columns) is implemented — writable
    _set_protocol(path, {"minReaderVersion": 1, "minWriterVersion": 6})
    write_delta(spark, df, path, partition_col="grp")
    assert read_delta(spark, path).count() == 12
    _set_protocol(path, {"minReaderVersion": 1, "minWriterVersion": 7})
    with pytest.raises(ValueError, match="writerFeatures"):
        write_delta(spark, df, path, partition_col="grp")
    _set_protocol(path, {"minReaderVersion": 1, "minWriterVersion": 8})
    with pytest.raises(ValueError, match="newer than this writer"):
        write_delta(spark, df, path, partition_col="grp")


def _set_append_only(path):
    """Foreign-style: re-emit metaData with delta.appendOnly=true."""
    log_dir = f"{path}/_delta_log"
    with open(f"{log_dir}/{0:020d}.json") as f:
        actions = [json.loads(l) for l in f.read().splitlines() if l.strip()]
    meta = next(a["metaData"] for a in actions if "metaData" in a)
    meta = dict(meta)
    meta["configuration"] = {
        **(meta.get("configuration") or {}),
        "delta.appendOnly": "true",
    }
    versions = sorted(
        int(f[:20]) for f in os.listdir(log_dir) if f.endswith(".json")
    )
    with open(f"{log_dir}/{versions[-1] + 1:020d}.json", "w") as f:
        f.write(json.dumps({"metaData": meta}) + "\n")


def test_append_only_enforcement(spark, tmp_path):
    path = _mk(spark, tmp_path, "t9", commits=2)
    _set_append_only(path)
    df = spark.range(200, 203).select(
        F.col("id"),
        (F.col("id") % 2 == 0).cast("string").alias("grp"),
        (F.col("id") * 10).alias("val"),
    )
    # appends still work
    write_delta(spark, df, path, partition_col="grp")
    assert read_delta(spark, path).count() == 23
    # everything that deletes rows is refused
    with pytest.raises(ValueError, match="append-only"):
        write_delta(spark, df, path, partition_col="grp", mode="overwrite")
    with pytest.raises(ValueError, match="append-only"):
        delete_where(spark, path, "id = 1")
    with pytest.raises(ValueError, match="append-only"):
        delete_where_dv(spark, path, "id = 1")
    with pytest.raises(ValueError, match="append-only"):
        merge_delta(
            spark, path,
            df.withColumn("val", F.lit(999).cast("long")),
            key_cols=["id"],
        )
    # a pure-insert merge (no keys match) is an append — allowed
    fresh = spark.range(500, 503).select(
        F.col("id"),
        (F.col("id") % 2 == 0).cast("string").alias("grp"),
        (F.col("id") * 10).alias("val"),
    )
    merge_delta(spark, path, fresh, key_cols=["id"])
    assert read_delta(spark, path).count() == 26


def test_v2_checkpoint_carries_dv_descriptors(spark, tmp_path):
    from portfolio_data_pipelines_spark.operators.delta_dv import delete_where_dv

    path = _mk(spark, tmp_path, "t10")
    delete_where_dv(spark, path, "id % 4 = 1")  # v3: DVs across files
    checkpoint_delta(spark, path, 3)
    _to_v2(path, 3, sidecar=True, declare=False)
    _drop_pre_checkpoint_commits(path, 3)
    # the descriptors rode the sidecar: deleted rows stay deleted in
    # both readers when replay anchors on the v2 checkpoint alone
    assert _ids_both(spark, path) == [i for i in range(30) if i % 4 != 1]
