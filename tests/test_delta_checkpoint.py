"""Checkpoints are built, written and read with pyarrow, outside Spark.

Pins the mechanism, not just the layout: writing a checkpoint and
replaying the log over one launch no Spark job, for the classic,
multi-part and V2-with-sidecars layouts; checkpoints as Spark's parquet
writer lays them out (what earlier versions of this engine wrote)
still replay to the same state; and Spark-based readers see the same
action rows in a pyarrow-written checkpoint as pyarrow does.
"""

from __future__ import annotations

import json
import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from portfolio_data_pipelines_spark.operators import delta_checkpoint
from portfolio_data_pipelines_spark.operators import delta_log as dl
from portfolio_data_pipelines_spark.operators.delta_checkpoint import checkpoint_delta
from portfolio_data_pipelines_spark.operators.delta_scan import read_delta


def _next_job_id(spark) -> int:
    nxt = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
    return int(nxt if isinstance(nxt, int) else nxt.get())


def _mk(spark, path: str, commits: int = 3) -> str:
    """``commits`` appends of two files each (one per partition)."""
    for i in range(commits):
        df = spark.range(i * 10, (i + 1) * 10, numPartitions=1).select(
            F.col("id"),
            (F.col("id") % 2 == 0).cast("string").alias("grp"),
        )
        dl.write_delta(spark, df, path, partition_col="grp")
    return path


def _declare_v2(path: str, version: int) -> None:
    """A foreign-style protocol commit making the table v2Checkpoint."""
    with open(f"{path}/_delta_log/{version:020d}.json", "w") as f:
        f.write(json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["v2Checkpoint"],
            "writerFeatures": ["v2Checkpoint"],
        }}) + "\n")


def _layout(path: str) -> list[str]:
    log_dir = f"{path}/_delta_log"
    names = [n for n in os.listdir(log_dir) if ".checkpoint." in n]
    if os.path.isdir(f"{log_dir}/_sidecars"):
        names += [f"_sidecars/{n}" for n in os.listdir(f"{log_dir}/_sidecars")]
    return sorted(names)


@pytest.mark.parametrize("layout", ["classic", "multipart", "v2"])
def test_checkpoint_write_and_replay_launch_no_jobs(
    spark, tmp_path, monkeypatch, layout
):
    path = _mk(spark, str(tmp_path / layout))
    version = 2
    if layout != "classic":
        # 8 rows (protocol, metaData, 6 adds): 3 parts, or 2 sidecars
        # holding the adds
        monkeypatch.setattr(delta_checkpoint, "CHECKPOINT_PART_ACTIONS", 3)
    if layout == "v2":
        version = 3
        _declare_v2(path, version)
    expected = dl._replay_log(spark, path, None)
    start = _next_job_id(spark)
    checkpoint_delta(spark, path, version)
    replayed = dl._replay_log(spark, path, None)
    assert _next_job_id(spark) - start == 0
    names = _layout(path)
    if layout == "classic":
        assert names == [f"{version:020d}.checkpoint.parquet"]
    elif layout == "multipart":
        assert names == [
            f"{version:020d}.checkpoint.{i:010d}.{3:010d}.parquet"
            for i in (1, 2, 3)
        ]
    else:
        assert sum(n.startswith(f"{version:020d}.checkpoint.") for n in names) == 1
        assert sum(n.startswith("_sidecars/") for n in names) == 2
    assert not [n for n in names if n.endswith(".tmp")]
    assert replayed.adds == expected.adds
    assert replayed.meta == expected.meta
    assert replayed.protocol == expected.protocol
    assert replayed.version == expected.version


def _normalized(v):
    """Action rows as Spark and pyarrow both see them: maps as dicts
    (pyarrow yields (key, value) pairs), Spark Rows as dicts, and an
    empty map the same as an empty list."""
    if hasattr(v, "asDict"):
        v = v.asDict(recursive=True)
    if v == {}:
        return []
    if isinstance(v, dict):
        return {k: _normalized(x) for k, x in v.items()}
    if isinstance(v, list) and v and all(isinstance(x, tuple) for x in v):
        return {k: _normalized(x) for k, x in v}
    if isinstance(v, list):
        return [_normalized(x) for x in v]
    return v


def _sort_key(row: dict) -> str:
    return json.dumps(row, sort_keys=True, default=str)


def test_spark_written_checkpoint_replays_the_same(spark, tmp_path):
    """A checkpoint rewritten through Spark's parquet writer (the bytes
    earlier versions of this engine wrote) replays to an equal state,
    and Spark reads the pyarrow-written one as the same action rows."""
    path = _mk(spark, str(tmp_path / "compat"))
    dl.write_delta(
        spark, spark.range(5).select("id", F.lit("x").alias("grp")), path,
        partition_col="grp", mode="overwrite",
    )  # tombstones ride the checkpoint too
    checkpoint_delta(spark, path, 3)
    cp = f"{path}/_delta_log/{3:020d}.checkpoint.parquet"
    arrow_rows = pq.read_table(cp).to_pylist()
    spark_rows = spark.read.parquet(cp).collect()
    assert sorted(map(_normalized, arrow_rows), key=_sort_key) == sorted(
        map(_normalized, spark_rows), key=_sort_key
    )
    state = dl._replay_log(spark, path, None)
    rows = sorted(map(tuple, read_delta(spark, path).collect()))

    tmp = str(tmp_path / "spark_cp")
    spark.read.parquet(cp).coalesce(1).write.parquet(tmp)
    (part,) = [n for n in os.listdir(tmp) if n.endswith(".parquet")]
    os.replace(f"{tmp}/{part}", cp)
    shutil.rmtree(tmp)
    assert pq.read_metadata(cp).metadata.get(
        b"org.apache.spark.sql.parquet.row.metadata"
    ), "the rewrite must carry Spark's writer footer"

    assert dl._replay_log(spark, path, None) == state
    assert sorted(map(tuple, read_delta(spark, path).collect())) == rows
