"""Log-retention cleanup (Delta's metadata cleanup /
``delta.logRetentionDuration``): expired commits and their checkpoints
are deleted once a newer retained checkpoint covers them, as a
contiguous prefix only — the retained log never has holes. Without
this a busy table's _delta_log grows without bound.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from portfolio_data_pipelines_spark.operators.delta_checkpoint import checkpoint_delta
from portfolio_data_pipelines_spark.operators.delta_log import write_delta
from portfolio_data_pipelines_spark.operators.delta_maintain import cleanup_log
from portfolio_data_pipelines_spark.operators.delta_scan import read_delta
from tests.delta_reader import (
    read_delta_external,
)

FAR_FUTURE = 4_000_000_000_000  # ms


def _mk(spark, tmp_path, name, commits=6):
    path = str(tmp_path / name)
    for i in range(commits):
        write_delta(
            spark,
            spark.range(i * 5, (i + 1) * 5).select("id"),
            path,
        )
    return path


def _log_names(path):
    return sorted(os.listdir(f"{path}/_delta_log"))


def test_cleanup_removes_covered_expired_prefix(spark, tmp_path):
    path = _mk(spark, tmp_path, "t1", commits=6)
    checkpoint_delta(spark, path, 4)
    deleted = cleanup_log(spark, path, retain_hours=1, now_ms=FAR_FUTURE)
    # commits 0..3 are expired and covered by the checkpoint at 4
    assert [d for d in deleted if d.endswith(".json")] == [
        f"{v:020d}.json" for v in range(4)
    ]
    names = _log_names(path)
    assert f"{4:020d}.json" in names and f"{5:020d}.json" in names
    # the table reads identically through both readers
    s = sorted(r["id"] for r in read_delta(spark, path).collect())
    assert s == list(range(30))
    cols, rows = read_delta_external(path)
    assert sorted(r[cols.index("id")] for r in rows) == list(range(30))
    # time travel to a cleaned version now raises
    with pytest.raises(FileNotFoundError):
        read_delta(spark, path, version=2).collect()
    # versions at/after the checkpoint still time-travel
    assert read_delta(spark, path, version=4).count() == 25


def test_cleanup_noop_cases(spark, tmp_path):
    path = _mk(spark, tmp_path, "t2", commits=3)
    # no checkpoint: nothing is covered
    assert cleanup_log(spark, path, retain_hours=1, now_ms=FAR_FUTURE) == []
    checkpoint_delta(spark, path, 2)
    # young commits: retention keeps everything
    assert cleanup_log(spark, path, retain_hours=24) == []
    assert len([n for n in _log_names(path) if n.endswith(".json")]) == 3


def test_cleanup_stops_at_unexpired_commit(spark, tmp_path):
    path = _mk(spark, tmp_path, "t3", commits=5)
    checkpoint_delta(spark, path, 4)
    # make commit 1 look young via an inflated inCommitTimestamp —
    # contiguity must stop the sweep there even though 2 and 3 are old
    log = f"{path}/_delta_log/{1:020d}.json"
    acts = [json.loads(l) for l in open(log).read().splitlines() if l.strip()]
    for a in acts:
        if "commitInfo" in a:
            a["commitInfo"]["inCommitTimestamp"] = FAR_FUTURE + 10
    crc = f"{path}/_delta_log/.{1:020d}.json.crc"
    if os.path.exists(crc):
        os.remove(crc)
    with open(log, "w") as f:
        f.write("\n".join(json.dumps(a) for a in acts) + "\n")
    deleted = cleanup_log(spark, path, retain_hours=1, now_ms=FAR_FUTURE)
    assert [d for d in deleted if d.endswith(".json")] == [
        f"{0:020d}.json"
    ]
    assert sorted(
        r["id"] for r in read_delta(spark, path).collect()
    ) == list(range(25))


def test_cleanup_v2_checkpoint_sidecars(spark, tmp_path):
    path = _mk(spark, tmp_path, "t4", commits=3)
    log_dir = f"{path}/_delta_log"
    # make it a v2Checkpoint table (foreign-style protocol commit)
    with open(f"{log_dir}/{3:020d}.json", "w") as f:
        f.write(json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["v2Checkpoint"],
            "writerFeatures": ["v2Checkpoint"],
        }}) + "\n")
    checkpoint_delta(spark, path, 3)  # v2: UUID main + sidecar
    write_delta(spark, spark.range(100, 103).select("id"), path)
    checkpoint_delta(spark, path, 4)
    sidecars_before = {
        n for n in os.listdir(f"{log_dir}/_sidecars")
        if n.endswith(".parquet")
    }
    assert len(sidecars_before) == 2
    deleted = cleanup_log(spark, path, retain_hours=1, now_ms=FAR_FUTURE)
    # the version-3 checkpoint main AND its sidecar are gone; the
    # retained version-4 checkpoint keeps its sidecar
    assert any(d.startswith("_sidecars/") for d in deleted)
    assert any(
        d.startswith(f"{3:020d}.checkpoint.") for d in deleted
    )
    remaining = {
        n for n in os.listdir(f"{log_dir}/_sidecars")
        if n.endswith(".parquet")
    }
    assert len(remaining) == 1 and remaining < sidecars_before
    s = sorted(r["id"] for r in read_delta(spark, path).collect())
    assert s == list(range(15)) + [100, 101, 102]
    cols, rows = read_delta_external(path)
    assert len(rows) == 18
