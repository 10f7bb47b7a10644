"""Identity columns (Delta spec: ``delta.identity.*`` field metadata,
legacy writer version 6 / ``identityColumns``): dense lattice
allocation past the high-water mark, mark advancement in the same
commit, GENERATED ALWAYS vs BY DEFAULT semantics, and refusals on the
paths that cannot preserve them.

Reference: the reference repo has no identity columns; semantics follow
the public Delta protocol and delta-spark behavior.
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
from portfolio_data_pipelines_spark.operators.delta_merge import (
    apply_changes_delta,
    merge_delta,
)
from portfolio_data_pipelines_spark.operators.delta_scan import read_delta
from tests.delta_reader import (
    read_delta_external,
)


def _log_actions(path, version):
    with open(f"{path}/_delta_log/{version:020d}.json") as f:
        return [json.loads(l) for l in f.read().splitlines() if l.strip()]


def _identity_md(path, version, col="rid"):
    acts = _log_actions(path, version)
    meta = next(a["metaData"] for a in acts if "metaData" in a)
    fields = {f["name"]: f for f in json.loads(meta["schemaString"])["fields"]}
    return fields[col].get("metadata") or {}


def _payload(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )


def test_creation_allocates_and_records(spark, tmp_path):
    path = str(tmp_path / "t1")
    write_delta(
        spark, _payload(spark, 0, 20), path,
        identity_cols={"rid": {"start": 1, "step": 1}},
    )
    acts = _log_actions(path, 0)
    proto = next(a["protocol"] for a in acts if "protocol" in a)
    assert proto["minWriterVersion"] == 6
    md = _identity_md(path, 0)
    assert md["delta.identity.start"] == 1
    assert md["delta.identity.step"] == 1
    assert md["delta.identity.highWaterMark"] == 20
    rows = read_delta(spark, path).select("rid").collect()
    assert sorted(r["rid"] for r in rows) == list(range(1, 21))
    names, ext = read_delta_external(path)
    assert sorted(r[names.index("rid")] for r in ext) == list(range(1, 21))


def test_appends_continue_past_watermark(spark, tmp_path):
    path = str(tmp_path / "t2")
    write_delta(
        spark, _payload(spark, 0, 10), path,
        identity_cols={"rid": {"start": 1, "step": 1}},
    )
    write_delta(spark, _payload(spark, 100, 107), path)
    md = _identity_md(path, 1)
    assert md["delta.identity.highWaterMark"] == 17
    rows = read_delta(spark, path).select("rid").collect()
    got = sorted(r["rid"] for r in rows)
    assert got == list(range(1, 18))
    assert len(set(got)) == 17  # unique across commits


def test_start_step_lattice(spark, tmp_path):
    path = str(tmp_path / "t3")
    write_delta(
        spark, _payload(spark, 0, 6), path,
        identity_cols={"rid": {"start": 100, "step": 5}},
    )
    rows = sorted(
        r["rid"] for r in read_delta(spark, path).select("rid").collect()
    )
    assert rows == [100, 105, 110, 115, 120, 125]
    write_delta(spark, _payload(spark, 50, 52), path)
    rows = sorted(
        r["rid"] for r in read_delta(spark, path).select("rid").collect()
    )
    assert rows == [100, 105, 110, 115, 120, 125, 130, 135]


def test_wide_batch_allocates_densely(spark, tmp_path):
    path = str(tmp_path / "t4")
    wide = _payload(spark, 0, 1000).repartition(8)
    write_delta(
        spark, wide, path, identity_cols={"rid": {"start": 0, "step": 1}}
    )
    rows = [r["rid"] for r in read_delta(spark, path).select("rid").collect()]
    assert sorted(rows) == list(range(1000))


def test_generated_always_refuses_explicit(spark, tmp_path):
    path = str(tmp_path / "t5")
    write_delta(
        spark, _payload(spark, 0, 5), path,
        identity_cols={"rid": {"start": 1, "step": 1}},
    )
    explicit = _payload(spark, 10, 12).withColumn(
        "rid", F.lit(999).cast("long")
    )
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        write_delta(spark, explicit, path)


def test_by_default_allows_explicit_and_advances(spark, tmp_path):
    path = str(tmp_path / "t6")
    write_delta(
        spark, _payload(spark, 0, 5), path,
        identity_cols={
            "rid": {"start": 1, "step": 1, "allow_explicit_insert": True}
        },
    )
    explicit = _payload(spark, 10, 12).withColumn(
        "rid", (F.col("k") * 100).cast("long")  # 1000, 1100
    )
    write_delta(spark, explicit, path)
    md = _identity_md(path, 1)
    assert md["delta.identity.highWaterMark"] == 1100
    # the next allocation starts past the explicit values
    write_delta(spark, _payload(spark, 20, 22), path)
    rows = sorted(
        r["rid"] for r in read_delta(spark, path).select("rid").collect()
    )
    assert rows == [1, 2, 3, 4, 5, 1000, 1100, 1101, 1102]


def test_negative_step(spark, tmp_path):
    path = str(tmp_path / "t7")
    write_delta(
        spark, _payload(spark, 0, 4), path,
        identity_cols={"rid": {"start": 0, "step": -10}},
    )
    write_delta(spark, _payload(spark, 10, 12), path)
    rows = sorted(
        r["rid"] for r in read_delta(spark, path).select("rid").collect()
    )
    assert rows == [-50, -40, -30, -20, -10, 0]
    assert _identity_md(path, 1)["delta.identity.highWaterMark"] == -50


def test_update_delete_merge_apply_guards(spark, tmp_path):
    path = str(tmp_path / "t8")
    write_delta(
        spark, _payload(spark, 0, 10), path,
        identity_cols={"rid": {"start": 1, "step": 1}},
    )
    with pytest.raises(ValueError, match="identity"):
        update_where(spark, path, "k = 1", {"rid": "0"})
    # updating other columns preserves identity values
    update_where(spark, path, "k = 1", {"v": "999"})
    r = read_delta(spark, path).filter("k = 1").collect()[0]
    assert r["v"] == 999 and 1 <= r["rid"] <= 10
    # deletes preserve the rest
    delete_where(spark, path, "k >= 8")
    assert read_delta(spark, path).count() == 8
    # a source PROVIDING the ALWAYS identity column is refused …
    src = _payload(spark, 0, 3)
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        merge_delta(
            spark, path,
            src.withColumn("rid", F.lit(1).cast("long")),
            key_cols=["k"],
        )
    # … an ALWAYS replica refuses APPLY CHANGES (source-allocated
    # values the target could never have produced)
    ch = src.withColumn("rid", F.lit(1).cast("long")).withColumn(
        "_change_type", F.lit("insert")
    ).withColumn("_commit_version", F.lit(1).cast("long"))
    with pytest.raises(ValueError, match="APPLY CHANGES"):
        apply_changes_delta(spark, path, ch, key_cols=["k"])


def test_merge_omitting_identity_keeps_matched_allocates_inserts(
    spark, tmp_path
):
    """The surrogate-key CDC shape (r12): a MERGE source without the
    identity column — matched rows keep their allocated values, insert
    rows allocate on-lattice past the high-water mark, and the mark
    advances in the same commit."""
    path = str(tmp_path / "t_idmerge")
    write_delta(
        spark, _payload(spark, 0, 5), path,
        identity_cols={"rid": {"start": 10, "step": 10}},
    )
    before = {
        r["k"]: r["rid"] for r in read_delta(spark, path).collect()
    }
    assert sorted(before.values()) == [10, 20, 30, 40, 50]
    merge_delta(
        spark, path,
        _payload(spark, 3, 8).withColumn("v", F.col("k") * 1000),
        key_cols=["k"],
    )
    after = {
        r["k"]: (r["rid"], r["v"])
        for r in read_delta(spark, path).collect()
    }
    # matched keys 3,4 keep their rids; new keys 5,6,7 allocate past 50
    for k in (3, 4):
        assert after[k][0] == before[k], (k, after[k], before[k])
        assert after[k][1] == k * 1000
    fresh = sorted(after[k][0] for k in (5, 6, 7))
    assert fresh == [60, 70, 80], fresh
    assert _identity_md(path, 1)["delta.identity.highWaterMark"] == 80
    # untouched rows keep values
    for k in (0, 1, 2):
        assert after[k][0] == before[k]
    # a follow-up append continues past the merged mark
    write_delta(spark, _payload(spark, 100, 101), path)
    r = read_delta(spark, path).filter("k = 100").collect()[0]
    assert r["rid"] == 90


def test_merge_by_default_identity_provided(spark, tmp_path):
    """BY DEFAULT (allowExplicitInsert) tables accept source-carried
    identity values through MERGE — inserts advance the mark; a source
    that CHANGES a matched row's identity is refused."""
    path = str(tmp_path / "t_idmerge_bd")
    write_delta(
        spark, _payload(spark, 0, 3), path,
        identity_cols={
            "rid": {"start": 1, "step": 1, "allow_explicit_insert": True}
        },
    )
    stored = {
        r["k"]: r["rid"] for r in read_delta(spark, path).collect()
    }
    # provide the STORED values for matched keys + explicit for inserts
    src = spark.createDataFrame(
        [(0, 0, stored[0]), (5, 5000, 500)], "k long, v long, rid long"
    )
    merge_delta(spark, path, src, key_cols=["k"])
    after = {r["k"]: r["rid"] for r in read_delta(spark, path).collect()}
    assert after[5] == 500 and after[0] == stored[0]
    assert _identity_md(path, 1)["delta.identity.highWaterMark"] == 500
    # changing a matched row's identity value is an UPDATE of identity
    bad = spark.createDataFrame(
        [(1, 1, 99999)], "k long, v long, rid long"
    )
    with pytest.raises(ValueError, match="UPDATE of an identity"):
        merge_delta(spark, path, bad, key_cols=["k"])


def test_apply_changes_by_default_identity_replica(spark, tmp_path):
    """A BY DEFAULT replica accepts APPLY CHANGES; its mark advances
    past the replicated values so local appends never collide."""
    path = str(tmp_path / "t_idapply_bd")
    write_delta(
        spark, _payload(spark, 0, 2), path,
        identity_cols={
            "rid": {"start": 1, "step": 1, "allow_explicit_insert": True}
        },
    )
    ch = (
        spark.createDataFrame(
            [(7, 700, 70), (8, 800, 80)], "k long, v long, rid long"
        )
        .withColumn("_change_type", F.lit("insert"))
        .withColumn("_commit_version", F.lit(1).cast("long"))
    )
    apply_changes_delta(spark, path, ch, key_cols=["k"])
    got = {r["k"]: r["rid"] for r in read_delta(spark, path).collect()}
    assert got[7] == 70 and got[8] == 80
    assert _identity_md(path, 1)["delta.identity.highWaterMark"] == 80
    write_delta(spark, _payload(spark, 9, 10), path)
    r = read_delta(spark, path).filter("k = 9").collect()[0]
    assert r["rid"] == 81


def test_identity_creation_only_and_zero_step(spark, tmp_path):
    path = str(tmp_path / "t9")
    write_delta(spark, _payload(spark, 0, 3), path)
    with pytest.raises(ValueError, match="creation"):
        write_delta(
            spark, _payload(spark, 3, 6), path,
            identity_cols={"rid": {"start": 1, "step": 1}},
        )
    with pytest.raises(ValueError, match="non-zero"):
        write_delta(
            spark, _payload(spark, 0, 3), str(tmp_path / "t9b"),
            identity_cols={"rid": {"start": 1, "step": 0}},
        )


def test_identity_with_partitions_and_evolution(spark, tmp_path):
    path = str(tmp_path / "t10")
    df = _payload(spark, 0, 12).withColumn(
        "grp", (F.col("k") % 3).cast("string")
    )
    write_delta(
        spark, df, path, partition_col="grp",
        identity_cols={"rid": {"start": 1, "step": 1}},
    )
    evolved = _payload(spark, 50, 53).withColumn(
        "grp", F.lit("9")
    ).withColumn("tag", F.lit("x"))
    v = write_delta(spark, evolved, path, partition_col="grp")
    # identity metadata survives the evolving commit, mark advanced
    md = _identity_md(path, v)
    assert md["delta.identity.highWaterMark"] == 15
    rows = read_delta(spark, path)
    assert sorted(r["rid"] for r in rows.select("rid").collect()) == list(
        range(1, 16)
    )
    assert "tag" in rows.columns


def test_txn_replay_does_not_double_allocate(spark, tmp_path):
    """Exactly-once composition: a replayed (appId, version) batch is
    skipped BEFORE identity allocation runs, so streaming-sink restarts
    can never double-allocate values or advance the high-water mark
    twice."""
    path = str(tmp_path / "t11")
    write_delta(
        spark, _payload(spark, 0, 5), path,
        identity_cols={"rid": {"start": 1, "step": 1}},
    )
    v1 = write_delta(
        spark, _payload(spark, 10, 13), path, txn=("app", 1)
    )
    md1 = _identity_md(path, v1)
    # the exact same batch replays (restart): skipped, nothing changes
    v2 = write_delta(
        spark, _payload(spark, 10, 13), path, txn=("app", 1)
    )
    assert v2 == v1
    rows = sorted(
        r["rid"] for r in read_delta(spark, path).select("rid").collect()
    )
    assert rows == list(range(1, 9))
    assert md1["delta.identity.highWaterMark"] == 8
