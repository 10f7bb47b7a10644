"""timestampNtz, vacuumProtocolCheck, and domainMetadata — the
round-9 protocol-completeness trio: NTZ columns carry their feature
from creation or evolution, vacuum validates both protocol sides
before deleting, and named metadata domains ride the log
transactionally with checkpoint survival.

Reference: the reference repo has no lakehouse layer; semantics follow
the public Delta protocol (delta-io PROTOCOL.md).
"""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest
from pyspark.sql import functions as F

from portfolio_data_pipelines_spark.operators.delta_checkpoint import checkpoint_delta
from portfolio_data_pipelines_spark.operators.delta_log import write_delta
from portfolio_data_pipelines_spark.operators.delta_maintain import (
    get_domain_metadata,
    remove_domain_metadata,
    set_domain_metadata,
    vacuum_delta,
)
from portfolio_data_pipelines_spark.operators.delta_scan import read_delta
from tests.delta_reader import (
    read_delta_external,
)


def _log_actions(path, version):
    with open(f"{path}/_delta_log/{version:020d}.json") as f:
        return [json.loads(l) for l in f.read().splitlines() if l.strip()]


def _proto(path, version):
    return next(
        a["protocol"] for a in _log_actions(path, version) if "protocol" in a
    )


def _ntz_frame(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"),
        F.expr(
            "timestamp_ntz '2024-05-01 10:00:00' + "
            "make_dt_interval(0, CAST(id AS INT))"
        ).alias("local_ts"),
    )


def test_ntz_creation_declares_feature_and_roundtrips(spark, tmp_path):
    path = str(tmp_path / "t1")
    write_delta(spark, _ntz_frame(spark, 0, 5), path)
    proto = _proto(path, 0)
    assert proto["minReaderVersion"] == 3
    assert "timestampNtz" in proto["readerFeatures"]
    assert "timestampNtz" in proto["writerFeatures"]
    rows = read_delta(spark, path).orderBy("id").collect()
    assert rows[3]["local_ts"] == dt.datetime(2024, 5, 1, 13, 0, 0)
    assert rows[3]["local_ts"].tzinfo is None
    names, ext = read_delta_external(path)
    got = sorted(r[names.index("local_ts")] for r in ext)
    assert got[0] == dt.datetime(2024, 5, 1, 10, 0, 0)
    # appends keep working (we implement the writer duty: the type)
    write_delta(spark, _ntz_frame(spark, 10, 12), path)
    assert read_delta(spark, path).count() == 7


def test_ntz_via_evolution_upgrades_protocol_same_commit(spark, tmp_path):
    path = str(tmp_path / "t2")
    write_delta(
        spark, spark.range(0, 4).select(F.col("id")), path
    )
    assert _proto(path, 0) == {"minReaderVersion": 1, "minWriterVersion": 2}
    v = write_delta(spark, _ntz_frame(spark, 10, 13), path)
    proto = _proto(path, v)
    assert "timestampNtz" in proto["readerFeatures"]
    rows = read_delta(spark, path)
    assert rows.count() == 7
    # pre-evolution rows null-fill the new NTZ column
    assert rows.filter("local_ts IS NULL").count() == 4


def test_ntz_generated_creation_carries_legacy_duties(spark, tmp_path):
    path = str(tmp_path / "t3")
    df = _ntz_frame(spark, 0, 8)
    write_delta(
        spark, df, path, partition_col="d",
        generated_cols={"d": "CAST(local_ts AS DATE)"},
    )
    proto = _proto(path, 0)
    # table-features form with the generated-column legacy duty listed
    assert proto["minReaderVersion"] == 3
    assert "generatedColumns" in proto["writerFeatures"]
    assert "timestampNtz" in proto["readerFeatures"]
    rows = read_delta(spark, path).collect()
    assert all(r["d"] == r["local_ts"].date() for r in rows)


def test_vacuum_refuses_unknown_writer_features(spark, tmp_path):
    path = str(tmp_path / "t4")
    write_delta(spark, spark.range(0, 4).select("id"), path)
    write_delta(
        spark, spark.range(4, 8).select("id"), path, mode="overwrite"
    )
    log_dir = f"{path}/_delta_log"
    versions = sorted(
        int(f[:20]) for f in os.listdir(log_dir) if f.endswith(".json")
    )
    with open(f"{log_dir}/{versions[-1] + 1:020d}.json", "w") as f:
        f.write(json.dumps({"protocol": {
            "minReaderVersion": 1, "minWriterVersion": 7,
            "writerFeatures": ["liquidClustering"],
        }}) + "\n")
    with pytest.raises(ValueError, match="liquidClustering"):
        vacuum_delta(spark, path, retain_hours=1, now_ms=4_000_000_000_000)


def test_domain_metadata_lifecycle(spark, tmp_path):
    path = str(tmp_path / "t5")
    write_delta(spark, spark.range(0, 3).select("id"), path)
    v1 = set_domain_metadata(
        spark, path, "app.compaction", {"state": "running", "job": 7}
    )
    proto = _proto(path, v1)
    # writer-only upgrade: reader version untouched
    assert proto["minReaderVersion"] == 1
    assert proto["minWriterVersion"] == 7
    assert "domainMetadata" in proto["writerFeatures"]
    assert "readerFeatures" not in proto
    got = get_domain_metadata(spark, path)
    assert json.loads(got["app.compaction"]) == {"job": 7, "state": "running"}
    # update wins, removal tombstones, time travel sees history
    set_domain_metadata(spark, path, "app.compaction", {"state": "done"})
    v3 = remove_domain_metadata(spark, path, "app.compaction")
    assert get_domain_metadata(spark, path) == {}
    assert json.loads(
        get_domain_metadata(spark, path, version=v3 - 1)["app.compaction"]
    ) == {"state": "done"}
    with pytest.raises(ValueError, match="not set"):
        remove_domain_metadata(spark, path, "app.compaction")
    # the upgraded table still accepts normal commits + reads
    write_delta(spark, spark.range(3, 6).select("id"), path)
    assert read_delta(spark, path).count() == 6
    names, ext = read_delta_external(path)
    assert len(ext) == 6


def test_domain_metadata_reserved_namespace(spark, tmp_path):
    path = str(tmp_path / "t6")
    write_delta(spark, spark.range(0, 2).select("id"), path)
    with pytest.raises(ValueError, match="reserved"):
        set_domain_metadata(spark, path, "delta.rowTracking", "{}")


def test_domain_metadata_survives_checkpoint(spark, tmp_path):
    path = str(tmp_path / "t7")
    write_delta(spark, spark.range(0, 3).select("id"), path)
    set_domain_metadata(spark, path, "app.x", {"k": 1})
    set_domain_metadata(spark, path, "app.y", {"k": 2})
    remove_domain_metadata(spark, path, "app.x")
    checkpoint_delta(spark, path, 3)
    # replay anchored on the checkpoint alone
    log_dir = f"{path}/_delta_log"
    for v in range(3):
        os.remove(f"{log_dir}/{v:020d}.json")
    got = get_domain_metadata(spark, path)
    assert set(got) == {"app.y"}
    assert json.loads(got["app.y"]) == {"k": 2}
    assert read_delta(spark, path).count() == 3


def test_creation_configuration(spark, tmp_path):
    from portfolio_data_pipelines_spark.operators.delta_cdf import read_delta_cdf

    path = str(tmp_path / "t8")
    write_delta(
        spark, spark.range(0, 3).select("id"), path,
        configuration={
            "delta.appendOnly": "true",
            "delta.enableChangeDataFeed": "true",
        },
    )
    meta = next(
        a["metaData"] for a in _log_actions(path, 0) if "metaData" in a
    )
    assert meta["configuration"]["delta.appendOnly"] == "true"
    # CDF config raises the creation protocol to its writer level
    assert _proto(path, 0)["minWriterVersion"] == 4
    # CDF is live from creation: the append's rows feed the change feed
    write_delta(spark, spark.range(3, 5).select("id"), path)
    cdf = read_delta_cdf(spark, path, 0)
    assert sorted(
        (r["id"], r["_change_type"]) for r in cdf.collect()
    ) == [(3, "insert"), (4, "insert")]
    # appendOnly enforced from creation, with no hand-edited log
    with pytest.raises(ValueError, match="append-only"):
        write_delta(
            spark, spark.range(0, 1).select("id"), path, mode="overwrite"
        )
    with pytest.raises(ValueError, match="creation"):
        write_delta(
            spark, spark.range(5, 6).select("id"), path,
            configuration={"x": "y"},
        )
    with pytest.raises(ValueError, match="dedicated"):
        write_delta(
            spark, spark.range(0, 1).select("id"), str(tmp_path / "t8b"),
            configuration={"delta.constraints.c": "id > 0"},
        )


def test_describe_detail(spark, tmp_path):
    from portfolio_data_pipelines_spark.operators.delta_maintain import (
        describe_detail,
        set_domain_metadata,
    )

    path = str(tmp_path / "t9")
    df = spark.range(0, 20).select(
        F.col("id"), (F.col("id") % 2).cast("string").alias("grp")
    )
    write_delta(
        spark, df, path, partition_col="grp",
        configuration={"delta.appendOnly": "false"},
    )
    set_domain_metadata(spark, path, "app.z", {"k": 1})  # upgrades writer
    d = describe_detail(spark, path).collect()[0]
    assert d["format"] == "parquet"
    assert d["partitionColumns"] == ["grp"]
    assert d["numFiles"] >= 2
    assert d["sizeInBytes"] > 0
    assert d["properties"]["delta.appendOnly"] == "false"
    assert d["minWriterVersion"] == 7
    assert "domainMetadata" in d["tableFeatures"]
    assert d["version"] == 1
    assert d["createdAt"] is not None and d["lastModified"] is not None


def test_check_constraints_bump_writer_version(spark, tmp_path):
    """ADVICE r9: checkConstraints is a writer-VERSION-3 duty. A
    creation commit declaring constraints must not stay at legacy v2
    (a foreign legacy writer would commit violating rows without ever
    seeing the constraint), and ALTER ADD CONSTRAINT on a v2 table
    must bump the protocol in the SAME commit."""
    from portfolio_data_pipelines_spark.operators.delta_alter import (
        add_check_constraint,
    )

    # creation path
    p1 = str(tmp_path / "t_ck_create")
    write_delta(
        spark,
        spark.createDataFrame([(1, 5.0)], "id bigint, v double"),
        p1,
        constraints={"v_pos": "v > 0"},
    )
    assert _proto(p1, 0)["minWriterVersion"] == 3
    # post-creation ALTER path: v2 table bumps in the constraint commit
    p2 = str(tmp_path / "t_ck_alter")
    write_delta(
        spark,
        spark.createDataFrame([(1, 5.0)], "id bigint, v double"),
        p2,
    )
    assert _proto(p2, 0)["minWriterVersion"] == 2
    v = add_check_constraint(spark, p2, "v_pos", "v > 0")
    assert _proto(p2, v)["minWriterVersion"] == 3
    # the constraint still enforces, and both readers stay on the table
    with pytest.raises(Exception, match="v_pos"):
        write_delta(
            spark,
            spark.createDataFrame([(2, -1.0)], "id bigint, v double"),
            p2,
        )
    names, rows = read_delta_external(p2)
    assert len(rows) == 1
    # a table-features table lists the feature instead of a version bump
    p3 = str(tmp_path / "t_ck_tf")
    write_delta(
        spark,
        _ntz_frame(spark, 0, 3),
        p3,
    )
    assert _proto(p3, 0)["minWriterVersion"] == 7
    v3 = add_check_constraint(spark, p3, "id_pos", "id >= 0")
    assert "checkConstraints" in _proto(p3, v3)["writerFeatures"]


def _collated_fixture(tmp_path, name, collation):
    """Hand-author a foreign table whose schema stamps a __COLLATIONS
    map and whose protocol lists the collations-preview reader
    feature (delta-spark 4.x's form)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tmp_path / name
    (root / "_delta_log").mkdir(parents=True)
    pq.write_table(
        pa.table({"id": pa.array([1, 2], pa.int64()),
                  "s": pa.array(["a", "B"], pa.string())}),
        root / "part-0000.parquet",
    )
    schema = json.dumps({"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True, "metadata": {}},
        {"name": "s", "type": "string", "nullable": True,
         "metadata": {"__COLLATIONS": {"s": f"spark.{collation}"}}},
    ]})
    with open(root / "_delta_log" / f"{0:020d}.json", "w") as f:
        for a in [
            {"protocol": {
                "minReaderVersion": 3, "minWriterVersion": 7,
                "readerFeatures": ["collations-preview"],
                "writerFeatures": ["collations-preview"],
            }},
            {"metaData": {
                "id": f"coll-{collation}",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema, "partitionColumns": [],
                "configuration": {}, "createdTime": 0,
            }},
            {"add": {
                "path": "part-0000.parquet", "partitionValues": {},
                "size": 1, "modificationTime": 0, "dataChange": True,
            }},
        ]:
            f.write(json.dumps(a) + "\n")
    return str(root)


def test_utf8_binary_collation_accepted_on_read(spark, tmp_path):
    """delta-spark 4.x stamps collation metadata + the
    collations-preview feature even when every collation is
    UTF8_BINARY — byte-identical to the default, so BOTH readers accept
    the table (round-11 advisory); rows read normally."""
    path = _collated_fixture(tmp_path, "t_coll_bin", "UTF8_BINARY")
    got = {r["id"]: r["s"] for r in read_delta(spark, path).collect()}
    assert got == {1: "a", 2: "B"}
    names, rows = read_delta_external(path)
    assert {r[0]: r[1] for r in rows} == got


def test_utf8_lcase_collation_reads_with_fold_semantics(spark, tmp_path):
    """UTF8_LCASE (r12): the one deterministic ICU-free non-default
    collation READS in both readers — the Spark schema carries the
    __COLLATIONS metadata, so grouping and comparison fold case
    natively; the external reader returns the raw rows."""
    path = _collated_fixture(tmp_path, "t_coll_lcase", "UTF8_LCASE")
    df = read_delta(spark, path)
    assert df.schema["s"].dataType.collation == "UTF8_LCASE"
    got = {r["id"]: r["s"] for r in df.collect()}
    assert got == {1: "a", 2: "B"}
    # fold semantics are live: 'a' and 'B' match case-insensitively
    assert df.filter("s = 'A'").count() == 1
    assert df.filter("s = 'b'").count() == 1
    names, rows = read_delta_external(path)
    assert {r[0]: r[1] for r in rows} == got


def test_utf8_lcase_collation_write_lifecycle(spark, tmp_path):
    """UTF8_LCASE WRITES (r12 late): sources are cast to the collated
    type before any key join, so MERGE/UPDATE/DELETE/APPLY CHANGES all
    compare under the table's fold semantics — a source key 'A' matches
    the stored 'a'; byte-ordered file stats never prune on the folded
    column (superset-safe)."""
    from portfolio_data_pipelines_spark.operators.delta_log import (
        delete_where,
        update_where,
    )
    from portfolio_data_pipelines_spark.operators.delta_merge import (
        apply_changes_delta,
        merge_delta,
    )

    path = _collated_fixture(tmp_path, "t_coll_lcase_w", "UTF8_LCASE")
    write_delta(
        spark, spark.createDataFrame([(3, "c")], "id long, s string"),
        path, mode="append",
    )
    # merge ON the collated key: 'A' folds onto the stored 'a'
    merge_delta(
        spark, path,
        spark.createDataFrame([("A", 10), ("d", 4)], "s string, id long"),
        key_cols=["s"],
    )
    got = {r["s"]: r["id"] for r in read_delta(spark, path).collect()}
    assert got == {"A": 10, "B": 2, "c": 3, "d": 4}, got
    update_where(spark, path, "s = 'C'", {"id": "30"})
    delete_where(spark, path, "s = 'b'")
    got = {r["s"]: r["id"] for r in read_delta(spark, path).collect()}
    assert got == {"A": 10, "c": 30, "d": 4}, got
    ch = (
        spark.createDataFrame([(40, "D")], "id long, s string")
        .withColumn("_change_type", F.lit("insert"))
        .withColumn("_commit_version", F.lit(1).cast("long"))
    )
    apply_changes_delta(spark, path, ch, key_cols=["s"])
    got = {r["s"]: r["id"] for r in read_delta(spark, path).collect()}
    assert got == {"A": 10, "c": 30, "D": 40}, got
    names, rows = read_delta_external(path)
    assert {r[1] for r in rows} == {"A", "c", "D"}


def test_utf8_binary_collation_feature_accepts_writes(spark, tmp_path):
    """A collations-stamped table whose every collation is UTF8_BINARY
    carries no writer duty (byte-identical to the default) — commits
    are accepted (r12); the appended rows read back in both readers."""
    path = _collated_fixture(tmp_path, "t_coll_bin_w", "UTF8_BINARY")
    write_delta(
        spark,
        spark.createDataFrame([(3, "c")], "id long, s string"),
        path, mode="append",
    )
    got = {r["id"]: r["s"] for r in read_delta(spark, path).collect()}
    assert got == {1: "a", 2: "B", 3: "c"}
    names, rows = read_delta_external(path)
    assert {r[0]: r[1] for r in rows} == got


def test_icu_collation_reads_with_native_semantics(spark, tmp_path):
    """ICU collations (r13): any collation the RUNNING Spark build
    resolves — UNICODE, UNICODE_CI, locale forms — is accepted; the
    materialized collated StringType carries Spark's own ICU compare/
    grouping semantics. The external reader returns raw rows (it never
    compares)."""
    path = _collated_fixture(tmp_path, "t_coll_icu", "UNICODE_CI")
    df = read_delta(spark, path)
    assert df.schema["s"].dataType.collation == "UNICODE_CI"
    got = {r["id"]: r["s"] for r in df.collect()}
    assert got == {1: "a", 2: "B"}
    # ICU case-insensitive compare is live
    assert df.filter("s = 'A'").count() == 1
    assert df.filter("s = 'b'").count() == 1
    assert df.groupBy("s").count().count() == 2
    _names, rows = read_delta_external(path)
    assert {r[0]: r[1] for r in rows} == got
    # locale form too
    p2 = _collated_fixture(tmp_path, "t_coll_locale", "en_CI")
    df2 = read_delta(spark, p2)
    assert df2.filter("s = 'A'").count() == 1


def test_icu_collation_write_lifecycle(spark, tmp_path):
    """Writes to an ICU-collated table (r13): sources cast to the
    collated type before key joins, so MERGE folds per ICU semantics —
    a source key 'A' matches the stored 'a' under UNICODE_CI; stats
    never prune on the collated column (superset-safe, same duty as
    UTF8_LCASE)."""
    from portfolio_data_pipelines_spark.operators.delta_log import delete_where
    from portfolio_data_pipelines_spark.operators.delta_merge import merge_delta

    path = _collated_fixture(tmp_path, "t_coll_icu_w", "UNICODE_CI")
    write_delta(
        spark, spark.createDataFrame([(3, "c")], "id long, s string"),
        path, mode="append",
    )
    merge_delta(
        spark, path,
        spark.createDataFrame([("A", 10), ("d", 4)], "s string, id long"),
        key_cols=["s"],
    )
    got = {r["s"]: r["id"] for r in read_delta(spark, path).collect()}
    assert got == {"A": 10, "B": 2, "c": 3, "d": 4}, got
    delete_where(spark, path, "s = 'b'")
    got = {r["s"]: r["id"] for r in read_delta(spark, path).collect()}
    assert got == {"A": 10, "c": 3, "d": 4}, got
    _names, rows = read_delta_external(path)
    assert {r[1] for r in rows} == {"A", "c", "d"}


def test_unknown_collation_refused_by_name(spark, tmp_path):
    """Only collations the running Spark build cannot resolve stay
    refused — by name, Spark side only (the external reader returns raw
    rows under any collation)."""
    path = _collated_fixture(tmp_path, "t_coll_bogus", "NOPE_CI")
    with pytest.raises(ValueError, match="NOPE_CI"):
        read_delta(spark, path).collect()
    _names, rows = read_delta_external(path)
    assert {r[0]: r[1] for r in rows} == {1: "a", 2: "B"}


def test_collation_nested_in_array_struct_refused(spark, tmp_path):
    """An UNRESOLVABLE collation on a struct field NESTED inside an
    array must still be refused — the walk descends through arrays/
    maps, not just top-level structs (a missed level would silently
    accept it). Since r13 known ICU names pass everywhere, so the
    fixture uses a name no Spark build resolves."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tmp_path / "t_coll_nested"
    (root / "_delta_log").mkdir(parents=True)
    inner = pa.struct([("s", pa.string())])
    pq.write_table(
        pa.table({"id": pa.array([1], pa.int64()),
                  "arr": pa.array([[{"s": "a"}]], pa.list_(inner))}),
        root / "part-0000.parquet",
    )
    schema = json.dumps({"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True, "metadata": {}},
        {"name": "arr", "nullable": True, "metadata": {},
         "type": {"type": "array", "containsNull": True,
                  "elementType": {"type": "struct", "fields": [
                      {"name": "s", "type": "string", "nullable": True,
                       "metadata": {"__COLLATIONS":
                                    {"s": "spark.NOPE_CI"}}}]}}},
    ]})
    with open(root / "_delta_log" / f"{0:020d}.json", "w") as f:
        for a in [
            {"protocol": {
                "minReaderVersion": 3, "minWriterVersion": 7,
                "readerFeatures": ["collations-preview"],
                "writerFeatures": ["collations-preview"],
            }},
            {"metaData": {
                "id": "coll-nested",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema, "partitionColumns": [],
                "configuration": {}, "createdTime": 0,
            }},
            {"add": {"path": "part-0000.parquet", "partitionValues": {},
                     "size": 1, "modificationTime": 0,
                     "dataChange": True}},
        ]:
            f.write(json.dumps(a) + "\n")
    with pytest.raises(ValueError, match="NOPE_CI"):
        read_delta(spark, str(root)).collect()
    from tests.delta_reader import (
        read_delta_external,
    )

    # the external reader returns raw rows under ANY collation (r13)
    _names, rows = read_delta_external(str(root))
    assert len(rows) == 1


def test_collated_creation_declares_feature(spark, tmp_path):
    """Creating a table FROM a collated frame (r12): the schemaString
    carries Spark's __COLLATIONS metadata and the protocol declares the
    collations feature in BOTH lists — a legacy reader would otherwise
    silently byte-compare the folded column. Fold semantics survive the
    round-trip, and evolution adding a collated column upgrades the
    protocol in the same commit."""
    from pyspark.sql.types import LongType, StringType, StructField
    from pyspark.sql.types import StructType as ST

    path = str(tmp_path / "t_coll_create")
    st = ST([StructField("id", LongType()),
             StructField("s", StringType("UTF8_LCASE"))])
    write_delta(spark, spark.createDataFrame([(1, "Ab"), (2, "aB")], st), path)
    with open(f"{path}/_delta_log/{0:020d}.json") as fh:
        acts = [json.loads(line) for line in fh if line.strip()]
    proto = next(a["protocol"] for a in acts if "protocol" in a)
    assert "collations" in proto["readerFeatures"]
    assert "collations" in proto["writerFeatures"]
    df = read_delta(spark, path)
    assert df.schema["s"].dataType.collation == "UTF8_LCASE"
    assert df.groupBy("s").count().count() == 1  # 'Ab'/'aB' fold together
    names, rows = read_delta_external(path)
    assert {r[1] for r in rows} == {"Ab", "aB"}
    # evolution on a PLAIN table adding a collated column declares the
    # feature in the evolving commit
    p2 = str(tmp_path / "t_coll_evolve")
    write_delta(spark, spark.createDataFrame([(1,)], "id long"), p2)
    st2 = ST([StructField("id", LongType()),
              StructField("tag", StringType("UTF8_LCASE"))])
    write_delta(spark, spark.createDataFrame([(2, "X")], st2), p2)
    with open(f"{p2}/_delta_log/{1:020d}.json") as fh:
        acts2 = [json.loads(line) for line in fh if line.strip()]
    proto2 = next(a["protocol"] for a in acts2 if "protocol" in a)
    assert "collations" in proto2["readerFeatures"]
    got = {r["id"]: r["tag"] for r in read_delta(spark, p2).collect()}
    assert got == {1: None, 2: "X"}


def test_cdf_images_byte_faithful_on_folded_keys(spark, tmp_path):
    """_net_changes byte fidelity (r12): under UTF8_LCASE a MERGE
    source key 'A' matches the stored 'a' — the update PREIMAGE must
    carry the pre side's bytes ('a') and the POSTIMAGE the post side's
    ('A', what the table now stores); before this fix both images
    carried the pre side's key and a byte-faithful CDC consumer
    replicating to a non-collated sink diverged from the table."""
    from pyspark.sql.types import LongType, StringType, StructField
    from pyspark.sql.types import StructType as ST

    from portfolio_data_pipelines_spark.operators.delta_cdf import (
        enable_change_data_feed,
        read_delta_cdf,
    )
    from portfolio_data_pipelines_spark.operators.delta_merge import merge_delta

    path = str(tmp_path / "t_cdf_fold")
    st = ST([StructField("s", StringType("UTF8_LCASE")),
             StructField("v", LongType())])
    write_delta(spark, spark.createDataFrame([("a", 1), ("B", 2)], st), path)
    enable_change_data_feed(spark, path)
    merge_delta(
        spark, path,
        spark.createDataFrame([("A", 10)], "s string, v long"),
        key_cols=["s"],
    )
    assert {tuple(r) for r in read_delta(spark, path).collect()} == {
        ("A", 10), ("B", 2)
    }
    ch = {
        (r["s"], r["v"], r["_change_type"])
        for r in read_delta_cdf(
            spark, path, from_version=1, key_cols=["s"]
        ).collect()
    }
    assert ("a", 1, "update_preimage") in ch, ch
    assert ("A", 10, "update_postimage") in ch, ch


def test_lcase_partition_fold_pruning_superset_safe(spark, tmp_path):
    """Fold-aware PARTITION pruning (r13): an equality predicate on a
    UTF8_LCASE partition column prunes files whose folded
    partitionValue provably differs — ASCII-only, so Python's and
    Spark's lowercase agree — while every fold-equal spelling ('EU',
    'eu') and every non-ASCII value (no proof attempted) keeps its
    file. Result rows must equal the unpruned filter exactly
    (superset guarantee), and byte-stats pruning stays off."""
    from pyspark.sql.types import LongType, StringType, StructField
    from pyspark.sql.types import StructType as ST

    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tmp_path / "t_lcase_part"
    (root / "_delta_log").mkdir(parents=True)
    adds = []
    for i, reg in enumerate(["EU", "eu", "US", "Straße"]):
        (root / f"region={reg}").mkdir(exist_ok=True)
        pq.write_table(
            pa.table({"id": pa.array([i + 1], pa.int64())}),
            root / f"region={reg}" / "part-0.parquet",
        )
        adds.append({"add": {
            "path": f"region={reg}/part-0.parquet",
            "partitionValues": {"region": reg}, "size": 1,
            "modificationTime": 0, "dataChange": True}})
    schema = json.dumps({"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True, "metadata": {}},
        {"name": "region", "type": "string", "nullable": True,
         "metadata": {"__COLLATIONS": {"region": "spark.UTF8_LCASE"}}}]})
    with open(root / "_delta_log" / f"{0:020d}.json", "w") as f:
        for a in [
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["collations-preview"],
                          "writerFeatures": ["collations-preview"]}},
            {"metaData": {"id": "collpart",
                          "format": {"provider": "parquet", "options": {}},
                          "schemaString": schema,
                          "partitionColumns": ["region"],
                          "configuration": {}, "createdTime": 0}},
        ] + adds:
            f.write(json.dumps(a) + "\n")
    path = str(root)
    full = read_delta(spark, path)
    assert full.count() == 4  # collated partition type restored on read
    assert full.schema["region"].dataType.collation == "UTF8_LCASE"
    pruned = read_delta(spark, path, predicate={"region": ("eu", "eu")})
    dirs = {f.rsplit("/", 2)[-2] for f in pruned.inputFiles()}
    # both fold-equal spellings kept, the non-ASCII value kept (no
    # proof attempted), the provably fold-different US file pruned
    assert dirs == {"region=EU", "region=eu", "region=Straße"}
    # predicate is a pruning HINT: the filtered result over the pruned
    # plan equals the unpruned filter (the superset contract)
    want = sorted(r["id"] for r in full.filter("region = 'eu'").collect())
    assert want == [1, 2]
    got = sorted(
        r["id"] for r in pruned.filter("region = 'eu'").collect()
    )
    assert got == want
    # non-ASCII equality: no proof, nothing pruned
    p2 = read_delta(
        spark, path, predicate={"region": ("Straße", "Straße")}
    )
    assert len(p2.inputFiles()) == 4
    # range (non-equality) bounds on the folded column never prune
    p3 = read_delta(spark, path, predicate={"region": ("A", "F")})
    assert len(p3.inputFiles()) == 4


def test_versioned_icu_collation_warns_once_on_write(spark, tmp_path):
    """A declared ICU version suffix (ICU.en_CI.75.1) is accepted —
    the probe folds with THIS build's ICU — but no longer silently:
    the first write to the table warns about possible cross-version
    fold drift, later writes stay quiet (r13 ADVICE)."""
    import warnings as _w

    path = _collated_fixture(tmp_path, "t_coll_icu_ver", "en_CI.75.1")
    with pytest.warns(UserWarning, match="version-suffixed"):
        write_delta(
            spark, spark.createDataFrame([(3, "c")], "id long, s string"),
            path, mode="append",
        )
    with _w.catch_warnings():
        _w.simplefilter("error")
        write_delta(
            spark, spark.createDataFrame([(4, "d")], "id long, s string"),
            path, mode="append",
        )
    got = {r["id"] for r in read_delta(spark, path).collect()}
    assert got == {1, 2, 3, 4}
