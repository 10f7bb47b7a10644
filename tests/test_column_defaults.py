"""allowColumnDefaults writer feature (round 11).

Column DEFAULT values via ``CURRENT_DEFAULT`` field metadata
(delta-spark's convention): declared at creation (``default_cols``) or
via ``set_column_default``; every row-adding commit path fills omitted
columns with the expression; provided values pass through unvalidated
(SQL DEFAULT semantics). Protocol carries the writer-only feature in
the same commit that introduces the first default. Foreign-fixture
parity pins the wire format.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from portfolio_data_pipelines_spark.operators.delta_alter import (
    drop_column_default,
    set_column_default,
)
from portfolio_data_pipelines_spark.operators.delta_log import write_delta
from portfolio_data_pipelines_spark.operators.delta_maintain import drop_table_feature
from portfolio_data_pipelines_spark.operators.delta_merge import merge_delta
from portfolio_data_pipelines_spark.operators.delta_scan import read_delta
from tests.delta_reader import (
    read_delta_external,
)


def _acts(path, version):
    return [
        json.loads(l)
        for l in open(f"{path}/_delta_log/{version:020d}.json")
        if l.strip()
    ]


def _field_md(path, version, col):
    meta = next(
        a["metaData"] for a in _acts(path, version) if "metaData" in a
    )
    f = next(
        f
        for f in json.loads(meta["schemaString"])["fields"]
        if f["name"] == col
    )
    return f.get("metadata") or {}


def test_creation_declares_feature_and_fills_on_omit(spark, tmp_path):
    path = str(tmp_path / "t_def")
    write_delta(
        spark,
        spark.createDataFrame(
            [(1, "us", 10.0)], "id bigint, region string, score double"
        ),
        path,
        default_cols={"region": "'unknown'", "score": "0.0"},
    )
    proto = next(a["protocol"] for a in _acts(path, 0) if "protocol" in a)
    assert proto["minReaderVersion"] == 1
    assert proto["minWriterVersion"] == 7
    assert "readerFeatures" not in proto
    assert "allowColumnDefaults" in proto["writerFeatures"]
    # legacy duties carried into the explicit list
    assert {"appendOnly", "invariants"} <= set(proto["writerFeatures"])
    assert _field_md(path, 0, "region")["CURRENT_DEFAULT"] == "'unknown'"
    # append omitting BOTH defaulted columns -> filled
    write_delta(
        spark, spark.createDataFrame([(2,)], "id bigint"), path
    )
    # append providing one -> taken as-is (no validation)
    write_delta(
        spark,
        spark.createDataFrame([(3, "eu")], "id bigint, region string"),
        path,
    )
    got = {
        r["id"]: (r["region"], r["score"])
        for r in read_delta(spark, path).collect()
    }
    assert got == {
        1: ("us", 10.0),
        2: ("unknown", 0.0),
        3: ("eu", 0.0),
    }
    # both readers agree
    names, rows = read_delta_external(path)
    assert {r[names.index("id")]: (
        r[names.index("region")], r[names.index("score")]
    ) for r in rows} == got


def test_merge_source_omitting_defaulted_column_fills(spark, tmp_path):
    path = str(tmp_path / "t_def_merge")
    write_delta(
        spark,
        spark.createDataFrame(
            [(1, "us", 1.0)], "id bigint, region string, v double"
        ),
        path,
        default_cols={"region": "'unknown'"},
    )
    merge_delta(
        spark,
        path,
        spark.createDataFrame([(1, 5.0), (2, 7.0)], "id bigint, v double"),
        key_cols=["id"],
    )
    got = {
        r["id"]: (r["region"], r["v"])
        for r in read_delta(spark, path).collect()
    }
    # SQL MERGE semantics for an omitted DEFAULT column: matched row
    # KEEPS the target's stored value ("us"); only the INSERT row takes
    # the default (r12, ADVICE)
    assert got == {1: ("us", 5.0), 2: ("unknown", 7.0)}


def test_merge_keeps_target_null_not_default_on_matched(spark, tmp_path):
    # a matched row whose stored value is NULL must stay NULL — the
    # repair distinguishes "matched, stored NULL" from "not matched"
    path = str(tmp_path / "t_def_merge_null")
    write_delta(
        spark,
        spark.createDataFrame(
            [(1, None, 1.0), (3, "eu", 3.0)],
            "id bigint, region string, v double",
        ),
        path,
        default_cols={"region": "'unknown'"},
    )
    merge_delta(
        spark,
        path,
        spark.createDataFrame(
            [(1, 5.0), (3, 8.0), (4, 9.0)], "id bigint, v double"
        ),
        key_cols=["id"],
    )
    got = {
        r["id"]: (r["region"], r["v"])
        for r in read_delta(spark, path).collect()
    }
    assert got == {1: (None, 5.0), 3: ("eu", 8.0), 4: ("unknown", 9.0)}


def test_merge_source_providing_defaulted_column_taken_as_is(spark, tmp_path):
    # defaults never override values the source PROVIDES — matched rows
    # are replaced wholesale from the source as before
    path = str(tmp_path / "t_def_merge_provided")
    write_delta(
        spark,
        spark.createDataFrame(
            [(1, "us", 1.0)], "id bigint, region string, v double"
        ),
        path,
        default_cols={"region": "'unknown'"},
    )
    merge_delta(
        spark,
        path,
        spark.createDataFrame(
            [(1, "br", 5.0), (2, "jp", 7.0)],
            "id bigint, region string, v double",
        ),
        key_cols=["id"],
    )
    got = {
        r["id"]: (r["region"], r["v"])
        for r in read_delta(spark, path).collect()
    }
    assert got == {1: ("br", 5.0), 2: ("jp", 7.0)}


def test_merge_generated_col_recomputed_over_repaired_default(
    spark, tmp_path
):
    # a generated column whose expression references the defaulted
    # column must be recomputed from the REPAIRED value on matched rows
    path = str(tmp_path / "t_def_merge_gen")
    write_delta(
        spark,
        spark.createDataFrame(
            [(1, "us", "us!", 1.0)],
            "id bigint, region string, tag string, v double",
        ),
        path,
        default_cols={"region": "'unknown'"},
        generated_cols={"tag": "concat(region, '!')"},
    )
    merge_delta(
        spark,
        path,
        spark.createDataFrame([(1, 5.0), (2, 7.0)], "id bigint, v double"),
        key_cols=["id"],
    )
    got = {
        r["id"]: (r["region"], r["tag"], r["v"])
        for r in read_delta(spark, path).collect()
    }
    assert got == {
        1: ("us", "us!", 5.0),
        2: ("unknown", "unknown!", 7.0),
    }


def test_set_and_drop_default_on_existing_table(spark, tmp_path):
    path = str(tmp_path / "t_def_alter")
    write_delta(
        spark,
        spark.createDataFrame([(1, "a")], "id bigint, tag string"),
        path,
    )
    proto0 = next(a["protocol"] for a in _acts(path, 0) if "protocol" in a)
    assert proto0 == {"minReaderVersion": 1, "minWriterVersion": 2}
    v = set_column_default(spark, path, "tag", "'none'")
    acts = _acts(path, v)
    proto = next(a["protocol"] for a in acts if "protocol" in a)
    assert "allowColumnDefaults" in proto["writerFeatures"]
    assert proto.get("readerFeatures") in (None, [])
    assert _field_md(path, v, "tag")["CURRENT_DEFAULT"] == "'none'"
    write_delta(spark, spark.createDataFrame([(2,)], "id bigint"), path)
    got = {r["id"]: r["tag"] for r in read_delta(spark, path).collect()}
    assert got == {1: "a", 2: "none"}
    # drop: the metadata leaves, the feature stays declared
    v2 = drop_column_default(spark, path, "tag")
    assert "CURRENT_DEFAULT" not in _field_md(path, v2, "tag")
    # an append omitting the column is now a schema violation again
    with pytest.raises(ValueError, match="additive-only"):
        write_delta(
            spark, spark.createDataFrame([(3,)], "id bigint"), path
        )
    # DROP FEATURE now succeeds (no column declares a default)
    v3 = drop_table_feature(spark, path, "allowColumnDefaults")
    proto3 = next(a["protocol"] for a in _acts(path, v3) if "protocol" in a)
    assert "allowColumnDefaults" not in (
        proto3.get("writerFeatures") or []
    )


def test_drop_feature_refused_while_defaults_remain(spark, tmp_path):
    path = str(tmp_path / "t_def_dropref")
    write_delta(
        spark,
        spark.createDataFrame([(1, "x")], "id bigint, tag string"),
        path,
        default_cols={"tag": "'d'"},
    )
    with pytest.raises(ValueError, match="still"):
        drop_table_feature(spark, path, "allowColumnDefaults")


def test_refusals(spark, tmp_path):
    # non-constant default at creation
    with pytest.raises(Exception, match="id|resolve|UNRESOLVED"):
        write_delta(
            spark,
            spark.createDataFrame([(1, 2)], "id bigint, d bigint"),
            str(tmp_path / "t_bad1"),
            default_cols={"d": "id + 1"},
        )
    # defaulted column absent from the creation batch
    with pytest.raises(ValueError, match="CREATION batch"):
        write_delta(
            spark,
            spark.createDataFrame([(1,)], "id bigint"),
            str(tmp_path / "t_bad2"),
            default_cols={"ghost": "'x'"},
        )
    # default on generated column
    with pytest.raises(ValueError, match="both DEFAULT and"):
        write_delta(
            spark,
            spark.createDataFrame([(1,)], "id bigint").withColumn(
                "day", F.lit("2024-01-01")
            ),
            str(tmp_path / "t_bad3"),
            generated_cols={"day": "'2024-01-01'"},
            default_cols={"day": "'2024-01-02'"},
        )
    # set_column_default on identity/generated columns refused
    p = str(tmp_path / "t_bad4")
    write_delta(
        spark,
        spark.createDataFrame([(1, "2024-01-01")], "id bigint, day string"),
        p,
        generated_cols={"day": "'2024-01-01'"},
    )
    with pytest.raises(ValueError, match="generated/identity"):
        set_column_default(spark, p, "day", "'x'")
    # post-creation declaration via write_delta refused
    with pytest.raises(ValueError, match="set_column_default"):
        write_delta(
            spark,
            spark.createDataFrame([(2, "2024-01-01")],
                                  "id bigint, day string"),
            p,
            default_cols={"day": "'x'"},
        )


def test_foreign_fixture_with_defaults_appends_and_reads(spark, tmp_path):
    """A hand-authored foreign table (CURRENT_DEFAULT metadata +
    allowColumnDefaults writer feature, built without this writer):
    appends through write_delta honor the fill-on-omit duty, and both
    readers see identical rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tmp_path / "t_foreign_def"
    (root / "_delta_log").mkdir(parents=True)
    pq.write_table(
        pa.table({"id": pa.array([1], pa.int64()),
                  "tag": pa.array(["seed"], pa.string())}),
        root / "part-0000.parquet",
    )
    schema = json.dumps({"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True, "metadata": {}},
        {"name": "tag", "type": "string", "nullable": True,
         "metadata": {"CURRENT_DEFAULT": "'foreign-default'"}},
    ]})
    with open(root / "_delta_log" / f"{0:020d}.json", "w") as f:
        for a in [
            {"protocol": {
                "minReaderVersion": 1, "minWriterVersion": 7,
                "writerFeatures": ["allowColumnDefaults"],
            }},
            {"metaData": {
                "id": "def-fixture",
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
    path = str(root)
    write_delta(spark, spark.createDataFrame([(2,)], "id bigint"), path)
    got = {r["id"]: r["tag"] for r in read_delta(spark, path).collect()}
    assert got == {1: "seed", 2: "foreign-default"}
    names, rows = read_delta_external(path)
    assert {r[0]: r[1] for r in rows} == got


def test_stream_sink_batches_fill_defaults(spark, tmp_path):
    """Exactly-once stream-sink commits run the same fill-on-omit duty
    (they route through write_delta)."""
    path = str(tmp_path / "t_def_txn")
    write_delta(
        spark,
        spark.createDataFrame([(0, "seed")], "id bigint, tag string"),
        path,
        default_cols={"tag": "'streamed'"},
    )
    write_delta(
        spark,
        spark.createDataFrame([(1,)], "id bigint"),
        path,
        txn=("appA", 1),
    )
    got = {r["id"]: r["tag"] for r in read_delta(spark, path).collect()}
    assert got == {0: "seed", 1: "streamed"}
