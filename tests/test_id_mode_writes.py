"""ID-mode column-mapping WRITE path (r12).

Through r11 id-mode (Iceberg-converted) tables were READ-only: the
writer refused to commit because staged files carried physical names
but no parquet field ids, which id-resolving readers require. r12
stamps ``parquet.field.id`` on every staged file (data and change
files) via the :class:`_IdModeMap` carrier, so CONVERTed tables accept
the full commit surface: append, MERGE, UPDATE/DELETE, OPTIMIZE, DV
deletes, CDF, and the streaming change feed.

Every fixture here is FOREIGN-SHAPED: the pre-existing file's column
names differ from the Delta schema's physical names, so any
name-resolving read would return wrong columns — passing these tests
requires genuine field-id resolution on both sides.
"""

import glob
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from portfolio_data_pipelines_spark.operators.delta_cdf import read_delta_cdf
from portfolio_data_pipelines_spark.operators.delta_dv import delete_where_dv
from portfolio_data_pipelines_spark.operators.delta_log import (
    delete_where,
    update_where,
    write_delta,
)
from portfolio_data_pipelines_spark.operators.delta_maintain import optimize_delta
from portfolio_data_pipelines_spark.operators.delta_merge import merge_delta
from portfolio_data_pipelines_spark.operators.delta_scan import read_delta
from tests.delta_reader import (
    read_delta_external,
)


def _fld(name, typ, fid):
    return pa.field(
        name, typ, metadata={b"PARQUET:field_id": str(fid).encode()}
    )


def _mk_id_mode_table(root, partitioned=False, cdf=False):
    """A foreign id-mode table: one parquet file whose column NAMES
    (ice_*) differ from nothing yet — but later commits' staged files
    use the physical names while THIS file only resolves by id."""
    (root / "_delta_log").mkdir(parents=True)
    pq.write_table(
        pa.table(
            [pa.array([1, 2], pa.int64()), pa.array(["a", "b"])],
            schema=pa.schema(
                [_fld("weird_id", pa.int64(), 1), _fld("weird_s", pa.string(), 2)]
            ),
        ),
        root / "f1.parquet",
    )
    fields = [
        {"name": "id", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.id": 1,
                      "delta.columnMapping.physicalName": "ice_id"}},
        {"name": "s", "type": "string", "nullable": True,
         "metadata": {"delta.columnMapping.id": 2,
                      "delta.columnMapping.physicalName": "ice_s"}},
    ]
    pcols = []
    if partitioned:
        fields.append(
            {"name": "part", "type": "string", "nullable": True,
             "metadata": {"delta.columnMapping.id": 3,
                          "delta.columnMapping.physicalName": "ice_part"}}
        )
        pcols = ["part"]
    config = {"delta.columnMapping.mode": "id",
              "delta.columnMapping.maxColumnId": str(len(fields))}
    writer_feats = ["columnMapping"]
    if cdf:
        config["delta.enableChangeDataFeed"] = "true"
        writer_feats.append("changeDataFeed")
    pv = {"ice_part": "p0"} if partitioned else {}
    with open(root / "_delta_log" / f"{0:020d}.json", "w") as f:
        for a in [
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["columnMapping"],
                          "writerFeatures": writer_feats}},
            {"metaData": {"id": "idmode",
                          "format": {"provider": "parquet", "options": {}},
                          "schemaString": json.dumps(
                              {"type": "struct", "fields": fields}),
                          "partitionColumns": pcols,
                          "configuration": config,
                          "createdTime": 0}},
            {"add": {"path": "f1.parquet", "partitionValues": pv,
                     "size": 1, "modificationTime": 0, "dataChange": True}},
        ]:
            f.write(json.dumps(a) + "\n")
    return str(root)


def _rows(spark, path):
    return {tuple(r) for r in read_delta(spark, path).collect()}


def test_append_stamps_field_ids_and_physical_names(spark, tmp_path):
    path = _mk_id_mode_table(tmp_path / "t")
    write_delta(
        spark,
        spark.createDataFrame([(3, "c")], "id long, s string"),
        path,
        mode="append",
    )
    assert _rows(spark, path) == {(1, "a"), (2, "b"), (3, "c")}
    names, rows = read_delta_external(path)
    assert names == ["id", "s"]
    assert set(rows) == {(1, "a"), (2, "b"), (3, "c")}
    # staged file: physical names AND stamped field ids
    # exact-basename match, not substring — UUID part names can contain
    # the digram "f1" and would be dropped ~11% of runs (VERDICT r13 #3)
    staged = [
        p for p in glob.glob(f"{path}/**/*.parquet", recursive=True)
        if os.path.basename(p) != "f1.parquet" and "_delta_log" not in p
    ]
    assert staged
    sch = pq.read_schema(staged[0])
    ids = {
        f.name: (f.metadata or {}).get(b"PARQUET:field_id") for f in sch
    }
    assert ids == {"ice_id": b"1", "ice_s": b"2"}


def test_merge_update_delete_optimize_lifecycle(spark, tmp_path):
    path = _mk_id_mode_table(tmp_path / "t", partitioned=True)
    write_delta(
        spark,
        spark.createDataFrame([(3, "c", "p1")],
                              "id long, s string, part string"),
        path, mode="append", partition_col=["part"],
    )
    merge_delta(
        spark, path,
        spark.createDataFrame([(2, "B", "p0"), (4, "d", "p1")],
                              "id long, s string, part string"),
        key_cols=["id"],
    )
    assert _rows(spark, path) == {
        (1, "a", "p0"), (2, "B", "p0"), (3, "c", "p1"), (4, "d", "p1")
    }
    update_where(spark, path, "id = 1", {"s": "'A'"})
    delete_where(spark, path, "id = 4")
    want = {(1, "A", "p0"), (2, "B", "p0"), (3, "c", "p1")}
    assert _rows(spark, path) == want
    optimize_delta(spark, path)
    assert _rows(spark, path) == want
    names, rows = read_delta_external(path)
    assert set(rows) == want
    # the foreign file is gone from the live set but still id-resolves
    # through time travel
    assert {tuple(r) for r in read_delta(spark, path, version=0).collect()} \
        == {(1, "a", "p0"), (2, "b", "p0")}


def test_cdf_and_dv_delete_on_id_mode(spark, tmp_path):
    path = _mk_id_mode_table(tmp_path / "t", cdf=True)
    merge_delta(
        spark, path,
        spark.createDataFrame([(2, "B"), (4, "d")], "id long, s string"),
        key_cols=["id"],
    )
    cdf = read_delta_cdf(spark, path, from_version=0, key_cols=["id"])
    ch = {(r["id"], r["s"], r["_change_type"]) for r in cdf.collect()}
    assert {(2, "b", "update_preimage"), (2, "B", "update_postimage"),
            (4, "d", "insert")} <= ch
    v = delete_where_dv(spark, path, "id = 1")
    want = {(2, "B"), (4, "d")}
    assert _rows(spark, path) == want
    names, rows = read_delta_external(path)
    assert set(rows) == want
    ch2 = {
        (r["id"], r["s"], r["_change_type"])
        for r in read_delta_cdf(
            spark, path, from_version=v - 1, key_cols=["id"]
        ).collect()
    }
    assert (1, "a", "delete") in ch2


def test_feed_plain_and_cdf_over_id_mode(spark, tmp_path):
    from portfolio_data_pipelines_spark.sources.delta_feed import (
        DeltaChangeFeedDataSource,
    )

    spark.dataSource.register(DeltaChangeFeedDataSource)
    path = _mk_id_mode_table(tmp_path / "t", cdf=True)
    write_delta(
        spark, spark.createDataFrame([(3, "c")], "id long, s string"),
        path, mode="append",
    )
    merge_delta(
        spark, path,
        spark.createDataFrame([(2, "B")], "id long, s string"),
        key_cols=["id"],
    )
    q = (
        spark.readStream.format("delta_feed").option("path", path)
        .option("ignorechanges", "true").load()
        .writeStream.format("memory").queryName("idmode_feed_plain")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = {
        (r["id"], r["s"], r["_commit_version"])
        for r in spark.sql("select * from idmode_feed_plain").collect()
    }
    # v0: the foreign file resolves by field id, not by name
    assert {(1, "a", 0), (2, "b", 0), (3, "c", 1)} <= rows
    q2 = (
        spark.readStream.format("delta_feed").option("path", path)
        .option("readChangeFeed", "true").option("keyCols", "id").load()
        .writeStream.format("memory").queryName("idmode_feed_cdf")
        .trigger(availableNow=True).start()
    )
    q2.awaitTermination(120)
    ch = {
        (r["id"], r["s"], r["_change_type"])
        for r in spark.sql("select * from idmode_feed_cdf").collect()
    }
    assert {(2, "b", "update_preimage"), (2, "B", "update_postimage"),
            (3, "c", "insert")} <= ch


def _mk_nested_id_mode_table(root, cdf=False):
    """A foreign NESTED id-mode table: top-level and INNER column names
    in the file (w_*) differ from both logical and physical names, so
    every level must resolve by its stamped parquet field id."""
    (root / "_delta_log").mkdir(parents=True)
    inner = pa.struct([
        _fld("w_name", pa.string(), 3), _fld("w_age", pa.int64(), 4)
    ])
    pq.write_table(
        pa.table(
            [
                pa.array([1, 2], pa.int64()),
                pa.array(
                    [{"w_name": "bob", "w_age": 30},
                     {"w_name": "eve", "w_age": 25}],
                    type=inner,
                ),
                pa.array([[1, 2], [3]], type=pa.list_(pa.int64())),
            ],
            schema=pa.schema([
                _fld("w_id", pa.int64(), 1),
                _fld("w_info", inner, 2),
                _fld("w_tags", pa.list_(pa.int64()), 5),
            ]),
        ),
        root / "f1.parquet",
    )
    fields = [
        {"name": "id", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.id": 1,
                      "delta.columnMapping.physicalName": "ice_id"}},
        {"name": "info", "nullable": True,
         "type": {"type": "struct", "fields": [
             {"name": "name", "type": "string", "nullable": True,
              "metadata": {"delta.columnMapping.id": 3,
                           "delta.columnMapping.physicalName": "ice_name"}},
             {"name": "age", "type": "long", "nullable": True,
              "metadata": {"delta.columnMapping.id": 4,
                           "delta.columnMapping.physicalName": "ice_age"}},
         ]},
         "metadata": {"delta.columnMapping.id": 2,
                      "delta.columnMapping.physicalName": "ice_info"}},
        {"name": "tags", "nullable": True,
         "type": {"type": "array", "elementType": "long",
                  "containsNull": True},
         "metadata": {"delta.columnMapping.id": 5,
                      "delta.columnMapping.physicalName": "ice_tags"}},
    ]
    config = {"delta.columnMapping.mode": "id",
              "delta.columnMapping.maxColumnId": "5"}
    feats = ["columnMapping"]
    if cdf:
        config["delta.enableChangeDataFeed"] = "true"
        feats.append("changeDataFeed")
    with open(root / "_delta_log" / f"{0:020d}.json", "w") as f:
        for a in [
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["columnMapping"],
                          "writerFeatures": feats}},
            {"metaData": {"id": "nested-id",
                          "format": {"provider": "parquet", "options": {}},
                          "schemaString": json.dumps(
                              {"type": "struct", "fields": fields}),
                          "partitionColumns": [],
                          "configuration": config, "createdTime": 0}},
            {"add": {"path": "f1.parquet", "partitionValues": {},
                     "size": 1, "modificationTime": 0, "dataChange": True}},
        ]:
            f.write(json.dumps(a) + "\n")
    return str(root)


def test_nested_id_mode_full_lifecycle(spark, tmp_path):
    """r13: nested STRUCTS under id-mode column mapping resolve by
    per-level field id in both readers, and the write path stamps
    physical names + ids on every struct level (refused through
    r12)."""
    path = _mk_nested_id_mode_table(tmp_path / "t", cdf=True)
    df = read_delta(spark, path)
    assert {(r["id"], r["info"]["name"], r["info"]["age"])
            for r in df.collect()} == {(1, "bob", 30), (2, "eve", 25)}
    names, rows = read_delta_external(path)
    assert names == ["id", "info", "tags"]
    assert sorted(rows) == [
        (1, {"name": "bob", "age": 30}, [1, 2]),
        (2, {"name": "eve", "age": 25}, [3]),
    ]
    # append with logical nested names; staged file must carry physical
    # names + ids at BOTH levels
    write_delta(
        spark,
        spark.createDataFrame(
            [(3, ("zed", 40), [7])],
            "id long, info struct<name string, age long>, tags array<long>",
        ),
        path, mode="append",
    )
    staged = [
        p for p in glob.glob(f"{path}/*.parquet")
        if os.path.basename(p) != "f1.parquet"
    ]
    sch = pq.read_schema(staged[0])
    tops = {f.name: (f.metadata or {}).get(b"PARQUET:field_id") for f in sch}
    assert tops == {"ice_id": b"1", "ice_info": b"2", "ice_tags": b"5"}
    it = sch.field("ice_info").type
    inner_ids = {
        it.field(i).name: (it.field(i).metadata or {}).get(
            b"PARQUET:field_id"
        )
        for i in range(it.num_fields)
    }
    assert inner_ids == {"ice_name": b"3", "ice_age": b"4"}
    # MERGE updating a nested value; CDF carries the nested column
    merge_delta(
        spark, path,
        spark.createDataFrame(
            [(2, ("eva", 26), [9]), (4, ("kim", 50), [0])],
            "id long, info struct<name string, age long>, tags array<long>",
        ),
        key_cols=["id"],
    )
    got = {
        (r["id"], r["info"]["name"], r["info"]["age"], tuple(r["tags"]))
        for r in read_delta(spark, path).collect()
    }
    assert got == {(1, "bob", 30, (1, 2)), (2, "eva", 26, (9,)),
                   (3, "zed", 40, (7,)), (4, "kim", 50, (0,))}
    _n, ext = read_delta_external(path)
    assert sorted(ext) == [
        (1, {"name": "bob", "age": 30}, [1, 2]),
        (2, {"name": "eva", "age": 26}, [9]),
        (3, {"name": "zed", "age": 40}, [7]),
        (4, {"name": "kim", "age": 50}, [0]),
    ]
    ch = {
        (r["id"], r["info"]["name"], r["_change_type"])
        for r in read_delta_cdf(spark, path, 1).collect()
    }
    assert ch == {(2, "eve", "update_preimage"), (2, "eva", "update_postimage"),
                  (4, "kim", "insert")}


def test_nested_feed_plain_and_cdf_over_id_mode(spark, tmp_path):
    from portfolio_data_pipelines_spark.sources.delta_feed import (
        DeltaChangeFeedDataSource,
    )

    spark.dataSource.register(DeltaChangeFeedDataSource)
    path = _mk_nested_id_mode_table(tmp_path / "t", cdf=True)
    merge_delta(
        spark, path,
        spark.createDataFrame(
            [(2, ("eva", 26), [9])],
            "id long, info struct<name string, age long>, tags array<long>",
        ),
        key_cols=["id"],
    )
    q = (
        spark.readStream.format("delta_feed").option("path", path)
        .option("ignorechanges", "true").load()
        .writeStream.format("memory").queryName("nested_idmode_plain")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = {
        (r["id"], r["info"]["name"], r["info"]["age"], r["_commit_version"])
        for r in spark.sql("select * from nested_idmode_plain").collect()
    }
    assert {(1, "bob", 30, 0), (2, "eve", 25, 0), (2, "eva", 26, 1)} <= rows
    q2 = (
        spark.readStream.format("delta_feed").option("path", path)
        .option("readChangeFeed", "true").option("keyCols", "id").load()
        .writeStream.format("memory").queryName("nested_idmode_cdf")
        .trigger(availableNow=True).start()
    )
    q2.awaitTermination(120)
    ch = {
        (r["id"], r["info"]["name"], r["_change_type"])
        for r in spark.sql("select * from nested_idmode_cdf").collect()
    }
    assert {(2, "eve", "update_preimage"), (2, "eva", "update_postimage")} <= ch


def _mk_below_array_id_mode_table(root):
    """A foreign id-mode table whose ARRAY column holds structs: the
    file's names differ from logical AND physical names at every level
    (top, list element struct fields), so resolution must ride parquet
    field ids even below the repeated level."""
    (root / "_delta_log").mkdir(parents=True)
    inner = pa.struct([_fld("w_x", pa.int64(), 3),
                       _fld("w_y", pa.string(), 4)])
    pq.write_table(
        pa.table(
            [
                pa.array([1, 2], pa.int64()),
                pa.array(
                    [[{"w_x": 10, "w_y": "a"}, {"w_x": 11, "w_y": "b"}],
                     [{"w_x": 20, "w_y": "c"}]],
                    type=pa.list_(pa.field("element", inner)),
                ),
            ],
            schema=pa.schema([
                _fld("w_id", pa.int64(), 1),
                _fld("w_items", pa.list_(pa.field("element", inner)), 2),
            ]),
        ),
        root / "f1.parquet",
    )
    fields = [
        {"name": "id", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.id": 1,
                      "delta.columnMapping.physicalName": "ice_id"}},
        {"name": "items", "nullable": True,
         "type": {"type": "array", "containsNull": True,
                  "elementType": {"type": "struct", "fields": [
                      {"name": "x", "type": "long", "nullable": True,
                       "metadata": {"delta.columnMapping.id": 3,
                                    "delta.columnMapping.physicalName":
                                        "ice_x"}},
                      {"name": "y", "type": "string", "nullable": True,
                       "metadata": {"delta.columnMapping.id": 4,
                                    "delta.columnMapping.physicalName":
                                        "ice_y"}}]}},
         "metadata": {"delta.columnMapping.id": 2,
                      "delta.columnMapping.physicalName": "ice_items"}},
    ]
    with open(root / "_delta_log" / f"{0:020d}.json", "w") as f:
        for a in [
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["columnMapping"],
                          "writerFeatures": ["columnMapping"]}},
            {"metaData": {"id": "below-array-id",
                          "format": {"provider": "parquet", "options": {}},
                          "schemaString": json.dumps(
                              {"type": "struct", "fields": fields}),
                          "partitionColumns": [],
                          "configuration": {
                              "delta.columnMapping.mode": "id",
                              "delta.columnMapping.maxColumnId": "4"},
                          "createdTime": 0}},
            {"add": {"path": "f1.parquet", "partitionValues": {},
                     "size": 1, "modificationTime": 0, "dataChange": True}},
        ]:
            f.write(json.dumps(a) + "\n")
    return str(root)


def test_struct_below_array_id_mode_lifecycle(spark, tmp_path):
    """r14 (VERDICT r13 #5 — the last id-mode refusal closed): structs
    BELOW an array level resolve by per-level parquet field id in BOTH
    readers, and the write path stamps physical names + ids on the
    inner fields of staged files (Spark 4's field-id machinery rides
    StructField metadata, which exists below repeated levels too)."""
    path = _mk_below_array_id_mode_table(tmp_path / "t")

    def canon(rows):
        return {
            (r[0], tuple((e["x"], e["y"]) for e in (r[1] or [])))
            for r in rows
        }

    got = canon([(r["id"], r["items"])
                 for r in read_delta(spark, path).collect()])
    want = {(1, ((10, "a"), (11, "b"))), (2, ((20, "c"),))}
    assert got == want
    names, erows = read_delta_external(path)
    assert names == ["id", "items"]
    ext = {
        (r[0], tuple((e["x"], e["y"]) for e in (r[1] or [])))
        for r in erows
    }
    assert ext == want

    # append: staged file carries PHYSICAL names + ids at BOTH levels
    write_delta(
        spark,
        spark.createDataFrame(
            [(3, [(30, "d")])],
            "id long, items array<struct<x long, y string>>",
        ),
        path, mode="append",
    )
    staged = [
        p for p in glob.glob(f"{path}/*.parquet")
        if os.path.basename(p) != "f1.parquet"
    ]
    assert staged
    sch = pq.read_schema(staged[0])
    assert {f.name for f in sch} == {"ice_id", "ice_items"}
    tops = {f.name: (f.metadata or {}).get(b"PARQUET:field_id") for f in sch}
    assert tops == {"ice_id": b"1", "ice_items": b"2"}
    vt = sch.field("ice_items").type.value_type
    inner_ids = {
        vt.field(i).name: (vt.field(i).metadata or {}).get(
            b"PARQUET:field_id"
        )
        for i in range(vt.num_fields)
    }
    assert inner_ids == {"ice_x": b"3", "ice_y": b"4"}

    # MERGE folds the foreign file's id-resolved rows with new ones
    merge_delta(
        spark, path,
        spark.createDataFrame(
            [(2, [(21, "C")]), (4, [(40, "e")])],
            "id long, items array<struct<x long, y string>>",
        ),
        key_cols=["id"],
    )
    got = canon([(r["id"], r["items"])
                 for r in read_delta(spark, path).collect()])
    assert got == {
        (1, ((10, "a"), (11, "b"))),
        (2, ((21, "C"),)),
        (3, ((30, "d"),)),
        (4, ((40, "e"),)),
    }
    _names, erows = read_delta_external(path)
    assert canon(erows) == got


def test_struct_below_array_feed_stream(spark, tmp_path):
    """The streaming change feed aligns struct-below-array columns by
    id too (the pyarrow align recurses through list children, r14)."""
    from portfolio_data_pipelines_spark.sources.delta_feed import (
        DeltaChangeFeedDataSource,
    )

    spark.dataSource.register(DeltaChangeFeedDataSource)
    path = _mk_below_array_id_mode_table(tmp_path / "t")
    write_delta(
        spark,
        spark.createDataFrame(
            [(3, [(30, "d")])],
            "id long, items array<struct<x long, y string>>",
        ),
        path, mode="append",
    )
    q = (
        spark.readStream.format("delta_feed").option("path", path)
        .option("ignorechanges", "true").load()
        .writeStream.format("memory").queryName("below_array_plain")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = {
        (r["id"],
         tuple((e["x"], e["y"]) for e in (r["items"] or [])),
         r["_commit_version"])
        for r in spark.sql("select * from below_array_plain").collect()
    }
    assert {
        (1, ((10, "a"), (11, "b")), 0),
        (2, ((20, "c"),), 0),
        (3, ((30, "d"),), 1),
    } <= rows
