"""icebergCompatV1/V2 writer features (r13 — refused by name through
r12, the top remaining gap after nested id-mode landed).

The duty that matters: every data file on a compat table must carry
parquet field ids matching ``delta.columnMapping.id`` at every struct
level, so converted Iceberg metadata can address them. Enabling
performs the REORG-UPGRADE-ICEBERG shape (rewrite only files missing
ids, dataChange=false); every later commit stamps ids even in NAME
mode; DV deletes and type-widening evolutions are refused; reads are
untouched (writer-only feature) in both readers.
"""

from __future__ import annotations

import glob
import json
import os

import pyarrow.parquet as pq
import pytest

from portfolio_data_pipelines_spark.operators.delta_alter import (
    enable_column_mapping,
    enable_iceberg_compat,
)
from portfolio_data_pipelines_spark.operators.delta_dv import delete_where_dv
from portfolio_data_pipelines_spark.operators.delta_log import delete_where, write_delta
from portfolio_data_pipelines_spark.operators.delta_merge import merge_delta
from portfolio_data_pipelines_spark.operators.delta_scan import read_delta
from tests.delta_reader import (
    read_delta_external,
)


def _field_ids_of(fpath):
    sch = pq.read_schema(fpath)
    return {
        f.name: (f.metadata or {}).get(b"PARQUET:field_id") for f in sch
    }


def _data_files(path):
    return [
        p for p in glob.glob(f"{path}/**/*.parquet", recursive=True)
        if "_delta_log" not in p and "_change_data" not in p
    ]


def _live_files(path):
    from tests.delta_reader import _replay

    root, adds, _meta = _replay(path, None)
    import os

    return [os.path.join(root, rel) for rel in sorted(adds)]


def test_enable_v2_rewrites_unstamped_files_and_stamps_appends(
    spark, tmp_path
):
    path = str(tmp_path / "t")
    write_delta(
        spark,
        spark.createDataFrame(
            [(1, "a", ("x", 10)), (2, "b", ("y", 20))],
            "id long, s string, o struct<p string, q long>",
        ),
        path,
    )
    enable_column_mapping(spark, path)
    v = enable_iceberg_compat(spark, path, version=2)
    assert v >= 2
    # protocol declares the feature; config records it
    log = sorted(glob.glob(f"{path}/_delta_log/*.json"))
    feats: set = set()
    for lf in log:
        for line in open(lf):
            a = json.loads(line)
            if "protocol" in a:
                feats = set(a["protocol"].get("writerFeatures") or [])
    assert "icebergCompatV2" in feats
    # EVERY live file now carries field ids (the pre-compat file was
    # rewritten dataChange=false)
    for f in _live_files(path):
        ids = _field_ids_of(f)
        assert all(v is not None for v in ids.values()), (f, ids)
    # nested struct level stamped too
    f0 = _live_files(path)[0]
    sch = pq.read_schema(f0)
    ot = sch.field("o").type
    inner = {
        ot.field(i).name: (ot.field(i).metadata or {}).get(
            b"PARQUET:field_id"
        )
        for i in range(ot.num_fields)
    }
    assert all(v is not None for v in inner.values()), inner
    # rows unchanged through the rewrite, in both readers
    got = {(r["id"], r["s"], tuple(r["o"]))
           for r in read_delta(spark, path).collect()}
    assert got == {(1, "a", ("x", 10)), (2, "b", ("y", 20))}
    _names, rows = read_delta_external(path)
    assert len(rows) == 2
    # appends stamp ids (name mode!)
    write_delta(
        spark,
        spark.createDataFrame(
            [(3, "c", ("z", 30))],
            "id long, s string, o struct<p string, q long>",
        ),
        path, mode="append",
    )
    for f in _live_files(path):
        assert all(v is not None for v in _field_ids_of(f).values()), f
    # MERGE rewrites stamp ids too
    merge_delta(
        spark, path,
        spark.createDataFrame(
            [(2, "B", ("Y", 22))],
            "id long, s string, o struct<p string, q long>",
        ),
        key_cols=["id"],
    )
    for f in _live_files(path):
        assert all(v is not None for v in _field_ids_of(f).values()), f
    got = {(r["id"], r["s"]) for r in read_delta(spark, path).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}


def test_compat_preconditions_and_refusals(spark, tmp_path):
    # no column mapping → refused
    p1 = str(tmp_path / "plain")
    write_delta(spark, spark.createDataFrame([(1,)], "id long"), p1)
    with pytest.raises(ValueError, match="column mapping"):
        enable_iceberg_compat(spark, p1, version=2)
    # array/map columns are SUPPORTED since r14: enable assigns
    # repeated-node ids (parquet.field.nested.ids) and the REORG stamps
    # them into the rewritten footers — see
    # test_array_column_compat_lifecycle


def test_compat_refuses_dv_and_widening(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta(
        spark,
        spark.createDataFrame([(i, i * 2) for i in range(10)],
                              "id long, v long"),
        path,
    )
    enable_column_mapping(spark, path)
    enable_iceberg_compat(spark, path, version=2)
    # DV deletes refused; copy-on-write deletes fine
    with pytest.raises(ValueError, match="deletion-vector"):
        delete_where_dv(spark, path, "id = 3")
    delete_where(spark, path, "id = 3")
    assert read_delta(spark, path).count() == 9
    # widening evolution refused
    with pytest.raises(ValueError, match="widening"):
        write_delta(
            spark,
            spark.createDataFrame([(100.5, 100)], "v double, id long"),
            path, mode="append",
        )


def test_foreign_declared_compat_table_accepts_stamped_commits(
    spark, tmp_path
):
    """A foreign table that already declares icebergCompatV2 (the
    Iceberg-conversion shape: id mode + complete ids) takes commits —
    the write gate validates the duties instead of refusing by name."""
    import pyarrow as pa

    root = tmp_path / "t"
    (root / "_delta_log").mkdir(parents=True)

    def fld(name, typ, fid):
        return pa.field(
            name, typ, metadata={b"PARQUET:field_id": str(fid).encode()}
        )

    pq.write_table(
        pa.table(
            [pa.array([1], pa.int64()), pa.array(["a"])],
            schema=pa.schema(
                [fld("w_id", pa.int64(), 1), fld("w_s", pa.string(), 2)]
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
    with open(root / "_delta_log" / f"{0:020d}.json", "w") as f:
        for a in [
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["columnMapping"],
                          "writerFeatures": ["columnMapping",
                                             "icebergCompatV2"]}},
            {"metaData": {"id": "iceb",
                          "format": {"provider": "parquet", "options": {}},
                          "schemaString": json.dumps(
                              {"type": "struct", "fields": fields}),
                          "partitionColumns": [],
                          "configuration": {
                              "delta.columnMapping.mode": "id",
                              "delta.columnMapping.maxColumnId": "2",
                              "delta.enableIcebergCompatV2": "true"},
                          "createdTime": 0}},
            {"add": {"path": "f1.parquet", "partitionValues": {},
                     "size": 1, "modificationTime": 0,
                     "dataChange": True}},
        ]:
            f.write(json.dumps(a) + "\n")
    path = str(root)
    write_delta(
        spark, spark.createDataFrame([(2, "b")], "id long, s string"),
        path, mode="append",
    )
    got = {tuple(r) for r in read_delta(spark, path).collect()}
    assert got == {(1, "a"), (2, "b")}
    # exact-basename match: a UUID-named part file contains the hex digram
    # "f1" with ~11% odds, so a substring filter flakes (VERDICT r13 #3)
    staged = [
        p for p in _live_files(path) if os.path.basename(p) != "f1.parquet"
    ]
    assert all(
        v is not None for v in _field_ids_of(staged[0]).values()
    )
    # DV delete refused on the foreign compat table too
    with pytest.raises(ValueError, match="deletion-vector"):
        delete_where_dv(spark, path, "id = 1")


def test_array_evolution_assigns_element_ids_in_the_same_commit(
    spark, tmp_path
):
    """r13 ADVICE (medium) + r14: the writer gate used to check compat
    duties against the PRIOR meta, so an evolution ADDING an array
    column committed files Iceberg cannot address and wedged every
    later write. The evolving commit now assigns repeated-node ids
    (parquet.field.nested.ids) itself and stages element-id-stamped
    files — and later commits keep working."""
    path = str(tmp_path / "t")
    write_delta(
        spark,
        spark.createDataFrame([(1, "a")], "id long, s string"),
        path,
    )
    enable_column_mapping(spark, path)
    enable_iceberg_compat(spark, path, version=2)
    write_delta(
        spark,
        spark.createDataFrame(
            [(2, "b", [1, 2])], "id long, s string, tags array<long>"
        ),
        path, mode="append",
    )
    # the evolved schema declares the element id; the staged file's
    # list element node is stamped
    from tests.delta_reader import _replay

    _root, _adds, meta = _replay(path, None)
    tags = next(
        f for f in json.loads(meta["schemaString"])["fields"]
        if f["name"] == "tags"
    )
    nested = tags["metadata"]["parquet.field.nested.ids"]
    assert len(nested) == 1 and list(nested)[0].endswith(".element")
    import pyarrow.types as pat

    stamped = [
        f for f in _live_files(path)
        if any(pat.is_list(fl.type) for fl in pq.read_schema(f))
    ]
    assert stamped
    lf = next(
        fl for fl in pq.read_schema(stamped[0]) if pat.is_list(fl.type)
    )
    assert (lf.type.value_field.metadata or {}).get(
        b"PARQUET:field_id"
    ) == str(list(nested.values())[0]).encode()
    # table stays writable
    write_delta(
        spark,
        spark.createDataFrame(
            [(3, "c", [3])], "id long, s string, tags array<long>"
        ),
        path, mode="append",
    )
    got = {(r["id"], r["s"]) for r in read_delta(spark, path).collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c")}


def test_array_column_compat_lifecycle(spark, tmp_path):
    """r14: enable_iceberg_compat on a table WITH an array column (the
    r13 refusal) — enable assigns repeated-node ids, the REORG rewrite
    stamps pre-compat files' element nodes, and every later commit's
    staged files carry complete ids (struct fields AND element
    nodes)."""
    import pyarrow.types as pat

    path = str(tmp_path / "t")
    write_delta(
        spark,
        spark.createDataFrame(
            [(1, [1, 2], {"k": 10})],
            "id long, xs array<long>, m map<string, long>",
        ),
        path,
    )
    enable_column_mapping(spark, path)
    enable_iceberg_compat(spark, path, version=2)

    def ids_complete(fpath):
        from portfolio_data_pipelines_spark.operators.delta_colmap import (
            _arrow_schema_ids_complete,
        )

        return _arrow_schema_ids_complete(pq.read_schema(fpath))

    # the pre-compat file was rewritten with element/key/value ids
    for f in _live_files(path):
        assert ids_complete(f), f
    # appends stamp repeated nodes too
    write_delta(
        spark,
        spark.createDataFrame(
            [(2, [3], {"j": 20})],
            "id long, xs array<long>, m map<string, long>",
        ),
        path, mode="append",
    )
    for f in _live_files(path):
        assert ids_complete(f), f
    # MERGE rewrites keep the duty
    merge_delta(
        spark, path,
        spark.createDataFrame(
            [(1, [9, 9], {"k": 99})],
            "id long, xs array<long>, m map<string, long>",
        ),
        key_cols=["id"],
    )
    for f in _live_files(path):
        assert ids_complete(f), f
    got = {
        (r["id"], tuple(r["xs"]), tuple(sorted(r["m"].items())))
        for r in read_delta(spark, path).collect()
    }
    assert got == {(1, (9, 9), (("k", 99),)), (2, (3,), (("j", 20),))}
    # external reader agrees
    _names, rows = read_delta_external(path)
    assert len(rows) == 2


def test_struct_evolution_on_compat_table_assigns_nested_ids(spark, tmp_path):
    """Additive struct evolution under icebergCompat: the new column's
    NESTED fields get mapping ids in the same commit (r13 ADVICE —
    without them the next commit's duty check wedged the table), staged
    files carry parquet field ids at both levels, and later commits
    keep working."""
    path = str(tmp_path / "t")
    write_delta(
        spark,
        spark.createDataFrame([(1, "a")], "id long, s string"),
        path,
    )
    enable_column_mapping(spark, path)
    enable_iceberg_compat(spark, path, version=2)
    write_delta(
        spark,
        spark.createDataFrame(
            [(2, "b", ("x", 10))],
            "id long, s string, o struct<p string, q long>",
        ),
        path, mode="append",
    )
    # the evolved schema carries ids on the nested fields
    from tests.delta_reader import _replay

    _root, _adds, meta = _replay(path, None)
    o = next(
        f for f in json.loads(meta["schemaString"])["fields"]
        if f["name"] == "o"
    )
    for sub in o["type"]["fields"]:
        assert "delta.columnMapping.id" in sub["metadata"], sub
    # a staged file of the evolving commit is id-stamped at both levels
    # (the new top-level column rides its col-<uuid> PHYSICAL name, so
    # locate the struct field by type)
    import pyarrow.types as pat

    stamped = [
        f for f in _live_files(path)
        if any(pat.is_struct(fl.type) for fl in pq.read_schema(f))
    ]
    assert stamped
    sch = pq.read_schema(stamped[0])
    ot = next(fl.type for fl in sch if pat.is_struct(fl.type))
    inner = {
        ot.field(i).name: (ot.field(i).metadata or {}).get(b"PARQUET:field_id")
        for i in range(ot.num_fields)
    }
    assert all(v is not None for v in inner.values()), inner
    # next commit passes the duty gate (this is what used to wedge)
    write_delta(
        spark,
        spark.createDataFrame(
            [(3, "c", ("y", 20))],
            "id long, s string, o struct<p string, q long>",
        ),
        path, mode="append",
    )
    got = {(r["id"], r["s"]) for r in read_delta(spark, path).collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c")}


def test_compat_config_refused_at_creation(spark, tmp_path):
    """Declaring delta.enableIcebergCompatV2 in the CREATION
    configuration used to pass (the gate saw no prior meta) and wedge
    every later commit; it is now refused by name with the supported
    path spelled out (r13 ADVICE)."""
    path = str(tmp_path / "t")
    with pytest.raises(ValueError, match="enable_iceberg_compat"):
        write_delta(
            spark,
            spark.createDataFrame([(1, "a")], "id long, s string"),
            path,
            configuration={"delta.enableIcebergCompatV2": "true"},
        )
    assert not glob.glob(f"{path}/_delta_log/*.json")


def test_element_id_stamp_distributes_above_threshold(
    spark, tmp_path, monkeypatch
):
    """r15: the repeated-node stamp fans out to Spark tasks when a
    commit stages >= STAMP_DISTRIBUTE_MIN_FILES files. Force the
    threshold to 1 so even this small append takes the mapInPandas
    path, and assert the distributed rewrite leaves exactly the same
    observable state as the driver loop: complete footer ids on every
    live file, add.size matching the on-disk (rewritten) size, and
    value parity in both readers."""
    import pyarrow.parquet as pq

    from portfolio_data_pipelines_spark.operators import delta_colmap

    path = str(tmp_path / "t")
    write_delta(
        spark,
        spark.createDataFrame(
            [(1, [1, 2], {"k": 10})],
            "id long, xs array<long>, m map<string, long>",
        ),
        path,
    )
    enable_column_mapping(spark, path)
    enable_iceberg_compat(spark, path, version=2)

    monkeypatch.setattr(delta_colmap, "STAMP_DISTRIBUTE_MIN_FILES", 1)
    # the driver loop stamps in THIS process; the distributed pass only
    # in executor workers, which this spy does not reach
    driver_stamped = []
    real_stamp = delta_colmap._stamp_and_size

    def spy_stamp(uri, elem_ids):
        driver_stamped.append(uri)
        return real_stamp(uri, elem_ids)

    monkeypatch.setattr(delta_colmap, "_stamp_and_size", spy_stamp)
    write_delta(
        spark,
        spark.createDataFrame(
            [(i, [i, i + 1], {"j": i}) for i in range(2, 8)],
            "id long, xs array<long>, m map<string, long>",
        ).repartition(4),
        path,
        mode="append",
    )
    assert driver_stamped == []  # the patched threshold distributed it
    for f in _live_files(path):
        assert delta_colmap._arrow_schema_ids_complete(pq.read_schema(f)), f
    # add.size must reflect the REWRITTEN file, not the staged one
    import json as _json
    import os as _os

    last = sorted(
        p for p in _os.listdir(f"{path}/_delta_log") if p.endswith(".json")
    )[-1]
    with open(f"{path}/_delta_log/{last}") as fh:
        for line in fh:
            act = _json.loads(line)
            if "add" in act:
                rel = act["add"]["path"]
                assert act["add"]["size"] == _os.path.getsize(
                    f"{path}/{rel}"
                ), rel
    got = {r["id"] for r in read_delta(spark, path).collect()}
    assert got == set(range(1, 8))
    _names, rows = read_delta_external(path)
    assert len(rows) == 7


def test_element_id_stamp_retry_safe_and_missing_file_loud(
    spark, tmp_path, monkeypatch
):
    """r16 (advisor): a retried stamp pass must report the on-disk
    (rewritten) size for files it finds already stamped — not drop
    them from the result so a stale pre-rewrite add.size survives —
    and a file that is unreachable must fail loudly instead of
    silently skipping the icebergCompat footer-id duty."""
    import pyarrow as pa

    from portfolio_data_pipelines_spark.operators import delta_colmap

    f = str(tmp_path / "staged.parquet")
    pq.write_table(
        pa.table({"xs": pa.array([[1, 2], [3]], pa.list_(pa.int64()))}), f
    )
    eids = {"xs": 1, "xs.element": 2}
    first = delta_colmap._stamp_element_ids_batch(None, [f], eids)
    assert first == {f: os.path.getsize(f)}
    assert delta_colmap._arrow_schema_ids_complete(pq.read_schema(f))
    # second (retried) pass: nothing left to rewrite, but the size must
    # still be reported — and identical to the rewritten on-disk size
    again = delta_colmap._stamp_element_ids_batch(None, [f], eids)
    assert again == first
    # the distributed kernel reports the same tri-state per file
    assert delta_colmap._stamp_and_size(f, eids) == os.path.getsize(f)
    assert delta_colmap._stamp_and_size(str(tmp_path / "nope.parquet"), eids) == -2
    # a missing file in the driver loop is an error, not a silent skip
    with pytest.raises(IOError, match="vanished"):
        delta_colmap._stamp_element_ids_batch(
            None, [str(tmp_path / "nope.parquet")], eids
        )
    # ... and in the distributed path it routes through the driver loop
    # (which then raises) rather than returning a partial result
    monkeypatch.setattr(delta_colmap, "STAMP_DISTRIBUTE_MIN_FILES", 1)
    with pytest.warns(UserWarning, match="1 of 2 staged files"):
        with pytest.raises(IOError, match="vanished"):
            delta_colmap._stamp_element_ids_batch(
                spark, [f, str(tmp_path / "nope.parquet")], eids
            )
