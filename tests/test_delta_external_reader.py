"""Wire-format conformance via an INDEPENDENT reader.

``tests/delta_reader.py`` re-implements a Delta table read from the
open protocol alone — fresh module, pyarrow data path, no imports from
the writer (``delta_log.py``) — standing in for the external Delta
implementations absent from this sandbox (delta-spark JAR, deltalake
wheel, DuckDB delta extension: all probed unavailable). Every test
writes a table through the writer's lifecycle operations and pins the
independent reader's rows EQUAL to ``read_delta``'s, so a format bug on
either side surfaces as a mismatch instead of cancelling out.
"""

from __future__ import annotations

import datetime
import importlib
import json
import time

import pytest
from pyspark.sql import functions as F

from tests import delta_reader
from portfolio_data_pipelines_spark.operators.delta_checkpoint import (
    DELTA_CHECKPOINT_EVERY,
)
from portfolio_data_pipelines_spark.operators.delta_log import write_delta
from portfolio_data_pipelines_spark.operators.delta_maintain import (
    optimize_delta,
    vacuum_delta,
)
from portfolio_data_pipelines_spark.operators.delta_merge import merge_delta
from portfolio_data_pipelines_spark.operators.delta_scan import read_delta
from tests.delta_reader import (
    read_delta_external,
)


def test_reader_shares_no_code_with_writer():
    """The independence claim, pinned: the external reader module never
    imports the writer (in any form) and does not use Spark."""
    import ast
    import inspect

    src = inspect.getsource(delta_reader)
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.Import):
            mods = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            mods = [node.module or ""] + [a.name for a in node.names]
        else:
            continue
        for m in mods:
            assert "delta_log" not in m, f"writer import leaked: {m}"
            assert not m.startswith("pyspark"), f"Spark import leaked: {m}"
    assert not hasattr(importlib.import_module(delta_reader.__name__), "read_delta")


def test_engine_never_imports_the_reader():
    """The reverse direction: no package module imports the oracle, so
    an engine bug cannot hide in code both sides of a parity test run."""
    import ast
    import pathlib

    import portfolio_data_pipelines_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    leaks = []
    for f in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(f.read_text())):
            if isinstance(node, ast.Import):
                mods = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                mods = [node.module or ""] + [a.name for a in node.names]
            else:
                continue
            leaks += [
                f"{f.relative_to(root)}: {m}" for m in mods
                if "delta_reader" in m
            ]
    assert not leaks, leaks


def _assert_match(spark, path, version=None):
    """Pin external-reader rows == read_delta rows at this version."""
    sdf = read_delta(spark, path, version=version)
    names, rows = read_delta_external(path, version=version)
    assert names == sdf.columns
    spark_rows = sorted(tuple(r) for r in sdf.collect())
    ext_rows = sorted(rows)
    assert ext_rows == spark_rows


def _day(s):
    return datetime.date.fromisoformat(s)


def _df(spark, rows):
    return spark.createDataFrame(rows, "id bigint, v double, date date")


def test_append_overwrite_time_travel_parity(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta(spark, _df(spark, [(1, 1.0, _day("2021-01-01")),
                                   (2, 2.0, _day("2021-01-02"))]),
                path, partition_col="date")
    write_delta(spark, _df(spark, [(3, 3.0, _day("2021-01-02"))]),
                path, partition_col="date")
    write_delta(spark, _df(spark, [(9, 9.0, _day("2021-02-01"))]),
                path, partition_col="date", mode="overwrite")
    for v in (None, 0, 1, 2):
        _assert_match(spark, path, version=v)


def test_special_partition_values_parity(spark, tmp_path):
    """The values that exercise URI encoding end-to-end: '%', space,
    '=' and ':' in a partition value must round-trip through the
    hive-escaped physical dir AND the URI-encoded logical path."""
    path = str(tmp_path / "t_esc")
    d0 = spark.createDataFrame(
        [(1, "a=b:c"), (2, "plain"), (3, "100%"), (4, "a b")],
        "id bigint, k string",
    )
    write_delta(spark, d0, path, partition_col="k")
    _assert_match(spark, path)
    # overwrite (tombstones carry the same encoding)
    write_delta(
        spark,
        spark.createDataFrame([(9, "100%")], "id bigint, k string"),
        path, partition_col="k", mode="overwrite",
    )
    for v in (None, 0):
        _assert_match(spark, path, version=v)


def test_schema_evolution_parity(spark, tmp_path):
    """Widened schema: pre-evolution files must surface typed nulls for
    the new column and upcast ints in BOTH readers."""
    path = str(tmp_path / "t_evo")
    write_delta(spark, spark.createDataFrame([(1, 10)], "id bigint, n int"), path)
    write_delta(
        spark,
        spark.createDataFrame([(2, 2**40, "x")], "id bigint, n long, s string"),
        path,
    )
    for v in (None, 0, 1):
        _assert_match(spark, path, version=v)


def test_merge_and_optimize_parity(spark, tmp_path):
    path = str(tmp_path / "t_m")
    write_delta(spark, _df(spark, [(1, 1.0, _day("2021-01-01")),
                                   (2, 2.0, _day("2021-01-02"))]),
                path, partition_col="date")
    write_delta(spark, _df(spark, [(3, 3.0, _day("2021-01-01"))]),
                path, partition_col="date")
    merge_delta(
        spark,
        path,
        _df(spark, [(2, 20.0, _day("2021-01-02")), (4, 4.0, _day("2021-01-03"))]),
        key_cols=["id"],
    )
    _assert_match(spark, path)
    v_opt = optimize_delta(spark, path)
    assert v_opt is not None
    for v in (None, v_opt - 1):
        _assert_match(spark, path, version=v)


def test_replace_where_parity(spark, tmp_path):
    path = str(tmp_path / "t_rw")
    write_delta(spark, _df(spark, [(1, 1.0, _day("2021-01-01")),
                                   (2, 2.0, _day("2021-01-02"))]),
                path, partition_col="date")
    write_delta(spark, _df(spark, [(5, 5.0, _day("2021-01-02"))]),
                path, partition_col="date", mode="overwrite",
                replace_partitions=["2021-01-02"])
    for v in (None, 0):
        _assert_match(spark, path, version=v)


def test_checkpointed_table_parity_after_log_cleanup(spark, tmp_path):
    """Past the checkpoint cadence, delete the pre-checkpoint commits:
    a conformant external reader must resolve the table from
    _last_checkpoint + the JSON tail alone, exactly as read_delta
    does."""
    path = str(tmp_path / "t_cp")
    for i in range(DELTA_CHECKPOINT_EVERY + 2):
        write_delta(
            spark,
            spark.createDataFrame([(i, float(i))], "id bigint, v double"),
            path,
        )
    log = tmp_path / "t_cp" / "_delta_log"
    assert (log / f"{DELTA_CHECKPOINT_EVERY:020d}.checkpoint.parquet").exists()
    for v in range(DELTA_CHECKPOINT_EVERY):
        (log / f"{v:020d}.json").unlink()
    _assert_match(spark, path)
    assert len(read_delta_external(path)[1]) == DELTA_CHECKPOINT_EVERY + 2


def test_vacuumed_table_parity(spark, tmp_path):
    """After vacuum reclaims tombstoned files, the latest version stays
    identical in both readers (only dead files were removed)."""
    path = str(tmp_path / "t_vac")
    write_delta(spark, _df(spark, [(1, 1.0, _day("2021-01-01"))]),
                path, partition_col="date")
    write_delta(spark, _df(spark, [(2, 2.0, _day("2021-01-01"))]),
                path, partition_col="date", mode="overwrite")
    future = int((time.time() + 3600) * 1000)
    assert vacuum_delta(spark, path, retain_hours=0.0, now_ms=future)
    _assert_match(spark, path)


def test_exported_lake_layout_parity(spark, tmp_path):
    """An in-place export of existing parquet whose add paths point
    through a NON-partition directory (``sub/date=D/``) — the layout
    that exercises the reader's no-assumptions path resolution.
    Version 0 is written by hand, as a one-shot converter would."""
    import os

    from portfolio_data_pipelines_spark.operators import delta_log as dl
    from portfolio_data_pipelines_spark.operators.delta_protocol import (
        _PROTOCOL_ACTION,
    )

    path = str(tmp_path / "lake")
    d0 = _df(spark, [(1, 1.0, _day("2021-01-01")), (2, 2.0, _day("2021-01-02"))])
    d0.write.partitionBy("date").parquet(f"{path}/sub")
    adds = []
    for root, _dirs, names in os.walk(f"{path}/sub"):
        for name in sorted(n for n in names if n.endswith(".parquet")):
            rel = os.path.relpath(os.path.join(root, name), path)
            adds.append({"add": {
                "path": dl._encode_path(rel),
                "partitionValues": {"date": os.path.basename(root).split("=", 1)[1]},
                "size": os.path.getsize(os.path.join(root, name)),
                "modificationTime": dl._now_ms(),
                "dataChange": True,
            }})
    assert adds
    dl.Txn(spark, path, create=True).commit(
        "CONVERT", {"sourceFormat": "parquet"},
        [_PROTOCOL_ACTION, dl._metadata_action(d0, ["date"]), *adds],
    )
    _assert_match(spark, path)
    # Delta-native commits continue on the exported table
    write_delta(spark, _df(spark, [(3, 3.0, _day("2021-01-03"))]),
                path, partition_col="date")
    _assert_match(spark, path)


def test_dropped_column_values_are_not_resurrected(spark, tmp_path):
    """A column absent from the declared schema but present in old
    files must NOT leak into either reader's output (schema-on-read)."""
    path = str(tmp_path / "t_extra")
    write_delta(spark, spark.createDataFrame([(1, "a")], "id bigint, s string"), path)
    names, rows = read_delta_external(path)
    assert names == ["id", "s"]
    df = read_delta(spark, path).filter(F.col("id") == 1)
    assert df.columns == names


def _foreign_table(spark, tmp_path, name, protocol):
    """A hand-written single-file foreign table (one row ``(1, "a")``,
    schema ``id bigint, s string``) under the given protocol action —
    the fixture for protocol-gate tests."""
    import shutil

    root = tmp_path / name
    root.mkdir()
    spark.createDataFrame([(1, "a")], "id bigint, s string").coalesce(
        1
    ).write.mode("overwrite").parquet(str(tmp_path / f"stage_{name}"))
    part = next((tmp_path / f"stage_{name}").glob("*.parquet"))
    shutil.copy(part, root / "f.parquet")
    log_dir = root / "_delta_log"
    log_dir.mkdir()
    schema_string = spark.createDataFrame([], "id bigint, s string").schema.json()
    actions = [
        {"protocol": protocol},
        {
            "metaData": {
                "id": name,
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema_string,
                "partitionColumns": [],
                "configuration": {},
                "createdTime": 0,
            }
        },
        {
            "add": {
                "path": "f.parquet",
                "partitionValues": {},
                "size": (root / "f.parquet").stat().st_size,
                "modificationTime": 0,
                "dataChange": True,
            }
        },
    ]
    (log_dir / f"{0:020d}.json").write_text(
        "\n".join(json.dumps(a) for a in actions)
    )
    return str(root)


def test_protocol_version_above_1_refused_by_both_readers(spark, tmp_path):
    """A foreign log demanding reader version 3 with NO readerFeatures
    list is MALFORMED per the spec (v3 protocols must carry the list)
    and must be REFUSED by both readers — "no list" is not "no
    features"; reading anyway would execute duties the table never
    declared."""
    root = _foreign_table(
        spark, tmp_path, "t_proto",
        {"minReaderVersion": 3, "minWriterVersion": 7},
    )
    with pytest.raises(ValueError, match="reader version"):
        read_delta(spark, root).collect()
    with pytest.raises(ValueError, match="reader version"):
        read_delta_external(root)


def test_reader_features_granular_gate(spark, tmp_path):
    """Reader version 3 is FEATURE-granular: a v3 table using only
    features this engine implements reads fine; one naming a feature
    it does not is refused by name — never a blanket version refusal,
    never a silent read past unknown semantics."""
    ok = _foreign_table(
        spark, tmp_path, "t_feat_ok",
        {"minReaderVersion": 3, "minWriterVersion": 7,
         "readerFeatures": ["columnMapping"],
         "writerFeatures": ["columnMapping"]},
    )
    assert [r["id"] for r in read_delta(spark, ok).collect()] == [1]
    bad = _foreign_table(
        spark, tmp_path, "t_feat_bad",
        {"minReaderVersion": 3, "minWriterVersion": 7,
         "readerFeatures": ["columnMapping", "someFutureFeature"],
         "writerFeatures": ["columnMapping", "someFutureFeature"]},
    )
    with pytest.raises(ValueError, match="someFutureFeature"):
        read_delta(spark, bad).collect()


def test_multipart_checkpoint_read_by_both_readers(spark, tmp_path):
    """The spec's MULTI-PART checkpoint form (``parts`` in
    _last_checkpoint, files V.checkpoint.{i}.{n}.parquet): split this
    writer's single-file checkpoint into two spec-named parts, delete
    the pre-checkpoint commits, and both readers must still resolve
    the table from the parts + tail alone."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "t_mp")
    for i in range(DELTA_CHECKPOINT_EVERY + 1):
        write_delta(
            spark,
            spark.createDataFrame([(i, float(i))], "id bigint, v double"),
            path,
        )
    log = tmp_path / "t_mp" / "_delta_log"
    v = DELTA_CHECKPOINT_EVERY
    single = log / f"{v:020d}.checkpoint.parquet"
    table = pq.read_table(single)
    half = max(1, table.num_rows // 2)
    pq.write_table(
        table.slice(0, half),
        log / f"{v:020d}.checkpoint.{1:010d}.{2:010d}.parquet",
    )
    pq.write_table(
        table.slice(half),
        log / f"{v:020d}.checkpoint.{2:010d}.{2:010d}.parquet",
    )
    single.unlink()
    (log / "_last_checkpoint").write_text(
        json.dumps({"version": v, "size": table.num_rows, "parts": 2})
    )
    for j in range(v):
        (log / f"{j:020d}.json").unlink()
    # drop Hadoop local-FS checksum sidecars now stale after the
    # out-of-band rewrite (a real object store has none)
    for crc in log.glob(".*.crc"):
        crc.unlink()
    expected = sorted((i, float(i)) for i in range(DELTA_CHECKPOINT_EVERY + 1))
    assert sorted(tuple(r) for r in read_delta(spark, path).collect()) == expected
    names, rows = read_delta_external(path)
    assert names == ["id", "v"] and sorted(rows) == expected


def test_restored_table_parity(spark, tmp_path):
    """A RESTORE commit (re-adds + tombstones, possibly of
    OPTIMIZE-written files, now with dataChange=true) must replay to
    the same rows in both readers — at the restore version AND at every
    surrounding version."""
    from portfolio_data_pipelines_spark.operators.delta_maintain import (
        optimize_delta,
        restore_delta,
    )

    path = str(tmp_path / "t_ext_restore")
    write_delta(spark, _df(spark, [(1, 1.0, _day("2021-01-01"))]),
                path, partition_col="date")
    write_delta(spark, _df(spark, [(2, 2.0, _day("2021-01-01"))]),
                path, partition_col="date")
    v_opt = optimize_delta(spark, path)  # v2
    write_delta(spark, _df(spark, [(9, 9.0, _day("2021-02-01"))]),
                path, partition_col="date", mode="overwrite")  # v3
    v_restore = restore_delta(spark, path, v_opt)  # v4
    for v in (None, v_opt, 3, v_restore):
        _assert_match(spark, path, version=v)
    names, rows = read_delta_external(path)
    assert sorted(r[0] for r in rows) == [1, 2]


def test_timestamp_as_of_parity(spark, tmp_path):
    """timestampAsOf resolution must agree between the writer-side
    version_as_of and the spec-only external resolution, including a
    version BEFORE a checkpoint (full-listing rule)."""
    from portfolio_data_pipelines_spark.operators.delta_checkpoint import (
        DELTA_CHECKPOINT_EVERY,
    )
    from portfolio_data_pipelines_spark.operators.delta_scan import version_as_of
    from tests.delta_reader import (
        read_delta_external_as_of,
        version_as_of_external,
    )

    path = str(tmp_path / "t_ext_asof")
    for i in range(DELTA_CHECKPOINT_EVERY + 2):
        write_delta(spark, _df(spark, [(i, float(i), _day("2021-01-01"))]),
                    path)
        time.sleep(0.02)
    import os

    target_v = 2
    mt = os.path.getmtime(
        os.path.join(path, "_delta_log", f"{target_v:020d}.json")
    )
    ts = datetime.datetime.fromtimestamp(
        mt, tz=datetime.timezone.utc
    ).isoformat()
    assert version_as_of_external(path, ts) == target_v
    assert version_as_of(spark, path, ts) == target_v
    names, rows = read_delta_external_as_of(path, ts)
    assert sorted(r[0] for r in rows) == [0, 1, 2]
    with pytest.raises(ValueError, match="no commit"):
        version_as_of_external(path, "2000-01-01T00:00:00+00:00")


def test_check_constraint_configuration_roundtrip(spark, tmp_path):
    """CHECK constraints live in metaData.configuration
    (delta.constraints.<name>); a foreign reader/writer must see them
    through plain NDJSON replay AND through a checkpoint-anchored
    replay — enforcement is a writer duty handed over via exactly this
    map."""
    from portfolio_data_pipelines_spark.operators.delta_checkpoint import (
        DELTA_CHECKPOINT_EVERY,
        checkpoint_delta,
    )
    from tests.delta_reader import (
        table_configuration,
    )

    path = str(tmp_path / "t_ext_constraints")
    write_delta(
        spark, _df(spark, [(1, 1.0, _day("2021-01-01"))]), path,
        constraints={"v_nonneg": "v >= 0", "id_pos": "id > 0"},
    )
    want = {
        "delta.constraints.v_nonneg": "v >= 0",
        "delta.constraints.id_pos": "id > 0",
    }
    assert table_configuration(path) == want
    # survive a checkpoint (metaData must be carried into the parquet
    # checkpoint with its configuration intact)
    for i in range(2, DELTA_CHECKPOINT_EVERY + 2):
        write_delta(spark, _df(spark, [(i, float(i), _day("2021-01-01"))]), path)
    import os

    assert any(
        n.endswith(".checkpoint.parquet")
        for n in os.listdir(os.path.join(path, "_delta_log"))
    )
    assert table_configuration(path) == want
    # and at a pinned old version
    assert table_configuration(path, version=0) == want


def test_multipart_checkpoint_written_above_threshold(
    spark, tmp_path, monkeypatch
):
    """The WRITER emits the multi-part checkpoint form once the action
    count crosses CHECKPOINT_PART_ACTIONS: spec-named part files, a
    ``parts`` pointer, and a table readable from the parts + tail alone
    by both readers — including the deletion-vector descriptors and
    feature lists the parts must carry."""
    from portfolio_data_pipelines_spark.operators import delta_checkpoint
    from portfolio_data_pipelines_spark.operators.delta_dv import delete_where_dv

    monkeypatch.setattr(delta_checkpoint, "CHECKPOINT_PART_ACTIONS", 4)
    path = str(tmp_path / "t_mp_write")
    # 9 appends + 1 dv delete = 10 commits → auto-checkpoint at v10
    # with well over 4 actions (protocol, metaData, 10 adds, removes)
    for i in range(DELTA_CHECKPOINT_EVERY - 1):
        write_delta(
            spark,
            spark.createDataFrame([(i, float(i))], "id bigint, v double"),
            path,
        )
    delete_where_dv(spark, path, "id = 3")
    write_delta(
        spark,
        spark.createDataFrame([(100, 100.0)], "id bigint, v double"),
        path,
    )
    log = tmp_path / "t_mp_write" / "_delta_log"
    v = DELTA_CHECKPOINT_EVERY
    lc = json.loads((log / "_last_checkpoint").read_text())
    assert lc["version"] == v and lc["parts"] >= 2
    parts = sorted(log.glob(f"{v:020d}.checkpoint.*.parquet"))
    assert len(parts) == lc["parts"]
    assert not (log / f"{v:020d}.checkpoint.parquet").exists()
    for j in range(v):
        (log / f"{j:020d}.json").unlink()
    expected = sorted(
        [(i, float(i)) for i in range(DELTA_CHECKPOINT_EVERY - 1) if i != 3]
        + [(100, 100.0)]
    )
    assert (
        sorted(tuple(r) for r in read_delta(spark, path).collect())
        == expected
    )
    names, rows = read_delta_external(path)
    assert sorted(rows) == expected
    # the NEXT commit + vacuum keep working over the parts
    write_delta(
        spark,
        spark.createDataFrame([(200, 200.0)], "id bigint, v double"),
        path,
    )
    from portfolio_data_pipelines_spark.operators.delta_maintain import vacuum_delta

    vacuum_delta(spark, path, retain_hours=168)
    assert read_delta(spark, path).count() == len(expected) + 1


def test_checkpoint_add_before_tombstone_order_is_safe(spark, tmp_path):
    """ADVICE r9: a FOREIGN checkpoint legitimately carries BOTH a
    tombstone and a live add for one path (delta-spark keeps the DV
    re-add's tombstone in its snapshot; this writer's replay pops it),
    and foreign writers emit checkpoint rows in ARBITRARY order.
    Synthesize that shape with the live add BEFORE the tombstone: both
    readers must still see the file — checkpoint rows are a snapshot,
    never a replayable op sequence."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from portfolio_data_pipelines_spark.operators.delta_dv import delete_where_dv

    path = str(tmp_path / "t_cporder")
    df = spark.range(1, 11).select(
        F.col("id"), (F.col("id") * 2.0).alias("v")
    ).repartition(1)
    write_delta(spark, df, path)
    delete_where_dv(spark, path, "id = 3")  # v1: remove(F) + add(F, dv)
    for i in range(2, DELTA_CHECKPOINT_EVERY + 1):
        write_delta(
            spark,
            spark.createDataFrame([(100 + i, 1.0)], "id bigint, v double"),
            path,
        )
    log = tmp_path / "t_cporder" / "_delta_log"
    # the DV commit's remove action, as a foreign checkpoint would
    # retain it (this writer's replay popped it on the in-place re-add)
    tombstone = None
    for line in (log / f"{1:020d}.json").read_text().splitlines():
        a = json.loads(line) if line.strip() else {}
        if "remove" in a:
            tombstone = a["remove"]
    assert tombstone is not None
    cp = log / f"{DELTA_CHECKPOINT_EVERY:020d}.checkpoint.parquet"
    assert cp.exists()
    table = pq.read_table(cp)
    rows = table.to_pylist()
    dv_paths = {
        r["add"]["path"]
        for r in rows
        if r.get("add") and r["add"].get("deletionVector")
    }
    assert tombstone["path"] in dv_paths
    base = {k: None for k in table.schema.names}
    rows.append(
        {
            **base,
            "remove": {
                "path": tombstone["path"],
                "deletionTimestamp": int(tombstone["deletionTimestamp"]),
                "dataChange": bool(tombstone.get("dataChange", True)),
                "deletionVector": None,
            },
        }
    )  # adversarial: the tombstone row lands AFTER the live add row
    pq.write_table(pa.Table.from_pylist(rows, schema=table.schema), cp)
    for j in range(DELTA_CHECKPOINT_EVERY):
        (log / f"{j:020d}.json").unlink()
    for crc in log.glob(".*.crc"):
        crc.unlink()
    expected = [i for i in range(1, 11) if i != 3] + [
        100 + i for i in range(2, DELTA_CHECKPOINT_EVERY + 1)
    ]
    assert _ids(spark, path) == sorted(expected)


def _ids(spark, path):
    s = sorted(r["id"] for r in read_delta(spark, path).select("id").collect())
    names, rows = read_delta_external(path)
    e = sorted(row[names.index("id")] for row in rows)
    assert s == e, (s, e)
    return s


def test_json_v2_manifest_read_by_both_readers(spark, tmp_path):
    """ADVICE r9: the spec allows V2 checkpoint manifests in NDJSON
    form (V.checkpoint.<uuid>.json). Convert this writer's classic
    parquet checkpoint into one and delete the pre-checkpoint commits:
    both readers must resolve the table from the JSON manifest + tail."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "t_jsoncp")
    for i in range(DELTA_CHECKPOINT_EVERY + 1):
        write_delta(
            spark,
            spark.createDataFrame([(i, float(i))], "id bigint, v double"),
            path,
        )
    log = tmp_path / "t_jsoncp" / "_delta_log"
    v = DELTA_CHECKPOINT_EVERY
    cp = log / f"{v:020d}.checkpoint.parquet"
    rows = pq.read_table(cp).to_pylist()

    def _prune(x):
        if isinstance(x, dict):
            return {k: _prune(v2) for k, v2 in x.items() if v2 is not None}
        return x

    actions = []
    for r in rows:
        for k, v2 in r.items():
            if v2 is not None:
                actions.append(json.dumps({k: _prune(v2)}))
    (log / f"{v:020d}.checkpoint.80a083e8-7026-4e79-81be-64bd76c43a11.json").write_text(
        "\n".join(actions) + "\n"
    )
    cp.unlink()
    for j in range(v):
        (log / f"{j:020d}.json").unlink()
    for crc in log.glob(".*.crc"):
        crc.unlink()
    assert _ids(spark, path) == list(range(DELTA_CHECKPOINT_EVERY + 1))


def test_partless_multipart_listing_refused(spark, tmp_path):
    """ADVICE r9: a _last_checkpoint WITHOUT `parts` whose directory
    holds only multi-part-shaped checkpoint files is malformed —
    replaying one part as the whole snapshot silently drops files, so
    BOTH readers must refuse instead of guessing."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "t_partless")
    for i in range(DELTA_CHECKPOINT_EVERY + 1):
        write_delta(
            spark,
            spark.createDataFrame([(i, float(i))], "id bigint, v double"),
            path,
        )
    log = tmp_path / "t_partless" / "_delta_log"
    v = DELTA_CHECKPOINT_EVERY
    single = log / f"{v:020d}.checkpoint.parquet"
    table = pq.read_table(single)
    half = max(1, table.num_rows // 2)
    pq.write_table(
        table.slice(0, half),
        log / f"{v:020d}.checkpoint.{1:010d}.{2:010d}.parquet",
    )
    pq.write_table(
        table.slice(half),
        log / f"{v:020d}.checkpoint.{2:010d}.{2:010d}.parquet",
    )
    single.unlink()
    # malformed: the doc omits `parts`
    (log / "_last_checkpoint").write_text(
        json.dumps({"version": v, "size": table.num_rows})
    )
    for j in range(v):
        (log / f"{j:020d}.json").unlink()
    for crc in log.glob(".*.crc"):
        crc.unlink()
    with pytest.raises(Exception, match="multi-part"):
        read_delta(spark, path).collect()
    with pytest.raises(Exception, match="multi-part"):
        read_delta_external(path)


def test_type_widening_foreign_table_reads_in_both(spark, tmp_path):
    """VERDICT r9 next #6 — the typeWidening READER feature: a foreign
    table whose schema widened (int→long, float→double, smallint→int,
    decimal(6,2)→decimal(10,2), date→timestamp_ntz) after its first
    files were written must read in BOTH readers, pre-widen files
    upcast per the current schemaString; and unknown reader features
    stay refused by name."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tmp_path / "t_widen"
    (root / "_delta_log").mkdir(parents=True)
    # v0 file: narrow physical types, written the foreign way
    pq.write_table(
        pa.table(
            {
                "i": pa.array([1, 2], pa.int32()),
                "f": pa.array([1.5, 2.5], pa.float32()),
                "s": pa.array([3, 4], pa.int16()),
                "m": pa.array([None, None], pa.decimal128(6, 2)),
                "d": pa.array(
                    [datetime.date(2024, 1, 5)] * 2, pa.date32()
                ),
            }
        ),
        root / "part-0000-narrow.parquet",
    )

    def field(name, typ):
        return {
            "name": name, "type": typ, "nullable": True, "metadata": {},
        }

    narrow = json.dumps({"type": "struct", "fields": [
        field("i", "integer"), field("f", "float"), field("s", "short"),
        field("m", "decimal(6,2)"), field("d", "date"),
    ]})
    wide = json.dumps({"type": "struct", "fields": [
        field("i", "long"), field("f", "double"), field("s", "integer"),
        field("m", "decimal(10,2)"), field("d", "timestamp_ntz"),
    ]})

    def commit(v, actions):
        with open(root / "_delta_log" / f"{v:020d}.json", "w") as f:
            f.write("\n".join(json.dumps(a) for a in actions) + "\n")

    commit(0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {
            "id": "widen-fixture", "format": {
                "provider": "parquet", "options": {}
            },
            "schemaString": narrow, "partitionColumns": [],
            "configuration": {}, "createdTime": 0,
        }},
        {"add": {
            "path": "part-0000-narrow.parquet", "partitionValues": {},
            "size": 1, "modificationTime": 0, "dataChange": True,
        }},
    ])
    # v1: the widening ALTER — protocol gains the reader feature, the
    # schema widens; the narrow file stays live as-is
    commit(1, [
        {"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["timestampNtz", "typeWidening"],
            "writerFeatures": ["timestampNtz", "typeWidening"],
        }},
        {"metaData": {
            "id": "widen-fixture", "format": {
                "provider": "parquet", "options": {}
            },
            "schemaString": wide, "partitionColumns": [],
            "configuration": {}, "createdTime": 0,
        }},
    ])
    path = str(root)
    want = [
        (1, 1.5, 3, None, datetime.datetime(2024, 1, 5)),
        (2, 2.5, 4, None, datetime.datetime(2024, 1, 5)),
    ]
    got = sorted(
        (r["i"], r["f"], r["s"], r["m"], r["d"])
        for r in read_delta(spark, path).collect()
    )
    assert got == want, got
    assert [f.dataType.simpleString() for f in read_delta(
        spark, path
    ).schema.fields] == ["bigint", "double", "int", "decimal(10,2)",
                         "timestamp_ntz"]
    names, rows = read_delta_external(path)
    assert names == ["i", "f", "s", "m", "d"]
    assert sorted(rows) == want, sorted(rows)
    # the gate still refuses genuinely unknown reader features by name
    # (variantType-preview, the old stand-in here, is accepted since r11)
    commit(2, [{"protocol": {
        "minReaderVersion": 3, "minWriterVersion": 7,
        "readerFeatures": ["typeWidening", "futureWidening-v9"],
        "writerFeatures": [],
    }}])
    with pytest.raises(Exception, match="futureWidening-v9"):
        read_delta(spark, path).collect()
    with pytest.raises(Exception, match="futureWidening-v9"):
        read_delta_external(path)


def test_widening_evolution_records_history_and_protocol(spark, tmp_path):
    """The typeWidening WRITER duty: a schema evolution that widens a
    column must, in the SAME commit, record the delta.typeWidening
    field-metadata history ({fromType, toType, tableVersion}) and
    upgrade the protocol to declare the feature — then read correctly
    in both readers (pre-widen files upcast) and accept further
    appends."""
    path = str(tmp_path / "t_widen_hist")
    write_delta(
        spark,
        spark.createDataFrame([(1, 1.5)], "id int, v float").coalesce(1),
        path,
    )
    write_delta(  # widening evolution: int->long, float->double
        spark,
        spark.createDataFrame(
            [(2**40, 2.5)], "id long, v double"
        ).coalesce(1),
        path,
    )
    acts = [
        json.loads(l)
        for l in open(f"{path}/_delta_log/{1:020d}.json")
        if l.strip()
    ]
    meta = next(a["metaData"] for a in acts if "metaData" in a)
    fields = {
        f["name"]: f for f in json.loads(meta["schemaString"])["fields"]
    }
    assert fields["id"]["metadata"]["delta.typeWidening"] == [
        {"fromType": "integer", "toType": "long", "tableVersion": 1}
    ]
    assert fields["v"]["metadata"]["delta.typeWidening"] == [
        {"fromType": "float", "toType": "double", "tableVersion": 1}
    ]
    proto = next(a["protocol"] for a in acts if "protocol" in a)
    assert "typeWidening" in proto["readerFeatures"]
    assert "typeWidening" in proto["writerFeatures"]
    # a SECOND widening appends to the history, not replaces it
    write_delta(
        spark,
        spark.createDataFrame([(3, 3.5, 9)], "id long, v double, w short")
        .coalesce(1),
        path,
    )
    write_delta(
        spark,
        spark.createDataFrame([(4, 4.5, 2**33)], "id long, v double, w long")
        .coalesce(1),
        path,
    )
    acts3 = [
        json.loads(l)
        for l in open(f"{path}/_delta_log/{3:020d}.json")
        if l.strip()
    ]
    meta3 = next(a["metaData"] for a in acts3 if "metaData" in a)
    f3 = {
        f["name"]: f for f in json.loads(meta3["schemaString"])["fields"]
    }
    assert f3["w"]["metadata"]["delta.typeWidening"] == [
        {"fromType": "short", "toType": "long", "tableVersion": 3}
    ]
    assert f3["id"]["metadata"]["delta.typeWidening"][0]["tableVersion"] == 1
    want = sorted([
        (1, 1.5, None), (2**40, 2.5, None), (3, 3.5, 9), (4, 4.5, 2**33)
    ])
    got = sorted(
        (r["id"], r["v"], r["w"])
        for r in read_delta(spark, path).collect()
    )
    assert got == want
    names, rows = read_delta_external(path)
    assert sorted(rows) == want


def test_variant_foreign_table_reads_in_both(spark, tmp_path):
    """The variantType READER feature: a foreign table with a VARIANT
    column (physically struct<value binary, metadata binary> carrying
    the open Variant binary encoding) reads in BOTH readers — Spark
    decodes the pair natively under the explicit variant schema; the
    external reader uses this repo's own from-spec decoder, pinned
    against pyspark's VariantVal.toPython (two independent decoders).
    (Write-side coverage lives in tests/test_delta_variant_write.py.)"""
    import pyarrow as pa
    import pyarrow.parquet as pq

    payloads = [
        '{"a": 1, "b": [true, null, 2.5], "s": "hello"}',
        '{"nested": {"x": [1, 2, {"y": "z"}]}, "n": -12345678901234}',
        '"' + "L" * 100 + '"',          # long string (4-byte length)
        "[1.5, -0.25, 123456789012345678901234.5]",  # doubles + decimal16
        "null",
        "true",
        '{"empty_obj": {}, "empty_arr": []}',
    ]
    vv = [
        r["v"]
        for r in spark.sql(
            "select parse_json(p) as v from values "
            + ", ".join(f"('{p}')" for p in payloads)
            + " as t(p)"
        ).collect()
    ]
    root = tmp_path / "t_variant"
    (root / "_delta_log").mkdir(parents=True)
    pq.write_table(
        pa.table(
            {
                "id": pa.array(range(len(vv)), pa.int64()),
                "v": pa.array(
                    [
                        {"value": bytes(x.value), "metadata": bytes(x.metadata)}
                        for x in vv
                    ],
                    pa.struct(
                        [("value", pa.binary()), ("metadata", pa.binary())]
                    ),
                ),
            }
        ),
        root / "part-0000-variant.parquet",
    )
    schema = json.dumps({"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True, "metadata": {}},
        {"name": "v", "type": "variant", "nullable": True, "metadata": {}},
    ]})
    with open(root / "_delta_log" / f"{0:020d}.json", "w") as f:
        for a in [
            {"protocol": {
                "minReaderVersion": 3, "minWriterVersion": 7,
                "readerFeatures": ["variantType"],
                "writerFeatures": ["variantType"],
            }},
            {"metaData": {
                "id": "variant-fixture",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema, "partitionColumns": [],
                "configuration": {}, "createdTime": 0,
            }},
            {"add": {
                "path": "part-0000-variant.parquet", "partitionValues": {},
                "size": 1, "modificationTime": 0, "dataChange": True,
            }},
        ]:
            f.write(json.dumps(a) + "\n")
    path = str(root)

    def norm(x):
        from decimal import Decimal

        if isinstance(x, Decimal):
            return ("dec", str(x.normalize()))
        if isinstance(x, dict):
            return {k: norm(v) for k, v in sorted(x.items())}
        if isinstance(x, list):
            return [norm(v) for v in x]
        return x

    got_spark = {
        r["id"]: norm(r["v"].toPython() if r["v"] is not None else None)
        for r in read_delta(spark, path).collect()
    }
    names, rows = read_delta_external(path)
    assert names == ["id", "v"]
    got_ext = {r[0]: norm(r[1]) for r in rows}
    assert got_spark == got_ext, (got_spark, got_ext)
    # spot-pin absolute values so both decoders can't be wrong together
    assert got_ext[0] == {
        "a": 1, "b": [True, None, ("dec", "2.5")], "s": "hello"
    }
    assert got_ext[2] == "L" * 100
    assert got_ext[4] is None or got_ext[4] == None  # noqa: E711
    assert got_ext[6] == {"empty_obj": {}, "empty_arr": []}
    # NESTED variant (inside a struct) stays refused — the write-side
    # physical transform re-wraps whole columns only
    with pytest.raises(ValueError, match="nest"):
        write_delta(
            spark,
            spark.sql(
                "select 1 as id, named_struct('inner', parse_json('{}')) as v"
            ),
            str(tmp_path / "t_variant_w"),
        )


def test_preview_feature_spellings_accepted(spark, tmp_path):
    """delta-spark 3.x stamped typeWidening-preview / variantType-preview
    before the features went GA with identical read duties — tables
    carrying the preview names read in BOTH readers (round 11); an
    unknown -preview name is still refused."""
    ok = _foreign_table(
        spark, tmp_path, "t_preview_ok",
        {"minReaderVersion": 3, "minWriterVersion": 7,
         "readerFeatures": ["typeWidening-preview", "variantType-preview"],
         "writerFeatures": ["typeWidening-preview", "variantType-preview"]},
    )
    assert [r["id"] for r in read_delta(spark, ok).collect()] == [1]
    names, rows = read_delta_external(ok)
    assert [r[names.index("id")] for r in rows] == [1]
    bad = _foreign_table(
        spark, tmp_path, "t_preview_bad",
        {"minReaderVersion": 3, "minWriterVersion": 7,
         "readerFeatures": ["someOtherThing-preview"],
         "writerFeatures": ["someOtherThing-preview"]},
    )
    with pytest.raises(ValueError, match="someOtherThing-preview"):
        read_delta(spark, bad).collect()
    with pytest.raises(ValueError, match="someOtherThing-preview"):
        read_delta_external(bad)


def test_variant_shredded_foreign_table_reads_in_both(spark, tmp_path):
    """SHREDDED variants (parquet-format VariantShredding.md, Delta's
    variantShredding-preview feature): a hand-built foreign table whose
    variant column stores typed_value columns — scalar shredding with a
    binary-residual row, OBJECT shredding (shredded fields + field-level
    binary + top-level residual + absent fields), ARRAY shredding with a
    mixed element, and a null variant. Spark reassembles natively under
    the variant read schema; the external reader reassembles with its
    own from-spec logic — both must agree with the hand-computed truth.

    Cites the reference's roadmap for protocol surface (README.md:204);
    shredding itself has no reference counterpart (Spark-era spec)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def prim(tid, payload=b""):
        return bytes([(tid << 2) | 0]) + payload

    def short_str(s):
        return bytes([(len(s) << 2) | 1]) + s.encode()

    V7 = prim(6, (7).to_bytes(8, "little", signed=True))
    V42 = prim(6, (42).to_bytes(8, "little", signed=True))
    EMPTY_MD = bytes([0x01, 0x00, 0x00])
    # metadata dict ["a","b","c"]
    MD_ABC = bytes([0x01, 3, 0, 1, 2, 3]) + b"abc"
    # residual object {c: "x"} under MD_ABC (1-byte ids/offsets)
    vx = short_str("x")
    RESID = (bytes([0b000010]) + bytes([1]) + bytes([2])
             + bytes([0, len(vx)]) + vx)

    rows = 5
    md = pa.array([EMPTY_MD, EMPTY_MD, MD_ABC, EMPTY_MD, EMPTY_MD],
                  pa.binary())
    top_value = pa.array([None, V42, RESID, None, None], pa.binary())

    def fld(vals_b, vals_t):
        return pa.StructArray.from_arrays(
            [pa.array(vals_b, pa.binary()), pa.array(vals_t, pa.int64())],
            ["value", "typed_value"],
        )

    # object typed_value (used on row 2 only; all-null groups elsewhere)
    fa = fld([None] * rows, [None, None, 1, None, None])
    fb = fld([None, None, V7, None, None], [None] * rows)
    obj = pa.StructArray.from_arrays(
        [fa, fb], ["a", "b"],
        mask=pa.array([True, True, False, True, True]),  # valid row 2
    )
    # array typed_value (row 3): [5, 42] — one typed, one binary element
    elem = pa.struct([("value", pa.binary()), ("typed_value", pa.int64())])
    arr = pa.array(
        [None, None, None,
         [{"value": None, "typed_value": 5},
          {"value": V42, "typed_value": None}],
         None],
        pa.list_(elem),
    )
    scalar = pa.array([9, None, None, None, None], pa.int64())
    v = pa.StructArray.from_arrays(
        [md, top_value, scalar, obj, arr],
        ["metadata", "value", "typed_value_int", "typed_value_obj",
         "typed_value_arr"],
    )
    # collapse the three typed shapes into ONE typed_value per row by
    # writing three files, one shape each (a real shredded table uses
    # one shape per file; shapes may differ across files)
    root = tmp_path / "t_shred"
    (root / "_delta_log").mkdir(parents=True)

    def write_part(fname, ids, mdv, valv, typed_arr):
        cols = [pa.array(ids, pa.int64())]
        names = ["id"]
        fields = [mdv, valv] + ([typed_arr] if typed_arr is not None else [])
        fnames = ["metadata", "value"] + (
            ["typed_value"] if typed_arr is not None else [])
        cols.append(pa.StructArray.from_arrays(fields, fnames))
        names.append("v")
        pq.write_table(pa.table(dict(zip(names, cols))), root / fname)

    # file 1: scalar shredding (rows 0-1): 9 typed; 42 via binary
    write_part(
        "p0.parquet", [0, 1],
        pa.array([EMPTY_MD, EMPTY_MD], pa.binary()),
        pa.array([None, V42], pa.binary()),
        pa.array([9, None], pa.int64()),
    )
    # file 2: object shredding (row 2): a=1 typed, b=7 binary, c residual
    write_part(
        "p1.parquet", [2],
        pa.array([MD_ABC], pa.binary()),
        pa.array([RESID], pa.binary()),
        pa.StructArray.from_arrays(
            [fld([None], [1]), fld([V7], [None])], ["a", "b"]),
    )
    # file 3: array shredding (row 3) + variant NULL (row 4: the binary
    # value holds the variant-null primitive — both-null is invalid at
    # the top level per the spec, and Spark refuses the file)
    write_part(
        "p2.parquet", [3, 4],
        pa.array([EMPTY_MD, EMPTY_MD], pa.binary()),
        pa.array([None, prim(0)], pa.binary()),
        pa.array(
            [[{"value": None, "typed_value": 5},
              {"value": V42, "typed_value": None}], None],
            pa.list_(elem),
        ),
    )

    schema_string = json.dumps({"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True, "metadata": {}},
        {"name": "v", "type": "variant", "nullable": True, "metadata": {}},
    ]})
    with open(root / "_delta_log" / f"{0:020d}.json", "w") as f:
        for a in [
            {"protocol": {
                "minReaderVersion": 3, "minWriterVersion": 7,
                "readerFeatures": ["variantType",
                                   "variantShredding-preview"],
                "writerFeatures": ["variantType",
                                   "variantShredding-preview"],
            }},
            {"metaData": {
                "id": "shred", "format": {"provider": "parquet",
                                          "options": {}},
                "schemaString": schema_string, "partitionColumns": [],
                "configuration": {}, "createdTime": 0,
            }},
            {"add": {"path": "p0.parquet", "partitionValues": {},
                     "size": 1, "modificationTime": 0, "dataChange": True}},
            {"add": {"path": "p1.parquet", "partitionValues": {},
                     "size": 1, "modificationTime": 0, "dataChange": True}},
            {"add": {"path": "p2.parquet", "partitionValues": {},
                     "size": 1, "modificationTime": 0, "dataChange": True}},
        ]:
            f.write(json.dumps(a) + "\n")

    want = {
        0: 9,
        1: 42,
        2: {"a": 1, "b": 7, "c": "x"},
        3: [5, 42],
        4: None,
    }
    got_spark = {
        r["id"]: (None if r["v"] is None else r["v"].toPython())
        for r in read_delta(spark, str(root)).collect()
    }
    assert got_spark == want, got_spark
    names, rows_ext = read_delta_external(str(root))
    got_ext = {r[names.index("id")]: r[names.index("v")] for r in rows_ext}
    assert got_ext == want, got_ext


def test_id_mode_column_mapping_reads_in_both(spark, tmp_path):
    """ID-mode column mapping (Iceberg-converted tables): the parquet
    files carry ARBITRARY column names — resolution is by the field_id
    stamped in each file's schema, matched to delta.columnMapping.id.
    Both readers must resolve (including a second file whose physical
    NAMES differ from the first), partition values come from the log,
    and WRITES are refused (this writer does not stamp field ids)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tmp_path / "t_idmode"
    (root / "_delta_log").mkdir(parents=True)

    def fld(name, typ, fid):
        return pa.field(
            name, typ, metadata={b"PARQUET:field_id": str(fid).encode()}
        )

    # file 1: iceberg-ish names; file 2: totally different names, same ids
    pq.write_table(
        pa.table(
            [pa.array([1, 2], pa.int64()), pa.array(["a", "b"])],
            schema=pa.schema([fld("ice_id", pa.int64(), 1),
                              fld("ice_s", pa.string(), 2)]),
        ),
        root / "f1.parquet",
    )
    pq.write_table(
        pa.table(
            [pa.array([3], pa.int64()), pa.array(["c"])],
            schema=pa.schema([fld("renamed_id", pa.int64(), 1),
                              fld("renamed_s", pa.string(), 2)]),
        ),
        root / "f2.parquet",
    )
    schema_string = json.dumps({"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.id": 1,
                      "delta.columnMapping.physicalName": "ice_id"}},
        {"name": "s", "type": "string", "nullable": True,
         "metadata": {"delta.columnMapping.id": 2,
                      "delta.columnMapping.physicalName": "ice_s"}},
        {"name": "part", "type": "string", "nullable": True,
         "metadata": {"delta.columnMapping.id": 3,
                      "delta.columnMapping.physicalName": "ice_part"}},
    ]})
    with open(root / "_delta_log" / f"{0:020d}.json", "w") as f:
        for a in [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            {"metaData": {
                "id": "idmode",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema_string,
                "partitionColumns": ["part"],
                "configuration": {"delta.columnMapping.mode": "id",
                                  "delta.columnMapping.maxColumnId": "3"},
                "createdTime": 0,
            }},
            {"add": {"path": "f1.parquet",
                     "partitionValues": {"ice_part": "p0"},
                     "size": 1, "modificationTime": 0,
                     "dataChange": True}},
            {"add": {"path": "f2.parquet",
                     "partitionValues": {"ice_part": "p1"},
                     "size": 1, "modificationTime": 0,
                     "dataChange": True}},
        ]:
            f.write(json.dumps(a) + "\n")

    want = {(1, "a", "p0"), (2, "b", "p0"), (3, "c", "p1")}
    df = read_delta(spark, str(root))
    assert df.columns == ["id", "s", "part"]
    assert {tuple(r) for r in df.collect()} == want
    names, rows = read_delta_external(str(root))
    assert names == ["id", "s", "part"]
    assert set(rows) == want, rows
    # writes round-trip (r12): the staged file carries physical names
    # + parquet field ids, so both readers resolve it beside the
    # foreign-named files
    write_delta(
        spark,
        spark.createDataFrame([(9, "z", "p0")],
                              "id long, s string, part string"),
        str(root), mode="append", partition_col=["part"],
    )
    want2 = want | {(9, "z", "p0")}
    assert {tuple(r) for r in read_delta(spark, str(root)).collect()} == want2
    names2, rows2 = read_delta_external(str(root))
    assert set(rows2) == want2
