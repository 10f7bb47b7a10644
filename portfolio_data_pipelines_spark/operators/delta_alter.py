"""Table-evolution ALTERs (split from delta_log, r16).

The metadata-evolution side of the table lifecycle: feature enablement
(``enable_column_mapping``, ``enable_iceberg_compat`` — including the
REORG-UPGRADE rewrite of unstamped files — and ``enable_row_tracking``
with its backfill), mapping-powered ``rename_column`` / ``drop_column``
(metadata-only, the point of column mapping), CHECK-constraint ALTERs
and column-DEFAULT ALTERs. Everything here is one (or a few)
metadata-shaped commits; the heavy exception — icebergCompat's
enable-rewrite — stages through the same distributed machinery as any
data commit.

Reference: delta-io PROTOCOL.md (Column Mapping / IcebergCompat / Row
Tracking / CHECK Constraints / Default Columns).
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from . import delta_colmap, delta_scan
from . import delta_log as dl
from .delta_protocol import (
    _PROTOCOL_ACTION,
    _iceberg_compat_version,
    _upgraded_protocol_with,
    _upgraded_protocol_writer_only,
)


def enable_column_mapping(spark: SparkSession, path: str) -> int:
    """Upgrade the table to NAME-mode column mapping — the Delta
    feature that makes RENAME and DROP COLUMN metadata-only
    operations: every field gets a stable ``delta.columnMapping.id``
    and a ``physicalName`` (its CURRENT name, so every existing parquet
    file stays readable — delta-spark's upgrade rule), the
    configuration records ``delta.columnMapping.mode=name`` +
    ``maxColumnId``, and the protocol advances to reader 2 / writer 5
    as the spec requires. One metadata-only commit, zero data
    movement. Readers below version 2 must refuse the table afterwards
    (both this repo's readers enforce that)."""
    tx = dl.Txn(spark, path)
    st = tx.st
    config = dict(st.meta.get("configuration") or {})
    if config.get("delta.columnMapping.mode", "none") != "none":
        raise ValueError(
            f"column mapping already enabled on {path} "
            f"(mode={config['delta.columnMapping.mode']!r})"
        )
    fields = json.loads(st.meta["schemaString"])["fields"]
    mapped = []
    for i, f in enumerate(fields, start=1):
        nf = dict(f)
        nf["metadata"] = {
            **(f.get("metadata") or {}),
            "delta.columnMapping.id": i,
            "delta.columnMapping.physicalName": f["name"],
        }
        mapped.append(nf)
    config["delta.columnMapping.mode"] = "name"
    config["delta.columnMapping.maxColumnId"] = str(len(fields))
    meta = dict(st.meta)
    meta["schemaString"] = json.dumps({"type": "struct", "fields": mapped})
    meta["configuration"] = config
    proto = dict(st.protocol or _PROTOCOL_ACTION["protocol"])
    if (
        proto.get("readerFeatures") is not None
        or proto.get("writerFeatures") is not None
    ):
        # a table-features protocol (rowTracking, timestampNtz, ...)
        # must KEEP its lists — flattening to the legacy (2, 5) pair
        # would silently drop every listed duty
        new_proto = _upgraded_protocol_with(proto, {"columnMapping"})
    else:
        new_proto = {"minReaderVersion": 2, "minWriterVersion": 5}
    return tx.commit(
        "SET TBLPROPERTIES",
        {"properties": {"delta.columnMapping.mode": "name"}},
        [{"protocol": new_proto}, {"metaData": meta}],
    )


def enable_iceberg_compat(
    spark: SparkSession, path: str, version: int = 2
) -> int:
    """Enable Iceberg compatibility (``icebergCompatV1``/``V2``, r13 —
    refused by name through r12): after this, every data file the
    table accepts is addressable by converted Iceberg metadata.

    Preconditions (delta-spark's IcebergCompat checks): column mapping
    already enabled (V1: name mode; V2: name or id); no deletion
    vectors (feature-with-live-DVs, config, or descriptors on live
    adds); no typeWidening feature; no array/map columns (Iceberg
    needs element-level field ids this writer does not stamp); no
    other compat version enabled.

    The commit: assigns ``delta.columnMapping.id`` to any nested
    struct field missing one (advancing ``maxColumnId`` — top-level
    ids exist by the mapping precondition), sets
    ``delta.enableIcebergCompatV{n}=true``, declares the writer
    feature, and REWRITES live files whose parquet schema lacks
    field ids (dataChange=false — the spec's REORG UPGRADE ICEBERG
    shape, so pre-compat files become id-addressable without changing
    a row). Returns the final committed version.

    Scale note: the rewrite touches only files MISSING ids — a table
    written id-stamped from birth (or a CONVERTed one) rewrites
    nothing; the footer probe is O(live files) of metadata reads."""
    import os

    import pyarrow.parquet as pq

    if version not in (1, 2):
        raise ValueError(f"icebergCompat version must be 1 or 2, got {version}")
    tx = dl.Txn(spark, path)
    st = tx.st
    config = dict(st.meta.get("configuration") or {})
    if _iceberg_compat_version(st.meta):
        raise ValueError(
            f"iceberg compat already enabled on {path} "
            f"(V{_iceberg_compat_version(st.meta)})"
        )
    mode = config.get("delta.columnMapping.mode", "none")
    if version == 1 and mode != "name":
        raise ValueError(
            "icebergCompatV1 requires column mapping in NAME mode — "
            f"table has mode={mode!r} (enable_column_mapping first)"
        )
    if version == 2 and mode not in ("name", "id"):
        raise ValueError(
            "icebergCompatV2 requires column mapping — "
            f"table has mode={mode!r} (enable_column_mapping first)"
        )
    if str(config.get("delta.enableDeletionVectors", "")).lower() == "true":
        raise ValueError(
            "cannot enable iceberg compat: delta.enableDeletionVectors "
            "is set (Iceberg cannot read DV'd files before compat V3)"
        )
    if any(a.get("deletionVector") for a in st.adds.values()):
        raise ValueError(
            "cannot enable iceberg compat: live files carry deletion "
            "vectors — purge_delta first"
        )
    if "typeWidening" in ((st.protocol or {}).get("writerFeatures") or []):
        raise ValueError(
            "cannot enable iceberg compat: the table declares "
            "typeWidening (incompatible pre-V3)"
        )
    # assign missing NESTED struct ids; array/map levels get repeated-
    # node ids via _assign_compat_element_ids below (r14 — refused by
    # name through r13)
    fields = json.loads(st.meta["schemaString"])["fields"]
    max_id = int(config.get("delta.columnMapping.maxColumnId", 0))

    def fill(jtype, path_):
        nonlocal max_id
        if not isinstance(jtype, dict):
            return jtype
        t = jtype.get("type")
        if t == "array":
            return {
                **jtype,
                "elementType": fill(jtype["elementType"], f"{path_}.element"),
            }
        if t == "map":
            return {
                **jtype,
                "keyType": fill(jtype["keyType"], f"{path_}.key"),
                "valueType": fill(jtype["valueType"], f"{path_}.value"),
            }
        if t == "struct":
            out = []
            for f in jtype["fields"]:
                nf = dict(f)
                md = dict(f.get("metadata") or {})
                if "delta.columnMapping.id" not in md:
                    max_id += 1
                    md["delta.columnMapping.id"] = max_id
                    md.setdefault(
                        "delta.columnMapping.physicalName", f["name"]
                    )
                nf["metadata"] = md
                nf["type"] = fill(f["type"], f"{path_}.{f['name']}")
                out.append(nf)
            return {"type": "struct", "fields": out}
        return jtype

    new_fields = []
    for f in fields:
        nf = dict(f)
        nf["type"] = fill(f.get("type"), f["name"])
        new_fields.append(nf)
    config[f"delta.enableIcebergCompatV{version}"] = "true"
    config["delta.columnMapping.maxColumnId"] = str(
        max(max_id, int(config.get("delta.columnMapping.maxColumnId", 0)))
    )
    meta = dict(st.meta)
    meta["schemaString"] = json.dumps(
        {"type": "struct", "fields": new_fields}
    )
    meta["configuration"] = config
    meta = delta_colmap._assign_compat_element_ids(meta)
    proto = dict(st.protocol or _PROTOCOL_ACTION["protocol"])
    feat = f"icebergCompatV{version}"
    actions = []
    if feat not in (proto.get("writerFeatures") or []):
        actions.append(
            {"protocol": _upgraded_protocol_writer_only(proto, feat)}
        )
    actions.append({"metaData": meta})
    v = tx.commit(
        "SET TBLPROPERTIES",
        {"properties": {f"delta.enableIcebergCompatV{version}": "true"}},
        actions,
    )
    # REORG UPGRADE ICEBERG: rewrite live files whose parquet footer
    # lacks field ids (files already stamped — id-mode writes, prior
    # compat writes — are untouched). The probe reads the footer via a
    # plain path for local tables and through pyarrow's URI-resolved
    # filesystem (s3://, hdfs://, gs://…) otherwise; a file the probe
    # cannot read is rewritten TO BE SAFE, but never silently — if
    # every rewrite came from probe failures the enable pass would be
    # rewriting a healthy remote table (r13 ADVICE), so the counts are
    # surfaced in a warning.
    from urllib.parse import unquote

    tx = dl.Txn(spark, path)
    st2 = tx.st
    doomed: dict[str, dict] = {}
    probe_failed = 0
    local_root = dl._normalize_uri(path, decode=False)
    is_local = "://" not in path or path.startswith("file:")
    remote_fs = None
    if not is_local:
        try:
            import pyarrow.fs as pafs

            remote_fs, remote_root = pafs.FileSystem.from_uri(path)
        except Exception:
            remote_fs = None
    for rel, a in sorted(st2.adds.items()):
        try:
            if is_local:
                sch = pq.read_schema(
                    os.path.join(local_root, unquote(rel))
                )
            elif remote_fs is not None:
                sch = pq.read_schema(
                    f"{remote_root}/{unquote(rel)}", filesystem=remote_fs
                )
            else:
                raise OSError("no filesystem handler for table URI")
            # complete = ids on every struct field at any depth AND on
            # list element / map key/value nodes (r14: Iceberg
            # addresses repeated nodes by id too)
            has_ids = delta_colmap._arrow_schema_ids_complete(sch)
        except Exception:
            has_ids = False  # unreadable: rewrite to be safe — counted
            probe_failed += 1
        if not has_ids:
            doomed[rel] = a
    if probe_failed:
        import warnings

        warnings.warn(
            f"enable_iceberg_compat: footer probe failed on "
            f"{probe_failed} of {len(st2.adds)} live file(s) — those "
            f"are rewritten conservatively ({len(doomed) - probe_failed} "
            "genuinely lacked field ids). If the table is on remote "
            "storage ensure pyarrow can reach it, or expect a full "
            "rewrite.",
            stacklevel=2,
        )
    if not doomed:
        return v
    pcols = st2.meta.get("partitionColumns", [])
    l2p = delta_colmap._logical_to_physical(st2.meta)
    rt = dl._row_tracking_supported(st2.protocol)
    rewritten = delta_scan._read_adds(spark, path, doomed, st2.meta, row_ids=rt)
    if rt:
        rewritten = dl._rt_materialize(rewritten, st2.meta)
    adds = tx.stage(rewritten, pcols, data_change=False, l2p=l2p)
    return tx.commit(
        "REORG",
        {"applyIcebergCompat": f"V{version}"},
        [tx.remove(rel, data_change=False) for rel in sorted(doomed)],
        staged=adds,
        metrics=dl._add_metrics(adds, len(doomed)),
    )


def enable_row_tracking(spark: SparkSession, path: str) -> int:
    """Upgrade the table to ROW TRACKING (public Delta protocol, "Row
    Tracking"): one commit that (a) advances the protocol to the
    table-features form with the ``rowTracking`` + ``domainMetadata``
    writer features (reader side untouched — row ids are writer-duty
    metadata foreign readers may ignore), (b) sets
    ``delta.enableRowTracking`` plus the hidden materialized-column
    names in the configuration, (c) BACKFILLS every live add with a
    ``baseRowId``/``defaultRowCommitVersion`` (dataChange=false
    re-adds — existing rows get ids without a byte of data movement;
    delta-spark's ALTER does the same), and (d) records the advanced
    ``rowIdHighWaterMark`` in the ``delta.rowTracking`` metadata
    domain. Afterwards ``read_delta(..., row_ids=True)`` surfaces
    ``_row_id``/``_row_commit_version`` and every rewrite path
    preserves them. Returns the committed version.

    Scale: the backfill is O(live files) of driver-side log work and
    zero data I/O — it needs only the per-file numRecords the adds'
    stats already carry."""
    tx = dl.Txn(spark, path)
    st = tx.st
    if dl._row_tracking_supported(st.protocol):
        raise ValueError(f"row tracking already enabled on {path}")
    config = dict(st.meta.get("configuration") or {})
    config["delta.enableRowTracking"] = "true"
    config.setdefault(dl._RT_MAT_ID_KEY, f"_row-id-col-{uuid.uuid4()}")
    config.setdefault(
        dl._RT_MAT_CV_KEY, f"_row-commit-version-col-{uuid.uuid4()}"
    )
    meta = dict(st.meta)
    meta["configuration"] = config
    proto = dict(st.protocol or _PROTOCOL_ACTION["protocol"])
    proto = _upgraded_protocol_writer_only(proto, "rowTracking")
    proto = _upgraded_protocol_writer_only(proto, "domainMetadata")
    backfill = []
    for rel in sorted(st.adds):
        a = dict(st.adds[rel])
        a["path"] = dl._encode_path(rel)
        a["dataChange"] = False
        a.pop("baseRowId", None)  # force fresh assignment
        a.pop("defaultRowCommitVersion", None)
        backfill.append({"add": a})
    hwm = dl._rt_assign(backfill, dl._rt_hwm(st.domain_metadata), tx.version)
    return tx.commit(
        "SET TBLPROPERTIES",
        {"properties": {"delta.enableRowTracking": "true"}},
        [
            {"protocol": proto},
            {"metaData": meta},
            dl._rt_domain_action(hwm if hwm is not None else -1),
            *backfill,
        ],
    )


def _guard_constraints_reference(meta: dict, column: str, op: str) -> None:
    import re as _re

    for k, expr in (meta.get("configuration") or {}).items():
        if k.startswith("delta.constraints.") and _re.search(
            rf"\b{_re.escape(column)}\b", expr
        ):
            raise ValueError(
                f"cannot {op} column {column!r}: CHECK constraint "
                f"{k[len('delta.constraints.'):]!r} references it "
                f"({expr}); drop the constraint first"
            )


def rename_column(
    spark: SparkSession, path: str, old: str, new: str
) -> int:
    """ALTER TABLE RENAME COLUMN — metadata-only under name-mode
    column mapping: the LOGICAL name changes, the field keeps its id
    and physical name, so no file is touched and every retained
    version still reads under the schema it was committed with."""
    tx = dl.Txn(spark, path)
    st = tx.st
    if delta_colmap._logical_to_physical(st.meta) is None:
        raise ValueError(
            "rename_column requires name-mode column mapping — run "
            "enable_column_mapping(path) first"
        )
    _guard_constraints_reference(st.meta, old, "rename")
    fields = json.loads(st.meta["schemaString"])["fields"]
    names = [f["name"] for f in fields]
    if old not in names:
        raise ValueError(f"no column {old!r} (have {names})")
    if new in names:
        raise ValueError(f"column {new!r} already exists")
    for f in fields:
        if f["name"] == old:
            f["name"] = new
    meta = dict(st.meta)
    meta["schemaString"] = json.dumps({"type": "struct", "fields": fields})
    meta["partitionColumns"] = [
        new if c == old else c for c in st.meta.get("partitionColumns", [])
    ]
    return tx.commit(
        "RENAME COLUMN", {"from": old, "to": new}, [{"metaData": meta}]
    )


def drop_column(spark: SparkSession, path: str, name: str) -> int:
    """ALTER TABLE DROP COLUMN — metadata-only under name-mode column
    mapping: the field leaves the logical schema; its physical data
    stays in the files (ignored by mapped readers) and remains visible
    through time travel to pre-drop versions."""
    tx = dl.Txn(spark, path)
    st = tx.st
    if delta_colmap._logical_to_physical(st.meta) is None:
        raise ValueError(
            "drop_column requires name-mode column mapping — run "
            "enable_column_mapping(path) first"
        )
    if name in st.meta.get("partitionColumns", []):
        raise ValueError(f"cannot drop partition column {name!r}")
    _guard_constraints_reference(st.meta, name, "drop")
    fields = json.loads(st.meta["schemaString"])["fields"]
    if name not in [f["name"] for f in fields]:
        raise ValueError(f"no column {name!r}")
    if len(fields) == 1:
        raise ValueError("cannot drop the only column")
    meta = dict(st.meta)
    meta["schemaString"] = json.dumps(
        {
            "type": "struct",
            "fields": [f for f in fields if f["name"] != name],
        }
    )
    return tx.commit(
        "DROP COLUMNS", {"columns": [name]}, [{"metaData": meta}]
    )


def add_check_constraint(
    spark: SparkSession, path: str, name: str, expr: str
) -> int:
    """ALTER TABLE ADD CONSTRAINT — Delta's post-creation constraint
    path: validate the EXISTING table data against ``expr`` first (one
    filter + count over the current snapshot — exactly what delta-spark
    pays), refuse if any live row violates it, then commit an updated
    metaData whose configuration carries
    ``delta.constraints.<name>``. Every subsequent commit (append,
    overwrite, MERGE source, stream-sink batch — by this writer or any
    conformant one reading the configuration) enforces it. Returns the
    committed version."""
    tx = dl.Txn(spark, path)
    st = tx.st
    key = f"delta.constraints.{name}"
    config = dict(st.meta.get("configuration") or {})
    if key in config:
        raise ValueError(f"constraint {name!r} already exists: {config[key]}")
    current = delta_scan.read_delta(spark, path)
    n_bad = current.filter(~F.coalesce(F.expr(expr), F.lit(True))).count()
    if n_bad:
        raise ValueError(
            f"cannot add CHECK constraint {name!r} ({expr}): {n_bad} "
            "existing row(s) violate it — Delta validates history before "
            "accepting a constraint"
        )
    config[key] = expr
    meta = dict(st.meta)
    meta["configuration"] = config
    actions = [{"metaData": meta}]
    # checkConstraints is a writer-version-3 duty: a legacy-v2 table
    # must bump in the SAME commit or a foreign legacy writer keeps
    # committing without ever enforcing the new constraint
    proto = st.protocol or {"minReaderVersion": 1, "minWriterVersion": 2}
    if proto.get("writerFeatures") is not None:
        if "checkConstraints" not in proto["writerFeatures"]:
            actions.append(
                {
                    "protocol": _upgraded_protocol_writer_only(
                        proto, "checkConstraints"
                    )
                }
            )
    elif int(proto.get("minWriterVersion", 2)) < 3:
        actions.append(
            {
                "protocol": {
                    "minReaderVersion": int(
                        proto.get("minReaderVersion", 1)
                    ),
                    "minWriterVersion": 3,
                }
            }
        )
    return tx.commit(
        "ADD CONSTRAINT", {"name": name, "expr": expr}, actions
    )


def drop_check_constraint(
    spark: SparkSession, path: str, name: str
) -> int:
    """ALTER TABLE DROP CONSTRAINT: remove ``delta.constraints.<name>``
    from the table configuration in one metadata-only commit. Raises if
    the constraint does not exist (Delta's behavior without IF
    EXISTS)."""
    tx = dl.Txn(spark, path)
    st = tx.st
    key = f"delta.constraints.{name}"
    config = dict(st.meta.get("configuration") or {})
    if key not in config:
        raise ValueError(f"no CHECK constraint named {name!r} on {path}")
    del config[key]
    meta = dict(st.meta)
    meta["configuration"] = config
    return tx.commit("DROP CONSTRAINT", {"name": name}, [{"metaData": meta}])


def set_column_default(
    spark: SparkSession, path: str, column: str, expr: str
) -> int:
    """ALTER TABLE ALTER COLUMN SET DEFAULT — the allowColumnDefaults
    writer feature's post-creation path: record ``expr`` in the
    column's ``CURRENT_DEFAULT`` field metadata (delta-spark's
    convention) so every later commit that OMITS the column fills it
    with the expression. Existing files are untouched (the feature is
    writer-only: their rows predate the default and keep their stored
    values — SQL DEFAULT semantics, no backfill). The protocol gains
    the ``allowColumnDefaults`` writer feature in the SAME commit, so
    foreign writers either honor the fill-on-omit duty or refuse.
    Identity and generated columns are refused — their values are
    writer-allocated/derived and a DEFAULT would contradict that.
    Returns the committed version.

    The expression is validated by PLANNING it against the declared
    column type before anything commits (a malformed default would
    otherwise fail every later append)."""
    tx = dl.Txn(spark, path)
    st = tx.st
    doc = json.loads(st.meta["schemaString"])
    by_name = {f["name"]: f for f in doc.get("fields", [])}
    if column not in by_name:
        raise ValueError(f"column {column!r} not in table schema")
    md = dict(by_name[column].get("metadata") or {})
    if "delta.generationExpression" in md or "delta.identity.start" in md:
        raise ValueError(
            f"column {column!r} is generated/identity — its values are "
            "derived/allocated, a DEFAULT cannot apply"
        )
    # plan-validate the expression against the declared type (throws
    # AnalysisException on malformed/unresolvable expressions); the
    # frame is ZERO-column so any attribute reference fails analysis —
    # same constants-only rule as the creation path
    schema = dl._spark_schema_from_string(st.meta["schemaString"])
    col_type = next(f.dataType for f in schema.fields if f.name == column)
    spark.range(1).select().select(
        F.expr(expr).cast(col_type)
    ).schema  # noqa: B018 — forces analysis
    md["CURRENT_DEFAULT"] = expr
    by_name[column]["metadata"] = md
    meta = dict(st.meta)
    meta["schemaString"] = json.dumps(doc)
    actions = [{"metaData": meta}]
    proto = dict(st.protocol or _PROTOCOL_ACTION["protocol"])
    if "allowColumnDefaults" not in (proto.get("writerFeatures") or []):
        actions.insert(
            0,
            {
                "protocol": _upgraded_protocol_writer_only(
                    proto, "allowColumnDefaults"
                )
            },
        )
    return tx.commit(
        "ALTER COLUMN", {"column": column, "setDefault": expr}, actions
    )


def drop_column_default(
    spark: SparkSession, path: str, column: str
) -> int:
    """ALTER TABLE ALTER COLUMN DROP DEFAULT: remove the column's
    ``CURRENT_DEFAULT`` metadata in one metadata-only commit (the
    protocol keeps the feature — other columns may still declare
    defaults, and a declared writer feature is never silently
    retracted; use :func:`drop_table_feature` once no column has
    one)."""
    tx = dl.Txn(spark, path)
    st = tx.st
    doc = json.loads(st.meta["schemaString"])
    by_name = {f["name"]: f for f in doc.get("fields", [])}
    if column not in by_name:
        raise ValueError(f"column {column!r} not in table schema")
    md = dict(by_name[column].get("metadata") or {})
    if "CURRENT_DEFAULT" not in md:
        raise ValueError(f"column {column!r} has no DEFAULT")
    del md["CURRENT_DEFAULT"]
    by_name[column]["metadata"] = md
    meta = dict(st.meta)
    meta["schemaString"] = json.dumps(doc)
    return tx.commit(
        "ALTER COLUMN", {"column": column, "dropDefault": True},
        [{"metaData": meta}],
    )


