"""Column-mapping & icebergCompat physical schema (split from
delta_log, r16).

The translation layer between a table's LOGICAL schema (what callers
see) and its PHYSICAL parquet reality: the ``_IdModeMap`` carrier and
``_logical_to_physical`` resolution, id-mode shape validation and the
``parquet.field.id``-stamped write/read types for nested structs, the
physical read schema handed to Spark's field-id resolution, and the
icebergCompat repeated-node machinery — element-id assignment on the
schema, arrow-footer completeness probes, and the per-file /
distributed element-id stamping pass that writes list/map node ids
pyarrow-side (Spark's writer cannot place them).

Reference: delta-io PROTOCOL.md (Column Mapping / IcebergCompat) and
the Iceberg spec's field-id addressing rules.
"""

from __future__ import annotations

import json
import os

from .delta_protocol import (
    PARQUET_NESTED_IDS_KEY,
    _elem_id_paths,
    _iceberg_compat_version,
)


class _IdModeMap(dict):
    """logical→physical name map for an ID-mode column-mapped table.

    A plain dict to every existing l2p consumer (renames,
    partitionValues keys, predicate translation); additionally carries
    ``fids`` ({logical column: parquet field id}) so the staging paths
    can stamp ``parquet.field.id`` on written files and the read paths
    can resolve by field id — the spec duty Iceberg-converted tables
    rely on (their files carry arbitrary column NAMES) — and
    ``wtypes`` ({logical column: Spark DataType}) for nested struct
    columns: the staging cast target with PHYSICAL nested names and
    per-field ``parquet.field.id`` metadata (r13; nested was refused
    through r12). ``read_by_id`` tells the read paths whether files
    resolve by field id (true id-mode tables) or by physical name
    (name-mode tables that merely STAMP ids on writes — the
    icebergCompat duty, whose pre-compat files may lack ids)."""

    # elem_ids (r14): {full physical dotted path: id} of declared
    # repeated-node ids — the staging pyarrow pass stamps them into
    # list element / map key/value footer nodes (icebergCompat duty);
    # empty on tables without array/map columns.
    __slots__ = ("fids", "wtypes", "read_by_id", "elem_ids")


def _logical_to_physical(meta: dict) -> dict | None:
    """Column-mapping translation: logical column name → physical
    parquet column name, from the per-field
    ``delta.columnMapping.physicalName`` metadata the spec stores in
    ``schemaString``. None when the table has no mapping (logical ==
    physical). For id-mode tables the returned map is an
    :class:`_IdModeMap` whose ``fids`` attribute carries the parquet
    field ids (resolution on read, stamping on write)."""
    mode = (meta.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none"
    )
    if mode not in ("name", "id"):
        return None
    m = {
        f["name"]: (f.get("metadata") or {}).get(
            "delta.columnMapping.physicalName", f["name"]
        )
        for f in json.loads(meta["schemaString"])["fields"]
    }
    if mode == "id":
        out = _IdModeMap(m)
        out.fids = _field_ids(meta)
        out.wtypes = _idmode_write_types(meta)
        out.read_by_id = True
        out.elem_ids = _element_id_map(meta)
        return out
    if _iceberg_compat_version(meta):
        # name-mode icebergCompat table: WRITES must stamp parquet
        # field ids (Iceberg addresses columns by id) while reads stay
        # name-resolved (pre-compat files may lack ids). Incomplete ids
        # fall back to the plain map — the commit gate refuses with the
        # precise message before any stamping could half-apply.
        try:
            fids = {
                f["name"]: int(
                    (f.get("metadata") or {})["delta.columnMapping.id"]
                )
                for f in json.loads(meta["schemaString"])["fields"]
            }
            wtypes = _idmode_write_types(meta)
        except (KeyError, TypeError, ValueError):
            return m
        out = _IdModeMap(m)
        out.fids = fids
        out.wtypes = wtypes
        out.read_by_id = False
        out.elem_ids = _element_id_map(meta)
        return out
    return m


def _field_ids(meta: dict) -> dict | None:
    """{logical column: parquet field id} when the table uses ID-mode
    column mapping (``delta.columnMapping.id`` field metadata), else
    None. Id-mode tables come from Iceberg conversions: their parquet
    files carry arbitrary column NAMES, and resolution is by the
    field_id stamped in the parquet schema."""
    mode = (meta.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none"
    )
    if mode != "id":
        return None
    fields = json.loads(meta["schemaString"])["fields"]
    for f in fields:
        _idmode_validate_shape(f.get("type"), f["name"])
    return {
        f["name"]: int((f.get("metadata") or {})["delta.columnMapping.id"])
        for f in fields
    }


def _idmode_validate_shape(jtype, path: str) -> None:
    """Recursive id-mode shape check (r13 nested structs; r14 structs
    BELOW array/map levels — the last id-mode refusal). Every struct
    field at any depth — including inside list elements and map
    keys/values — must carry ``delta.columnMapping.id``: StructFields
    exist (and carry metadata) below repeated levels too, and Spark 4's
    parquet field-id machinery both stamps and resolves them there
    (verified empirically; the streaming feed's pyarrow alignment
    recurses the same way). Only a struct field MISSING its id is
    refused."""
    if not isinstance(jtype, dict):
        return
    t = jtype.get("type")
    if t == "struct":
        for f in jtype["fields"]:
            if "delta.columnMapping.id" not in (f.get("metadata") or {}):
                raise ValueError(
                    f"id-mode column mapping: nested field "
                    f"{path}.{f['name']} carries no delta.columnMapping.id"
                )
            _idmode_validate_shape(f.get("type"), f"{path}.{f['name']}")
    elif t == "array":
        _idmode_validate_shape(jtype["elementType"], f"{path}.element")
    elif t == "map":
        _idmode_validate_shape(jtype["keyType"], f"{path}.key")
        _idmode_validate_shape(jtype["valueType"], f"{path}.value")


def _idmode_nested_type(jtype, physical: bool):
    """An id-mode field's JSON type rewritten for the parquet boundary:
    every nested struct field gains ``parquet.field.id`` metadata (the
    resolution key), named PHYSICALLY for the write/staging cast target
    or LOGICALLY for the read schema (field-id resolution makes read
    names advisory, and keeping them logical means the scanned frame
    needs no nested rename-back)."""
    if not isinstance(jtype, dict):
        return jtype
    t = jtype.get("type")
    if t == "struct":
        fields = []
        for f in jtype["fields"]:
            md = f.get("metadata") or {}
            fields.append({
                "name": md.get("delta.columnMapping.physicalName", f["name"])
                if physical else f["name"],
                "type": _idmode_nested_type(f["type"], physical),
                "nullable": f.get("nullable", True),
                "metadata": {
                    "parquet.field.id": int(md["delta.columnMapping.id"])
                },
            })
        return {"type": "struct", "fields": fields}
    if t == "array":
        return {
            **jtype,
            "elementType": _idmode_nested_type(jtype["elementType"], physical),
        }
    if t == "map":
        return {
            **jtype,
            "keyType": _idmode_nested_type(jtype["keyType"], physical),
            "valueType": _idmode_nested_type(jtype["valueType"], physical),
        }
    return jtype


def _assign_compat_element_ids(meta: dict) -> dict:
    """Fill missing ``parquet.field.nested.ids`` entries for every
    array/map level in the schema (any struct depth), advancing
    ``delta.columnMapping.maxColumnId`` — the icebergCompat duty
    delta-spark performs when enabling/evolving: Iceberg addresses list
    element and map key/value nodes by field id, and those nodes have
    no StructField to ride ``delta.columnMapping.id`` on. Returns the
    (possibly identical) meta."""
    config = dict(meta.get("configuration") or {})
    max_id = int(config.get("delta.columnMapping.maxColumnId", 0))
    changed = False

    def phys(f):
        return (f.get("metadata") or {}).get(
            "delta.columnMapping.physicalName", f["name"]
        )

    def fix_field(f):
        nonlocal max_id, changed
        needed = _elem_id_paths(f.get("type"), phys(f))
        nf = dict(f)
        if needed:
            md = dict(f.get("metadata") or {})
            ids = dict(md.get(PARQUET_NESTED_IDS_KEY) or {})
            for p in needed:
                if p not in ids:
                    max_id += 1
                    ids[p] = max_id
                    changed = True
            md[PARQUET_NESTED_IDS_KEY] = ids
            nf["metadata"] = md
        nf["type"] = fix_type(f.get("type"))
        return nf

    def fix_type(t):
        if not isinstance(t, dict):
            return t
        k = t.get("type")
        if k == "struct":
            return {**t, "fields": [fix_field(sf) for sf in t["fields"]]}
        if k == "array":
            return {**t, "elementType": fix_type(t["elementType"])}
        if k == "map":
            return {
                **t,
                "keyType": fix_type(t["keyType"]),
                "valueType": fix_type(t["valueType"]),
            }
        return t

    fields = [fix_field(f) for f in json.loads(meta["schemaString"])["fields"]]
    if not changed:
        return meta
    out = dict(meta)
    out["schemaString"] = json.dumps({"type": "struct", "fields": fields})
    config["delta.columnMapping.maxColumnId"] = str(max_id)
    out["configuration"] = config
    return out


def _element_id_map(meta: dict) -> dict[str, int]:
    """Flat {full physical dotted path: id} of every declared repeated-
    node id — the staging stamper's lookup while it walks a staged
    file's arrow schema. Empty when the schema declares none."""
    out: dict[str, int] = {}

    def phys(f):
        return (f.get("metadata") or {}).get(
            "delta.columnMapping.physicalName", f["name"]
        )

    def walk_field(f, parent):
        md = f.get("metadata") or {}
        for rel, fid in (md.get(PARQUET_NESTED_IDS_KEY) or {}).items():
            out[parent + rel] = int(fid)
        walk_type(f.get("type"), parent + phys(f))

    def walk_type(t, base):
        if not isinstance(t, dict):
            return
        k = t.get("type")
        if k == "struct":
            for sf in t["fields"]:
                walk_field(sf, base + ".")
        elif k == "array":
            walk_type(t["elementType"], base + ".element")
        elif k == "map":
            walk_type(t["keyType"], base + ".key")
            walk_type(t["valueType"], base + ".value")

    for f in json.loads(meta["schemaString"])["fields"]:
        walk_field(f, "")
    return out


def _arrow_schema_ids_complete(sch) -> bool:
    """Is every addressable node of this arrow schema id-stamped —
    struct fields at any depth AND list element / map key/value nodes
    (the r14 icebergCompat duty)? Used by the enable pass to decide
    which live files the REORG must rewrite."""
    import pyarrow as pa

    def fok(fld):
        if (fld.metadata or {}).get(b"PARQUET:field_id") is None:
            return False
        return tok(fld.type)

    def tok(typ):
        if pa.types.is_list(typ) or pa.types.is_large_list(typ):
            return fok(typ.value_field)
        if pa.types.is_map(typ):
            return fok(typ.key_field) and fok(typ.item_field)
        if pa.types.is_struct(typ):
            return all(fok(typ.field(i)) for i in range(typ.num_fields))
        return True

    return all(fok(sch.field(i)) for i in range(len(sch)))


def _stamp_element_ids_file(path_str: str, elem_ids: dict[str, int]) -> bool:
    """Stamp declared repeated-node field ids into one staged parquet
    file's footer (Spark's writer rides StructField metadata, which
    list/map element nodes do not have — only pyarrow can place these).
    Rewrites the file in place iff its schema contains a list/map node
    missing a declared id; returns whether it rewrote. Local-filesystem
    only — the same constraint (and path normalization) as
    :func:`delta_log._footer_stats`; at cluster scale this pass would
    ride the same distributed rewrite REORG uses."""
    import pyarrow as pa
    import pyarrow.parquet as pq_

    if path_str.startswith("file:"):
        local = "/" + path_str.split(":", 1)[1].lstrip("/")
    else:
        local = path_str
    if not os.path.exists(local):
        return False
    sch = pq_.read_schema(local)
    changed = [False]

    def with_id(fld, path):
        fld = fld.with_type(fix_type(fld.type, path))
        fid = elem_ids.get(path)
        if fid is not None and (
            (fld.metadata or {}).get(b"PARQUET:field_id") is None
        ):
            md = dict(fld.metadata or {})
            md[b"PARQUET:field_id"] = str(fid).encode()
            fld = fld.with_metadata(md)
            changed[0] = True
        return fld

    def fix_type(typ, path):
        if pa.types.is_list(typ) or pa.types.is_large_list(typ):
            return pa.list_(with_id(typ.value_field, path + ".element"))
        if pa.types.is_map(typ):
            return pa.map_(
                with_id(typ.key_field, path + ".key"),
                with_id(typ.item_field, path + ".value"),
            )
        if pa.types.is_struct(typ):
            return pa.struct(
                [
                    with_id(typ.field(i), path + "." + typ.field(i).name)
                    for i in range(typ.num_fields)
                ]
            )
        return typ

    fields = [with_id(sch.field(i), sch.field(i).name) for i in range(len(sch))]
    if not changed[0]:
        return False
    t = pq_.read_table(local)
    t = t.cast(pa.schema(fields, metadata=sch.metadata))
    pq_.write_table(t, local, compression="zstd")
    # the rewrite invalidates Hadoop LocalFS's checksum sidecar — a
    # stale .crc makes every later Spark read fail with
    # ChecksumException, so drop it
    crc = os.path.join(
        os.path.dirname(local), f".{os.path.basename(local)}.crc"
    )
    if os.path.exists(crc):
        os.remove(crc)
    return True


#: Staged-file count at or above which the icebergCompat repeated-node
#: stamp runs as a distributed Spark job instead of a driver loop. A
#: Spark job costs ~0.1-0.3 s of fixed overhead, so tiny commits (the
#: common case) stay driver-side; a bulk backfill/enable-rewrite with
#: hundreds of staged files fans the per-file read+write out to
#: executors — the same REORG-shaped distribution OPTIMIZE uses.
STAMP_DISTRIBUTE_MIN_FILES = 8


def _stamp_and_size(uri: str, elem_ids: dict[str, int]) -> int:
    """Stamp one staged file (if its repeated nodes lack ids) and
    return its current ON-DISK size; ``-2`` when the file is not
    visible on this host. Reporting the on-disk size even when this
    attempt did NOT rewrite (ids already present) makes the stamp
    retry-safe: a re-run task — or the driver fallback after a
    partially-successful distributed job — still records the rewritten
    size instead of resurrecting the stale pre-rewrite add.size."""
    local = uri
    if local.startswith("file:"):
        local = "/" + local.split(":", 1)[1].lstrip("/")
    if not os.path.exists(local):
        return -2
    _stamp_element_ids_file(uri, elem_ids)
    return os.path.getsize(local)


def _stamp_element_ids_batch(
    spark, uris: list[str], elem_ids: dict[str, int]
) -> dict[str, int]:
    """Stamp declared repeated-node ids into MANY staged files; returns
    {uri: on_disk_size} for every reachable file (rewritten or already
    stamped — see :func:`_stamp_and_size` for why both are reported).

    Below `STAMP_DISTRIBUTE_MIN_FILES` this is a driver loop (the
    footer-stats locality stance: staged files of a small commit are
    local metadata-scale work). At or above it, the per-file rewrite
    runs inside Spark tasks via ``mapInPandas`` over the path list —
    the cluster form the r14 driver-side pass was the placeholder for:
    the driver holds only the file LIST (the same driver-scale state
    every Delta writer holds); each executor task reads, re-stamps and
    rewrites its own files, so a bulk compat rewrite scales with the
    cluster, not the driver. Executors resolve paths with the same
    file:-URI normalization as `_stamp_element_ids_file` (the package
    must be importable on executors — the standing constraint shared
    with the delta_feed / shredding kernels). A file an executor
    cannot see (non-shared filesystem) is a per-file failure, not a
    silent no-op: any ``-2`` result routes the whole batch through the
    driver loop, which raises if the file is missing there too — the
    icebergCompat footer-id duty is never silently dropped."""
    if not uris:
        return {}

    def _driver_loop() -> dict[str, int]:
        out = {}
        for u in uris:
            size = _stamp_and_size(u, elem_ids)
            if size == -2:
                raise IOError(
                    f"staged file vanished during element-id stamp: {u}"
                )
            out[u] = size
        return out

    if len(uris) < STAMP_DISTRIBUTE_MIN_FILES or spark is None:
        return _driver_loop()

    eids = dict(elem_ids)

    def _stamp_batches(batches):
        import pandas as pd

        from portfolio_data_pipelines_spark.operators.delta_colmap import (
            _stamp_and_size,
        )

        for b in batches:
            rows = [(u, _stamp_and_size(u, eids)) for u in b["uri"]]
            yield pd.DataFrame(rows, columns=["uri", "size"])

    n_slices = min(len(uris), spark.sparkContext.defaultParallelism)
    try:
        res = (
            spark.createDataFrame([(u,) for u in uris], "uri string")
            .repartition(n_slices)
            .mapInPandas(_stamp_batches, "uri string, size long")
            .collect()
        )
        if any(r["size"] == -2 for r in res):
            missing = [r["uri"] for r in res if r["size"] == -2]
            raise IOError(
                f"{len(missing)} of {len(uris)} staged files not "
                "visible on executors (non-shared filesystem?), e.g. "
                f"{missing[0]}"
            )
    except Exception as exc:  # noqa: BLE001
        import warnings

        # executors that cannot import this package (driver launched
        # without the package on the worker PYTHONPATH) or cannot see
        # the staged files (non-shared FS) fail the distributed pass;
        # the stamp is a correctness duty, so fall back to the driver
        # loop rather than failing the commit — loudly, with the file
        # count, so a 10k-file REORG on a broken cluster image is not
        # a quiet one-liner
        warnings.warn(
            f"distributed element-id stamp over {len(uris)} staged "
            f"files failed ({type(exc).__name__}: {exc}); falling "
            "back to the driver-side loop — ship the package to "
            "executors (and stage on a shared filesystem) to "
            "distribute this pass",
            stacklevel=2,
        )
        return _driver_loop()
    return {r["uri"]: r["size"] for r in res if r["size"] >= 0}


def _dt_from_json_type(jtype):
    """One field's JSON type → Spark DataType (metadata inside nested
    StructFields preserved — that is what the id-stamping rides on)."""
    from pyspark.sql.types import StructType

    wrap = {"type": "struct", "fields": [
        {"name": "_x", "type": jtype, "nullable": True, "metadata": {}}
    ]}
    return StructType.fromJson(wrap).fields[0].dataType


def _idmode_write_types(meta: dict) -> dict:
    """{logical top-level column: staging cast DataType} for the
    NESTED-struct columns of an id-mode table: physical nested names +
    ``parquet.field.id`` on every struct field, so a staged file is
    spec-complete at every level. Flat columns need no cast (the alias
    carries their id) and are absent from the map."""
    out = {}
    for f in json.loads(meta["schemaString"])["fields"]:
        if isinstance(f.get("type"), dict):
            out[f["name"]] = _dt_from_json_type(
                _idmode_nested_type(f["type"], physical=True)
            )
    return out


def _physical_read_schema(meta: dict):
    """The schema to hand the parquet reader for a column-mapped table:
    physical field names, logical types. On an ID-mode table each field
    additionally carries ``parquet.field.id`` metadata so Spark's
    field-id resolution (``spark.sql.parquet.fieldId.read.enabled``)
    matches the files' stamped ids — files whose column NAMES differ
    from every physical name (the Iceberg-conversion case) still
    resolve correctly."""
    from pyspark.sql.types import StructType

    fids = _field_ids(meta)
    doc = json.loads(meta["schemaString"])
    fields = []
    for f in doc["fields"]:
        pf = dict(f)
        pf["name"] = (f.get("metadata") or {}).get(
            "delta.columnMapping.physicalName", f["name"]
        )
        pf["metadata"] = (
            {"parquet.field.id": fids[f["name"]]} if fids else {}
        )
        coll = (f.get("metadata") or {}).get("__COLLATIONS")
        if coll:
            # collations must survive into the scanned frame (dropping
            # them made every compare on the column INDETERMINATE once
            # a collated source joined in — r14 composed fuzz). fromJson
            # keys the map by field PATH, so the leading segment follows
            # the physical rename.
            pf["metadata"]["__COLLATIONS"] = {
                (
                    pf["name"] + k[len(f["name"]):]
                    if k == f["name"] or k.startswith(f["name"] + ".")
                    else k
                ): v
                for k, v in coll.items()
            }
        if fids and isinstance(f.get("type"), dict):
            # id mode, nested struct: resolution is by per-level field
            # id, so nested names stay LOGICAL (the scanned frame then
            # needs no nested rename-back) while each struct field
            # carries its id
            pf["type"] = _idmode_nested_type(f["type"], physical=False)
        fields.append(pf)
    return StructType.fromJson({"type": "struct", "fields": fields})
