"""Delta Lake transaction-log writer/reader (wire format, pure Python).

The Delta protocol is an open spec (delta-io PROTOCOL.md): a table is a
directory of parquet data files plus an ordered ``_delta_log/`` of
NDJSON commit files (one action object per line) — ``protocol``,
``metaData``, ``add``, ``remove`` — with optional parquet checkpoints
referenced by ``_last_checkpoint``. No Delta package is needed to
produce or consume it; this module implements the format directly so
tables written here are readable by any standard Delta reader (
delta-spark, delta-rs, DuckDB delta, Trino), and a plain parquet
directory converts IN PLACE with one metadata-only commit
(``convert_parquet_to_delta``).

Reference behavior: the reference repo's roadmap names Delta/MERGE
(``README.md:204,209``) but ships none; this is the driver-mandated
lakehouse surface.

This module is the WRITE half of the Delta family: staging, commit
(``Txn`` — the one optimistic transaction every commit goes through;
its ``_write_commit`` also owns the checkpoint cadence), log replay,
schema evolution and copy-on-write DML. The rest of the protocol lives in sibling modules that own their
names — import each from the module that defines it:
``delta_protocol`` (feature gates), ``delta_scan`` (the shared read
path + data skipping), ``delta_checkpoint``, ``delta_cdf``,
``delta_merge``, ``delta_alter``, ``delta_maintain``
(OPTIMIZE/RESTORE/VACUUM/…), ``delta_colmap`` (column-mapping physical
schema + icebergCompat stamping), ``delta_dv`` and
``deletion_vectors``. The siblings that call back into this module and
this module import each other as module objects (``from . import
delta_scan``), so names resolve at call time and any of them can be
imported first.

Scale notes:
- A commit is one staging write + per-file renames + ONE small NDJSON
  file — commit cost is O(files in the batch), independent of table
  size, exactly like Delta writers.
- Readers replay ``_last_checkpoint`` + the JSON tail, never the full
  history: O(CHECKPOINT_EVERY) small reads regardless of table age.
- ``remove`` actions tombstone files WITHOUT deleting them, so version
  reads stay valid until a vacuum; the live-file set is a driver-side
  dict keyed by relative path — O(live files), the same bound every
  Delta implementation carries.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import re
import time
import uuid
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import delta_cdf, delta_checkpoint, delta_colmap, delta_dv, delta_scan
from .delta_protocol import (
    _COLLATION_FEATURES,
    _PROTOCOL_ACTION,
    _SUPPORTED_READER_FEATURES,
    _check_append_only,
    _check_iceberg_compat_duties,
    _check_writer_protocol,
    _collation_base,
    _creation_protocol,
    _iceberg_compat_version,
    _schema_uses_ntz,
    _type_contains_variant,
    _unsupported_collations,
    _upgraded_protocol_with,
    _variant_field_split,
)
from .hadoop_io import (
    _hadoop_fs, _local_path, _read_bytes, _write_small_file,
)


class LogState(NamedTuple):
    """Resolved log replay: live adds by relative path, metaData, the
    per-app txn ledger, and tombstones (rel path → deletionTimestamp)."""

    version: int
    adds: dict
    meta: dict | None
    txns: dict
    #: rel path → {"deletionTimestamp": ms, "dataChange": bool}
    removes: dict
    #: the table's protocol action (None only on malformed logs)
    protocol: dict | None = None
    #: domain name -> configuration (json string) from domainMetadata
    #: actions, removed domains dropped
    domain_metadata: dict | None = None
    #: DV .bin rel path -> max deletionTimestamp across ALL tombstones
    #: that referenced it. ``removes`` keeps one entry per DATA path,
    #: so a file tombstoned twice (DV delete then purge) would lose
    #: the earlier .bin's timestamp — vacuum must age each .bin from
    #: this map, keyed by BIN path, or an object store that rewrites
    #: mtimes could reclaim a .bin still needed by in-retention time
    #: travel.
    dv_tombstones: dict | None = None


def _as_str_map(m) -> dict:
    """A map-typed action field as a dict, wherever the action came
    from: JSON commits yield dicts, but checkpoints (all read through
    pyarrow) materialize map columns as lists of (key, value) pairs,
    and some foreign writers as {'key':..,'value':..} structs —
    normalize all three so replay state is always dict-shaped
    (partitionValues lookups and re-checkpointing both depend on
    it)."""
    if not m:
        return {}
    if isinstance(m, dict):
        return m
    out = {}
    for item in m:
        if isinstance(item, dict):
            out[item["key"]] = item["value"]
        else:
            k, v = item
            out[k] = v
    return out


def _log_path(version: int) -> str:
    return f"_delta_log/{version:020d}.json"


# The spec says add/remove ``path`` is an RFC 2396 URI (standard readers
# URL-decode it before resolving against the table root), so the logical
# path must be URI-ENCODED even though the physical file name is the
# hive-escaped form: a partition value "100%" lives on disk under
# ``k=100%25/`` and appears in the log as ``k=100%2525/``. The safe set
# is RFC 2396 pchar + mark (what java.net.URI leaves unescaped), so '='
# in partition dirs stays literal — matching delta-spark's output.
_URI_PATH_SAFE = "/:@&=+$,-_.!~*'()"


def _encode_path(rel: str) -> str:
    from urllib.parse import quote

    return quote(rel, safe=_URI_PATH_SAFE)


def _decode_path(rel: str) -> str:
    from urllib.parse import unquote

    return unquote(rel)


def _normalize_uri(u: str, decode: bool) -> str:
    """One canonical (physical) form for a file location so scan URIs
    and ``{table_root}/{rel}`` compare exactly. ``decode=True`` for
    Spark's ``input_file_name`` output, which is URL-encoded (space →
    %20, a literal ``%`` in a hive-escaped dir → %25); ``decode=False``
    for the table side, where ``rel`` is already the physical name.
    Both collapse ``file:`` authority variants (``file:/p`` /
    ``file:///p``) to a bare ``/p``; other schemes stay verbatim."""
    from urllib.parse import unquote

    if decode:
        u = unquote(u)
    if u.startswith("file:"):
        return "/" + u[len("file:"):].lstrip("/")
    return u


def _warn_if_commit_unsafe(path: str) -> None:
    """Commit exclusivity here relies on create-if-absent, which is
    atomic on HDFS/local/ABFS but NOT on S3(-compatible) stores, where
    Hadoop's ``create(overwrite=false)`` is check-then-act: two racing
    writers can both "win" a version and corrupt the log. Delta solves
    this with an external LogStore (DynamoDB lock / S3 conditional
    writes); this module has none, so object-store roots get a loud
    warning — single-writer deployments are fine, concurrent writers
    must serialize commits externally."""
    scheme = path.split("://", 1)[0] if "://" in path else ""
    if scheme in ("s3", "s3a", "s3n", "gs", "oss", "cos"):
        import warnings

        warnings.warn(
            f"Delta commits to {scheme}:// rely on create-if-absent, which "
            "is not atomic on object stores — concurrent writers to this "
            "table must be serialized externally (Delta's LogStore role).",
            RuntimeWarning,
            stacklevel=4,  # the caller of the operation opening a Txn
        )


def _now_ms() -> int:
    return int(_dt.datetime.now(_dt.timezone.utc).timestamp() * 1000)


def _log_tail(fs, jvm, path: str) -> tuple[list[int], dict | None]:
    """The commit versions a replay needs: the contiguous run from the
    ``_last_checkpoint`` anchor (0 without one) out of
    :func:`_all_commit_versions`, plus the pointer doc (None when
    absent) so a replay starts from the same checkpoint without reading
    it again. The pointer is read BEFORE the listing: a checkpoint that
    lands between the two calls then leaves the pointer older than the
    listing, which still holds its run; the other order could anchor on
    a version the listing never saw and return an empty run."""
    lc = delta_checkpoint._read_last_checkpoint_doc(fs, jvm, path)
    present = set(_all_commit_versions(fs, jvm, path))
    out = []
    v = int(lc["version"]) if lc else 0
    while v in present:
        out.append(v)
        v += 1
    return out, lc


def _all_commit_versions(fs, jvm, path: str) -> list[int]:
    """EVERY commit version whose NDJSON file still exists, from one
    directory listing — the one listing of ``_delta_log``. It also sees
    commits BEFORE the latest checkpoint that log cleanup has not yet
    removed: timestamp resolution and history search this full retained
    range (delta-spark resolves ``timestampAsOf`` against all retained
    commits), while replays take :func:`_log_tail`'s run from the
    checkpoint."""
    lp = _local_path(path)
    if lp is not None:
        try:
            names = os.listdir(f"{lp}/_delta_log")
        except FileNotFoundError:
            return []
    else:
        log_dir = jvm.org.apache.hadoop.fs.Path(f"{path}/_delta_log")
        if not fs.exists(log_dir):
            return []
        names = [st.getPath().getName() for st in fs.listStatus(log_dir)]
    return sorted(
        int(n[:20])
        for n in names
        if len(n) == 25 and n.endswith(".json") and n[:20].isdigit()
    )


def _read_text(fs, jvm, path_str: str) -> str:
    # Local fast path (hadoop_io._local_path): the Hadoop route below
    # costs one py4j round trip PER LINE — a multi-add commit file is
    # hundreds of round trips where open().read() is none.
    lp = _local_path(path_str)
    if lp is not None:
        with open(lp, encoding="utf-8") as f:
            return f.read().rstrip("\n")
    # one buffered transfer instead of a py4j round trip per line (r16
    # verdict #7) — commit files are small, so the whole body rides one
    # call like the local branch's read()
    return _read_bytes(fs, jvm, path_str).decode("utf-8").rstrip("\n")


def _ndjson_actions(text: str) -> list[dict]:
    """The actions of an NDJSON log file (a commit, or a V2 checkpoint
    main), one per non-blank line."""
    return [json.loads(line) for line in text.splitlines() if line.strip()]


def _missing_file(jvm, err: Exception) -> bool:
    """Whether a read failed because its file is absent: a local
    ``FileNotFoundError``, or Hadoop's ``java.io.FileNotFoundException``
    raised through py4j."""
    if isinstance(err, FileNotFoundError):
        return True
    java = getattr(err, "java_exception", None)
    return java is not None and jvm.java.lang.Class.forName(
        "java.io.FileNotFoundException"
    ).isInstance(java)


def _commit_actions(fs, jvm, path: str, version: int) -> list[dict]:
    """The actions of commit ``version``, in file order, with ``add`` /
    ``remove`` / ``cdc`` paths URL-decoded to the physical form replay
    keys on — the one reader of commit files. ``fs=jvm=None`` reads a
    local table without a JVM (the streaming feed's Python workers).
    An absent commit raises ``FileNotFoundError`` naming the version;
    the read itself detects it, so a hit costs no existence probe."""
    try:
        text = _read_text(fs, jvm, f"{path}/{_log_path(version)}")
    except Exception as e:
        if not _missing_file(jvm, e):
            raise
        raise FileNotFoundError(
            f"commit {version} missing from {path}/_delta_log"
        ) from None
    actions = _ndjson_actions(text)
    for action in actions:
        for kind in ("add", "remove", "cdc"):
            if kind in action:
                action[kind]["path"] = _decode_path(action[kind]["path"])
    return actions


def _stats_value(v):
    """Footer statistic → the JSON value the Delta ``stats`` document
    carries: numbers as numbers, dates/timestamps as ISO strings,
    strings as-is; None for types the spec's readers don't skip on."""
    import datetime as dt

    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, (dt.date, dt.datetime)):
        return v.isoformat()
    return None


def _footer_stats(path_str: str) -> dict | None:
    """Per-file stats from the parquet footer (driver-side, one small
    read): numRecords plus per-column minValues/maxValues/nullCount —
    the spec's data-skipping document. None when the path is not
    locally readable (remote FS without a local mount) — stats are
    optional in the spec."""
    import os

    if path_str.startswith("file:"):
        # normalize file:/p, file://p and file:///p alike
        local = "/" + path_str.split(":", 1)[1].lstrip("/")
    else:
        local = path_str
    if not os.path.exists(local):
        return None
    try:
        import pyarrow.parquet as pq

        md = pq.read_metadata(local)
        mins: dict = {}
        maxs: dict = {}
        nulls: dict = {}
        complete: dict = {}
        for rg in range(md.num_row_groups):
            row_group = md.row_group(rg)
            for ci in range(row_group.num_columns):
                col = row_group.column(ci)
                name = col.path_in_schema
                if "." in name:
                    continue  # nested leaves: not skippable here
                st = col.statistics
                if st is None or not st.has_min_max:
                    complete[name] = False
                    continue
                lo, hi = _stats_value(st.min), _stats_value(st.max)
                if lo is None or hi is None:
                    complete[name] = False
                    continue
                complete.setdefault(name, True)
                mins[name] = lo if name not in mins else min(mins[name], lo)
                maxs[name] = hi if name not in maxs else max(maxs[name], hi)
                nulls[name] = nulls.get(name, 0) + int(st.null_count or 0)
        # a column's range is usable only if EVERY row group reported it
        for name, ok in complete.items():
            if not ok:
                mins.pop(name, None)
                maxs.pop(name, None)
                nulls.pop(name, None)
        out = {"numRecords": int(md.num_rows)}
        if mins:
            out["minValues"] = mins
            out["maxValues"] = maxs
            out["nullCount"] = nulls
        return out
    except Exception:
        return None


def _schema_string(df: DataFrame) -> str:
    """Spark's schema JSON is byte-compatible with Delta's
    ``schemaString`` (Delta adopted Spark's type JSON)."""
    return df.schema.json()


def _variant_physical(
    df: DataFrame, shred: dict | None = None
) -> DataFrame:
    """Convert top-level VARIANT columns to Delta's physical form —
    ``struct<value binary, metadata binary>`` carrying the open Variant
    binary encoding — ahead of the parquet write. Spark's own parquet
    writer would emit the new parquet VARIANT logical type, which
    foreign Delta readers (and pyarrow) cannot read; the spec requires
    the plain binary pair. The re-wrap is LOSSLESS and cheap:
    ``VariantVal`` already carries exactly these bytes, so one
    arrow-batched ``mapInPandas`` moves them without re-encoding
    (probed: nulls round-trip as null structs, and reading the struct
    file back under an explicit variant schema restores identical
    binaries). Only variant-bearing frames pay the Python hop —
    everything else returns unchanged.

    ``shred`` ({variant column: scalar spark type}) switches those
    columns to the variantShredding TRIPLE (``metadata``, optional
    ``value``, optional ``typed_value``) per VariantShredding.md's
    top-level scalar shredding: a row whose value IS a scalar of the
    target type stores ``typed_value`` and omits ``value`` (foreign
    engines and stats consumers read the typed column directly); any
    other shape keeps the full binary in ``value``. The decision costs
    one header-byte inspection per row (operators/variant.py
    ``shred_scalar``)."""
    from pyspark.sql.types import (
        BinaryType,
        StructField,
        StructType,
    )

    vcols = [
        f.name
        for f in df.schema.fields
        if f.dataType.typeName() == "variant"
    ]
    if not vcols:
        return df
    nested = [
        f.name
        for f in df.schema.fields
        if f.dataType.typeName() != "variant"
        and _type_contains_variant(json.loads(f.dataType.json()))
    ]
    if nested:
        raise ValueError(
            f"columns {nested} nest variant inside a struct/array/map — "
            "only top-level variant columns are writable; restructure "
            "or store the nested value as a JSON string"
        )
    shred = dict(shred or {})
    unknown_shred = sorted(set(shred) - set(vcols))
    if unknown_shred:
        raise ValueError(
            f"shred_variants names non-variant column(s) {unknown_shred}"
        )
    from pyspark.sql.types import (
        BooleanType, DoubleType, LongType, StringType,
    )

    _typed = {
        "long": LongType(), "double": DoubleType(),
        "boolean": BooleanType(), "string": StringType(),
    }

    def _bad(spec):
        if isinstance(spec, dict):
            # object shredding: {field: scalar type}, at least one field
            return not spec or any(t not in _typed for t in spec.values())
        if isinstance(spec, list):
            # array shredding (r14): a one-element list naming the
            # element scalar type — ["long"] = array-of-long target
            return len(spec) != 1 or spec[0] not in _typed
        return spec not in _typed

    bad_types = sorted(
        f"{c}: {t}" for c, t in shred.items() if _bad(t)
    )
    if bad_types:
        raise ValueError(
            f"unsupported shred spec(s) {bad_types} — supported: a "
            f"scalar type in {sorted(_typed)}, an OBJECT spec "
            "{field: scalar type}, or an ARRAY spec [scalar type]"
        )

    def phys_for(c):
        # shredded columns stage the spec's triple (metadata, value?,
        # typed_value?); plain variant columns the classic pair
        if c in shred:
            spec = shred[c]
            if isinstance(spec, dict):
                # object shredding: typed_value is a group of per-field
                # (value?, typed_value?) groups (VariantShredding.md)
                tv = StructType(
                    [
                        StructField(
                            f,
                            StructType(
                                [
                                    StructField(
                                        "value", BinaryType(), True
                                    ),
                                    StructField(
                                        "typed_value", _typed[t], True
                                    ),
                                ]
                            ),
                            True,
                        )
                        for f, t in sorted(spec.items())
                    ]
                )
            elif isinstance(spec, list):
                # array shredding: typed_value is a LIST of per-element
                # (value?, typed_value?) groups (VariantShredding.md)
                from pyspark.sql.types import ArrayType

                tv = ArrayType(
                    StructType(
                        [
                            StructField("value", BinaryType(), True),
                            StructField(
                                "typed_value", _typed[spec[0]], True
                            ),
                        ]
                    ),
                    False,
                )
            else:
                tv = _typed[spec]
            return StructType(
                [
                    StructField("metadata", BinaryType(), False),
                    StructField("value", BinaryType(), True),
                    StructField("typed_value", tv, True),
                ]
            )
        return StructType(
            [
                StructField("value", BinaryType(), False),
                StructField("metadata", BinaryType(), False),
            ]
        )

    out = StructType(
        [
            # variant columns become the nullable physical group;
            # sibling columns keep their declared nullability so the
            # staged parquet files preserve required-ness for stats
            # consumers
            StructField(
                f.name,
                phys_for(f.name) if f.name in vcols else f.dataType,
                True if f.name in vcols else f.nullable,
            )
            for f in df.schema.fields
        ]
    )

    def conv(batches):
        from .variant import _decode, _encode_value, _metadata_keys, shred_scalar

        _py = {
            "long": lambda x: isinstance(x, int)
            and not isinstance(x, bool),
            "double": lambda x: isinstance(x, float),
            "boolean": lambda x: isinstance(x, bool),
            "string": lambda x: isinstance(x, str),
        }

        def cell_plain(v):
            return (
                None
                if v is None
                else {"value": v.value, "metadata": v.metadata}
            )

        def cell_shred(v, target):
            if v is None:
                return None
            ok, typed = shred_scalar(v.value, target)
            if ok:
                return {
                    "metadata": v.metadata, "value": None,
                    "typed_value": typed,
                }
            return {
                "metadata": v.metadata, "value": v.value,
                "typed_value": None,
            }

        def cell_obj_shred(v, spec):
            # object shredding: decode THIS row against its own
            # metadata dictionary; each declared field shreds into its
            # own (value?, typed_value?) group, non-declared fields
            # re-encode as the top-level residual object (same
            # dictionary — key ids stay valid), non-object rows keep
            # the full binary
            if v is None:
                return None
            if not v.value or (v.value[0] & 3) != 2:  # not an object
                return {
                    "metadata": v.metadata, "value": v.value,
                    "typed_value": None,
                }
            obj = _decode(v.value, v.metadata)
            key_ids = {k: i for i, k in enumerate(_metadata_keys(v.metadata))}
            tv = {}
            for f, t in spec.items():
                if f not in obj:
                    tv[f] = {"value": None, "typed_value": None}  # absent
                elif _py[t](obj[f]):
                    tv[f] = {"value": None, "typed_value": obj[f]}
                else:
                    # field present with a non-matching shape: its own
                    # binary rides the FIELD group, not the residual
                    tv[f] = {
                        "value": _encode_value(obj[f], key_ids),
                        "typed_value": None,
                    }
            resid = {k: x for k, x in obj.items() if k not in spec}
            return {
                "metadata": v.metadata,
                "value": _encode_value(resid, key_ids) if resid else None,
                "typed_value": tv,
            }

        def cell_arr_shred(v, elem_t):
            # array shredding (r14): an ARRAY row stores typed_value as
            # per-element (value?, typed_value?) groups — matching
            # scalars typed, anything else as the element's own binary
            # (row-local metadata dictionary, so key ids stay valid);
            # non-array rows keep the full binary in value
            if v is None:
                return None
            if not v.value or (v.value[0] & 3) != 3:  # not an array
                return {
                    "metadata": v.metadata, "value": v.value,
                    "typed_value": None,
                }
            arr = _decode(v.value, v.metadata)
            key_ids = {k: i for i, k in enumerate(_metadata_keys(v.metadata))}
            tv = []
            for x in arr:
                if _py[elem_t](x):
                    tv.append({"value": None, "typed_value": x})
                else:
                    tv.append(
                        {
                            "value": _encode_value(x, key_ids),
                            "typed_value": None,
                        }
                    )
            return {"metadata": v.metadata, "value": None, "typed_value": tv}

        for pdf in batches:
            for c in vcols:
                if c in shred:
                    t = shred[c]
                    if isinstance(t, dict):
                        pdf[c] = pdf[c].map(
                            lambda v, _t=t: cell_obj_shred(v, _t)
                        )
                    elif isinstance(t, list):
                        pdf[c] = pdf[c].map(
                            lambda v, _t=t[0]: cell_arr_shred(v, _t)
                        )
                    else:
                        pdf[c] = pdf[c].map(
                            lambda v, _t=t: cell_shred(v, _t)
                        )
                else:
                    pdf[c] = pdf[c].map(cell_plain)
            yield pdf

    return df.mapInPandas(conv, out)


def _metadata_action(
    df: DataFrame,
    partition_cols: list[str],
    constraints: dict | None = None,
    generated_cols: dict | None = None,
    identity_cols: dict | None = None,
    identity_hwms: dict | None = None,
    configuration: dict | None = None,
    default_cols: dict | None = None,
) -> dict:
    config = dict(configuration or {})
    for name, expr in (constraints or {}).items():
        # Delta's CHECK-constraint convention: expressions live in the
        # table configuration under delta.constraints.<name>
        config[f"delta.constraints.{name}"] = expr
    schema_str = _schema_string(df)
    _top_var, nested_var = _variant_field_split(schema_str)
    if nested_var:
        # top-level variant columns ARE writable (the staging transform
        # converts them to the physical struct<value,metadata> pair);
        # nested variant can't be re-wrapped column-wise, so it is
        # refused by TYPE (a column merely named 'variant' passes)
        raise ValueError(
            f"columns {nested_var} nest variant inside a struct/array/"
            "map — only top-level variant columns are writable; "
            "restructure or store the nested value as a JSON string"
        )
    if generated_cols or identity_cols or default_cols:
        doc = json.loads(schema_str)
        by_name = {f["name"]: f for f in doc.get("fields", [])}
        unknown = sorted(
            (
                set(generated_cols or {})
                | set(identity_cols or {})
                | set(default_cols or {})
            )
            - set(by_name)
        )
        if unknown:
            raise ValueError(
                f"generated/identity/default column(s) {unknown} not "
                "present in the written frame's schema"
            )
        # column DEFAULT values (allowColumnDefaults writer feature):
        # delta-spark's convention stores the SQL expression in the
        # field's CURRENT_DEFAULT metadata key
        for name, expr in (default_cols or {}).items():
            md = dict(by_name[name].get("metadata") or {})
            md["CURRENT_DEFAULT"] = expr
            by_name[name]["metadata"] = md
        # the spec's generated-column convention: the SQL expression
        # lives in the field's metadata under delta.generationExpression
        for name, expr in (generated_cols or {}).items():
            md = dict(by_name[name].get("metadata") or {})
            md["delta.generationExpression"] = expr
            by_name[name]["metadata"] = md
        # identity columns: delta.identity.* field metadata
        for name, spec in (identity_cols or {}).items():
            md = dict(by_name[name].get("metadata") or {})
            md["delta.identity.start"] = int(spec.get("start", 1))
            md["delta.identity.step"] = int(spec.get("step", 1))
            md["delta.identity.allowExplicitInsert"] = bool(
                spec.get("allow_explicit_insert", False)
            )
            if identity_hwms and name in identity_hwms:
                md["delta.identity.highWaterMark"] = int(
                    identity_hwms[name]
                )
            by_name[name]["metadata"] = md
        schema_str = json.dumps(doc)
    return {
        "metaData": {
            "id": str(uuid.uuid4()),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_str,
            "partitionColumns": partition_cols,
            "configuration": config,
            "createdTime": _now_ms(),
        }
    }


def _generated_exprs(meta: dict | None) -> dict[str, str]:
    """{column: SQL generation expression} from the schemaString's
    field metadata (``delta.generationExpression``) — the spec's
    generated-column form, empty for tables without any."""
    if not meta:
        return {}
    doc = json.loads(meta["schemaString"])
    return {
        f["name"]: f["metadata"]["delta.generationExpression"]
        for f in doc.get("fields", [])
        if isinstance(f.get("metadata"), dict)
        and "delta.generationExpression" in f["metadata"]
    }


def _column_defaults(meta: dict | None) -> dict[str, str]:
    """{column: SQL default expression} from the schemaString's field
    metadata (``CURRENT_DEFAULT`` — delta-spark's allowColumnDefaults
    convention), empty for tables without any."""
    if not meta:
        return {}
    doc = json.loads(meta["schemaString"])
    return {
        f["name"]: f["metadata"]["CURRENT_DEFAULT"]
        for f in doc.get("fields", [])
        if isinstance(f.get("metadata"), dict)
        and "CURRENT_DEFAULT" in f["metadata"]
    }


def _identity_specs(meta: dict | None) -> dict[str, dict]:
    """{column: identity spec} from the schemaString's field metadata
    (``delta.identity.*`` — delta-spark's convention for GENERATED
    ALWAYS/BY DEFAULT AS IDENTITY), empty for tables without any."""
    if not meta:
        return {}
    doc = json.loads(meta["schemaString"])
    out: dict[str, dict] = {}
    for f in doc.get("fields", []):
        md = f.get("metadata") or {}
        if "delta.identity.start" in md or "delta.identity.step" in md:
            hwm = md.get("delta.identity.highWaterMark")
            out[f["name"]] = {
                "start": int(md.get("delta.identity.start", 1)),
                "step": int(md.get("delta.identity.step", 1)),
                "highWaterMark": None if hwm is None else int(hwm),
                "allowExplicitInsert": bool(
                    md.get("delta.identity.allowExplicitInsert", False)
                ),
            }
    return out


def _allocate_identity(
    df: DataFrame, col: str, spec: dict, only_null: bool = False
) -> tuple[DataFrame, int | None]:
    """Assign the next identity values to a batch that omitted ``col``:
    dense, unique, on the ``start + k*step`` lattice, strictly past the
    recorded high-water mark. Returns ``(frame, new_high_water_mark)``.
    The CALLER must have cached ``df`` (this reads it twice: a count
    pass and the numbering pass — the same validated-rows-are-committed
    contract constraint enforcement uses).

    ``only_null=True`` allocates only to rows whose ``col`` IS NULL and
    keeps every non-null value — the MERGE insert branch (matched rows
    already carry their target-inherited values).

    Scale shape: values are computed per input partition from a
    broadcast offset map (one tiny count pass + one running-count
    window PARTITIONED by the physical partition id) — no global
    single-task window, so a wide batch allocates in parallel."""
    from pyspark.sql.window import Window

    start, step = spec["start"], spec["step"]
    hwm = spec["highWaterMark"]
    base = start if hwm is None else hwm + step
    need = F.col(col).isNull() if only_null else F.lit(True)
    tagged = df.withColumn("_id_pid", F.spark_partition_id())
    counts = {
        r["_id_pid"]: r["count"]
        for r in tagged.filter(need).groupBy("_id_pid").count().collect()
    }
    if not counts:
        if only_null:
            return df, None
        return df.withColumn(col, F.lit(None).cast("long")), None
    offsets: dict[int, int] = {}
    acc = 0
    for p in sorted(counts):
        offsets[p] = acc
        acc += counts[p]
    omap = F.create_map(
        *[F.lit(v) for kv in sorted(offsets.items()) for v in kv]
    )
    w = (
        Window.partitionBy("_id_pid")
        .orderBy(F.monotonically_increasing_id())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # running count of NEEDY rows == the dense 0-based allocation index
    # (equals row_number-1 when every row allocates)
    rn = F.sum(F.when(need, F.lit(1)).otherwise(F.lit(0))).over(w) - F.lit(1)
    fresh = (
        F.lit(base).cast("long")
        + F.lit(step).cast("long") * (omap[F.col("_id_pid")] + rn)
    )
    out = (
        tagged.withColumn(
            col,
            F.when(need, fresh).otherwise(F.col(col).cast("long"))
            if only_null
            else fresh,
        )
        .drop("_id_pid")
    )
    return out, base + step * (acc - 1)


def _identity_hwm_advance(spec: dict, observed: int) -> int | None:
    """The new high-water mark after an EXPLICIT insert observed
    ``observed`` as its furthest value (max for positive step, min for
    negative), rounded outward onto the lattice; None when the existing
    mark already covers it."""
    start, step, hwm = spec["start"], spec["step"], spec["highWaterMark"]
    sign = 1 if step > 0 else -1
    cur = hwm if hwm is not None else start - step  # nothing allocated yet
    if sign * observed <= sign * cur:
        return None
    # smallest k with start + k*step at or past observed (ceil division
    # phrased sign-agnostically via floor of the negated quotient)
    k = -((start - observed) * sign // (step * sign))
    return start + k * step


def _meta_with_identity_hwm(meta: dict, hwms: dict[str, int]) -> dict:
    """A metaData action body equal to ``meta`` with the named identity
    columns' ``delta.identity.highWaterMark`` advanced — re-emitted in
    the same commit as the rows it covers, as delta-spark does."""
    doc = json.loads(meta["schemaString"])
    for f in doc.get("fields", []):
        if f["name"] in hwms:
            md = dict(f.get("metadata") or {})
            md["delta.identity.highWaterMark"] = int(hwms[f["name"]])
            f["metadata"] = md
    out = dict(meta)
    out["schemaString"] = json.dumps(doc)
    return out


#: Row tracking (public Delta protocol, "Row Tracking"): every add on
#: a table whose protocol lists the ``rowTracking`` writer feature
#: carries ``baseRowId``/``defaultRowCommitVersion``; a row's FRESH id
#: is baseRowId + its position in the file, and rewrites PRESERVE ids
#: by materializing them into hidden per-file columns named by the
#: table configuration. The high-water mark lives in the
#: ``delta.rowTracking`` metadata domain — the exact plumbing
#: domainMetadata landed in round 9 for.
_ROW_TRACKING_DOMAIN = "delta.rowTracking"
_RT_MAT_ID_KEY = "delta.rowTracking.materializedRowIdColumnName"
_RT_MAT_CV_KEY = (
    "delta.rowTracking.materializedRowCommitVersionColumnName"
)


def _row_tracking_supported(proto: dict | None) -> bool:
    """Is ``rowTracking`` in the protocol's writerFeatures? When it is,
    EVERY commit path has the writer duty of assigning baseRowId /
    defaultRowCommitVersion to its adds, whether or not the table
    property has turned the feature on for readers."""
    return "rowTracking" in ((proto or {}).get("writerFeatures") or [])


def _rt_mat_cols(meta: dict | None) -> tuple[str | None, str | None]:
    """The hidden materialized-column names (physical; not part of the
    schemaString) rewrites persist row ids under, or (None, None)."""
    cfg = (meta or {}).get("configuration") or {}
    return cfg.get(_RT_MAT_ID_KEY), cfg.get(_RT_MAT_CV_KEY)


def _rt_hwm(domains: dict | None) -> int:
    """Current rowIdHighWaterMark from the delta.rowTracking domain
    (-1 when the domain has never been written, per spec)."""
    raw = (domains or {}).get(_ROW_TRACKING_DOMAIN)
    if not raw:
        return -1
    return int(json.loads(raw).get("rowIdHighWaterMark", -1))


def _rt_domain_action(hwm: int) -> dict:
    return {
        "domainMetadata": {
            "domain": _ROW_TRACKING_DOMAIN,
            "configuration": json.dumps({"rowIdHighWaterMark": int(hwm)}),
            "removed": False,
        }
    }


def _rt_assign(
    add_actions: list[dict], hwm: int, commit_version: int
) -> int | None:
    """Writer duty of the rowTracking feature: give every NEW add a
    ``baseRowId`` strictly past the high-water mark and a
    ``defaultRowCommitVersion``. Adds that already carry a baseRowId
    (DV in-place re-adds, RESTORE re-adds) keep it — that is exactly
    what makes row ids stable. Returns the advanced mark, or None when
    nothing was assigned (caller then skips the domain write). Driver
    cost is O(new files); per-file numRecords comes from the stats the
    stager already collected, and a file without them is refused (the
    spec cannot assign fresh ids without the row count)."""
    advanced = hwm
    assigned = False
    for action in add_actions:
        a = action.get("add")
        if a is None or a.get("baseRowId") is not None:
            continue
        stats = a.get("stats")
        n = json.loads(stats).get("numRecords") if stats else None
        if n is None:
            raise ValueError(
                f"cannot assign row ids to {a.get('path')!r}: the add "
                "carries no numRecords stats (row tracking requires "
                "per-file row counts)"
            )
        a["baseRowId"] = advanced + 1
        a["defaultRowCommitVersion"] = int(commit_version)
        advanced += int(n)
        assigned = True
    return advanced if assigned else None


def _rt_finalize_commit(
    st: LogState | None,
    add_actions: list[dict],
    actions: list[dict],
    new_version: int,
    proto: dict | None,
) -> None:
    """The row-tracking step of :meth:`Txn.commit`: when the commit's
    protocol ``proto`` lists rowTracking, assign ids to the new adds
    past ``st``'s high-water mark and append the advanced mark's
    domainMetadata to the SAME commit. No-op otherwise."""
    if not _row_tracking_supported(proto):
        return
    advanced = _rt_assign(
        add_actions, _rt_hwm(st.domain_metadata if st else None), new_version
    )
    if advanced is not None:
        actions.append(_rt_domain_action(advanced))


def _rt_materialize(df: DataFrame, meta: dict, fresh_cv: bool = False):
    """Stage-side half of row-id preservation: rename the read-side
    ``_row_id``/``_row_commit_version`` columns onto the table's hidden
    materialized column names so the rewritten parquet files carry
    them. ``fresh_cv=True`` nulls the commit-version column — rows the
    current commit MODIFIES fall back to the new add's
    defaultRowCommitVersion, exactly the spec's "version that last
    changed the row". Requires the names to be configured (they are,
    from enablement)."""
    mat_id, mat_cv = _rt_mat_cols(meta)
    if not mat_id or not mat_cv:
        raise ValueError(
            "rowTracking protocol feature present but the materialized "
            "column names are missing from the table configuration — "
            "cannot preserve row ids through a rewrite"
        )
    out = df.withColumnRenamed("_row_id", mat_id)
    if fresh_cv:
        out = out.drop("_row_commit_version").withColumn(
            mat_cv, F.lit(None).cast("long")
        )
    else:
        out = out.withColumnRenamed("_row_commit_version", mat_cv)
    return out


def _apply_identity_columns(
    df: DataFrame, specs: dict[str, dict]
) -> tuple[DataFrame, dict[str, int], "DataFrame | None"]:
    """The writer duty for identity columns (spec: legacy writer
    version 6 / ``identityColumns``): an ABSENT column is allocated
    (see :func:`_allocate_identity`); a PROVIDED column is refused
    unless the table declared ``allowExplicitInsert`` (GENERATED BY
    DEFAULT), in which case the high-water mark advances past the
    observed values. Returns ``(frame, {col: new_hwm}, cache_ref)`` —
    ``cache_ref`` is the exact frame object that was cached (the
    caller unpersists it after staging), or None."""
    if not specs:
        return df, {}, None
    hwms: dict[str, int] = {}
    cache_ref = None
    if any(c not in df.columns for c in specs):
        df = df.cache()
        cache_ref = df
    for c, spec in sorted(specs.items()):
        if c not in df.columns:
            df, new_hwm = _allocate_identity(df, c, spec)
            if new_hwm is not None:
                hwms[c] = new_hwm
            continue
        if not spec["allowExplicitInsert"]:
            raise ValueError(
                f"column {c!r} is GENERATED ALWAYS AS IDENTITY — "
                "explicit values are refused (declare "
                "allow_explicit_insert at creation for BY DEFAULT "
                "semantics)"
            )
        agg = F.max(c) if spec["step"] > 0 else F.min(c)
        observed = df.agg(agg.alias("_m")).collect()[0]["_m"]
        if observed is not None:
            adv = _identity_hwm_advance(spec, int(observed))
            if adv is not None:
                hwms[c] = adv
    return df, hwms, cache_ref


def _apply_generated_columns(
    df: DataFrame, meta: dict | None
) -> tuple[DataFrame, bool]:
    """The writer duty for generated columns (spec: legacy writer
    version 4 / ``generatedColumns``): a column ABSENT from the batch
    is computed from its generation expression (cast to the declared
    type); a column the writer PROVIDED must match the expression
    null-safely or the commit is rejected before staging — delta-spark
    semantics for both sides. Cost mirrors CHECK constraints: compute
    is free column expressions; the match check is one filter over the
    BATCH, never the table. Returns ``(frame, did_cache)`` with the
    same explicit-cache contract as :func:`_enforce_constraints`."""
    gens = _generated_exprs(meta)
    if not gens:
        return df, False
    schema = _spark_schema_from_string(meta["schemaString"])
    types = {f.name: f.dataType for f in schema.fields}
    provided: dict[str, str] = {}
    for c, e in sorted(gens.items()):
        if c in df.columns:
            provided[c] = e
        else:
            df = df.withColumn(c, F.expr(e).cast(types[c]))
    # stage in declared column order (generation appends at the end)
    order = [f.name for f in schema.fields if f.name in df.columns]
    rest = [c for c in df.columns if c not in set(order)]
    df = df.select(*order, *rest)
    if not provided:
        return df, False
    violated = None
    for c, e in sorted(provided.items()):
        bad = ~F.col(c).eqNullSafe(F.expr(e).cast(types[c]))
        violated = bad if violated is None else (violated | bad)
    df = df.cache()
    n_bad = df.filter(violated).count()
    if n_bad:
        df.unpersist()
        raise ValueError(
            f"commit violates generated-column expression(s) on {n_bad} "
            "row(s): "
            + "; ".join(f"{c} = {e}" for c, e in sorted(provided.items()))
        )
    return df, True


def _apply_column_defaults(df: DataFrame, meta: dict | None) -> DataFrame:
    """The allowColumnDefaults writer duty (fill-on-omit): a column the
    batch OMITS is filled with its declared DEFAULT expression, cast to
    the declared type; a column the batch provides is taken as-is —
    unlike generated columns, defaults never validate provided values
    (SQL DEFAULT semantics). Free column expressions, no extra pass."""
    defaults = _column_defaults(meta)
    if not defaults:
        return df
    schema = _spark_schema_from_string(meta["schemaString"])
    types = {f.name: f.dataType for f in schema.fields}
    changed = False
    for c, e in sorted(defaults.items()):
        if c not in df.columns:
            df = df.withColumn(c, F.expr(e).cast(types[c]))
            changed = True
    if changed:
        # stage in declared column order (fills append at the end)
        order = [f.name for f in schema.fields if f.name in df.columns]
        rest = [c for c in df.columns if c not in set(order)]
        df = df.select(*order, *rest)
    return df


def _enforce_constraints(
    df: DataFrame, meta: dict | None
) -> tuple[DataFrame, bool]:
    """CHECK constraints (``delta.constraints.*`` in the table
    configuration) gate every commit: a batch holding any row whose
    expression evaluates FALSE is rejected before a byte is staged
    (NULL passes, SQL CHECK semantics). Cost is one combined filter
    over the BATCH — never the table.

    Returns ``(frame_to_stage, did_cache)``: when a constraint actually
    ran, the batch comes back ``.cache()``-ed so the rows validated are
    exactly the rows committed (no check-then-write race on a
    nondeterministic or moving source) and the batch is evaluated once,
    not once per pass. ``did_cache`` is an EXPLICIT flag because
    ``DataFrame.cache()`` returns the same object — an identity
    comparison against the input can never detect the cache, so the
    caller must unpersist if and only if this flag is True."""
    if not meta:
        return df, False
    exprs = {
        k[len("delta.constraints."):]: v
        for k, v in (meta.get("configuration") or {}).items()
        if k.startswith("delta.constraints.")
    }
    if not exprs:
        return df, False
    violated = None
    for expr in exprs.values():
        bad = ~F.coalesce(F.expr(expr), F.lit(True))
        violated = bad if violated is None else (violated | bad)
    df = df.cache()
    n_bad = df.filter(violated).count()
    if n_bad:
        df.unpersist()
        raise ValueError(
            f"commit violates CHECK constraint(s) {sorted(exprs)} on "
            f"{n_bad} row(s): " + "; ".join(
                f"{n}: {e}" for n, e in sorted(exprs.items())
            )
        )
    return df, True


def _not_null_paths(fields: list, prefix: str = "") -> list[str]:
    """Dotted paths of every field the schema declares non-nullable,
    recursing into struct chains (array/map element levels are not
    addressable by a column path and are skipped)."""
    out: list[str] = []
    for f in fields:
        p = f"{prefix}{f['name']}"
        if f.get("nullable") is False:
            out.append(p)
        t = f.get("type")
        if isinstance(t, dict) and t.get("type") == "struct":
            out.extend(_not_null_paths(t["fields"], p + "."))
    return out


def _enforce_not_null(
    df: DataFrame, meta: dict | None, already_cached: bool
) -> tuple[DataFrame, bool]:
    """The spec's column invariant: a field the STORED schema declares
    non-nullable must never receive NULL. ``_json_type_shape`` ignores
    nullability on purpose (mapped-table metadata must not read as type
    changes), so without this check a frame declaring a stored
    non-nullable field as nullable slides through shape comparison and
    stages NULLs external readers are told cannot exist (r13 ADVICE).

    Cost discipline: the batch is only scanned for paths where the
    stored schema says non-nullable AND the incoming frame says
    nullable — when the frame's own schema already guarantees
    non-null (the common case: same writer both times), Spark's type
    system is the proof and no job runs. Inner struct fields pass when
    their parent struct is NULL (the invariant constrains the field
    only where the struct is present)."""
    if not meta:
        return df, False
    stored = _not_null_paths(json.loads(meta["schemaString"])["fields"])
    if not stored:
        return df, False
    frame_fields = json.loads(_schema_string(df))["fields"]
    frame_nn = set(_not_null_paths(frame_fields))

    def frame_paths(fields, prefix=""):
        for f in fields:
            p = f"{prefix}{f['name']}"
            yield p
            t = f.get("type")
            if isinstance(t, dict) and t.get("type") == "struct":
                yield from frame_paths(t["fields"], p + ".")

    present = set(frame_paths(frame_fields))
    check = [p for p in stored if p in present and p not in frame_nn]
    if not check:
        return df, False
    violated = None
    for p in check:
        c = F.col(p).isNull()
        if "." in p:
            c = F.col(p.rsplit(".", 1)[0]).isNotNull() & c
        violated = c if violated is None else (violated | c)
    did_cache = False
    if not already_cached:
        df = df.cache()
        did_cache = True
    n_bad = df.filter(violated).count()
    if n_bad:
        # the commit aborts here, so release the batch cache whether we
        # created it or an earlier duty (constraints/generated) did
        df.unpersist()
        raise ValueError(
            f"commit writes NULL into non-nullable column(s) {check} "
            f"on {n_bad} row(s) — the stored schema declares them NOT "
            "NULL and external readers rely on it"
        )
    return df, did_cache


def _commit_info(
    operation: str,
    params: dict | None = None,
    metrics: dict | None = None,
) -> dict:
    """The spec's ``commitInfo`` action — operation provenance recorded
    at the head of every commit (what ``DESCRIBE HISTORY`` surfaces).
    Informational only: replay ignores it, checkpoints don't carry it
    (per the spec, commitInfo lives in the JSON commits alone).
    ``operationParameters`` and ``operationMetrics`` values are
    strings, as delta-spark writes them."""
    info = {
        "timestamp": _now_ms(),
        "operation": operation,
        "operationParameters": {
            k: v if isinstance(v, str) else json.dumps(v)
            for k, v in (params or {}).items()
        },
        "engineInfo": "portfolio-data-pipelines-spark",
    }
    if metrics is not None:
        info["operationMetrics"] = {k: str(v) for k, v in metrics.items()}
    return {"commitInfo": info}


def _info_of(actions: list[dict]) -> dict | None:
    """The ``commitInfo`` among a commit's actions, or None (foreign
    logs may omit it; the spec only recommends it)."""
    return next((a["commitInfo"] for a in actions if "commitInfo" in a), None)


def _read_commit_info(fs, jvm, path: str, version: int) -> dict | None:
    """The ``commitInfo`` of commit ``version``, or None — also when
    the commit is absent or not valid JSON."""
    try:
        return _info_of(_commit_actions(fs, jvm, path, version))
    except (FileNotFoundError, ValueError):
        return None


def _commit_mtime_ms(fs, jvm, path: str, version: int) -> int:
    """The commit file's modification time in epoch ms."""
    log_file = f"{path}/{_log_path(version)}"
    lp = _local_path(log_file)
    if lp is not None:
        return os.stat(lp).st_mtime_ns // 1_000_000
    return fs.getFileStatus(
        jvm.org.apache.hadoop.fs.Path(log_file)
    ).getModificationTime()


def _commit_ts_ms(
    fs, jvm, path: str, version: int, actions: list[dict] | None = None
) -> int:
    """The commit's time in epoch ms: ``commitInfo.inCommitTimestamp``
    when present (the ICT feature's robust form — object stores may
    rewrite file mtimes on copy/rewrite, silently corrupting
    time-travel resolution), else the commit file's modification time
    (delta-spark's historic behavior, the only signal foreign logs
    without ICT carry). ``actions`` are the commit's already-read
    :func:`_commit_actions`, so the file is not read twice."""
    if actions is None:
        actions = _commit_actions(fs, jvm, path, version)
    info = _info_of(actions) or {}
    if "inCommitTimestamp" in info:
        return int(info["inCommitTimestamp"])
    return _commit_mtime_ms(fs, jvm, path, version)


def _resolve_ict(fs, jvm, path: str, version: int) -> int:
    """The in-commit timestamp for a commit about to be written at
    ``version``: wall-clock now, clamped STRICTLY ABOVE the
    predecessor's ICT — the ICT feature's monotonicity requirement,
    which is what makes timestamp-as-of resolution well defined (file
    mtimes can go backwards; ICTs cannot). Cost: one small read of the
    predecessor commit, O(1) regardless of table size."""
    now = _now_ms()
    if version <= 0:
        return now
    prev = _read_commit_info(fs, jvm, path, version - 1)
    if prev is not None and "inCommitTimestamp" in prev:
        return max(now, int(prev["inCommitTimestamp"]) + 1)
    return now


def _commit_text(actions: list[dict]) -> str:
    """One commit file's content: the spec's NDJSON, one action a line."""
    return "\n".join(json.dumps(a, sort_keys=True) for a in actions)


def _write_commit(
    fs, jvm, path: str, version: int, actions: list[dict],
    st: LogState | None,
) -> None:
    """Serialize ``actions`` as the spec's NDJSON and exclusively create
    commit ``version`` on top of state ``st`` (the state at
    ``version - 1``; None for a table's creation). Every commit carries
    a monotonic ``commitInfo.inCommitTimestamp``, resolved here, not at
    action-build time, because a retry can move the commit to a later
    version whose predecessor differs.

    This path also owns the checkpoint cadence: a commit whose version
    is a positive multiple of ``delta_checkpoint.DELTA_CHECKPOINT_EVERY``
    is checkpointed right after it lands, from ``st`` advanced over
    ``actions`` (version 0, a table's creation or conversion, never
    is). :meth:`Txn.commit` is its one caller."""
    ict = _resolve_ict(fs, jvm, path, version)
    for a in actions:
        if "commitInfo" in a:
            a["commitInfo"]["inCommitTimestamp"] = ict
            break
    _write_small_file(
        fs, jvm, f"{path}/{_log_path(version)}", _commit_text(actions),
        overwrite=False,
    )
    if version > 0 and version % delta_checkpoint.DELTA_CHECKPOINT_EVERY == 0:
        delta_checkpoint._write_checkpoint(
            fs, jvm, path, _apply_actions(_fork(st), _read_back(actions))
        )


def _read_back(actions: list[dict]) -> list[dict]:
    """``actions`` as :func:`_commit_actions` reads them back once
    committed: ``add`` / ``remove`` / ``cdc`` paths URL-decoded."""
    out = []
    for a in actions:
        kind = next(iter(a))
        if kind in ("add", "remove", "cdc"):
            a = {kind: {**a[kind], "path": _decode_path(a[kind]["path"])}}
        out.append(a)
    return out


class DeltaConcurrentModificationError(ValueError):
    """A commit lost its version to a concurrent commit it conflicts
    with (Delta's ConcurrentModificationException). ``version`` and
    ``operation`` name the winning commit. The losing transaction's
    own files are deleted before this is raised; re-read the table and
    run the operation again."""

    def __init__(
        self, path: str, version: int, operation: str | None, what: str
    ):
        self.version = version
        self.operation = operation
        super().__init__(
            f"concurrent {what} at version {version} of {path} "
            f"({operation or 'no commitInfo'}) — re-read the table and "
            "re-commit"
        )


def _blind_append(operation: str, params: dict, actions: list[dict]) -> bool:
    """May a commit that lost its version race retry at the next one?
    Only a blind append: an Append-mode WRITE with no replaceWhere
    predicate that changes neither metaData nor protocol. It references
    no previously-live file, so re-committing it later is sound — the
    property that lets N concurrent appenders all land. Every other
    commit depends on the state it read."""
    return (
        operation in ("WRITE", "STREAMING UPDATE")
        and params.get("mode") == "Append"
        and "predicate" not in params
        and not any("metaData" in a or "protocol" in a for a in actions)
    )


class Txn:
    """One optimistic Delta transaction, the only way a commit is
    written.

    Opening reads one snapshot: the log tail (``tail`` when the caller
    already listed it), one replay into ``st`` and the writer-protocol
    gate. ``version`` is the version it will commit: ``st.version + 1``,
    or 0 on a table with no log (allowed only with ``create=True``;
    otherwise a missing log raises ``FileNotFoundError`` and a log
    without metaData ``ValueError``). Callers build their actions from
    ``st``, stage data files through :meth:`stage`, record any other
    file they write in ``written``, and finish with :meth:`commit`.

    A lost version race follows the optimistic-concurrency rules of the
    Delta Lake paper (Armbrust et al., VLDB 2020), as delta-spark's
    OptimisticTransaction applies them: a blind append
    (:func:`_blind_append`) checks the winning commits and retries at
    the new tip, unless one changed metaData or protocol (a conflict:
    the batch was validated against the old schema) or recorded this
    commit's own txn id (a twin writer already committed the batch: an
    idempotent skip). Any other loser raises
    :class:`DeltaConcurrentModificationError`. Before a skip or a raise
    the transaction deletes the files it wrote, and only those: staged
    data files, cdc files and ``written`` — never an add that points at
    a file that already existed (RESTORE re-adds, deletion-vector
    re-adds)."""

    def __init__(self, spark, path: str, tail=None, create: bool = False):
        _warn_if_commit_unsafe(path)
        self.t0 = time.monotonic()
        self.spark, self.path = spark, path
        self.fs, _, self.jvm = _hadoop_fs(spark, path)
        self.tail = tail if tail is not None else _log_tail(
            self.fs, self.jvm, path
        )
        self.st: LogState | None = None
        if self.tail[0] or not create:
            self.st = _replay_log(spark, path, None, self.tail)
            _check_writer_protocol(self.st.protocol, self.st.meta)
            if not create and self.st.meta is None:
                raise ValueError(
                    f"Delta log under {path} has no metaData action"
                )
        self.version = self.st.version + 1 if self.st is not None else 0
        #: relative paths of the files this transaction wrote
        self.written: list[str] = []

    def stage(self, df: DataFrame, partition_cols: list, **kw) -> list[dict]:
        """:func:`_stage_commit_files` at this transaction's version;
        the staged files count as written by it."""
        adds = _stage_commit_files(
            self.spark, self.fs, self.jvm, self.path, df, partition_cols,
            self.version, **kw,
        )
        self.written += [_decode_path(a["add"]["path"]) for a in adds]
        return adds

    @staticmethod
    def remove(
        rel: str, data_change: bool = True, deletion_vector: dict | None = None
    ) -> dict:
        """The ``remove`` action tombstoning live file ``rel`` now."""
        rm = {
            "path": _encode_path(rel),
            "deletionTimestamp": _now_ms(),
            "dataChange": data_change,
        }
        if deletion_vector:
            rm["deletionVector"] = deletion_vector
        return {"remove": rm}

    def commit(
        self,
        operation: str,
        params: dict | None = None,
        actions: list[dict] = (),
        staged: list[dict] = (),
        metrics: dict | None = None,
    ) -> int:
        """Write ``commitInfo`` (``operation``, ``params``, ``metrics``
        plus ``numOutputBytes`` of the ``staged`` adds and
        ``executionTimeMs`` since opening), then ``actions``, then the
        ``staged`` adds, with row-tracking ids assigned to the staged
        adds that carry none. Returns the committed version (the tip,
        for an idempotent skip)."""
        params = params or {}
        metrics = {
            **(metrics or {}),
            "numOutputBytes": sum(int(a["add"]["size"]) for a in staged),
            "executionTimeMs": int((time.monotonic() - self.t0) * 1000),
        }
        head = [_commit_info(operation, params, metrics), *actions]
        self.written += [
            _decode_path(a["cdc"]["path"]) for a in head if "cdc" in a
        ]
        proto = next(
            (a["protocol"] for a in reversed(head) if "protocol" in a),
            self.st.protocol if self.st is not None else None,
        )
        fresh = [a for a in staged if a["add"].get("baseRowId") is None]
        for _attempt in range(64):
            body = list(head)
            _rt_finalize_commit(self.st, staged, body, self.version, proto)
            body += staged
            try:
                _write_commit(
                    self.fs, self.jvm, self.path, self.version, body, self.st
                )
                return self.version
            except Exception as race:
                tip = self._lost_to(body)
                if tip is None:
                    raise
                if not self._rebase(tip, operation, params, head, race):
                    return tip
            for a in fresh:
                a["add"].pop("baseRowId", None)
                a["add"].pop("defaultRowCommitVersion", None)
        raise IOError(
            f"commit to {self.path} lost the version race 64 times — "
            "pathological contention"
        )

    def _lost_to(self, body: list[dict]) -> int | None:
        """After a failed write: the log's tip when another writer took
        this transaction's version, else None — the write failed for
        another reason, or our own commit landed and its checkpoint
        failed (never re-commit then)."""
        self.tail = _log_tail(self.fs, self.jvm, self.path)
        latest = self.tail[0]
        if not latest or latest[-1] < self.version:
            return None
        ours = _read_text(
            self.fs, self.jvm, f"{self.path}/{_log_path(self.version)}"
        )
        return None if ours == _commit_text(body) else latest[-1]

    def _rebase(
        self, tip: int, operation: str, params: dict, head: list[dict],
        race: Exception,
    ) -> bool:
        """Apply the conflict rules to the commits that won versions
        ``self.version..tip``: True to retry at ``tip + 1`` (``st``
        advanced over them), False for an idempotent skip; raises
        :class:`DeltaConcurrentModificationError` on a conflict."""
        blind = _blind_append(operation, params, head)
        ours = next((a["txn"] for a in head if "txn" in a), None)
        st = _fork(self.st)
        for v in range(self.version, tip + 1):
            won = _commit_actions(self.fs, self.jvm, self.path, v)
            if not blind:
                self._abort(v, won, "commit", race)
            for act in won:
                if "metaData" in act or "protocol" in act:
                    self._abort(v, won, "metadata change", race)
                twin = act.get("txn")
                if ours is not None and twin is not None and (
                    twin.get("appId") == ours["appId"]
                    and int(twin.get("version", -1)) >= ours["version"]
                ):
                    self._delete_written()
                    return False
            st = _apply_actions(st, won)
        self.st, self.version = st, tip + 1
        return True

    def _abort(self, v: int, won: list[dict], what: str, race: Exception):
        self._delete_written()
        raise DeltaConcurrentModificationError(
            self.path, v, (_info_of(won) or {}).get("operation"), what
        ) from race

    def _delete_written(self) -> None:
        for rel in self.written:
            self.fs.delete(
                self.jvm.org.apache.hadoop.fs.Path(f"{self.path}/{rel}"), False
            )


def _add_metrics(adds: list[dict], removed: int) -> dict:
    """numFiles / numOutputRows / numRemovedFiles from staged add
    actions — delta-spark's core operationMetrics trio. Row counts come
    from the per-file stats already gathered for data skipping."""
    rows = 0
    have_rows = True
    for a in adds:
        st = a["add"].get("stats")
        if not st:
            have_rows = False
            break
        rows += int(json.loads(st).get("numRecords", 0))
    out = {"numFiles": len(adds), "numRemovedFiles": removed}
    if have_rows:
        out["numOutputRows"] = rows
    return out

#: (from, to) Spark-schema-JSON type pairs a schema-evolution commit may
#: apply to an existing column: parquet's widening primitive promotions,
#: which Spark 4's parquet readers apply on the fly (SPARK-40876) so the
#: old files stay readable under the widened schemaString.
_SAFE_UPCASTS = {
    ("byte", "short"),
    ("byte", "integer"),
    ("byte", "long"),
    ("short", "integer"),
    ("short", "long"),
    ("integer", "long"),
    ("float", "double"),
}


def _unescape_partition_value(v: str) -> str | None:
    """Hive/Spark escape partition dir values with %XX sequences and
    write NULLs as ``__HIVE_DEFAULT_PARTITION__``; the log's
    partitionValues carry the LOGICAL value (Delta readers take them
    literally), so decode before logging."""
    import re

    if v == "__HIVE_DEFAULT_PARTITION__":
        return None
    return re.sub(
        "%([0-9A-Fa-f]{2})", lambda m: chr(int(m.group(1), 16)), v
    )


def _relative_files(fs, jvm, root: str, sub: str, partition_cols: list):
    """All parquet files under ``root/sub``, as (relative path from
    root, size, partitionValues dict) — partition values parsed (and
    unescaped) from ``col=value`` directory names along the way."""
    out = []
    lroot = _local_path(root)
    if lroot is not None:
        def lwalk(p, rel_prefix, pvals):
            for name in sorted(os.listdir(p)):
                full = f"{p}/{name}"
                rel = f"{rel_prefix}{name}"
                if os.path.isdir(full):
                    nvals = dict(pvals)
                    if "=" in name:
                        k, v = name.split("=", 1)
                        nvals[k] = _unescape_partition_value(v)
                    lwalk(full, rel + "/", nvals)
                elif name.endswith(".parquet"):
                    out.append((rel, os.path.getsize(full), pvals))

        lwalk(f"{lroot}/{sub}" if sub else lroot, f"{sub}/" if sub else "", {})
        for col in partition_cols:
            for rel, _sz, pv in out:
                if col not in pv:
                    raise ValueError(f"file {rel} missing partition dir {col}=")
        return out
    base = jvm.org.apache.hadoop.fs.Path(f"{root}/{sub}" if sub else root)

    def walk(p, rel_prefix, pvals):
        for st in fs.listStatus(p):
            name = st.getPath().getName()
            rel = f"{rel_prefix}{name}"
            if st.isDirectory():
                nvals = dict(pvals)
                if "=" in name:
                    k, v = name.split("=", 1)
                    nvals[k] = _unescape_partition_value(v)
                walk(st.getPath(), rel + "/", nvals)
            elif name.endswith(".parquet"):
                out.append((rel, st.getLen(), pvals))

    walk(base, f"{sub}/" if sub else "", {})
    for col in partition_cols:
        for rel, _sz, pv in out:
            if col not in pv:
                raise ValueError(f"file {rel} missing partition dir {col}=")
    return out


def _stage_commit_files(
    spark,
    fs,
    jvm,
    path: str,
    df: DataFrame,
    partition_cols: list,
    new_version: int,
    replace_partitions: list | None = None,
    data_change: bool = True,
    l2p: dict | None = None,
    shred_variants: dict | None = None,
) -> list[dict]:
    """Stage ``df`` under a uuid-suffixed dir, rename the part files
    into the table layout with a version-prefixed name, and return the
    add actions (with per-file numRecords stats when locally readable).
    Shared by :func:`write_delta` and :func:`merge_delta` so the commit
    mechanics can never diverge. On a replace_partitions violation
    (rows landing outside the replaced scope — Delta's replaceWhere
    check, validated against the STAGED files so the checked rows are
    exactly the rows that would commit) the staging dir is cleaned up
    and ValueError raised."""
    staging = f"_staging_v{new_version:020d}_{uuid.uuid4().hex[:12]}"
    # variantType write duty: every staging path converts variant
    # columns to the spec's physical struct<value,metadata> pair here
    # (or the variantShredding triple when asked), so no commit path
    # can leak Spark's incompatible parquet VARIANT logical type into
    # the table
    df = _variant_physical(df, shred_variants)
    if l2p:
        # column-mapped table: parquet files carry PHYSICAL names (and
        # so do partition dirs / partitionValues), logical names live
        # only in schemaString. On an id-mode table every mapped column
        # is additionally stamped with its parquet field id (the
        # resolution key id-resolving readers — including this one —
        # use; column names in id-mode files are advisory).
        fids = getattr(l2p, "fids", None)
        if fids:
            spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
        wtypes = getattr(l2p, "wtypes", None) or {}
        df = df.select(
            *[
                (
                    F.col(c).cast(wtypes[c]) if c in wtypes else F.col(c)
                ).alias(
                    l2p.get(c, c), metadata={"parquet.field.id": fids[c]}
                )
                if fids and c in fids
                else F.col(c).alias(l2p.get(c, c))
                for c in df.columns
            ]
        )
        partition_cols = [l2p.get(c, c) for c in partition_cols]
    if partition_cols:
        # Optimized write (r17, guide §6 file sizing): without this a
        # K-partition input fans out up to K files per partition VALUE
        # (the identity mart's 4-way frame × 6 days staged 24 files per
        # commit; every later MERGE discovery and feed read pays per
        # file). The AQE rebalance concentrates each partition value's
        # rows — splitting oversized values at the advisory partition
        # size and coalescing tiny ones — so staged file count tracks
        # data volume, not input parallelism, at any scale. Identity /
        # generated values are already bound to rows by this point, so
        # the extra exchange only moves rows. Without AQE the hint is a
        # no-op, so a plain hash repartition on the same columns keeps
        # the one-writer-per-value property there.
        if spark.conf.get("spark.sql.adaptive.enabled") == "true":
            df = df.hint("rebalance", *partition_cols)
        else:
            df = df.repartition(*partition_cols)
    writer = df.write.mode("overwrite").option("compression", "zstd")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(f"{path}/{staging}")
    staged = _relative_files(fs, jvm, path, staging, partition_cols)
    if replace_partitions is not None:
        # On a column-mapped table partition_cols were just translated
        # to PHYSICAL names, but dict-form scope entries name LOGICAL
        # columns (the caller's view) — translate the keys so a scope on
        # a renamed partition column validates instead of raising
        # "unknown column". Scalar/tuple forms are positional and need
        # no translation.
        scope = replace_partitions
        if l2p:
            scope = [
                {l2p.get(c, c): v for c, v in p.items()}
                if isinstance(p, dict)
                else p
                for p in replace_partitions
            ]
        match = _partition_scope_matcher(scope, partition_cols)
        stray = sorted(
            {
                key
                for _r, _s, pv in staged
                if not match(key := tuple(pv.get(c) for c in partition_cols))
            },
            key=lambda t: tuple((x is None, str(x)) for x in t),
        )
        if stray:
            fs.delete(jvm.org.apache.hadoop.fs.Path(f"{path}/{staging}"), True)
            raise ValueError(
                f"replace_partitions excludes staged partition values {stray} "
                "— the written data must satisfy the replacement predicate"
            )
    adds = []
    now = _now_ms()
    elem_ids = getattr(l2p, "elem_ids", None) if l2p else None
    renamed = []
    lp = _local_path(path)
    for rel, size, pvals in staged:
        # strip the staging prefix; prefix the file name with the
        # version so names stay unique across commits into the same
        # partition directory
        inner = rel[len(staging) + 1 :]
        segs = inner.rsplit("/", 1)
        fname = f"v{new_version:06d}-{segs[-1]}"
        final_rel = (segs[0] + "/" + fname) if len(segs) == 2 else fname
        if lp is not None:
            ldst = f"{lp}/{final_rel}"
            os.makedirs(os.path.dirname(ldst), exist_ok=True)
            if os.path.exists(ldst):
                # HDFS rename-to-existing returns false; keep that contract
                raise IOError(f"rename failed for {rel}")
            os.rename(f"{lp}/{rel}", ldst)
        else:
            src = jvm.org.apache.hadoop.fs.Path(f"{path}/{rel}")
            dst = jvm.org.apache.hadoop.fs.Path(f"{path}/{final_rel}")
            fs.mkdirs(dst.getParent())
            if not fs.rename(src, dst):
                raise IOError(f"rename failed for {rel}")
        renamed.append((final_rel, size, pvals))
    if elem_ids:
        # icebergCompat repeated-node stamp over ALL renamed files at
        # once — driver loop for small commits, distributed Spark job
        # above STAMP_DISTRIBUTE_MIN_FILES (the add actions must carry
        # the REWRITTEN sizes)
        newsizes = delta_colmap._stamp_element_ids_batch(
            spark, [f"{path}/{fr}" for fr, _, _ in renamed], elem_ids
        )
        renamed = [
            (fr, newsizes.get(f"{path}/{fr}", size), pvals)
            for fr, size, pvals in renamed
        ]
    for final_rel, size, pvals in renamed:
        add = {
            # logical (URI-encoded) form of the physical relative path
            "path": _encode_path(final_rel),
            "partitionValues": pvals,
            "size": size,
            "modificationTime": now,
            "dataChange": data_change,
        }
        stats = _footer_stats(f"{path}/{final_rel}")
        if stats is not None:
            # the spec's per-file stats JSON — numRecords feeds the
            # mini-CBO; minValues/maxValues/nullCount feed file-level
            # data skipping here and in standard readers
            add["stats"] = json.dumps(stats, sort_keys=True)
        adds.append({"add": add})
    if lp is not None:
        import shutil

        shutil.rmtree(f"{lp}/{staging}", ignore_errors=True)
    else:
        fs.delete(jvm.org.apache.hadoop.fs.Path(f"{path}/{staging}"), True)
    return adds


def _norm_pcols(partition_col) -> list:
    """``partition_col`` accepts None, one column name, or a LIST of
    names (multi-level partitioning, e.g. ["region", "day"]) — all
    normalized to a list here."""
    if partition_col is None:
        return []
    if isinstance(partition_col, str):
        return [partition_col]
    return list(partition_col)


def _json_type_shape(t):
    """A schema-JSON type with field metadata (and nullability) stripped
    at every level — the structural identity evolution compares. A
    mapped table's nested fields carry delta.columnMapping.* keys the
    incoming DataFrame's schema never has; those must not read as a
    type change."""
    if not isinstance(t, dict):
        return t
    kind = t.get("type")
    if kind == "struct":
        return (
            "struct",
            tuple(
                (f["name"], _json_type_shape(f["type"])) for f in t["fields"]
            ),
        )
    if kind == "array":
        return ("array", _json_type_shape(t["elementType"]))
    if kind == "map":
        return (
            "map",
            _json_type_shape(t["keyType"]),
            _json_type_shape(t["valueType"]),
        )
    return kind


def _validate_additive(prev_fields: list, new_fields: list) -> None:
    """The evolution rules shared by plain and column-mapped tables:
    additive-only (drops/renames go through the mapping APIs on mapped
    tables, or are modeled as adds on plain ones), and same-name
    columns keep their type or take one of parquet's safe widenings —
    accepting any other type change would leave existing files
    unreadable under the rewritten schemaString."""
    prev_by_name = {f["name"]: f for f in prev_fields}
    names = {f["name"] for f in new_fields}
    if not set(prev_by_name) <= names:
        raise ValueError(
            "schema evolution is additive-only: missing columns "
            f"{sorted(set(prev_by_name) - names)} (model drops/"
            "renames as adds — or use drop_column/rename_column on a "
            "column-mapped table)"
        )
    for f in new_fields:
        pf = prev_by_name.get(f["name"])
        if pf is None:
            if f["type"] != "variant" and _type_contains_variant(
                f.get("type")
            ):
                raise ValueError(
                    f"cannot evolve column {f['name']!r} in: it nests "
                    "variant inside a struct/array/map — only top-level "
                    "variant columns are writable"
                )
            continue
        if _json_type_shape(pf["type"]) != _json_type_shape(f["type"]) and not (
            not isinstance(pf["type"], dict)
            and not isinstance(f["type"], dict)
            and (pf["type"], f["type"]) in _SAFE_UPCASTS
        ):
            raise ValueError(
                f"schema evolution cannot change column {f['name']!r} "
                f"from {pf['type']} to {f['type']}: existing files "
                "keep the old parquet type, so the table would become "
                "unreadable. Only the safe numeric widenings "
                "(byte→short→int→long, float→double) are accepted; "
                "model other changes as a new column."
            )


def _widened_fields(prev_meta: dict, evolved_meta: dict) -> list[tuple]:
    """(name, fromType, toType) for every field whose type the
    evolution WIDENED (by construction of ``_validate_additive`` any
    type change that got this far is a safe widening)."""
    prev = {
        f["name"]: f["type"]
        for f in json.loads(prev_meta["schemaString"])["fields"]
    }
    return [
        (f["name"], prev[f["name"]], f["type"])
        for f in json.loads(evolved_meta["schemaString"])["fields"]
        if f["name"] in prev and prev[f["name"]] != f["type"]
    ]


def _record_type_widening(
    evolved_meta: dict, widened: list[tuple], version: int
) -> dict:
    """The typeWidening WRITER duty: each widened field's metadata
    gains a ``delta.typeWidening`` history entry
    ({fromType, toType, tableVersion}) so foreign readers can tell
    which files predate which change — without the history a reader
    cannot distinguish a widened column from a corrupt one."""
    doc = json.loads(evolved_meta["schemaString"])
    by_name = {f["name"]: f for f in doc["fields"]}
    for name, from_t, to_t in widened:
        f = by_name[name]
        md = dict(f.get("metadata") or {})
        hist = list(md.get("delta.typeWidening") or [])
        hist.append(
            {
                "fromType": from_t,
                "toType": to_t,
                "tableVersion": int(version),
            }
        )
        md["delta.typeWidening"] = hist
        f["metadata"] = md
    out = dict(evolved_meta)
    out["schemaString"] = json.dumps(doc)
    return out


def _assign_nested_ids(jtype, bump):
    """Assign ``delta.columnMapping.id`` to every nested struct field
    that lacks one, recursing through array/map element types (the
    columnMapping spec wants ids at every level; delta-spark assigns
    them on mergeSchema-under-mapping). physicalName defaults to the
    field's OWN name — the same convention :func:`enable_iceberg_compat`
    uses — so staged files need no nested renaming in name mode."""
    if not isinstance(jtype, dict):
        return jtype
    t = jtype.get("type")
    if t == "struct":
        out = []
        for f in jtype["fields"]:
            nf = dict(f)
            md = dict(f.get("metadata") or {})
            if "delta.columnMapping.id" not in md:
                md["delta.columnMapping.id"] = bump()
                md.setdefault("delta.columnMapping.physicalName", f["name"])
            nf["metadata"] = md
            nf["type"] = _assign_nested_ids(f["type"], bump)
            out.append(nf)
        return {"type": "struct", "fields": out}
    if t == "array":
        return {
            **jtype,
            "elementType": _assign_nested_ids(jtype["elementType"], bump),
        }
    if t == "map":
        return {
            **jtype,
            "keyType": _assign_nested_ids(jtype["keyType"], bump),
            "valueType": _assign_nested_ids(jtype["valueType"], bump),
        }
    return jtype


def _evolve_meta(df: DataFrame, prev_meta: dict) -> dict | None:
    """The metaData action an incoming frame's schema requires, or None
    when the stored schema already covers it.

    Plain tables: byte-compare schemaStrings; an additive/widening
    change re-emits schemaString from the frame (Delta mergeSchema).

    Column-mapped tables: the frame carries LOGICAL names with no
    mapping metadata, so comparison is on (name, type) pairs; an
    evolution MERGES the stored fields' mapping metadata (ids and
    physical names survive), assigns fresh ids + ``col-<uuid>``
    physical names to genuinely new columns, and bumps
    ``delta.columnMapping.maxColumnId`` — exactly delta-spark's
    mergeSchema-under-mapping behavior."""
    l2p = delta_colmap._logical_to_physical(prev_meta)
    new_json = json.loads(_schema_string(df))["fields"]
    prev_fields = json.loads(prev_meta["schemaString"])["fields"]
    if l2p is None:
        if _schema_string(df) == prev_meta["schemaString"]:
            return None
        prev_shape = [
            (f["name"], _json_type_shape(f["type"])) for f in prev_fields
        ]
        if prev_shape == [
            (f["name"], _json_type_shape(f["type"])) for f in new_json
        ]:
            # same columns, frame just lacks the stored field METADATA
            # (generation expressions etc.) — not an evolution
            return None
        _validate_additive(prev_fields, new_json)
        # carry surviving fields' metadata (delta.generationExpression
        # and friends live there — a frame-derived schema has none)
        prev_md = {
            f["name"]: f["metadata"]
            for f in prev_fields
            if f.get("metadata")
        }
        doc = json.loads(_schema_string(df))
        for f in doc["fields"]:
            if f["name"] in prev_md:
                f["metadata"] = prev_md[f["name"]]
        evolved = dict(prev_meta)
        evolved["schemaString"] = json.dumps(doc)
        return evolved
    prev_shape = [(f["name"], _json_type_shape(f["type"])) for f in prev_fields]
    new_shape = [(f["name"], _json_type_shape(f["type"])) for f in new_json]
    if prev_shape == new_shape:
        return None
    _validate_additive(prev_fields, new_json)
    prev_by_name = {f["name"]: f for f in prev_fields}
    config = dict(prev_meta.get("configuration") or {})
    max_id = int(config.get("delta.columnMapping.maxColumnId", 0))

    def _bump() -> int:
        nonlocal max_id
        max_id += 1
        return max_id

    merged = []
    for f in new_json:
        pf = prev_by_name.get(f["name"])
        if pf is not None:
            nf = dict(pf)
            if _json_type_shape(pf["type"]) != _json_type_shape(f["type"]):
                nf["type"] = f["type"]  # a safe (flat) widening
            # same shape: KEEP the stored type — nested fields carry
            # delta.columnMapping ids/physicalNames the frame lacks
            merged.append(nf)
        else:
            max_id += 1
            nf = dict(f)
            nf["metadata"] = {
                **(f.get("metadata") or {}),
                "delta.columnMapping.id": max_id,
                "delta.columnMapping.physicalName": f"col-{uuid.uuid4().hex[:16]}",
            }
            # nested fields of a NEW column get mapping ids too (the
            # columnMapping spec requires ids at every level; without
            # them an icebergCompat duty check would wedge the commit —
            # r13 ADVICE). physicalName defaults to the field's own name
            # (enable_iceberg_compat's convention), so staging needs no
            # nested rename.
            nf["type"] = _assign_nested_ids(f["type"], _bump)
            merged.append(nf)
    config["delta.columnMapping.maxColumnId"] = str(max_id)
    evolved = dict(prev_meta)
    evolved["schemaString"] = json.dumps(
        {"type": "struct", "fields": merged}
    )
    evolved["configuration"] = config
    return evolved


def _partition_scope_matcher(partitions, pcols: list):
    """Normalize a partition scope into a predicate over a file's
    partition-value key tuple (logical strings, in partition-column
    order). Three spellings, mixable in one list:

    - a scalar — a value of the FIRST partition column (every
      sub-partition under it is in scope), the original single-level
      contract;
    - a tuple/list — values of a PREFIX of the partition columns in
      declaration order, e.g. ``("EU", "2024-01-02")`` scopes exactly
      one (region, day) cell of a two-level table;
    - a dict — ``{col: value}`` for any subset of levels (gaps
      allowed), e.g. ``{"day": "2024-01-02"}`` scopes that day across
      every region.

    Values are compared against the log's LOGICAL partition strings;
    non-string scalars (dates, ints) are str()-ed, which matches how
    the writer derives partitionValues. None matches a null partition."""

    def _norm(v):
        return v if (v is None or isinstance(v, str)) else str(v)

    specs: list[tuple] = []
    for p in partitions:
        if isinstance(p, dict):
            unknown = sorted(set(p) - set(pcols))
            if unknown:
                raise ValueError(
                    f"partition scope names unknown column(s) {unknown}; "
                    f"table is partitioned by {pcols}"
                )
            specs.append(
                tuple((pcols.index(c), _norm(v)) for c, v in p.items())
            )
        elif isinstance(p, (tuple, list)):
            if len(p) > len(pcols):
                raise ValueError(
                    f"partition scope tuple {p!r} is longer than the "
                    f"partition columns {pcols}"
                )
            specs.append(tuple((i, _norm(v)) for i, v in enumerate(p)))
        else:
            specs.append(((0, _norm(p)),))

    def match(key: tuple) -> bool:
        return any(all(key[i] == v for i, v in spec) for spec in specs)

    return match


def write_delta(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    partition_col=None,
    mode: str = "append",
    txn: tuple[str, int] | None = None,
    replace_partitions: list[str] | None = None,
    constraints: dict[str, str] | None = None,
    cdf_key_cols: list[str] | None = None,
    generated_cols: dict[str, str] | None = None,
    identity_cols: dict[str, dict] | None = None,
    configuration: dict[str, str] | None = None,
    default_cols: dict[str, str] | None = None,
    shred_variants: dict[str, str] | None = None,
) -> int:
    """Commit ``df`` to the Delta table at ``path``; returns the version.

    ``shred_variants`` ({variant column: "long"|"double"|"boolean"|
    "string", or {field: scalar type} for OBJECT shredding}) stages
    those columns in the variantShredding TRIPLE per
    VariantShredding.md. Scalar form: rows whose value is a scalar of
    the target type store ``typed_value``, others keep the full
    binary. Object form: each declared field gets its own
    (value?, typed_value?) group (typed on match, field-level binary
    on shape mismatch, both-null when absent) and non-declared fields
    re-encode as the top-level residual against the row's own
    metadata dictionary; non-object rows keep the full binary. A creation commit declares the
    ``variantShredding`` feature + ``delta.enableVariantShredding``;
    appends require the table to already declare it. Shredding is
    per-file per spec — other commit paths (MERGE/OPTIMIZE rewrites)
    legally stage the plain pair.

    ``configuration`` ({key: value}, table-creation commit only) sets
    table properties in the metaData action — e.g. ``{"delta.appendOnly":
    "true"}`` (enforced by every row-deleting path here) or
    ``{"delta.enableChangeDataFeed": "true"}`` (the creation-time
    equivalent of :func:`enable_change_data_feed`; the protocol is
    raised to its writer level). ``delta.constraints.*`` and
    ``delta.columnMapping.*`` keys are refused — use the dedicated
    parameters/functions, which validate what the raw keys would not.

    ``identity_cols`` ({column: {"start": 1, "step": 1,
    "allow_explicit_insert": False}}, table-creation commit only)
    declares Delta IDENTITY columns (``delta.identity.*`` field
    metadata, legacy writer version 6): every commit that omits the
    column is allocated dense unique values on the start/step lattice
    strictly past the recorded high-water mark, and the mark advances
    in the SAME commit's metaData — so concurrent readers never see
    rows beyond the declared mark. Batches that provide values are
    refused unless ``allow_explicit_insert`` (GENERATED BY DEFAULT
    semantics), in which case the mark advances past the observed
    values. Allocation is per-input-partition (broadcast offset map +
    partition-local row_number), never a single-task global window.

    ``generated_cols`` ({column: sql_expr}, table-creation commit only)
    declares Delta GENERATED ALWAYS AS columns: the expression is
    recorded in the field's ``delta.generationExpression`` metadata and
    the protocol carries writer version 4 (the spec's legacy level for
    the feature). Every subsequent commit — appends, overwrites, MERGE
    sources, UPDATE rewrites, stream-sink batches — COMPUTES the column
    when the batch omits it and REJECTS the batch when a provided value
    disagrees with the expression (null-safe), so the column can never
    drift from its definition. Partitioning on a generated column is
    the canonical use: ``{"day": "CAST(ts AS DATE)"}`` + ``partition_col
    ="day"`` gives hive-grain layout while readers keep querying ``ts``
    — :func:`read_delta` derives partition bounds from ``ts``
    predicates through the expression (see
    :func:`_derived_partition_bounds`), which at 100 TB turns a
    timestamp-range query from a full file listing into the few
    partitions it touches.

    ``partition_col`` may be one column name or a LIST of names
    (multi-level Hive layout, e.g. ``["region", "day"]`` →
    ``region=R/day=D/``); partitionValues in the log carry every
    level.

    ``mode="append"`` adds files; ``mode="overwrite"`` adds files AND
    tombstones every previously-live file with ``remove`` actions (the
    physical files stay, so older versions remain readable — Delta's
    time-travel contract). Data is staged under ``_staging_v{N}`` and
    renamed into place so the commit attributes exactly its own files;
    the NDJSON commit file is created exclusively (create-if-absent), so
    a concurrent writer racing for the same version fails cleanly
    rather than corrupting the log.

    ``txn=(appId, version)`` records the spec's transaction action and
    makes the commit IDEMPOTENT per app: a commit whose version is at or
    below the app's highest recorded txn is skipped (returns the current
    table version, writes nothing) — the ledger Structured Streaming
    sinks use for exactly-once delivery across restarts
    (:func:`delta_stream_sink`).

    ``default_cols`` ({column: sql_expr}, table-creation commit only)
    declares column DEFAULT values (the ``allowColumnDefaults`` writer
    feature, ``CURRENT_DEFAULT`` field metadata): every later commit
    that OMITS the column — appends, MERGE sources, stream-sink
    batches — fills it with the expression cast to the declared type;
    provided values are taken as-is (SQL DEFAULT semantics — no
    validation, unlike generated columns). The creation batch must
    carry the column (its declared type comes from the frame). Use
    :func:`set_column_default` / :func:`drop_column_default` to alter
    defaults on an existing table.

    ``constraints`` ({name: sql_expr}, table-creation commit only)
    records Delta CHECK constraints in the table configuration
    (``delta.constraints.<name>``); every subsequent commit — appends,
    overwrites, MERGE sources, stream-sink batches — is rejected if any
    row evaluates an expression to FALSE (NULL passes, SQL CHECK
    semantics). Enforcement costs one filter over the batch.

    ``replace_partitions`` (overwrite mode only) scopes the tombstones
    to the named partition values — Delta's ``replaceWhere``: only
    previously-live files whose partition values match the scope are
    removed, other partitions keep their files. Scope entries are
    scalars (first-column values), PREFIX TUPLES in partition-column
    order (``("EU", "2024-01-02")`` replaces one cell of a
    ``["region", "day"]`` table), or dicts ``{col: value}`` over any
    subset of levels — see :func:`_partition_scope_matcher`. This is
    the day-level idempotent re-run contract (the reference's
    delete-day-then-insert, ``etl/load/postgres_loader.py``) on the
    Delta log.

    ``cdf_key_cols``: on a CDF-enabled table
    (:func:`enable_change_data_feed`), an overwrite that tombstones
    files materializes its row-level changes as ``_change_data`` files
    — keyed NET changes (update pre/post pairs for keys on both sides)
    when ``cdf_key_cols`` names the row identity, else the protocol's
    overwrite semantics: every removed row a ``delete``, every written
    row an ``insert``. Appends never need it (their changes derive
    from the add actions alone)."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"unsupported mode {mode!r}")
    if shred_variants:
        non_var = sorted(
            c for c in shred_variants
            if c not in df.columns
            or df.schema[c].dataType.typeName() != "variant"
        )
        if non_var:
            raise ValueError(
                f"shred_variants column(s) {non_var} are not VARIANT "
                "columns of the batch"
            )
    pcols = _norm_pcols(partition_col)
    if replace_partitions is not None and (mode != "overwrite" or not pcols):
        raise ValueError(
            "replace_partitions requires mode='overwrite' and a "
            "partitioned table"
        )
    tx = Txn(spark, path, create=True)
    st = tx.st
    prev_adds: dict[str, dict] = {}
    prev_meta: dict | None = None
    prev_txns: dict[str, int] = {}
    if st is not None:
        prev_adds, prev_meta, prev_txns = st.adds, st.meta, st.txns
        if shred_variants:
            feats = set((st.protocol or {}).get("writerFeatures") or [])
            if not feats & {"variantShredding", "variantShredding-preview"}:
                raise ValueError(
                    "shred_variants requires the table to declare the "
                    "variantShredding feature — create the table with "
                    "shred_variants to declare it"
                )
    if txn is not None and prev_txns.get(txn[0], -1) >= txn[1]:
        # this (appId, version) already committed — exactly-once replay
        return st.version
    creation_meta: dict | None = None
    if prev_meta is not None:
        _check_append_only(prev_meta, mode == "overwrite")
        expected = prev_meta.get("partitionColumns", [])
        if expected != pcols:
            raise ValueError(
                f"table is partitioned by {expected}, commit specifies "
                f"{pcols} — a mismatched commit would corrupt partition "
                "metadata"
            )
        if constraints:
            raise ValueError(
                "constraints are declared at table creation (version 0) "
                "— this table already exists; use add_check_constraint "
                "(which validates existing rows first, as Delta does)"
            )
        if generated_cols or identity_cols or configuration or default_cols:
            raise ValueError(
                "generated_cols / identity_cols / configuration / "
                "default_cols are declared at table creation (version 0) "
                "— this table already exists (use set_column_default to "
                "alter defaults)"
            )
        # allowColumnDefaults duty: fill omitted DEFAULT columns before
        # any other per-commit duty sees the frame
        df = _apply_column_defaults(df, prev_meta)
        df, id_hwms, id_cache_ref = _apply_identity_columns(
            df, _identity_specs(prev_meta)
        )
        df, gen_cached = _apply_generated_columns(df, prev_meta)
        staged, staged_cached = _enforce_constraints(df, prev_meta)
        staged_cached = staged_cached or gen_cached
        staged, nn_cached = _enforce_not_null(
            staged, prev_meta, already_cached=staged_cached
        )
        staged_cached = staged_cached or nn_cached
    else:
        if shred_variants:
            # declare the shredding duty at creation: the feature rides
            # the protocol, the property records intent (delta-spark's
            # convention)
            configuration = dict(configuration or {})
            configuration.setdefault("delta.enableVariantShredding", "true")
        bad_keys = [
            k
            for k in (configuration or {})
            if k.startswith("delta.constraints.")
            or k.startswith("delta.columnMapping")
        ]
        if bad_keys:
            raise ValueError(
                f"configuration keys {bad_keys} are managed by dedicated "
                "APIs (constraints=..., enable_column_mapping) — raw "
                "values would skip their validation"
            )
        if _iceberg_compat_version({"configuration": configuration or {}}):
            # a creation-time compat declaration would pass this commit
            # (the writer gate checks the PRIOR meta, and there is none)
            # and wedge every later one: compat requires column mapping
            # + per-field ids, which only enable_iceberg_compat assigns
            # (r13 ADVICE).
            raise ValueError(
                "delta.enableIcebergCompatV1/V2 cannot be declared at "
                "table creation — create the table, enable_column_mapping, "
                "then enable_iceberg_compat (which assigns field ids, "
                "declares the writer feature, and rewrites id-less files)"
            )
        if str((configuration or {}).get(
            "delta.enableRowTracking", ""
        )).lower() == "true":
            # assign the hidden materialized-column names at creation
            # (delta-spark does the same): rewrites persist row ids
            # under them, and the names must never collide with user
            # columns — hence the uuid suffix
            configuration = dict(configuration)
            configuration.setdefault(
                _RT_MAT_ID_KEY, f"_row-id-col-{uuid.uuid4()}"
            )
            configuration.setdefault(
                _RT_MAT_CV_KEY, f"_row-commit-version-col-{uuid.uuid4()}"
            )
        id_hwms = {}
        id_cache_ref = None
        gen_cached = False
        if identity_cols:
            specs: dict[str, dict] = {}
            for c, spec in sorted(identity_cols.items()):
                step = int(spec.get("step", 1))
                if step == 0:
                    raise ValueError(
                        f"identity column {c!r}: step must be non-zero"
                    )
                specs[c] = {
                    "start": int(spec.get("start", 1)),
                    "step": step,
                    "highWaterMark": None,
                    "allowExplicitInsert": bool(
                        spec.get("allow_explicit_insert", False)
                    ),
                }
            df, id_hwms, id_cache_ref = _apply_identity_columns(df, specs)
        if generated_cols:
            # compute absent generated columns BEFORE deriving the
            # schema, then validate any the caller provided through the
            # shared duty (creation batches follow the same contract
            # every later commit will)
            for c in sorted(generated_cols):
                if c not in df.columns:
                    df = df.withColumn(c, F.expr(generated_cols[c]))
        if default_cols:
            missing_defaults = sorted(set(default_cols) - set(df.columns))
            if missing_defaults:
                raise ValueError(
                    f"default column(s) {missing_defaults} must be present "
                    "in the CREATION batch (their declared type comes from "
                    "the frame); later appends may omit them"
                )
            overlap_gen = sorted(
                set(default_cols)
                & (set(generated_cols or {}) | set(identity_cols or {}))
            )
            if overlap_gen:
                raise ValueError(
                    f"column(s) {overlap_gen} cannot be both DEFAULT and "
                    "generated/identity"
                )
            for c in sorted(default_cols):
                # DEFAULT expressions must be constant (SQL/delta-spark
                # rule): planning against a ZERO-column frame rejects
                # any column reference before anything commits
                spark.range(1).select().select(
                    F.expr(default_cols[c])
                ).schema  # noqa: B018 — forces analysis
        if generated_cols or identity_cols or default_cols:
            creation_meta = _metadata_action(
                df, pcols, constraints, generated_cols,
                identity_cols, id_hwms, configuration, default_cols,
            )
            if generated_cols:
                df, gen_cached = _apply_generated_columns(
                    df, creation_meta["metaData"]
                )
        if constraints:
            # enforce BEFORE staging so a rejected creation leaves nothing
            staged, staged_cached = _enforce_constraints(
                df,
                {
                    "configuration": {
                        f"delta.constraints.{n}": e
                        for n, e in constraints.items()
                    }
                },
            )
            staged_cached = staged_cached or gen_cached
        else:
            staged, staged_cached = df, gen_cached

    # An evolving commit's files must be written under the EVOLVED
    # mapping (new columns get their col-<uuid> physical names), so the
    # metaData action is computed before staging.
    evolved_meta = _evolve_meta(df, prev_meta) if prev_meta is not None else None
    widened: list[tuple] = []
    if evolved_meta is not None:
        widened = _widened_fields(prev_meta, evolved_meta)
        if widened and _iceberg_compat_version(prev_meta):
            raise ValueError(
                "icebergCompat tables cannot take type-widening "
                f"evolutions (pre-V3): {widened}"
            )
        if widened:
            # evolution commits never auto-retry to a later version, so
            # tx.version is the final tableVersion of this change
            evolved_meta = _record_type_widening(
                evolved_meta, widened, tx.version
            )
        if _iceberg_compat_version(evolved_meta):
            # re-run the compat duties against the EVOLVED meta before
            # anything is staged: the gate at the top of this function
            # saw only the PRIOR meta, so an evolution adding an
            # array/map column would otherwise commit files Iceberg
            # cannot address and wedge every later commit (r13 ADVICE).
            # New array/map levels first get their repeated-node ids
            # assigned (r14), the same duty enable_iceberg_compat
            # performs — then the check validates completeness.
            evolved_meta = delta_colmap._assign_compat_element_ids(evolved_meta)
            _check_iceberg_compat_duties(
                st.protocol if st is not None else None, evolved_meta
            )
    l2p = (
        delta_colmap._logical_to_physical(evolved_meta or prev_meta)
        if prev_meta
        else None
    )
    try:
        adds = tx.stage(
            staged, pcols,
            replace_partitions=replace_partitions, l2p=l2p,
            shred_variants=shred_variants,
        )
    finally:
        if staged_cached:
            staged.unpersist()
        if id_cache_ref is not None:
            id_cache_ref.unpersist()

    doomed: list[str] = []
    if mode == "overwrite":
        doomed = sorted(prev_adds)
        if replace_partitions is not None:
            match = _partition_scope_matcher(replace_partitions, pcols)
            pv_cols = [l2p.get(c, c) for c in pcols] if l2p else pcols
            doomed = [
                rel
                for rel in doomed
                if match(
                    tuple(
                        prev_adds[rel].get("partitionValues", {}).get(c)
                        for c in pv_cols
                    )
                )
            ]
    # Write-side CDF: an overwrite that actually removes files on a
    # CDF-enabled table records its row-level changes as change files.
    # The diff reads the staged files back (they are final on disk)
    # against the doomed files' rows — keyed net changes when the
    # caller named the row identity, delete+insert full images
    # otherwise. Pure appends derive from add actions and skip this.
    cdc_actions: list[dict] = []
    eff_meta = evolved_meta or prev_meta
    if doomed and delta_cdf._cdf_enabled(eff_meta):
        if cdf_key_cols:
            eff_cols = [
                f.name
                for f in _spark_schema_from_string(
                    eff_meta["schemaString"]
                ).fields
            ]
            bad_keys = [k for k in cdf_key_cols if k not in eff_cols]
            if bad_keys:
                raise ValueError(
                    f"cdf_key_cols {bad_keys} not in table schema {eff_cols}"
                )
        cdc_actions = delta_cdf._maybe_stage_cdc(
            spark, tx.fs, tx.jvm, path, eff_meta,
            delta_scan._read_adds(
                spark, path, {r: prev_adds[r] for r in doomed}, eff_meta
            ),
            delta_scan._read_adds(
                spark, path,
                {_decode_path(a["add"]["path"]): a["add"] for a in adds},
                eff_meta,
            ),
            cdf_key_cols,
            [
                f.name
                for f in _spark_schema_from_string(
                    eff_meta["schemaString"]
                ).fields
            ],
            tx.version, l2p,
        )
    actions: list[dict] = list(cdc_actions)
    if st is None:
        meta_action = (
            creation_meta
            if creation_meta is not None
            else _metadata_action(
                df, pcols, constraints, configuration=configuration
            )
        )
        # the MERGED configuration (creation_meta path and the
        # constraints= param both land in metaData.configuration), so
        # constraint/CDF/rowTracking-driven bumps can't be missed
        actions.append({"protocol": _creation_protocol(
            meta_action["metaData"]["schemaString"],
            generated_cols,
            identity_cols,
            meta_action["metaData"].get("configuration"),
            default_cols,
        )})
        actions.append(meta_action)
    elif id_hwms:
        # identity high-water marks advance in the SAME commit as the
        # rows they cover (composes with an evolving schema)
        actions.append(
            {
                "metaData": _meta_with_identity_hwm(
                    evolved_meta or prev_meta, id_hwms
                )
            }
        )
    elif evolved_meta is not None:
        actions.append({"metaData": evolved_meta})
    if st is not None and evolved_meta is not None:
        # evolution can introduce features the protocol must declare in
        # the SAME commit: timestamp_ntz / variant columns and type
        # widenings
        proto = dict(st.protocol or _PROTOCOL_ACTION["protocol"])
        have = set(proto.get("readerFeatures") or [])
        need = set()
        if _schema_uses_ntz(evolved_meta["schemaString"]):
            need.add("timestampNtz")
        if _variant_field_split(evolved_meta["schemaString"])[0]:
            need.add("variantType")
        if widened:
            need.add("typeWidening")
        if _unsupported_collations(
            evolved_meta, accept={"UTF8_BINARY"}
        ) and not have & _COLLATION_FEATURES:
            # evolution adding a collated column: declare the feature
            # in the same commit (legacy readers would byte-compare)
            need.add("collations")
        if need - have:
            actions.append(
                {"protocol": _upgraded_protocol_with(proto, need - have)}
            )
    if txn is not None:
        actions.append({"txn": {
            "appId": txn[0], "version": txn[1], "lastUpdated": _now_ms(),
        }})
    actions.extend(tx.remove(rel) for rel in doomed)
    return tx.commit(
        "STREAMING UPDATE" if txn is not None else "WRITE",
        {
            "mode": mode.capitalize(),
            **({"partitionBy": pcols} if pcols else {}),
            **(
                {"predicate": replace_partitions}
                if replace_partitions is not None
                else {}
            ),
        },
        actions,
        staged=adds,
        metrics=_add_metrics(adds, len(doomed)),
    )


def _replay_log(
    spark: SparkSession,
    path: str,
    version: int | None,
    tail: tuple[list[int], dict | None] | None = None,
) -> LogState:
    """Replay the log up to ``version`` (latest if None) into a
    :class:`LogState` — live adds, metaData, the per-app txn ledger
    (exactly-once), and tombstones with their deletion timestamps
    (vacuum's retention basis).

    Latest reads start from ``_last_checkpoint`` when present (one small
    JSON + the checkpoint file(s) + the commit tail), never the full
    history; pinned-version reads at or after the checkpoint do the
    same. ``tail`` is a :func:`_log_tail` result the caller already
    holds, so the log is not listed again.

    On top of :func:`_replay_state` it refuses collations the running
    Spark build does not resolve: the engine compares by them, so one
    it cannot honor would silently change string semantics."""
    fs, _, jvm = _hadoop_fs(spark, path)
    st = _replay_state(fs, jvm, path, version, tail)
    declared = set((st.protocol or {}).get("readerFeatures") or ())
    if declared & _COLLATION_FEATURES:
        bad = _unsupported_collations(st.meta)
        if bad:
            raise ValueError(
                f"table declares collation(s) {bad} this Spark build does "
                "not resolve; refusing to read rather than silently "
                "changing string comparison semantics."
            )
    return st


def _replay_state(fs, jvm, path: str, version: int | None,
                  tail: tuple[list[int], dict | None] | None = None,
                  ) -> LogState:
    """:func:`_replay_log` without a session: ``fs=jvm=None`` replays a
    local table (the streaming feed's JVM-less Python workers). The
    reader-feature gate passes declared collations; resolving them
    needs a Spark build, so :func:`_replay_log` checks them."""
    versions, lc = tail if tail is not None else _log_tail(fs, jvm, path)
    if not versions:
        raise FileNotFoundError(f"no _delta_log under {path}")
    tip = versions[-1]
    target = tip if version is None else version
    if target > tip or target < 0:
        raise FileNotFoundError(f"version {target} not in {path}/_delta_log")
    adds: dict[str, dict] = {}
    meta: dict | None = None
    txns: dict[str, int] = {}
    removes: dict[str, int] = {}
    protocol: dict | None = None
    domains: dict[str, str] = {}
    dv_tombs: dict[str, int] = {}
    start = 0
    if lc is not None and lc["version"] <= target:
        rows = delta_checkpoint._read_checkpoint(fs, jvm, path, lc)
        for d in rows:
            if d.get("protocol") and d["protocol"].get("minReaderVersion") is not None:
                protocol = {
                    k: v for k, v in d["protocol"].items() if v is not None
                }
            if d.get("metaData") and d["metaData"].get("id"):
                meta = dict(d["metaData"])
                meta["configuration"] = _as_str_map(
                    meta.get("configuration")
                )
                if meta.get("format"):
                    meta["format"] = {
                        **meta["format"],
                        "options": _as_str_map(
                            meta["format"].get("options")
                        ),
                    }
            if d.get("add") and d["add"].get("path"):
                a = d["add"]
                a["partitionValues"] = _as_str_map(
                    a.get("partitionValues")
                )
                # log paths are URI-encoded; state is keyed physical
                a["path"] = _decode_path(a["path"])
                # the checkpoint's deletionVector column materializes
                # (as None or all-None) for every row; keep it only
                # when real
                dvd = a.get("deletionVector")
                if dvd is None or dvd.get("storageType") is None:
                    a.pop("deletionVector", None)
                else:
                    a["deletionVector"] = {
                        k: v for k, v in dvd.items() if v is not None
                    }
                # rowTracking fields: None-valued columns materialize
                # on non-RT tables — prune them so add dicts compare
                # clean across JSON and checkpoint sources
                for rt_f in ("baseRowId", "defaultRowCommitVersion"):
                    if a.get(rt_f) is None:
                        a.pop(rt_f, None)
                    else:
                        a[rt_f] = int(a[rt_f])
                adds[a["path"]] = a
            if d.get("txn") and d["txn"].get("appId"):
                t = d["txn"]
                txns[t["appId"]] = max(
                    txns.get(t["appId"], -1), int(t["version"])
                )
            if d.get("domainMetadata") and d["domainMetadata"].get("domain"):
                dm = d["domainMetadata"]
                # checkpoints carry only live domains (no removed
                # tombstones), but tolerate foreign ones that do
                if dm.get("removed"):
                    domains.pop(dm["domain"], None)
                else:
                    domains[dm["domain"]] = dm.get("configuration")
            if d.get("remove") and d["remove"].get("path"):
                r = d["remove"]
                r["path"] = _decode_path(r["path"])
                dvd = r.get("deletionVector")
                if dvd is not None and dvd.get("storageType") is None:
                    dvd = None
                elif dvd is not None:
                    dvd = {k: v for k, v in dvd.items() if v is not None}
                removes[r["path"]] = {
                    "deletionTimestamp": int(r.get("deletionTimestamp", 0)),
                    "dataChange": bool(r.get("dataChange", True)),
                    **({"deletionVector": dvd} if dvd else {}),
                }
                _note_dv_tombstone(
                    dv_tombs, dvd, int(r.get("deletionTimestamp", 0))
                )
        start = lc["version"] + 1
    st = LogState(
        start - 1, adds, meta, txns, removes, protocol, domains, dv_tombs
    )
    # a pinned version below the checkpoint replays from commit 0; one
    # that log cleanup removed raises FileNotFoundError from the read
    for v in range(start, target + 1):
        st = _apply_actions(st, _commit_actions(fs, jvm, path, v))
    protocol, meta = st.protocol, st.meta
    if protocol is not None:
        rv = int(protocol["minReaderVersion"])
        mode = ((meta or {}).get("configuration") or {}).get(
            "delta.columnMapping.mode", "none"
        )
        # Reader version 2's feature is COLUMN MAPPING, supported here
        # in ``name`` and ``id`` modes (and trivially ``none``).
        # Reader version 3 switches to FEATURE-GRANULAR negotiation
        # (the table-features protocol): ``readerFeatures`` lists
        # exactly what the table uses, and a reader refuses only
        # genuinely unknown features instead of the whole version —
        # so a DV'd, column-mapped table reads fine while a table
        # using, say, v2Checkpoint is still refused loudly. Reading
        # past an unknown feature would silently produce WRONG rows
        # (e.g. deleted rows resurrected because a deletion vector
        # went unapplied); the spec requires the refusal.
        if rv == 3:
            # the spec REQUIRES a v3 protocol to carry readerFeatures;
            # a log without the list is malformed, and treating it as
            # "no features used" would read a table whose duties are
            # simply unknown — refuse, exactly like an unknown feature
            if "readerFeatures" not in protocol or protocol[
                "readerFeatures"
            ] is None:
                raise ValueError(
                    "table declares reader version 3 but its protocol "
                    "action carries no readerFeatures list — the spec "
                    "requires one; refusing to read a malformed "
                    "feature-granular protocol."
                )
            feats = set(protocol["readerFeatures"])
            # collation features pass here: whether the running Spark
            # build resolves each declared collation (UTF8_BINARY /
            # UTF8_LCASE statically, the bundled ICU set by probe) is
            # _replay_log's check
            unknown = (
                feats - _SUPPORTED_READER_FEATURES - _COLLATION_FEATURES
            )
            if unknown:
                raise ValueError(
                    f"table requires reader features {sorted(unknown)} "
                    "this implementation does not support (supported: "
                    f"{sorted(_SUPPORTED_READER_FEATURES)}). Refusing "
                    "to read rather than silently dropping those "
                    "semantics."
                )
        if rv > 3 or (
            rv in (2, 3) and mode not in ("none", "name", "id")
        ):
            raise ValueError(
                f"table requires Delta reader version {rv} "
                f"(columnMapping.mode={mode!r}); this implementation "
                "supports versions 1-3 with name- or id-mode column "
                "mapping. Refusing to read rather than silently "
                "dropping those semantics."
            )
    return st


def _note_dv_tombstone(dv_tombs: dict, dvd: dict | None, ts: int) -> None:
    """Record ``ts`` as the latest deletion time of the .bin a
    tombstone's deletion-vector descriptor references: the max per BIN
    path across ALL tombstones, never collapsed per data-file path."""
    if dvd and dvd.get("storageType") == "u":
        from .deletion_vectors import dv_rel_path

        rel_bin = dv_rel_path(dvd["pathOrInlineDv"])
        dv_tombs[rel_bin] = max(dv_tombs.get(rel_bin, 0), ts)


def _apply_actions(st: LogState, actions: list[dict]) -> LogState:
    """``st`` advanced over one commit — the commit-apply step of
    replay. ``actions`` are as :func:`_commit_actions` reads them (file
    paths physical). The containers of ``st`` are updated in place
    (:func:`_fork` first to keep the original); the returned state
    carries the next version and the commit's protocol and metaData."""
    protocol, meta = st.protocol, st.meta
    adds, removes, txns = st.adds, st.removes, st.txns
    domains = st.domain_metadata
    for action in actions:
        if "protocol" in action:
            protocol = action["protocol"]
        elif "metaData" in action:
            meta = action["metaData"]
        elif "add" in action:
            a = action["add"]
            adds[a["path"]] = a
            removes.pop(a["path"], None)
        elif "remove" in action:
            rm = action["remove"]
            prev = adds.pop(rm["path"], None)
            # the tombstone keeps the file's LAST deletion-vector
            # descriptor (explicit on the remove, else synthesized from
            # the replaced add) — vacuum ages the .bin from the
            # tombstone's deletionTimestamp, mirroring how data files
            # themselves age
            dvd = rm.get("deletionVector") or (
                (prev or {}).get("deletionVector")
            )
            ts = int(rm.get("deletionTimestamp", 0))
            removes[rm["path"]] = {
                "deletionTimestamp": ts,
                "dataChange": bool(rm.get("dataChange", True)),
                **({"deletionVector": dvd} if dvd else {}),
            }
            _note_dv_tombstone(st.dv_tombstones, dvd, ts)
        elif "txn" in action:
            t = action["txn"]
            txns[t["appId"]] = max(txns.get(t["appId"], -1), int(t["version"]))
        elif "domainMetadata" in action:
            dm = action["domainMetadata"]
            if dm.get("removed"):
                domains.pop(dm["domain"], None)
            else:
                domains[dm["domain"]] = dm.get("configuration")
    return st._replace(version=st.version + 1, protocol=protocol, meta=meta)


def _fork(st: LogState | None) -> LogState:
    """A copy of ``st`` (an empty table's state for None) that
    :func:`_apply_actions` can advance without touching ``st``."""
    if st is None:
        return LogState(-1, {}, None, {}, {}, None, {}, {})
    return st._replace(
        adds=dict(st.adds),
        txns=dict(st.txns),
        removes=dict(st.removes),
        domain_metadata=dict(st.domain_metadata or {}),
        dv_tombstones=dict(st.dv_tombstones or {}),
    )


def _fold_collated_columns(meta: dict | None) -> set:
    """Top-level columns declaring a non-UTF8_BINARY collation —
    their compare semantics FOLD, so byte-ordered file stats must not
    prune on them and source frames must be cast to the collated type
    before any key join."""
    if not meta:
        return set()
    out: set = set()
    for f in json.loads(meta["schemaString"]).get("fields", []):
        for name in ((f.get("metadata") or {}).get(
            "__COLLATIONS"
        ) or {}).values():
            if _collation_base(name).upper() != "UTF8_BINARY":
                out.add(f["name"])
    return out


def _lcase_collated_columns(meta: dict | None) -> set:
    """Top-level columns collated exactly UTF8_LCASE — the one fold
    this driver can replicate for ASCII values (simple lowercase),
    enabling fold-aware PARTITION pruning (r13). ICU collations stay
    out: their folds depend on ICU tables no driver-side compare can
    pin."""
    if not meta:
        return set()
    out: set = set()
    for f in json.loads(meta["schemaString"]).get("fields", []):
        for name in ((f.get("metadata") or {}).get(
            "__COLLATIONS"
        ) or {}).values():
            if _collation_base(name).upper() == "UTF8_LCASE":
                out.add(f["name"])
    return out


def _ascii_fold(v) -> str | None:
    """ASCII-only lowercase fold, None when the value is out of the
    provable range (non-string or non-ASCII — those always KEEP the
    file). ASCII simple lowercase is identical under Python and
    Spark's UTF8_LCASE, so equality of folds is a sound proof; outside
    ASCII the two folds can diverge (dotted-I, ligatures), so no
    proof is attempted."""
    if isinstance(v, str) and v.isascii():
        return v.lower()
    return None


def _align_source_types(df: DataFrame, schema) -> DataFrame:
    """Cast source columns whose type differs from the DECLARED schema
    type. The load-bearing case is collated strings: joining a
    plain-string source key against a collated target column is
    INDETERMINATE_COLLATION in Spark 4 — aligning the source makes
    every downstream compare (key joins, unions, CDC diffs) use the
    table's declared semantics."""
    types = {f.name: f.dataType for f in schema.fields}
    by_name = {f.name: f.dataType for f in df.schema.fields}
    if all(
        by_name[c] == types[c] for c in df.columns if c in types
    ):
        return df
    return df.select(
        *[
            F.col(c).cast(types[c]).alias(c)
            if c in types and by_name[c] != types[c]
            else F.col(c)
            for c in df.columns
        ]
    )


def _spark_schema_from_string(schema_string: str):
    from pyspark.sql.types import StructType

    return StructType.fromJson(_normalize_collation_versions(
        json.loads(schema_string)
    ))


def _normalize_collation_versions(doc):
    """Truncate version-suffixed ``__COLLATIONS`` values
    (``ICU.en_CI.75.1`` → ``ICU.en_CI``) at every nesting level before
    :meth:`StructType.fromJson` sees them — PySpark asserts exactly
    2-part names, so an untreated versioned table crashes on ANY
    read/write. The semantics of accepting them (this build's ICU may
    fold differently than the writing version's) are surfaced by
    :func:`_warn_on_versioned_collations` at the write gate."""

    def fix_field(f):
        md = f.get("metadata") or {}
        coll = md.get("__COLLATIONS")
        if coll and any(len(v.split(".")) > 2 for v in coll.values()):
            f = dict(f)
            f["metadata"] = {
                **md,
                "__COLLATIONS": {
                    k: ".".join(v.split(".")[:2]) for k, v in coll.items()
                },
            }
        t = f.get("type")
        fixed_t = fix_type(t)
        if fixed_t is not t:
            f = dict(f)
            f["type"] = fixed_t
        return f

    def fix_type(t):
        if not isinstance(t, dict):
            return t
        kind = t.get("type")
        if kind == "struct":
            return {**t, "fields": [fix_field(f) for f in t["fields"]]}
        if kind == "array":
            return {**t, "elementType": fix_type(t["elementType"])}
        if kind == "map":
            return {
                **t,
                "keyType": fix_type(t["keyType"]),
                "valueType": fix_type(t["valueType"]),
            }
        return t

    return {**doc, "fields": [fix_field(f) for f in doc.get("fields", [])]}


def delta_stream_sink(
    path: str,
    partition_col: str | None = None,
    app_id: str = "delta-stream",
):
    """Exactly-once Structured Streaming sink into a Delta table:
    ``writeStream.foreachBatch(delta_stream_sink(path, ...))``.

    Each micro-batch commits with the spec's ``txn`` action keyed
    (app_id, batch_id); after a crash-and-restart, replayed batch ids
    at or below the app's highest recorded txn are skipped without
    writing — the same ledger delta-spark's streaming sink uses. At
    scale this is the only correct contract: checkpoint recovery WILL
    replay the last in-flight batch, and dedup-by-data is a full-table
    scan while dedup-by-txn is one log replay."""

    def sink(batch: DataFrame, batch_id: int) -> None:
        write_delta(
            batch.sparkSession,
            batch,
            path,
            partition_col=partition_col,
            mode="append",
            txn=(app_id, int(batch_id)),
        )

    return sink


def _copy_on_write_where(
    spark: SparkSession,
    path: str,
    predicate: str,
    assignments: dict[str, str] | None,
) -> int | None:
    """Shared core of copy-on-write DELETE WHERE / UPDATE SET WHERE —
    delta-spark's algorithm: one discovery scan finds the files holding
    matching rows (per-file row identity from the shared read path, so
    deletion vectors and column mapping are already honored), ONLY
    those files are rewritten (delete: survivors; update: survivors +
    transformed matches), and one commit tombstones them and adds the
    rewrites. Untouched files are neither read twice nor rewritten.

    ``assignments`` None ⇒ DELETE; else UPDATE with {column: SQL expr}
    evaluated per matching row (exprs see the PRE-update row, as SQL
    UPDATE semantics require) and cast to the declared column type.
    Updated rows re-validate CHECK constraints — an UPDATE is a write.
    On CDF tables the change rows are staged directly (delete rows /
    pre+post image pairs) — no diff pass, the command knows its
    changes. Returns the committed version, or None when nothing
    matched.

    Scale: discovery is one predicate-filtered scan of the live set
    (the same cost delta-spark pays; partition-aligned deletes should
    prefer ``replace_partitions``, selective ones ``delete_where_dv``
    which skips the rewrite entirely); the rewrite is O(files holding
    matches)."""
    tx = Txn(spark, path)
    st = tx.st
    adds, meta = st.adds, st.meta
    schema = _spark_schema_from_string(meta["schemaString"])
    cols = [f.name for f in schema.fields]
    types = {f.name: f.dataType for f in schema.fields}
    l2p = delta_colmap._logical_to_physical(meta)
    pcols = meta.get("partitionColumns", [])
    if assignments:
        unknown = sorted(set(assignments) - set(cols))
        if unknown:
            raise ValueError(f"UPDATE assigns unknown columns {unknown}")
        bad_pcols = sorted(set(assignments) & set(pcols))
        if bad_pcols:
            raise ValueError(
                f"UPDATE cannot assign partition columns {bad_pcols} — "
                "rows would silently change partitions; use MERGE or "
                "delete+insert instead"
            )
        bad_ids = sorted(set(assignments) & set(_identity_specs(meta)))
        if bad_ids:
            raise ValueError(
                f"UPDATE cannot assign identity column(s) {bad_ids} — "
                "their values are writer-allocated (delta-spark refuses "
                "this too)"
            )
    df = delta_scan._read_adds(spark, path, adds, meta, with_pos=True)
    if df is None:
        return None
    _check_append_only(meta, True)
    pred = F.expr(predicate)
    matched = df.filter(pred)
    pv_cols = [l2p.get(c, c) for c in pcols] if l2p else pcols
    by_key = {k: rel for rel, k in delta_dv._dv_identity(adds, pv_cols)[2].items()}
    touched = (
        matched.select("__dv_grp", "__dv_fn").distinct().collect()
    )
    if not touched:
        return None
    touched_rels = sorted(
        by_key[(r["__dv_grp"], r["__dv_fn"])] for r in touched
    )
    n_matched = matched.count()
    touched_adds = {rel: adds[rel] for rel in touched_rels}
    rt = _row_tracking_supported(st.protocol)
    rt_cols = ["_row_id", "_row_commit_version"] if rt else []
    base = delta_scan._read_adds(spark, path, touched_adds, meta, row_ids=rt)
    keep = ~F.coalesce(pred, F.lit(False))
    survivors = base.filter(keep).select(*cols, *rt_cols)
    if rt:
        # survivors are untouched rows: both id and commit version ride
        # into the rewrite's materialized columns
        survivors = _rt_materialize(survivors, meta)
    cached = False
    if assignments is None:
        operation, metric = "DELETE", "numDeletedRows"
        new_data = survivors
    else:
        operation, metric = "UPDATE", "numUpdatedRows"
        gens = _generated_exprs(meta)
        bad_assign = sorted(set(assignments) & set(gens))
        if bad_assign:
            raise ValueError(
                f"cannot UPDATE generated column(s) {bad_assign} — their "
                "values derive from their generation expression"
            )
        bad_id = sorted(set(assignments) & set(_identity_specs(meta)))
        if bad_id:
            raise ValueError(
                f"cannot UPDATE identity column(s) {bad_id} — their "
                "values are writer-allocated"
            )
        updated = base.filter(~keep).select(
            *[
                F.expr(assignments[c]).cast(types[c]).alias(c)
                if c in assignments
                else F.col(c)
                for c in cols
            ],
            *rt_cols,
        )
        if gens:
            # an assignment may have changed a column a generated one
            # derives from — recompute them all (always correct; the
            # unreferenced ones fold to their unchanged value)
            for c in sorted(gens):
                updated = updated.withColumn(
                    c, F.expr(gens[c]).cast(types[c])
                )
            updated = updated.select(*cols, *rt_cols)
        if rt:
            # updated rows KEEP their id but are re-versioned: the
            # commit-version column stays null and falls back to the
            # new add's defaultRowCommitVersion (this commit)
            updated = _rt_materialize(updated, meta, fresh_cv=True)
        updated, cached = _enforce_constraints(updated, meta)
        new_data = survivors.unionByName(updated)
    try:
        new_adds = tx.stage(new_data, pcols, l2p=l2p)
        cdc_actions: list[dict] = []
        if delta_cdf._cdf_enabled(meta):
            pre = base.filter(~keep).select(*cols)
            if assignments is None:
                changes = pre.select(
                    *cols, F.lit("delete").alias("_change_type")
                )
            else:
                changes = pre.select(
                    *cols, F.lit("update_preimage").alias("_change_type")
                ).unionByName(
                    updated.select(
                        *cols,
                        F.lit("update_postimage").alias("_change_type"),
                    )
                )
            cdc_actions = delta_cdf._stage_cdc_files(
                spark, tx.fs, tx.jvm, path, changes, tx.version, l2p
            )
    finally:
        if cached:
            updated.unpersist()
    return tx.commit(
        operation,
        {"predicate": predicate,
         **({"assignments": assignments} if assignments else {})},
        cdc_actions + [
            tx.remove(rel, deletion_vector=adds[rel].get("deletionVector"))
            for rel in touched_rels
        ],
        staged=new_adds,
        metrics={
            metric: str(n_matched),
            **_add_metrics(new_adds, len(touched_rels)),
        },
    )


def delete_where(spark: SparkSession, path: str, predicate: str) -> int | None:
    """DELETE FROM ... WHERE — copy-on-write form (files holding
    matches are rewritten without them). See
    :func:`_copy_on_write_where`; :func:`delete_where_dv` is the
    rewrite-free deletion-vector sibling."""
    return _copy_on_write_where(spark, path, predicate, None)


def update_where(
    spark: SparkSession,
    path: str,
    predicate: str,
    assignments: dict[str, str],
) -> int | None:
    """UPDATE ... SET col = expr, ... WHERE — copy-on-write, exprs see
    the pre-update row. See :func:`_copy_on_write_where`."""
    if not assignments:
        raise ValueError("UPDATE requires at least one assignment")
    return _copy_on_write_where(spark, path, predicate, assignments)

