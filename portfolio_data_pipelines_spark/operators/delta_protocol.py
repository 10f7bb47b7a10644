"""Delta protocol & table-feature gates (split from delta_log, r15).

The protocol-level pure functions over protocol/metaData action dicts:
reader/writer feature capability sets, creation-protocol derivation,
the writer gate, protocol upgrades/downgrades, collation support
probing, and the icebergCompat duty checks. No Spark session, no
filesystem — everything here is dict-in/dict-out, which is what makes
the gates unit-testable and reusable by the writer (delta_log) and the
read path.

Reference: delta-io PROTOCOL.md (Table Features, Column Mapping,
Iceberg Compatibility, Collations); see the per-function docstrings.
"""

from __future__ import annotations

import json

def _type_contains_variant(t) -> bool:
    """Does a schema-JSON type (string or nested dict) use variant
    anywhere?"""
    if t == "variant":
        return True
    if isinstance(t, dict):
        kind = t.get("type")
        if kind == "struct":
            return any(
                _type_contains_variant(f.get("type"))
                for f in t.get("fields", [])
            )
        if kind == "array":
            return _type_contains_variant(t.get("elementType"))
        if kind == "map":
            return _type_contains_variant(
                t.get("keyType")
            ) or _type_contains_variant(t.get("valueType"))
    return False


def _variant_field_split(schema_str: str) -> tuple[list[str], list[str]]:
    """(top-level variant column names, names of columns with variant
    NESTED inside a struct/array/map). Top-level variant columns are
    writable (the staging transform converts them to the physical
    ``struct<value,metadata>`` pair); nested ones are refused — the
    transform re-wraps whole columns only. A field merely NAMED
    'variant' matches neither (the check parses types, it never
    substring-greps the schema JSON)."""
    top: list[str] = []
    nested: list[str] = []
    for f in json.loads(schema_str).get("fields", []):
        t = f.get("type")
        if t == "variant":
            top.append(f["name"])
        elif _type_contains_variant(t):
            nested.append(f["name"])
    return top, nested


_PROTOCOL_ACTION = {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}

#: The collation table feature's known spellings (delta-spark shipped
#: the preview name first). Accepted on read iff every declared
#: collation is UTF8_BINARY (byte-identical to no collation) or one the
#: RUNNING Spark build resolves: UTF8_LCASE (r12) and, since r13, the
#: ICU collations Spark 4 bundles (UNICODE, UNICODE_CI, locale forms
#: like en_CI) — the collated StringType materialized from the
#: ``__COLLATIONS`` metadata carries the exact grouping/compare
#: semantics natively, so the engine's duty reduces to (a) refusing
#: names this build cannot resolve and (b) never stats-pruning on a
#: collated column (:func:`_fold_collated_columns` — superset-safe).
_COLLATION_FEATURES = {"collations", "collations-preview"}

#: Collations accepted without probing (UTF8_BINARY is byte-identity;
#: UTF8_LCASE is a deterministic fold every Spark 4 build ships).
_SUPPORTED_COLLATIONS = {"UTF8_BINARY", "UTF8_LCASE"}

#: probe cache: collation name -> does the running Spark resolve it
_COLLATION_KNOWN: dict = {}


def _collation_base(name: str) -> str:
    """The bare collation name from a provider-qualified (optionally
    version-suffixed) identifier: ``spark.UTF8_LCASE`` → UTF8_LCASE,
    ``ICU.en_CI`` → en_CI, ``ICU.en_CI.75.1`` → en_CI."""
    parts = name.split(".")
    return parts[1] if len(parts) >= 2 else parts[0]


def _collation_supported(name: str) -> bool:
    """Does the running Spark build resolve this collation? UTF8_* are
    accepted statically; anything else is probed once (analysis-only —
    ``SELECT 'a' COLLATE name`` resolves on the driver without a job)
    and cached. No active session → conservative refusal."""
    base = _collation_base(name)
    if base.upper() in _SUPPORTED_COLLATIONS:
        return True
    known = _COLLATION_KNOWN.get(base)
    if known is None:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is None:
            return False
        try:
            spark.sql(
                "SELECT 'a' COLLATE `%s`" % base.replace("`", "")
            ).schema
            known = True
        except Exception:
            known = False
        _COLLATION_KNOWN[base] = known
    return known


#: Tables already warned about version-suffixed collations (by metaData
#: id) — one log line per table per process, not per commit.
_VERSIONED_COLLATION_WARNED: set[str] = set()


def _warn_on_versioned_collations(meta: dict | None) -> None:
    """Log once per table when a declared collation carries an ICU
    version suffix (``ICU.en_CI.75.1``): the acceptance probe discards
    the suffix, so fold/compare semantics follow THIS build's ICU, which
    may drift from the version the table was written under (r13 ADVICE —
    accepted by design, but no longer silently)."""
    if not meta:
        return
    tid = meta.get("id") or ""
    if tid in _VERSIONED_COLLATION_WARNED:
        return
    versioned: list[str] = []

    def walk(fields):
        for f in fields:
            md = f.get("metadata") or {}
            for path, name in (md.get("__COLLATIONS") or {}).items():
                if len(name.split(".")) > 2:
                    versioned.append(f"{path}: {name}")
            t = f.get("type")
            if isinstance(t, dict) and t.get("type") == "struct":
                walk(t.get("fields", []))

    walk(json.loads(meta["schemaString"]).get("fields", []))
    if versioned:
        _VERSIONED_COLLATION_WARNED.add(tid)
        import warnings

        warnings.warn(
            "table declares version-suffixed collation(s) "
            f"{sorted(versioned)}; this writer honors them with the "
            "running Spark build's ICU, which may fold differently "
            "than the version the table was written under",
            stacklevel=3,
        )


def _unsupported_collations(
    meta: dict | None, accept: set | None = None
) -> list[str]:
    """Collations this engine cannot honor, declared anywhere in the
    schemaString's ``__COLLATIONS`` field-metadata maps (Spark's form:
    {field path: "provider.<COLLATION>"}), recursing into nested struct
    fields. With ``accept`` given, membership is against that set
    (callers asking e.g. "anything non-binary?"); otherwise a collation
    is supported iff the running Spark build resolves it
    (:func:`_collation_supported`)."""
    if not meta:
        return []
    accepted = accept
    out: list[str] = []

    def walk_type(t, prefix):
        # structs may hide inside arrays/maps at any depth — a missed
        # level would silently ACCEPT a non-default collation there
        if not isinstance(t, dict):
            return
        kind = t.get("type")
        if kind == "struct":
            walk(t.get("fields", []), prefix)
        elif kind == "array":
            walk_type(t.get("elementType"), f"{prefix}element.")
        elif kind == "map":
            walk_type(t.get("keyType"), f"{prefix}key.")
            walk_type(t.get("valueType"), f"{prefix}value.")

    def walk(fields, prefix=""):
        for f in fields:
            md = f.get("metadata") or {}
            for path, name in (md.get("__COLLATIONS") or {}).items():
                ok = (
                    _collation_base(name).upper() in accepted
                    if accepted is not None
                    else _collation_supported(name)
                )
                if not ok:
                    out.append(f"{prefix}{path}: {name}")
            walk_type(f.get("type"), f"{prefix}{f['name']}.")

    walk(json.loads(meta["schemaString"]).get("fields", []))
    return sorted(out)

#: Feature-granular protocol support (reader version 3 / writer 7, the
#: table-features form). A reader refuses a table iff it uses a feature
#: outside this set — per spec, never on the bare version number. A
#: feature belongs here ONLY once the read path actually honors its
#: semantics: ``deletionVectors`` entered when ``_read_adds`` started
#: filtering DV'd row positions (claiming it earlier would silently
#: resurrect deleted rows on any real DV table; it entered this set in
#: the same commit that taught ``_read_adds`` the filter).
_SUPPORTED_READER_FEATURES = {
    "columnMapping",
    "deletionVectors",
    # UUID-named checkpoints with sidecar files: entered this set in
    # the same commit that taught _checkpoint_files / _replay_log the
    # layout (and the external reader its own parse of it)
    "v2Checkpoint",
    # TIMESTAMP WITHOUT TIME ZONE columns: Spark's timestamp_ntz type
    # maps 1:1 onto the schemaString form, so reads need no conversion
    "timestampNtz",
    # the feature's reader duty IS the protocol check vacuum performs
    "vacuumProtocolCheck",
    # TYPE WIDENING (read side): files written before a widening ALTER
    # carry the narrower physical type; the reader duty is upcasting
    # them to the current schemaString type. Spark's parquet reader
    # performs every spec widening natively (probed: int32→long,
    # float→double, int→double, smallint→int), and the grouped
    # fallback's unionByName coerces — entered this set with the
    # foreign-fixture conformance test.
    "typeWidening",
    # VARIANT columns (semi-structured): schemaString type "variant",
    # physically struct<value binary, metadata binary> carrying the
    # open Variant binary encoding — Spark 4 decodes that form natively
    # under an explicit variant read schema (probed), so reads ride the
    # same single-scan plan. Since round 11 the WRITE side is covered
    # too: every staging path converts variant columns to the physical
    # pair (``_variant_physical`` — Spark's own parquet writer would
    # emit the incompatible parquet VARIANT logical type), so the
    # feature is claimed in _SUPPORTED_WRITER_FEATURES as well.
    "variantType",
    # PREVIEW spellings: delta-spark 3.x stamped these names before the
    # features went GA with identical read duties (the preview type-
    # widening set is a subset of GA's; preview variant is the same
    # physical pair), so tables carrying them read correctly today.
    # Writes keep stamping the GA names only.
    "typeWidening-preview",
    "variantType-preview",
    # SHREDDED variants (parquet-format VariantShredding.md): files may
    # store a typed_value column alongside/instead of the binary pair.
    # Spark 4's parquet reader reassembles the shredded form natively
    # under the explicit variant read schema
    # (spark.sql.variant.allowReadingShredded, probed with hand-built
    # scalar/object/residual fixtures), so reads ride the same plan.
    # WRITE-side the feature is NOT claimed: this writer always stores
    # the plain binary pair.
    "variantShredding-preview",
    "variantShredding",
}

#: Writer features this implementation knows how to honor; listed on
#: protocol upgrades to writer version 7 so foreign writers know the
#: table's active duties. Legacy minWriterVersion equivalents:
#: 2=invariants+appendOnly, 3=checkConstraints, 4=changeDataFeed+
#: generatedColumns, 5=columnMapping.
_LEGACY_WRITER_FEATURES = {
    2: ["appendOnly", "invariants"],
    3: ["checkConstraints"],
    4: ["changeDataFeed", "generatedColumns"],
    5: ["columnMapping"],
    6: ["identityColumns"],
}


#: Writer features whose duties this writer actually implements; a
#: COMMIT to a table demanding anything else is refused (the spec's
#: writer gate — reads stay available, mutation does not). A feature
#: belongs here only once every commit path honors it.
_SUPPORTED_WRITER_FEATURES = {
    "appendOnly",
    "invariants",
    "checkConstraints",
    "changeDataFeed",
    "generatedColumns",
    "identityColumns",
    "columnMapping",
    "deletionVectors",
    "inCommitTimestamp",
    "timestampNtz",
    "vacuumProtocolCheck",
    "domainMetadata",
    # checkpoint_delta writes the V2 layout (UUID main + sidecars)
    # whenever the table's protocol lists the feature — entered this
    # set in the same commit as that writer path
    "v2Checkpoint",
    # every staging commit path assigns baseRowId/defaultRowCommitVersion
    # via _rt_finalize_commit and rewrites preserve materialized ids —
    # entered this set in the same commit as those duties (round 10)
    "rowTracking",
    # widening evolutions record the delta.typeWidening field-metadata
    # history and upgrade the protocol in the SAME commit — the
    # feature's writer duty (round 10)
    "typeWidening",
    # liquid clustering: state lives in the delta.clustering domain
    # (enable_clustering) and OPTIMIZE clusters on the recorded columns
    # by default — the duty every pass honors (round 10)
    "clustering",
    # variant columns: the single writer duty (store the physical
    # struct<value,metadata> pair, never the parquet VARIANT logical
    # type) is enforced inside _stage_commit_files/_stage_cdc_files —
    # the chokepoints every commit path stages through (round 11)
    "variantType",
    # column DEFAULT values (CURRENT_DEFAULT field metadata): the
    # fill-on-omit duty runs on every row-adding commit path via
    # _apply_column_defaults (round 11)
    "allowColumnDefaults",
    # variant shredding (r12): write_delta(shred_variants=...) stages
    # the spec's triple with typed_value for scalar shreds; every other
    # commit path stages the plain pair, which the spec allows
    # per-file — so any commit to a shredded table is legal
    "variantShredding",
    "variantShredding-preview",
    # Iceberg compatibility (r13): every commit path enforces the
    # compat duties via _check_iceberg_compat_duties (column mapping
    # required, DVs refused, typeWidening refused, complete field ids)
    # and stamps parquet field ids on staged files even in name mode
    # (the _IdModeMap carrier with read_by_id=False) — the one duty
    # that makes the files addressable by converted Iceberg metadata
    "icebergCompatV1",
    "icebergCompatV2",
}


def _schema_uses_ntz(schema_string: str) -> bool:
    """Does the schemaString use TIMESTAMP WITHOUT TIME ZONE anywhere
    (top-level or nested)? Spark spells the type ``timestamp_ntz`` in
    its JSON — the spec's trigger for the ``timestampNtz`` feature."""
    return '"timestamp_ntz"' in schema_string


def _creation_protocol(
    schema_string: str,
    generated_cols: dict | None,
    identity_cols: dict | None,
    configuration: dict | None = None,
    default_cols: dict | None = None,
) -> dict:
    """The protocol action a CREATION commit needs: the lowest legacy
    pair covering the declared column features, upgraded to the
    table-features form (3/7 with explicit lists, legacy duties carried
    over) only when the schema uses ``timestamp_ntz`` — which has no
    legacy level."""
    legacy_w = 6 if identity_cols else 4 if generated_cols else 2
    if str((configuration or {}).get(
        "delta.enableChangeDataFeed", ""
    )).lower() == "true":
        legacy_w = max(legacy_w, 4)
    if any(
        k.startswith("delta.constraints.") for k in (configuration or {})
    ):
        # the spec puts checkConstraints at writer version 3 — without
        # the bump a legacy-v2 foreign writer could commit violating
        # rows without ever seeing the constraint duty
        legacy_w = max(legacy_w, 3)
    ntz = _schema_uses_ntz(schema_string)
    has_variant = bool(_variant_field_split(schema_string)[0])
    row_tracking = str((configuration or {}).get(
        "delta.enableRowTracking", ""
    )).lower() == "true"
    shredding = str((configuration or {}).get(
        "delta.enableVariantShredding", ""
    )).lower() == "true"
    # non-default collations (a collated creation frame): a legacy
    # reader would silently compare the strings byte-wise — the
    # collations feature MUST ride the protocol (r12)
    collated = bool(
        _unsupported_collations(
            {"schemaString": schema_string}, accept={"UTF8_BINARY"}
        )
    )
    if (
        not ntz
        and not row_tracking
        and not has_variant
        and not shredding
        and not collated
        and not default_cols
    ):
        return {"minReaderVersion": 1, "minWriterVersion": legacy_w}
    # features with no legacy level force the table-features form
    reader = set()
    if ntz:
        reader.add("timestampNtz")
    if has_variant:
        # variantType is a reader+writer feature: readers must decode
        # the physical struct<value,metadata> pair
        reader.add("variantType")
    if shredding:
        # variantShredding is a reader+writer feature: readers must
        # reassemble typed_value rows (this engine's do, r11)
        reader.add("variantShredding")
    if collated:
        reader.add("collations")
    writer = set(reader)
    if row_tracking:
        # rowTracking is writer-only (readers may ignore row ids) and
        # depends on domainMetadata for its high-water mark
        writer.update({"rowTracking", "domainMetadata"})
    if default_cols:
        # allowColumnDefaults is writer-only: existing files are
        # complete, only the fill-on-omit duty needs declaring
        writer.add("allowColumnDefaults")
    for v, feats in _LEGACY_WRITER_FEATURES.items():
        if legacy_w >= v:
            writer.update(feats)
    return {
        "minReaderVersion": 3 if reader else 1,
        "minWriterVersion": 7,
        **({"readerFeatures": sorted(reader)} if reader else {}),
        "writerFeatures": sorted(writer),
    }


def _check_writer_protocol(
    proto: dict | None, meta: dict | None = None
) -> None:
    """The spec's writer-version gate, mirror of the reader gate every
    commit path must pass BEFORE writing anything: legacy versions up
    to 6 map onto implemented duties (6 = identity columns);
    7 is feature-granular — a missing ``writerFeatures``
    list is malformed, an unknown or unimplemented feature is refused
    BY NAME. Without this gate a commit to e.g. a rowTracking or
    v2Checkpoint table would silently break duties foreign readers
    rely on.

    ``meta`` gated id-mode column mapping as READ-only through r11;
    r12 writes stamp ``parquet.field.id`` on every staged file
    (:func:`_stage_commit_files` via the :class:`_IdModeMap` carrier),
    so CONVERTed Iceberg tables accept commits."""
    if not proto:
        return
    w = int(proto.get("minWriterVersion", 2))
    feats = proto.get("writerFeatures")
    if w > 7:
        raise ValueError(
            f"cannot commit: minWriterVersion {w} is newer than this "
            "writer (reads remain available)"
        )
    if w == 7 or feats is not None:
        if feats is None:
            raise ValueError(
                "malformed protocol: minWriterVersion 7 requires a "
                "writerFeatures list"
            )
        unknown = set(feats) - _SUPPORTED_WRITER_FEATURES
        coll = unknown & _COLLATION_FEATURES
        if coll:
            # collation writer duties (r13 dynamic gate): any collation
            # the RUNNING Spark build resolves is honored — UTF8_BINARY
            # (no duty), UTF8_LCASE (fold-cast before key joins), and
            # ICU/locale names Spark 4 resolves natively (UNICODE,
            # en_CI, …). Only names the build cannot resolve keep
            # writes refused. Caveat: the probe drops any declared ICU
            # version suffix (ICU.en_CI.75.1 → en_CI), so a table
            # stamped under a different ICU release is accepted with
            # this build's fold rules — warned once per table below.
            if not _unsupported_collations(meta):
                _warn_on_versioned_collations(meta)
                unknown -= coll
        unknown = sorted(unknown)
        if unknown:
            raise ValueError(
                f"cannot commit: table requires writer feature(s) "
                f"{unknown} this writer does not implement (reads "
                "remain available)"
            )
    if meta is not None and _iceberg_compat_version(meta):
        _check_iceberg_compat_duties(proto, meta)


def _check_append_only(meta: dict | None, removing: bool) -> None:
    """``delta.appendOnly`` enforcement (the appendOnly writer
    feature / legacy writer-2 duty): a commit that REMOVES live files
    with dataChange semantics is refused on a table configured
    append-only. Layout-only rewrites (OPTIMIZE/purge, dataChange=
    false) pass ``removing=False`` — the spec constrains logical
    deletes, not compaction."""
    if not removing or not meta:
        return
    cfg = meta.get("configuration") or {}
    if str(cfg.get("delta.appendOnly", "")).lower() == "true":
        raise ValueError(
            "table is append-only (delta.appendOnly=true) — commits "
            "that delete or rewrite rows are refused"
        )


def _upgraded_protocol_with(proto: dict, new_reader_features: set) -> dict:
    """The protocol action after enabling a reader+writer feature:
    reader 3 / writer 7 with explicit feature lists (the spec's
    table-features form). Features implied by the PREVIOUS legacy
    versions are carried into the lists, as delta-spark does on
    upgrade, so no duty is silently dropped."""
    old_r = int(proto.get("minReaderVersion", 1))
    old_w = int(proto.get("minWriterVersion", 2))
    reader = set(proto.get("readerFeatures") or [])
    writer = set(proto.get("writerFeatures") or [])
    if old_r >= 2:
        reader.add("columnMapping")
    for v, feats in _LEGACY_WRITER_FEATURES.items():
        if old_w >= v:
            writer.update(feats)
    reader.update(new_reader_features)
    # every reader feature is definitionally also a writer feature
    writer.update(reader)
    return {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": sorted(reader),
        "writerFeatures": sorted(writer),
    }


def _upgraded_protocol_for_dv(proto: dict) -> dict:
    """Protocol upgrade on first deletion-vector use."""
    return _upgraded_protocol_with(proto, {"deletionVectors"})


def _iceberg_compat_version(meta: dict | None) -> int:
    """The table's enabled Iceberg-compat writer version (0 = none),
    from ``delta.enableIcebergCompatV1/V2``."""
    if not meta:
        return 0
    cfg = meta.get("configuration") or {}
    if str(cfg.get("delta.enableIcebergCompatV2", "")).lower() == "true":
        return 2
    if str(cfg.get("delta.enableIcebergCompatV1", "")).lower() == "true":
        return 1
    return 0


def _check_iceberg_compat_duties(proto: dict | None, meta: dict) -> None:
    """The icebergCompatV1/V2 writer duties this engine enforces on
    every commit (r13; refused by name through r12). Per the public
    protocol's Iceberg-compatibility sections and delta-spark's
    IcebergCompat checks: exactly one version enabled; column mapping
    required (V1: name mode; V2: name or id); deletion vectors must
    stay disabled; typeWidening is incompatible (pre-V3); every field
    — top-level and nested struct — must carry a stable
    ``delta.columnMapping.id`` (staged files are stamped with matching
    parquet field ids so converted Iceberg metadata can address them);
    every array/map level must declare repeated-node ids in the owning
    field's ``parquet.field.nested.ids`` map (r14 — refused by name
    through r13; the staging pyarrow pass stamps them into footers,
    since Spark's writer has no StructField to ride them on)."""
    cfg = meta.get("configuration") or {}
    v1 = str(cfg.get("delta.enableIcebergCompatV1", "")).lower() == "true"
    v2 = str(cfg.get("delta.enableIcebergCompatV2", "")).lower() == "true"
    if v1 and v2:
        raise ValueError(
            "icebergCompat: V1 and V2 are both enabled — the spec "
            "allows exactly one"
        )
    version = 2 if v2 else 1
    mode = cfg.get("delta.columnMapping.mode", "none")
    if version == 1 and mode != "name":
        raise ValueError(
            "icebergCompatV1 requires column mapping in NAME mode "
            f"(table has mode={mode!r})"
        )
    if version == 2 and mode not in ("name", "id"):
        raise ValueError(
            "icebergCompatV2 requires column mapping (name or id mode) "
            f"— table has mode={mode!r}"
        )
    if str(cfg.get("delta.enableDeletionVectors", "")).lower() == "true":
        raise ValueError(
            "icebergCompat tables cannot enable deletion vectors "
            "(Iceberg cannot read DV'd files before compat V3)"
        )
    if proto and "typeWidening" in (proto.get("writerFeatures") or []):
        raise ValueError(
            "icebergCompat is incompatible with the typeWidening "
            "feature (pre-V3)"
        )

    def check_field(f, path):
        md = f.get("metadata") or {}
        if "delta.columnMapping.id" not in md:
            raise ValueError(
                f"icebergCompat: field {path!r} carries no "
                "delta.columnMapping.id"
            )
        phys = md.get("delta.columnMapping.physicalName", f["name"])
        needed = _elem_id_paths(f.get("type"), phys)
        if needed:
            # array/map columns (r14; refused by name through r13):
            # Iceberg addresses list element / map key/value nodes by
            # field id — those ids ride the owning field's
            # parquet.field.nested.ids map and are stamped into staged
            # footers by the pyarrow pass in _stage_commit_files.
            have = set(md.get(PARQUET_NESTED_IDS_KEY) or {})
            missing = [p for p in needed if p not in have]
            if missing:
                raise ValueError(
                    f"icebergCompat: field {path!r} has array/map "
                    f"levels without declared nested field ids "
                    f"({missing}) — enable_iceberg_compat assigns them"
                )
        walk(f.get("type"), path)

    def walk(jtype, path):
        if not isinstance(jtype, dict):
            return
        t = jtype.get("type")
        if t == "struct":
            for f in jtype["fields"]:
                check_field(f, f"{path}.{f['name']}")
        elif t == "array":
            walk(jtype["elementType"], f"{path}.element")
        elif t == "map":
            walk(jtype["keyType"], f"{path}.key")
            walk(jtype["valueType"], f"{path}.value")

    for f in json.loads(meta["schemaString"])["fields"]:
        check_field(f, f["name"])


#: delta-spark's metadata key for field ids of parquet's repeated
#: nodes (list element / map key / map value), which have no StructField
#: of their own: a per-field map {physical dotted path: id}, e.g.
#: {"ice_items.element": 7}. Carried by the NEAREST enclosing struct
#: field; deeper repeated levels extend the path ("p.element.element").
PARQUET_NESTED_IDS_KEY = "parquet.field.nested.ids"


def _elem_id_paths(jtype, prefix: str) -> list[str]:
    """The repeated-node paths (relative to the owning field's physical
    name) this field's type needs ids for — array/map chains only;
    recursion STOPS at a struct (its fields carry their own
    ``delta.columnMapping.id`` and their own nested-ids map)."""
    if not isinstance(jtype, dict):
        return []
    t = jtype.get("type")
    if t == "array":
        p = f"{prefix}.element"
        return [p] + _elem_id_paths(jtype["elementType"], p)
    if t == "map":
        pk, pv = f"{prefix}.key", f"{prefix}.value"
        return (
            [pk] + _elem_id_paths(jtype["keyType"], pk)
            + [pv] + _elem_id_paths(jtype["valueType"], pv)
        )
    return []


#: Features :func:`drop_table_feature` knows how to verify as unused
#: before removing them from the protocol. Growing this set requires a
#: matching live-state check below.
_DROPPABLE_FEATURES = {
    "deletionVectors",
    "rowTracking",
    "allowColumnDefaults",
}


def _downgraded_protocol(proto: dict, feature: str) -> dict:
    """The protocol action after dropping ``feature``: the feature
    leaves both lists, and when every remaining feature maps onto the
    legacy version ladder the protocol collapses back to the plain
    ``(minReaderVersion, minWriterVersion)`` form — mirroring
    delta-spark's downgrade, so a table that briefly used DVs does not
    carry the table-features protocol forever."""
    reader = set(proto.get("readerFeatures") or []) - {feature}
    writer = set(proto.get("writerFeatures") or []) - {feature}
    legacy_of = {
        f: v for v, feats in _LEGACY_WRITER_FEATURES.items() for f in feats
    }
    if reader <= {"columnMapping"} and writer <= set(legacy_of):
        return {
            "minReaderVersion": 2 if "columnMapping" in reader else 1,
            "minWriterVersion": max(
                [2] + [legacy_of[f] for f in writer]
            ),
        }
    return {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": sorted(reader),
        "writerFeatures": sorted(writer),
    }


def _upgraded_protocol_writer_only(proto: dict, feature: str) -> dict:
    """Protocol upgrade for a WRITER-ONLY feature: minWriterVersion 7
    with explicit writerFeatures (legacy duties carried over, any
    reader features mirrored into the writer list per spec), while the
    READER side stays exactly where it was — a reader that never heard
    of the feature keeps reading the table."""
    old_r = int(proto.get("minReaderVersion", 1))
    old_w = int(proto.get("minWriterVersion", 2))
    writer = set(proto.get("writerFeatures") or [])
    for v, feats in _LEGACY_WRITER_FEATURES.items():
        if old_w >= v:
            writer.update(feats)
    reader_feats = proto.get("readerFeatures")
    writer.update(reader_feats or [])
    writer.add(feature)
    out = {
        "minReaderVersion": old_r,
        "minWriterVersion": 7,
        "writerFeatures": sorted(writer),
    }
    if reader_feats is not None:
        out["readerFeatures"] = sorted(set(reader_feats))
    return out
