"""Independent Delta Lake table reader — spec-only, zero shared code.

This module plays the role of an EXTERNAL Delta implementation for
conformance testing: it reads tables produced by ``delta_log.py`` (or
any Delta writer) purely from the open protocol (delta-io PROTOCOL.md),
sharing NO code with the writer — it parses ``_last_checkpoint``, the
parquet checkpoint, and the NDJSON commits itself, resolves data files
with pyarrow (not Spark), and returns plain Python rows. The in-sandbox
environment has no second Delta implementation (no delta-spark JAR, no
``deltalake`` wheel, no DuckDB delta extension — probed round 6), so
this is the strongest available cross-validation of the wire format:
``tests/test_delta_external_reader.py`` pins it equal to ``read_delta``
across the full table lifecycle (append/overwrite/time travel/special
partition values/schema evolution/merge/OPTIMIZE/checkpoint/vacuum/
lake export).

Deliberate independence rules (kept even where sharing would be DRY):
- no imports from ``delta_log`` — spec constants are re-derived here;
- data files are read with pyarrow, not Spark, so a Spark-side read bug
  cannot cancel itself out;
- paths are resolved exactly as the spec says an external reader would:
  URL-decode the logical ``path`` of each action, join to the table
  root.

The independence runs both ways: this module lives under ``tests/``
and no package module imports it (``test_delta_external_reader.py``
pins both directions with an AST scan).

Local-filesystem only (the sandbox has no object store); an external
deployment would swap ``os`` calls for its store's SDK.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import re
from urllib.parse import unquote

_COMMIT_RE = re.compile(r"^(\d{20})\.json$")

#: Reader-version-3 features this reader implements (the feature-
#: granular protocol): column mapping in name mode, and deletion
#: vectors via the independent decoder below.
_READER_FEATURES = {
    "columnMapping",
    "deletionVectors",
    "v2Checkpoint",
    "timestampNtz",
    "vacuumProtocolCheck",
    # type widening read duty: pre-ALTER files carry the narrower
    # physical type and are upcast per the declared schema — which
    # this reader's output loop already does for every numeric column
    "typeWidening",
    # VARIANT columns: physically a struct<value binary, metadata
    # binary> pair carrying the open Variant binary encoding; decoded
    # to plain Python by this module's own from-spec decoder below
    "variantType",
    # preview spellings delta-spark 3.x stamped before GA — identical
    # read duties (see delta_protocol._SUPPORTED_READER_FEATURES)
    "typeWidening-preview",
    "variantType-preview",
    # SHREDDED variants (VariantShredding.md): files may store a
    # typed_value alongside/instead of the binary pair; this reader
    # reassembles them from the spec (_shredded_value)
    "variantShredding-preview",
    "variantShredding",
}


# --- independent VARIANT decoding (the open Variant binary encoding,
# --- parquet-format VariantEncoding.md; shares no code with pyspark's
# --- VariantVal.toPython so conformance tests pair two decoders)

def _variant_metadata_keys(md: bytes) -> list[str]:
    """The metadata dictionary: header (version | sorted | offset
    size), dict size, offsets, utf-8 key bytes."""
    h = md[0]
    if (h & 0x0F) != 1:
        raise ValueError(f"unsupported variant metadata version {h & 0x0F}")
    osz = ((h >> 6) & 3) + 1
    pos = 1
    n = int.from_bytes(md[pos:pos + osz], "little")
    pos += osz
    offs = [
        int.from_bytes(md[pos + i * osz:pos + (i + 1) * osz], "little")
        for i in range(n + 1)
    ]
    base = pos + (n + 1) * osz
    return [md[base + offs[i]:base + offs[i + 1]].decode() for i in range(n)]


def _variant_value(buf: bytes, pos: int, keys: list[str]):
    """Decode the value at ``pos``; returns (python value, end pos)."""
    import struct as _struct
    from decimal import Decimal

    h = buf[pos]
    basic, info = h & 3, h >> 2
    p = pos + 1
    if basic == 1:  # short string: length IS the type info
        return buf[p:p + info].decode(), p + info
    if basic == 2:  # object
        fo_sz = (info & 3) + 1
        fid_sz = ((info >> 2) & 3) + 1
        large = (info >> 4) & 1
        n = int.from_bytes(buf[p:p + (4 if large else 1)], "little")
        p += 4 if large else 1
        ids = [
            int.from_bytes(buf[p + i * fid_sz:p + (i + 1) * fid_sz], "little")
            for i in range(n)
        ]
        p += n * fid_sz
        offs = [
            int.from_bytes(buf[p + i * fo_sz:p + (i + 1) * fo_sz], "little")
            for i in range(n + 1)
        ]
        base = p + (n + 1) * fo_sz
        return {
            keys[ids[i]]: _variant_value(buf, base + offs[i], keys)[0]
            for i in range(n)
        }, base + offs[n]
    if basic == 3:  # array
        fo_sz = (info & 3) + 1
        large = (info >> 2) & 1
        n = int.from_bytes(buf[p:p + (4 if large else 1)], "little")
        p += 4 if large else 1
        offs = [
            int.from_bytes(buf[p + i * fo_sz:p + (i + 1) * fo_sz], "little")
            for i in range(n + 1)
        ]
        base = p + (n + 1) * fo_sz
        return [
            _variant_value(buf, base + offs[i], keys)[0] for i in range(n)
        ], base + offs[n]
    # basic == 0: primitive, type id in the info bits
    if info == 0:
        return None, p
    if info == 1:
        return True, p
    if info == 2:
        return False, p
    if info in (3, 4, 5, 6):  # int8/16/32/64
        w = {3: 1, 4: 2, 5: 4, 6: 8}[info]
        return int.from_bytes(buf[p:p + w], "little", signed=True), p + w
    if info == 7:
        return _struct.unpack("<d", buf[p:p + 8])[0], p + 8
    if info in (8, 9, 10):  # decimal4/8/16: scale byte + LE unscaled
        from decimal import Context

        w = {8: 4, 9: 8, 10: 16}[info]
        scale = buf[p]
        unscaled = int.from_bytes(buf[p + 1:p + 1 + w], "little", signed=True)
        # explicit 50-digit context: the default 28-digit one silently
        # ROUNDS decimal16 values wider than 28 significant digits
        return (
            Decimal(unscaled).scaleb(-scale, Context(prec=50)),
            p + 1 + w,
        )
    if info == 11:  # date: days since epoch
        days = int.from_bytes(buf[p:p + 4], "little", signed=True)
        return _dt.date(1970, 1, 1) + _dt.timedelta(days=days), p + 4
    if info in (12, 13):  # timestamp micros (UTC-adjusted / ntz)
        us = int.from_bytes(buf[p:p + 8], "little", signed=True)
        base_dt = _dt.datetime(
            1970, 1, 1,
            tzinfo=_dt.timezone.utc if info == 12 else None,
        )
        return base_dt + _dt.timedelta(microseconds=us), p + 8
    if info == 14:
        return _struct.unpack("<f", buf[p:p + 4])[0], p + 4
    if info in (15, 16):  # binary / long string: 4-byte LE length
        ln = int.from_bytes(buf[p:p + 4], "little")
        raw = buf[p + 4:p + 4 + ln]
        return (bytes(raw) if info == 15 else raw.decode()), p + 4 + ln
    raise ValueError(f"unsupported variant primitive type {info}")


def _variant_decode(pair: dict):
    """Variant column row value (pyarrow dict) → Python.

    Handles BOTH physical layouts: the plain ``struct<value, metadata>``
    pair, and the SHREDDED form (parquet-format VariantShredding.md,
    Delta's ``variantShredding-preview`` feature) where the group adds a
    ``typed_value`` field — a plain parquet-typed column, a group of
    field groups (object shredding), or a list of element groups (array
    shredding), each group carrying an optional binary ``value``
    residual."""
    if pair is None:
        return None
    keys = _variant_metadata_keys(bytes(pair["metadata"]))
    if "typed_value" not in pair:
        return _variant_value(bytes(pair["value"]), 0, keys)[0]
    return _shredded_value(pair.get("value"), pair.get("typed_value"), keys)


def _shredded_value(value, typed, keys: list[str]):
    """One shredded (value?, typed_value?) pair → Python.

    Spec rules (VariantShredding.md): when ``typed_value`` is null the
    binary ``value`` is authoritative; a scalar ``typed_value`` IS the
    value; an object ``typed_value`` holds per-field groups whose
    both-null state means FIELD ABSENT, with the binary ``value`` (if
    present) carrying the residual non-shredded fields to merge; array
    elements are per-element groups."""
    if typed is None:
        if value is None:
            return None
        return _variant_value(bytes(value), 0, keys)[0]
    if isinstance(typed, dict):
        out = {}
        for name, grp in typed.items():
            if grp is None:
                continue
            fv, ft = grp.get("value"), grp.get("typed_value")
            if fv is None and ft is None:
                continue  # field absent in this row
            out[name] = _shredded_value(fv, ft, keys)
        if value is not None:
            resid = _variant_value(bytes(value), 0, keys)[0]
            if not isinstance(resid, dict):
                raise ValueError(
                    "shredded object residual value must be an object, "
                    f"got {type(resid).__name__}"
                )
            out.update(resid)
        return out
    if isinstance(typed, list):
        return [
            None if e is None else _shredded_value(
                e.get("value"), e.get("typed_value"), keys
            )
            for e in typed
        ]
    return typed  # scalar shredded type: already parquet-typed Python


# --- independent deletion-vector decoding (spec-only, shares no code
# --- with the engine's codec: a shared decode bug would cancel itself
# --- out in conformance tests, so this one is written from the
# --- protocol text with plain-python loops)

_Z85 = (
    "0123456789abcdefghijklmnopqrstuvwxyz"
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
)


def _z85_decode(s: str, length: int) -> bytes:
    out = bytearray()
    for i in range(0, len(s), 5):
        v = 0
        for ch in s[i : i + 5]:
            v = v * 85 + _Z85.index(ch)
        out += v.to_bytes(4, "big")
    return bytes(out[:length])


def _roaring64_positions(data: bytes) -> list[int]:
    """Portable 64-bit RoaringBitmapArray → sorted positions, from the
    RoaringFormatSpec text: magic, bitmap count, then per 32-bit bitmap
    a 4-byte key and a serialized 32-bit RoaringBitmap (array, bitmap,
    or run containers, either cookie)."""
    if int.from_bytes(data[0:4], "little", signed=True) != 1681511377:
        raise ValueError("bad deletion-vector magic number")
    n_maps = int.from_bytes(data[4:12], "little")
    pos = 12
    out: list[int] = []
    for _ in range(n_maps):
        high = int.from_bytes(data[pos : pos + 4], "little") << 32
        pos += 4
        cookie = int.from_bytes(data[pos : pos + 4], "little")
        run_bits = None
        if (cookie & 0xFFFF) == 12347:
            n = (cookie >> 16) + 1
            pos += 4
            nbytes = (n + 7) // 8
            flags = int.from_bytes(data[pos : pos + nbytes], "little")
            run_bits = [(flags >> i) & 1 for i in range(n)]
            pos += nbytes
            has_offsets = n >= 4
        elif cookie == 12346:
            n = int.from_bytes(data[pos + 4 : pos + 8], "little")
            pos += 8
            has_offsets = True
        else:
            raise ValueError(f"unknown roaring cookie {cookie}")
        heads = []
        for i in range(n):
            key = int.from_bytes(data[pos : pos + 2], "little")
            card = int.from_bytes(data[pos + 2 : pos + 4], "little") + 1
            heads.append((key, card))
            pos += 4
        if has_offsets:
            pos += 4 * n
        for i, (key, card) in enumerate(heads):
            base = high | (key << 16)
            if run_bits and run_bits[i]:
                n_runs = int.from_bytes(data[pos : pos + 2], "little")
                pos += 2
                for _r in range(n_runs):
                    start = int.from_bytes(data[pos : pos + 2], "little")
                    ln = int.from_bytes(data[pos + 2 : pos + 4], "little")
                    out.extend(base | v for v in range(start, start + ln + 1))
                    pos += 4
            elif card > 4096:
                for w in range(8192):
                    b = data[pos + w]
                    if b:
                        for bit in range(8):
                            if b & (1 << bit):
                                out.append(base | (w * 8 + bit))
                pos += 8192
            else:
                for _v in range(card):
                    out.append(
                        base | int.from_bytes(data[pos : pos + 2], "little")
                    )
                    pos += 2
    return sorted(out)


def _dv_deleted_rows(root: str, desc: dict) -> set[int]:
    """A deletion-vector descriptor → the set of deleted row indexes of
    its data file, resolving all three storageTypes from the spec."""
    import binascii
    import uuid as _uuid

    st = desc["storageType"]
    size = int(desc["sizeInBytes"])
    if st == "i":
        data = _z85_decode(desc["pathOrInlineDv"], size)
    else:
        if st == "u":
            poi = desc["pathOrInlineDv"]
            prefix, enc = poi[:-20], poi[-20:]
            u = _uuid.UUID(bytes=_z85_decode(enc, 16))
            rel = f"deletion_vector_{u}.bin"
            if prefix:
                rel = f"{prefix.rstrip('/')}/{rel}"
            fpath = os.path.join(root, rel)
        elif st == "p":
            fpath = _local(desc["pathOrInlineDv"])
        else:
            raise ValueError(f"unknown DV storageType {st!r}")
        blob = open(fpath, "rb").read()
        if blob[0] != 1:
            raise ValueError(f"unsupported DV file version {blob[0]}")
        off = int(desc["offset"])
        stored = int.from_bytes(blob[off : off + 4], "big")
        if stored != size:
            raise ValueError("DV size mismatch")
        data = blob[off + 4 : off + 4 + size]
        crc = int.from_bytes(blob[off + 4 + size : off + 8 + size], "big")
        if crc != (binascii.crc32(data) & 0xFFFFFFFF):
            raise ValueError("DV checksum mismatch")
    positions = _roaring64_positions(data)
    if len(positions) != int(desc["cardinality"]):
        raise ValueError("DV cardinality mismatch")
    return set(positions)


def _dv_of(add: dict) -> dict | None:
    """The add's deletionVector descriptor, if real — a checkpoint read
    materializes the struct as all-None for DV-less adds."""
    dvd = add.get("deletionVector")
    if dvd and dvd.get("storageType"):
        return dvd
    return None


def _local(path: str) -> str:
    """Strip a file: scheme down to the plain local path."""
    if path.startswith("file:"):
        return "/" + path[len("file:"):].lstrip("/")
    return path


def _list_commit_versions(log_dir: str) -> list[int]:
    """All commit versions present, by DIRECTORY LISTING — the way a
    foreign reader discovers a table it did not write."""
    out = []
    for name in os.listdir(log_dir):
        m = _COMMIT_RE.match(name)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def _read_checkpoint_actions(log_dir: str, lc: dict) -> list[dict]:
    """Flattened checkpoint rows back to action dicts, via pyarrow.
    Accepts the classic single-file checkpoint, the spec's multi-part
    form (``parts`` in ``_last_checkpoint``), and the V2 form: a
    UUID-named ``V.checkpoint.<uuid>.{parquet,json}`` main file whose
    file actions may live in SIDECAR parquet files under
    ``_delta_log/_sidecars/`` referenced by ``sidecar`` actions —
    the layout modern delta-spark writes by default."""
    import pyarrow.parquet as pq

    version = int(lc["version"])
    if lc.get("parts"):
        n = int(lc["parts"])
        cps = [
            os.path.join(
                log_dir,
                f"{version:020d}.checkpoint.{i:010d}.{n:010d}.parquet",
            )
            for i in range(1, n + 1)
        ]
    else:
        classic = os.path.join(log_dir, f"{version:020d}.checkpoint.parquet")
        if os.path.exists(classic):
            cps = [classic]
        else:
            # V2 UUID-named form — the one discovery that needs a listing
            prefix = f"{version:020d}.checkpoint."
            named = sorted(
                f
                for f in os.listdir(log_dir)
                if f.startswith(prefix)
                and (f.endswith(".parquet") or f.endswith(".json"))
            )
            multipart = re.compile(
                rf"{version:020d}\.checkpoint\.\d{{10}}\.\d{{10}}\.parquet$"
            )
            named = [f for f in named if not multipart.search(f)]
            if not named:
                if any(
                    multipart.search(f) for f in os.listdir(log_dir)
                ):
                    # only multi-part files exist but _last_checkpoint
                    # carries no `parts`: replaying ONE part as the full
                    # snapshot would silently drop files — refuse
                    raise ValueError(
                        f"malformed _last_checkpoint at version "
                        f"{version}: no `parts` field but only "
                        "multi-part checkpoint files exist"
                    )
                raise FileNotFoundError(classic)
            cps = [os.path.join(log_dir, named[-1])]
    rows: list[dict] = []
    for cp in cps:
        if cp.endswith(".json"):
            # V2 checkpoints may be NDJSON: one action object per line,
            # same shapes as commit files
            with open(cp) as f:
                rows.extend(
                    json.loads(line)
                    for line in f.read().splitlines()
                    if line.strip()
                )
        else:
            rows.extend(pq.read_table(cp).to_pylist())
    # resolve sidecar references before flattening: their rows carry
    # the add/remove actions the main file delegates
    sidecar_rels = [
        row["sidecar"]["path"]
        for row in rows
        if row.get("sidecar") and row["sidecar"].get("path")
    ]
    for rel in sidecar_rels:
        target = (
            rel
            if os.path.isabs(rel)
            else os.path.join(log_dir, "_sidecars", rel)
        )
        rows.extend(pq.read_table(target).to_pylist())
    for row in rows:
        cm = row.get("checkpointMetadata")
        if cm and cm.get("version") is not None and int(
            cm["version"]
        ) != version:
            raise ValueError(
                f"v2 checkpoint declares version {cm['version']} but "
                f"_last_checkpoint says {version} — corrupt log"
            )
    actions = []
    for row in rows:
        for kind in ("protocol", "metaData", "add", "remove", "txn"):
            v = row.get(kind)
            # a struct column materializes for every row; a row carries
            # the action whose required field is populated
            if v and (
                (kind == "protocol" and v.get("minReaderVersion") is not None)
                or (kind == "metaData" and v.get("id"))
                or (kind in ("add", "remove") and v.get("path"))
                or (kind == "txn" and v.get("appId"))
            ):
                actions.append({kind: v})
    return actions


def _as_map(m) -> dict:
    """A protocol map field as a dict. A checkpoint read through
    pyarrow materializes map columns as a LIST of (key, value) pairs
    (or {'key':…,'value':…} structs) — normalize both spellings so
    replay logic never cares where an action came from."""
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


def _config_of(meta: dict) -> dict:
    """metaData.configuration as a dict, wherever the metaData came
    from (JSON commit or pyarrow checkpoint read)."""
    return _as_map(meta.get("configuration"))


def _pvals_of(add: dict) -> dict:
    """add.partitionValues as a dict (same normalization)."""
    return _as_map(add.get("partitionValues"))


def _replay(path: str, version: int | None):
    """Replay the log to (live adds, metaData) at ``version`` (latest
    when None), starting from the newest eligible checkpoint."""
    root = _local(path)
    log_dir = os.path.join(root, "_delta_log")
    versions = _list_commit_versions(log_dir)
    if not versions:
        raise FileNotFoundError(f"no commits under {log_dir}")
    target = versions[-1] if version is None else version
    start = 0
    cp_actions: list[dict] = []
    actions: list[dict] = []
    lc_path = os.path.join(log_dir, "_last_checkpoint")
    if os.path.exists(lc_path):
        lc = json.loads(open(lc_path).read())
        if lc["version"] <= target:
            cp_actions.extend(_read_checkpoint_actions(log_dir, lc))
            start = lc["version"] + 1
    for v in range(start, target + 1):
        commit = os.path.join(log_dir, f"{v:020d}.json")
        if not os.path.exists(commit):
            raise FileNotFoundError(f"commit {v} missing from {log_dir}")
        for line in open(commit).read().splitlines():
            if line.strip():
                actions.append(json.loads(line))

    adds: dict[str, dict] = {}
    meta: dict | None = None
    protocol: dict | None = None
    # A checkpoint is a SNAPSHOT, not a replayable op sequence: its
    # remove rows are retained tombstones (vacuum bookkeeping) and a
    # path may legitimately carry BOTH a tombstone and a live add (DV
    # in-place re-add). Rows also come in arbitrary order across parts
    # and sidecars, so a tombstone must never pop a live add here —
    # only post-checkpoint JSON commit removes express deletion.
    for action in cp_actions:
        if "protocol" in action:
            protocol = action["protocol"]
        elif "metaData" in action:
            meta = action["metaData"]
        elif "add" in action:
            a = action["add"]
            adds[unquote(a["path"])] = a
    for action in actions:
        if "protocol" in action:
            protocol = action["protocol"]
        elif "metaData" in action:
            meta = action["metaData"]
        elif "add" in action:
            a = action["add"]
            # the spec: path is an RFC 2396 URI — decode to the
            # physical relative path before resolving
            adds[unquote(a["path"])] = a
        elif "remove" in action:
            adds.pop(unquote(action["remove"]["path"]), None)
    if protocol is None or meta is None:
        raise ValueError("log has no protocol/metaData action")
    rv = int(protocol["minReaderVersion"])
    mode = _config_of(meta).get("delta.columnMapping.mode", "none")
    # reader v2 = column mapping, supported in name mode; reader v3 is
    # FEATURE-granular: the protocol must carry readerFeatures (a v3
    # log without the list is malformed per spec), and refusal is by
    # unknown feature name, never the bare version
    if rv == 3:
        feats = protocol.get("readerFeatures")
        if feats is None:
            raise ValueError(
                "malformed protocol: reader version 3 requires a "
                "readerFeatures list"
            )
        unknown = set(feats) - _READER_FEATURES
        # collation features are accepted unconditionally here (r13;
        # r12 accepted UTF8_BINARY/UTF8_LCASE only): this reader
        # returns RAW rows and never compares, groups, or prunes by a
        # collated column — its only comparison duty, partition-value
        # handling, never collates — so any declared collation's
        # semantics are the consumer's concern, not a decode duty.
        # (The Spark-side engine DOES compare; it keeps a gate that
        # refuses collations the running build cannot resolve.)
        unknown -= unknown & {"collations", "collations-preview"}
        if unknown:
            raise ValueError(
                f"table requires reader features {sorted(unknown)} "
                "this reader does not support"
            )
    if rv > 3 or (rv >= 2 and mode not in ("none", "name", "id")):
        raise ValueError(
            f"table requires reader version {rv} "
            f"(columnMapping.mode={mode!r})"
        )
    return root, adds, meta


def _cast_partition_value(v: str | None, type_name: str):
    """partitionValues are logical STRINGS in the log; cast to the
    schemaString type the way external readers do."""
    if v is None:
        return None
    if type_name in ("byte", "short", "integer", "long"):
        return int(v)
    if type_name in ("float", "double"):
        return float(v)
    if type_name == "boolean":
        return v == "true"
    if type_name == "date":
        return _dt.date.fromisoformat(v)
    if type_name.startswith("decimal"):
        import decimal

        return decimal.Decimal(v)
    if type_name in ("timestamp", "timestamp_ntz"):
        return _dt.datetime.fromisoformat(v)
    return v


def _idmode_check_shape(jtype, path: str) -> None:
    """From-spec id-mode shape duty (independent of delta_log's twin):
    struct fields at every depth — including below array/map levels
    (r14; refused through r13) — must carry ``delta.columnMapping.id``.
    :func:`_id_remap_value` resolves stamped parquet field ids against
    those at every nesting level, so only a MISSING id is refused."""
    if not isinstance(jtype, dict):
        return
    t = jtype.get("type")
    if t == "struct":
        for f in jtype["fields"]:
            if "delta.columnMapping.id" not in (f.get("metadata") or {}):
                raise ValueError(
                    f"id-mode: nested field {path}.{f['name']} carries "
                    "no delta.columnMapping.id"
                )
            _idmode_check_shape(f.get("type"), f"{path}.{f['name']}")
    elif t == "array":
        _idmode_check_shape(jtype["elementType"], f"{path}.element")
    elif t == "map":
        _idmode_check_shape(jtype["keyType"], f"{path}.key")
        _idmode_check_shape(jtype["valueType"], f"{path}.value")


def _id_remap_value(v, jtype, arrow_type):
    """One cell of a nested id-mode column, remapped from the FILE's
    arbitrary field names to the table's LOGICAL names by matching each
    level's stamped ``PARQUET:field_id`` against the schema's
    ``delta.columnMapping.id`` (r13). A logical field whose id is
    absent from the file null-fills (pre-evolution file); file fields
    with no logical counterpart drop. Arrays/maps recurse through their
    element/value types, so structs below repeated levels resolve by id
    too (r14)."""
    if v is None or not isinstance(jtype, dict):
        return v
    t = jtype.get("type")
    if t == "struct":
        if arrow_type is None:
            return None
        by_id = {}
        for i in range(arrow_type.num_fields):
            fl = arrow_type.field(i)
            fid = (fl.metadata or {}).get(b"PARQUET:field_id")
            if fid is not None:
                by_id[int(fid)] = fl
        out = {}
        for f in jtype["fields"]:
            fid = int((f.get("metadata") or {})["delta.columnMapping.id"])
            fl = by_id.get(fid)
            out[f["name"]] = (
                _id_remap_value(v.get(fl.name), f["type"], fl.type)
                if fl is not None
                else None
            )
        return out
    if t == "array":
        inner = arrow_type.value_type if arrow_type is not None else None
        return [
            _id_remap_value(x, jtype["elementType"], inner) for x in v
        ]
    if t == "map":
        kv = (
            (arrow_type.key_type, arrow_type.item_type)
            if arrow_type is not None
            else (None, None)
        )
        return {
            _id_remap_value(k, jtype["keyType"], kv[0]):
            _id_remap_value(x, jtype["valueType"], kv[1])
            for k, x in (v.items() if isinstance(v, dict) else v)
        }
    return v


def read_delta_external(
    path: str, version: int | None = None, row_ids: bool = False
):
    """Read the Delta table at ``path`` from the wire format alone.

    Returns ``(column_names, rows)`` where rows are plain tuples in
    schemaString column order — partition columns restored from each
    add's ``partitionValues`` (files do not contain them), absent
    columns (pre-evolution files) null-filled, numeric columns upcast
    per the declared schema. Order is unspecified, as in any table
    scan.

    ``row_ids=True`` (rowTracking tables) appends ``_row_id`` /
    ``_row_commit_version`` columns — the spec's derivation: a row's
    id is its file's hidden materialized column value when present,
    else ``baseRowId`` + the row's PHYSICAL index in the file (DV'd
    rows are dropped after indexing, never renumbering survivors)."""
    import pyarrow.parquet as pq

    root, adds, meta = _replay(path, version)
    cfg = _config_of(meta)
    mat_id_col = cfg.get("delta.rowTracking.materializedRowIdColumnName")
    mat_cv_col = cfg.get(
        "delta.rowTracking.materializedRowCommitVersionColumnName"
    )
    schema = json.loads(meta["schemaString"])["fields"]
    pcols = meta.get("partitionColumns", [])
    names = [f["name"] for f in schema]
    types = {f["name"]: f["type"] for f in schema}
    # column mapping: name mode resolves files' columns by the
    # per-field physicalName; ID mode (Iceberg conversions — the
    # files' column names are arbitrary) resolves by the parquet
    # field_id stamped in each file's schema, per file since names may
    # differ across files. partitionValues stay keyed by physicalName
    # in BOTH modes. Identity map otherwise.
    mode = _config_of(meta).get("delta.columnMapping.mode", "none")
    mapped = mode == "name"
    phys = {
        f["name"]: (
            (f.get("metadata") or {}).get(
                "delta.columnMapping.physicalName", f["name"]
            )
            if mode in ("name", "id")
            else f["name"]
        )
        for f in schema
    }
    fid_of = None
    jtype_of = {f["name"]: f.get("type") for f in schema}
    if mode == "id":
        for f in schema:
            _idmode_check_shape(f.get("type"), f["name"])
        fid_of = {
            f["name"]: int(
                (f.get("metadata") or {})["delta.columnMapping.id"]
            )
            for f in schema
        }
    rows: list[tuple] = []
    for rel in sorted(adds):
        a = adds[rel]
        fpath = os.path.join(root, rel)
        table = pq.read_table(fpath)
        pvals = {
            c: _cast_partition_value(
                _pvals_of(a).get(phys[c]), types[c]
            )
            for c in pcols
        }
        file_col = dict(phys)
        if fid_of is not None:
            # id mode: per-file field_id -> actual column name
            arrow = pq.read_schema(fpath)
            by_id = {}
            for i in range(len(arrow)):
                fmd = arrow.field(i).metadata or {}
                fid = fmd.get(b"PARQUET:field_id")
                if fid is not None:
                    by_id[int(fid)] = arrow.field(i).name
            file_col = {
                n: by_id.get(fid_of[n], f"\x00missing:{n}")
                for n in names
            }
            arrow_names = set(arrow.names)
            arrow_type_of = {
                n: arrow.field(file_col[n]).type
                for n in names
                if file_col[n] in arrow_names
            }
        cols_present = set(table.column_names)
        data = table.to_pylist()
        dvd = _dv_of(a)
        # indexed BEFORE the DV filter: a deleted row never renumbers
        # the survivors' physical positions (nor their fresh row ids)
        indexed = list(enumerate(data))
        if dvd is not None:
            # the reader duty of the deletionVectors feature: a DV'd
            # row index is logically deleted — drop it BEFORE output
            dead = _dv_deleted_rows(root, dvd)
            indexed = [(i, r) for i, r in indexed if i not in dead]
        base = a.get("baseRowId")
        dcv = a.get("defaultRowCommitVersion")
        for i, r in indexed:
            row = []
            for n in names:
                if n in pvals:
                    row.append(pvals[n])
                elif file_col[n] in cols_present:
                    v = r[file_col[n]]
                    if fid_of is not None and isinstance(types[n], dict):
                        # nested struct under id mode: this FILE's inner
                        # names are arbitrary — remap every level by its
                        # stamped parquet field id (r13)
                        v = _id_remap_value(
                            v, jtype_of[n], arrow_type_of.get(n)
                        )
                    if v is not None and types[n] == "variant":
                        v = _variant_decode(v)
                    elif v is not None and types[n] in (
                        "byte", "short", "integer", "long"
                    ):
                        v = int(v)
                    elif v is not None and types[n] == "double":
                        v = float(v)
                    elif (
                        v is not None
                        and types[n] in ("timestamp", "timestamp_ntz")
                        and isinstance(v, _dt.date)
                        and not isinstance(v, _dt.datetime)
                    ):
                        # typeWidening's date → timestampNtz: pre-ALTER
                        # files carry date32, read as local midnight
                        v = _dt.datetime(v.year, v.month, v.day)
                    row.append(v)
                else:
                    row.append(None)  # pre-evolution file
            if row_ids:
                mid = (
                    r.get(mat_id_col)
                    if mat_id_col and mat_id_col in cols_present
                    else None
                )
                mcv = (
                    r.get(mat_cv_col)
                    if mat_cv_col and mat_cv_col in cols_present
                    else None
                )
                row.append(
                    int(mid) if mid is not None
                    else (int(base) + i if base is not None else None)
                )
                row.append(
                    int(mcv) if mcv is not None
                    else (int(dcv) if dcv is not None else None)
                )
            rows.append(tuple(row))
    if row_ids:
        return names + ["_row_id", "_row_commit_version"], rows
    return names, rows


def _commit_time_ms_external(log_dir: str, v: int) -> int:
    """One commit's time: ``commitInfo.inCommitTimestamp`` when the
    writer recorded it (the ICT feature — monotonic, and immune to
    object stores rewriting file mtimes), else the commit file's
    modification time (the only signal a non-ICT log carries)."""
    commit = os.path.join(log_dir, f"{v:020d}.json")
    for line in open(commit).read().splitlines():
        if not line.strip():
            continue
        action = json.loads(line)
        info = action.get("commitInfo")
        if info is not None:
            if "inCommitTimestamp" in info:
                return int(info["inCommitTimestamp"])
            break
    return int(os.path.getmtime(commit) * 1000)


def version_as_of_external(path: str, ts: str) -> int:
    """``timestampAsOf`` resolution the way a foreign reader does it:
    the highest version whose commit time (in-commit timestamp when
    present, else file mtime — delta-spark's rule) is at or before
    ISO-8601 ``ts``, searched over the FULL retained commit listing.
    Raises when even the earliest retained commit is newer."""
    target = _dt.datetime.fromisoformat(ts)
    if target.tzinfo is None:
        target = target.replace(tzinfo=_dt.timezone.utc)
    # millisecond granularity on BOTH sides — commit times are ms in
    # Delta, and comparing raw float seconds against a µs-truncated ISO
    # string loses the race by nanoseconds
    target_ms = int(target.timestamp() * 1000)
    log_dir = os.path.join(_local(path), "_delta_log")
    best = None
    for v in _list_commit_versions(log_dir):
        if _commit_time_ms_external(log_dir, v) <= target_ms:
            best = v
    if best is None:
        raise ValueError(
            f"no commit in {path} at or before {ts} (the earliest "
            "retained commit is newer)"
        )
    return best


def read_delta_external_as_of(path: str, ts: str):
    """Time-travel read by timestamp — resolution + snapshot read, both
    spec-only."""
    return read_delta_external(path, version=version_as_of_external(path, ts))


def table_configuration(path: str, version: int | None = None) -> dict:
    """The table's ``metaData.configuration`` map as a foreign reader
    sees it — where Delta records CHECK constraints
    (``delta.constraints.<name>`` → SQL expression), among other table
    properties. Conformance: a constraint committed by the writer must
    round-trip through checkpoint + replay to any external reader,
    since enforcement is a WRITER duty the next (possibly foreign)
    writer takes over from exactly this map."""
    _root, _adds, meta = _replay(path, version)
    return _config_of(meta)


def read_delta_changes_external(
    path: str, from_version: int, to_version: int | None = None
):
    """Change-data-feed read the way a FOREIGN reader does it, commits
    ``(from_version, to_version]``: spec-only, pyarrow, zero shared
    code with the writer.

    Per the protocol's CDF derivation rules, each commit is answered
    from exactly one source:

    - ``cdc`` actions present → read the referenced ``_change_data``
      files verbatim (rows already carry ``_change_type``);
    - only dataChange ``add`` actions → every added row is an
      ``insert``;
    - only dataChange ``remove`` actions → every removed row (still on
      disk until vacuumed) is a ``delete``;
    - both adds and removes WITHOUT cdc → refuse: a conformant foreign
      reader cannot know the operation's row pairing (delta-spark
      raises here too; the writer should have materialized change
      files).

    Returns ``(column_names, rows)`` — table columns in schemaString
    order plus ``_change_type``, ``_commit_version``,
    ``_commit_timestamp`` (epoch ms) — matching the engine-side
    ``read_delta_cdf`` contract (pinned equal in conformance tests)."""
    import pyarrow.parquet as pq

    root = _local(path)
    log_dir = os.path.join(root, "_delta_log")
    versions = _list_commit_versions(log_dir)
    if not versions:
        raise FileNotFoundError(f"no commits under {log_dir}")
    tip = versions[-1] if to_version is None else to_version
    _root, _adds, meta = _replay(path, tip)
    schema = json.loads(meta["schemaString"])["fields"]
    pcols = meta.get("partitionColumns", [])
    names = [f["name"] for f in schema]
    types = {f["name"]: f["type"] for f in schema}
    mapped = _config_of(meta).get("delta.columnMapping.mode", "none") == "name"
    phys = {
        f["name"]: (
            (f.get("metadata") or {}).get(
                "delta.columnMapping.physicalName", f["name"]
            )
            if mapped
            else f["name"]
        )
        for f in schema
    }

    def file_rows(rel: str, pvals_raw: dict, in_file_pcols: bool, dv=None):
        """Rows of one parquet file in logical column order; partition
        columns come from ``pvals_raw`` (data files) or from the file
        itself (cdc files, which materialize every column). ``dv``
        drops the file's deleted row indexes first."""
        table = pq.read_table(os.path.join(root, rel))
        present = set(table.column_names)
        pvals = {
            c: _cast_partition_value(
                pvals_raw.get(phys[c]), types[c]
            )
            for c in pcols
            if not in_file_pcols
        }
        data = table.to_pylist()
        if dv is not None:
            dead = _dv_deleted_rows(root, dv)
            data = [r for i, r in enumerate(data) if i not in dead]
        for r in data:
            row = []
            for n in names:
                if n in pvals:
                    row.append(pvals[n])
                elif phys[n] in present:
                    row.append(r[phys[n]])
                else:
                    row.append(None)  # pre-evolution file
            yield tuple(row), (r.get("_change_type") if "_change_type" in present else None)

    # live set at from_version, advanced through each commit — gives
    # remove actions their partitionValues (removes don't carry them)
    live: dict[str, dict] = {}
    if from_version >= 0:
        _r, adds0, _m = _replay(path, from_version)
        live = dict(adds0)
    out_rows: list[tuple] = []
    for v in range(from_version + 1, tip + 1):
        commit = os.path.join(log_dir, f"{v:020d}.json")
        if not os.path.exists(commit):
            raise FileNotFoundError(f"commit {v} missing from {log_dir}")
        ts_ms = _commit_time_ms_external(log_dir, v)
        adds_v: list = []
        removed_v: list = []
        cdc_v: list = []
        for line in open(commit).read().splitlines():
            if not line.strip():
                continue
            action = json.loads(line)
            if "add" in action:
                a = dict(action["add"])
                a["path"] = unquote(a["path"])
                live[a["path"]] = a
                if a.get("dataChange", True):
                    adds_v.append(a)
            elif "remove" in action:
                rel = unquote(action["remove"]["path"])
                prev = live.pop(rel, None)
                if action["remove"].get("dataChange", True) and prev is not None:
                    removed_v.append(prev)
            elif "cdc" in action:
                cdc_v.append(unquote(action["cdc"]["path"]))
        if cdc_v:
            for rel in cdc_v:
                for row, ct in file_rows(rel, {}, in_file_pcols=True):
                    out_rows.append(row + (ct, v, ts_ms))
            continue
        if adds_v and removed_v:
            raise ValueError(
                f"commit {v} rewrote files without cdc actions — a "
                "foreign reader cannot derive its row-level changes; "
                "the table was written before change-data-feed was "
                "enabled (use the engine-side read_delta_cdf with "
                "key_cols to reconstruct)"
            )
        for a in adds_v:
            for row, _ct in file_rows(
                a["path"], _pvals_of(a),
                in_file_pcols=False, dv=_dv_of(a),
            ):
                out_rows.append(row + ("insert", v, ts_ms))
        for a in removed_v:
            for row, _ct in file_rows(
                a["path"], _pvals_of(a),
                in_file_pcols=False, dv=_dv_of(a),
            ):
                out_rows.append(row + ("delete", v, ts_ms))
    return (
        names + ["_change_type", "_commit_version", "_commit_timestamp"],
        out_rows,
    )
