"""Delta checkpoints, built, written and read with pyarrow, outside Spark.

A checkpoint is the table state at one version as flattened action rows
(protocol, metaData, txn, domainMetadata, in-retention remove
tombstones and live adds) in parquet, plus the ``_last_checkpoint``
pointer that tells readers where to start. Three layouts:

- classic: one ``V.checkpoint.parquet`` file;
- multi-part: ``V.checkpoint.{i}.{n}.parquet`` files with ``parts`` in
  the pointer, once the rows exceed :data:`CHECKPOINT_PART_ACTIONS`;
- V2 (tables declaring ``v2Checkpoint``): a UUID-named main file with
  the non-file actions, ``checkpointMetadata`` and ``sidecar`` refs,
  the add/remove rows in ``_delta_log/_sidecars/`` parquet files.

No Spark job touches ``_delta_log``: each file is encoded in memory
and stored through the ``hadoop_io`` small-file helpers under a
temporary name beside its destination, then renamed into place, so a
crash never leaves a partial file under a checkpoint name. Reading is
the mirror image (:func:`_read_checkpoint`), for every layout,
including NDJSON V2 mains and checkpoints written by other engines.

Reference: delta-io PROTOCOL.md (Checkpoints, V2 Checkpoints).
"""

from __future__ import annotations

import json
import math
import os
import re
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession

from . import delta_log as dl
from .delta_protocol import _PROTOCOL_ACTION
from .hadoop_io import (
    _hadoop_fs, _local_path, _read_bytes, _rename, _write_small_file,
)

#: Parquet checkpoint cadence, mirroring delta-spark's default.
DELTA_CHECKPOINT_EVERY = 10

#: Checkpoints holding more actions than this are written in the
#: spec's MULTI-PART form (V.checkpoint.{i}.{n}.parquet + ``parts`` in
#: _last_checkpoint) so one file never has to carry an unbounded
#: live-file list. The default keeps each part a few tens of MB at
#: production stats sizes; tests lower it to exercise the format.
CHECKPOINT_PART_ACTIONS = 100_000

#: Tombstone records older than this are dropped from checkpoints
#: (Delta's log-retention default, 30 days); vacuum retention windows
#: longer than this cannot rely on recorded deletion times.
TOMBSTONE_RETENTION_MS = 30 * 24 * 3600 * 1000

_STR_MAP = pa.map_(pa.string(), pa.string())
_STR_LIST = pa.list_(pa.string())
_DV = pa.struct([
    ("storageType", pa.string()),
    ("pathOrInlineDv", pa.string()),
    ("offset", pa.int64()),
    ("sizeInBytes", pa.int64()),
    ("cardinality", pa.int64()),
])

#: The checkpoint's flattened action columns. It must carry EVERY field
#: replay depends on: a checkpoint that dropped deletionVector
#: descriptors would resurrect deleted rows for any reader anchored on
#: it, one that dropped the protocol's feature lists would emit a
#: malformed reader-v3 protocol, and one that dropped the rowTracking
#: fields would re-id every row.
CHECKPOINT_SCHEMA = pa.schema([
    ("protocol", pa.struct([
        ("minReaderVersion", pa.int64()),
        ("minWriterVersion", pa.int64()),
        ("readerFeatures", _STR_LIST),
        ("writerFeatures", _STR_LIST),
    ])),
    ("metaData", pa.struct([
        ("id", pa.string()),
        ("format", pa.struct([
            ("provider", pa.string()), ("options", _STR_MAP),
        ])),
        ("schemaString", pa.string()),
        ("partitionColumns", _STR_LIST),
        ("configuration", _STR_MAP),
        ("createdTime", pa.int64()),
    ])),
    ("add", pa.struct([
        ("path", pa.string()),
        ("partitionValues", _STR_MAP),
        ("size", pa.int64()),
        ("modificationTime", pa.int64()),
        ("dataChange", pa.bool_()),
        ("stats", pa.string()),
        ("deletionVector", _DV),
        ("baseRowId", pa.int64()),
        ("defaultRowCommitVersion", pa.int64()),
    ])),
    ("txn", pa.struct([
        ("appId", pa.string()),
        ("version", pa.int64()),
        ("lastUpdated", pa.int64()),
    ])),
    ("remove", pa.struct([
        ("path", pa.string()),
        ("deletionTimestamp", pa.int64()),
        ("dataChange", pa.bool_()),
        ("deletionVector", _DV),
    ])),
    ("domainMetadata", pa.struct([
        ("domain", pa.string()),
        ("configuration", pa.string()),
        ("removed", pa.bool_()),
    ])),
])

#: A V2 main file: the same columns plus the version pin and the
#: sidecar refs.
_V2_MAIN_SCHEMA = CHECKPOINT_SCHEMA.append(
    pa.field("checkpointMetadata", pa.struct([("version", pa.int64())]))
).append(
    pa.field("sidecar", pa.struct([
        ("path", pa.string()), ("sizeInBytes", pa.int64()),
    ]))
)


def _read_last_checkpoint_doc(fs, jvm, path: str) -> dict | None:
    ps = f"{path}/_delta_log/_last_checkpoint"
    lp = _local_path(ps)
    if lp is not None and not os.path.exists(lp):
        return None
    if lp is None and not fs.exists(jvm.org.apache.hadoop.fs.Path(ps)):
        return None
    return json.loads(dl._read_text(fs, jvm, ps))


def _v2_main_name(v: int, lc: dict) -> str | None:
    """The V2 main's file name from the doc's ``v2Checkpoint.path``, or
    None when absent or not a bare ``V.checkpoint.<id>.{parquet,json}``
    name at version ``v`` (the doc is outside input: a foreign or
    corrupt pointer must not steer the read out of ``_delta_log``)."""
    ref = lc.get("v2Checkpoint")
    name = ref.get("path") if isinstance(ref, dict) else None
    if (
        isinstance(name, str)
        and name.startswith(f"{v:020d}.checkpoint.")
        and name.endswith((".parquet", ".json"))
        and "/" not in name
    ):
        return name
    return None


def _checkpoint_files(fs, jvm, path: str, lc: dict) -> list[str]:
    """Checkpoint file(s) for a ``_last_checkpoint`` doc: the classic
    single file, the MULTI-PART parts (``parts`` in the doc, N files
    named ``V.checkpoint.{i:010d}.{N:010d}.parquet``) or the UUID-named
    V2 main (``V.checkpoint.<uuid>.{parquet,json}``, what delta-spark
    writes by default on modern tables) — a conformant reader must
    accept all three. The doc's ``v2Checkpoint`` field names the V2
    main; without it (older writers) the name is unpredictable, so its
    probe is the one place checkpoint discovery pays a directory
    listing, and only after the classic-name probe missed."""
    v = int(lc["version"])
    parts = lc.get("parts")
    if parts:
        n = int(parts)
        return [
            f"{path}/_delta_log/{v:020d}.checkpoint.{i:010d}.{n:010d}.parquet"
            for i in range(1, n + 1)
        ]
    v2_main = _v2_main_name(v, lc)
    if v2_main is not None:
        return [f"{path}/_delta_log/{v2_main}"]
    classic = f"{path}/_delta_log/{v:020d}.checkpoint.parquet"
    lcl = _local_path(classic)
    if (
        os.path.exists(lcl)
        if lcl is not None
        else fs.exists(jvm.org.apache.hadoop.fs.Path(classic))
    ):
        return [classic]
    prefix = f"{v:020d}.checkpoint."
    log_dir = f"{path}/_delta_log"
    lp = _local_path(log_dir)
    names = os.listdir(lp) if lp is not None else [
        st.getPath().getName()
        for st in fs.listStatus(jvm.org.apache.hadoop.fs.Path(log_dir))
    ]
    # the spec allows V2 manifests in BOTH formats: parquet AND NDJSON
    # (V.checkpoint.<uuid>.json)
    found = sorted(
        n for n in names
        if n.startswith(prefix)
        and (n.endswith(".parquet") or n.endswith(".json"))
    )
    multipart = re.compile(
        rf"{v:020d}\.checkpoint\.\d{{10}}\.\d{{10}}\.parquet$"
    )
    singles = [n for n in found if not multipart.search(n)]
    if singles:
        return [f"{path}/_delta_log/{singles[-1]}"]
    if found:
        # every candidate has the multi-part i.of.n shape but
        # _last_checkpoint carried no `parts` — replaying ONE part as
        # the whole state would silently drop files; refuse instead
        raise ValueError(
            f"malformed _last_checkpoint at version {v}: no `parts` "
            f"field but only multi-part checkpoint files exist "
            f"({found[-1]!r} …) — refusing to replay a single part as "
            "the full snapshot"
        )
    return [classic]  # let the read raise the natural missing-file error


def _read_actions(fs, jvm, file: str) -> list[dict]:
    """One checkpoint file's rows as action dicts: parquet through
    pyarrow, or an NDJSON V2 main (same action shapes as a commit).
    pyarrow yields map columns as (key, value) pairs; replay normalizes
    them with ``delta_log._as_str_map``."""
    if file.endswith(".json"):
        return dl._ndjson_actions(dl._read_text(fs, jvm, file))
    data = _read_bytes(fs, jvm, file)
    return pq.read_table(pa.BufferReader(data)).to_pylist()


def _read_checkpoint(fs, jvm, path: str, lc: dict) -> list[dict]:
    """Every action row of the checkpoint a ``_last_checkpoint`` doc
    names: all parts, plus the rows of the sidecars a V2 main refers to
    (file actions live there; non-file actions stay in the main). A
    ``checkpointMetadata`` action must pin the doc's version."""
    cps = _checkpoint_files(fs, jvm, path, lc)
    rows = [d for cp in cps for d in _read_actions(fs, jvm, cp)]
    for d in rows:
        cm = d.get("checkpointMetadata")
        if cm and cm.get("version") is not None and int(
            cm["version"]
        ) != int(lc["version"]):
            raise ValueError(
                f"checkpoint at {cps[0]} declares version "
                f"{cm['version']} but _last_checkpoint says "
                f"{lc['version']} — corrupt log"
            )
    sidecars = [
        sc["path"] for sc in (d.get("sidecar") for d in rows)
        if sc and sc.get("path")
    ]
    for rel in sidecars:
        sc_path = (
            rel if "://" in rel or rel.startswith("/")
            else f"{path}/_delta_log/_sidecars/{rel}"
        )
        rows.extend(_read_actions(fs, jvm, sc_path))
    return rows


def _write_parquet(fs, jvm, path_str: str, rows: list[dict], schema) -> int:
    """Store ``rows`` as one parquet file at ``path_str``: encoded in
    memory, written under a temporary name in the same directory, then
    renamed into place. Returns the file's size in bytes."""
    buf = pa.BufferOutputStream()
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), buf)
    data = buf.getvalue().to_pybytes()
    parent, _, name = path_str.rpartition("/")
    tmp = f"{parent}/.{name}.{uuid.uuid4().hex}.tmp"
    _write_small_file(fs, jvm, tmp, data, overwrite=False)
    _rename(fs, jvm, tmp, path_str)
    return len(data)


def _chunks(rows: list[dict]) -> list[list[dict]]:
    """``rows`` split into the fewest near-equal chunks of at most
    :data:`CHECKPOINT_PART_ACTIONS` rows each."""
    n = max(1, math.ceil(len(rows) / CHECKPOINT_PART_ACTIONS))
    per = math.ceil(len(rows) / n)
    return [rows[i * per : (i + 1) * per] for i in range(n)]


def checkpoint_delta(spark: SparkSession, path: str, version: int) -> None:
    """Write a checkpoint of the table state at ``version`` and point
    ``_last_checkpoint`` at it — the Delta reader fast path: one replay
    to ``version``, then :func:`_write_checkpoint`."""
    fs, _, jvm = _hadoop_fs(spark, path)
    _write_checkpoint(fs, jvm, path, dl._replay_log(spark, path, version))


def _write_checkpoint(fs, jvm, path: str, st: "dl.LogState") -> None:
    """Write the checkpoint of replayed state ``st`` at ``st.version``
    and point ``_last_checkpoint`` at it. A commit's cadence hands in
    the state its writer already holds, so nothing is listed or
    replayed.

    One row per action (protocol, metaData, each txn, live domain,
    in-retention tombstone and live add) in :data:`CHECKPOINT_SCHEMA`;
    sizes stay O(live files), and later reads cost one small JSON, the
    checkpoint file(s) and the commit tail. The layout is V2 on
    ``v2Checkpoint`` tables, else classic, or multi-part above
    :data:`CHECKPOINT_PART_ACTIONS` rows. Built and written with
    pyarrow: no Spark job runs."""
    target, meta = st.version, st.meta
    if meta is None:
        raise ValueError("cannot checkpoint a log without metaData")
    # tombstones ride the checkpoint (within retention) so vacuum can
    # still date deletions after old commits are cleaned up
    cutoff = dl._now_ms() - TOMBSTONE_RETENTION_MS
    # carry the TABLE'S protocol, not a constant — a checkpoint after a
    # column-mapping upgrade must keep reader v2 (and a feature-granular
    # one its feature lists), or a checkpoint-anchored replay would
    # silently downgrade it
    proto = st.protocol or _PROTOCOL_ACTION["protocol"]
    rows = [{"protocol": proto}, {"metaData": meta}]
    for rel in sorted(st.removes):
        rm = st.removes[rel]
        if rm["deletionTimestamp"] >= cutoff:
            rows.append({"remove": {**rm, "path": dl._encode_path(rel)}})
    # the spec keeps the latest txn per appId (so the exactly-once
    # ledger survives log cleanup) and the latest domainMetadata per
    # live domain
    for app_id in sorted(st.txns):
        rows.append({"txn": {
            "appId": app_id, "version": st.txns[app_id], "lastUpdated": 0,
        }})
    domains = st.domain_metadata or {}
    for domain in sorted(domains):
        rows.append({"domainMetadata": {
            "domain": domain, "configuration": domains[domain],
            "removed": False,
        }})
    for rel in sorted(st.adds):
        a = st.adds[rel]
        rows.append({"add": {
            **a,
            "path": dl._encode_path(a["path"]),
            "partitionValues": a.get("partitionValues", {}),
            "size": a.get("size", 0),
            "modificationTime": a.get("modificationTime", 0),
            "dataChange": a.get("dataChange", True),
        }})
    log = f"{path}/_delta_log"
    lc = {"version": target, "size": len(rows)}
    if "v2Checkpoint" in (proto.get("writerFeatures") or []):
        # v2Checkpoint table contract: the checkpoint MUST be the V2
        # layout, file actions in sidecars chunked by the same bound as
        # multi-part classic checkpoints
        file_rows = [r for r in rows if "add" in r or "remove" in r]
        main = [r for r in rows if not ("add" in r or "remove" in r)]
        main.append({"checkpointMetadata": {"version": target}})
        for chunk in _chunks(file_rows) if file_rows else []:
            name = f"{uuid.uuid4().hex}.parquet"
            size = _write_parquet(
                fs, jvm, f"{log}/_sidecars/{name}", chunk, CHECKPOINT_SCHEMA
            )
            main.append({"sidecar": {"path": name, "sizeInBytes": size}})
        name = f"{target:020d}.checkpoint.{uuid.uuid4().hex}.parquet"
        size = _write_parquet(fs, jvm, f"{log}/{name}", main, _V2_MAIN_SCHEMA)
        # the spec's pointer to the main, so readers need no listing to
        # find its UUID name; the write clock stands in for the mtime
        lc["v2Checkpoint"] = {
            "path": name, "sizeInBytes": size, "modificationTime": dl._now_ms(),
        }
    else:
        # above the part bound the MULTI-PART form: a long-lived table's
        # checkpoint must not be one file that grows without bound
        parts = _chunks(rows)
        if len(parts) == 1:
            _write_parquet(
                fs, jvm, f"{log}/{target:020d}.checkpoint.parquet", rows,
                CHECKPOINT_SCHEMA,
            )
        else:
            n = len(parts)
            for i, chunk in enumerate(parts, 1):
                name = f"{target:020d}.checkpoint.{i:010d}.{n:010d}.parquet"
                _write_parquet(
                    fs, jvm, f"{log}/{name}", chunk, CHECKPOINT_SCHEMA
                )
            lc["parts"] = n
    _write_small_file(
        fs, jvm, f"{log}/_last_checkpoint", json.dumps(lc), overwrite=True
    )
