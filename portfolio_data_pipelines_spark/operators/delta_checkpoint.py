"""Delta checkpoint machinery (split from delta_log, r15).

Writing parquet checkpoints of the log state — classic single-file,
multi-part (V.checkpoint.{i}.{n}.parquet + ``parts``), and v2
(UUID-named manifest + sidecars) — plus the ``_last_checkpoint``
pointer and checkpoint-file discovery used by log replay.

Reference: delta-io PROTOCOL.md (Checkpoints, V2 Checkpoints).
"""

from __future__ import annotations

import json
import os
import re
import uuid

from pyspark.sql import SparkSession

from . import delta_log as dl
from .delta_protocol import _PROTOCOL_ACTION
from .hadoop_io import _hadoop_fs, _local_path, _write_small_file

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


def _read_last_checkpoint_doc(fs, jvm, path: str) -> dict | None:
    ps = f"{path}/_delta_log/_last_checkpoint"
    lp = _local_path(ps)
    if lp is not None and not os.path.exists(lp):
        return None
    if lp is None and not fs.exists(jvm.org.apache.hadoop.fs.Path(ps)):
        return None
    return json.loads(dl._read_text(fs, jvm, ps))


def _checkpoint_files(fs, jvm, path: str, lc: dict) -> list[str]:
    """Checkpoint parquet file(s) for a ``_last_checkpoint`` doc. This
    writer emits the classic single-file form, but the spec also allows
    MULTI-PART checkpoints (``_last_checkpoint`` carries ``parts``: N
    files named ``V.checkpoint.{i:010d}.{N:010d}.parquet``) and the
    UUID-named V2 form (``V.checkpoint.<uuid>.parquet``, what
    delta-spark writes by default on modern tables) — a conformant
    reader must accept all three. The V2 name is unpredictable, so its
    probe is the one place checkpoint discovery pays a directory
    listing, and only after the classic-name probe missed (never on
    this writer's own tables)."""
    v = int(lc["version"])
    parts = lc.get("parts")
    if parts:
        n = int(parts)
        return [
            f"{path}/_delta_log/{v:020d}.checkpoint.{i:010d}.{n:010d}.parquet"
            for i in range(1, n + 1)
        ]
    classic = f"{path}/_delta_log/{v:020d}.checkpoint.parquet"
    lcl = _local_path(classic)
    if (
        os.path.exists(lcl)
        if lcl is not None
        else fs.exists(jvm.org.apache.hadoop.fs.Path(classic))
    ):
        return [classic]
    prefix = f"{v:020d}.checkpoint."
    log_dir = jvm.org.apache.hadoop.fs.Path(f"{path}/_delta_log")
    # the spec allows V2 manifests in BOTH formats: parquet AND NDJSON
    # (V.checkpoint.<uuid>.json) — probe both; .json is parsed by the
    # caller as line-delimited actions
    found = sorted(
        st.getPath().getName()
        for st in fs.listStatus(log_dir)
        if st.getPath().getName().startswith(prefix)
        and (
            st.getPath().getName().endswith(".parquet")
            or st.getPath().getName().endswith(".json")
        )
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


def checkpoint_delta(spark: SparkSession, path: str, version: int) -> None:
    """Write a parquet checkpoint of the table state at ``version`` and
    point ``_last_checkpoint`` at it — the Delta reader fast path.

    The checkpoint carries one row per action (protocol, metaData, and
    each live add) in the spec's flattened column layout; sizes stay
    O(live files), and subsequent reads cost one small JSON + one
    parquet + the commit tail."""
    from pyspark.sql.types import (
        ArrayType, BooleanType, LongType, MapType, StringType, StructField,
        StructType,
    )

    st = dl._replay_log(spark, path, version)
    target, adds, meta, txns = st.version, st.adds, st.meta, st.txns
    # tombstones ride the checkpoint (within retention) so vacuum can
    # still date deletions after old commits are cleaned up
    cutoff = dl._now_ms() - TOMBSTONE_RETENTION_MS
    removes = {
        r: rm for r, rm in st.removes.items()
        if rm["deletionTimestamp"] >= cutoff
    }
    if meta is None:
        raise ValueError("cannot checkpoint a log without metaData")
    # the checkpoint schema must carry EVERY field replay depends on —
    # a checkpoint that silently dropped deletionVector descriptors
    # would permanently resurrect deleted rows for any reader anchored
    # on it, and one that dropped protocol feature lists would emit a
    # malformed reader-v3 protocol
    dv_t = StructType(
        [
            StructField("storageType", StringType()),
            StructField("pathOrInlineDv", StringType()),
            StructField("offset", LongType()),
            StructField("sizeInBytes", LongType()),
            StructField("cardinality", LongType()),
        ]
    )
    add_t = StructType(
        [
            StructField("path", StringType()),
            StructField("partitionValues", MapType(StringType(), StringType())),
            StructField("size", LongType()),
            StructField("modificationTime", LongType()),
            StructField("dataChange", BooleanType()),
            StructField("stats", StringType()),
            StructField("deletionVector", dv_t),
            # rowTracking: a checkpoint that dropped these would
            # permanently re-id every row for checkpoint-anchored
            # readers (the r8 DV lesson, applied up front)
            StructField("baseRowId", LongType()),
            StructField("defaultRowCommitVersion", LongType()),
        ]
    )
    meta_t = StructType(
        [
            StructField("id", StringType()),
            StructField(
                "format",
                StructType(
                    [
                        StructField("provider", StringType()),
                        StructField(
                            "options", MapType(StringType(), StringType())
                        ),
                    ]
                ),
            ),
            StructField("schemaString", StringType()),
            StructField("partitionColumns", ArrayType(StringType())),
            StructField("configuration", MapType(StringType(), StringType())),
            StructField("createdTime", LongType()),
        ]
    )
    proto_t = StructType(
        [
            StructField("minReaderVersion", LongType()),
            StructField("minWriterVersion", LongType()),
            StructField("readerFeatures", ArrayType(StringType())),
            StructField("writerFeatures", ArrayType(StringType())),
        ]
    )
    txn_t = StructType(
        [
            StructField("appId", StringType()),
            StructField("version", LongType()),
            StructField("lastUpdated", LongType()),
        ]
    )
    remove_t = StructType(
        [
            StructField("path", StringType()),
            StructField("deletionTimestamp", LongType()),
            StructField("dataChange", BooleanType()),
            StructField("deletionVector", dv_t),
        ]
    )
    dm_t = StructType(
        [
            StructField("domain", StringType()),
            StructField("configuration", StringType()),
            StructField("removed", BooleanType()),
        ]
    )
    schema = StructType(
        [
            StructField("protocol", proto_t),
            StructField("metaData", meta_t),
            StructField("add", add_t),
            StructField("txn", txn_t),
            StructField("remove", remove_t),
            StructField("domainMetadata", dm_t),
        ]
    )
    base = {"protocol": None, "metaData": None, "add": None, "txn": None,
            "remove": None, "domainMetadata": None}
    proto = dict(st.protocol or _PROTOCOL_ACTION["protocol"])

    def _dv_struct(d: dict | None) -> dict | None:
        if not d:
            return None
        return {
            "storageType": d["storageType"],
            "pathOrInlineDv": d["pathOrInlineDv"],
            "offset": int(d["offset"]) if d.get("offset") is not None else None,
            "sizeInBytes": int(d["sizeInBytes"]),
            "cardinality": int(d["cardinality"]),
        }

    rows = [
        # carry the TABLE'S protocol, not a constant — a checkpoint
        # after a column-mapping upgrade must keep reader v2 (and a
        # feature-granular one its feature lists), or a checkpoint-
        # anchored replay would silently downgrade it
        {**base, "protocol": {
            "minReaderVersion": int(proto["minReaderVersion"]),
            "minWriterVersion": int(proto["minWriterVersion"]),
            "readerFeatures": proto.get("readerFeatures"),
            "writerFeatures": proto.get("writerFeatures"),
        }},
        {**base, "metaData": meta},
    ]
    for rel in sorted(removes):
        rm = removes[rel]
        rows.append(
            {**base,
             "remove": {"path": dl._encode_path(rel),
                        "deletionTimestamp": int(rm["deletionTimestamp"]),
                        "dataChange": bool(rm["dataChange"]),
                        "deletionVector": _dv_struct(rm.get("deletionVector"))}}
        )
    for app_id in sorted(txns):
        # the spec keeps the latest txn per appId in checkpoints, so the
        # exactly-once ledger survives log cleanup
        rows.append(
            {**base,
             "txn": {"appId": app_id, "version": int(txns[app_id]),
                     "lastUpdated": 0}}
        )
    for domain in sorted(st.domain_metadata or {}):
        # the spec keeps the latest domainMetadata per live domain
        rows.append(
            {**base,
             "domainMetadata": {
                 "domain": domain,
                 "configuration": st.domain_metadata[domain],
                 "removed": False,
             }}
        )
    for rel in sorted(adds):
        a = adds[rel]
        rows.append(
            {**base,
             "add": {
                 "path": dl._encode_path(a["path"]),
                 "partitionValues": a.get("partitionValues", {}),
                 "size": int(a.get("size", 0)),
                 "modificationTime": int(a.get("modificationTime", 0)),
                 "dataChange": bool(a.get("dataChange", True)),
                 "stats": a.get("stats"),
                 "deletionVector": _dv_struct(a.get("deletionVector")),
                 "baseRowId": (
                     int(a["baseRowId"])
                     if a.get("baseRowId") is not None else None
                 ),
                 "defaultRowCommitVersion": (
                     int(a["defaultRowCommitVersion"])
                     if a.get("defaultRowCommitVersion") is not None
                     else None
                 ),
             }}
        )
    # Below the part threshold the spec's classic single FILE
    # NNN.checkpoint.parquet is written; above it, the MULTI-PART form
    # NNN.checkpoint.%010d.%010d.parquet with ``parts`` recorded in
    # _last_checkpoint — a long-lived table's checkpoint must not be
    # one file that grows without bound (at 100 TB the live-file list
    # alone is millions of actions; parts keep each write and each
    # reader-side scan unit bounded). Both this repo's readers and the
    # feed consume either form.
    import math

    fs, _, jvm = _hadoop_fs(spark, path)

    def _promote(tmp_dir: str, dst_name: str) -> None:
        """Write-to-temp + rename: the lone part file of ``tmp_dir``
        becomes ``_delta_log/<dst_name>``."""
        part = next(
            st.getPath()
            for st in fs.listStatus(jvm.org.apache.hadoop.fs.Path(tmp_dir))
            if st.getPath().getName().endswith(".parquet")
        )
        dst = jvm.org.apache.hadoop.fs.Path(f"{path}/_delta_log/{dst_name}")
        fs.delete(dst, False)
        if not fs.rename(part, dst):
            raise IOError(f"rename failed for checkpoint {dst_name}")
        fs.delete(jvm.org.apache.hadoop.fs.Path(tmp_dir), True)

    if "v2Checkpoint" in (
        (st.protocol or {}).get("writerFeatures") or []
    ):
        # v2Checkpoint table contract: the checkpoint MUST be the V2
        # layout — a UUID-named main file holding the non-file actions
        # plus checkpointMetadata and sidecar refs, with add/remove
        # actions in _sidecars/ parquet files (chunked by the same
        # action bound as multi-part classic checkpoints)
        from pyspark.sql.types import LongType, StringType as _S
        from pyspark.sql.types import StructField as _F, StructType as _T

        file_rows = [r for r in rows if r.get("add") or r.get("remove")]
        other_rows = [
            r for r in rows if not (r.get("add") or r.get("remove"))
        ]
        cm_t = _T([_F("version", LongType())])
        sc_t = _T([_F("path", _S()), _F("sizeInBytes", LongType())])
        main_schema = _T(
            list(schema.fields)
            + [_F("checkpointMetadata", cm_t), _F("sidecar", sc_t)]
        )
        base2 = {**base, "checkpointMetadata": None, "sidecar": None}
        main_rows = [
            {**base2, **r} for r in other_rows
        ] + [{**base2, "checkpointMetadata": {"version": target}}]
        n_sc = max(1, math.ceil(len(file_rows) / CHECKPOINT_PART_ACTIONS))
        per = math.ceil(len(file_rows) / n_sc) if file_rows else 0
        for i in range(n_sc if file_rows else 0):
            chunk = file_rows[i * per : (i + 1) * per]
            sc_name = f"{uuid.uuid4().hex}.parquet"
            tmp = f"{path}/_delta_log/_cp_tmp_sc_{target:020d}_{i}"
            spark.createDataFrame(chunk, schema=schema).coalesce(
                1
            ).write.mode("overwrite").parquet(tmp)
            part = next(
                s.getPath()
                for s in fs.listStatus(jvm.org.apache.hadoop.fs.Path(tmp))
                if s.getPath().getName().endswith(".parquet")
            )
            dst = jvm.org.apache.hadoop.fs.Path(
                f"{path}/_delta_log/_sidecars/{sc_name}"
            )
            fs.mkdirs(dst.getParent())
            if not fs.rename(part, dst):
                raise IOError(f"rename failed for sidecar {sc_name}")
            fs.delete(jvm.org.apache.hadoop.fs.Path(tmp), True)
            main_rows.append(
                {
                    **base2,
                    "sidecar": {
                        "path": sc_name,
                        "sizeInBytes": int(fs.getFileStatus(dst).getLen()),
                    },
                }
            )
        tmp = f"{path}/_delta_log/_cp_tmp_{target:020d}"
        spark.createDataFrame(main_rows, schema=main_schema).coalesce(
            1
        ).write.mode("overwrite").parquet(tmp)
        _promote(tmp, f"{target:020d}.checkpoint.{uuid.uuid4().hex}.parquet")
        _write_small_file(
            fs, jvm, f"{path}/_delta_log/_last_checkpoint",
            json.dumps({"version": target, "size": len(rows)}),
            overwrite=True,
        )
        return

    n_parts = max(1, math.ceil(len(rows) / CHECKPOINT_PART_ACTIONS))
    if n_parts == 1:
        tmp = f"{path}/_delta_log/_cp_tmp_{target:020d}"
        spark.createDataFrame(rows, schema=schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        _promote(tmp, f"{target:020d}.checkpoint.parquet")
        lc = {"version": target, "size": len(rows)}
    else:
        per = math.ceil(len(rows) / n_parts)
        for i in range(n_parts):
            chunk = rows[i * per : (i + 1) * per]
            tmp = f"{path}/_delta_log/_cp_tmp_{target:020d}_{i + 1:010d}"
            spark.createDataFrame(chunk, schema=schema).coalesce(
                1
            ).write.mode("overwrite").parquet(tmp)
            _promote(
                tmp,
                f"{target:020d}.checkpoint."
                f"{i + 1:010d}.{n_parts:010d}.parquet",
            )
        lc = {"version": target, "size": len(rows), "parts": n_parts}
    _write_small_file(
        fs, jvm, f"{path}/_delta_log/_last_checkpoint",
        json.dumps(lc),
        overwrite=True,
    )
