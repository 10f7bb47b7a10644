"""Deletion-vector read/write machinery (split from delta_log, r15).

The DV side of the table lifecycle: the Arrow-batched bitmap-decode
kernel and position-frame builders the read path anti-joins against,
and ``delete_where_dv`` — the merge-on-read DELETE that writes roaring
bitmaps instead of rewriting files. The roaring codec itself lives in
``operators.deletion_vectors``.

Reference: delta-io PROTOCOL.md (Deletion Vectors).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import delta_cdf, delta_colmap, delta_scan
from . import delta_log as dl
from .delta_protocol import (
    _PROTOCOL_ACTION,
    _check_append_only,
    _iceberg_compat_version,
    _upgraded_protocol_for_dv,
)
from .hadoop_io import _hadoop_fs, _read_bytes, _write_small_file

#: Deleted-position sets at or below this total broadcast to the DV
#: anti-join (a few million longs ≈ tens of MB); above, the join
#: shuffles both sides like any large join. The total is known from
#: the descriptors' declared cardinalities WITHOUT decoding a bitmap.
DV_BROADCAST_MAX_POSITIONS = 4_000_000

#: At or below this many total positions the driver decodes the
#: bitmaps itself (numpy, microseconds) and ships a ready local
#: relation — no mapInPandas Python-worker round-trip. Above, decode
#: stays executor-side so the driver never holds the exploded list.
DV_DRIVER_DECODE_MAX_POSITIONS = 200_000

#: delete_where_dv: at or below this many MATCHED rows the position
#: list collects to the driver (decode old + union locally — cheap);
#: above, per-file bitmaps serialize EXECUTOR-side via applyInPandas
#: and the driver only ever holds the compressed bytes (r9 VERDICT
#: nit #3 — the erasure path must not be O(deleted rows) in driver
#: memory).
DV_DELETE_DRIVER_MAX_POSITIONS = 2_000_000


def _dv_explode_batches(batches):
    """mapInPandas kernel: (group, file name, cardinality, raw bitmap
    bytes) rows → (group, file name, deleted position) rows. Decode
    happens HERE, on executors — the driver only ever handles the
    compressed bitmaps, so a table with billions of DV'd rows never
    materializes its position list in one place."""
    import pandas as pd

    from portfolio_data_pipelines_spark.operators.deletion_vectors import (
        decode_dv_data,
    )

    for pdf in batches:
        for grp, fn, card, data in zip(
            pdf["__dvp_grp"], pdf["__dvp_fn"], pdf["__dvp_card"],
            pdf["__dvp_data"],
        ):
            pos = decode_dv_data(bytes(data), int(card))
            yield pd.DataFrame(
                {"__dvp_grp": int(grp), "__dvp_fn": fn, "__dvp_pos": pos}
            )


#: rel paths matching this are byte-identical between the log's decoded
#: physical path and Spark's ``input_file_name()`` rendering — the
#: precondition for the fast single-scan DV identity below. Exotic
#: partition values (spaces, non-ASCII) take the grouped path instead.
_URI_SAFE_REL = None  # compiled lazily


def _dv_identity(adds: dict, pcols: list):
    """The physical row-set identity plan for DV filtering / per-file
    position reads. Returns ``(fast, depth, keymap)`` where ``keymap``
    maps rel path → the ``(__dv_grp, __dv_fn)`` pair the scan will
    stamp on that file's rows.

    FAST plan (``fast=True``): every live file sits in the writer's
    hive layout at uniform depth with a URI-safe rel path — identity is
    the rel path itself, recovered in ONE reader call as the last
    ``depth`` segments of ``input_file_name()``. This keeps DV'd reads
    on the same single-scan plan as clean reads.

    GROUPED plan: identity is (partitionValues-group index, basename),
    stamped per scan group — basenames alone are NOT unique across a
    dynamic-partition write's partition dirs (same part number + job
    uuid), but are unique within one group; verified, not assumed."""
    global _URI_SAFE_REL
    if _URI_SAFE_REL is None:
        import re

        _URI_SAFE_REL = re.compile(r"[A-Za-z0-9._=\-/]+")

    def _hive(rel: str) -> bool:
        segs = rel.split("/")
        return len(segs) == len(pcols) + 1 and all(
            s.startswith(f"{c}=") for s, c in zip(segs[:-1], pcols)
        )

    if all(
        _hive(rel) and _URI_SAFE_REL.fullmatch(rel) for rel in adds
    ):
        return True, len(pcols) + 1, {rel: (0, rel) for rel in adds}
    keymap: dict[str, tuple[int, str]] = {}
    for i, (_key, rels) in enumerate(delta_scan._group_adds(adds, pcols)):
        seen: set[str] = set()
        for rel in rels:
            base = rel.rsplit("/", 1)[-1]
            if base in seen:
                raise ValueError(
                    f"duplicate data file basename {base!r} within one "
                    "partitionValues group — DV row identity requires "
                    "per-group-unique basenames"
                )
            seen.add(base)
            keymap[rel] = (i, base)
    return False, 0, keymap


def _dv_positions_df(spark, path: str, dv_adds: dict, keymap: dict):
    """The deleted (group, file name, row position) tuples of the DV'd
    adds, as a DataFrame — the anti-join side of the read path's DV
    filter. Driver work is O(descriptors): it resolves each descriptor
    to its raw bitmap bytes (reading each referenced .bin once via the
    blob cache); positions explode executor-side. Returns (df, total
    declared cardinality) so the caller can pick broadcast vs shuffle."""
    from . import deletion_vectors as dv_codec

    fs, _, jvm = _hadoop_fs(spark, path)
    cache: dict[str, bytes] = {}

    def read_rel(loc: str) -> bytes:
        target = (
            loc if "://" in loc or loc.startswith("/") else f"{path}/{loc}"
        )
        return _read_bytes(fs, jvm, target)

    rows, total = [], 0
    for rel in sorted(dv_adds):
        d = dv_adds[rel]["deletionVector"]
        data = dv_codec.descriptor_data(d, read_rel, cache)
        grp, fn = keymap[rel]
        rows.append((grp, fn, int(d["cardinality"]), bytearray(data)))
        total += int(d["cardinality"])
    if total <= DV_DRIVER_DECODE_MAX_POSITIONS:
        # small DV sets decode on the driver into a local relation —
        # no Python-worker round-trip, the anti-join side is ready-made
        pairs = [
            (grp, fn, int(p))
            for grp, fn, card, data in rows
            for p in dv_codec.decode_dv_data(bytes(data), card)
        ]
        return (
            spark.createDataFrame(
                pairs, "__dvp_grp int, __dvp_fn string, __dvp_pos long"
            ),
            total,
        )
    src = spark.createDataFrame(
        rows,
        "__dvp_grp int, __dvp_fn string, __dvp_card long, __dvp_data binary",
    )
    n_slices = max(1, min(len(rows), spark.sparkContext.defaultParallelism))
    out = src.repartition(n_slices).mapInPandas(
        _dv_explode_batches,
        schema="__dvp_grp int, __dvp_fn string, __dvp_pos long",
    )
    return out, total


def delete_where_dv(
    spark: SparkSession, path: str, predicate: str
) -> int | None:
    """DELETE WHERE without copy-on-write — the deletion-vector form:
    matching rows are marked deleted by writing a roaring bitmap of
    their row positions per file and re-adding each touched file with a
    ``deletionVector`` descriptor (remove + add of the SAME path, the
    spec's in-place update). Data files are never rewritten, so a
    selective delete on a huge table costs O(matched rows), not
    O(touched files' bytes) — the reason the feature exists. Files
    whose every row ends up deleted are simply removed (no descriptor
    pointing at nothing). Returns the committed version, or None when
    nothing matched.

    First use upgrades the protocol to the table-features form (reader
    3 / writer 7) via :func:`_upgraded_protocol_for_dv`, carrying
    previously-implied legacy features into the explicit lists.

    On a CDF-enabled table the matched rows are also materialized as
    ``delete`` change rows (cdc files), so the change feed never needs
    to reconstruct a DV commit.

    Scale: below ``DV_DELETE_DRIVER_MAX_POSITIONS`` matched rows the
    position list collects to the driver (decode + union locally);
    above it each file's bitmap serializes EXECUTOR-side (one
    ``applyInPandas`` over the per-file position groups, existing
    bitmaps shipped compressed in the closure) and the driver only
    ever holds compressed roaring bytes — a 10^8-row erasure costs the
    driver megabytes, not gigabytes. Deletes touching a large fraction
    of the table should still prefer copy-on-write (``write_delta``
    with ``replace_partitions`` / ``merge_delta``), which also keeps
    files from accumulating unbounded DVs; OPTIMIZE compacts DV-heavy
    files through the filter and drops their descriptors.

    Per-file ``stats`` are kept as written (physical file counts) —
    they stay a conservative superset for data skipping, as the spec's
    ``tightBounds=false`` state denotes."""
    import numpy as np

    from . import deletion_vectors as dv_codec

    tx = dl.Txn(spark, path)
    st, fs, jvm = tx.st, tx.fs, tx.jvm
    if _iceberg_compat_version(st.meta):
        raise ValueError(
            "icebergCompat tables cannot take deletion-vector deletes "
            "(Iceberg cannot read DV'd files before compat V3) — use "
            "the copy-on-write delete_where instead"
        )
    _check_append_only(st.meta, True)
    df = delta_scan._read_adds(spark, path, st.adds, st.meta, with_pos=True)
    if df is None:
        return None
    matched = df.filter(F.expr(predicate))
    pcols_log = st.meta.get("partitionColumns", [])
    l2p_map = delta_colmap._logical_to_physical(st.meta)
    pv_cols = [l2p_map.get(c, c) for c in pcols_log] if l2p_map else pcols_log
    by_key = {
        key: rel for rel, key in _dv_identity(st.adds, pv_cols)[2].items()
    }
    cache: dict[str, bytes] = {}

    def read_rel(loc: str) -> bytes:
        target = (
            loc if "://" in loc or loc.startswith("/") else f"{path}/{loc}"
        )
        return _read_bytes(fs, jvm, target)

    # one O(files) pre-count decides WHERE the bitmaps serialize: the
    # driver never learns the position list's size the hard way
    counts = (
        matched.groupBy("__dv_grp", "__dv_fn").count().collect()
    )
    if not counts:
        return None
    n_deleted = sum(int(r["count"]) for r in counts)
    #: (rel, framed-ready bitmap bytes, combined cardinality), sorted
    dv_blobs: list[tuple[str, bytes, int]] = []
    if n_deleted <= DV_DELETE_DRIVER_MAX_POSITIONS:
        # SMALL path: positions collect to the driver (bounded by the
        # constant), old descriptors decode + union locally
        per_file = (
            matched.groupBy("__dv_grp", "__dv_fn")
            .agg(F.sort_array(F.collect_list("__dv_pos")).alias("pos"))
            .collect()
        )
        for row in sorted(
            per_file, key=lambda r: (r["__dv_grp"], r["__dv_fn"])
        ):
            rel = by_key[(row["__dv_grp"], row["__dv_fn"])]
            new_pos = np.asarray(row["pos"], dtype=np.int64)
            old_desc = st.adds[rel].get("deletionVector")
            if old_desc:
                combined = np.union1d(
                    dv_codec.descriptor_positions(
                        old_desc, read_rel, cache
                    ),
                    new_pos,
                )
            else:
                combined = new_pos
            dv_blobs.append(
                (rel, dv_codec.serialize_roaring64(combined), len(combined))
            )
    else:
        # BIG path (r9 VERDICT nit #3): positions NEVER reach the
        # driver — each file's group serializes its own roaring bitmap
        # executor-side (one applyInPandas over the (file, positions)
        # groups), merging the file's EXISTING bitmap (shipped raw in
        # the closure — compressed bytes, O(descriptors) not
        # O(positions)); the driver collects only the compressed
        # bitmaps for framing. A 10^8-row erasure costs the driver
        # megabytes, not gigabytes. Only files with MATCHED rows (the
        # keys in `counts`) ship their existing bitmaps — untouched
        # files' DVs never enter the closure, so its size scales with
        # the delete's footprint, not the table's total DV bytes.
        matched_keys = {(int(r["__dv_grp"]), r["__dv_fn"]) for r in counts}
        old_raw = {
            keymap_key: (
                dv_codec.descriptor_data(
                    st.adds[rel]["deletionVector"], read_rel, cache
                ),
                int(st.adds[rel]["deletionVector"]["cardinality"]),
            )
            for keymap_key, rel in by_key.items()
            if keymap_key in matched_keys
            and st.adds[rel].get("deletionVector")
        }

        def _serialize_group(key, pdf):
            import numpy as _np
            import pandas as _pd

            from portfolio_data_pipelines_spark.operators import (
                deletion_vectors as _dvc,
            )

            pos = _np.sort(pdf["__dv_pos"].to_numpy(_np.int64))
            old = old_raw.get((int(key[0]), key[1]))
            if old is not None:
                pos = _np.union1d(_dvc.decode_dv_data(old[0], old[1]), pos)
            return _pd.DataFrame(
                {
                    "__dvw_grp": [int(key[0])],
                    "__dvw_fn": [key[1]],
                    "__dvw_card": [int(len(pos))],
                    "__dvw_data": [bytearray(
                        _dvc.serialize_roaring64(pos)
                    )],
                }
            )

        out = (
            matched.select("__dv_grp", "__dv_fn", "__dv_pos")
            .groupBy("__dv_grp", "__dv_fn")
            .applyInPandas(
                _serialize_group,
                schema=(
                    "__dvw_grp int, __dvw_fn string, "
                    "__dvw_card long, __dvw_data binary"
                ),
            )
            .collect()
        )
        for row in sorted(out, key=lambda r: (r["__dvw_grp"], r["__dvw_fn"])):
            rel = by_key[(row["__dvw_grp"], row["__dvw_fn"])]
            dv_blobs.append(
                (rel, bytes(row["__dvw_data"]), int(row["__dvw_card"]))
            )
    fully_dead: list[str] = []
    dv_files: list[tuple[str, bytes, int]] = []
    for rel, blob_bytes, card in dv_blobs:
        a = st.adds[rel]
        n_records = None
        if a.get("stats"):
            n_records = json.loads(a["stats"]).get("numRecords")
        if n_records is not None and card >= int(n_records):
            fully_dead.append(rel)
        else:
            dv_files.append((rel, blob_bytes, card))
    descriptors: dict[str, dict] = {}
    if dv_files:
        # one framed .bin per commit holding every touched file's
        # bitmap, as delta-spark's DeletionVectorStore lays them out
        blob, metas = dv_codec.frame_dv_blob(
            [b for _rel, b, _c in dv_files]
        )
        poi, bin_rel = dv_codec.new_dv_file_name()
        _write_small_file(
            fs, jvm, f"{path}/{bin_rel}", blob, overwrite=False
        )
        tx.written.append(bin_rel)
        for (rel, _b, card), (off, size) in zip(dv_files, metas):
            descriptors[rel] = {
                "storageType": "u",
                "pathOrInlineDv": poi,
                "offset": off,
                "sizeInBytes": size,
                "cardinality": int(card),
            }
    cdc_actions: list[dict] = []
    if delta_cdf._cdf_enabled(st.meta):
        schema = dl._spark_schema_from_string(st.meta["schemaString"])
        cols = [f.name for f in schema.fields]
        cdc_actions = delta_cdf._stage_cdc_files(
            spark, fs, jvm, path,
            matched.select(
                *cols, F.lit("delete").alias("_change_type")
            ),
            tx.version,
            delta_colmap._logical_to_physical(st.meta),
        )
    actions: list[dict] = []
    proto = dict(st.protocol or _PROTOCOL_ACTION["protocol"])
    if "deletionVectors" not in (proto.get("readerFeatures") or []):
        actions.append({"protocol": _upgraded_protocol_for_dv(proto)})
    actions.extend(cdc_actions)
    actions.extend(
        tx.remove(rel, deletion_vector=st.adds[rel].get("deletionVector"))
        for rel in fully_dead + [r for r, _b, _c in dv_files]
    )
    # the re-adds point at live files: passed as plain actions, never
    # as staged files the transaction would delete on a lost race
    for rel, _b, _c in dv_files:
        a = dict(st.adds[rel])
        a["path"] = dl._encode_path(rel)
        a["dataChange"] = True
        a["deletionVector"] = descriptors[rel]
        if a.get("stats"):
            # the spec's wide-bounds marker: numRecords stays the
            # PHYSICAL row count and min/max remain (valid) supersets
            # once rows are DV'd; skipping stays conservative-correct
            doc = json.loads(a["stats"])
            doc["tightBounds"] = False
            a["stats"] = json.dumps(doc, sort_keys=True)
        actions.append({"add": a})
    return tx.commit(
        "DELETE",
        {"predicate": predicate},
        actions,
        metrics={
            "numDeletedRows": str(n_deleted),
            "numRemovedFiles": str(len(fully_dead)),
            "numDeletionVectorsAdded": str(len(dv_files)),
        },
    )
