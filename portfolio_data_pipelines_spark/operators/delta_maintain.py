"""Table maintenance & lifecycle ops (split from delta_log, r16).

The operational side of the table lifecycle — everything a table
administrator runs BETWEEN data commits: layout maintenance
(``optimize_delta`` bin-packing / ZORDER / liquid-clustering passes,
``purge_delta``'s REORG APPLY (PURGE) DV materialization), protocol
hygiene (``drop_table_feature``), rollback (``restore_delta``),
introspection (``describe_detail`` / ``describe_history``), physical
reclamation (``vacuum_delta`` for data + DV files, ``cleanup_log`` for
the metadata tail), the domain-metadata channel and the liquid
clustering state it powers, and the one-shot in-place converter
(``convert_parquet_to_delta``).

Reference: delta-io PROTOCOL.md (Optimize / Reorg / Restore / Vacuum /
Domain Metadata / Clustered Tables / Table Features) and delta-spark's
matching DDL surface.
"""

from __future__ import annotations

import datetime as _dt
import json

from pyspark.sql import DataFrame, SparkSession

from . import delta_cdf, delta_checkpoint, delta_colmap, delta_scan
from . import delta_log as dl
from .delta_protocol import (
    _DROPPABLE_FEATURES,
    _PROTOCOL_ACTION,
    _check_append_only,
    _check_writer_protocol,
    _downgraded_protocol,
    _upgraded_protocol_writer_only,
)
from .hadoop_io import _hadoop_fs


def optimize_delta(
    spark: SparkSession,
    path: str,
    partitions: list[str] | None = None,
    zorder_by: list[str] | None = None,
    n_files: int = 8,
) -> int | None:
    """OPTIMIZE-style bin-packing: partitions holding more than one
    live file are rewritten as one file each, committed with
    ``dataChange=false`` adds and removes — readers see identical rows,
    the change feed correctly skips the commit (it filters on
    dataChange), and time travel to pre-compaction versions keeps
    working because the small files are only tombstoned. Returns the
    committed version, or None when nothing needed compaction.

    ``partitions`` restricts the pass: scalars name values of the
    FIRST partition column (every sub-partition under them), prefix
    tuples in partition-column order scope an exact cell of a
    multi-level layout (``("EU", "2024-01-02")``), and dicts
    ``{col: value}`` scope any subset of levels — see
    :func:`delta_log._partition_scope_matcher`. At scale you compact
    the partitions the streaming sink just peppered with micro-batch
    files, not the whole table.

    On a LIQUID-CLUSTERED table (:func:`enable_clustering`) an
    OPTIMIZE without an explicit ``zorder_by`` clusters on the
    recorded columns automatically — the maintenance duty of the
    ``clustering`` feature.

    ``zorder_by`` is Delta's OPTIMIZE ZORDER BY: every live file in
    scope (not just multi-file partitions) is rewritten range-
    partitioned on the Morton code of the named columns into
    ``n_files`` files, so the stats document each add carries becomes
    SELECTIVE on every clustered column simultaneously — this is what
    turns ``read_delta(predicate=...)``'s file skipping from
    partition-grain into value-grain. The commit stays
    dataChange=false (layout, not content); a predicate that matched N
    files on the round-robin layout matches ~N/n_files after."""
    tx = dl.Txn(spark, path)
    st = tx.st
    pcols = st.meta.get("partitionColumns", [])
    if partitions is not None and not pcols:
        raise ValueError(
            "partitions scope given but the table is unpartitioned"
        )
    if zorder_by is None:
        # liquid clustering's OPTIMIZE duty: a clustered table's
        # maintenance pass clusters on the recorded columns (the domain
        # stores PHYSICAL name paths — translate back to logical so the
        # sort expression below resolves against the read frame)
        cc = _clustering_logical_columns(st)
        if cc:
            zorder_by = cc
    doomed_adds: dict[str, dict] = {}
    by_key: dict[tuple, list[str]] = {}
    scope = (
        dl._partition_scope_matcher(partitions, pcols)
        if partitions is not None
        else None
    )
    l2p = delta_colmap._logical_to_physical(st.meta)
    pv_cols = [l2p.get(c, c) for c in pcols] if l2p else pcols
    for rel, a in sorted(st.adds.items()):
        key = tuple(a.get("partitionValues", {}).get(c) for c in pv_cols)
        if scope is not None and not scope(key):
            continue
        by_key.setdefault(key, []).append(rel)
    if zorder_by is not None:
        # clustering rewrites EVERYTHING in scope — single-file
        # partitions still need re-sorting into the z-order layout
        doomed_groups = dict(by_key)
    else:
        doomed_groups = {k: rels for k, rels in by_key.items() if len(rels) > 1}
    if not doomed_groups:
        return None
    for rels in doomed_groups.values():
        for rel in rels:
            doomed_adds[rel] = st.adds[rel]
    rt = dl._row_tracking_supported(st.protocol)
    compacted = delta_scan._read_adds(spark, path, doomed_adds, st.meta, row_ids=rt)
    if rt:
        # compaction must not re-id rows: persist each row's id AND its
        # original commit version into the hidden materialized columns
        compacted = dl._rt_materialize(compacted, st.meta)
    if zorder_by is not None:
        from .zorder import zorder_key

        keyed, helper_cols = zorder_key(compacted, list(zorder_by))
        compacted = (
            keyed.repartitionByRange(n_files, *pcols, "_z")
            .sortWithinPartitions(*pcols, "_z")
            .drop(*helper_cols)
        )
    # ~one output file per compacted partition: one task per partition
    # value combination after the repartition
    elif pcols:
        compacted = compacted.repartition(len(doomed_groups), *pcols)
    else:
        compacted = compacted.coalesce(1)
    adds = tx.stage(compacted, pcols, data_change=False, l2p=l2p)
    return tx.commit(
        "OPTIMIZE",
        {
            **({"zOrderBy": list(zorder_by)} if zorder_by else {}),
            **({"predicate": partitions} if partitions is not None else {}),
        },
        [
            tx.remove(rel, data_change=False)
            for rels in doomed_groups.values()
            for rel in sorted(rels)
        ],
        staged=adds,
        metrics=dl._add_metrics(adds, len(doomed_adds)),
    )


def purge_delta(
    spark: SparkSession,
    path: str,
    partitions: list[str] | None = None,
) -> int | None:
    """REORG TABLE ... APPLY (PURGE): rewrite exactly the live files
    that carry a ``deletionVector`` descriptor, materializing their
    surviving rows into fresh descriptor-free files — the soft deletes
    become hard. Logical row content is unchanged, so the commit is
    ``dataChange=false`` (the change feed skips it, as it skips
    OPTIMIZE) and time travel to pre-purge versions keeps filtering
    through the old DVs, which stay on disk until their tombstones age
    out. After a full-table purge no live add references a DV — the
    precondition :func:`drop_table_feature` checks before downgrading
    the protocol — and a later :func:`vacuum_delta` reclaims both the
    superseded data files and their now-unreferenced ``.bin`` bitmaps.

    ``partitions`` scopes the pass exactly as in :func:`optimize_delta`
    (scalars, prefix tuples, or ``{col: value}`` dicts). Returns the
    committed version, or None when nothing in scope carries a DV.

    Scale shape: cost is O(bytes of DV'd files only) — untouched files
    are never read or rewritten, so purging a table where deletes hit
    a few partitions rewrites just those, unlike a copy-on-write
    DELETE which would have paid this cost up front on every delete.

    delta-spark parity: ``REORG TABLE ... APPLY (PURGE)`` (a thin
    OPTIMIZE variant there too). The reference (215-line Polars/dbt
    core) has no lakehouse layer; this completes the DV lifecycle of
    the round-7+ Delta family."""
    tx = dl.Txn(spark, path)
    st = tx.st
    pcols = st.meta.get("partitionColumns", [])
    if partitions is not None and not pcols:
        raise ValueError(
            "partitions scope given but the table is unpartitioned"
        )
    l2p = delta_colmap._logical_to_physical(st.meta)
    pv_cols = [l2p.get(c, c) for c in pcols] if l2p else pcols
    scope = (
        dl._partition_scope_matcher(partitions, pcols)
        if partitions is not None
        else None
    )
    doomed: dict[str, dict] = {}
    for rel, a in sorted(st.adds.items()):
        if not a.get("deletionVector"):
            continue
        key = tuple(a.get("partitionValues", {}).get(c) for c in pv_cols)
        if scope is not None and not scope(key):
            continue
        doomed[rel] = a
    if not doomed:
        return None
    rt = dl._row_tracking_supported(st.protocol)
    purged = delta_scan._read_adds(spark, path, doomed, st.meta, row_ids=rt)
    if rt:
        # a purge rewrite keeps surviving rows' ids and commit versions
        purged = dl._rt_materialize(purged, st.meta)
    # ~one output file per purged partition cell (mirrors OPTIMIZE);
    # the groupBy-free repartition keeps this a single shuffle
    n_groups = len(
        {
            tuple(a.get("partitionValues", {}).get(c) for c in pv_cols)
            for a in doomed.values()
        }
    )
    purged = (
        purged.repartition(n_groups, *pcols) if pcols else purged.coalesce(1)
    )
    adds = tx.stage(purged, pcols, data_change=False, l2p=l2p)
    return tx.commit(
        "REORG",
        {
            "applyPurge": True,
            **({"predicate": partitions} if partitions is not None else {}),
        },
        # each remove carries the superseded descriptor (as the spec's
        # in-place-update convention requires) so vacuum can age the
        # .bin from this tombstone without log archaeology
        [
            tx.remove(
                rel, data_change=False,
                deletion_vector=doomed[rel]["deletionVector"],
            )
            for rel in sorted(doomed)
        ],
        staged=adds,
        metrics={
            **dl._add_metrics(adds, len(doomed)),
            "numDeletionVectorsRemoved": str(len(doomed)),
        },
    )


def set_domain_metadata(
    spark: SparkSession,
    path: str,
    domain: str,
    configuration,
) -> int:
    """Record a ``domainMetadata`` action — the spec's named-domain
    key/value channel that rides the transaction log transactionally
    with the commits around it (the mechanism behind row tracking and
    clustering state in delta-spark; here exposed for application
    domains). First use upgrades the protocol to writer 7 with the
    ``domainMetadata`` WRITER feature — readers are unaffected, per the
    spec's writer-only classification. ``configuration`` may be a JSON
    string or a dict (serialized here). Domains starting with
    ``delta.`` are reserved for the spec's system domains and refused.
    Returns the committed version.

    Scale: one metadata-only commit; replay keeps the latest state per
    domain and checkpoints carry live domains, so lookup cost never
    grows with history."""
    if domain.startswith("delta."):
        raise ValueError(
            f"domain {domain!r} is reserved (delta.* is the spec's "
            "system namespace)"
        )
    if not isinstance(configuration, str):
        configuration = json.dumps(configuration, sort_keys=True)
    tx = dl.Txn(spark, path)
    proto = dict(tx.st.protocol or _PROTOCOL_ACTION["protocol"])
    actions: list[dict] = []
    if "domainMetadata" not in (proto.get("writerFeatures") or []):
        actions.append(
            {"protocol": _upgraded_protocol_writer_only(
                proto, "domainMetadata"
            )}
        )
    actions.append(
        {
            "domainMetadata": {
                "domain": domain,
                "configuration": configuration,
                "removed": False,
            }
        }
    )
    return tx.commit("SET DOMAIN METADATA", {"domain": domain}, actions)


def remove_domain_metadata(
    spark: SparkSession, path: str, domain: str
) -> int:
    """Tombstone a metadata domain (``removed: true``) — replay drops
    it, and checkpoints stop carrying it. Raises if the domain is not
    currently set."""
    tx = dl.Txn(spark, path)
    if domain not in (tx.st.domain_metadata or {}):
        raise ValueError(f"domain {domain!r} is not set on {path}")
    return tx.commit(
        "REMOVE DOMAIN METADATA", {"domain": domain},
        [{"domainMetadata": {
            "domain": domain, "configuration": "", "removed": True,
        }}],
    )


def get_domain_metadata(
    spark: SparkSession, path: str, version: int | None = None
) -> dict[str, str]:
    """{domain: configuration json string} live at ``version`` (latest
    when None) — replayed state, so it reflects removals."""
    return dict(dl._replay_log(spark, path, version).domain_metadata or {})


_CLUSTERING_DOMAIN = "delta.clustering"


def enable_clustering(
    spark: SparkSession, path: str, columns: list[str]
) -> int:
    """ALTER TABLE ... CLUSTER BY — Delta's liquid clustering state:
    one metadata-only commit that records the clustering columns in the
    ``delta.clustering`` metadata domain (the layout delta-spark uses)
    and upgrades the protocol with the ``clustering`` +
    ``domainMetadata`` writer features (delta-spark's feature name) (reader side untouched — a
    clustered table reads like any other). Afterwards
    :func:`optimize_delta` with no ``zorder_by`` clusters on these
    columns automatically (the incremental-clustering shape; the
    Hilbert-vs-Morton difference is a layout quality detail, not a
    correctness one). Pass a new column list to re-cluster; future
    OPTIMIZE passes pick it up. Returns the committed version.

    Scale: clustering state is O(1) metadata; each OPTIMIZE pass
    rewrites only the files in its scope, exactly as ZORDER does."""
    tx = dl.Txn(spark, path)
    st = tx.st
    schema = dl._spark_schema_from_string(st.meta["schemaString"])
    known = {f.name for f in schema.fields}
    missing = sorted(set(columns) - known)
    if missing:
        raise ValueError(f"clustering columns {missing} not in schema")
    pcols = st.meta.get("partitionColumns", [])
    overlap = sorted(set(columns) & set(pcols))
    if overlap:
        raise ValueError(
            f"clustering columns {overlap} are partition columns — "
            "liquid clustering and hive partitioning are exclusive "
            "per column"
        )
    proto = dict(st.protocol or _PROTOCOL_ACTION["protocol"])
    proto = _upgraded_protocol_writer_only(proto, "clustering")
    proto = _upgraded_protocol_writer_only(proto, "domainMetadata")
    l2p = delta_colmap._logical_to_physical(st.meta) or {}
    return tx.commit(
        "CLUSTER BY", {"clusterBy": list(columns)},
        [
            {"protocol": proto},
            {
                "domainMetadata": {
                    "domain": _CLUSTERING_DOMAIN,
                    "configuration": json.dumps(
                        # the spec's form: each entry is the PHYSICAL
                        # name path of one clustering column — on a
                        # column-mapped table that is the col-<uuid>
                        # name, so foreign engines resolve correctly
                        {
                            "clusteringColumns": [
                                [l2p.get(c, c)] for c in columns
                            ]
                        },
                        sort_keys=True,
                    ),
                    "removed": False,
                }
            },
        ],
    )


def _clustering_logical_columns(st: dl.LogState) -> list[str]:
    """The table's liquid-clustering columns in LOGICAL names: the
    ``delta.clustering`` domain records PHYSICAL name paths (the form
    foreign engines expect), so on a column-mapped table each entry is
    translated back through the mapping before callers use it in
    expressions or surface it to users."""
    raw = (st.domain_metadata or {}).get(_CLUSTERING_DOMAIN)
    if not raw or st.meta is None:
        return []
    p2l = {
        p: l for l, p in (delta_colmap._logical_to_physical(st.meta) or {}).items()
    }
    return [
        p2l.get(p[-1], p[-1])
        for p in json.loads(raw).get("clusteringColumns", [])
    ]


def clustering_columns(spark: SparkSession, path: str) -> list[str]:
    """The table's liquid-clustering columns (empty when unclustered)."""
    return _clustering_logical_columns(dl._replay_log(spark, path, None))


def drop_table_feature(spark: SparkSession, path: str, feature: str) -> int:
    """ALTER TABLE ... DROP FEATURE: remove a table feature from the
    protocol once the LIVE state provably no longer uses it, emitting
    one metadata-only commit with the downgraded protocol action.
    Refuses (before writing anything) while any live add still carries
    a ``deletionVector`` descriptor — run :func:`purge_delta` first.
    Returns the committed version.

    Spec honesty: delta-spark's full flow is two-phase (drop, then a
    24-hour wait or ``TRUNCATE HISTORY``) because HISTORICAL commits
    still contain DV actions that a pre-features reader could misread
    when time traveling. This writer collapses that to one commit:
    reads at HEAD are safe for any reader (the live set is
    descriptor-free, and unknown fields on old removes are ignored per
    spec), while time travel INTO the DV'd history re-resolves the
    protocol as of that version — reader-version-3 — and so stays
    gated on actual DV support in both this engine and the external
    reader."""
    if feature not in _DROPPABLE_FEATURES:
        raise ValueError(
            f"feature {feature!r} is not droppable by this writer "
            f"(droppable: {sorted(_DROPPABLE_FEATURES)})"
        )
    tx = dl.Txn(spark, path)
    st = tx.st
    proto = dict(st.protocol or _PROTOCOL_ACTION["protocol"])
    if feature not in (proto.get("readerFeatures") or []) and feature not in (
        proto.get("writerFeatures") or []
    ):
        raise ValueError(
            f"table at {path} does not list feature {feature!r} in its "
            "protocol — nothing to drop"
        )
    actions = [{"protocol": _downgraded_protocol(proto, feature)}]
    if feature == "deletionVectors":
        live_dv = sorted(
            rel for rel, a in st.adds.items() if a.get("deletionVector")
        )
        if live_dv:
            raise ValueError(
                f"cannot drop {feature!r}: {len(live_dv)} live file(s) "
                f"still carry deletion vectors (e.g. {live_dv[0]}) — run "
                "purge_delta(...) first"
            )
    elif feature == "rowTracking":
        # row ids are advisory metadata: dropping needs no data check,
        # only the table property / materialized-column config and the
        # high-water-mark domain leave with the feature (the hidden
        # columns left inside files are invisible — not in
        # schemaString — and the baseRowId fields on adds are ignored
        # per spec once the feature is gone)
        config = dict(st.meta.get("configuration") or {})
        for key in (
            "delta.enableRowTracking", dl._RT_MAT_ID_KEY, dl._RT_MAT_CV_KEY
        ):
            config.pop(key, None)
        meta = dict(st.meta)
        meta["configuration"] = config
        actions.append({"metaData": meta})
        if (st.domain_metadata or {}).get(dl._ROW_TRACKING_DOMAIN):
            actions.append(
                {
                    "domainMetadata": {
                        "domain": dl._ROW_TRACKING_DOMAIN,
                        "configuration": "{}",
                        "removed": True,
                    }
                }
            )
    elif feature == "allowColumnDefaults":
        # droppable only once no column still declares a default —
        # otherwise a foreign writer omitting the column would insert
        # nulls where the table contract promises the default
        still = sorted(dl._column_defaults(st.meta))
        if still:
            raise ValueError(
                f"cannot drop {feature!r}: column(s) {still} still "
                "declare a DEFAULT — drop_column_default them first"
            )
    return tx.commit("DROP FEATURE", {"feature": feature}, actions)


def restore_delta(
    spark: SparkSession,
    path: str,
    version: int,
    cdf_key_cols: list[str] | None = None,
) -> int:
    """RESTORE TABLE TO VERSION — Delta's rollback: one metadata-only
    commit makes the table's LIVE SET equal to ``version``'s, by
    tombstoning files added since and re-adding files removed since
    (their physical files still exist unless vacuumed — missing ones
    raise before anything is written). History is preserved: the
    restore is itself a new commit, so the bad versions remain
    time-travelable for audit and the change feed sees the re-added
    files. Cost is O(files that differ), zero data movement. Returns
    the committed version.

    If ``version``'s schema differed, the restore re-emits its
    metaData, so schema rolls back with the data (as Delta RESTORE
    does).

    ``cdf_key_cols``: on a CDF-enabled table, a restore that both
    removes and re-adds files materializes its keyed NET changes as
    ``_change_data`` files (same form as MERGE's) when the caller
    names the row identity; without keys such a commit stays
    reconstruction-only (readers diff it with their own key_cols)."""
    tx = dl.Txn(spark, path)
    cur, fs, jvm = tx.st, tx.fs, tx.jvm
    old = dl._replay_log(spark, path, version, tx.tail)
    if old.meta is None:
        raise ValueError(f"Delta log under {path} has no metaData action")
    def _dv_identity(a: dict):
        d = a.get("deletionVector")
        if not d:
            return None
        return (
            d["storageType"], d["pathOrInlineDv"],
            d.get("offset"), int(d["sizeInBytes"]),
        )

    # live-set equality is (path, deletionVector): a DV delete keeps
    # the path but changes the file's live ROWS, so restore must swap
    # the entry back to the old descriptor state too
    to_remove = sorted(set(cur.adds) - set(old.adds))
    to_readd = sorted(set(old.adds) - set(cur.adds))
    dv_changed = sorted(
        rel
        for rel in set(cur.adds) & set(old.adds)
        if _dv_identity(cur.adds[rel]) != _dv_identity(old.adds[rel])
    )
    to_remove += dv_changed
    to_readd += dv_changed
    _check_append_only(cur.meta, bool(to_remove))
    missing = [
        rel
        for rel in to_readd
        if not fs.exists(jvm.org.apache.hadoop.fs.Path(f"{path}/{rel}"))
    ]
    if missing:
        raise FileNotFoundError(
            f"cannot restore to version {version}: data files were "
            f"vacuumed: {missing[:5]}{'...' if len(missing) > 5 else ''}"
        )
    # The restored metaData governs the table from this commit on;
    # CDF enablement and the change-file schema follow it.
    reemit_meta = old.meta["schemaString"] != cur.meta[
        "schemaString"
    ] or old.meta.get("partitionColumns") != cur.meta.get("partitionColumns")
    eff_meta = old.meta if reemit_meta else cur.meta
    cdc_actions: list[dict] = []
    if to_remove and to_readd and cdf_key_cols and delta_cdf._cdf_enabled(eff_meta):
        cdc_actions = delta_cdf._maybe_stage_cdc(
            spark, fs, jvm, path, eff_meta,
            delta_scan._read_adds(
                spark, path, {r: cur.adds[r] for r in to_remove}, eff_meta
            ),
            delta_scan._read_adds(
                spark, path, {r: old.adds[r] for r in to_readd}, eff_meta
            ),
            cdf_key_cols,
            [
                f.name
                for f in dl._spark_schema_from_string(
                    eff_meta["schemaString"]
                ).fields
            ],
            tx.version,
            delta_colmap._logical_to_physical(eff_meta),
        )
    actions: list[dict] = list(cdc_actions)
    if reemit_meta:
        actions.append({"metaData": old.meta})
    actions.extend(tx.remove(rel) for rel in to_remove)
    now = dl._now_ms()
    readd_actions = []
    for rel in to_readd:
        a = dict(old.adds[rel])
        a["path"] = dl._encode_path(rel)
        a["modificationTime"] = now
        # Delta RESTORE emits restored adds with dataChange=true even
        # when the file was originally committed by OPTIMIZE/ZORDER
        # (dataChange=false) — otherwise the change feed and the
        # delta_feed source would skip rows the restore re-introduced.
        a["dataChange"] = True
        readd_actions.append({"add": a})
    # rowTracking: re-adds from versions AFTER enablement carry their
    # original ids (stability); a restore to a PRE-enablement version
    # re-adds bare files — staged, they get fresh ids so a row-tracking
    # table never serves null row ids. The transaction never deletes
    # them: only files it wrote count as its own.
    return tx.commit(
        "RESTORE", {"version": version}, actions, staged=readd_actions,
        metrics={
            "numRestoredFiles": str(len(to_readd)),
            "numRemovedFiles": str(len(to_remove)),
        },
    )


def describe_detail(spark: SparkSession, path: str) -> DataFrame:
    """DESCRIBE DETAIL: a one-row summary of the table's CURRENT state
    — format, id, location, created/modified times, partition columns,
    live-file count and byte size (from the log's add actions alone,
    no filesystem walk), table properties, protocol versions and
    feature lists — the shape delta-spark's ``DESCRIBE DETAIL``
    returns. Cost: one replay; sizes come from each add's ``size``
    field, so the answer is O(live actions) regardless of data volume."""
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        MapType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    fs, _, jvm = _hadoop_fs(spark, path)
    st = dl._replay_log(spark, path, None)
    if st.meta is None:
        raise ValueError(f"Delta log under {path} has no metaData action")
    proto = dict(st.protocol or _PROTOCOL_ACTION["protocol"])
    last_ts = dl._commit_ts_ms(fs, jvm, path, st.version)
    created = st.meta.get("createdTime")
    row = {
        "format": (st.meta.get("format") or {}).get("provider", "parquet"),
        "id": st.meta.get("id"),
        "location": path,
        "createdAt": (
            _dt.datetime.fromtimestamp(created / 1000.0, tz=_dt.timezone.utc)
            if created
            else None
        ),
        "lastModified": _dt.datetime.fromtimestamp(
            last_ts / 1000.0, tz=_dt.timezone.utc
        ),
        "partitionColumns": list(st.meta.get("partitionColumns") or []),
        "clusteringColumns": _clustering_logical_columns(st),
        "numFiles": len(st.adds),
        "sizeInBytes": sum(
            int(a.get("size") or 0) for a in st.adds.values()
        ),
        "properties": dict(st.meta.get("configuration") or {}),
        "minReaderVersion": int(proto.get("minReaderVersion", 1)),
        "minWriterVersion": int(proto.get("minWriterVersion", 2)),
        "tableFeatures": sorted(
            set(proto.get("readerFeatures") or [])
            | set(proto.get("writerFeatures") or [])
        ),
        "version": st.version,
    }
    schema = StructType(
        [
            StructField("format", StringType()),
            StructField("id", StringType()),
            StructField("location", StringType()),
            StructField("createdAt", TimestampType()),
            StructField("lastModified", TimestampType()),
            StructField("partitionColumns", ArrayType(StringType())),
            StructField("clusteringColumns", ArrayType(StringType())),
            StructField("numFiles", LongType()),
            StructField("sizeInBytes", LongType()),
            StructField("properties", MapType(StringType(), StringType())),
            StructField("minReaderVersion", LongType()),
            StructField("minWriterVersion", LongType()),
            StructField("tableFeatures", ArrayType(StringType())),
            StructField("version", LongType()),
        ]
    )
    return spark.createDataFrame([row], schema=schema)


def describe_history(spark: SparkSession, path: str) -> DataFrame:
    """DESCRIBE HISTORY: one row per retained commit, newest first —
    version, timestamp, operation, operationParameters — read from the
    ``commitInfo`` action at the head of each commit file (full
    retained listing, like timestamp resolution). Commits written
    before commitInfo existed surface operation=null rather than being
    hidden. Driver-side O(retained commits) small reads; the result is
    a DataFrame for parity with delta-spark's ``history()``."""
    from pyspark.sql.types import (
        LongType,
        MapType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    fs, _, jvm = _hadoop_fs(spark, path)
    rows = []
    for v in dl._all_commit_versions(fs, jvm, path):
        info = dl._info_of(dl._commit_actions(fs, jvm, path, v))
        mtime_ms = dl._commit_mtime_ms(fs, jvm, path, v)
        ts_ms = (info or {}).get(
            "inCommitTimestamp", (info or {}).get("timestamp", mtime_ms)
        )
        rows.append(
            {
                "version": v,
                "timestamp": _dt.datetime.fromtimestamp(
                    ts_ms / 1000.0, tz=_dt.timezone.utc
                ),
                "operation": (info or {}).get("operation"),
                "operationParameters": (info or {}).get(
                    "operationParameters"
                ),
                "operationMetrics": (info or {}).get("operationMetrics"),
            }
        )
    schema = StructType(
        [
            StructField("version", LongType()),
            StructField("timestamp", TimestampType()),
            StructField("operation", StringType()),
            StructField(
                "operationParameters", MapType(StringType(), StringType())
            ),
            StructField(
                "operationMetrics", MapType(StringType(), StringType())
            ),
        ]
    )
    return spark.createDataFrame(
        sorted(rows, key=lambda r: -r["version"]), schema=schema
    )


def vacuum_delta(
    spark: SparkSession,
    path: str,
    retain_hours: float = 168.0,
    now_ms: int | None = None,
) -> list[str]:
    """Physically delete data files that are NOT referenced by the
    current version and whose modification time is older than the
    retention window — Delta's VACUUM contract. Returns the deleted
    relative paths.

    Retention is measured from the tombstone's ``deletionTimestamp``
    (the moment the file left the live set) — a file written long ago
    but removed a minute ago is NOT reclaimable, so concurrent readers
    that resolved it just before the removing commit stay safe (Delta's
    contract). Orphans the log never referenced (crashed stagings) age
    by file modification time, their only signal. Time travel to
    versions whose files were reclaimed fails on read (as in Delta);
    versions whose files all survive keep working. The walk skips
    ``_delta_log`` and in-flight ``_staging_*`` dirs. ``now_ms`` exists
    for deterministic tests. Retention windows beyond 30 days exceed
    the checkpoint tombstone retention (``TOMBSTONE_RETENTION_MS``) and
    raise."""
    if retain_hours * 3600 * 1000 > delta_checkpoint.TOMBSTONE_RETENTION_MS:
        raise ValueError(
            "vacuum retention exceeds checkpoint tombstone retention "
            "(30 days) — deletion times that old may no longer be recorded"
        )
    from .deletion_vectors import dv_rel_path

    fs, _, jvm = _hadoop_fs(spark, path)
    st_log = dl._replay_log(spark, path, None)
    # the vacuumProtocolCheck duty: vacuum validates BOTH protocol
    # sides before deleting anything — a vacuum that can't understand a
    # feature (e.g. unknown DV storage) must not reclaim its files
    _check_writer_protocol(st_log.protocol, st_log.meta)
    live, removes = st_log.adds, st_log.removes
    cutoff = (now_ms if now_ms is not None else dl._now_ms()) - int(
        retain_hours * 3600 * 1000
    )
    # DV .bin files are live while ANY live add references them; a
    # superseded .bin ages from the deletionTimestamp of the tombstones
    # whose descriptors point at it (replay synthesizes those from the
    # replaced adds), mirroring how data files age — so time travel
    # inside the retention window keeps its deletion vectors too
    live_bins: set[str] = set()
    for a in live.values():
        d = a.get("deletionVector")
        if d and d.get("storageType") == "u":
            live_bins.add(dv_rel_path(d["pathOrInlineDv"]))
    # keyed by BIN path across ALL tombstones seen in replay (not the
    # per-data-path collapsed `removes`): a file tombstoned twice (DV
    # delete then purge) keeps BOTH bins' deletionTimestamps, so an
    # object store that rewrites mtimes can't trick vacuum into
    # reclaiming a .bin still needed by in-retention time travel
    tomb_bins: dict[str, int] = dict(st_log.dv_tombstones or {})
    for rm in removes.values():
        d = rm.get("deletionVector")
        if d and d.get("storageType") == "u":
            r = dv_rel_path(d["pathOrInlineDv"])
            tomb_bins[r] = max(
                tomb_bins.get(r, 0), int(rm["deletionTimestamp"])
            )
    deleted: list[str] = []

    def walk(p, rel_prefix):
        for st in fs.listStatus(p):
            name = st.getPath().getName()
            if rel_prefix == "" and (
                name == "_delta_log" or name.startswith("_staging_")
            ):
                continue
            rel = f"{rel_prefix}{name}"
            if st.isDirectory():
                walk(st.getPath(), rel + "/")
            elif name.endswith(".parquet") and rel not in live:
                rm = removes.get(rel)
                age_basis = (
                    rm["deletionTimestamp"] if rm is not None
                    else st.getModificationTime()
                )
                if age_basis < cutoff:
                    fs.delete(st.getPath(), False)
                    deleted.append(rel)
            elif (
                name.startswith("deletion_vector_")
                and name.endswith(".bin")
                and rel not in live_bins
            ):
                age_basis = tomb_bins.get(rel, st.getModificationTime())
                if age_basis < cutoff:
                    fs.delete(st.getPath(), False)
                    deleted.append(rel)

    walk(jvm.org.apache.hadoop.fs.Path(path), "")
    return sorted(deleted)


def cleanup_log(
    spark: SparkSession,
    path: str,
    retain_hours: float = 720.0,
    now_ms: int | None = None,
) -> list[str]:
    """Delta's METADATA cleanup (``delta.logRetentionDuration``,
    default 30 days): delete commit JSONs — and the checkpoints that
    precede them — that are BOTH older than the retention window and
    covered by a newer retained checkpoint. Without this the
    _delta_log of a busy table grows without bound (at one commit a
    minute, half a million files a year — the directory listing alone
    becomes the bottleneck). Returns the deleted file names.

    Only a contiguous PREFIX of versions is removed (mirroring
    delta-spark): an unexpired commit stops the sweep even if older
    ones follow it by mtime, so the retained log never has holes and
    ``timestampAsOf``/version time travel stays well-defined — asking
    for a cleaned version now raises, exactly as on a vacuumed file.
    Commit age uses ``commitInfo.inCommitTimestamp`` when present
    (immune to object-store mtime rewrites), else file mtime. Expired
    V2 checkpoints have their sidecar files deleted via their OWN
    sidecar refs, never by directory sweep — a retained checkpoint's
    sidecars are untouchable."""
    fs, _, jvm = _hadoop_fs(spark, path)
    lc = delta_checkpoint._read_last_checkpoint_doc(fs, jvm, path)
    if lc is None:
        return []  # nothing can be covered without a checkpoint
    anchor = int(lc["version"])
    cutoff = (now_ms if now_ms is not None else dl._now_ms()) - int(
        retain_hours * 3600 * 1000
    )
    versions = dl._all_commit_versions(fs, jvm, path)
    doomed_versions: list[int] = []
    for v in versions:
        if v >= anchor:
            break
        if dl._commit_ts_ms(fs, jvm, path, v) > cutoff:
            break  # contiguity: an unexpired commit stops the sweep
        doomed_versions.append(v)
    if not doomed_versions:
        return []
    doomed_set = set(doomed_versions)
    log_dir = jvm.org.apache.hadoop.fs.Path(f"{path}/_delta_log")
    deleted: list[str] = []
    # checkpoints at doomed versions (classic, multi-part, or V2
    # UUID-named mains) go with their commits; V2 mains surrender
    # their sidecars first
    for st in fs.listStatus(log_dir):
        name = st.getPath().getName()
        if ".checkpoint." not in name and not name.endswith(
            ".checkpoint.parquet"
        ):
            continue
        if not name[:20].isdigit() or int(name[:20]) not in doomed_set:
            continue
        if name.count(".") == 3 and not name.split(".")[2].isdigit():
            # UUID-named V2 main (parquet or NDJSON): collect its
            # sidecar refs
            try:
                for d in delta_checkpoint._read_actions(
                    fs, jvm, f"{path}/_delta_log/{name}"
                ):
                    sc = d.get("sidecar")
                    if sc and sc.get("path"):
                        scp = jvm.org.apache.hadoop.fs.Path(
                            f"{path}/_delta_log/_sidecars/{sc['path']}"
                        )
                        if fs.exists(scp) and fs.delete(scp, False):
                            deleted.append(f"_sidecars/{sc['path']}")
            except Exception:
                pass  # unreadable old checkpoint: delete the main alone
        if fs.delete(st.getPath(), False):
            deleted.append(name)
    for v in doomed_versions:
        p = jvm.org.apache.hadoop.fs.Path(f"{path}/{dl._log_path(v)}")
        if fs.delete(p, False):
            deleted.append(f"{v:020d}.json")
    return sorted(deleted)


def convert_parquet_to_delta(
    spark: SparkSession, path: str, partition_col=None
) -> int:
    """CONVERT TO DELTA: turn a plain (optionally Hive-partitioned)
    parquet directory into a Delta table IN PLACE — one metadata-only
    commit referencing the existing files, zero data movement, exactly
    like delta-spark's ``CONVERT TO DELTA parquet.`path```.

    The schema comes from Spark's own reader (partition discovery
    included, so partition columns keep their inferred types); every
    file gets an add action with partitionValues parsed from its
    ``col=value`` dirs and per-file stats from its footer, so data
    skipping works immediately on the converted table. Refuses when a
    ``_delta_log`` already exists (conversion is one-shot; commit
    through ``write_delta`` afterwards)."""
    pcols = dl._norm_pcols(partition_col)
    tx = dl.Txn(spark, path, create=True)
    if tx.st is not None:
        raise ValueError(
            f"{path} already has a _delta_log; CONVERT is one-shot"
        )
    reader = spark.read.option("basePath", path)
    df = reader.parquet(path)
    missing = [c for c in pcols if c not in df.columns]
    if missing:
        raise ValueError(
            f"partition columns {missing} not found by discovery "
            f"(have {df.columns})"
        )
    files = dl._relative_files(tx.fs, tx.jvm, path, "", pcols)
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    now = dl._now_ms()
    adds = []
    for rel, size, pvals in sorted(files):
        add = {
            "path": dl._encode_path(rel),
            "partitionValues": {c: pvals.get(c) for c in pcols},
            "size": size,
            "modificationTime": now,
            "dataChange": True,
        }
        stats = dl._footer_stats(f"{path}/{rel}")
        if stats is not None:
            add["stats"] = json.dumps(stats, sort_keys=True)
        adds.append({"add": add})
    return tx.commit(
        "CONVERT",
        {"sourceFormat": "parquet", "partitionBy": pcols},
        [_PROTOCOL_ACTION, dl._metadata_action(df, pcols), *adds],
        metrics=dl._add_metrics(adds, 0),
    )
