"""MERGE / APPLY CHANGES engine (split from delta_log, r16).

The keyed-rewrite side of the table lifecycle: ``merge_delta`` (the
MERGE INTO commit — matched UPDATE/DELETE, not-matched INSERT, with
identity allocation, generated/default columns, row-tracking
preservation, collation-folded keys and file-level stats pruning of
the unmatched side), ``apply_changes_delta`` (CDC replication — apply
a change feed to a replica in commit order), and the
``delta_cdf_apply_sink`` foreachBatch wrapper that turns the latter
into an exactly-once streaming sink.

Reference: delta-io PROTOCOL.md (Commit Provenance / Change Data
Files); Databricks MERGE INTO / APPLY CHANGES INTO semantics (public
docs) for the operation shapes.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import delta_cdf, delta_colmap, delta_scan
from . import delta_log as dl
from .delta_protocol import _check_append_only


#: Fused-discovery bound: when the table's live set is at most this many
#: files, MERGE/APPLY CHANGES skip the stats-pruning pass (which needs
#: its own source-bounds action BEFORE the discovery scan can be
#: planned) and run the source profile + touched-file discovery as ONE
#: Spark action over all files' key columns. Cost model, valid at any
#: deployment: pruning can at best avoid scanning (N-1) small files'
#: key columns, while the extra sequential action costs a fixed
#: driver/scheduling latency (~0.2-0.3 s measured) — for tiny live sets
#: the action dominates; past this bound the pruned two-action path is
#: the 100 TB shape (a one-day MERGE into a years-deep table must plan
#: O(that day's files), not O(table)).
FUSED_DISCOVERY_MAX_FILES = 32


def merge_delta(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    key_cols: list[str],
) -> int:
    """MERGE INTO the Delta table at ``path``: rows matching ``source``
    on ``key_cols`` are replaced, new keys are inserted (WHEN MATCHED
    THEN UPDATE SET * / WHEN NOT MATCHED THEN INSERT *). Returns the
    committed version.

    Copy-on-write at FILE granularity, the Delta MERGE algorithm: a
    semi-join of the target against the source keys identifies the
    touched files (via ``input_file_name``); ONLY those files are
    rewritten — their non-matching rows survive alongside the full
    source — then one commit tombstones the touched files and adds the
    rewrites. Untouched files are neither read twice nor rewritten, so
    cost is O(files containing matching keys), not O(table). Ambiguous
    sources (duplicate keys) are rejected, as Delta does.

    The reference's roadmap names exactly this (``README.md:209``)."""
    tx = dl.Txn(spark, path)
    st = tx.st
    adds, meta = st.adds, st.meta
    schema = dl._spark_schema_from_string(meta["schemaString"])
    cols = [f.name for f in schema.fields]
    # identity columns through MERGE (r12; refused through r11): a
    # source that OMITS the identity column takes the surrogate-key CDC
    # shape — matched rows inherit the target's stored values (the same
    # touched-file repair the omitted-DEFAULT path uses), insert-branch
    # rows are allocated past the high-water mark, and the advanced
    # mark re-emits in the SAME commit. A source that PROVIDES the
    # column is accepted only on BY DEFAULT tables
    # (allowExplicitInsert), and only when no matched row's value
    # CHANGES — UPDATE of an identity column stays refused.
    id_specs = dl._identity_specs(meta)
    id_provided = sorted(c for c in id_specs if c in source.columns)
    for c in id_provided:
        if not id_specs[c]["allowExplicitInsert"]:
            raise ValueError(
                f"MERGE source provides identity column {c!r}, which is "
                "GENERATED ALWAYS — omit it (matched rows keep their "
                "stored values, inserted rows are allocated), or "
                "declare the column BY DEFAULT (allow_explicit_insert)"
            )
    id_omitted = sorted(c for c in id_specs if c not in source.columns)
    bad_id_keys = sorted(set(id_omitted) & set(key_cols))
    if bad_id_keys:
        raise ValueError(
            f"MERGE keys {bad_id_keys} are identity columns the source "
            "does not provide — matching requires the key values"
        )
    # generated/default columns: a merge source may legitimately OMIT
    # them (computed/filled here, before the completeness check); ones
    # it provides must match their expression (generated) or are taken
    # as-is (defaults). SQL MERGE semantics for an omitted DEFAULT
    # column: the default applies to INSERT (not-matched) rows only —
    # matched rows keep the target's stored values. The fill below
    # covers inserts (and defaulted key columns, which discovery
    # needs); matched rows are repaired from the touched files once
    # they are read, before anything is staged (r12, ADVICE).
    defaults_omitted = sorted(
        c for c in dl._column_defaults(meta) if c not in source.columns
    )
    gens_omitted = sorted(
        c for c in dl._generated_exprs(meta) if c not in source.columns
    )
    source = dl._apply_column_defaults(source, meta)
    for c in id_omitted:
        # placeholder: matched rows are repaired from the target below,
        # insert-branch rows are allocated past the high-water mark
        source = source.withColumn(c, F.lit(None).cast("long"))
    gen_frame, gen_cached = dl._apply_generated_columns(source, meta)
    cached_frames: list[DataFrame] = [gen_frame] if gen_cached else []
    source = gen_frame
    missing = [c for c in cols if c not in source.columns]
    if missing:
        raise ValueError(f"merge source missing target columns {missing}")
    # align source types to the DECLARED schema (collated strings:
    # a plain-string key against a collated target column would be
    # INDETERMINATE_COLLATION at the discovery join)
    source = dl._align_source_types(source.select(*cols), schema)
    # CHECK constraints are enforced AFTER the matched-row default
    # repair below (validated rows == committed rows).
    pcols = meta.get("partitionColumns", [])
    ptypes = {f.name: f.dataType for f in schema.fields if f.name in pcols}

    # ONE fused source-profile job (r16): the duplicate-key check and
    # the stats-pruning key bounds both reduce the (feed-sized) source,
    # so they share a single groupBy(keys) → global-agg pass instead of
    # two separate jobs. Running the dup check on the ALIGNED source
    # also makes it exact for collated keys: two fold-equal spellings
    # both match the same target row — genuinely ambiguous — which the
    # pre-alignment byte-wise check could miss. min/max over the group
    # keys equal min/max over the raw rows, so the bounds are unchanged.
    #
    # STATS PRUNING before the discovery scan: a file whose per-key
    # min/max range (from the log's stats document / partitionValues)
    # is disjoint from the SOURCE's key range cannot hold a matching
    # key, so it is neither scanned for discovery nor eligible for
    # rewrite. Payoff at 100 TB: a MERGE of one day's keys into a
    # years-deep table plans O(that day's files), not O(table files).
    # Superset-safe — files without stats are always kept
    # (_file_may_match).
    #
    # Small live sets (≤ FUSED_DISCOVERY_MAX_FILES) fuse further (r17):
    # pruning is worth at most N-1 small key-column scans there, less
    # than the fixed latency of the extra sequential action it needs —
    # so the source profile and the touched-file discovery run as ONE
    # action (a cross join of two single-row aggregates) over all
    # files' key columns, and stats pruning is skipped.
    l2p = delta_colmap._logical_to_physical(meta)
    pv_cols = [l2p.get(c, c) for c in pcols] if l2p else pcols
    fold_cols = dl._fold_collated_columns(meta)
    fused = len(adds) <= FUSED_DISCOVERY_MAX_FILES
    if fused and not id_omitted:
        # the source plan is evaluated by the profile action, the key
        # broadcast AND the staging write (identity merges already
        # cache it for the allocator's two-pass contract) — one cached
        # materialization beats three upstream re-runs. Gated on the
        # small-table branch: at 100 TB the source is a feed whose
        # caching policy belongs to the caller.
        source = source.cache()
        cached_frames.append(source)
    src_prof = source.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("_kc"))
    src_keys = F.broadcast(source.select(*key_cols).distinct())
    if fused:
        target_keys = delta_scan._read_adds(spark, path, adds, meta, with_file=True)
        if target_keys is None:
            target_keys = spark.createDataFrame(
                [], schema=schema
            ).withColumn("_file", F.lit(""))
        target_keys = target_keys.select(*key_cols, "_file")
        row = (
            src_prof.agg(F.max("_kc").alias("_max_kc"))
            .crossJoin(
                target_keys.join(src_keys, key_cols, "left_semi")
                .agg(F.collect_set("_file").alias("_files"))
            )
            .first()
        )
        max_kc = row["_max_kc"]
        touched_uris = set(row["_files"])
    else:
        bounds_row = src_prof.agg(
            F.max("_kc").alias("_max_kc"),
            *[F.min(k).alias(f"_lo_{k}") for k in key_cols],
            *[F.max(k).alias(f"_hi_{k}") for k in key_cols],
        ).first()
        max_kc = bounds_row["_max_kc"]
        key_pred = {
            (l2p.get(k, k) if l2p else k): (
                bounds_row[f"_lo_{k}"], bounds_row[f"_hi_{k}"]
            )
            for k in key_cols
            # folded-compare (collated) keys never prune on byte-ordered
            # file stats — superset-safe to keep every file for them
            if bounds_row[f"_lo_{k}"] is not None and k not in fold_cols
        }
        scan_adds = (
            {
                rel: a
                for rel, a in adds.items()
                if delta_scan._file_may_match(a, pv_cols, key_pred)
            }
            if key_pred
            else adds
        )

        # Touched-file DISCOVERY pass: key columns + file provenance
        # only, so the scan prunes to the join keys (never the full row
        # width). Writer-produced hive layouts resolve in ONE reader
        # call; foreign layouts take the grouped union fallback.
        target_keys = delta_scan._read_adds(
            spark, path, scan_adds, meta, with_file=True
        )
        if target_keys is None:
            # zero live files (e.g. truncated by an empty overwrite):
            # the merge degenerates to a pure insert
            target_keys = spark.createDataFrame(
                [], schema=schema
            ).withColumn("_file", F.lit(""))
        target_keys = target_keys.select(*key_cols, "_file")
        touched_uris = {
            r["_file"]
            for r in target_keys.join(src_keys, key_cols, "left_semi")
            .select("_file").distinct().collect()
        }
    if (max_kc or 0) > 1:
        raise ValueError(
            "merge source has duplicate keys — ambiguous WHEN MATCHED"
        )
    # Map absolute scan URIs back to log-relative paths via an EXACT
    # normalized-URI lookup — a suffix match would false-positive when
    # one add's relative path is a path-suffix of another's (possible in
    # foreign-written/exported layouts with nested dirs), silently
    # tombstoning an untouched file without rewriting its rows.
    uri_to_rel = {
        dl._normalize_uri(f"{path}/{rel}", decode=False): rel for rel in adds
    }
    touched_rels = []
    for u in touched_uris:
        rel = uri_to_rel.get(dl._normalize_uri(u, decode=True))
        if rel is None:
            raise ValueError(
                f"scanned file {u} does not map to any live add entry — "
                "log and filesystem views diverged"
            )
        touched_rels.append(rel)
    touched_rels = sorted(touched_rels)
    if touched_rels:
        # the rewrite deletes rows from the touched files
        _check_append_only(meta, True)
    # empty source ⇔ the fused profile saw zero key groups — no extra job
    if not touched_rels and max_kc is None:
        for fr in cached_frames:
            fr.unpersist()
        return st.version
    # REWRITE pass reads ONLY the touched files (the Delta MERGE cost
    # model: O(files holding matching keys), not a second full-table
    # scan filtered by provenance — at scale the difference is the
    # whole table).
    rt = dl._row_tracking_supported(st.protocol)
    touched_df = None
    if touched_rels:
        touched_adds = {rel: adds[rel] for rel in touched_rels}
        touched_df = delta_scan._read_adds(spark, path, touched_adds, meta, row_ids=rt)
    # Matched-row DEFAULT repair: a source that omitted a defaulted
    # column was filled above (correct for inserts), but SQL MERGE
    # keeps the TARGET's stored values on matched rows. Pull them from
    # the touched files (already read for the rewrite) and substitute
    # per matched key; unmatched (insert) rows keep the default. When
    # several target rows share a key they collapse to one source row —
    # the kept value follows the surviving row (min row id under row
    # tracking, else the deterministic minimum).
    sub_cols = [
        c for c in defaults_omitted + id_omitted if c not in key_cols
    ]
    if sub_cols and touched_df is not None:
        tgt_vals = F.broadcast(
            touched_df.groupBy(*key_cols)
            .agg(
                *[
                    (F.min_by(c, "_row_id") if rt else F.min(c)).alias(
                        f"__tgt_{c}"
                    )
                    for c in sub_cols
                ]
            )
            .withColumn("__matched", F.lit(True))
        )
        source = source.join(tgt_vals, key_cols, "left").select(
            *[
                F.when(F.col("__matched"), F.col(f"__tgt_{c}"))
                .otherwise(F.col(c))
                .alias(c)
                if c in sub_cols
                else F.col(c)
                for c in cols
            ]
        )
    # identity allocation for the INSERT branch: rows still NULL after
    # the matched-row repair are genuinely new keys — allocate them
    # past the high-water mark; the advanced mark re-emits in the SAME
    # commit below. One cache (the allocator's two-pass contract).
    id_hwms: dict[str, int] = {}
    if id_omitted:
        source = source.cache()
        cached_frames.append(source)
        for c in id_omitted:
            source, new_hwm = dl._allocate_identity(
                source, c, id_specs[c], only_null=True
            )
            if new_hwm is not None:
                id_hwms[c] = new_hwm
    if id_provided:
        # BY DEFAULT source-carried values: matched rows must keep their
        # stored values (UPDATE of identity stays refused) ...
        if touched_df is not None:
            clash = None
            stored = touched_df.select(
                *key_cols,
                *[F.col(c).alias(f"__tid_{c}") for c in id_provided],
            ).distinct()
            for c in id_provided:
                bad = ~F.col(c).eqNullSafe(F.col(f"__tid_{c}"))
                clash = bad if clash is None else (clash | bad)
            if source.join(stored, key_cols).filter(clash).take(1):
                raise ValueError(
                    "MERGE source changes identity column value(s) on "
                    f"matched row(s) ({id_provided}) — UPDATE of an "
                    "identity column is refused"
                )
        # ... and the high-water mark advances past observed inserts
        obs = source.agg(
            *[
                (F.max(c) if id_specs[c]["step"] > 0 else F.min(c)).alias(c)
                for c in id_provided
            ]
        ).first()
        for c in id_provided:
            if obs[c] is not None:
                adv = dl._identity_hwm_advance(id_specs[c], int(obs[c]))
                if adv is not None:
                    id_hwms[c] = adv
    # columns whose values changed AFTER the generated-column pass:
    # target-repaired ones (only when matches existed) and allocated
    # identity ones (always — they started as NULL placeholders)
    changed_cols = sorted(
        set(sub_cols if touched_df is not None else []) | set(id_omitted)
    )
    if changed_cols:
        # generated columns that the source omitted were computed from
        # the pre-repair (default-filled / identity-null) values —
        # recompute against the repaired frame, and revalidate provided
        # ones, iff any generation expression can see a repaired column
        pat = re.compile(
            "|".join(rf"\b{re.escape(c)}\b" for c in changed_cols)
        )
        if any(pat.search(e) for e in dl._generated_exprs(meta).values()):
            regen, regen_cached = dl._apply_generated_columns(
                source.drop(*gens_omitted), meta
            )
            if regen_cached:
                cached_frames.append(regen)
            source = regen.select(*cols)
    # CHECK constraints gate MERGE too; the returned (cached) frame is
    # what gets staged, so validated rows == committed rows.
    source, cached_source = dl._enforce_constraints(source, meta)
    if cached_source:
        cached_frames.append(source)
    if touched_df is not None:
        survivors = touched_df.join(src_keys, key_cols, "left_anti").select(
            *cols,
            *(["_row_id", "_row_commit_version"] if rt else []),
        )
    else:
        survivors = spark.createDataFrame([], schema=schema)
        if rt:
            survivors = survivors.withColumn(
                "_row_id", F.lit(None).cast("long")
            ).withColumn("_row_commit_version", F.lit(None).cast("long"))
    if rt:
        # row-id preservation through MERGE: survivors keep id AND
        # commit version; matched-updated rows inherit the TARGET row's
        # id (one broadcast-sized join against the touched files' keys)
        # with a fresh commit version; inserts get null ids — fresh
        # ones derive from the new add's baseRowId
        survivors = dl._rt_materialize(survivors, meta)
        if touched_df is not None:
            # N matched target rows collapse to ONE source row: the
            # smallest id survives deterministically, the rest retire
            tgt_ids = touched_df.groupBy(*key_cols).agg(
                F.min("_row_id").alias("_row_id")
            )
            source_rt = source.join(tgt_ids, key_cols, "left").select(
                *cols, "_row_id"
            )
        else:
            source_rt = source.withColumn(
                "_row_id", F.lit(None).cast("long")
            )
        source_rt = dl._rt_materialize(
            source_rt.withColumn(
                "_row_commit_version", F.lit(None).cast("long")
            ),
            meta,
            fresh_cv=True,
        )
        new_data = survivors.unionByName(source_rt)
    else:
        new_data = survivors.unionByName(source)

    try:
        new_adds = tx.stage(new_data, pcols, l2p=l2p)
    finally:
        for fr in cached_frames:
            fr.unpersist()
    # Write-side CDF: a rewrite commit on a CDF-enabled table
    # materializes its keyed net changes as change files — the staged
    # files are final on disk, so the diff reads them back rather than
    # re-evaluating the merge plan. Touch-free commits (pure inserts)
    # stay derivable from their add actions and write no cdc.
    cdc_actions: list[dict] = []
    if touched_rels and delta_cdf._cdf_enabled(meta):
        staged_map = {
            dl._decode_path(a["add"]["path"]): a["add"] for a in new_adds
        }
        cdc_actions = delta_cdf._maybe_stage_cdc(
            spark, tx.fs, tx.jvm, path, meta,
            delta_scan._read_adds(
                spark, path, {r: adds[r] for r in touched_rels}, meta
            ),
            delta_scan._read_adds(spark, path, staged_map, meta),
            key_cols, cols, tx.version, l2p,
        )
    actions: list[dict] = []
    if id_hwms:
        # identity high-water marks advance in the SAME commit as the
        # rows they cover (write_delta's append contract, kept by MERGE)
        actions.append(
            {"metaData": dl._meta_with_identity_hwm(meta, id_hwms)}
        )
    actions.extend(cdc_actions)
    actions.extend(tx.remove(rel) for rel in touched_rels)
    return tx.commit(
        "MERGE", {"keyColumns": key_cols}, actions, staged=new_adds,
        metrics=dl._add_metrics(new_adds, len(touched_rels)),
    )


def apply_changes_delta(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    key_cols: list[str],
    txn: tuple[str, int] | None = None,
) -> int:
    """APPLY CHANGES INTO — fold a batch of row-level CDF rows
    (``_change_type`` ∈ insert | update_preimage | update_postimage |
    delete, ``_commit_version``) into the Delta table at ``path``:
    upserts for the latest insert/update_postimage per key, DELETES for
    keys whose latest change is a delete. This is the replica-
    maintenance consumer of :func:`read_delta_cdf` / the ``delta_feed``
    readChangeFeed stream (DLT's ``APPLY CHANGES INTO`` shape): chain
    source → CDF → apply and the target converges to the source.

    Net-change resolution: preimages carry no final state and are
    dropped; among the rest, the highest ``_commit_version`` per key
    wins (a key updated at v3 and deleted at v7 nets to a delete).

    Copy-on-write at file granularity like MERGE, plus deletes: only
    files holding an affected key (stats-pruned by the batch's key
    range, then semi-join discovered) are rewritten; their unaffected
    rows survive next to the upserts. ``txn`` gives the commit the
    exactly-once ledger for streaming replay. Returns the committed
    version (or the current one for an idempotent replay / empty
    batch)."""
    tx = dl.Txn(spark, path)
    st = tx.st
    adds, meta = st.adds, st.meta
    if txn is not None and st.txns.get(txn[0], -1) >= txn[1]:
        return st.version
    schema = dl._spark_schema_from_string(meta["schemaString"])
    cols = [f.name for f in schema.fields]
    # identity columns (r12): a change batch carries FULL rows, so the
    # replica's identity values are source-allocated explicit inserts —
    # legal exactly when the column is BY DEFAULT (allowExplicitInsert);
    # the high-water mark then advances past the observed values in the
    # same commit. GENERATED ALWAYS replicas stay refused: the target
    # could never have produced those values itself.
    id_specs = dl._identity_specs(meta)
    id_always = sorted(
        c for c in id_specs if not id_specs[c]["allowExplicitInsert"]
    )
    if id_always:
        raise ValueError(
            "APPLY CHANGES into a table with GENERATED ALWAYS identity "
            f"column(s) {id_always} is not supported — replica rows "
            "carry source-allocated values; declare the replica column "
            "BY DEFAULT (allow_explicit_insert) to accept them"
        )
    missing = [c for c in cols if c not in changes.columns]
    if missing:
        raise ValueError(f"change batch missing target columns {missing}")
    for c in ("_change_type", "_commit_version"):
        if c not in changes.columns:
            raise ValueError(f"change batch missing {c}")
    # collated targets: align the batch's data columns to the declared
    # types so key joins against the target use the table's collation
    changes = dl._align_source_types(changes, schema)
    pcols = meta.get("partitionColumns", [])
    ptypes = {f.name: f.dataType for f in schema.fields if f.name in pcols}

    # net change per key: drop preimages (no final-state info), then
    # the highest commit version wins — within one commit a key has
    # exactly one final action, so the version alone is the order
    finals = changes.filter(F.col("_change_type") != "update_preimage")
    net = (
        finals.groupBy(*key_cols)
        .agg(
            F.max_by(
                F.struct(*cols, "_change_type"), F.col("_commit_version")
            ).alias("_last")
        )
        .select("_last.*")  # the struct carries keys + values + type
    )
    net = net.localCheckpoint(eager=True)  # one evaluation: discovery + rewrite
    upserts = net.filter(F.col("_change_type") != "delete").select(*cols)
    # BY DEFAULT identity: advance the high-water mark past the
    # source-allocated values this batch replicates (same commit)
    id_hwms: dict[str, int] = {}
    if id_specs:
        obs = upserts.agg(
            *[
                (F.max(c) if id_specs[c]["step"] > 0 else F.min(c)).alias(c)
                for c in sorted(id_specs)
            ]
        ).first()
        for c in sorted(id_specs):
            if obs[c] is not None:
                adv = dl._identity_hwm_advance(id_specs[c], int(obs[c]))
                if adv is not None:
                    id_hwms[c] = adv
    # CHECK constraints gate APPLY CHANGES exactly like WRITE and MERGE:
    # a replica table with delta.constraints.* must reject violating
    # upserts before a byte is staged (deletes carry no row state and
    # cannot violate a CHECK).
    upserts, upserts_cached = dl._enforce_constraints(upserts, meta)

    # discovery: files holding ANY affected key (upsert or delete).
    # Small live sets skip the stats-pruning bounds action entirely
    # (r17, same cost model as merge_delta's FUSED_DISCOVERY_MAX_FILES:
    # pruning can at best avoid N-1 small key-column scans, the bounds
    # action costs a fixed driver latency).
    l2p = delta_colmap._logical_to_physical(meta)
    pv_cols = [l2p.get(c, c) for c in pcols] if l2p else pcols
    fold_cols = dl._fold_collated_columns(meta)
    if len(adds) <= FUSED_DISCOVERY_MAX_FILES:
        scan_adds = adds
    else:
        bounds_row = net.agg(
            *[F.min(k).alias(f"_lo_{k}") for k in key_cols],
            *[F.max(k).alias(f"_hi_{k}") for k in key_cols],
        ).first()
        key_pred = {
            (l2p.get(k, k) if l2p else k): (
                bounds_row[f"_lo_{k}"], bounds_row[f"_hi_{k}"]
            )
            for k in key_cols
            # folded-compare (collated) keys never prune on
            # byte-ordered file stats — superset-safe to keep every
            # file for them
            if bounds_row[f"_lo_{k}"] is not None and k not in fold_cols
        }
        scan_adds = (
            {
                r: a
                for r, a in adds.items()
                if delta_scan._file_may_match(a, pv_cols, key_pred)
            }
            if key_pred
            else adds
        )
    target_keys = delta_scan._read_adds(spark, path, scan_adds, meta, with_file=True)
    affected_keys = F.broadcast(net.select(*key_cols).distinct())
    if target_keys is not None:
        touched_uris = {
            r["_file"]
            for r in target_keys.select(*key_cols, "_file")
            .join(affected_keys, key_cols, "left_semi")
            .select("_file").distinct().collect()
        }
    else:
        touched_uris = set()
    uri_to_rel = {
        dl._normalize_uri(f"{path}/{rel}", decode=False): rel for rel in adds
    }
    touched_rels = []
    for u in touched_uris:
        rel = uri_to_rel.get(dl._normalize_uri(u, decode=True))
        if rel is None:
            raise ValueError(
                f"scanned file {u} does not map to any live add entry — "
                "log and filesystem views diverged"
            )
        touched_rels.append(rel)
    touched_rels = sorted(touched_rels)
    if touched_rels:
        _check_append_only(meta, True)
    if not touched_rels and upserts.isEmpty():
        if upserts_cached:
            upserts.unpersist()
        return st.version
    rt = dl._row_tracking_supported(st.protocol)
    if touched_rels:
        touched_adds = {rel: adds[rel] for rel in touched_rels}
        touched_df = delta_scan._read_adds(spark, path, touched_adds, meta, row_ids=rt)
        survivors = (
            touched_df.join(affected_keys, key_cols, "left_anti")
            .select(
                *cols,
                *(["_row_id", "_row_commit_version"] if rt else []),
            )
        )
    else:
        touched_df = None
        survivors = spark.createDataFrame([], schema=schema)
        if rt:
            survivors = survivors.withColumn(
                "_row_id", F.lit(None).cast("long")
            ).withColumn("_row_commit_version", F.lit(None).cast("long"))
    if rt:
        # same preservation contract as MERGE: survivors keep id+cv,
        # upserted keys inherit the target row's id with a fresh cv,
        # genuinely new keys derive fresh ids from the add
        survivors = dl._rt_materialize(survivors, meta)
        if touched_df is not None:
            tgt_ids = touched_df.groupBy(*key_cols).agg(
                F.min("_row_id").alias("_row_id")
            )
            upserts_rt = upserts.join(tgt_ids, key_cols, "left").select(
                *cols, "_row_id"
            )
        else:
            upserts_rt = upserts.withColumn(
                "_row_id", F.lit(None).cast("long")
            )
        upserts_rt = dl._rt_materialize(
            upserts_rt.withColumn(
                "_row_commit_version", F.lit(None).cast("long")
            ),
            meta,
            fresh_cv=True,
        )
        new_data = survivors.unionByName(upserts_rt)
    else:
        new_data = survivors.unionByName(upserts)
    try:
        new_adds = tx.stage(new_data, pcols, l2p=l2p)
    finally:
        if upserts_cached:
            upserts.unpersist()
    # write-side CDF on the replica: rewrite commits carry cdc files,
    # so a replica-of-a-replica chain stays O(changes) end to end
    cdc_actions: list[dict] = []
    if touched_rels and delta_cdf._cdf_enabled(meta):
        staged_map = {
            dl._decode_path(a["add"]["path"]): a["add"] for a in new_adds
        }
        cdc_actions = delta_cdf._maybe_stage_cdc(
            spark, tx.fs, tx.jvm, path, meta,
            delta_scan._read_adds(
                spark, path, {r: adds[r] for r in touched_rels}, meta
            ),
            delta_scan._read_adds(spark, path, staged_map, meta),
            key_cols, cols, tx.version, l2p,
        )
    actions: list[dict] = []
    if id_hwms:
        actions.append(
            {"metaData": dl._meta_with_identity_hwm(meta, id_hwms)}
        )
    actions.extend(cdc_actions)
    if txn is not None:
        actions.append({"txn": {
            "appId": txn[0], "version": txn[1], "lastUpdated": dl._now_ms(),
        }})
    actions.extend(tx.remove(rel) for rel in touched_rels)
    return tx.commit(
        "APPLY CHANGES", {"keyColumns": key_cols}, actions, staged=new_adds,
        metrics=dl._add_metrics(new_adds, len(touched_rels)),
    )


def delta_cdf_apply_sink(
    target_path: str,
    key_cols: list[str],
    app_id: str = "cdf-apply",
):
    """foreachBatch sink: apply a ``delta_feed`` readChangeFeed stream
    into a target Delta table exactly once —
    ``source → CDF stream → apply_changes_delta`` keeps the target a
    converging replica of the source across MERGEs, replaceWheres and
    RESTOREs (not just appends). The txn ledger makes replayed batch
    ids no-ops, the same contract as :func:`delta_stream_sink`."""

    def sink(batch: DataFrame, batch_id: int) -> None:
        apply_changes_delta(
            batch.sparkSession,
            target_path,
            batch,
            key_cols=key_cols,
            txn=(app_id, int(batch_id)),
        )

    return sink


