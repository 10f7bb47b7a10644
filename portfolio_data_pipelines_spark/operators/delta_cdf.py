"""Change Data Feed machinery (split from delta_log, r16).

The CDF side of the table lifecycle: the write-side cdc
materialization every REWRITE commit performs once
``delta.enableChangeDataFeed=true`` (``_maybe_stage_cdc`` /
``_stage_cdc_files``), the single keyed NET diff both the write and
read paths share (``_net_changes`` — pinned equal in tests so the two
can never diverge), and ``read_delta_cdf`` — Delta's readChangeFeed
contract reconstructed from the transaction log with write-side change
files preferred.

Reference: delta-io PROTOCOL.md (Change Data Files / Add CDC File).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import delta_colmap, delta_scan
from . import delta_log as dl
from .delta_protocol import _PROTOCOL_ACTION
from .hadoop_io import _hadoop_fs


def _read_adds_subset(spark, path, subset, meta):
    """Rows of an explicit add-entry subset (one commit's adds, or the
    live entries of its removed files), projected to the logical
    schema's columns (column mapping resolved). None when empty."""
    return delta_scan._read_adds(spark, path, subset, meta)


def _cdf_enabled(meta: dict | None) -> bool:
    """Is ``delta.enableChangeDataFeed=true`` set in the table
    configuration? When it is, every REWRITE commit (MERGE / APPLY
    CHANGES / replaceWhere / keyed overwrite / keyed RESTORE)
    materializes its row-level changes as ``_change_data/`` files
    referenced by ``cdc`` actions — the public protocol's Change Data
    Feed writer duty. Append-only and remove-only commits stay
    derivable from add/remove actions and carry no cdc (also per
    spec), so the hot append path pays nothing."""
    return bool(meta) and str(
        (meta.get("configuration") or {}).get(
            "delta.enableChangeDataFeed", ""
        )
    ).lower() == "true"


def enable_change_data_feed(spark: SparkSession, path: str) -> int:
    """Set ``delta.enableChangeDataFeed=true`` — one metadata-only
    commit, as ``ALTER TABLE ... SET TBLPROPERTIES`` does. The protocol
    advances to minWriterVersion 4 (the CDF writer feature's legacy
    version; column-mapped tables are already at 5, which subsumes
    it). From the next rewrite commit on, changes are materialized at
    write time, so CDF reads cost O(changes) instead of re-deriving
    them from both sides of every rewrite — and stay readable after
    the rewritten data files are vacuumed."""
    tx = dl.Txn(spark, path)
    st = tx.st
    config = dict(st.meta.get("configuration") or {})
    if str(config.get("delta.enableChangeDataFeed", "")).lower() == "true":
        return st.version  # idempotent
    config["delta.enableChangeDataFeed"] = "true"
    meta = dict(st.meta)
    meta["configuration"] = config
    proto = dict(st.protocol or _PROTOCOL_ACTION["protocol"])
    proto["minWriterVersion"] = max(int(proto["minWriterVersion"]), 4)
    if int(proto["minWriterVersion"]) >= 7 or proto.get(
        "writerFeatures"
    ) is not None:
        # table-features protocol: every ACTIVE writer feature must be
        # listed — the legacy version bump alone would hide the CDF
        # duty from foreign writers
        wf = set(proto.get("writerFeatures") or [])
        wf.add("changeDataFeed")
        proto["writerFeatures"] = sorted(wf)
    return tx.commit(
        "SET TBLPROPERTIES",
        {"properties": {"delta.enableChangeDataFeed": "true"}},
        [{"protocol": proto}, {"metaData": meta}],
    )


def _net_changes(old_df, new_df, key_cols: list, cols: list):
    """NET row-level changes from ``old_df`` to ``new_df`` keyed by
    ``key_cols``: a frame of ``cols + _change_type`` (insert /
    update_preimage / update_postimage / delete). Value-equal rows on
    both sides (carried over by a copy-on-write rewrite) emit nothing.
    THE single diff used by both the read-side CDF reconstruction and
    the write-side cdc materialization, so the two paths cannot
    diverge (they are pinned equal in tests). One full-outer key join
    — O(touched rows), the only shuffle either path pays."""
    nonkey = [c for c in cols if c not in key_cols]
    post_keys = {c: f"_nk_{c}" for c in key_cols}
    if nonkey:
        o = old_df.select(*key_cols, F.struct(*nonkey).alias("_pre"))
        n = new_df.select(
            *[F.col(c).alias(post_keys[c]) for c in key_cols],
            F.struct(*nonkey).alias("_post"),
        )
    else:
        o = old_df.select(*key_cols).withColumn("_pre", F.lit(True))
        n = new_df.select(
            *[F.col(c).alias(post_keys[c]) for c in key_cols]
        ).withColumn("_post", F.lit(True))
    # NULL-SAFE key pairing: under plain join semantics a NULL key
    # never equals itself, so a NULL-keyed row would mispair into a
    # spurious delete+insert; eqNullSafe keeps it one row of the diff
    cond = None
    for c in key_cols:
        e = F.col(c).eqNullSafe(F.col(post_keys[c]))
        cond = e if cond is None else (cond & e)
    j = (
        o.join(n, cond, "full_outer")
        .filter(
            # carried-over rows (equal images on both sides) are not
            # changes; dropping them first keeps every surviving row
            # mapped to a NON-EMPTY change array below
            ~(
                F.col("_pre").isNotNull()
                & F.col("_post").isNotNull()
                & F.col("_pre").eqNullSafe(F.col("_post"))
            )
        )
        .select(
            # keep BOTH sides' key values: under a fold-compare
            # collation (UTF8_LCASE) the pre and post keys can be
            # fold-equal but byte-different ('a' matched by 'A') — each
            # emitted image must carry ITS side's bytes, exactly what a
            # byte-faithful CDC consumer replays
            *key_cols,
            *[F.col(post_keys[c]) for c in key_cols],
            "_pre",
            "_post",
        )
    )
    arr = (
        F.when(
            F.col("_pre").isNull(),
            F.array(
                F.struct(
                    F.lit("insert").alias("_ct"), F.col("_post").alias("_img")
                )
            ),
        )
        .when(
            F.col("_post").isNull(),
            F.array(
                F.struct(
                    F.lit("delete").alias("_ct"), F.col("_pre").alias("_img")
                )
            ),
        )
        .otherwise(
            F.array(
                F.struct(
                    F.lit("update_preimage").alias("_ct"),
                    F.col("_pre").alias("_img"),
                ),
                F.struct(
                    F.lit("update_postimage").alias("_ct"),
                    F.col("_post").alias("_img"),
                ),
            )
        )
    )
    ch = j.select(
        *key_cols,
        *[F.col(post_keys[c]) for c in key_cols],
        F.explode(arr).alias("_c"),
    )
    img_cols = (
        [F.col(f"_c._img.{c}").alias(c) for c in nonkey] if nonkey else []
    )
    ct = F.col("_c._ct")
    key_out = [
        # post-state images carry the post side's key bytes, pre-state
        # images the pre side's; coalesce covers the one-sided rows
        F.when(
            ct.isin("insert", "update_postimage"),
            F.coalesce(F.col(post_keys[c]), F.col(c)),
        )
        .otherwise(F.coalesce(F.col(c), F.col(post_keys[c])))
        .alias(c)
        for c in key_cols
    ]
    return ch.select(
        *key_out,
        *img_cols,
        ct.alias("_change_type"),
    ).select(*cols, "_change_type")


def _stage_cdc_files(
    spark, fs, jvm, path: str, changes, new_version: int, l2p: dict | None
) -> list[dict]:
    """Write ``changes`` (logical table columns + ``_change_type``) as
    the commit's change-data files under ``_change_data/`` and return
    the ``cdc`` actions referencing them.

    Layout choice, documented deviation: files are UNPARTITIONED with
    EVERY column (including partition columns) materialized in-file
    under its physical name, and ``partitionValues`` is ``{}`` —
    delta-spark mirrors the table's hive layout under ``_change_data/``
    instead and omits partition columns from the files. Both are
    readable from the actions alone; the flat form keeps the cdc read
    path one schema'd parquet scan with no partition-dir parsing. A
    net-empty rewrite still stages one (0-row) file so the commit
    carries an explicit cdc record — readers then KNOW the rewrite
    changed nothing instead of falling back to reconstruction.

    Change files are never part of the live set: readers of the table
    ignore them (cdc actions are skipped by replay), checkpoints don't
    carry them, and vacuum ages them by file mtime like any
    unreferenced file — so CDF history expires with the same retention
    as time travel, the Delta contract."""
    changes = dl._variant_physical(changes)  # same duty as data staging
    if l2p:
        # id-mode tables: change files carry the same parquet field ids
        # as data files (``_change_type`` has none — id-resolving CDF
        # readers match it by its reserved name, as delta-spark does)
        fids = getattr(l2p, "fids", None)
        if fids:
            spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
        wtypes = getattr(l2p, "wtypes", None) or {}
        changes = changes.select(
            *[
                (
                    F.col(c).cast(wtypes[c]) if c in wtypes else F.col(c)
                ).alias(
                    l2p.get(c, c), metadata={"parquet.field.id": fids[c]}
                )
                if fids and c in fids
                else F.col(c).alias(l2p.get(c, c))
                for c in changes.columns
            ]
        )
    staging = f"_staging_cdc_v{new_version:020d}_{uuid.uuid4().hex[:12]}"
    (
        changes.write.mode("overwrite")
        .option("compression", "zstd")
        .parquet(f"{path}/{staging}")
    )
    staged = dl._relative_files(fs, jvm, path, staging, [])
    actions = []
    for i, (rel, size, _pv) in enumerate(sorted(staged)):
        fname = f"cdc-v{new_version:06d}-{rel.rsplit('/', 1)[-1]}"
        final_rel = f"_change_data/{fname}"
        src = jvm.org.apache.hadoop.fs.Path(f"{path}/{rel}")
        dst = jvm.org.apache.hadoop.fs.Path(f"{path}/{final_rel}")
        fs.mkdirs(dst.getParent())
        if not fs.rename(src, dst):
            raise IOError(f"rename failed for {rel}")
        actions.append(
            {
                "cdc": {
                    "path": dl._encode_path(final_rel),
                    "partitionValues": {},
                    "size": size,
                    "dataChange": False,
                }
            }
        )
    fs.delete(jvm.org.apache.hadoop.fs.Path(f"{path}/{staging}"), True)
    if not actions:
        raise IOError(
            f"staging wrote no change files for commit {new_version} — "
            "expected at least one (possibly empty) parquet part"
        )
    return actions


def _read_cdc_rows(spark, path: str, rels: list, meta: dict):
    """Rows of a commit's change-data files: logical table columns +
    ``_change_type``. Files carry physical names and every column
    materialized (see :func:`_stage_cdc_files`); the explicit read
    schema null-fills columns added by later evolution."""
    from pyspark.sql.types import StringType, StructField, StructType

    schema = dl._spark_schema_from_string(meta["schemaString"])
    l2p = delta_colmap._logical_to_physical(meta)
    base = delta_colmap._physical_read_schema(meta) if l2p else schema
    read_schema = StructType(
        list(base.fields) + [StructField("_change_type", StringType())]
    )
    df = spark.read.schema(read_schema).parquet(
        *[f"{path}/{rel}" for rel in rels]
    )
    if l2p:
        sel = [F.col(l2p[f.name]).alias(f.name) for f in schema.fields]
    else:
        sel = [F.col(f.name) for f in schema.fields]
    return df.select(*sel, F.col("_change_type"))


def _maybe_stage_cdc(
    spark,
    fs,
    jvm,
    path: str,
    meta: dict,
    old_df,
    new_df,
    key_cols: list | None,
    cols: list,
    new_version: int,
    l2p: dict | None,
) -> list[dict]:
    """The write-side CDF duty for one REWRITE commit (both removed
    and added data files): materialize its row-level changes as cdc
    actions. With ``key_cols`` the changes are the keyed NET diff
    (identical to what read-side reconstruction would compute); without
    keys — an unkeyed overwrite — the protocol's operation semantics
    apply: every removed row is a ``delete``, every written row an
    ``insert``. Returns [] when the table hasn't enabled CDF."""
    if not _cdf_enabled(meta):
        return []
    schema = dl._spark_schema_from_string(meta["schemaString"])
    empty = spark.createDataFrame([], schema=schema)
    old_df = old_df if old_df is not None else empty
    new_df = new_df if new_df is not None else empty
    # variant columns diff in their PHYSICAL binary form — variant has
    # no comparison operator, the binary pair does (conservative:
    # byte-unequal-but-semantically-equal cells would emit an update
    # pair, but both sides come from files this engine wrote, so
    # carried-over rows keep identical bytes). Staging below then
    # no-ops its own conversion.
    old_df, new_df = dl._variant_physical(old_df), dl._variant_physical(new_df)
    if key_cols:
        changes = _net_changes(old_df, new_df, key_cols, cols)
    else:
        changes = old_df.select(
            *cols, F.lit("delete").alias("_change_type")
        ).unionByName(
            new_df.select(*cols, F.lit("insert").alias("_change_type"))
        )
    return _stage_cdc_files(spark, fs, jvm, path, changes, new_version, l2p)


def read_delta_cdf(
    spark: SparkSession,
    path: str,
    from_version: int,
    key_cols: list[str] | None = None,
    to_version: int | None = None,
) -> DataFrame:
    """Row-level change-data-feed for commits ``(from_version,
    to_version]`` — Delta CDF semantics reconstructed from the
    transaction log: each commit's NET row-level changes, tagged
    ``_change_type`` ∈ {insert, update_preimage, update_postimage,
    delete} with ``_commit_version`` and ``_commit_timestamp`` (the
    commit file's time) — the contract delta-spark's
    ``readChangeFeed`` exposes. Unlike :func:`read_delta_changes` (the
    append feed), a MERGE/replaceWhere/RESTORE rewrite does NOT
    re-deliver carried-over rows: downstream consumers see exactly the
    rows that changed, once.

    Reconstruction, per commit (dataChange actions only, so OPTIMIZE /
    ZORDER layout commits emit nothing):

    - adds without removes (append) → every added row is an ``insert``
      — map-side, no join, identical rows to the append feed;
    - removes without adds (truncating overwrite) → every removed row
      is a ``delete``;
    - adds AND removes (MERGE / overwrite / replaceWhere / RESTORE,
      copy-on-write) → a full-outer ``key_cols`` join of the REMOVED
      files' rows (the pre-state, from the prior version's live set)
      against the ADDED files' rows: key only in old → ``delete``, only
      in new → ``insert``, in both with differing non-key values → an
      ``update_preimage`` + ``update_postimage`` pair; equal rows
      (carried over by the rewrite) emit nothing.

    ``key_cols`` must uniquely identify a row within the touched files
    of each snapshot side (the MERGE contract); duplicate keys make
    image pairing ambiguous. Each commit's feed equals the keyed
    value-level diff of its two adjacent snapshots (pinned in tests).

    WRITE-SIDE cdc files are preferred: a commit carrying ``cdc``
    actions (written by this repo's rewrite commits once
    :func:`enable_change_data_feed` is on, or by any standard Delta
    writer with ``delta.enableChangeDataFeed=true``) is answered by
    reading its ``_change_data`` files directly — no join, no need for
    the rewritten data files to still exist (vacuum-safe), O(changes)
    cost. Reconstruction remains the fallback for commits from before
    the table enabled CDF; on such commits ``key_cols`` is required
    (it may be omitted when every rewrite commit in the window carries
    cdc actions).

    Scale: the pre-state comes from ONE log replay at ``from_version``
    advanced incrementally through the commit actions (never a replay
    per commit); each commit reads only ITS touched files — O(files
    the commit rewrote), not O(table) — and pays one key shuffle only
    when it actually rewrote files without cdc. A feed window over an
    append-mostly table is join-free, and over a CDF-enabled table it
    is join-free everywhere."""
    fs, _, jvm = _hadoop_fs(spark, path)
    tail = dl._log_tail(fs, jvm, path)
    if not tail[0]:
        raise FileNotFoundError(f"no _delta_log under {path}")
    tip = tail[0][-1] if to_version is None else to_version
    tip_state = dl._replay_log(spark, path, tip, tail)
    meta = tip_state.meta
    if meta is None:
        raise ValueError(f"Delta log under {path} has no metaData action")
    schema = dl._spark_schema_from_string(meta["schemaString"])
    cols = [f.name for f in schema.fields]
    if key_cols:
        missing_keys = [k for k in key_cols if k not in cols]
        if missing_keys:
            raise ValueError(
                f"key_cols {missing_keys} not in table schema {cols}"
            )
    pcols = meta.get("partitionColumns", [])
    ptypes = {f.name: f.dataType for f in schema.fields if f.name in pcols}

    # live set at from_version, advanced commit by commit below
    live: dict[str, dict] = (
        dict(dl._replay_log(spark, path, from_version, tail).adds)
        if from_version >= 0
        else {}
    )

    def _tag(df, ct, v, ts_ms):
        return df.select(
            *cols,
            F.lit(ct).alias("_change_type"),
            F.lit(v).cast("long").alias("_commit_version"),
            F.timestamp_millis(F.lit(ts_ms)).alias("_commit_timestamp"),
        )

    def _diff(old_df, new_df, v, ts_ms):
        if not key_cols:
            raise ValueError(
                f"commit {v} rewrote files and carries no cdc actions — "
                "pass key_cols to reconstruct its changes, or "
                "enable_change_data_feed on the table so rewrite commits "
                "materialize change files"
            )
        return _net_changes(old_df, new_df, key_cols, cols).select(
            *cols,
            "_change_type",
            F.lit(v).cast("long").alias("_commit_version"),
            F.timestamp_millis(F.lit(ts_ms)).alias("_commit_timestamp"),
        )

    pieces = []
    for v in range(from_version + 1, tip + 1):
        actions = dl._commit_actions(fs, jvm, path, v)
        ts_ms = dl._commit_ts_ms(fs, jvm, path, v, actions)
        adds_v: dict[str, dict] = {}
        removed_adds: dict[str, dict] = {}
        cdc_v: list[str] = []
        for action in actions:
            if "add" in action:
                a = action["add"]
                rel = a["path"]
                if a.get("dataChange", True):
                    adds_v[rel] = a
                live[rel] = a
            elif "remove" in action:
                rel = action["remove"]["path"]
                # the removed entry comes from the PRE-commit live set
                prev = live.pop(rel, None)
                if action["remove"].get("dataChange", True) and prev is not None:
                    removed_adds[rel] = prev
            elif "cdc" in action:
                cdc_v.append(action["cdc"]["path"])
        if cdc_v:
            # write-side change files: the commit's changes verbatim —
            # no join, and valid even after the rewritten data files
            # were vacuumed (live was still advanced above)
            gone_cdc = [
                rel
                for rel in cdc_v
                if not fs.exists(jvm.org.apache.hadoop.fs.Path(f"{path}/{rel}"))
            ]
            if gone_cdc:
                raise FileNotFoundError(
                    f"change files of commit {v} were vacuumed "
                    f"({gone_cdc[:3]}{'...' if len(gone_cdc) > 3 else ''}) "
                    "— the CDF window exceeds the table's retention"
                )
            pieces.append(
                _read_cdc_rows(spark, path, cdc_v, meta).select(
                    *cols,
                    "_change_type",
                    F.lit(v).cast("long").alias("_commit_version"),
                    F.timestamp_millis(F.lit(ts_ms)).alias(
                        "_commit_timestamp"
                    ),
                )
            )
            continue
        if not adds_v and not removed_adds:
            continue  # txn-only / layout-only commit
        gone = [
            rel
            for rel in removed_adds
            if not fs.exists(jvm.org.apache.hadoop.fs.Path(f"{path}/{rel}"))
        ]
        if gone:
            raise FileNotFoundError(
                f"cannot reconstruct changes for commit {v}: its removed "
                f"files were vacuumed ({gone[:3]}"
                f"{'...' if len(gone) > 3 else ''}) — the CDF window "
                "exceeds the table's retention; start from a newer "
                "version or raise the vacuum retention"
            )
        new_df = _read_adds_subset(spark, path, adds_v, meta)
        old_df = _read_adds_subset(spark, path, removed_adds, meta)
        if old_df is None:
            pieces.append(_tag(new_df, "insert", v, ts_ms))
        elif new_df is None:
            pieces.append(_tag(old_df, "delete", v, ts_ms))
        else:
            pieces.append(_diff(old_df, new_df, v, ts_ms))

    out_fields = cols + ["_change_type", "_commit_version", "_commit_timestamp"]
    if not pieces:
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
            TimestampType,
        )

        empty = StructType(
            schema.fields
            + [
                StructField("_change_type", StringType()),
                StructField("_commit_version", LongType()),
                StructField("_commit_timestamp", TimestampType()),
            ]
        )
        return spark.createDataFrame([], schema=empty)
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out.select(*out_fields)


