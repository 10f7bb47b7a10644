"""The Delta read path (split from delta_log, r16).

Everything between a replayed live-file set and a DataFrame: the ONE
shared scan (`_read_adds` — column-mapping resolution, the hive fast
path vs grouped fallback, deletion-vector anti-joins, row-id
derivation), the log-only data-skipping proofs (`_file_may_match` /
`_skip_lt` / generated-column partition-bound derivation), the public
`read_delta` with predicate skipping and time travel
(`version_as_of`), and the incremental append feed
(`read_delta_changes`). Write-side machinery (staging, commit,
replay) stays in delta_log; the independent spec-only reader the tests
compare against lives in ``tests/delta_reader.py``.

Reference: delta-io PROTOCOL.md (Data Skipping / Deletion Vectors /
Row Tracking / Column Mapping) and delta-spark's DeltaScan.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import delta_colmap, delta_dv
from . import delta_log as dl
from .hadoop_io import _hadoop_fs


def _group_adds(adds: dict, pcols: list) -> list[tuple[tuple, list[str]]]:
    """Live adds grouped by partitionValues, deterministically ordered —
    the unit of one scan in :func:`_read_file_groups`, and the group
    half of DV row identity (file BASENAMES are only guaranteed unique
    within one partitionValues group: a dynamic-partition write reuses
    the same part number + job uuid across its partition dirs)."""
    groups: dict[tuple, list[str]] = {}
    for rel, a in sorted(adds.items()):
        key = tuple(a.get("partitionValues", {}).get(c) for c in pcols)
        groups.setdefault(key, []).append(rel)
    return sorted(
        groups.items(), key=lambda kv: tuple(x or "" for x in kv[0])
    )


def _read_file_groups(
    spark,
    path: str,
    adds: dict,
    pcols: list,
    ptypes: dict,
    schema,
    extra_cols=None,
    tag_col: str | None = None,
    explicit_schema=None,
):
    """Read live files grouped by partitionValues (one scan per group,
    mergeSchema within), restore partition columns with their declared
    types, null-fill declared-but-absent columns, and union. Shared by
    read_delta's fallback, merge_delta, and optimize_delta.
    ``extra_cols`` maps extra column names to per-group Column factories
    (e.g. input_file_name for merge provenance); ``tag_col`` stamps each
    group's rows with its :func:`_group_adds` index. ``explicit_schema``
    (id-mode tables) replaces name-keyed mergeSchema with a declared
    data schema — its ``parquet.field.id`` metadata drives Spark's
    field-id resolution against each file's stamped ids."""
    parts = []
    for i, (key, rels) in enumerate(_group_adds(adds, pcols)):
        rd = (
            spark.read.schema(explicit_schema)
            if explicit_schema is not None
            else spark.read.option("mergeSchema", "true")
        )
        p = rd.parquet(*[f"{path}/{r}" for r in rels])
        if extra_cols:
            for name, factory in extra_cols.items():
                p = p.withColumn(name, factory())
        if tag_col is not None:
            p = p.withColumn(tag_col, F.lit(i))
        for c, v in zip(pcols, key):
            p = p.withColumn(c, F.lit(v).cast(ptypes[c]))
        parts.append(p)
    if not parts:
        return None
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    for f in schema.fields:
        if f.name not in out.columns:
            out = out.withColumn(f.name, F.lit(None).cast(f.dataType))
    return out


def _read_adds(
    spark, path: str, adds: dict, meta: dict, with_file=False,
    with_pos=False, row_ids=False,
):
    """THE read path for a set of live add entries: resolves column
    mapping (files and partitionValues carry PHYSICAL names on mapped
    tables; callers always see LOGICAL columns), takes the one-call
    hive fast path when the layout allows, falls back to grouped
    per-partition reads otherwise, and APPLIES DELETION VECTORS — adds
    carrying a ``deletionVector`` descriptor have their deleted row
    positions anti-joined out (broadcast when small, per the protocol's
    reader duty). Returns the frame in logical schemaString column
    order (+ ``_file`` provenance / ``__dv_grp``+``__dv_fn``+
    ``__dv_pos`` physical row identity when asked), or None for an
    empty set. Shared by
    read_delta, MERGE, APPLY CHANGES, OPTIMIZE, DELETE and the CDF so
    mapping and DV semantics can never diverge.

    ``row_ids=True`` (rowTracking tables) appends ``_row_id`` /
    ``_row_commit_version``: materialized per-row values when the file
    carries the hidden columns (rewritten files), else the FRESH
    derivation baseRowId + position-in-file / defaultRowCommitVersion.
    The per-file (baseRowId, defaultRowCommitVersion) relation is
    O(files) driver-side and broadcast onto the scan through the same
    file-identity tags the DV filter uses — row-id reads stay on the
    single-scan plan."""
    if not adds:
        return None
    schema = dl._spark_schema_from_string(meta["schemaString"])
    l2p = delta_colmap._logical_to_physical(meta)
    id_mode = getattr(l2p, "read_by_id", False)
    if id_mode:
        # resolution is by parquet FIELD ID: the physical read schema
        # carries per-field ids and the session resolves by them
        # (spark.sql.parquet.fieldId.read.enabled); everything else —
        # DV anti-joins, row-id derivation, file identity — is keyed on
        # file paths, not column names, so the one shared plan applies
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    pcols_log = meta.get("partitionColumns", [])
    if l2p is None:
        read_schema = schema
        pcols = list(pcols_log)
    else:
        read_schema = delta_colmap._physical_read_schema(meta)
        pcols = [l2p[c] for c in pcols_log]
    # collated PARTITION columns: Spark's hive partition discovery
    # cannot cast a dir value to a collated string type
    # (INVALID_PARTITION_VALUE) — scan them as PLAIN strings and
    # restore the declared collation in the output projection below
    coll_pcols: set = set()
    from pyspark.sql.types import StringType as _PStr
    from pyspark.sql.types import StructField as _PSF
    from pyspark.sql.types import StructType as _PST

    _fields = []
    for f in read_schema.fields:
        if (
            f.name in pcols
            and isinstance(f.dataType, _PStr)
            and f.dataType.collation != "UTF8_BINARY"
        ):
            coll_pcols.add(f.name)
            _fields.append(_PSF(f.name, _PStr(), f.nullable, f.metadata))
        else:
            _fields.append(f)
    if coll_pcols:
        read_schema = _PST(_fields)
    mat_id_col, mat_cv_col = (
        dl._rt_mat_cols(meta) if row_ids else (None, None)
    )
    if row_ids:
        from pyspark.sql.types import LongType, StructField, StructType

        # the hidden materialized columns live in (some) files but
        # never in schemaString; files lacking them null-fill
        extra_fields = [
            StructField(c, LongType())
            for c in (mat_id_col, mat_cv_col)
            if c
        ]
        read_schema = StructType(list(read_schema.fields) + extra_fields)
    ptypes = {
        p.name: p.dataType
        for p in read_schema.fields
        if p.name in pcols
    }
    dv_adds = {r: a for r, a in adds.items() if a.get("deletionVector")}
    need_pos = with_pos or row_ids or bool(dv_adds)
    fast_id, depth, keymap = (
        delta_dv._dv_identity(adds, pcols) if need_pos else (False, 0, {})
    )
    pos_cols = {
        "__dv_fn": (
            # FAST identity: the rel path itself, as the last `depth`
            # segments of the scanned file's path — keeps DV'd reads
            # on the same ONE-reader-call plan as clean reads
            (lambda: F.array_join(
                F.slice(F.split(F.input_file_name(), "/"), -depth, depth),
                "/",
            ))
            if fast_id
            else (lambda: F.element_at(
                F.split(F.input_file_name(), "/"), -1
            ))
        ),
        "__dv_pos": lambda: F.col("_metadata.row_index"),
    }
    df = (
        None
        if need_pos and not fast_id  # grouped identity needs the tag
        else _fast_hive_read(spark, path, adds, read_schema, pcols)
    )
    if df is None and any(
        f.dataType.typeName() == "variant" for f in read_schema.fields
    ):
        # the grouped fallback reads without an explicit schema, so the
        # struct<value,metadata> physical pair would surface as a plain
        # struct instead of decoding — refuse rather than mis-type
        raise ValueError(
            "variant columns are supported only on hive-layout tables "
            "(the explicit-schema fast path); this layout would "
            "surface the raw value/metadata struct"
        )
    if df is not None:
        if with_file:
            df = df.withColumn("_file", F.input_file_name())
        if need_pos:
            for name, factory in pos_cols.items():
                df = df.withColumn(name, factory())
            df = df.withColumn("__dv_grp", F.lit(0))
    else:
        extra: dict = {}
        if with_file:
            extra["_file"] = F.input_file_name
        if need_pos:
            extra.update(pos_cols)
        from pyspark.sql.types import StructType as _ST

        df = _read_file_groups(
            spark, path, adds, pcols, ptypes, read_schema,
            extra_cols=extra or None,
            tag_col="__dv_grp" if need_pos else None,
            # id-mode: name-keyed mergeSchema would mis-resolve foreign
            # files — read each group with the field-id-stamped data
            # schema instead (partition columns restored from the log)
            explicit_schema=_ST(
                [f for f in read_schema.fields if f.name not in pcols]
            )
            if id_mode
            else None,
        )
        if df is not None and need_pos and fast_id:
            # fast identity but non-hive layout fell back (defensive —
            # _dv_identity mirrors _fast_hive_read's layout check)
            df = df.withColumn("__dv_grp", F.lit(0))
    if df is None:
        return None
    if dv_adds:
        pos_df, total = delta_dv._dv_positions_df(spark, path, dv_adds, keymap)
        if total <= delta_dv.DV_BROADCAST_MAX_POSITIONS:
            pos_df = F.broadcast(pos_df)
        df = df.join(
            pos_df,
            (F.col("__dv_grp") == F.col("__dvp_grp"))
            & (F.col("__dv_fn") == F.col("__dvp_fn"))
            & (F.col("__dv_pos") == F.col("__dvp_pos")),
            "left_anti",
        )
    if row_ids:
        # O(files) driver relation: file identity -> (baseRowId,
        # defaultRowCommitVersion); always broadcast (it is the add
        # list itself, tiny next to any data scan)
        base_rows = [
            (
                int(grp), fn,
                adds[rel].get("baseRowId"),
                adds[rel].get("defaultRowCommitVersion"),
            )
            for rel, (grp, fn) in keymap.items()
        ]
        base_df = F.broadcast(
            spark.createDataFrame(
                base_rows,
                "__rt_grp int, __rt_fn string, __rt_base long, __rt_dcv long",
            )
        )
        df = df.join(
            base_df,
            (F.col("__dv_grp") == F.col("__rt_grp"))
            & (F.col("__dv_fn") == F.col("__rt_fn")),
            "left",
        )
    if l2p is None:
        out_cols = [
            F.col(f.name).cast(f.dataType).alias(f.name)
            if f.name in coll_pcols
            else F.col(f.name)
            for f in schema.fields
        ]
    else:
        out_cols = [
            F.col(l2p[f.name]).cast(f.dataType).alias(f.name)
            if l2p[f.name] in coll_pcols
            else F.col(l2p[f.name]).alias(f.name)
            for f in schema.fields
        ]
    if with_file:
        out_cols.append(F.col("_file"))
    if with_pos:
        out_cols.extend(
            [F.col("__dv_grp"), F.col("__dv_fn"), F.col("__dv_pos")]
        )
    if row_ids:
        fresh_id = F.col("__rt_base") + F.col("__dv_pos")
        fresh_cv = F.col("__rt_dcv")
        out_cols.append(
            (F.coalesce(F.col(mat_id_col), fresh_id) if mat_id_col
             else fresh_id).alias("_row_id")
        )
        out_cols.append(
            (F.coalesce(F.col(mat_cv_col), fresh_cv) if mat_cv_col
             else fresh_cv).alias("_row_commit_version")
        )
    return df.select(*out_cols)


def _temporal_utc(v):
    """ISO-8601 string → tz-aware UTC datetime, else None. Naive
    parses are pinned to UTC — the convention Spark's UTC-adjusted
    parquet stats and this writer's ``_stats_value`` both follow."""
    import datetime as dt

    if not isinstance(v, str):
        return None
    try:
        d = dt.datetime.fromisoformat(v)
    except ValueError:
        return None
    return d if d.tzinfo is not None else d.replace(tzinfo=dt.timezone.utc)


def _skip_lt(a, b):
    """``a < b`` for data-skipping proofs, or None when no proof exists.

    Temporal stats and caller bounds can carry MIXED timezone-suffix
    forms: Spark-written UTC-adjusted parquet yields tz-aware ISO
    strings (``...+00:00``) while a caller's naive datetime bound
    serializes without the suffix. At a range boundary lexicographic
    order then diverges from temporal order (``'…12:00:00' <
    '…12:00:00+00:00'`` though they are the same instant), which would
    prune a file that holds matching rows. So: when BOTH sides parse as
    ISO datetimes, compare as UTC instants; when only one does (mixed
    representations), return None — keep the file, mirroring the
    TypeError-keep fallback."""
    ta, tb = _temporal_utc(a), _temporal_utc(b)
    if ta is not None and tb is not None:
        return ta < tb
    if ta is not None or tb is not None:
        return None  # one temporal, one not: no proof
    try:
        return a < b
    except TypeError:
        return None


#: Generation-expression shapes :func:`_derived_partition_bounds` can
#: invert into partition bounds. Each entry: (unit, compiled regex with
#: the base column as group 1).
_GEN_PRUNE_SHAPES: list | None = None


def _derived_partition_bounds(
    meta: dict, predicate: dict, pcols: list
) -> dict:
    """Partition pruning THROUGH generated columns: when a partition
    column is GENERATED from a base column the caller's predicate
    bounds (``{base: (lo, hi)}``), derive the implied bounds on the
    partition column — delta-spark's marquee optimization for the
    ``day = CAST(ts AS DATE)`` layout, where queries filter the
    timestamp and never mention the partition column. At 100 TB this
    turns a time-range query from touching every partition's stats
    into touching the few partitions the range covers.

    Recognized shapes: ``CAST(base AS DATE)`` and ``YEAR(base)``
    (case-insensitive, optional backticks). Derived bounds are PADDED
    by one unit on each side because the generation expression
    evaluates in the WRITER's session timezone while the caller's
    bounds are treated as UTC instants — skipping must stay a superset
    guarantee under any writer timezone within ±24 h of UTC. Columns
    the caller already bounded explicitly are left alone."""
    global _GEN_PRUNE_SHAPES
    if _GEN_PRUNE_SHAPES is None:
        import re

        _GEN_PRUNE_SHAPES = [
            (
                "date",
                re.compile(
                    r"(?i)^\s*cast\s*\(\s*`?(\w+)`?\s+as\s+date\s*\)\s*$"
                ),
            ),
            ("year", re.compile(r"(?i)^\s*year\s*\(\s*`?(\w+)`?\s*\)\s*$")),
        ]
    import datetime as dt

    gens = dl._generated_exprs(meta)
    out: dict = {}
    for p in pcols:
        expr = gens.get(p)
        if expr is None or p in predicate:
            continue
        unit = base = None
        for u, rx in _GEN_PRUNE_SHAPES:
            m = rx.match(expr)
            if m:
                unit, base = u, m.group(1)
                break
        if base is None or base not in predicate:
            continue
        lo, hi = predicate[base]
        tlo = _temporal_utc(dl._stats_value(lo))
        thi = _temporal_utc(dl._stats_value(hi))
        plo = (tlo - dt.timedelta(days=1)) if tlo is not None else None
        phi = (thi + dt.timedelta(days=1)) if thi is not None else None
        if plo is None and phi is None:
            continue
        if unit == "date":
            out[p] = (
                plo.date().isoformat() if plo else None,
                phi.date().isoformat() if phi else None,
            )
        else:
            out[p] = (plo.year if plo else None, phi.year if phi else None)
    return out


def _file_may_match(add: dict, pcols: list, predicate: dict) -> bool:
    """Can this file hold a row satisfying ``predicate`` (col →
    (lo, hi) closed interval, either bound None = unbounded)? Decided
    from the log ALONE: partitionValues for partition columns, the
    stats document's minValues/maxValues for data columns. Files
    without usable stats are conservatively kept — skipping is an
    optimization, never a correctness filter."""
    stats = json.loads(add["stats"]) if add.get("stats") else {}
    mins = stats.get("minValues", {})
    maxs = stats.get("maxValues", {})
    for col, (lo, hi) in predicate.items():
        lo, hi = dl._stats_value(lo), dl._stats_value(hi)
        if col in pcols:
            v = add.get("partitionValues", {}).get(col)
            if v is None:
                continue  # null partition: no range proof
            # partition values are logical strings; bounds compare as
            # strings (ISO dates order lexicographically) or numbers
            if isinstance(lo, (int, float)) or isinstance(hi, (int, float)):
                try:
                    v = float(v)
                except ValueError:
                    continue
            if (lo is not None and _skip_lt(v, lo)) or (
                hi is not None and _skip_lt(hi, v)
            ):
                return False
            continue
        fmin, fmax = mins.get(col), maxs.get(col)
        if fmin is None or fmax is None:
            continue  # no stats for this column: keep the file
        # _skip_lt handles mixed tz-suffix temporal forms and type
        # mismatches alike: None (no proof) keeps the file.
        if lo is not None and _skip_lt(fmax, lo):
            return False
        if hi is not None and _skip_lt(hi, fmin):
            return False
    return True


def version_as_of(spark: SparkSession, path: str, ts: str) -> int:
    """The highest version committed at or before ISO-8601 ``ts`` —
    Delta's ``timestampAsOf`` resolution — searching the FULL retained
    commit listing (including commits before the latest checkpoint,
    which the checkpoint-anchored replay probe skips). Each commit's
    time comes from ``commitInfo.inCommitTimestamp`` when present (the
    ICT feature: monotonic by construction and immune to object stores
    rewriting file mtimes), falling back to the commit file's
    modification time for foreign logs without it — delta-spark's
    historic behavior. Raises when the earliest retained commit is
    already newer (log cleanup passed the asked-for time)."""
    import datetime as dt

    target = dt.datetime.fromisoformat(ts)
    if target.tzinfo is None:
        target = target.replace(tzinfo=dt.timezone.utc)
    target_ms = int(target.timestamp() * 1000)
    fs, _, jvm = _hadoop_fs(spark, path)
    best = None
    for v in dl._all_commit_versions(fs, jvm, path):
        if dl._commit_ts_ms(fs, jvm, path, v) <= target_ms:
            best = v
    if best is None:
        raise ValueError(
            f"no commit in {path} at or before {ts} (the earliest "
            "retained commit is newer)"
        )
    return best


def read_delta(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    predicate: dict | None = None,
    as_of: str | None = None,
    row_ids: bool = False,
) -> DataFrame:
    """Read the Delta table at ``path`` (latest, a pinned ``version``,
    or ``as_of`` an ISO-8601 timestamp — Delta's ``timestampAsOf``,
    resolved from commit times by :func:`version_as_of`).

    Live files are passed as explicit paths (tombstoned files sharing
    the same partition directories are excluded by construction);
    partition columns are restored from each file's ``partitionValues``
    and cast to the ``schemaString`` type — files themselves do not
    contain partition columns, per the Delta layout.

    ``predicate`` ({col: (lo, hi)}, closed intervals, None = open end)
    enables FILE-LEVEL data skipping from the log's per-file
    minValues/maxValues (and partitionValues): provably-disjoint files
    never reach the scan — at 100 TB this is the difference between
    planning over every file and planning over the few a selective
    query touches, BEFORE any parquet footer is opened. Skipping is a
    superset guarantee, not a filter: callers still apply the exact
    ``.filter(...)``, and files without stats are always kept.

    ``row_ids=True`` (rowTracking tables) appends ``_row_id`` /
    ``_row_commit_version`` — stable per-row identifiers preserved
    through MERGE/UPDATE/OPTIMIZE/PURGE rewrites (the public Delta
    protocol's Row Tracking feature); see :func:`enable_row_tracking`."""
    if as_of is not None:
        if version is not None:
            raise ValueError("pass either version or as_of, not both")
        version = version_as_of(spark, path, as_of)
    st = dl._replay_log(spark, path, version)
    adds, meta = st.adds, st.meta
    if meta is None:
        raise ValueError(f"Delta log under {path} has no metaData action")
    pcols = meta.get("partitionColumns", [])
    if predicate:
        # pruning through generated partition columns: a bound on the
        # BASE column implies bounds on the generated partition column
        derived = _derived_partition_bounds(meta, predicate, pcols)
        if derived:
            predicate = {**derived, **predicate}
        # folded-compare (collated) columns never prune on byte-ordered
        # file stats — drop their entries (superset-safe: more files
        # read, never fewer). One carve-out (r13): an EQUALITY bound on
        # a UTF8_LCASE PARTITION column prunes by folded
        # partitionValues compare — ASCII-only, where Python's and
        # Spark's lowercase provably agree; any non-ASCII value keeps
        # its file.
        fold = dl._fold_collated_columns(meta)
        fold_eq: dict = {}
        if fold:
            lcase_pcols = (
                dl._lcase_collated_columns(meta) & set(pcols) & set(predicate)
            )
            for c in lcase_pcols:
                lo, hi = predicate[c]
                fv = (
                    dl._ascii_fold(lo)
                    if lo == hi and lo is not None
                    else None
                )
                if fv is not None:
                    fold_eq[c] = fv
            predicate = {
                c: b for c, b in predicate.items() if c not in fold
            }
        # callers phrase predicates in LOGICAL names; stats documents
        # and partitionValues carry PHYSICAL names on mapped tables
        l2p = delta_colmap._logical_to_physical(meta)
        if l2p is not None:
            predicate = {l2p.get(c, c): b for c, b in predicate.items()}
            fold_eq = {l2p.get(c, c): v for c, v in fold_eq.items()}
            pcols_phys = [l2p[c] for c in pcols]
        else:
            pcols_phys = pcols
        adds = {
            rel: a
            for rel, a in adds.items()
            if _file_may_match(a, pcols_phys, predicate)
            and all(
                (pv := a.get("partitionValues", {}).get(c)) is None
                or dl._ascii_fold(pv) is None
                or dl._ascii_fold(pv) == fv
                for c, fv in fold_eq.items()
            )
        }
    out = _read_adds(spark, path, adds, meta, row_ids=row_ids)
    if out is None:
        from pyspark.sql.types import LongType, StructField, StructType

        base = dl._spark_schema_from_string(meta["schemaString"])
        if row_ids:
            base = StructType(
                list(base.fields)
                + [
                    StructField("_row_id", LongType()),
                    StructField("_row_commit_version", LongType()),
                ]
            )
        return spark.createDataFrame([], schema=base)
    return out


def _fast_hive_read(spark, path: str, adds: dict, schema, pcols):
    """Fast path (the layout this writer produces): every live file sits
    at {col}={val}/.../{file} with the partition dirs DIRECTLY under
    the table root in partition-column order — Spark's discovery
    grammar — so ONE reader call with the declared schema and basePath
    covers the whole set: no per-partition reads, no union chain, O(1)
    plan nodes no matter how many partitions. The explicit schema
    doubles as schema-on-read: pre-evolution files surface typed nulls
    for newer columns, and no partition-type inference runs. Returns
    None for layouts with intermediate non-partition dirs (e.g. the
    lake export's _batch_*/), which take the grouped fallback."""

    def _hive_layout(rel: str) -> bool:
        segs = rel.split("/")[:-1]
        return len(segs) == len(pcols) and all(
            s.startswith(f"{c}=") for s, c in zip(segs, pcols)
        )

    if not adds or not all(_hive_layout(rel) for rel in adds):
        return None
    files = [f"{path}/{rel}" for rel in sorted(adds)]
    return spark.read.schema(schema).option("basePath", path).parquet(*files)


def read_delta_changes(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Rows ADDED in commits ``(from_version, to_version]`` — the
    incremental-consumption read (change-data-feed lite): a downstream
    job that remembers its last-seen version pulls exactly the new
    files, never rescanning the table. Each row carries its
    ``_commit_version``.

    Rows removed by overwrites/merges are not emitted (this is the
    append feed, not a full CDF with preimages — ``read_delta_cdf``
    computes value-level diffs when those are needed). Cost: the log
    tail plus a scan of ONLY the new files."""
    fs, _, jvm = _hadoop_fs(spark, path)
    tail = dl._log_tail(fs, jvm, path)
    if not tail[0]:
        raise FileNotFoundError(f"no _delta_log under {path}")
    tip = tail[0][-1] if to_version is None else to_version
    meta = dl._replay_log(spark, path, tip, tail).meta
    if meta is None:
        raise ValueError(f"Delta log under {path} has no metaData action")
    schema = dl._spark_schema_from_string(meta["schemaString"])
    new_adds: list[tuple[int, dict]] = []
    for v in range(from_version + 1, tip + 1):
        for action in dl._commit_actions(fs, jvm, path, v):
            if "add" in action and action["add"].get("dataChange", True):
                new_adds.append((v, action["add"]))
    out_fields = [f.name for f in schema.fields] + ["_commit_version"]
    if not new_adds:
        from pyspark.sql.types import LongType, StructField, StructType

        empty = StructType(
            schema.fields + [StructField("_commit_version", LongType())]
        )
        return spark.createDataFrame([], schema=empty)
    # one _read_adds per commit — the SHARED read path, so column
    # mapping resolves and deletion vectors filter here exactly as in
    # every other read (a DV'd re-add emits its LIVE rows, matching
    # the streaming feed's plain mode); scan nodes stay O(commits ×
    # touched partitions), not O(files)
    by_commit: dict[int, dict] = {}
    for v, a in new_adds:
        by_commit.setdefault(v, {})[a["path"]] = a
    parts = [
        _read_adds(spark, path, by_commit[v], meta).withColumn(
            "_commit_version", F.lit(v).cast("long")
        )
        for v in sorted(by_commit)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(*out_fields)
