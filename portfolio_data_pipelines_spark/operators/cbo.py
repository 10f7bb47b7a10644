"""Stats-driven join strategy — a mini cost-based optimizer.

Spark's built-in CBO only kicks in for catalog tables that have been
``ANALYZE TABLE``-d; DataFrame pipelines over raw parquet get just the
scan-level ``sizeInBytes`` heuristic: all-or-nothing, carrying no stats
judgment from ingestion time to query time. The reference has no
optimizer at all (Polars eager + Postgres; its one join-shaped model is
a dbt view, ``/root/reference/dbt/models/marts/weather_daily.sql``).

This module closes the loop the way a warehouse catalog does:

- **Collect once, at write time.** Every Delta ``add`` action carries
  the file's ``size`` and a ``stats`` JSON with ``numRecords``, so the
  live table's size is a log replay away, no data scan needed.
- **Expose uniformly.** `TableStats` from the Delta log
  (`stats_for_delta`), or from any parquet file/directory
  (`stats_for_parquet`: footer row counts + file lengths, driver-side,
  mtime-cached — the same probe discipline as the nanos sniffer).
- **Decide per join, like Spark's JoinSelection.** `stats_join`
  broadcasts the smallest *eligible* build side whose estimated bytes
  fit the threshold (default = Spark's 10 MB
  ``autoBroadcastJoinThreshold``), otherwise adds no hint and lets the
  shuffle planner take it. Eligibility mirrors BroadcastHashJoin's
  build-side rules: inner → either side, left outer/semi/anti → right
  only, right outer → left only, full outer → neither.

Parquet bytes understate in-memory hash-relation size (compression +
encoding), but this is the same estimator Spark's own threshold is
calibrated against, so the 10 MB default carries over unchanged.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Mirrors spark.sql.autoBroadcastJoinThreshold's default.
DEFAULT_BROADCAST_BYTES = 10 * 1024 * 1024

#: (path, signature) → TableStats; same invalidation discipline as the
#: parquet nanos probe (st_mtime_ns + st_size per part file).
_STATS_CACHE: dict = {}

#: Join types whose BroadcastHashJoin build side may be the right/left
#: relation (Spark's canBuildRight / canBuildLeft).
_BUILD_RIGHT = {"inner", "cross", "left", "leftouter", "left_outer",
                "semi", "leftsemi", "left_semi", "anti", "leftanti", "left_anti"}
_BUILD_LEFT = {"inner", "cross", "right", "rightouter", "right_outer"}


@dataclass(frozen=True)
class TableStats:
    """Row count (None when only sizes are known) and on-disk bytes."""

    rows: int | None
    bytes: int


def stats_for_parquet(spark, path: str) -> TableStats:
    """(rows, bytes) for a parquet file or directory of part files —
    driver-side footer + stat probe, cached on file signatures. The
    probe a catalog would persist at registration time. Directories are
    walked recursively so hive-partitioned layouts count their leaf
    part files, not the directory inode."""
    if os.path.isdir(path):
        files = sorted(
            os.path.join(root, f)
            for root, _dirs, names in os.walk(path)
            for f in names
            if f.endswith(".parquet")
        )
    elif os.path.exists(path):
        files = [path]
    else:
        files = []
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    sig = tuple((p, os.stat(p).st_mtime_ns, os.stat(p).st_size) for p in files)
    cached = _STATS_CACHE.get(path)
    if cached is not None and cached[0] == sig:
        return cached[1]
    total_bytes = sum(os.stat(p).st_size for p in files)
    rows: int | None
    try:
        import pyarrow.parquet as pq

        rows = sum(pq.read_metadata(p).num_rows for p in files)
    except Exception:
        rows = None
    stats = TableStats(rows=rows, bytes=total_bytes)
    _STATS_CACHE[path] = (sig, stats)
    return stats


def stats_for_delta(spark, path: str) -> TableStats:
    """Live-snapshot (rows, bytes) of a Delta table from its transaction
    log alone — add actions carry ``size`` and a ``stats`` JSON with
    ``numRecords``, so no data file is ever opened. Rows fall back to
    None when any live file lacks stats (e.g. written by a stats-less
    writer); bytes are always available."""
    import json as _json

    from .delta_log import _replay_log

    adds = _replay_log(spark, path, None).adds
    total_bytes = sum(int(a.get("size", 0)) for a in adds.values())
    rows: int | None = 0
    for a in adds.values():
        s = a.get("stats")
        if not s:
            rows = None
            break
        rows += int(_json.loads(s)["numRecords"])
    return TableStats(rows=rows, bytes=total_bytes)


def _eligible(stats: TableStats | None, threshold: int) -> bool:
    return stats is not None and stats.bytes <= threshold


def stats_join(
    left: DataFrame,
    right: DataFrame,
    on: Column | str | list,
    how: str = "inner",
    *,
    left_stats: TableStats | None = None,
    right_stats: TableStats | None = None,
    threshold: int = DEFAULT_BROADCAST_BYTES,
) -> DataFrame:
    """Join with the strategy chosen from table stats: broadcast the
    smallest eligible side under ``threshold`` bytes, else no hint
    (shuffle join). Unknown stats (None) are never broadcast — the
    conservative default for unbounded inputs."""
    how_n = how.lower().replace("_", "")
    build_r = how_n in {h.replace("_", "") for h in _BUILD_RIGHT}
    build_l = how_n in {h.replace("_", "") for h in _BUILD_LEFT}
    can_r = build_r and _eligible(right_stats, threshold)
    can_l = build_l and _eligible(left_stats, threshold)
    if can_r and can_l:
        # broadcast the smaller estimated side, like JoinSelection
        if right_stats.bytes <= left_stats.bytes:
            can_l = False
        else:
            can_r = False
    if can_r:
        right = F.broadcast(right)
    elif can_l:
        left = F.broadcast(left)
    else:
        # No side qualifies. If a build-eligible side is KNOWN oversized,
        # force the merge path: Spark's scan-level sizeInBytes can wildly
        # understate a side (snapshot unions, post-explode growth)
        # and would happily broadcast a 50 GB build — the one case where
        # write-time stats beat the runtime estimate. Unknown stats add
        # no hint: Spark's own heuristic stays in charge.
        def _oversized(stats: TableStats | None) -> bool:
            return stats is not None and stats.bytes > threshold

        if (build_r and _oversized(right_stats)) or (
            build_l and _oversized(left_stats)
        ):
            right = right.hint("merge")
    return left.join(right, on, how)
