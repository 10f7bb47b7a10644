"""Slowly-changing-dimension type-2 merge (SURVEY §2.2/§2.5 ext).

The dbt face of this semantic is a *snapshot* (``dbt snapshot`` with
``strategy: check``): each run compares the source's current attribute
values against the open rows of a history table and rewrites the table
so every attribute change becomes a closed ``[valid_from, valid_to)``
interval. The reference's dbt project has no snapshots yet (its models
are plain views), but snapshots are the canonical dbt mechanism for the
"track the dimension over time" requirement its FX/weather verticals
imply — this operator is that mechanism, Spark-native.

Scale shape: everything is one shuffle on the business key followed by
linear per-key window passes — closed history is untouched (append-only
at the storage layer via ``merge_delta``), and the
recomputed segment is |open rows| + |batch|, never |history|. No loops,
no driver-side state: a 100 TB history with a billion keys flows through
the same three-stage plan.

Query-shaped twin with a DuckDB oracle: ``scd2_user_type_history``
(queries/temporal.py) builds the same intervals from a full change log.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: SCD2 bookkeeping columns appended to the caller's key + tracked columns.
SCD2_META = ("valid_from", "valid_to", "is_current")


def _tracked_struct(tracked_cols: list[str]) -> Column:
    return F.struct(*[F.col(c) for c in tracked_cols])


def scd2_init(updates: DataFrame, key_cols: list[str], tracked_cols: list[str], ts_col: str) -> DataFrame:
    """Build a fresh SCD2 table from an observation batch.

    Equivalent to ``scd2_merge(None, ...)``; collapses consecutive
    observations with unchanged tracked values.
    """
    return scd2_merge(None, updates, key_cols, tracked_cols, ts_col)


def scd2_merge(
    current: DataFrame | None,
    updates: DataFrame,
    key_cols: list[str],
    tracked_cols: list[str],
    ts_col: str,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Merge an observation batch into an SCD2 history table.

    ``current``: existing history with ``key_cols + tracked_cols +
    (valid_from, valid_to, is_current)``; ``None`` or empty = first run.
    ``updates``: raw observations with ``key_cols + tracked_cols +
    ts_col``. Returns the full new history (closed rows unchanged).

    Semantics (dbt snapshot ``check`` strategy):
    - a batch row whose tracked values differ from the key's open row
      closes that row at the observation time and opens a new one;
    - consecutive identical observations collapse (no zero-change rows);
    - several changes for one key in one batch produce several
      intervals, ordered by ``ts_col`` (ties broken by
      ``tiebreak_cols``, default none — supply one when observation
      times can collide);
    - **late data is dropped**: an observation at or before the open
      row's ``valid_from`` cannot rewrite closed history (the same
      contract dbt snapshots apply). Re-applying a batch is therefore
      idempotent: every row either matches the open row (collapses) or
      is late (dropped).
    """
    tiebreak_cols = tiebreak_cols or []
    order_cols = [F.col("valid_from")] + [F.col(c) for c in tiebreak_cols]
    out_cols = key_cols + tracked_cols + list(SCD2_META)

    obs = updates.select(
        *key_cols,
        *tracked_cols,
        F.col(ts_col).alias("valid_from"),
        *[F.col(c) for c in tiebreak_cols if c not in key_cols + tracked_cols],
    )

    if current is None or not current.columns:
        closed = None
        open_rows = None
    else:
        closed = current.filter(~F.col("is_current")).select(*out_cols)
        # Tiebreak columns are not persisted in the history schema; open
        # rows get nulls for them via allowMissingColumns, and nulls sort
        # first — the open row anchors its timestamp's tie group.
        open_rows = current.filter(F.col("is_current")).select(
            *key_cols, *tracked_cols, "valid_from"
        )

    if open_rows is not None:
        # Drop late observations: anything at or before the key's open
        # valid_from cannot change history. Keys new to the table keep
        # every observation (left join finds no open row).
        anchor = open_rows.select(
            *key_cols, F.col("valid_from").alias("_open_from")
        )
        obs = (
            obs.join(anchor, key_cols, "left")
            .filter(F.col("_open_from").isNull() | (F.col("valid_from") > F.col("_open_from")))
            .drop("_open_from")
        )
        timeline = open_rows.unionByName(obs, allowMissingColumns=True)
    else:
        timeline = obs

    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    tracked = _tracked_struct(tracked_cols)
    segments = (
        timeline.withColumn("_prev", F.lag(tracked).over(w))
        # Keep the first row per key and every row whose tracked values
        # changed; identical consecutive observations collapse here.
        .filter(F.col("_prev").isNull() | (tracked != F.col("_prev")))
        .withColumn("valid_to", F.lead("valid_from").over(w))
        .withColumn("is_current", F.col("valid_to").isNull())
        .select(*out_cols)
    )
    return segments if closed is None else closed.unionByName(segments)
