"""Declarative data-quality tests (SURVEY §2.8 Q1-Q3, §5).

The reference ships one dbt test — ``not_null`` on
``public.weather_hourly.time`` (``dbt/models/sources.yml:9-10``) — and a
roadmap of ``accepted_values``, ``relationships``, and range sanity
(−80 ≤ temp ≤ 60 °C, 0-100 %RH; ``README.md:192-194``). We implement the
full set as engine-level expectations whose violation count must be zero.

The row-predicate checks (``not_null``, ``accepted_values``, ``row_range``)
are evaluated together by :func:`run_expectations`: one ``count_if``
column each in a single aggregation, so a list of them costs one pass
over the relation whatever its length. ``freshness``, ``unique`` and
``relationships`` need their own aggregation or join and run one action
each.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class ExpectationResult:
    name: str
    passed: bool
    violations: int


Expectation = Callable[[DataFrame], ExpectationResult]


@dataclass(frozen=True, eq=False)  # a Column has no boolean ==
class _RowCheck:
    """A check that holds row by row: ``violation`` is true on each bad
    row. Callable alone (one filtered count); :func:`run_expectations`
    folds every row check of a list into one aggregation."""

    name: str
    violation: Column

    def __call__(self, df: DataFrame) -> ExpectationResult:
        return _result(self.name, df.filter(self.violation).count())


def _result(name: str, violations: int) -> ExpectationResult:
    return ExpectationResult(name=name, passed=(violations == 0), violations=violations)


def not_null(column: str) -> Expectation:
    """dbt ``not_null`` parity (sources.yml:9-10)."""
    return _RowCheck(f"not_null({column})", F.col(column).isNull())


def accepted_values(column: str, values: Sequence) -> Expectation:
    """dbt ``accepted_values`` parity (README.md:192)."""
    return _RowCheck(
        f"accepted_values({column})",
        ~F.col(column).isin(list(values)) | F.col(column).isNull(),
    )


def row_range(column: str, lo: float, hi: float) -> Expectation:
    """Range sanity (README.md:193: −80..60 °C, 0..100 %RH). NULLs pass."""
    return _RowCheck(
        f"range({column},{lo},{hi})",
        F.col(column).isNotNull() & ~F.col(column).between(lo, hi),
    )


def freshness(ts_column: str, max_age_hours: float, now=None) -> Expectation:
    """dbt source ``freshness`` parity (README.md:192-194 roadmap): the
    newest row's timestamp must be within ``max_age_hours`` of ``now``
    (injectable for determinism; defaults to the engine clock). One
    scalar max aggregation — with a partitioned time column the scan
    prunes to recent partitions."""

    def run(df: DataFrame) -> ExpectationResult:
        ref = F.lit(now).cast("timestamp") if now is not None else F.current_timestamp()
        # Seconds, not HOURS: interval HOURS literals reject fractions.
        cutoff = ref - F.expr(f"INTERVAL {int(max_age_hours * 3600)} SECONDS")
        # An empty source (NULL max) counts as stale, like dbt's
        # error-on-no-data freshness behavior.
        stale = (
            df.agg(F.max(ts_column).alias("_max_ts"))
            .select(
                F.when(
                    F.col("_max_ts").isNull() | (F.col("_max_ts") < cutoff), 1
                )
                .otherwise(0)
                .alias("_stale")
            )
            .first()["_stale"]
        )
        return ExpectationResult(
            name=f"freshness({ts_column},{max_age_hours}h)",
            passed=(stale == 0),
            violations=int(stale),
        )

    return run


def unique(columns: str | Sequence[str]) -> Expectation:
    """dbt ``unique`` parity (the 4th generic dbt test alongside
    not_null/accepted_values/relationships): zero key groups with more
    than one row. One shuffle on the key; the HAVING count runs on the
    aggregated (tiny) side."""
    cols = [columns] if isinstance(columns, str) else list(columns)

    def run(df: DataFrame) -> ExpectationResult:
        n = (
            df.groupBy(*[F.col(c) for c in cols])
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > 1)
            .count()
        )
        return ExpectationResult(
            name=f"unique({','.join(cols)})", passed=(n == 0), violations=n
        )

    return run


def relationships(column: str, parent: DataFrame, parent_column: str) -> Expectation:
    """dbt ``relationships`` parity (README.md:192): FK anti-join count == 0."""

    def run(df: DataFrame) -> ExpectationResult:
        n = (
            df.filter(F.col(column).isNotNull())
            .join(
                parent.select(F.col(parent_column).alias(column)),
                on=column,
                how="left_anti",
            )
            .count()
        )
        return ExpectationResult(name=f"relationships({column})", passed=(n == 0), violations=n)

    return run


def run_expectations(df: DataFrame, expectations: Sequence[Expectation]) -> list[ExpectationResult]:
    """dbt-test-runner parity (Q2): evaluate all, return results in input
    order. Every row check is a ``count_if`` column of ONE ``df.agg``
    (NULL predicates count as passing, as under ``filter``); the other
    expectations run as they are."""
    row_checks = [e for e in expectations if isinstance(e, _RowCheck)]
    counts = iter(
        df.agg(*[F.count_if(e.violation) for e in row_checks]).first() if row_checks else ()
    )
    return [
        _result(e.name, int(next(counts))) if isinstance(e, _RowCheck) else e(df)
        for e in expectations
    ]


# ---------------------------------------------------------------------------
# Observed writes: quality counters collected DURING the write (zero extra
# passes) via df.observe — the 100 TB upgrade over a separate check pass.
# ---------------------------------------------------------------------------

#: Violation-count metric builders mirroring the expectation vocabulary.
#: Each returns (name, aggregate Column) for use with observe_write.
def m_null_count(column: str) -> tuple[str, Column]:
    return f"nulls_{column}", F.count_if(F.col(column).isNull())


def m_out_of_range(column: str, lo: float, hi: float) -> tuple[str, Column]:
    return (
        f"oor_{column}",
        F.count_if(F.col(column).isNotNull() & ~F.col(column).between(lo, hi)),
    )


def m_row_count() -> tuple[str, Column]:
    return "n_rows", F.count(F.lit(1))


def observe_write(
    df: DataFrame,
    path: str,
    metrics: Sequence[tuple[str, Column]],
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: Sequence[str] | None = None,
) -> dict:
    """Write ``df`` while collecting aggregate quality metrics from the
    SAME pass (``df.observe`` + ``Observation``): the metrics piggyback
    on the write's scan, so a row count, null counter and range counter
    cost ZERO additional jobs — vs :func:`run_expectations`, which
    re-reads the data in one aggregation over all row checks (fine for a
    dev loop, a full extra scan at 100 TB). Returns {metric name: value}.

    This is the production shape for write-path quality gates: land the
    data, read the observed counters, and quarantine/alert when a
    counter is nonzero — without ever re-reading what was just
    written."""
    from pyspark.sql import Observation

    obs = Observation()
    named = [col.alias(name) for name, col in metrics]
    if not named:
        raise ValueError("observe_write requires at least one metric")
    observed = df.observe(obs, named[0], *named[1:])
    writer = observed.write.format(fmt).mode(mode).option("compression", "zstd")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)
    return dict(obs.get)
