"""Z-order clustering for multi-column data skipping (SURVEY §2.2 ext).

Hive partitioning (operators/medallion.py) prunes on ONE column family
(the partition key). Queries filtering on a *different* column still scan
every file unless the file layout correlates with that column too.
Z-ordering is the lakehouse answer (Delta ``OPTIMIZE ZORDER BY``, Iceberg
``rewrite_data_files`` with a z-order strategy): interleave the bits of
several normalized columns into one clustering key, range-partition and
sort the data by it, and every written file ends up covering a small
hyper-rectangle of the filtered space — so parquet row-group/file min-max
stats prune aggressively on ANY of the z-ordered columns.

Scale shape: one pass to collect per-column min/max (a broadcast-size
aggregate), one range shuffle on the z-value (uniform by construction —
range partitioning equalizes file sizes), one local sort per partition.
The layout cost is a single full rewrite, amortized over every
subsequent selective scan; this is exactly the Delta/Iceberg OPTIMIZE
cost model. No per-row Python anywhere — the bit interleave compiles to
a chain of shift/or column expressions inside codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Bits per column in the interleaved key. 16 bits x 2 cols uses 32 of
#: the 63 usable long bits; with more columns :func:`zorder_write`
#: shrinks the per-column resolution so the Morton code never touches
#: the sign bit (resolution beyond ~2^16 buckets adds nothing for
#: file-level skipping anyway — files are far coarser than 65k buckets).
DEFAULT_BITS = 16

#: A Spark ``long`` has 63 value bits; bit 63 is the sign. A Morton code
#: that writes into the sign bit makes top-bucket rows negative, breaking
#: the monotonicity that range partitioning + sort rely on.
_MAX_Z_BITS = 63


def _bucketize(col: Column, lo: Column, hi: Column, bits: int) -> Column:
    """Normalize a numeric column to an integer bucket in [0, 2^bits).

    Min/max normalization: rank-free (no global sort), one broadcast
    aggregate supplies lo/hi. Constant columns land in bucket 0. Skewed
    distributions get skewed buckets — acceptable for file skipping
    (files still cover narrow value ranges); a quantile-based variant
    would equalize bucket population at the cost of an approx-quantile
    pass.
    """
    span = hi - lo
    scaled = F.when(span <= 0, F.lit(0)).otherwise(
        F.least(
            F.floor((col.cast("double") - lo) / span * (2**bits)),
            F.lit(2**bits - 1),
        )
    )
    return F.coalesce(scaled, F.lit(0)).cast("long")  # nulls cluster at 0


def _interleave(buckets: list[Column], bits: int) -> Column:
    """Morton code: bit i of column j lands at position i*n_cols + j."""
    n = len(buckets)
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, b in enumerate(buckets):
            bit = F.shiftright(b, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * n + j))
    return z


def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 8,
    bits: int = DEFAULT_BITS,
) -> None:
    """Rewrite ``df`` to ``path`` clustered by the z-order of ``cols``.

    Files are range-partitioned on the Morton code of the min/max-
    normalized columns and sorted within each file, so per-file min-max
    stats become selective on every z-ordered column simultaneously —
    the property :func:`zorder_file_stats` measures and
    ``tests/test_zorder.py`` pins.

    ``bits`` is clamped so ``bits * len(cols) <= 63``: a Morton code that
    reaches bit 63 of a long flips the sign on top-bucket rows and the
    range partitioning is silently no longer monotone.
    """
    keyed, helper_cols = zorder_key(df, cols, bits)
    (
        keyed.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop(*helper_cols)
        .write.mode("overwrite")
        .option("compression", "zstd")
        .parquet(path)
    )


def zorder_key(
    df: DataFrame, cols: list[str], bits: int = DEFAULT_BITS
) -> tuple[DataFrame, list[str]]:
    """``df`` plus a ``_z`` Morton-code column over the min/max-
    normalized ``cols`` (one broadcast bounds aggregate, map-side
    interleave). Returns (keyed frame, helper column names to drop
    after partitioning/sorting). Shared by :func:`zorder_write` and
    ``delta_maintain.optimize_delta(zorder_by=...)`` so the clustering key
    can never diverge between the plain and the lakehouse layout
    passes."""
    if not cols:
        raise ValueError("z-ordering requires at least one column")
    bits = min(bits, _MAX_Z_BITS // len(cols))
    if bits < 1:
        raise ValueError(f"too many z-order columns ({len(cols)}) for a 63-bit key")
    agg = df.agg(
        *[f(c).cast("double").alias(f"{n}_{c}") for c in cols for n, f in (("lo", F.min), ("hi", F.max))]
    )
    with_bounds = df.crossJoin(F.broadcast(agg))
    buckets = [
        _bucketize(F.col(c), F.col(f"lo_{c}"), F.col(f"hi_{c}"), bits) for c in cols
    ]
    keyed = with_bounds.withColumn("_z", _interleave(buckets, bits))
    return keyed, ["_z"] + [f"{n}_{c}" for c in cols for n in ("lo", "hi")]


def zorder_file_stats(path: str, cols: list[str]) -> dict[str, float]:
    """Per-column data-skipping effectiveness of a parquet directory.

    For each column: mean per-file (max-min) span divided by the global
    span — 1.0 means every file covers the whole range (no skipping
    possible), values near 1/n_files mean near-perfect clustering.
    Footer-only reads (no data pages), driver-side; a catalog would
    store these stats at write time.
    """
    import glob

    import pyarrow.parquet as pq

    files = sorted(glob.glob(f"{path}/part-*.parquet"))
    spans: dict[str, list[tuple[float, float]]] = {c: [] for c in cols}
    for f in files:
        md = pq.read_metadata(f)
        names = md.schema.names
        per_file: dict[str, tuple[float, float]] = {}
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                c = names[ci]
                if c not in spans:
                    continue
                st = md.row_group(rg).column(ci).statistics
                # Stats can be absent (disabled at write time) or min/max-less
                # (all-null row group); skip those row groups rather than crash.
                if st is None or not st.has_min_max:
                    continue
                lo, hi = float(st.min), float(st.max)
                cur = per_file.get(c)
                per_file[c] = (
                    (lo, hi) if cur is None else (min(cur[0], lo), max(cur[1], hi))
                )
        for c, (lo, hi) in per_file.items():
            spans[c].append((lo, hi))
    out: dict[str, float] = {}
    for c, file_spans in spans.items():
        if not file_spans:  # column had no min/max stats in any file
            out[c] = float("nan")
            continue
        glo = min(lo for lo, _ in file_spans)
        ghi = max(hi for _, hi in file_spans)
        gspan = ghi - glo or 1.0
        out[c] = sum(hi - lo for lo, hi in file_spans) / len(file_spans) / gspan
    return out
