"""Deterministic aggregation helpers (cross-engine exactness).

Floating-point sums depend on accumulation order, and Spark's partial
aggregation order is nondeterministic across partitions — so a plain
``SUM(double)`` can differ in the last ulp between runs and between
engines. Every double aggregate in the declared-query surface therefore
routes through exact decimal accumulation:

    sum:  SUM(CAST(x AS DECIMAL(30,4)))   — exact, order-independent
    avg:  decimal-sum / count             — one IEEE division of identical
                                            inputs ⇒ identical doubles

The DuckDB oracle SQL uses the same construction, so results are
bit-identical across engines. Cheap at any scale: decimal sums are
JVM-side codegen, no UDF.

Scale choice (4) is deliberate: DuckDB converts double↔decimal via double
arithmetic (multiply/divide by 10^scale), while Spark converts via exact
BigDecimal. The two agree exactly iff value×10^scale fits double's 53-bit
integer range. At scale 4 that holds for per-row values < ~9e11 and sums
< ~9e11×10^4 — comfortably true for this schema even at sf100; at scale
10 it already breaks for multi-billion sums (observed: DuckDB off by
4e-4 ulps on a 3.7e9 sum).
"""

from __future__ import annotations

from collections import OrderedDict

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Exact-accumulation type: precision 30 gives sum headroom; scale 4 keeps
#: double↔decimal conversions bit-identical across engines (see module doc).
DEC = "decimal(30,4)"


def _col(c: str | Column) -> Column:
    return F.col(c) if isinstance(c, str) else c


def dsum(c: str | Column) -> Column:
    """Order-independent sum of a double column, returned as double."""
    return F.sum(_col(c).cast(DEC)).cast("double")


def davg(c: str | Column) -> Column:
    """Order-independent mean: exact decimal sum / non-null count."""
    col = _col(c)
    return (F.sum(col.cast(DEC)).cast("double") / F.count(col)).cast("double")


#: (applicationId, plan semanticHash) → partition count. The probe
#: (``df.rdd.getNumPartitions()``) costs a full physical-planning pass
#: through py4j (~30-80 ms); the count is a pure function of the plan
#: within one session, so operators that re-build the same scan many
#: times (every bench/oracle invocation) pay it once. Plan metadata,
#: not results — nothing here caches data.
#:
#: Freshness caveat (r16 ADVICE): a scan's split count is NOT a pure
#: function of the logical plan across time — re-scanning a path after
#: files were appended keeps the semanticHash but changes the split
#: count, so the memo can mis-size the widen for the rest of the app.
#: Every current call site reads a STATIC fixture table (documents /
#: lineitem), where the memo is exact; operators over growing tables
#: (the delta marts) do not call this helper. If one ever does, bypass
#: the memo or key it on a freshness token (input file count/mtime).
_NUM_PARTITIONS_CACHE: OrderedDict[tuple, int] = OrderedDict()
_NUM_PARTITIONS_CACHE_MAX = 256

#: Widen floor for CPU-LIGHT map stages (shingling, min-hash votes,
#: vector norms): one partition per ~64 KiB of optimizer-estimated
#: input. Measured r17 at sf0.1/32 cores: widening a 0.6 MB scan to the
#: full 32 costs more in exchange + per-task overhead than the extra
#: cores return for these operators (minhash 2.11→1.68 s, dup_span
#:  1.69→1.35 s, semdedup 1.65→1.28 s, bigram 1.36→1.07 s at the
#: equivalent cap), while an 8-core run is unchanged (the floor binds
#: only above the data-justified width). Scale-adaptive, not a core
#: cap: ≥2 MiB of input already clears 32 partitions, so cluster-scale
#: scans keep the full widen. CPU-HEAVY stages (BPE replace chains,
#: decimal partial sums) pass no floor and widen to cluster width at
#: any size — r16 measured those saturating 32 cores on the same 0.6 MB.
CPU_LIGHT_BYTES_PER_PARTITION = 64 * 1024


def _memo_probe(df, kind: str, probe):
    """LRU-memoized per-(session, plan) metadata probe (partition
    count, optimizer size estimate) — each costs a py4j round trip
    (~30-80 ms). Scope (ADVICE r16): a scan's split count/size is a
    pure function of the plan only while the underlying FILES are
    static — true for the bench/test fixtures this fast-path serves.
    A path re-scanned after in-session appends may return the stale
    probe; the only effect is a skipped (or redundant) widen, never a
    wrong result, and callers that mutate-and-rescan can
    ``_NUM_PARTITIONS_CACHE.clear()``. A probe that fails returns None,
    which is passed through but NOT memoized, so one transient py4j
    error does not pin the failure for the rest of the session."""
    key = (
        df.sparkSession.sparkContext.applicationId,
        df.semanticHash(),
        kind,
    )
    val = _NUM_PARTITIONS_CACHE.get(key)
    if val is None:
        val = probe(df)
        if val is None:
            return None
        while len(_NUM_PARTITIONS_CACHE) >= _NUM_PARTITIONS_CACHE_MAX:
            _NUM_PARTITIONS_CACHE.popitem(last=False)  # LRU, not clear()
        _NUM_PARTITIONS_CACHE[key] = val
    else:
        _NUM_PARTITIONS_CACHE.move_to_end(key)
    return val


def _plan_size_bytes(df) -> int:
    """Optimizer-estimated plan size in bytes (file-source plans: the
    on-disk input size). 0 when the estimate is unavailable."""
    def probe(d):
        try:
            return int(
                str(d._jdf.queryExecution().optimizedPlan().stats()
                    .sizeInBytes())
            )
        except Exception:
            return None

    return _memo_probe(df, "bytes", probe) or 0


def ensure_min_parallelism(
    df, target: int | None = None, bytes_per_partition: int | None = None
):
    """Repartition ``df`` up to cluster parallelism iff it is narrower.

    Small single-file scans arrive as 1-2 partitions (parquet can't split
    below a row group), which serializes every downstream map stage —
    fatal for CPU-heavy operators (shingling, hashing, all-pairs math).
    On wide inputs (the 100 TB case: thousands of splits) this is a
    no-op, so no gratuitous shuffle is added where the scan is already
    parallel.

    ``bytes_per_partition`` (r16 verdict #4) bounds the widen to one
    partition per that many estimated input bytes — pass
    :data:`CPU_LIGHT_BYTES_PER_PARTITION` for map stages whose per-byte
    CPU cost does not repay full cluster width on small inputs. The
    bound only ever LOWERS the widen target (never below the scan's own
    width), and an unavailable size estimate falls back to the full
    widen, so the 100 TB shape is unchanged either way.
    """
    target = target or df.sparkSession.sparkContext.defaultParallelism
    if bytes_per_partition:
        est = _plan_size_bytes(df)
        if est > 0:
            target = min(target, -(-est // bytes_per_partition))
    nparts = _memo_probe(df, "nparts", lambda d: d.rdd.getNumPartitions())
    if nparts < target:
        return df.repartition(target)
    return df


def dsum_sql(expr: str) -> str:
    """Oracle-side rendering of :func:`dsum` (ANSI/DuckDB SQL)."""
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(30,4))) AS DOUBLE)"


def davg_sql(expr: str) -> str:
    """Oracle-side rendering of :func:`davg`."""
    return (
        f"CAST({dsum_sql(expr)} / COUNT({expr}) AS DOUBLE)"
    )
