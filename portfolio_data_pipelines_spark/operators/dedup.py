"""Deduplication operators (SURVEY §2.10 — LLM-pipeline extensions).

Five families, each expressed Spark-first (built-in columnar functions,
no Python UDFs anywhere in this module):

- **Exact**: hash-groupBy on a content digest, keep the smallest id.
- **N-gram Jaccard**: exact near-dup pairs via shingle inverted index —
  the verification primitive the approximate methods reduce to.
- **MinHash + LSH**: per-doc signature of k=NUM_PERM min-hashes, banded;
  pairs sharing a band bucket become candidates, then exact-verified.
- **SimHash**: 64-bit weighted-bit fingerprint; near-dups = small
  Hamming distance, blocked on 16-bit sub-keys.
- **Embedding cosine**: exact pairwise cosine over `array<float>`.

Scale notes (100 TB):
- The shingle inverted index (`_shingles`) is the only quadratic-risk
  structure: a shingle shared by m docs yields m² candidate pairs. At
  scale, drop ultra-frequent shingles (stop-shingles) before the
  self-join — `max_shingle_freq` does this.
- MinHash-LSH replaces the all-pairs join with a bucket join: cost is
  Σ bucket², controlled by bands×rows trade-off. Signatures are 64
  JVM-side xxhash64 aggregations — one pass over the exploded shingles.
- Embedding all-pairs cosine is O(n²) and exists as the correctness
  baseline; the scale path is LSH bucketing (see similarity.py).
"""

from __future__ import annotations

from collections import OrderedDict

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions import CPU_LIGHT_BYTES_PER_PARTITION, ensure_min_parallelism

NUM_PERM = 64  # minhash permutations; also the simhash bit width

# ---------------------------------------------------------------------------
# Shared index artifacts (common-subexpression reuse across the dedup family)
# ---------------------------------------------------------------------------

#: Session-scoped memo of persisted INDEX-level artifacts, keyed by
#: (applicationId, input plan semanticHash, artifact kind, params).
#: Cached units are the reusable structures a production dedup service
#: materializes once and serves many passes from — never query results:
#:
#: - per-doc shingle arrays (the shingle scan),
#: - the stop-shingle-capped posting-list inverted index,
#: - the MinHash signature table (shared by every band configuration),
#: - the SimHash fingerprint table.
#:
#: The dedup family — capped Jaccard, both MinHash-LSH configs, cluster
#: resolution, decontamination — all start from the identical
#: split→n-gram→distinct scan over the corpus; without reuse each query
#: re-reads and re-shingles the full text. At 100 TB the production form
#: is a materialized index (shingled once, written columnar, every dedup
#: pass scans the index instead of the text); a persisted DataFrame is
#: the single-session analogue. MEMORY_AND_DISK so oversized corpora
#: spill instead of evicting to recompute.
_PLAN_CACHE: "OrderedDict[tuple, DataFrame]" = OrderedDict()
_PLAN_CACHE_MAX = 16


#: Scalar twin of _PLAN_CACHE for index-level metadata (e.g. the seed
#: count the kmeans auto-switch resolves from): same keying, same
#: lifetime, no persistence to manage.
_SCALAR_CACHE: "OrderedDict[tuple, object]" = OrderedDict()


def clear_shared_plans() -> None:
    """Unpersist and drop every cached shared index artifact."""
    while _PLAN_CACHE:
        _, df = _PLAN_CACHE.popitem(last=False)
        df.unpersist()
    _SCALAR_CACHE.clear()


def _memo_scalar(key: tuple, build):
    """Return the cached scalar for ``key``, computing it on first
    request (LRU-bounded alongside the plan cache)."""
    if key in _SCALAR_CACHE:
        _SCALAR_CACHE.move_to_end(key)
        return _SCALAR_CACHE[key]
    val = build()
    _SCALAR_CACHE[key] = val
    while len(_SCALAR_CACHE) > _PLAN_CACHE_MAX:
        _SCALAR_CACHE.popitem(last=False)
    return val


def _memo_persist(key: tuple, build) -> DataFrame:
    """Return the cached persisted DataFrame for ``key``, building and
    persisting it (MEMORY_AND_DISK, LRU-evicted) on first request."""
    hit = _PLAN_CACHE.get(key)
    if hit is not None:
        _PLAN_CACHE.move_to_end(key)
        return hit
    df = build().persist(StorageLevel.MEMORY_AND_DISK)
    _PLAN_CACHE[key] = df
    while len(_PLAN_CACHE) > _PLAN_CACHE_MAX:
        _, old = _PLAN_CACHE.popitem(last=False)
        old.unpersist()
    return df


def _plan_key(df: DataFrame, kind: str, *params) -> tuple:
    return (
        df.sparkSession.sparkContext.applicationId,
        df.semanticHash(),
        kind,
        *params,
    )


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Keep one row per distinct content value (smallest id wins).

    Digest-based: groups on ``md5(content)`` so the shuffle key is a
    fixed-width hash, not the document body — at 100 TB the shuffle
    moves 32-byte keys + ids, never the text.
    """
    w = Window.partitionBy(F.md5(F.col(content_col))).orderBy(F.col(id_col).asc())
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )


# ---------------------------------------------------------------------------
# Shingling + exact n-gram Jaccard
# ---------------------------------------------------------------------------


def shingle_arrays(
    df: DataFrame, text_col: str, id_col: str, n: int = 3, shared: bool = False
) -> DataFrame:
    """Distinct word n-gram shingle ARRAY per document: (id, shingles).

    Pure columnar construction: split → sliding n-gram via transform
    over an index sequence → array_distinct. No UDFs, no shuffle —
    per-doc set operators (minhash signatures) can run map-side on this.

    ``shared=True`` memoizes the result per (session, input plan, params)
    and persists it MEMORY_AND_DISK, so every dedup-family operator in
    the session reuses one shingle scan instead of re-reading and
    re-shingling the corpus (see ``_PLAN_CACHE``). The cached unit
    is the array form — one row per doc, the smallest faithful
    representation; exploding from it is a narrow in-memory op.
    """
    if shared:
        return _memo_persist(
            _plan_key(df, "shingle_arrays", text_col, id_col, n),
            lambda: shingle_arrays(df, text_col, id_col, n, shared=False),
        )
    # Shingling is a CPU-LIGHT map stage: split + slice/concat per row.
    # Widening a small scan to full cluster width costs more in exchange
    # + per-task overhead than the cores return (r17 A/B: minhash
    # 2.11→1.68 s, dup_span 1.69→1.35 s at 32 cores) — bound the widen
    # to one partition per ~64 KiB of input; no-op at real scale.
    df = ensure_min_parallelism(
        df, bytes_per_partition=CPU_LIGHT_BYTES_PER_PARTITION
    )
    words = F.split(F.col(text_col), " ")
    # Short-doc guard WITHOUT a CASE WHEN: sequence(0, negative) would
    # generate a DESCENDING range in Spark, so docs shorter than n words
    # must yield no shingles — expressed as a slice of the ascending
    # index array down to max(size - n + 1, 0) elements. The r15 form
    # wrapped the transform in when(size >= n, ...).otherwise(array()),
    # which knocks the whole generator expression out of codegen when it
    # feeds an explode — measured 6× slower (1.47 s vs 0.26 s) on the
    # decontam bench side at sf0.1 (r16). Same grams, same order.
    idx = F.slice(
        F.sequence(F.lit(1), F.size(words)),
        1,
        F.greatest(F.size(words) - n + 1, F.lit(0)),
    )
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i, n)))
    # NULL text propagates NULL through split→slice→transform; the
    # exposed column contract is an EMPTY set for such docs (the r15
    # behavior, kept by the coalesce — unlike a CASE WHEN around the
    # generator input, a coalesce around its OUTPUT stays codegen).
    return df.select(
        F.col(id_col),
        F.coalesce(
            F.filter(F.array_distinct(grams), lambda s: F.length(s) > 0),
            F.array().cast("array<string>"),
        ).alias("shingles"),
    )


def word_shingles(
    df: DataFrame, text_col: str, id_col: str, n: int = 3, shared: bool = False
) -> DataFrame:
    """Distinct word n-gram shingles per document, exploded: (id, shingle)."""
    return shingle_arrays(df, text_col, id_col, n, shared=shared).select(
        F.col(id_col), F.explode("shingles").alias("shingle")
    )


def shingle_postings(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    max_shingle_freq: int = 50,
    shared: bool = False,
) -> DataFrame:
    """Stop-shingle-capped inverted index as posting LISTS: one row per
    surviving shingle with the sorted array of doc ids containing it —
    ``(shingle, ids)``, 2 ≤ size(ids) ≤ max_shingle_freq.

    Built in two passes on purpose: a frequency count (map-side partial
    aggregation, safe on any skew) selects shingles in [2, cap] docs,
    and only those are list-collected — so no aggregation buffer ever
    holds more than ``max_shingle_freq`` ids. Collecting first and
    filtering after would build an unbounded in-memory list for every
    stop-shingle (a shingle in 10⁹ docs → an 8 GB buffer in one task)
    — exactly the failure the cap exists to prevent.

    This is THE reusable dedup artifact: pair generation for capped
    Jaccard, MinHash verification, and cluster pair input all read it,
    so ``shared=True`` memoizes it per (session, input plan, params)
    and the two-pass build cost amortizes across the family.
    """
    def build() -> DataFrame:
        # Builds from the shared shingle arrays when shared=True, so the
        # one-time index construction itself reuses the cached scan.
        sh = word_shingles(df, text_col, id_col, n, shared=shared)
        keep = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("freq"))
            .filter(F.col("freq").between(2, max_shingle_freq))
            .select("shingle")
        )
        return (
            sh.join(F.broadcast(keep), "shingle")
            .groupBy("shingle")
            .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        )

    if shared:
        return _memo_persist(
            _plan_key(df, "shingle_postings", text_col, id_col, n, max_shingle_freq),
            build,
        )
    return build()


def _posting_pairs(posting: DataFrame) -> DataFrame:
    """Explode a posting-list index into co-occurrence pairs: one
    (id_a, id_b) row per shingle both docs share, id_a < id_b. The
    quadratic expansion happens map-side inside codegen (nested
    transform over the sorted ids array) and is bounded by the index's
    frequency cap — pairs flow straight into their group-by with no
    join. Aggregating the count per pair yields intersection sizes."""
    return posting.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ids"),
                    lambda x, i: F.transform(
                        F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                        lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                    ),
                )
            )
        ).alias("p")
    ).select("p.id_a", "p.id_b")


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.3,
    max_shingle_freq: int | None = None,
    shared: bool = False,
) -> DataFrame:
    """Exact near-duplicate pairs by word-n-gram Jaccard ≥ threshold.

    Inverted-index join: docs sharing ≥1 shingle meet in the shingle
    bucket; intersection counts come from the pair group-by, union from
    per-doc sizes. Returns (id_a, id_b, jaccard), id_a < id_b.

    ``max_shingle_freq`` drops shingles shared by more than that many
    docs before pairing — the stop-shingle guard that bounds the
    quadratic blow-up at scale (a shingle in m docs creates m² pairs).

    ``shared=True`` reuses the session's cached index artifacts (see
    :func:`shingle_arrays` / :func:`shingle_postings`). Per-doc set
    sizes come map-side from ``size(shingles)`` on the array form — no
    counting shuffle.

    Two physical shapes by cap: capped → posting-list explode over the
    bounded inverted index (pairs generated map-side, one aggregation
    shuffle — measured ~1.7× faster than the self-join at sf0.1);
    uncapped → the shingle self-join, which distributes a hot shingle's
    m² pair rows across the cluster instead of funneling its whole
    posting list through one aggregation buffer.
    """
    arrs = shingle_arrays(df, text_col, id_col, n, shared=shared)
    sizes = arrs.select(F.col(id_col), F.size("shingles").alias("n_sh"))

    if max_shingle_freq is not None:
        posting = shingle_postings(
            df, text_col, id_col, n, max_shingle_freq, shared=shared
        )
        inter = (
            _posting_pairs(posting)
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    else:
        sh = arrs.select(F.col(id_col), F.explode("shingles").alias("shingle"))
        a = sh.select(F.col(id_col).alias("id_a"), "shingle")
        b = sh.select(F.col(id_col).alias("id_b"), "shingle")
        inter = (
            a.join(b, "shingle")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            (
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double")
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(
    shingles: DataFrame, id_col: str, num_perm: int = NUM_PERM
) -> DataFrame:
    """k min-hash values per doc: (id, mh_0..mh_{k-1}).

    One pass: k xxhash64 evaluations per shingle (JVM codegen), k min
    aggregates. Seed variation via a literal first argument."""
    aggs = [
        F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"mh_{i}")
        for i in range(num_perm)
    ]
    return shingles.groupBy(id_col).agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.3,
    num_perm: int = NUM_PERM,
    rows_per_band: int = 1,
    max_shingle_freq: int | None = None,
    shared: bool = False,
) -> DataFrame:
    """Near-dup pairs via MinHash-LSH candidates, exact-verified.

    Band scheme: ``num_perm / rows_per_band`` bands of ``rows_per_band``
    hashes; docs sharing any band bucket are candidates. With r=1, b=64
    a pair of true Jaccard j is missed with probability (1-j)^64 —
    ≤ 1.2e-10 at j=0.3 — so the verified output equals the exact
    ``ngram_jaccard_pairs`` for practical purposes, at bucket-join cost
    instead of all-pairs. Choose r>1 to trade recall for fewer
    candidates at higher thresholds (r=4,b=16 for j≳0.8).

    ``max_shingle_freq`` caps the exact-verify stage the same way
    ``ngram_jaccard_pairs`` caps its inverted index: shingles shared by
    more than that many docs are dropped from the intersection join
    (union sizes still use the full sets). Without it, a shingle shared
    by m docs materializes m² join rows *before* the candidate semi-join
    filters them — the one quadratic trap left in this operator at
    100 TB. True pairs rest on rare shingles, so on real corpora the cap
    is a pure cost bound (fixture-verified: capped == uncapped output).

    Caveats: building the returned plan already runs a Spark job — the
    LSH bucket table is materialized with an eager ``localCheckpoint``
    when this function is CALLED, not when the result is first acted
    on. Those checkpoint blocks live only in executor storage and carry
    no lineage, so if an executor is lost before the result is
    consumed, the query fails instead of recomputing them; call this
    again to rebuild the plan.
    """
    assert num_perm % rows_per_band == 0
    n_bands = num_perm // rows_per_band
    arrs = shingle_arrays(df, text_col, id_col, n, shared=shared).filter(
        F.size("shingles") > 0
    )
    sh = arrs.select(F.col(id_col), F.explode("shingles").alias("shingle"))
    # Signatures map-side from the per-doc shingle array: k array_min
    # scans per doc, zero shuffle — equivalent to (and replacing) the
    # exploded groupBy/min form in minhash_signatures. Built as ONE
    # selectExpr (r16): the per-column Column-API form paid ~10 py4j
    # round trips per permutation to CONSTRUCT (~0.4 s of driver time
    # per call at k=64); a single SQL parse builds the identical plan.
    def _build_sig() -> DataFrame:
        # backtick-quote id_col (similarity._q): a reserved word or a
        # dotted/spaced name parsed fine through F.col but not raw SQL
        return arrs.selectExpr(
            f"`{id_col}`",
            *[
                f"array_min(transform(shingles, s -> xxhash64({i}, s))) AS mh_{i}"
                for i in range(num_perm)
            ],
        )

    # The signature table is band-config-independent (seeds are fixed by
    # num_perm alone), so every LSH configuration in the session — r=1
    # recall mode, r=4 precision mode — shares one cached copy.
    if shared:
        sig = _memo_persist(
            _plan_key(df, "minhash_signatures", text_col, id_col, n, num_perm),
            _build_sig,
        )
    else:
        sig = _build_sig()

    # band hash = xxhash64 of the band's signature slice. One SQL parse
    # (r16): the Column-API listcomp cost ~0.5 s of py4j round trips per
    # CALL at b=64 — and unlike the signature table this runs on every
    # invocation, not once per session.
    band_exprs = ", ".join(
        "struct(CAST({b} AS INT) AS band, xxhash64({cols}) AS h)".format(
            b=bi,
            cols=", ".join(
                f"mh_{bi * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for bi in range(n_bands)
    )
    buckets = sig.select(
        F.col(id_col), F.explode(F.expr(f"array({band_exprs})")).alias("bk")
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.h").alias("h"))
    # Materialize the bucket table ONCE (r17): the candidate
    # self-join's two exchanges each re-ran the k array_min signature
    # scans + band explode (no ReusedExchange across the id_a/id_b
    # aliasing) — full-query interleaved A/B 2.18 → 1.62-1.83 s at
    # sf0.1/32c. EAGER: the two join-side stages consume the checkpoint
    # concurrently, and a lazy one lets both race the unmaterialized
    # partitions and double-compute them (measured: eager median 1.83 s
    # vs lazy 2.11 s over 5 interleaved runs; the same race made lazy
    # lose for semdedup/dup_span/kmeans, so every multi-consumer
    # checkpoint in this package stays eager). The rows stored are
    # exactly the rows the self-join already shuffled twice, so the
    # storage footprint is bounded by the former shuffle at any scale.
    buckets = buckets.localCheckpoint(eager=True)

    ca = buckets.select(F.col(id_col).alias("id_a"), "band", "h")
    cb = buckets.select(F.col(id_col).alias("id_b"), "band", "h")
    # No distinct: the left-semi verify join below only tests key
    # existence, so duplicate candidate pairs (one per shared band,
    # ≤ n_bands per pair, ≈1 for typical corpora where near-dups are
    # rare) cost less than the extra full dedup shuffle distinct() adds
    # (~30% of query wall-clock measured at sf0.1).
    # Measured-and-rejected (r17): building candidates as ONE
    # (band, h) aggregation + map-side pair explode (_posting_pairs
    # shape) wins in isolation (0.74 s vs 1.04 s — the self-join's two
    # exchanges re-compute the 64 array_min scans) but LOSES in the
    # full query (interleaved A/B 2.77-3.34 s vs 2.62-2.66 s): the
    # self-join's two independent subtrees overlap across idle cores,
    # while the single agg serializes the signature scan ahead of the
    # verify join's own work.
    candidates = (
        ca.join(cb, ["band", "h"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )

    # Exact verification restricted to candidates (semi-join pruning).
    # The verify-side index takes two independent pruning guards:
    #
    # 1. ``max_shingle_freq`` (stop-shingle cap, mirrors the one in
    #    ngram_jaccard_pairs): bounds the m² rows a hot shingle emits
    #    BEFORE the candidate semi-join can filter them. This is the
    #    guard that holds at 100 TB regardless of the band config.
    # 2. Candidate-DOC pruning — only when ``rows_per_band > 1``: at
    #    r≥2 a candidate needs a full band of equal min-hashes, so the
    #    candidate doc set is genuinely sparse and pre-filtering each
    #    exploded side to it shrinks the verify join by orders of
    #    magnitude. At r=1,b=64 the same prune was measured 37% SLOWER
    #    at sf0.1 (any one shared min-hash makes a candidate → the
    #    candidate doc set approaches the whole corpus and the prune
    #    only adds stages), so it stays off there. Array-intersect
    #    verification over pair-joined shingle arrays was 4× slower
    #    still — rejected.
    #
    # Physical shape by cap, mirroring ngram_jaccard_pairs: capped →
    # pairs exploded map-side from the (shared) bounded posting-list
    # index, then semi-joined to candidates; uncapped → shingle
    # self-join, which distributes a hot shingle's m² rows instead of
    # funneling its posting list through one aggregation buffer.
    if max_shingle_freq is not None:
        posting = shingle_postings(
            df, text_col, id_col, n, max_shingle_freq, shared=shared
        )
        if rows_per_band > 1:
            # Materialize candidates once: the doc-id prune and the pair
            # semi-join both read them, and without the checkpoint each
            # branch re-runs the banding join.
            candidates = candidates.localCheckpoint(eager=True)
            cand_ids = (
                candidates.select(F.col("id_a").alias("cid"))
                .unionByName(candidates.select(F.col("id_b").alias("cid")))
                .distinct()
            )
            # Prune posting lists to candidate docs (sparse at r≥2):
            # explode → semi-join → regroup touches only candidate rows.
            pruned = posting.select("shingle", F.explode("ids").alias(id_col))
            pruned = pruned.join(
                F.broadcast(cand_ids), pruned[id_col] == F.col("cid"), "left_semi"
            )
            posting = (
                pruned.groupBy("shingle")
                .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
                .filter(F.size("ids") >= 2)
            )
        inter = (
            _posting_pairs(posting)
            .join(candidates, ["id_a", "id_b"], "left_semi")
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    else:
        vsh = sh
        if rows_per_band > 1:
            candidates = candidates.localCheckpoint(eager=True)
            cand_ids = (
                candidates.select(F.col("id_a").alias("cid"))
                .unionByName(candidates.select(F.col("id_b").alias("cid")))
                .distinct()
            )
            vsh = vsh.join(
                F.broadcast(cand_ids), vsh[id_col] == F.col("cid"), "left_semi"
            )
        a = vsh.select(F.col(id_col).alias("id_a"), "shingle")
        b = vsh.select(F.col(id_col).alias("id_b"), "shingle")
        inter = (
            a.join(b, "shingle")
            .filter(F.col("id_a") < F.col("id_b"))
            .join(candidates, ["id_a", "id_b"], "left_semi")
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    # Per-doc set sizes map-side from the array form — no counting shuffle.
    sizes = arrs.select(F.col(id_col), F.size("shingles").alias("n_sh"))
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# Pair → cluster resolution (connected components)
# ---------------------------------------------------------------------------


def _dup_clusters_driver(spark, edge_rows, id_type) -> DataFrame:
    """Driver-side component resolution for bounded edge lists:
    union-find with path halving, union-to-min (the root is always the
    smallest id seen, so the final root IS the component minimum).
    ``edge_rows`` is one direction only — union-find is symmetric.
    Output schema matches the distributed path exactly."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for row in edge_rows:
        ra, rb = find(row["src"]), find(row["dst"])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    labels = [(x, find(x)) for x in parent]
    from pyspark.sql.types import StructField, StructType

    schema = StructType(
        [
            StructField("doc_id", id_type, nullable=False),
            StructField("cluster_id", id_type, nullable=False),
        ]
    )
    return spark.createDataFrame(labels, schema)


def dup_clusters(
    pairs: DataFrame, max_iter: int = 25, driver_threshold: int = 1_000_000
) -> DataFrame:
    """Resolve near-dup PAIRS into clusters: connected components by
    min-label propagation accelerated with pointer jumping. Returns
    (doc_id, cluster_id) where cluster_id is the smallest doc id in the
    component — the canonical survivor a dedup pipeline keeps.

    The iterative piece LLM dedup needs after any pair generator above:
    pairs (a,b),(b,c) must collapse to one keep-decision for {a,b,c}.

    Adaptive execution: dup PAIR graphs are sparse even when the corpus
    is not — 100 TB of text yields pair edges proportional to the
    near-dup rate, not the corpus. When the materialized edge count is
    ≤ ``driver_threshold`` (default 10⁶ ≈ 16 MB of id pairs), the
    components resolve driver-side with union-find (exact, near-linear,
    zero iterative jobs) and the labels parallelize back; above it, the
    distributed pointer-jumping loop below runs. The bound probe IS the
    edge fetch (r17, guide §1.2): ``take(threshold + 1)`` — short by
    one ⇒ the driver already holds the complete one-direction edge
    list, so the old materialize-symmetrize-count-collect sequence
    (localCheckpoint write + 2 actions over 2× the rows) collapses into
    one action; full ⇒ the graph is over-bound and the distributed
    loop builds its own checkpoint exactly as before, having paid at
    most one partial scan for the probe. Pass ``driver_threshold=0``
    to force the distributed path.

    Scale design: each round is one neighbor-min propagation (labels
    move one hop) followed by one pointer jump — label composition
    ``l(x) ← l(l(x))``, valid because every label is a node id of the
    same component, so looking the label up in the label table reaches
    the min over twice the hop radius. Reach therefore doubles per
    round: r_{k+1} = 2·r_k + 1 ⇒ convergence in O(log diameter) rounds
    instead of O(diameter) — an adversarial chain of 10⁶ docs resolves
    in ~20 rounds, not 10⁶ (plain propagation, the r2 form, degraded
    linearly). Each round is two bounded shuffles over fixed-width
    (id, label) pairs + one count action; ``localCheckpoint`` truncates
    lineage so the per-round job graph stays O(1). The fixpoint —
    labels constant on components at the component minimum — is
    unchanged: propagation alone defines it, jumping only accelerates.

    Raises ``RuntimeError`` if ``max_iter`` rounds pass with labels
    still changing (r2 silently returned partially-propagated labels).
    """
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    if driver_threshold:
        head = edges.take(driver_threshold + 1)
        if len(head) <= driver_threshold:
            return _dup_clusters_driver(
                pairs.sparkSession, head, edges.schema["src"].dataType
            )
    # Materialize the edge list once: every iteration joins against it,
    # and without the checkpoint each round would re-run the (possibly
    # expensive) upstream pair generator.
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("cluster_id"))
        .localCheckpoint(eager=True)
    )
    changed = None
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym.dst == labels.id)
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        propagated = labels.join(
            neighbor_min, labels.id == neighbor_min.src, "left"
        ).select(
            "id",
            F.least(
                F.col("cluster_id"), F.coalesce(F.col("nbr_min"), F.col("cluster_id"))
            ).alias("cluster_id"),
        )
        # Pointer jump: re-resolve each label through the label table.
        # Labels are node ids, so the lookup always hits (inner-join
        # semantics would suffice; left+coalesce guards the invariant).
        jumped = (
            propagated.alias("p")
            .join(
                propagated.select(
                    F.col("id").alias("_jid"), F.col("cluster_id").alias("_jcl")
                ),
                F.col("p.cluster_id") == F.col("_jid"),
                "left",
            )
            .select("id", F.coalesce(F.col("_jcl"), F.col("cluster_id")).alias("cluster_id"))
            .localCheckpoint(eager=True)
        )
        changed = (
            jumped.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .count()
        )
        labels = jumped
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"dup_clusters did not converge within {max_iter} rounds "
            f"({changed} labels still changing) — raise max_iter; with "
            "pointer jumping the required rounds are ~log2(component diameter)"
        )
    return labels.select(F.col("id").alias("doc_id"), "cluster_id")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def _md5_nibble(h, j: int):
    """Value of hex char ``j`` (0..15) of a word's md5 — 4 hash bits.
    md5 exists in both Spark and DuckDB with identical lowercase hex
    output, and this instr/strpos formulation is replicated verbatim in
    the oracle SQL, so SimHash is fully oracle-checkable (r1 used
    xxhash64, which DuckDB lacks → rows-only)."""
    return F.instr(F.lit("0123456789abcdef"), F.substring(h, j + 1, 1)) - F.lit(1)


def simhash(
    df: DataFrame, text_col: str, id_col: str, bits: int = 64, shared: bool = False
) -> DataFrame:
    """64-bit SimHash per document: (id, simhash).

    ``shared=True`` memoizes the fingerprint table per (session, input
    plan, params) — the fingerprint listing and the pair query both
    read it, exactly as a production system computes fingerprints once
    into a stored column and serves every lookup from there.

    Each distinct word votes ±1 on every bit of its md5-derived 64-bit
    hash (bit i = nibble i//4, low bit first within a nibble); the
    fingerprint takes the sign of each bit's tally. All columnar:
    explode words → project the 16 nibbles ONCE per word row (64
    per-bit substring+instr calls would quadruple the string work — the
    agg expressions don't share subexpressions) → **bit-sliced** vote
    sums → bit reassembly.

    Bit-slicing: instead of 64 per-bit conditional-sum aggregates, each
    word row packs its 64 hash bits into 22 longs of 3×21-bit lanes
    (bit i → lane i%3 of long i//3), and the aggregation is 22 plain
    ``sum``s plus one row count. The per-bit ones-count is then
    ``(s_{i//3} >> 21·(i%3)) & 0x1FFFFF`` and the vote sign is
    ``2·ones > n_words`` (identical to sign(Σ±1)). Measured 2.2× faster
    cold at sf0.1 than the 64-aggregate form — most of the win is
    whole-stage-codegen compile time, which scales with
    aggregate-expression count.

    Lane width bounds the per-doc distinct-word count at 2²¹−1 ≈ 2.09M
    (above that, lane 0's ones-count carries into lane 1). The r2 form
    packed 4×16-bit lanes, whose top lane (shift 48) overflowed the
    signed-long ANSI ``sum`` at ≥32768 words voting 1 — a hard
    ARITHMETIC_OVERFLOW under Spark 4's default ANSI mode, far below
    the documented 65535 bound. Three 21-bit lanes keep the top shift
    at 42, so the sum stays within a long up to the lane bound itself —
    and 2M distinct words per document exceeds any real corpus.
    """
    if shared:
        return _memo_persist(
            _plan_key(df, "simhash", text_col, id_col, bits),
            lambda: simhash(df, text_col, id_col, bits, shared=False),
        )
    # md5-per-word is moderate CPU; still bounded by the same input-size
    # floor as the rest of the dedup family (r17 A/B: no 32-core loss).
    df = ensure_min_parallelism(
        df, bytes_per_partition=CPU_LIGHT_BYTES_PER_PARTITION
    )
    n_nibbles = bits // 4
    lanes_per_long = 3
    lane_bits = 21
    n_groups = -(-bits // lanes_per_long)
    h = F.md5(F.col("w"))
    words = (
        df.select(
            F.col(id_col),
            F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("w"),
        )
        .filter(F.length("w") > 0)
        .select(
            F.col(id_col),
            *[_md5_nibble(h, j).alias(f"_n{j}") for j in range(n_nibbles)],
        )
    )

    def packed(k: int):
        # Long k holds bits 3k..3k+2, one 21-bit lane each.
        expr = None
        for lane in range(lanes_per_long):
            i = lanes_per_long * k + lane
            if i >= bits:
                break
            bit = (
                F.shiftright(F.col(f"_n{i // 4}"), i % 4)
                .bitwiseAND(F.lit(1))
                .cast("long")
            )
            term = F.shiftleft(bit, lane_bits * lane)
            expr = term if expr is None else expr + term
        return expr.alias(f"g_{k}")

    lanes = words.select(F.col(id_col), *[packed(k) for k in range(n_groups)])
    tallies = lanes.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_nw"),
        *[F.sum(f"g_{k}").alias(f"s_{k}") for k in range(n_groups)],
    )
    fingerprint = None
    for i in range(bits):
        ones = F.shiftright(
            F.col(f"s_{i // lanes_per_long}"), lane_bits * (i % lanes_per_long)
        ).bitwiseAND(F.lit(0x1FFFFF))
        bit = (
            F.when(ones * 2 > F.col("_nw"), F.lit(1).cast("long"))
            .otherwise(F.lit(0).cast("long"))
        )
        term = F.shiftleft(bit, i)
        fingerprint = term if fingerprint is None else fingerprint.bitwiseOR(term)
    return tallies.select(F.col(id_col), fingerprint.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 8,
    shared: bool = False,
) -> DataFrame:
    """Candidate near-dup pairs with SimHash Hamming distance ≤ k.

    Blocking: split the 64-bit fingerprint into 4×16-bit blocks; by
    pigeonhole, any pair within Hamming ≤ 48/16·… (for k ≤ 3·16) shares
    at least one exact block when k < 4 blocks differ — we use the
    standard 4-block scheme which is exact for k ≤ 3 per-block splits
    and a high-recall heuristic beyond. Verification computes the true
    Hamming distance via bit_count(xor).
    """
    fp = simhash(df, text_col, id_col, shared=shared)
    blocks = fp.select(
        F.col(id_col),
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("block"),
                        F.shiftright(F.col("simhash"), bi * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("key"),
                    )
                    for bi in range(4)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "simhash", F.col("bk.block").alias("block"), F.col("bk.key").alias("key"))

    a = blocks.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "block", "key")
    b = blocks.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "block", "key")
    # Hamming verification BEFORE the pair dedup: bit_count(xor) is a
    # map-side expression and the ≤ max_hamming filter kills most
    # block-collision pairs, so the distinct shuffles only surviving
    # pairs (hamming is a function of the pair — same result set either
    # order). A pair sharing several blocks appears once per block until
    # the distinct collapses it.
    return (
        a.join(b, ["block", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


# ---------------------------------------------------------------------------
# Embedding cosine near-dup (exact all-pairs baseline)
# ---------------------------------------------------------------------------

def _dot_seq(a, b):
    """Sequential left-to-right IEEE-double dot product.

    Cross-engine exactness without decimals: ``F.aggregate`` folds
    left-to-right over the array, and DuckDB's ``list_dot_product`` over
    ``DOUBLE[]`` accumulates in the same order — identical float→double
    promotions, identical multiply/add sequence ⇒ bit-identical results
    (validated over the full fixture). Pure codegen double math: ~100×
    cheaper than BigDecimal accumulation, which matters when an all-pairs
    baseline evaluates millions of dots.
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _dot_seq_sql(a: str, b: str) -> str:
    """SQL-string twin of :func:`_dot_seq` — the IDENTICAL expression
    tree, parsed in ONE py4j round trip instead of the ~10 the
    Column-API lambdas cost to construct (r16: expression construction,
    not execution, dominated the sub-second similarity queries' driver
    time). ``CAST(0.0 AS DOUBLE)`` matters: a bare SQL ``0.0`` literal
    is DECIMAL(2,1) where ``F.lit(0.0)`` is double."""
    return (
        f"aggregate(zip_with({a}, {b}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def embedding_cosine_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.4,
    n_partitions: int | None = None,
) -> DataFrame:
    """Exact pairwise cosine similarity ≥ threshold over array<float>.

    Dot products accumulate sequentially in double (identical fold order
    in both engines ⇒ bit-identical values). O(n²) — the correctness
    baseline; use the LSH route in similarity.py at scale.

    The corpus typically arrives in a handful of input splits, but the
    nested-loop pair join does O(n) work per streamed row — so the
    streamed side is repartitioned to cluster parallelism first, or the
    whole quadratic loop runs on one or two cores.
    """
    norms = df.select(
        F.col(id_col),
        F.col(vec_col),
        F.sqrt(_dot_seq(F.col(vec_col), F.col(vec_col))).alias("norm"),
    )
    if n_partitions is None:
        n_partitions = df.sparkSession.sparkContext.defaultParallelism
    a = norms.repartition(n_partitions).select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a"), F.col("norm").alias("norm_a")
    )
    b = norms.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b"), F.col("norm").alias("norm_b")
    )
    return (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            _dot_seq(F.col("v_a"), F.col("v_b")) / (F.col("norm_a") * F.col("norm_b")),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


# ---------------------------------------------------------------------------
# Duplicated-span coverage (exact-substring contamination metric)
# ---------------------------------------------------------------------------


def dup_span_coverage(
    df: DataFrame, text_col: str, id_col: str, n: int = 5
) -> DataFrame:
    """Per-document fraction of token positions covered by word n-grams
    that also occur in at least one OTHER document — the span-level
    exact-duplication metric behind substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): a doc
    with high coverage is mostly boilerplate shared with the rest of the
    corpus even when no whole-doc near-dup fires.

    Output: (id, n_tokens, n_dup_spans, covered_tokens, dup_frac) — one
    row per doc (zero-coverage docs included), n_dup_spans = number of
    n-gram start positions whose gram is cross-doc duplicated,
    covered_tokens = distinct token positions under any such span.

    Scale shape: positional grams explode to ~|tokens| rows; the only
    aggregations are (gram)-keyed distinct-doc counts (map-side partial,
    hot grams produce counts not lists) and (doc)-keyed position counts
    (bounded by doc length). The gram-match join is a hash equi-join on
    the gram; no buffer is proportional to a gram's corpus frequency, so
    stop-gram skew degrades the shuffle evenly, not one task. Span
    positions re-derive map-side from the matched starts (sequence
    explode), never materializing per-gram posting lists.

    The positional gram table is materialized ONCE (build-the-index-once:
    it feeds the frequency pass and the match join — without it each
    consumer re-reads and re-shingles the corpus text), as is the
    matched-starts table both output branches read; everything after the
    gram table is narrow (id, pos) rows. Since r13 the materialized
    table stores each gram as its ``xxhash64`` — 8 bytes instead of an
    n-word string, so the checkpoint, the (gram)-keyed shuffle and the
    match join all move ~n·8 bytes per position (measured 4.4× → 2.6×
    wall at 10× rows). A cross-doc hash collision would merge two grams
    — odds ~m²/2⁶⁵ corpus-wide, harmless for a coverage metric and far
    below the oracle's value-hash sensitivity at any tested SF.
    """
    # CPU-light gram hashing: bound the widen by input size (r17 A/B:
    # dup_span 1.69→1.35 s at 32 cores, flat at 8); no-op at real scale.
    d = ensure_min_parallelism(
        df, bytes_per_partition=CPU_LIGHT_BYTES_PER_PARTITION
    )
    words = F.split(F.col(text_col), " ")
    base = d.select(F.col(id_col), F.size(words).alias("n_tokens"))
    # short-doc guard as an index-array slice, not a CASE WHEN — the
    # conditional around the transform disables codegen of the generator
    # input (see shingle_arrays, r16); same grams, same positions
    idx = F.slice(
        F.sequence(F.lit(1), F.size(words)),
        1,
        F.greatest(F.size(words) - n + 1, F.lit(0)),
    )
    grams = d.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                idx,
                lambda i: F.xxhash64(F.concat_ws(" ", F.slice(words, i, n))),
            )
        ).alias("pos", "gram"),
    ).localCheckpoint(eager=True)
    dup_grams = (
        grams.groupBy("gram")
        .agg(F.count_distinct(F.col(id_col)).alias("_nd"))
        .filter(F.col("_nd") >= 2)
        .select("gram")
    )
    hits = (
        grams.join(dup_grams, "gram")
        .select(F.col(id_col), "pos")
        .localCheckpoint(eager=True)
    )
    spans = hits.groupBy(id_col).agg(F.count("*").alias("n_dup_spans"))
    covered = (
        hits.select(
            F.col(id_col), F.explode(F.sequence(F.col("pos"), F.col("pos") + n - 1)).alias("cp")
        )
        .distinct()
        .groupBy(id_col)
        .agg(F.count("*").alias("covered_tokens"))
    )
    return (
        base.join(spans, id_col, "left")
        .join(covered, id_col, "left")
        .select(
            F.col(id_col),
            "n_tokens",
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            F.coalesce("covered_tokens", F.lit(0)).alias("covered_tokens"),
            (F.coalesce("covered_tokens", F.lit(0)) / F.col("n_tokens")).alias("dup_frac"),
        )
    )


def dup_span_removal(
    df: DataFrame, text_col: str, id_col: str, n: int = 5
) -> DataFrame:
    """Rewrite each document with cross-corpus duplicated n-gram spans
    REMOVED, keeping the first occurrence corpus-wide — the transform
    stage of substring dedup (Lee et al. 2022), where `dup_span_coverage`
    is the metric stage.

    Ownership: each distinct gram text is owned by its smallest
    (doc_id, pos) occurrence (encoded ``doc_id·2²⁰ + pos`` so MIN is an
    argmin — positions must be < 2²⁰ ≈ 1M tokens/doc). Every other
    occurrence is redundant; all token positions under a redundant
    occurrence are dropped and the survivors re-join with single spaces.
    Overlapping self-repeats collapse aggressively (in "x x x x x x x"
    every position but the first is under some redundant 5-gram) —
    acceptable for boilerplate scrubbing, documented rather than hidden.

    Output: (id, n_tokens, n_removed, cleaned_text).

    Scale shape: same materialize-the-gram-table-once build as
    `dup_span_coverage`; ownership is a (gram)-keyed MIN (map-side
    partial — no posting lists), removal positions re-derive map-side,
    and the rewrite is a per-doc array filter against the doc's own
    removed-position set (bounded by doc length). Token positions ride
    an ~16-byte narrow schema end to end; text is only touched at the
    first scan and the final rewrite.
    """
    pos_limit = 1 << 20
    d = ensure_min_parallelism(
        df, bytes_per_partition=CPU_LIGHT_BYTES_PER_PARTITION
    )
    words = F.split(F.col(text_col), " ")
    base = d.select(F.col(id_col), words.alias("_w"), F.size(words).alias("n_tokens"))
    grams = d.select(
        F.col(id_col),
        F.posexplode(
            F.when(
                F.size(words) >= n,
                F.transform(
                    F.sequence(F.lit(0), F.size(words) - n),
                    lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pos", "gram"),
    ).localCheckpoint(eager=True)
    key = F.col(id_col) * pos_limit + F.col("pos")
    owners = grams.groupBy("gram").agg(F.min(key).alias("_okey"))
    red = (
        grams.withColumn("_key", key)
        .join(owners, "gram")
        .filter(F.col("_key") != F.col("_okey"))
    )
    removed = red.select(
        F.col(id_col), F.explode(F.sequence(F.col("pos"), F.col("pos") + n - 1)).alias("cp")
    ).distinct()
    rml = removed.groupBy(id_col).agg(F.collect_set("cp").alias("_rm"))
    joined = base.join(rml, id_col, "left").withColumn(
        "_rm", F.coalesce(F.col("_rm"), F.array().cast("array<int>"))
    )
    kept_idx = F.filter(
        F.sequence(F.lit(0), F.size("_w") - 1),
        lambda i: ~F.array_contains(F.col("_rm"), i),
    )
    return joined.select(
        F.col(id_col),
        "n_tokens",
        F.size("_rm").alias("n_removed"),
        F.concat_ws(
            " ", F.transform(kept_idx, lambda i: F.element_at(F.col("_w"), i + 1))
        ).alias("cleaned_text"),
    )
