"""Mergeable HDR-histogram quantile sketch — exact integer bucketing.

Percentiles at 100 TB need a MERGEABLE summary: Spark's
``percentile_approx`` yields a one-shot estimate you cannot re-aggregate
(per-group sketches can't roll up to a global without re-reading the raw
data), and exact quantiles need a global sort.  The HDR-histogram bucketing
(exponent + ``2^b`` sub-buckets per octave, as in HdrHistogram / DDSketch's
log-bin family) gives a fixed-size frame whose counts ADD: merging groups,
partitions, days, or snapshots is a plain ``SUM`` groupBy — associative,
commutative, shuffle-light — with relative error bounded by ``2^-b``.

Bucketing is **pure integer arithmetic** — no ``log()`` anywhere:

    v < 2^(b+1):  shift = 0,            m = v          (EXACT, width 1)
    else:         shift = bitlen(v)-1-b, m = v >> shift (m in [2^b, 2^(b+1)))

``bitlen`` comes from ``length(bin(v))`` — identical in Spark and DuckDB —
so the sketch (and therefore the quantile estimate) is bit-reproducible
across engines, unlike any float-log binning where a 1-ulp libm difference
flips a boundary bucket.  Bucket lower bound is ``m << shift``, width
``1 << shift``; distinct ``(shift, m)`` keys map to disjoint value
intervals, so ``m << shift`` is a total order over buckets.

Quantile extraction: rank ``r = ceil(p * n)`` (exact integer arithmetic),
first bucket whose cumulative count reaches ``r``, estimate = bucket
midpoint ``lo + (width-1)//2`` — monotone across buckets, so a ``min()``
over eligible buckets selects it without argmin plumbing.  The cumulative
window runs over the SKETCH frame (<= groups x 64 x 2^b rows), never over
the data — bounded state regardless of input size.

Values must be non-negative integers (scale decimals to micro-units first,
with an explicit ``floor(x*scale + 0.5)`` so both engines agree; a raw
double->int cast truncates in Spark but rounds in DuckDB).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window, functions as F

from ..literals import lit_int_array


def hdr_bucket(v: F.Column, sub_bits: int = 5):
    """(shift, m) bucket expressions for a non-negative integer column."""
    small = 1 << (sub_bits + 1)
    bitlen = F.length(F.bin(v))
    shift = F.when(v < small, F.lit(0)).otherwise(
        bitlen - F.lit(1 + sub_bits)
    ).cast("int")
    m = F.call_function("shiftrightunsigned", v, shift)
    return shift, m


def hdr_sketch(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    sub_bits: int = 5,
) -> DataFrame:
    """Build the sketch: ``group_cols + (shift, m, cnt)``.

    One map-side-combining aggregate over the data; output size is bounded
    by ``|groups| * 64 * 2^sub_bits`` rows regardless of input rows.
    Negative values are excluded (document the domain at the call site).
    """
    v = F.col(value_col).cast("long")
    shift, m = hdr_bucket(v, sub_bits)
    return (
        df.filter(v >= 0)
        .select(*group_cols, shift.alias("shift"), m.alias("m"))
        .groupBy(*group_cols, "shift", "m")
        .agg(F.count("*").alias("cnt"))
    )


def hdr_merge(sketch: DataFrame, group_cols: Sequence[str]) -> DataFrame:
    """Merge sketch rows down to ``group_cols`` (possibly []): counts ADD."""
    return sketch.groupBy(*group_cols, "shift", "m").agg(
        F.sum("cnt").alias("cnt")
    )


def hdr_quantiles(
    sketch: DataFrame,
    group_cols: Sequence[str],
    q_pcts: Sequence[int],
) -> DataFrame:
    """Extract percentile estimates from a sketch.

    Returns ``group_cols + (q_pct, n_rows, est)`` — one row per group per
    requested integer percentile.  ``est`` is the midpoint of the first
    bucket whose cumulative count reaches ``ceil(q_pct * n / 100)``.
    """
    lo = F.call_function("shiftleft", F.col("m"), F.col("shift"))
    width = F.call_function(
        "shiftleft", F.lit(1).cast("long"), F.col("shift")
    )
    # midpoint via shift, not float division — exact at any magnitude
    est = lo + F.shiftrightunsigned(width - F.lit(1), 1)
    w = Window.partitionBy(*group_cols).orderBy(lo)
    cum = (
        sketch.withColumn("__cum", F.sum("cnt").over(w))
        .withColumn("__n", F.sum("cnt").over(Window.partitionBy(*group_cols)))
        .withColumn("__est", est)
    )
    qs = F.explode(lit_int_array(q_pcts)).alias("q_pct")
    ranked = cum.select(*group_cols, "__cum", "__n", "__est", qs).filter(
        # cum >= ceil(q*n/100)  <=>  100*cum >= q*n  (cum integral) —
        # pure integer comparison, no division anywhere
        F.col("__cum") * F.lit(100) >= F.col("q_pct") * F.col("__n")
    )
    return ranked.groupBy(*group_cols, "q_pct").agg(
        F.min("__n").alias("n_rows"),  # constant per group
        F.min("__est").alias("est"),   # est monotone -> min = first bucket
    )


# --- KMV (k-minimum-values) distinct sketch ---------------------------------
#
# The distinct-count complement of the HDR frame above: a MERGEABLE
# cardinality summary whose state is k integers per group.  Each distinct
# value hashes to a 60-bit integer (first 15 md5 hex chars — the engine's
# one string-hash convention, ops/dedup.shingle_hashes); a group's sketch
# is its k SMALLEST distinct hashes, and the classic KMV estimator reads
# cardinality off the k-th minimum: uniform order statistics give
# E[h_(k)] ~ k/(D+1) * 2^60, so  D-hat = (k-1) * 2^60 / h_(k)  (the
# unbiased form; Bar-Yossef et al. 2002).  Exactness property used by the
# catalog gate: with FEWER than k distinct values the sketch IS the value
# set and the estimate is exact.
#
# Merge is closed and LOSSLESS for the estimator: the k smallest of a
# union of per-group k-smallest sets equals the k smallest of the union of
# the full sets (any global top-k member is top-k within its own group) —
# so group sketches roll up to an ALL sketch identical to one built
# directly, which the catalog entry hash-proves against a DuckDB oracle
# computing ALL from raw data.  Everything is integer except the single
# final division, so cross-engine parity is exact.
#
# Scale shape: one distinct-(group, hash) shuffle, then per-group top-k in
# TWO phases — a salted local top-k (hash % salt_buckets) bounds any one
# window partition at its salt slice, then the final top-k runs over
# <= salt_buckets * k survivors per group.  No cardinality-sized window
# partition anywhere; unlike HLL the sketch also supports set
# intersection estimates downstream (kmv_pairwise_overlap below).


def kmv_hash(value: F.Column) -> F.Column:
    """60-bit md5 hash of a value's string form (NULL -> NULL)."""
    return F.conv(
        F.substring(F.md5(value.cast("string")), 1, 15), 16, 10
    ).cast("long")


def kmv_sketch(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    k: int = 64,
    salt_buckets: int = 64,
) -> DataFrame:
    """Per-group KMV sketch rows: ``group_cols + (__h,)`` — the k smallest
    distinct 60-bit hashes of ``value_col`` (NULL values excluded, as
    count-distinct semantics require)."""
    g = list(group_cols)
    distinct = (
        df.filter(F.col(value_col).isNotNull())
        .select(*g, kmv_hash(F.col(value_col)).alias("__h"))
        .distinct()
    )
    # phase 1: top-k per (group, salt) — any mega-cardinality group is
    # spread over salt_buckets window partitions
    w1 = Window.partitionBy(
        *g, F.pmod(F.col("__h"), F.lit(salt_buckets))
    ).orderBy("__h")
    survivors = (
        distinct.withColumn("__rn", F.row_number().over(w1))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )
    # phase 2: exact top-k over <= salt_buckets * k rows per group
    return kmv_merge(survivors, g, k=k)


def kmv_merge(
    sketch: DataFrame, group_cols: Sequence[str], k: int = 64
) -> DataFrame:
    """Merge sketch rows under a (possibly coarser) grouping: distinct
    hashes, keep the k smallest per group.  Input is sketch-sized
    (<= k rows per pre-merge group), so the window partitions are bounded
    by construction.  The partition spec carries an extra pmod(__h, 1)
    term — constant 0, so semantics are untouched — because a roll-up to
    ONE group (e.g. the '__ALL__' merge) would otherwise partition by a
    literal that Catalyst constant-folds away, and a window that is
    single-partition BY DESIGN over a bounded frame must not look like
    the data-sized unpartitioned-window shape (same idiom as
    ops/rank._offsets)."""
    g = list(group_cols)
    w = Window.partitionBy(*g, F.pmod(F.col("__h"), F.lit(1))).orderBy("__h")
    return (
        sketch.select(*g, "__h").distinct()
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def kmv_estimate(
    sketch: DataFrame, group_cols: Sequence[str], k: int = 64
) -> DataFrame:
    """``group_cols + (n_kept, kth_min, est_distinct)``: exact count when
    the sketch holds fewer than k hashes (every distinct value is in it),
    else the unbiased (k-1) * 2^60 / h_(k) estimator.  One aggregate over
    the sketch frame; the only float op is the single final division, so
    DuckDB replays it bit-exactly."""
    g = list(group_cols)
    agg = sketch.groupBy(*g).agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.max("__h").alias("kth_min"),
    )
    space = F.lit(float(k - 1)) * F.lit(1152921504606846976.0)  # (k-1)*2^60
    return agg.select(
        *g,
        "n_kept",
        "kth_min",
        F.when(F.col("n_kept") < k, F.col("n_kept").cast("double"))
        .otherwise(F.round(space / F.col("kth_min"), 3))
        .alias("est_distinct"),
    )


def kmv_pairwise_overlap(
    sketch: DataFrame,
    group_col: str,
    k: int = 128,
) -> DataFrame:
    """Set-operation estimates between every PAIR of groups from their
    KMV sketches alone — the capability HLL lacks and the kmv_sketch
    docstring promised: for groups A, B the k smallest of
    ``sketch(A) ∪ sketch(B)`` IS the KMV sketch of A ∪ B (merge
    closure), and counting how many of those union minima appear in
    BOTH input sketches gives the standard intersection estimator
    (Beyer et al. 2007):

        jaccard ≈ x / |U_k|,   |A ∪ B| ≈ (k-1) * 2^60 / max(U_k),
        |A ∩ B| ≈ jaccard * |A ∪ B|

    with every quantity EXACT when the union keeps fewer than k hashes
    (the sketches then hold their full sets).  Output per (a < b) pair:
    ``n_union_kept, x_common, jaccard_est, union_est, inter_est``.

    Scale shape: sketches collapse to ONE array row per group (bounded:
    k elements), the pair space is groups², and all set arithmetic is
    codegen'd array functions over ≤k-element arrays — no re-touch of
    the raw data."""
    packed = sketch.groupBy(group_col).agg(
        F.array_sort(F.collect_list("__h")).alias("__mins")
    )
    a = packed.select(
        F.col(group_col).alias("__ga"), F.col("__mins").alias("__ma")
    )
    b = packed.select(
        F.col(group_col).alias("__gb"), F.col("__mins").alias("__mb")
    )
    pairs = a.join(b, F.col("__ga") < F.col("__gb"))
    mu = F.slice(
        F.array_sort(F.array_union(F.col("__ma"), F.col("__mb"))), 1, k
    )
    x = F.size(
        F.filter(
            mu,
            lambda h: F.array_contains(F.col("__ma"), h)
            & F.array_contains(F.col("__mb"), h),
        )
    ).cast("long")
    n_u = F.size(mu).cast("long")
    space = F.lit(float(k - 1)) * F.lit(1152921504606846976.0)
    union_est = F.when(n_u < k, n_u.cast("double")).otherwise(
        F.round(space / F.element_at(mu, k), 3)
    )
    jac = F.round(x / n_u.cast("double") + 1e-9, 6)
    inter_est = F.when(n_u < k, x.cast("double")).otherwise(
        F.round(x / F.lit(float(k)) * union_est, 3)
    )
    return pairs.select(
        F.col("__ga").alias("source_a"),
        F.col("__gb").alias("source_b"),
        n_u.alias("n_union_kept"),
        x.alias("x_common"),
        jac.alias("jaccard_est"),
        union_est.alias("union_est"),
        inter_est.alias("inter_est"),
    )
