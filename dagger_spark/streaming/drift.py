"""Streaming drift monitor: windowed Population Stability Index against a
FROZEN reference distribution — the model/corpus-monitoring twin of the
batch ``drift_psi_docs`` (snapshot-vs-snapshot PSI in catalog/wave2.py).

Production shape: the reference histogram is computed ONCE offline (a
training snapshot's bucket counts) and frozen into the streaming query as
plan-time literals — cut points and per-bucket reference counts — then
every event-time window of live traffic scores its own distribution
against it.  The alerting readout for "the data feeding the model no
longer looks like the data it trained on."

Stream legality, by construction:

* bucketing is one codegen expression — ``size(filter(cuts, c -> v >=
  c))`` over a literal cut array (k-1 ascending boundaries → k buckets);
  no joins, no UDF.
* level 1 is a watermarked (window, bucket) count — an ordinary windowed
  aggregate, state k rows per open window.
* level 2 re-windows via ``window_time()`` (grouping by the raw window
  struct drops event-time metadata and the second aggregate never emits —
  the same chained-aggregate recipe as the correlation value_count leg)
  and ``collect_list``s the k (bucket, count) pairs — BOUNDED: never more
  than k entries per window, so the collected array is sketch-sized, not
  data-sized.
* PSI itself is a PROJECTION over that array: ``aggregate(sequence(0,
  k-1), ...)`` walks every bucket index with the literal reference
  counts, so ABSENT buckets (c=0) fold in closed form — no domain join,
  the same discipline as t-closeness.

Smoothing matches the batch convention exactly: p = (c + 0.5) / (n +
0.5·k) on both sides, so empty buckets stay defined and a window whose
distribution equals the reference reads PSI ≈ 0.  On a BATCH frame the
identical code path runs unchanged (windowed agg + projection), which is
what the batch==stream test pins.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..literals import lit_double_array


def bucket_of(value: Column, cuts: Sequence[float]) -> Column:
    """Bucket index 0..len(cuts) for ``value`` against ascending literal
    cut points: index = #cuts <= value (codegen array filter, no UDF).
    NULL values are treated as 0.0 — they land in whichever bucket
    contains 0.0, which is bucket 0 only when all cuts are positive.
    Callers filter NULLs out first if they mean 'missing' rather than
    'zero'."""
    lit_cuts = lit_double_array(cuts)
    return F.size(
        F.filter(lit_cuts, lambda c: F.coalesce(value, F.lit(0.0)) >= c)
    ).cast("int")


def psi_drift_stream(
    events: DataFrame,
    value_col: str,
    cuts: Sequence[float],
    ref_counts: Sequence[int],
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "30 seconds",
) -> DataFrame:
    """Per-event-time-window PSI of ``value_col``'s distribution vs the
    frozen reference histogram.  ``cuts`` are the k-1 ascending bucket
    boundaries; ``ref_counts`` the reference's k per-bucket counts (same
    bucketing).  Output per closed window: window_start, window_end, n,
    psi (round 6), verdict ('stable' < 0.1 <= 'moderate' < 0.25 <=
    'shifted') — the conventional thresholds the batch twin uses.

    Works identically on a batch frame (the window aggregate and the
    projection are engine-agnostic); streaming emits in append mode at
    window close."""
    k = len(cuts) + 1
    if len(ref_counts) != k:
        raise ValueError(
            f"ref_counts must have {k} entries (len(cuts)+1), "
            f"got {len(ref_counts)}"
        )
    r_tot = float(sum(ref_counts))
    lit_refs = lit_double_array(ref_counts)

    src = events
    if src.isStreaming and watermark:
        src = src.withWatermark(ts_col, watermark)
    lvl1 = (
        src.select(
            F.col(ts_col),
            bucket_of(F.col(value_col), cuts).alias("__b"),
        )
        .groupBy(F.window(F.col(ts_col), window).alias("window"), "__b")
        .agg(F.count(F.lit(1)).cast("double").alias("__c"))
    )
    # chained aggregate: re-window through window_time() so the second
    # aggregate keeps event-time metadata and actually emits (streaming
    # gotcha: grouping by the raw window struct never evicts)
    lvl2 = (
        lvl1.withColumn("__wt", F.window_time("window"))
        .drop("window")
        .groupBy(F.window("__wt", window).alias("window"))
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("__b", "__c"))
            ).alias("__m"),
            F.sum("__c").alias("__n"),
        )
    )
    # PSI projection: walk ALL k bucket indices; absent buckets read 0
    # from the map — closed-form fold, no domain join
    half_k = 0.5 * k

    def term(acc, b):
        c = F.coalesce(F.element_at(F.col("__m"), b), F.lit(0.0))
        p = (c + F.lit(0.5)) / (F.col("__n") + F.lit(half_k))
        q = (F.element_at(lit_refs, b + 1) + F.lit(0.5)) / F.lit(
            r_tot + half_k
        )
        return acc + (p - q) * F.log(p / q)

    psi_raw = F.aggregate(
        F.sequence(F.lit(0), F.lit(k - 1)).cast("array<int>"),
        F.lit(0.0),
        term,
    )
    return lvl2.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        F.col("__n").cast("long").alias("n"),
        F.round(psi_raw + F.lit(1e-9), 6).alias("psi"),
        F.when(psi_raw < 0.1, "stable")
        .when(psi_raw < 0.25, "moderate")
        .otherwise("shifted")
        .alias("verdict"),
    )


def hdr_quantiles_stream(
    events: DataFrame,
    value_col: str,
    ts_col: str = "ts",
    window: str = "1 hour",
    q_pcts: Sequence[int] = (50, 95),
    sub_bits: int = 5,
    watermark: str = "30 seconds",
) -> DataFrame:
    """Streaming windowed HDR quantiles — the latency-percentile monitor
    (p50/p95 per event-time window) as the quantile sibling of
    :func:`psi_drift_stream`, built on the SAME mergeable integer-bin
    sketch as the batch ``events_hdr_weekly_rollup``
    (ops/sketch.hdr_bucket: bit-length bucketing, SUM-mergeable counts).

    Stream legality, same recipe as the PSI monitor: level 1 is a
    watermarked (window, shift, m) count — state bounded at ~64·2^sub_bits
    bucket rows per open window regardless of event volume; level 2
    re-windows via ``window_time()`` and ``collect_list``s the bucket
    triples (bounded, sketch-sized); quantile extraction is then a pure
    PROJECTION — ``array_sort`` by bucket floor + one ``aggregate`` walk
    per percentile finds the first bucket whose cumulative count reaches
    ceil(q·n/100) using the integer comparison ``100·cum >= q·n`` (no
    division), and ``est`` is the bucket midpoint exactly as
    ops/sketch.hdr_quantiles computes it — pinned equal by test.

    Negative values are excluded (the HDR domain is non-negative
    integers; declare the metric's domain at the call site).  On a BATCH
    frame the identical path runs unchanged — batch == stream pinned."""
    from ..ops.sketch import hdr_bucket

    v = F.col(value_col).cast("long")
    shift, m = hdr_bucket(v, sub_bits)
    src = events
    if src.isStreaming and watermark:
        src = src.withWatermark(ts_col, watermark)
    lvl1 = (
        src.filter(v >= 0)
        .select(F.col(ts_col), shift.alias("__s"), m.alias("__m"))
        .groupBy(F.window(F.col(ts_col), window).alias("window"),
                 "__s", "__m")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
    )
    lo = F.call_function("shiftleft", F.col("__m"), F.col("__s"))
    width = F.call_function(
        "shiftleft", F.lit(1).cast("long"), F.col("__s")
    )
    est = lo + F.shiftrightunsigned(width - F.lit(1), 1)
    lvl2 = (
        lvl1.select(
            "window",
            F.struct(lo.alias("lo"), est.alias("est"),
                     F.col("__c").alias("cnt")).alias("__e"),
        )
        .withColumn("__wt", F.window_time("window"))
        .drop("window")
        .groupBy(F.window("__wt", window).alias("window"))
        .agg(
            F.array_sort(F.collect_list("__e")).alias("__sk"),
            F.sum("__e.cnt").cast("long").alias("__n"),
        )
    )

    def est_for(p: int):
        acc0 = F.struct(
            F.lit(0).cast("long").alias("cum"),
            F.lit(None).cast("long").alias("found"),
        )

        def step(acc, x):
            cum = acc["cum"] + x["cnt"]
            return F.struct(
                cum.alias("cum"),
                F.coalesce(
                    acc["found"],
                    F.when(
                        cum * F.lit(100) >= F.lit(int(p)) * F.col("__n"),
                        x["est"],
                    ),
                ).alias("found"),
            )

        return F.aggregate(F.col("__sk"), acc0, step)["found"]

    qrows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(int(p)).alias("q_pct"),
                    est_for(p).alias("est"),
                )
                for p in q_pcts
            ]
        )
    ).alias("__q")
    return lvl2.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        F.col("__n").alias("n_rows"),
        qrows,
    ).select(
        "window_start", "window_end", "n_rows",
        F.col("__q.q_pct").alias("q_pct"),
        F.col("__q.est").alias("est"),
    )
