"""Sigma-v2-style temporal CORRELATION rules: entity X matches rule A and
then rule B within T seconds.

The reference compiles only per-event predicate rules
(sigma-transf/main.py:179-208) — correlations, the modern Sigma meta-rule
surface (https://sigmahq.io/docs/meta/correlations), are entirely absent
there; this module supplies them Spark-first on top of the existing rule
predicates and the time-bucketed interval join.

Scale shape: each side is a FILTERED alert stream (tiny vs the event
firehose), the join is a bucketed equi-join on (entity, time bucket) —
never a cartesian — and the streaming twin is a watermarked stream-stream
join whose time-range predicate lets Spark garbage-collect state, the
standard production correlation topology.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..ops.asof import interval_join
from .spec import match_ids


def rule_matches(
    events: DataFrame, rule, key: str = "computer_name",
    ts_col: str = "timestamp",
) -> DataFrame:
    """The (entity, uuid, ts) alert projection of one rule — the minimal
    correlation input (full alert enrichment happens downstream, only on
    correlated survivors)."""
    return events.filter(rule.condition()).select(
        F.col(key).alias("entity"), F.col("uuid"), F.col(ts_col).alias("ts")
    )


def correlate_alerts(
    events: DataFrame,
    rule_a,
    rule_b,
    key: str = "computer_name",
    ts_col: str = "timestamp",
    window_s: int = 300,
    key_b: str = None,
) -> DataFrame:
    """Batch correlation: every (A-match, B-match) pair on the same entity
    with ``0 <= t_B - t_A <= window_s`` (ordered: A happened first; an
    event matching both rules correlates with itself excluded).  Output:
    entity, a_uuid, b_uuid, lag_s.

    ``key_b`` (default: ``key``) names the B side's entity column —
    Sigma-v2 correlation ``aliases`` normalize DIFFERENT per-rule field
    names onto one join key (rule A's UserName pairs with rule B's
    TargetUserName); the join itself is unchanged, only each side's key
    projection differs.

    Candidate generation is the time-bucketed equi-join of
    ``ops.asof.interval_join`` — pair space is per-(entity, bucket), no
    cartesian at any scale — with the ordered window refined after."""
    a = rule_matches(events, rule_a, key, ts_col).select(
        "entity", F.col("uuid").alias("a_uuid"), F.col("ts").alias("a_ts")
    )
    b = rule_matches(events, rule_b, key_b or key, ts_col).select(
        "entity", F.col("uuid").alias("b_uuid"), F.col("ts").alias("b_ts")
    )
    j = interval_join(a, b, "entity", "a_ts", "b_ts", window_s)
    lag = F.unix_timestamp("b_ts") - F.unix_timestamp("a_ts")
    return (
        j.filter((lag >= 0) & (F.col("a_uuid") != F.col("b_uuid")))
        .select("entity", "a_uuid", "b_uuid", lag.cast("long").alias("lag_s"))
    )


def correlate_alerts_stream(
    events: DataFrame,
    rule_a,
    rule_b,
    key: str = "computer_name",
    ts_col: str = "timestamp",
    window_s: int = 300,
    watermark: str = "30 seconds",
    key_b: str = None,
) -> DataFrame:
    """Streaming twin: watermarked stream-stream inner join with an
    explicit time-range predicate — the form Structured Streaming requires
    so both sides' state can be garbage-collected (A-side state lives
    window_s + watermark, B-side watermark only).  Same answer as
    ``correlate_alerts`` on the same data (pinned by test).

    Each side assigns its watermark BEFORE the rule predicate is applied,
    with the predicate expressed as an explode-of-a-0/1-element-array (a
    generator cannot be pushed below the EventTimeWatermark node, unlike a
    plain filter): every event's timestamp therefore advances BOTH sides'
    watermarks.  With the old filter-below-watermark shape a rule that
    stopped firing froze its side's watermark at the last match, so the
    global (min) watermark stalled and join state for the still-firing
    side was never garbage-collected — a slow state leak, the same class
    of trap the correlation count types fix inside their aggregates."""

    def _tagged_side(rule, side_key, entity_alias, uuid_alias, ts_alias):
        return (
            events.withWatermark(ts_col, watermark)
            .select(
                F.col(side_key).alias(entity_alias),
                F.col("uuid").alias(uuid_alias),
                F.col(ts_col).alias(ts_alias),
                F.explode(match_ids([rule])).alias("__m"),
            )
            .drop("__m")
        )

    a = _tagged_side(rule_a, key, "entity", "a_uuid", "a_ts")
    b = _tagged_side(rule_b, key_b or key, "entity_b", "b_uuid", "b_ts")
    # Correlation lag is defined at SECOND resolution on both engines
    # (lag_s = unix_timestamp(b) - unix_timestamp(a), i.e. floor-second on
    # each side — the batch leg's interval_join + lag filter semantics).
    # The raw-timestamp range predicate below exists for Spark's state GC
    # and is therefore widened by 1 s on each end so it never excludes a
    # pair the floor-second definition admits (a_ts=10.9s, b_ts=10.1s has
    # lag_s = 0 and must correlate); the exact floor-second refinement
    # runs after the join.
    cond = (
        (F.col("entity") == F.col("entity_b"))
        & (F.col("b_ts") >= F.col("a_ts") - F.expr("INTERVAL 1 SECONDS"))
        & (
            F.col("b_ts")
            <= F.col("a_ts") + F.expr(f"INTERVAL {window_s + 1} SECONDS")
        )
        & (F.col("a_uuid") != F.col("b_uuid"))
    )
    lag = F.unix_timestamp("b_ts") - F.unix_timestamp("a_ts")
    return (
        a.join(b, cond)
        .filter((lag >= 0) & (lag <= window_s))
        .select("entity", "a_uuid", "b_uuid", lag.cast("long").alias("lag_s"))
    )
