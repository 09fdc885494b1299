"""The rule engine: N predicates over one event relation -> alert rows.

Two physical strategies, identical results (tested):

* ``apply_rules_union`` — the reference's own composition idiom (a UNION ALL
  over a shared view, windows-process-creation.sql:95-135; and the statement
  set sharing one scan, windows-process-access.sql:72-601).  In Spark a union
  of N filter branches re-reads the source once per branch, so this is kept
  for parity/testing and for small N.

* ``apply_rules_single_pass`` — the 100 TB strategy.  ONE scan evaluates all
  predicates per event via an array of ``CASE WHEN``s, explodes the matching
  rule ids (usually 0-1 per event, so the explode does not amplify the data),
  and enriches each hit by indexing one literal array of per-rule metadata
  structs with its rule id.  No join, no shuffle, no second scan: the whole
  plan is one Spark job, and whole-stage codegen fuses every predicate into
  one pass.  This is what the statement set's "share one scan across 17
  INSERTs" becomes when re-thought Spark-first.

Both work unchanged on batch DataFrames and on Structured Streaming
DataFrames (plain projections, so any output mode).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .spec import RuleSpec, alert_projection, match_ids, rule_metadata_sql


def _enabled(rules: Sequence[RuleSpec], include_disabled: bool) -> list:
    return [r for r in rules if include_disabled or r.enabled]


def apply_rules_union(
    events: DataFrame,
    rules: Sequence[RuleSpec],
    ts_col: str = "timestamp",
    include_disabled: bool = False,
) -> DataFrame:
    """UNION-ALL composition (reference EP3 idiom). Stateless rules only."""
    active = [r for r in _enabled(rules, include_disabled) if r.timeframe_seconds is None]
    if not active:
        raise ValueError("no enabled stateless rules")
    branches = [
        events.filter(r.condition()).select(alert_projection(r, ts_col))
        for r in active
    ]
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out


def apply_rules_single_pass(
    events: DataFrame,
    rules: Sequence[RuleSpec],
    ts_col: str = "timestamp",
    include_disabled: bool = False,
) -> DataFrame:
    """Single-scan composition: evaluate all predicates per event, explode
    the matching rule ids, and look up each hit's metadata with
    ``element_at(<meta>, rule_id + 1)``.  ``<meta>`` is one array literal of
    ``named_struct(module, threat, rule)`` per active rule, shipped in ONE
    ``F.expr`` call.  Unlike a join against a metadata DataFrame it adds no
    broadcast job to every (streaming micro-)batch.  Scales to thousands of
    rules with one pass over the data and zero shuffles."""
    active = [r for r in _enabled(rules, include_disabled) if r.timeframe_seconds is None]
    if not active:
        raise ValueError("no enabled stateless rules")

    # rule_id must index into the SAME list the metadata array is built from
    matches = match_ids(active)
    meta = F.expr("array(" + ",".join(rule_metadata_sql(r) for r in active) + ")")
    ts = F.col(ts_col)
    hits = events.select(
        F.col("computer_name"),
        F.col("host"),
        F.col("uuid"),
        ts.alias("__ts"),
        F.explode(matches).alias("rule_id"),
    ).select(
        "computer_name", "host", "uuid", "__ts",
        F.element_at(meta, F.col("rule_id") + 1).alias("__meta"),
    )
    return hits.select(
        F.col("computer_name"),
        F.col("host"),
        F.struct(
            F.lit("signal").alias("kind"),
            F.col("__meta.module").alias("module"),
            F.array(F.col("uuid")).alias("origin_ids"),
            F.lit(1).cast("long").alias("count"),
            F.col("__ts").alias("start"),
            F.col("__ts").alias("end"),
            F.col("__ts").alias("time"),
        ).alias("event"),
        F.col("__meta.threat").alias("threat"),
        F.col("__meta.rule").alias("rule"),
    )


def apply_rules(
    events: DataFrame,
    rules: Sequence[RuleSpec],
    ts_col: str = "timestamp",
    strategy: str = "single_pass",
    include_disabled: bool = False,
) -> DataFrame:
    if strategy == "single_pass":
        return apply_rules_single_pass(events, rules, ts_col, include_disabled)
    if strategy == "union":
        return apply_rules_union(events, rules, ts_col, include_disabled)
    raise ValueError(f"unknown strategy {strategy!r}")
