"""RuleSpec: a detection rule as data, plus the alert projection builder.

A rule is metadata + a predicate (IR, see ``dagger_spark.expr``).  The alert
shape replicates the reference's sink DDL superset (SURVEY.md §1.1-4, §2.8.5):
Flink builds the nested ROWs positionally (windows-process-access.sql:80-89)
and the sink DDL supplies field names; Spark structs are named, so we impose
the DDL names here once.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..expr import Pred, parse_predicate, to_sql
from ..literals import fmt_string, render_string_array


@dataclass(frozen=True)
class RuleSpec:
    """One detection rule (reference: one INSERT/UNION branch in rules/sigma/*.sql)."""

    name: str
    predicate_sql: str                      # restricted-SQL predicate text (data, not code)
    severity: int = 5
    author: str = ""
    description: str = ""
    references: tuple = ()
    tactic: tuple = ()
    technique: tuple = ()
    subtechnique: tuple = ()
    category: str = "sysmon"
    module: Optional[str] = None            # 'process_access' for the pa job, else None
    version: str = "1.0"
    source: str = "sysmon"
    enabled: bool = True
    case_insensitive: bool = False          # reference matches case-sensitively (§2.8.10)
    # M4 timeframe extension (Sigma `timeframe`; reference skips these rules,
    # sigma-transf/main.py:194-195 — we implement them):
    timeframe_seconds: Optional[int] = None
    timeframe_min_count: Optional[int] = None
    timeframe_group_by: tuple = ("host",)
    # Sliding stride for the timeframe window.  None/== timeframe_seconds =
    # tumbling (the round-2 behavior, kept as the default).  A divisor of
    # timeframe_seconds enables overlapping windows so a burst straddling a
    # tumbling boundary still alerts: any burst shorter than
    # (timeframe - slide) seconds is fully contained in SOME window.
    timeframe_slide_seconds: Optional[int] = None
    # Exact semantics: trigger on the event whose (min_count-1)-th
    # predecessor (per group key, (ts, uuid) order) lies within
    # timeframe_seconds — "N events within ANY T-second span", zero
    # discretization loss at O(min_count) state per key.  Mutually
    # exclusive with timeframe_slide_seconds.
    timeframe_exact: bool = False

    @property
    def predicate(self) -> Pred:
        return parse_predicate(self.predicate_sql)

    def condition_sql(self) -> str:
        """The predicate as Spark SQL text — the one Spark renderer of the
        IR, as Dagger compiles Sigma to SQL text (sigma-transf/main.py)."""
        return to_sql(self.predicate, "spark", self.case_insensitive)

    def condition(self) -> Column:
        """The predicate as a Column: :meth:`condition_sql` through one
        ``F.expr`` (a fixed few py4j calls, however large the predicate)."""
        return F.expr(self.condition_sql())

    def with_enabled(self, enabled: bool) -> "RuleSpec":
        return replace(self, enabled=enabled)


def _threat_sql(rule: RuleSpec) -> str:
    return (
        f"named_struct('tactic', {render_string_array(rule.tactic)}, "
        f"'technique', {render_string_array(rule.technique)}, "
        f"'subtechnique', {render_string_array(rule.subtechnique)})"
    )


def _rule_sql(rule: RuleSpec) -> str:
    return (
        f"named_struct('name', {fmt_string(rule.name)}, "
        f"'author', {fmt_string(rule.author)}, "
        f"'category', {fmt_string(rule.category)}, "
        f"'severity', {int(rule.severity)}, "
        f"'description', {fmt_string(rule.description)}, "
        f"'reference', {render_string_array(rule.references)}, "
        f"'version', {fmt_string(rule.version)}, "
        f"'source', {fmt_string(rule.source)})"
    )


def rule_metadata_sql(rule: RuleSpec) -> str:
    """One rule's alert metadata as Spark SQL text:
    ``named_struct(module, threat, rule)`` — the single renderer behind
    :func:`threat_struct`, :func:`rule_struct` and the single-pass
    engine's metadata array.  Built through one ``F.expr`` (one py4j call)
    instead of one ``F.lit`` per field and tag."""
    return (
        f"named_struct('module', {fmt_string(rule.module)}, "
        f"'threat', {_threat_sql(rule)}, 'rule', {_rule_sql(rule)})"
    )


def match_ids(rules: Sequence) -> Column:
    """The positions in ``rules`` of the rules an event matches, as
    ``array_compact(array(CASE WHEN <sql_i> THEN i END, ...))`` built with
    one ``F.expr``.  Exploding it tags each event once per matching rule
    (usually 0 or 1 rows out)."""
    return F.expr(
        "array_compact(array("
        + ",".join(
            f"CASE WHEN {r.condition_sql()} THEN {i} END"
            for i, r in enumerate(rules)
        )
        + "))"
    )


def threat_struct(rule: RuleSpec) -> Column:
    return F.expr(_threat_sql(rule))


def rule_struct(rule: RuleSpec) -> Column:
    return F.expr(_rule_sql(rule))


def alert_projection(rule: RuleSpec, ts_col: str = "timestamp") -> list:
    """Columns for one stateless alert row (count=1, start=end=time=timestamp —
    windows-process-access.sql:80)."""
    ts = F.col(ts_col)
    return [
        F.col("computer_name"),
        F.col("host"),
        F.struct(
            F.lit("signal").alias("kind"),
            F.lit(rule.module).cast("string").alias("module"),
            F.array(F.col("uuid")).alias("origin_ids"),
            F.lit(1).cast("long").alias("count"),
            ts.alias("start"),
            ts.alias("end"),
            ts.alias("time"),
        ).alias("event"),
        threat_struct(rule).alias("threat"),
        rule_struct(rule).alias("rule"),
    ]


def mitre_coverage(spark: SparkSession, rules: Sequence[RuleSpec]) -> DataFrame:
    """The ATT&CK coverage matrix a SOC publishes from its rule inventory:
    one row per (tactic, technique) with the rules covering it — enabled
    and disabled counted separately, so coverage that exists only on
    paper (disabled rules) is visible.  Tags are exploded from the same
    normalized metadata the alert enrichment uses; techniques carrying no
    tactic land under '(untagged)' rather than silently dropping."""
    from pyspark.sql import functions as F

    base = spark.createDataFrame(
        [
            (
                r.name,
                bool(r.enabled),
                [t.strip() for t in r.tactic if t and t.strip()],
                [t.strip() for t in r.technique if t and t.strip()],
            )
            for r in rules
        ],
        "name string, enabled boolean, tactics array<string>, "
        "techniques array<string>",
    )
    md = base.select(
        "name", "enabled",
        F.explode_outer(
            F.when(F.size("techniques") > 0, F.col("techniques"))
             .otherwise(F.array(F.lit("(untagged)")))
        ).alias("technique"),
        "tactics",
    ).select(
        "name", "enabled", "technique",
        F.explode_outer(
            F.when(F.size("tactics") > 0, F.col("tactics"))
             .otherwise(F.array(F.lit("(untagged)")))
        ).alias("tactic"),
    )
    return (
        md.groupBy("tactic", "technique")
        .agg(
            F.sum(F.when(F.col("enabled"), 1).otherwise(0)).cast("long")
             .alias("n_enabled"),
            F.sum(F.when(~F.col("enabled"), 1).otherwise(0)).cast("long")
             .alias("n_disabled"),
            F.sort_array(F.collect_set("name")).alias("rules"),
        )
        .orderBy("tactic", "technique")
    )
