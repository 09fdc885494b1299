"""Sigma Correlations — the modern SigmaHQ meta-rule spec, compiled to
Spark.

The reference compiles only stateless per-event rules and SKIPS anything
aggregation-shaped (sigma-transf/main.py:194-195 drops legacy
``detection.timeframe``); the Sigma project has since standardized the
richer *correlation rule* document — a separate YAML object whose
``correlation:`` block references base rules by name:

    correlation:
      type: event_count | value_count | temporal | temporal_ordered
      rules: [base_rule_a, base_rule_b]
      group-by: [computer_name]
      timespan: 10m
      condition: {gte: 100}      # counts only
      field: TargetUserName      # value_count only
      aliases:                   # per-rule field normalization
        user:
          base_rule_a: UserName
          base_rule_b: TargetUserName

This module parses those documents and compiles each to a DataFrame
function over the event stream, reusing the engine's existing scale-shaped
machinery:

* ``event_count`` — events matching ANY referenced rule, tumbling
  event-time window of ``timespan`` per group-by key, count compared with
  the condition operator.  One keyed aggregate, map-side partials.
* ``value_count`` — same shape, ``count(DISTINCT field)``.
* ``temporal`` (2 rules) — both rules fire on the same entity within
  ``timespan`` in EITHER order: the time-bucketed pairwise join of
  ``rules.correlate`` with the ordered constraint relaxed to ``|lag| <=
  timespan``.  Exact (no window discretization), candidate space bounded
  per (entity, time bucket).
* ``temporal_ordered`` (2 rules) — ``rules.correlate.correlate_alerts``
  verbatim: A then B, ``0 <= lag <= timespan``.
* ``temporal`` with 3+ rules — tumbling-window co-occurrence: count of
  DISTINCT referenced rules firing per (group, window) must equal the
  rule count.  Discretization caveat documented: a chain straddling a
  window boundary is missed, the same trade the timeframe rules' tumbling
  default makes (their sliding/exact variants show the escalation path).

Group-by fields default to ``computer_name`` (the entity every reference
rule carries); timespan accepts the Sigma ``<int><s|m|h|d>`` forms.
``aliases:`` (the spec's field-normalization block) compiles to real
per-rule column resolution: pair types join rule A's aliased field against
rule B's, count types materialize the alias as a first-matching-rule
projection before the group-by.  Any OTHER correlation-block key is
rejected loudly — implement-or-reject, never silently ignore.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Callable, Dict, Optional, Sequence, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..rules.spec import match_ids
from .compiler import SigmaCompileError, _parse_timeframe

_TYPES = ("event_count", "value_count", "temporal", "temporal_ordered")
_OPS = {
    "gte": ">=", "gt": ">", "lte": "<=", "lt": "<", "eq": "=",
}


@dataclass(frozen=True)
class CorrelationSpec:
    name: str
    ctype: str
    rules: Tuple[str, ...]
    timespan_seconds: int
    group_by: Tuple[str, ...] = ("computer_name",)
    condition_op: str = "gte"
    condition_value: int = 1
    field: Optional[str] = None           # value_count distinct field
    level: str = "medium"
    description: str = ""
    # Sigma-v2 ``generate:``: when FALSE (the spec default), a base rule
    # referenced by this correlation should NOT emit its own standalone
    # alerts — only the correlation fires; ``generate: true`` keeps both.
    # The engine applies this via ``suppressed_rule_names`` below (our
    # rule engine and correlations run as separate queries, so
    # suppression is a rule-list filter, not a runtime branch).
    generate: bool = False
    # Sigma-v2 ``aliases:`` field normalization — each alias is a virtual
    # group-by field whose underlying column differs PER BASE RULE
    # (``aliases: {user: {rule_a: UserName, rule_b: TargetUserName}}``).
    # Stored as nested tuples (alias, ((rule, field), ...)) so the frozen
    # dataclass stays hashable; ``alias_map`` rebuilds the dict view.
    aliases: Tuple[Tuple[str, Tuple[Tuple[str, str], ...]], ...] = ()

    @property
    def alias_map(self) -> Dict[str, Dict[str, str]]:
        return {a: dict(m) for a, m in self.aliases}


_KNOWN_CORR_KEYS = frozenset(
    {"type", "rules", "group-by", "group_by", "timespan", "condition",
     "field", "aliases", "generate"}
)


def parse_correlation(doc: dict, name: str = "") -> CorrelationSpec:
    """One YAML document -> spec, with the spec's required-field rules
    enforced loudly (a silently-defaulted condition would change alert
    semantics).  Unrecognized correlation-block keys are REJECTED, not
    skipped: the compiler's discipline everywhere is implement-or-reject
    (cf. unknown rule refs below) — a key like ``generate:`` silently
    dropped would compile a document whose alerts differ from what its
    author wrote, with no warning."""
    corr = doc.get("correlation")
    if not isinstance(corr, dict):
        raise SigmaCompileError(f"{name or doc.get('title')!r}: no correlation block")
    unknown = sorted(set(corr) - _KNOWN_CORR_KEYS)
    if unknown:
        raise SigmaCompileError(
            f"{name or doc.get('title')!r}: unrecognized correlation keys "
            f"{unknown} — implemented keys are "
            f"{sorted(_KNOWN_CORR_KEYS)} (implement-or-reject: silently "
            "ignoring a key would change alert semantics without warning)"
        )
    ctype = corr.get("type")
    if ctype not in _TYPES:
        raise SigmaCompileError(f"bad correlation type: {ctype!r}")
    rules = corr.get("rules") or []
    if isinstance(rules, str):
        rules = [rules]
    if not rules:
        raise SigmaCompileError("correlation.rules is required")
    timespan = corr.get("timespan")
    if timespan is None:
        raise SigmaCompileError("correlation.timespan is required")
    group_by = corr.get("group-by")
    if group_by is None:
        group_by = corr.get("group_by")
    if "group-by" in corr or "group_by" in corr:
        # key present: a null/empty/non-string value is a typo, not a
        # request for the default — fail loudly (a bare ``group-by:`` line
        # used to reach tuple(None) and die with a raw TypeError the CLI's
        # SigmaCompileError handler never caught)
        if isinstance(group_by, str):
            group_by = [group_by]
        if (
            not isinstance(group_by, (list, tuple))
            or not group_by
            or not all(isinstance(g, str) and g for g in group_by)
        ):
            raise SigmaCompileError(
                f"{name or doc.get('title')!r}: correlation.group-by must "
                "be a field name or a non-empty list of field names"
            )
    else:
        group_by = ["computer_name"]
    cond_op, cond_val = "gte", 1
    if ctype in ("event_count", "value_count"):
        cond = corr.get("condition")
        if not isinstance(cond, dict) or len(cond) != 1:
            raise SigmaCompileError(
                f"{ctype} needs condition: {{gte|gt|lte|lt|eq: N}}"
            )
        ((cond_op, cond_val),) = cond.items()
        if cond_op not in _OPS:
            raise SigmaCompileError(f"bad condition op: {cond_op!r}")
        cond_val = int(cond_val)
    fld = corr.get("field")
    if ctype == "value_count" and not fld:
        raise SigmaCompileError("value_count needs correlation.field")
    rule_names = [str(r) for r in rules]
    gen = corr.get("generate", False)
    if not isinstance(gen, bool):
        raise SigmaCompileError(
            f"{name or doc.get('title')!r}: correlation.generate must be "
            f"a boolean, got {gen!r}"
        )
    aliases_raw = corr.get("aliases")
    aliases: Tuple[Tuple[str, Tuple[Tuple[str, str], ...]], ...] = ()
    if aliases_raw is not None:
        ctx = name or doc.get("title")
        if not isinstance(aliases_raw, dict) or not aliases_raw:
            raise SigmaCompileError(
                f"{ctx!r}: correlation.aliases must be a non-empty mapping "
                "of alias -> {rule: field}"
            )
        parsed = []
        for alias, per_rule in aliases_raw.items():
            if not isinstance(per_rule, dict) or not all(
                isinstance(k, str) and isinstance(v, str) and v
                for k, v in per_rule.items()
            ):
                raise SigmaCompileError(
                    f"{ctx!r}: alias {alias!r} must map every referenced "
                    "rule name to a field name"
                )
            extra = sorted(set(per_rule) - set(rule_names))
            if extra:
                raise SigmaCompileError(
                    f"{ctx!r}: alias {alias!r} names rules not in "
                    f"correlation.rules: {extra}"
                )
            missing_rules = [r for r in rule_names if r not in per_rule]
            if missing_rules:
                # a partial mapping would leave the alias column NULL for
                # every event the unmapped rule matches — wrong groups with
                # no warning; the spec's mapping must be complete
                raise SigmaCompileError(
                    f"{ctx!r}: alias {alias!r} has no field mapping for "
                    f"rules {missing_rules}"
                )
            parsed.append(
                (str(alias),
                 tuple((r, str(per_rule[r])) for r in rule_names))
            )
        aliases = tuple(parsed)
    if ctype.startswith("temporal") and len(rules) < 2:
        raise SigmaCompileError(f"{ctype} needs >= 2 referenced rules")
    if ctype == "temporal_ordered" and len(rules) != 2:
        raise SigmaCompileError(
            "temporal_ordered chains beyond 2 rules are not implemented"
        )
    return CorrelationSpec(
        name=name or str(doc.get("title", "correlation")),
        ctype=ctype,
        rules=tuple(rule_names),
        timespan_seconds=_parse_timeframe(timespan),
        group_by=tuple(group_by),
        generate=gen,
        aliases=aliases,
        condition_op=cond_op,
        condition_value=cond_val,
        field=str(fld) if fld else None,
        level=str(doc.get("level", "medium")),
        description=str(doc.get("description", "")),
    )


def load_correlations(path: str) -> list:
    """Walk a file/directory of YAML documents, returning every
    correlation spec found (multi-doc files supported, same loader
    discipline as the base-rule compiler)."""
    import yaml

    specs = []
    paths = []
    if os.path.isdir(path):
        for root, _, files in os.walk(path):
            paths += [os.path.join(root, f) for f in sorted(files)
                      if f.endswith((".yml", ".yaml"))]
    elif os.path.isfile(path):
        paths = [path]
    # a missing path yields no specs — same contract as the base
    # compiler's os.walk over a missing directory (pinned by
    # tests/test_cli_and_sinks.py::test_cli_errors_on_missing_dir)
    for p in paths:
        with open(p) as fh:
            for doc in yaml.safe_load_all(fh):
                if isinstance(doc, dict) and "correlation" in doc:
                    specs.append(parse_correlation(doc, name=str(
                        doc.get("title") or os.path.basename(p))))
    return specs


def suppressed_rule_names(specs: Sequence[CorrelationSpec]) -> set:
    """Base rules whose STANDALONE alerts the correlation set suppresses:
    referenced by at least one correlation and by NO correlation with
    ``generate: true`` (Sigma v2: generate defaults to false — referencing
    a rule normally replaces its per-event alerts with the correlation's).
    Engine callers subtract this set from the rule list they feed
    ``apply_rules`` while still compiling every correlation against the
    full registry."""
    referenced: set = set()
    generating: set = set()
    for s in specs:
        referenced.update(s.rules)
        if s.generate:
            generating.update(s.rules)
    return referenced - generating


def _resolve(spec: CorrelationSpec, registry: Dict[str, object]) -> list:
    missing = [r for r in spec.rules if r not in registry]
    if missing:
        raise SigmaCompileError(
            f"correlation {spec.name!r} references unknown rules: {missing}"
        )
    return [registry[r] for r in spec.rules]


def compile_correlation(
    spec: CorrelationSpec,
    registry: Dict[str, object],
    ts_col: str = "timestamp",
    watermark: str = "30 seconds",
) -> Callable[[DataFrame], DataFrame]:
    """Spec -> events-DataFrame function, BATCH AND STREAMING from one
    compile: the returned callable branches on ``events.isStreaming``.

    * counts: the windowed aggregate is stream-legal as-is (watermarked,
      append emission at window close); ``value_count``'s exact DISTINCT
      is not, so the streaming leg chains two watermarked aggregates
      (multi-stateful-operator support): (window, group, field) folds
      each distinct value's min/max event time, then (window, group)
      counts the survivors — value AND first/last_seen match batch.
    * temporal pairs: ``correlate_alerts_stream`` (the watermarked
      stream-stream join with the time-range predicate both sides need
      for state GC); the unordered form unions both directions.
    * temporal 3+: the same two-level aggregate on (window, group,
      rule-index).

    ``registry`` maps rule NAME -> RuleSpec (e.g. ``{r.name: r for r in
    active_rules()}``)."""
    base_rules = _resolve(spec, registry)
    span = f"{spec.timespan_seconds} seconds"
    amap = spec.alias_map

    def _wm(events: DataFrame) -> DataFrame:
        return (
            events.withWatermark(ts_col, watermark)
            if events.isStreaming and watermark else events
        )

    def _with_alias_cols(events: DataFrame) -> DataFrame:
        """Materialize each Sigma ``aliases`` entry as a real column BEFORE
        the group-by: the alias value is the aliased rule's field for the
        (first, in rules order) referenced rule the event matches — a pure
        per-row projection, so on the streaming leg it sits safely above
        the watermark without the pushdown traps a filter would hit.  For
        the count/co-occurrence types first-match resolution is exact
        whenever an event matches one referenced rule (the spec's design
        case); a dual-matching event contributes its first matching rule's
        field, pinned by test."""
        out = events
        for alias, per_rule in spec.aliases:
            fields = dict(per_rule)
            out = out.withColumn(
                alias,
                F.coalesce(
                    *[
                        F.when(r.condition(), F.col(fields[rn]))
                        for rn, r in zip(spec.rules, base_rules)
                    ]
                ),
            )
        return out

    if spec.ctype in ("event_count", "value_count"):
        cmp_sql = _OPS[spec.condition_op]

        def run_counts(events: DataFrame) -> DataFrame:
            events = _with_alias_cols(events)
            any_rule = base_rules[0].condition()
            for r in base_rules[1:]:
                any_rule = any_rule | r.condition()
            if events.isStreaming:
                # STREAMING: a plain .filter(any_rule) is pushed BELOW the
                # EventTimeWatermark node (the predicate doesn't reference
                # the event-time column), so non-matching events never
                # advance the watermark — a rule that stops firing leaves
                # its last windows open forever (silent no-alert).  Same
                # trap run_multi dodges: a generator cannot be pushed below
                # the watermark, so every event's timestamp advances it and
                # non-matching events simply explode to zero rows.  Pinned
                # by test_count_watermark_advances_on_nonmatching_events.
                keep = [F.col(c) for c in spec.group_by] + [F.col(ts_col)]
                if spec.ctype == "value_count":
                    # project the (possibly nested) field to a flat alias
                    # here; the level-1 aggregate below picks it up as __v
                    keep.append(F.col(spec.field).alias("__v"))
                matched = _wm(events).select(
                    *keep,
                    F.explode(
                        F.array_compact(F.array(F.when(any_rule, F.lit(1))))
                    ).alias("__match"),
                ).drop("__match")
            else:
                matched = events.filter(any_rule)
            if spec.ctype == "value_count" and not events.isStreaming:
                # count(DISTINCT field) ignores NULL field values; rows
                # carrying a NULL must not contribute to first/last_seen
                # either (or count as a bogus distinct value on the
                # streaming leg) — one row set, both legs, both columns.
                # BATCH ONLY as a row filter: on the streaming leg the
                # optimizer pushes this predicate below the
                # EventTimeWatermark node into the scan, so a NULL-field
                # row could no longer advance the watermark (observed:
                # a rule-matching sentinel with a NULL field silently
                # froze every window open).  The streaming leg excludes
                # NULLs inside the aggregates instead, below.
                matched = matched.filter(F.col(spec.field).isNotNull())
            w = F.window(F.col(ts_col), span)
            if spec.ctype == "value_count" and events.isStreaming:
                # exact windowed DISTINCT, streaming: two chained
                # watermarked aggregates (Spark's multi-stateful-operator
                # support).  Level 1 keys (window, group, value) and folds
                # each distinct value's TRUE min/max event time over ALL
                # its arrivals; level 2 counts the distinct survivors and
                # folds the per-value extremes — value, first_seen and
                # last_seen all equal the batch leg exactly (the earlier
                # dropDuplicates form kept the FIRST arrival per value, so
                # last_seen could lag batch whenever a window's latest
                # event repeated an already-seen value).  The raw ts is
                # carried as MICROS (a plain long): keeping the
                # watermarked column beside the window struct would leave
                # two event-time columns in one stream, which Spark
                # rejects.
                per_val = matched.select(
                    w.alias("window"),
                    *[F.col(c) for c in spec.group_by],
                    F.col("__v"),
                    F.unix_micros(F.col(ts_col)).alias("__us"),
                ).groupBy("window", *spec.group_by, "__v").agg(
                    F.min("__us").alias("__min_us"),
                    F.max("__us").alias("__max_us"),
                )
                # re-window via window_time(): grouping by the raw window
                # struct drops the event-time metadata and the second
                # aggregate never evicts (emits nothing in append mode);
                # window_time -> window(same span) reproduces the SAME
                # tumbling window with watermark tracking intact
                # NULL field values ride through level 1 as their own
                # (window, group, NULL) state row — they must reach the
                # watermark node (see the batch-only filter note above) —
                # and are excluded HERE, inside the aggregates: count and
                # first/last_seen consider non-NULL values only, and a
                # group whose every value is NULL is dropped entirely
                # (exactly what the batch leg's row filter produces).
                nn = F.col("__v").isNotNull()
                grouped = (
                    per_val.withColumn("__wt", F.window_time("window"))
                    .drop("window")
                    .groupBy(F.window("__wt", span), *spec.group_by)
                    .agg(
                        F.count(F.when(nn, True)).cast("long").alias("value"),
                        F.timestamp_micros(
                            F.min(F.when(nn, F.col("__min_us")))
                        ).alias("first_seen"),
                        F.timestamp_micros(
                            F.max(F.when(nn, F.col("__max_us")))
                        ).alias("last_seen"),
                    )
                    .filter(F.col("value") > 0)
                )
            else:
                agg = (
                    F.count_distinct(F.col(spec.field))
                    if spec.ctype == "value_count"
                    else F.count(F.lit(1))
                )
                grouped = matched.groupBy(
                    w, *[F.col(c) for c in spec.group_by]
                ).agg(
                    agg.cast("long").alias("value"),
                    F.min(ts_col).alias("first_seen"),
                    F.max(ts_col).alias("last_seen"),
                )
            return grouped.filter(
                F.expr(f"value {cmp_sql} {spec.condition_value}")
            ).select(
                F.lit(spec.name).alias("correlation"),
                *spec.group_by,
                F.col("window.start").alias("window_start"),
                F.col("window.end").alias("window_end"),
                "value", "first_seen", "last_seen",
            )

        return run_counts

    if spec.ctype == "temporal_ordered" or (
        spec.ctype == "temporal" and len(spec.rules) == 2
    ):
        from ..rules.correlate import correlate_alerts, correlate_alerts_stream

        ordered = spec.ctype == "temporal_ordered"

        def run_pair(events: DataFrame) -> DataFrame:
            # multi-field group-by correlates on ALL fields: synthesize a
            # struct entity key (struct equality joins field-wise; the
            # output `entity` column is then that struct).  Ignoring
            # fields past the first would silently pair rule A in one
            # logon session with rule B in another on the same host.
            # ``aliases`` resolve PER SIDE here — exact per-rule field
            # normalization (rule A's UserName joins rule B's
            # TargetUserName), not the first-match coalesce the count
            # types use: each side of the pair join is filtered by ONE
            # rule, so its key is that rule's aliased field, even for an
            # event matching both rules.
            def resolved(rule_name):
                return [
                    amap[g][rule_name] if g in amap else g
                    for g in spec.group_by
                ]

            cols_a = resolved(spec.rules[0])
            cols_b = resolved(spec.rules[1])
            src = events
            if len(spec.group_by) == 1:
                key_a, key_b = cols_a[0], cols_b[0]
            elif cols_a == cols_b:
                key_a = key_b = "__corr_entity"
                src = src.withColumn(
                    key_a, F.struct(*[F.col(c) for c in cols_a])
                )
            else:
                # aliased multi-field keys: one struct per side, fields
                # re-aliased to the group-by names so both structs share a
                # dataType and the equi-join resolves
                key_a, key_b = "__corr_entity_a", "__corr_entity_b"
                for k, cols in ((key_a, cols_a), (key_b, cols_b)):
                    src = src.withColumn(
                        k,
                        F.struct(
                            *[
                                F.col(c).alias(g)
                                for g, c in zip(spec.group_by, cols)
                            ]
                        ),
                    )

            def one(a, b, ka, kb):
                if events.isStreaming:
                    return correlate_alerts_stream(
                        src, a, b, key=ka, key_b=kb, ts_col=ts_col,
                        window_s=spec.timespan_seconds, watermark=watermark,
                    )
                return correlate_alerts(
                    src, a, b, key=ka, key_b=kb, ts_col=ts_col,
                    window_s=spec.timespan_seconds,
                )

            out = one(base_rules[0], base_rules[1], key_a, key_b)
            if not ordered:
                rev = one(base_rules[1], base_rules[0], key_b, key_a).select(
                    "entity",
                    F.col("b_uuid").alias("a_uuid"),
                    F.col("a_uuid").alias("b_uuid"),
                    (-F.col("lag_s")).alias("lag_s"),
                )
                # a pair at lag 0 appears in both directions; keep one
                rev = rev.filter(F.col("lag_s") < 0)
                if not events.isStreaming:
                    # when BOTH events of a pair match BOTH base rules, the
                    # forward leg emits (x, y, +d) and the reverse leg
                    # emits (y, x, -d) — two rows for ONE unordered pair.
                    # Drop reverse rows whose mirror already appears in the
                    # forward output (anti-join over the tiny alert-pair
                    # set).  STREAMING keeps both orientations: an
                    # anti-join of two derived stream-stream-join outputs
                    # would need a second watermark assignment over join
                    # results, which Structured Streaming does not support
                    # — the dual-match double-emission is documented
                    # behavior on that leg (each row still describes a
                    # real (rule_a-match, rule_b-match) pairing).
                    fwd = out.select(
                        F.col("entity").alias("__f_entity"),
                        F.col("a_uuid").alias("__f_a"),
                        F.col("b_uuid").alias("__f_b"),
                    )
                    rev = rev.join(
                        fwd,
                        (F.col("entity") == F.col("__f_entity"))
                        & (F.col("a_uuid") == F.col("__f_b"))
                        & (F.col("b_uuid") == F.col("__f_a")),
                        "left_anti",
                    )
                out = out.unionByName(rev)
            return out.select(
                F.lit(spec.name).alias("correlation"),
                "entity", "a_uuid", "b_uuid", "lag_s",
            )

        return run_pair

    # temporal with 3+ rules: tumbling co-occurrence (documented
    # discretization — same trade as tumbling timeframe rules)
    def run_multi(events: DataFrame) -> DataFrame:
        events = _with_alias_cols(events)
        # ONE scan, ONE watermark node: each event explodes into the
        # indices of the rules it matches (usually 0 or 1 rows out).  The
        # union-of-filtered-branches form had a per-branch EventTimeWatermark
        # behind a pushed-down rule predicate, so the GLOBAL watermark was
        # the minimum over branches and a rule that never fired stalled
        # every window forever; a generator cannot be pushed below the
        # watermark, so here every event's timestamp advances it.
        tagged = _wm(events).select(
            *[F.col(c) for c in spec.group_by],
            F.col(ts_col).alias("__ts"),
            F.explode(match_ids(base_rules)).alias("__rule"),
        )
        w = F.window(F.col("__ts"), span)
        if events.isStreaming:
            # same two-level chained-aggregate shape as streaming
            # value_count: level 1 per (window, group, rule) folds the
            # true per-rule event count and time extremes, level 2 counts
            # distinct rules and sums the counts — n_events / first_seen /
            # last_seen now equal the batch leg exactly (the earlier
            # dropDuplicates form could only report the distinct-rule
            # count as n_events and first-arrival times)
            per_rule = tagged.select(
                w.alias("window"),
                *[F.col(c) for c in spec.group_by],
                "__rule",
                F.unix_micros(F.col("__ts")).alias("__us"),
            ).groupBy("window", *spec.group_by, "__rule").agg(
                F.count(F.lit(1)).alias("__n"),
                F.min("__us").alias("__min_us"),
                F.max("__us").alias("__max_us"),
            )
            # window_time re-window: see the value_count leg above
            grouped = (
                per_rule.withColumn("__wt", F.window_time("window"))
                .drop("window")
                .groupBy(F.window("__wt", span), *spec.group_by)
                .agg(
                    F.count(F.lit(1)).alias("n_rules"),
                    F.sum("__n").cast("long").alias("n_events"),
                    F.timestamp_micros(F.min("__min_us")).alias("first_seen"),
                    F.timestamp_micros(F.max("__max_us")).alias("last_seen"),
                )
            )
        else:
            grouped = tagged.groupBy(
                w, *[F.col(c) for c in spec.group_by]
            ).agg(
                F.count_distinct("__rule").alias("n_rules"),
                F.count(F.lit(1)).cast("long").alias("n_events"),
                F.min("__ts").alias("first_seen"),
                F.max("__ts").alias("last_seen"),
            )
        return grouped.filter(
            F.col("n_rules") == len(base_rules)
        ).select(
            F.lit(spec.name).alias("correlation"),
            *spec.group_by,
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "n_events", "first_seen", "last_seen",
        )

    return run_multi
