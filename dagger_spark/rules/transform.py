"""Sigma-style processing pipelines: FIELD MAPPINGS over the predicate IR.

Real deployments rarely run detection rules against the exact telemetry
shape the rules were written for — Winlogbeat/Elastic Agent reshape Sysmon
events into ECS (``process.executable``, ``process.parent.command_line``,
``winlog.event_data.*``), and the Sigma ecosystem's answer is the
*processing pipeline* (sigma-cli ``fieldmappings`` transforms) that rewrites
rule field references before compilation.  The reference has nothing here —
its compiler pastes Sigma field names into SQL verbatim
(sigma-transf/main.py), so its generated rules only ever run against one
schema.

This module does the transform at the RIGHT altitude: the predicate IR.  A
mapping is plain data ``{source_path: target_path}``; :func:`map_fields`
rewrites every ``Leaf.field`` (and the right-hand side of ``eq_field``
references — same rule as the linter) and returns a new immutable tree, so
every downstream renderer (both ``to_sql`` dialects) and the schema linter
see mapped paths with zero string surgery on SQL text.

:data:`SYSMON_TO_ECS` ships the mapping for every field the 31 reference
rules read, following what Winlogbeat's Sysmon module actually publishes:
first-class ECS fields where they exist (``process.*``, ``user.name``,
``destination.port``, ``network.initiated``), ``winlog.event_id`` for the
event code, and ``winlog.event_data.<Field>`` passthrough for the
Sysmon-specific remainder (CallTrace, GrantedAccess, ...).
"""

from __future__ import annotations

from typing import Dict, Iterable, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..expr import And, Leaf, Not, Or, Pred, to_sql

SYSMON_TO_ECS: Dict[str, str] = {
    "event_id": "winlog.event_id",
    "event_data.Image": "process.executable",
    "event_data.CommandLine": "process.command_line",
    "event_data.ParentImage": "process.parent.executable",
    "event_data.ParentCommandLine": "process.parent.command_line",
    "event_data.IntegrityLevel": "winlog.event_data.IntegrityLevel",
    "event_data.DestinationPort": "destination.port",
    "event_data.Initiated": "network.initiated",
    "event_data.SourceImage": "winlog.event_data.SourceImage",
    "event_data.TargetImage": "winlog.event_data.TargetImage",
    "event_data.GrantedAccess": "winlog.event_data.GrantedAccess",
    "event_data.CallTrace": "winlog.event_data.CallTrace",
    # read only by disabled registry rules, mapped so the FULL registry
    # lints clean against ECS
    "event_data.CurrentDirectory": "process.working_directory",
    "event_data.Imphash": "process.pe.imphash",
}


def map_fields(pred: Pred, mapping: Dict[str, str]) -> Pred:
    """Rewrite every field path through ``mapping`` (identity for paths not
    in it).  ``eq_field`` leaves map BOTH sides — a field reference is a
    read, exactly as the linter counts it."""

    def m(path: str) -> str:
        return mapping.get(path, path)

    def walk(p: Pred) -> Pred:
        if isinstance(p, And):
            return And(tuple(walk(c) for c in p.children))
        if isinstance(p, Or):
            return Or(tuple(walk(c) for c in p.children))
        if isinstance(p, Not):
            return Not(walk(p.child))
        assert isinstance(p, Leaf)
        if p.op == "eq_field":
            return Leaf(m(p.field), p.op, m(p.value))
        return Leaf(m(p.field), p.op, p.value)

    return walk(pred)


class MappedRule:
    """A rule transported onto another telemetry schema: same metadata,
    mapped predicate.  Duck-types RuleSpec everywhere the engine, the
    alert projection, and the linter look — ``condition_sql()``,
    ``condition()`` and ``.predicate`` come from the mapped tree, every
    other attribute delegates to the base rule.  (A new ``predicate_sql`` TEXT is
    deliberately NOT synthesized: the IR is the source of truth, and
    re-rendering into the restricted grammar would re-open every
    LIKE-escaping trap the extractor already closed once.)"""

    __slots__ = ("_base", "_pred")

    def __init__(self, base, pred: Pred):
        object.__setattr__(self, "_base", base)
        object.__setattr__(self, "_pred", pred)

    def __getattr__(self, name):
        if name == "predicate_sql":
            # fail LOUDLY: delegating would hand back the UNMAPPED field
            # paths, silently contradicting .predicate for any consumer
            # that re-parses the SQL text
            raise AttributeError(
                "MappedRule deliberately has no predicate_sql: the mapped "
                "IR (.predicate) is the source of truth; re-render from it "
                "if a SQL text is required"
            )
        return getattr(object.__getattribute__(self, "_base"), name)

    @property
    def predicate(self) -> Pred:
        return object.__getattribute__(self, "_pred")

    def condition_sql(self) -> str:
        base = object.__getattribute__(self, "_base")
        return to_sql(self.predicate, "spark", base.case_insensitive)

    def condition(self) -> Column:
        return F.expr(self.condition_sql())

    def __repr__(self) -> str:
        base = object.__getattribute__(self, "_base")
        return f"MappedRule({base.name!r})"


def map_rule(rule, mapping: Dict[str, str]) -> MappedRule:
    return MappedRule(rule, map_fields(rule.predicate, mapping))


def map_rules(rules: Iterable, mapping: Dict[str, str]) -> list:
    return [map_rule(r, mapping) for r in rules]


def invert(mapping: Dict[str, str]) -> Dict[str, str]:
    """Transport rules back (ECS-authored rule onto raw Sysmon shape).
    Refuses loudly on a non-injective mapping — two sources collapsing to
    one target cannot be inverted."""
    out: Dict[str, str] = {}
    for k, v in mapping.items():
        if v in out:
            raise ValueError(
                f"mapping is not injective: {out[v]!r} and {k!r} both map "
                f"to {v!r}"
            )
        out[v] = k
    return out
