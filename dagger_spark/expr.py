"""Predicate IR: engine-agnostic boolean expressions over event columns.

The reference expresses every detection as a SQL WHERE clause built from a
small closed algebra (see /root/reference/sigma-transf/main.py:34-143 and the
predicates in /root/reference/rules/sigma/*.sql): string equality, IN lists,
IS NULL, LIKE prefix/suffix/substring, SIMILAR TO regexes, and arbitrary
AND/OR/NOT nesting.  We model that algebra as a tiny immutable IR with one
renderer and one parser:

  * ``to_sql``     -> SQL text: dialect ``'spark'`` is what every rule runs
    as (``RuleSpec.condition_sql()``, one ``F.expr`` per rule or rule set —
    Dagger's own design is Sigma compiled to SQL text), dialect
    ``'duckdb'`` is the differential oracle,
  * ``parse_predicate`` <- a restricted SQL predicate parser so rules can be
    stored/reviewed as plain SQL strings.

Semantics notes (parity with the reference, verified by tests):
  * SQL three-valued logic comes for free: Spark and DuckDB both treat
    ``NOT (NULL LIKE ..)`` as NULL which a WHERE filters out.
  * ``LIKE`` is full-string with ``%``/``_`` wildcards; patterns that reduce
    to contains/starts/endswith are classified at parse time so the Spark
    plan uses the specialized (codegen-friendly) predicates.
  * ``SIMILAR TO`` is full-string regex per the SQL standard; patterns not
    self-anchored are wrapped in ``^(?:..)$`` (SURVEY.md §2.3-F8).
  * backslashes are treated as LITERAL characters in LIKE needles (Flink has
    no default LIKE escape).  Spark-dialect string literals are rendered by
    ``literals.fmt_string``, whose escaping (backslash, quote, ``$``) the
    Spark parser inverts exactly, so needles and regexes reach the JVM
    byte-for-byte and ``${...}`` never meets the variable substitutor.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass
from typing import Iterable

from .literals import fmt_double, fmt_string

# --------------------------------------------------------------------------
# IR nodes
# --------------------------------------------------------------------------


class Pred:
    """Base class for predicate IR nodes."""

    __slots__ = ()

    def __and__(self, other: "Pred") -> "Pred":
        return And((self, other))

    def __or__(self, other: "Pred") -> "Pred":
        return Or((self, other))

    def __invert__(self) -> "Pred":
        return Not(self)


@dataclass(frozen=True)
class And(Pred):
    children: tuple

    def __post_init__(self):
        object.__setattr__(self, "children", tuple(self.children))


@dataclass(frozen=True)
class Or(Pred):
    children: tuple

    def __post_init__(self):
        object.__setattr__(self, "children", tuple(self.children))


@dataclass(frozen=True)
class Not(Pred):
    child: Pred


#: comparison operators a Leaf may carry
LEAF_OPS = frozenset(
    {
        "eq", "ne", "lt", "le", "gt", "ge",
        "in", "is_null",
        "eq_field",   # field = OTHER FIELD (Sigma v2 fieldref); value is the path
        "contains", "startswith", "endswith",
        "like",       # generic LIKE pattern kept verbatim (has `_` or interior `%`)
        "regex",      # regex, SEARCH semantics (Spark rlike / duckdb regexp_matches)
    }
)


@dataclass(frozen=True)
class Leaf(Pred):
    """``field <op> value``; ``field`` is a dotted path, e.g. ``event_data.Image``.

    ``cased=True`` exempts THIS leaf from a rule-wide case-insensitive
    rendering (Sigma v2 ``|cased`` — the spec's case-sensitivity escape
    hatch).  Grammar form: ``CASED(field) <op> value``; under a
    case-SENSITIVE rule the flag is a no-op by construction.
    """

    field: str
    op: str
    value: object = None
    cased: bool = False

    def __post_init__(self):
        if self.op not in LEAF_OPS:
            raise ValueError(f"unknown leaf op: {self.op!r}")
        # Non-finite floats have no SQL literal text (repr(inf)/repr(nan)
        # render invalid SQL in to_sql) and no sane match semantics —
        # reject at the IR boundary so the Sigma compiler can't smuggle
        # them in via a YAML float.
        vals = self.value if isinstance(self.value, (list, tuple)) else (self.value,)
        for x in vals:
            if isinstance(x, float) and not math.isfinite(x):
                raise ValueError(f"non-finite numeric literal in predicate: {x!r}")


def all_of(preds: Iterable[Pred]) -> Pred:
    preds = list(preds)
    return preds[0] if len(preds) == 1 else And(tuple(preds))


def any_of(preds: Iterable[Pred]) -> Pred:
    preds = list(preds)
    return preds[0] if len(preds) == 1 else Or(tuple(preds))


# --------------------------------------------------------------------------
# LIKE handling
# --------------------------------------------------------------------------


def like_to_regex(pattern: str) -> str:
    """Translate a SQL LIKE pattern to an anchored regex (``%``->``.*``, ``_``->``.``).

    Backslash is a literal character (no ESCAPE clause anywhere in the
    reference), so every non-wildcard char is regex-escaped verbatim.
    ``(?s)`` keeps ``%`` matching across newlines, like SQL LIKE does.
    """
    out = ["(?s)^"]
    for ch in pattern:
        if ch == "%":
            out.append(".*")
        elif ch == "_":
            out.append(".")
        else:
            out.append(re.escape(ch))
    out.append("$")
    return "".join(out)


def classify_like(field: str, pattern: str) -> Leaf:
    """Map a LIKE pattern onto the cheapest leaf op.

    ``%x%``->contains, ``x%``->startswith, ``%x``->endswith, no-wildcard->eq;
    anything containing ``_`` or an interior ``%`` stays a generic ``like``
    (evaluated as an anchored regex, still JVM-side).
    """
    if "_" not in pattern:
        if pattern.startswith("%") and pattern.endswith("%") and len(pattern) >= 2:
            inner = pattern[1:-1]
            if "%" not in inner and inner:
                return Leaf(field, "contains", inner)
        elif pattern.endswith("%") and "%" not in pattern[:-1]:
            return Leaf(field, "startswith", pattern[:-1])
        elif pattern.startswith("%") and "%" not in pattern[1:]:
            return Leaf(field, "endswith", pattern[1:])
        elif "%" not in pattern:
            return Leaf(field, "eq", pattern)
    return Leaf(field, "like", pattern)


_QUANTIFIER_RE = re.compile(r"\{\d+(,\d*)?\}")


def java_safe_regex(pattern: str) -> str:
    """Escape bare ``{`` that do not open a quantifier.

    Sigma's GUID patterns start with a literal ``{`` (windows-process-creation
    .sql:117); Java regex (Spark rlike) throws 'Illegal repetition' on it.
    Escaping the literal brace is a no-op for engines that tolerated it.
    """
    out = []
    i = 0
    while i < len(pattern):
        ch = pattern[i]
        if ch == "\\" and i + 1 < len(pattern):
            out.append(pattern[i : i + 2])
            i += 2
            continue
        if ch == "{":
            m = _QUANTIFIER_RE.match(pattern, i)
            if m:
                out.append(m.group(0))
                i = m.end()
                continue
            out.append("\\{")
            i += 1
            continue
        out.append(ch)
        i += 1
    return "".join(out)


def anchor_regex(pattern: str) -> str:
    """Wrap a SIMILAR-TO style pattern for full-string semantics unless it
    already anchors itself (SURVEY.md §2.3-F8)."""
    if pattern.startswith("^") and pattern.endswith("$"):
        return pattern
    return f"^(?:{pattern})$"


# --------------------------------------------------------------------------
# Render: SQL text (DuckDB oracle / Spark SQL)
# --------------------------------------------------------------------------


def _q(s: str) -> str:
    """Single-quote a SQL string literal (double embedded quotes)."""
    return "'" + s.replace("'", "''") + "'"


def _field_sql(field: str, dialect: str) -> str:
    parts = field.split(".")
    if dialect == "duckdb":
        return ".".join('"%s"' % p.replace('"', '""') for p in parts)
    return ".".join("`%s`" % p for p in parts)


def _lit_sql(v: object, dialect: str) -> str:
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if dialect == "spark":
        # backslash, quote and ``$`` escaped (``F.expr`` text passes the
        # variable substitutor); floats carry the ``D`` suffix so they parse
        # as DOUBLE, not DECIMAL
        if isinstance(v, str):
            return fmt_string(v)
        if isinstance(v, float):
            return fmt_double(v)
    if isinstance(v, str):
        return _q(v)
    return str(v)


def _is_number(v: object) -> bool:
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def to_sql(pred: Pred, dialect: str = "duckdb", case_insensitive: bool = False) -> str:
    """Render the IR as SQL text.

    dialect='duckdb' is the differential-oracle path (uses ``contains``,
    ``starts_with``, ``ends_with``, ``regexp_matches``); dialect='spark'
    produces text for ``F.expr``/``spark.sql`` with identical semantics.
    """
    ci = case_insensitive

    def fld(p: Leaf, lower: bool) -> str:
        s = _field_sql(p.field, dialect)
        return f"lower({s})" if lower else s

    def lit(v: object, lower: bool) -> str:
        if lower and isinstance(v, str):
            v = v.lower()
        return _lit_sql(v, dialect)

    def numeric(p: Leaf, vals) -> tuple:
        """(field, literal list) for a comparison with NUMERIC literals,
        pinned ENGINE-AGNOSTICALLY: the field TRY_CASTs, so non-numeric
        text is NULL and matches nothing.  Without it Spark would
        implicitly coerce a string column (and ANSI mode THROWS on bad
        input) while DuckDB refuses VARCHAR-vs-number outright.  Integer
        literals compare in DECIMAL(38,9): exact for any int64 (DOUBLE
        loses integers past 2^53) while matching fractional text like
        '3.5' identically in both engines (BIGINT would diverge: DuckDB
        rounds '3.5'->4, Spark yields NULL)."""
        f = fld(p, False)
        if all(isinstance(x, int) and not isinstance(x, bool) and abs(x) < 10 ** 29
               for x in vals):
            return f"TRY_CAST({f} AS DECIMAL(38,9))", ", ".join(str(x) for x in vals)
        return (f"TRY_CAST({f} AS DOUBLE)",
                ", ".join(_lit_sql(float(x), dialect) for x in vals))

    def go(p: Pred) -> str:
        if isinstance(p, And):
            return "(" + " AND ".join(go(c) for c in p.children) + ")"
        if isinstance(p, Or):
            return "(" + " OR ".join(go(c) for c in p.children) + ")"
        if isinstance(p, Not):
            return f"(NOT {go(p.child)})"
        assert isinstance(p, Leaf)
        op, v = p.op, p.value
        lci = ci and not p.cased  # |cased leaves opt out of rule-wide CI
        low = lci and isinstance(v, str) and op in ("eq", "ne", "contains", "startswith", "endswith", "in")
        f = fld(p, low and op != "in")
        if op in ("eq", "ne", "lt", "le", "gt", "ge"):
            sym = {"eq": "=", "ne": "<>", "lt": "<", "le": "<=", "gt": ">", "ge": ">="}[op]
            # an ordering on a bool literal compares as 1.0/0.0
            if _is_number(v) or (isinstance(v, bool) and op not in ("eq", "ne")):
                num_f, num_v = numeric(p, [v])
                return f"({num_f} {sym} {num_v})"
            return f"({f} {sym} {lit(v, low)})"
        if op == "eq_field":
            a = fld(p, lci)
            b = _field_sql(v, dialect)
            return f"({a} = lower({b}))" if lci else f"({a} = {b})"
        if op == "in":
            # one IN per literal kind: strings compare as text (lowered
            # under CI), numbers through the same TRY_CAST as `=`, bools
            # as they are
            strs = [x for x in v if isinstance(x, str)]
            nums = [x for x in v if _is_number(x)]
            rest = [x for x in v if not isinstance(x, str) and not _is_number(x)]
            parts = []
            if strs:
                parts.append(f"({fld(p, lci)} IN ({', '.join(lit(x, lci) for x in strs)}))")
            if nums:
                num_f, num_v = numeric(p, nums)
                parts.append(f"({num_f} IN ({num_v}))")
            if rest:
                parts.append(f"({fld(p, False)} IN ({', '.join(lit(x, False) for x in rest)}))")
            return parts[0] if len(parts) == 1 else "(" + " OR ".join(parts) + ")"
        if op == "is_null":
            return f"({f} IS NULL)"
        if op == "contains":
            return f"contains({f}, {lit(v, low)})"
        if op == "startswith":
            return (f"starts_with({f}, {lit(v, low)})" if dialect == "duckdb"
                    else f"startswith({f}, {lit(v, low)})")
        if op == "endswith":
            return (f"ends_with({f}, {lit(v, low)})" if dialect == "duckdb"
                    else f"endswith({f}, {lit(v, low)})")
        if op == "like":
            pat = like_to_regex(v)
            if lci:
                pat = "(?i)" + pat
            return (f"regexp_matches({fld(p, False)}, {_lit_sql(pat, dialect)})" if dialect == "duckdb"
                    else f"({fld(p, False)} RLIKE {_lit_sql(pat, dialect)})")
        if op == "regex":
            pat = "(?i)" + v if lci else v
            return (f"regexp_matches({fld(p, False)}, {_lit_sql(pat, dialect)})" if dialect == "duckdb"
                    else f"({fld(p, False)} RLIKE {_lit_sql(pat, dialect)})")
        raise AssertionError(op)

    return go(pred)


# --------------------------------------------------------------------------
# Parse: restricted SQL predicate -> IR
# --------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
      \s+
    | (?P<str>'(?:[^']|'')*')
    | (?P<num>-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)
    | (?P<bq>`[^`]+`)
    | (?P<ident>[A-Za-z_][A-Za-z0-9_]*)
    | (?P<op><>|!=|<=|>=|=|<|>)
    | (?P<punct>[(),.])
    """,
    re.X,
)


def _tokenize(text: str):
    toks = []
    pos = 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if not m:
            raise ValueError(f"predicate parse error at {pos}: {text[pos:pos+40]!r}")
        pos = m.end()
        if m.group("str") is not None:
            toks.append(("str", m.group("str")[1:-1].replace("''", "'")))
        elif m.group("num") is not None:
            raw = m.group("num")
            is_float = "." in raw or "e" in raw or "E" in raw
            toks.append(("num", float(raw) if is_float else int(raw)))
        elif m.group("bq") is not None:
            toks.append(("ident", m.group("bq")[1:-1]))
        elif m.group("ident") is not None:
            toks.append(("ident", m.group("ident")))
        elif m.group("op") is not None:
            toks.append(("op", m.group("op")))
        elif m.group("punct") is not None:
            toks.append(("punct", m.group("punct")))
    return toks


def _set_cased(pred: Pred) -> Pred:
    """Mark the leaf of a just-parsed comparison cased=True (IS NOT NULL
    parses to Not(leaf), so descend one Not level)."""
    from dataclasses import replace as _replace

    if isinstance(pred, Not):
        return Not(_set_cased(pred.child))
    assert isinstance(pred, Leaf)
    return _replace(pred, cased=True)


class _Parser:
    """Recursive-descent parser for the rule-predicate grammar (OR < AND < NOT)."""

    def __init__(self, toks):
        self.toks = toks
        self.i = 0

    def peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else (None, None)

    def next(self):
        t = self.peek()
        self.i += 1
        return t

    def kw(self, word: str) -> bool:
        k, v = self.peek()
        if k == "ident" and v.upper() == word:
            self.i += 1
            return True
        return False

    def expect_punct(self, ch: str):
        k, v = self.next()
        if k != "punct" or v != ch:
            raise ValueError(f"expected {ch!r}, got {v!r}")

    def parse(self) -> Pred:
        p = self.or_expr()
        if self.i != len(self.toks):
            raise ValueError(f"trailing tokens at {self.i}: {self.toks[self.i:][:5]}")
        return p

    def or_expr(self) -> Pred:
        parts = [self.and_expr()]
        while self.kw("OR"):
            parts.append(self.and_expr())
        return any_of(parts)

    def and_expr(self) -> Pred:
        parts = [self.not_expr()]
        while self.kw("AND"):
            parts.append(self.not_expr())
        return all_of(parts)

    def not_expr(self) -> Pred:
        if self.kw("NOT"):
            return Not(self.not_expr())
        return self.atom()

    def atom(self) -> Pred:
        k, v = self.peek()
        if k == "punct" and v == "(":
            self.i += 1
            p = self.or_expr()
            self.expect_punct(")")
            return p
        return self.comparison()

    def _field(self) -> str:
        k, v = self.next()
        if k != "ident":
            raise ValueError(f"expected field name, got {v!r}")
        parts = [v]
        while True:
            pk, pv = self.peek()
            if pk == "punct" and pv == ".":
                self.i += 1
                k2, v2 = self.next()
                if k2 != "ident":
                    raise ValueError(f"expected field part after '.', got {v2!r}")
                parts.append(v2)
            else:
                break
        return ".".join(parts)

    def _value(self):
        k, v = self.next()
        if k not in ("str", "num"):
            raise ValueError(f"expected literal, got {v!r}")
        return v

    def comparison(self) -> Pred:
        k, v = self.peek()
        if k == "ident" and v.upper() == "CASED":
            nk, nv = (
                self.toks[self.i + 1] if self.i + 1 < len(self.toks) else (None, None)
            )
            if nk == "punct" and nv == "(":
                # CASED(field) <op> value — per-leaf case-sensitivity marker
                # (Sigma v2 |cased); the comparison parses as usual on the
                # wrapped field, then its leaf carries cased=True
                self.i += 2
                field = self._field()
                self.expect_punct(")")
                return _set_cased(self._comparison_tail(field))
        return self._comparison_tail(self._field())

    def _comparison_tail(self, field: str) -> Pred:
        k, v = self.peek()
        if k == "op":
            self.i += 1
            pk, _pv = self.peek()
            if v == "=" and pk == "ident":
                # column-vs-column equality (Sigma v2 fieldref)
                return Leaf(field, "eq_field", self._field())
            val = self._value()
            op = {"=": "eq", "<>": "ne", "!=": "ne", "<": "lt",
                  "<=": "le", ">": "gt", ">=": "ge"}[v]
            return Leaf(field, op, val)
        if self.kw("LIKE"):
            return classify_like(field, self._value())
        if self.kw("SIMILAR"):
            if not self.kw("TO"):
                raise ValueError("expected TO after SIMILAR")
            return Leaf(field, "regex", java_safe_regex(anchor_regex(self._value())))
        if self.kw("RLIKE"):
            return Leaf(field, "regex", java_safe_regex(self._value()))
        if self.kw("IN"):
            self.expect_punct("(")
            vals = [self._value()]
            while True:
                pk, pv = self.peek()
                if pk == "punct" and pv == ",":
                    self.i += 1
                    vals.append(self._value())
                else:
                    break
            self.expect_punct(")")
            return Leaf(field, "in", tuple(vals))
        if self.kw("IS"):
            neg = self.kw("NOT")
            if not self.kw("NULL"):
                raise ValueError("expected NULL after IS [NOT]")
            leaf = Leaf(field, "is_null")
            return Not(leaf) if neg else leaf
        raise ValueError(f"cannot parse comparison at token {self.peek()!r}")


def parse_predicate(text: str) -> Pred:
    """Parse a restricted SQL boolean predicate (the reference rules' grammar:
    ``=``, ``<>``, ``IN``, ``IS [NOT] NULL``, ``LIKE``, ``SIMILAR TO``,
    ``RLIKE``, comparisons, AND/OR/NOT, parentheses) into the IR.

    Covers every WHERE clause in /root/reference/rules/sigma/*.sql.
    """
    return _Parser(_tokenize(text)).parse()
