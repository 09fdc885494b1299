"""Plan-time literals in ONE JVM round trip.

PySpark's ``F.lit(list)`` recurses element-wise (``array(*[lit(x) ...])``),
costing one py4j round trip PER ELEMENT — for the literal-heavy ANN plans
(a 16x64 centroid matrix, 8x16x8 PQ codebook, 16x64 JL sign matrix) that
is thousands of driver round trips PER QUERY CONSTRUCTION, and profiling
showed it dominating wall time (the Python boundary exists on the driver
too — cProfile: ~5 s/run of ann_recall inside py4j send_command).
Rendering the literal as ONE ``F.expr`` string moves it across the
boundary in a single call; the parser yields the same
CreateArray-of-Literals tree, constant-folding collapses both forms to the
identical Literal, so plans and results are bit-equal.

Exactness: ``repr(float)`` is the shortest round-tripping decimal, and
Java's ``Double.parseDouble`` is correctly rounded, so text -> double
reproduces the exact bits ``F.lit`` would have shipped.  Only finite
doubles are legal (asserted).

Shared by ``ops/`` (ANN, text, rank), ``rules/`` (the rule-metadata
struct literals) and ``expr.to_sql``'s Spark dialect (rule predicates).
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def fmt_double(v: float) -> str:
    v = float(v)
    assert math.isfinite(v), f"non-finite literal {v!r}"
    return repr(v) + "D"


def fmt_string(s) -> str:
    """Spark SQL string literal for arbitrary text (``None`` -> a typed
    NULL).  Backslashes are doubled FIRST, then quotes escaped, then ``$``
    rendered as the unicode escape ``\\u0024``: ``F.expr`` text passes
    through Spark's variable substitutor, which would rewrite a literal
    ``${...}`` span (``${env:HOME}``, ``${spark.app.name}``); the escape
    hides it from the substitutor and the parser restores the ``$``.  The
    parser's escape handling inverts exactly this encoding (pinned by
    test_fastlit's round-trip over quotes/backslashes/newlines/unicode/
    ``${...}``)."""
    if s is None:
        return "CAST(NULL AS STRING)"
    return "'" + (
        str(s).replace("\\", "\\\\").replace("'", "\\'").replace("$", "\\u0024")
    ) + "'"


def render_double_array(values) -> str:
    if isinstance(values, (list, tuple)):
        return "array(" + ",".join(render_double_array(v) for v in values) + ")"
    return fmt_double(values)


def render_string_array(values) -> str:
    """array<string> SQL text; an empty list keeps its element type."""
    if not values:
        return "CAST(array() AS ARRAY<STRING>)"
    return "array(" + ",".join(fmt_string(v) for v in values) + ")"


def lit_double_array(values) -> Column:
    """array<double> (arbitrarily nested) literal in one py4j call —
    bit-identical to the element-wise ``F.lit`` construction (see module
    docstring)."""
    return F.expr(render_double_array(list(values)))


def render_int_array(values) -> str:
    if isinstance(values, (list, tuple)):
        return "array(" + ",".join(render_int_array(v) for v in values) + ")"
    v = int(values)
    assert -(2**63) <= v < 2**63, "int64 range"
    return str(v)


def lit_int_array(values) -> Column:
    """array<int> (arbitrarily nested) literal in one py4j call (same
    rationale as :func:`lit_double_array`).  Each element parses to the type
    per-element ``F.lit(int)`` gives it: INT inside the int32 range, BIGINT
    beyond it (int64 range asserted), so a mixed list widens to
    array<bigint> exactly as the element-wise construction does."""
    return F.expr(render_int_array(list(values)))


def lit_string_array(values) -> Column:
    """array<string> literal in one py4j call (same rationale as
    :func:`lit_double_array`; ``$`` is safe, see :func:`fmt_string`)."""
    return F.expr(render_string_array([str(v) for v in values]))
