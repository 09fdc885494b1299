"""Round-14 internals pin: the one-py4j-call literal arrays
(dagger_spark/literals.lit_double_array / lit_int_array / lit_string_array)
must be BIT-identical —
values and schema — to the element-wise F.lit construction they replaced.

The element-wise path (pyspark's own ``lit(list)`` recursion) costs one
driver round trip per element; profiling round 14 showed it dominating
plan-construction wall for the literal-heavy ANN family (a 16x64 centroid
matrix is ~1k round trips per query build).  The replacement renders the
array as ONE ``F.expr`` string; ``repr(float)`` round-trips exactly
through Java's correctly-rounded ``Double.parseDouble``, so the parsed
literals carry the same bits.  The reference is built here with ``F.lit``
directly.
"""

import math
import re
import struct

from pyspark.sql import functions as F

from dagger_spark.literals import (
    lit_double_array,
    lit_int_array,
    lit_string_array,
)
from dagger_spark.ops.similarity import _plane_coeffs, rp_signs


def _bits(x):
    if isinstance(x, list):
        return [_bits(v) for v in x]
    return struct.pack("<d", x).hex()


def _floats(v):
    if isinstance(v, (list, tuple)):
        return [_floats(x) for x in v]
    return float(v)


def _both(spark, fast, ref):
    """``fast``: a one-call literal Column; ``ref``: the Python value the
    element-wise ``F.lit`` reference is built from."""
    return (
        spark.range(1).select(fast.alias("v")),
        spark.range(1).select(F.lit(ref).alias("v")),
    )


def test_double_array_bit_parity(spark):
    vals = (
        _plane_coeffs(3, 64)
        + [math.sqrt(sum(x * x for x in _plane_coeffs(1, 64)))]
        + [0.0, -0.0, 1e-17, 123456789.123456789, 2.5e-308]
    )
    fast, slow = _both(spark, lit_double_array(vals), _floats(vals))
    assert str(fast.schema) == str(slow.schema)
    f = [float(x) for x in fast.head()["v"]]
    s = [float(x) for x in slow.head()["v"]]
    assert _bits(f) == _bits(s)


def test_nested_double_array_bit_parity(spark):
    mat = [_plane_coeffs(p, 8) for p in range(4)]
    cube = [[rp_signs(j, 4) for j in range(3)] for _ in range(2)]
    for payload in (mat, cube):
        fast, slow = _both(spark, lit_double_array(payload), _floats(payload))
        assert str(fast.schema) == str(slow.schema)

        def unpack(v):
            return [unpack(x) for x in v] if hasattr(v, "__iter__") else float(v)

        assert _bits(unpack(list(fast.head()["v"]))) == _bits(
            unpack(list(slow.head()["v"]))
        )


def test_int_array_type_and_value_parity(spark):
    vals = [0, 1, 15, 2**31 - 1, -5]
    fast, slow = _both(spark, lit_int_array(vals), vals)
    assert str(fast.schema) == str(slow.schema)  # array<int>, not bigint
    assert list(fast.head()["v"]) == list(slow.head()["v"]) == vals


def _plan(df) -> str:
    """Optimized plan text without expression ids."""
    return re.sub(r"#\d+L?", "#", df._jdf.queryExecution().optimizedPlan().toString())


def test_int_array_past_int32_and_nested_match_element_wise(spark):
    """Elements past int32 parse as BIGINT, as per-element ``F.lit`` makes
    them, so the simhash bit-weight vector (up to 2^31) widens to
    array<bigint> either way; nested lists (the IVF leaf map) keep their
    shape.  Same schema, values and plan."""
    for vals in ([1 << p for p in range(32)], [[10, 11], [12, 13, 2**40]], [-5, 2**31]):
        fast, slow = _both(spark, lit_int_array(vals), vals)
        assert str(fast.schema) == str(slow.schema)
        assert fast.head()["v"] == slow.head()["v"] == vals
        assert _plan(fast) == _plan(slow)


def test_string_array_escape_round_trip(spark):
    vals = [
        "plain", "it's", 'say "hi"', "back\\slash", "two\\\\", r"mix\'q",
        "tab\there", "new\nline", "semi;colon--", "unié中",
        "pct%_", "", "'", "\\", "a,b", ")(", "${x}",
        "${env:HOME}", "${spark.app.name}",
    ]
    fast, slow = _both(spark, lit_string_array(vals), vals)
    assert str(fast.schema) == str(slow.schema)
    assert list(fast.head()["v"]) == list(slow.head()["v"]) == vals
