"""Property-based differential testing of the predicate IR: random predicate
trees over adversarial string data (backslashes, wildcards chars, quotes,
unicode, ``$``/``${...}``, nulls) must produce IDENTICAL row sets in Spark and
DuckDB through the two ``to_sql`` dialects.  This is the generic form of the per-rule oracle tests —
SURVEY.md §5.5."""

import duckdb
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from dagger_spark.expr import And, Leaf, Not, Or, java_safe_regex, to_sql

VALUES = [
    "abc", "ABC", "a%c", "a_c", "a\\c", "C:\\Windows\\System32\\lsass.exe",
    "it's", "0x1FFFFF", "0x1fffff", "", " ", "müller", "a|b(c)", "*\\cmd.exe",
    "null", "UNKNOWN(0000)", "%x%", "${env:HOME}", "${spark.app.name}", "a$b",
]
REGEXES = ["^a", "c$", "a.c", "[0-9]+", "^(?:abc|ABC)$", "x{2,3}", "\\|", "^$"]
FIELDS = ["a", "b"]
# numeric-ish text the TRY_CAST path of numeric literals must treat
# identically in both engines: fractional, whitespace-padded, scientific,
# past-2^53, junk
NUM_TEXT = ["3.5", "42", "-7", " 7 ", "1e10", "9007199254740993",
            "9007199254740992", "0", "abc", "", "nan", "443", "443.0"]
NUM_LITS = [0, 3, 4, -1, 2 ** 53, 2 ** 53 + 1, 2 ** 63, 10 ** 28, 3.5, 0.1, -2.0,
            443, 443.0]

leaf_st = st.one_of(
    st.builds(Leaf, st.sampled_from(FIELDS), st.just("eq"), st.sampled_from(VALUES)),
    st.builds(Leaf, st.sampled_from(FIELDS), st.just("ne"), st.sampled_from(VALUES)),
    st.builds(Leaf, st.sampled_from(FIELDS), st.just("contains"), st.sampled_from(VALUES)),
    st.builds(Leaf, st.sampled_from(FIELDS), st.just("startswith"), st.sampled_from(VALUES)),
    st.builds(Leaf, st.sampled_from(FIELDS), st.just("endswith"), st.sampled_from(VALUES)),
    st.builds(Leaf, st.sampled_from(FIELDS), st.just("like"),
              st.sampled_from(["%a%", "a%", "%c", "a_c", "%\\%", "%_%", "a%c%e"])),
    st.builds(Leaf, st.sampled_from(FIELDS), st.just("regex"),
              st.sampled_from(REGEXES).map(java_safe_regex)),
    st.builds(Leaf, st.sampled_from(FIELDS), st.just("in"),
              st.lists(st.sampled_from(VALUES), min_size=1, max_size=4).map(tuple)),
    st.builds(Leaf, st.sampled_from(FIELDS), st.just("is_null"), st.none()),
    st.builds(Leaf, st.sampled_from(FIELDS),
              st.sampled_from(["eq", "ne", "lt", "le", "gt", "ge"]),
              st.sampled_from(NUM_LITS)),
    # numeric and mixed string/number IN lists
    st.builds(Leaf, st.sampled_from(FIELDS), st.just("in"),
              st.lists(st.sampled_from(NUM_LITS + VALUES[:4]), min_size=1,
                       max_size=4).map(tuple)),
)

pred_st = st.recursive(
    leaf_st,
    lambda children: st.one_of(
        st.builds(lambda a, b: And((a, b)), children, children),
        st.builds(lambda a, b: Or((a, b)), children, children),
        st.builds(Not, children),
    ),
    max_leaves=6,
)


@pytest.fixture(scope="module")
def prop_data(spark, tmp_path_factory):
    rows = []
    i = 0
    for a in VALUES + NUM_TEXT + [None]:
        for b in VALUES[::3] + NUM_TEXT[::2] + [None]:
            rows.append((i, a, b))
            i += 1
    df = spark.createDataFrame(rows, "id int, a string, b string")
    p = str(tmp_path_factory.mktemp("prop") / "t.parquet")
    df.write.mode("overwrite").parquet(p)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet('{p}/*.parquet')")
    return spark.read.parquet(p), con


@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(pred=pred_st)
def test_spark_and_duckdb_agree(prop_data, pred):
    df, con = prop_data
    got = {r.id for r in df.filter(F.expr(to_sql(pred, "spark"))).select("id").collect()}
    sql = to_sql(pred, "duckdb")
    want = {r[0] for r in con.execute(f"SELECT id FROM t WHERE {sql}").fetchall()}
    assert got == want, f"pred={pred}\nsql={sql}"


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(pred=pred_st)
def test_case_insensitive_render_agrees(prop_data, pred):
    df, con = prop_data
    spark_sql = to_sql(pred, "spark", case_insensitive=True)
    got = {r.id for r in df.filter(F.expr(spark_sql)).select("id").collect()}
    sql = to_sql(pred, "duckdb", case_insensitive=True)
    want = {r[0] for r in con.execute(f"SELECT id FROM t WHERE {sql}").fetchall()}
    assert got == want, f"pred={pred}\nsql={sql}"


NUMERIC_ON_TEXT = ["443", "443.0", "abc", None]


@pytest.mark.parametrize("leaf, want", [
    (Leaf("a", "eq", 443), {"443", "443.0"}),
    (Leaf("a", "eq", 443.0), {"443", "443.0"}),
    (Leaf("a", "ne", 443), set()),
    (Leaf("a", "ne", 80), {"443", "443.0"}),
    (Leaf("a", "in", (80, 443)), {"443", "443.0"}),
    (Leaf("a", "in", (80.5, 443)), {"443", "443.0"}),
    (Leaf("a", "in", ("abc", 443)), {"443", "443.0", "abc"}),
    (Not(Leaf("a", "in", ("abc", 80))), {"443", "443.0"}),
])
def test_numeric_literal_on_text_field_does_not_raise(spark, leaf, want):
    """A numeric ``=``/``<>``/``IN`` over a string field TRY_CASTs the field:
    non-numeric text matches nothing instead of failing the query with an
    ANSI ``CAST_INVALID_INPUT`` (Spark) or a conversion error (DuckDB)."""
    df = spark.createDataFrame([(x,) for x in NUMERIC_ON_TEXT], "a string")
    got = {r.a for r in df.filter(F.expr(to_sql(leaf, "spark"))).collect()}
    con = duckdb.connect()
    t = pd.DataFrame({"a": pd.Series(NUMERIC_ON_TEXT, dtype=object)})
    con.register("t", t)
    sql = to_sql(leaf, "duckdb")
    duck = {r[0] for r in con.execute(f"SELECT a FROM t WHERE {sql}").fetchall()}
    assert got == duck == want, (sql, got, duck)
