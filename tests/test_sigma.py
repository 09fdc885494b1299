"""Sigma compiler tests — one per compiler branch (FIXTURES.md §3)."""

import base64

import pytest
from pyspark.sql import functions as F

from dagger_spark.expr import Leaf, parse_predicate, to_sql
from dagger_spark.rules.builtin import REFERENCE_RULES
from dagger_spark.sigma import SigmaCompileError, compile_sigma


def mk(detection, category="process_creation", level="medium", tags=None, extra=None):
    rule = {
        "title": "T", "author": "a", "description": "d", "level": level,
        "logsource": {"category": category},
        "detection": detection,
    }
    if tags:
        rule["tags"] = tags
    if extra:
        rule.update(extra)
    return rule


def pred_of(spec):
    return spec.predicate


def test_contains_scalar():
    spec = compile_sigma(mk({"sel": {"CommandLine|contains": "x"}, "condition": "sel"}))
    assert "LIKE '%x%'" in spec.predicate_sql
    assert spec.predicate_sql.startswith("event_id = 1 AND")


def test_contains_strip_bug_compat():
    det = {"sel": {"CommandLine|contains": ["*a*", "*b*"]}, "condition": "sel"}
    bug = compile_sigma(mk(det), bug_compat=True)
    fixed = compile_sigma(mk(det))
    # reference list-branch lstrips only: trailing '*' survives (main.py:41)
    assert "'%a*%'" in bug.predicate_sql
    assert "'%a%'" in fixed.predicate_sql


def test_endswith_startswith():
    spec = compile_sigma(mk({
        "sel": {"Image|endswith": "\\cmdkey.exe", "ParentImage|startswith": "C:\\W"},
        "condition": "sel"}))
    assert "LIKE '%\\cmdkey.exe'" in spec.predicate_sql
    assert "LIKE 'C:\\W%'" in spec.predicate_sql


def test_re_modifier_full_match_anchored():
    spec = compile_sigma(mk({"sel": {"CommandLine|re": "{[a-f]{4}}"}, "condition": "sel"}))
    p = spec.predicate
    # event_id gate AND regex leaf
    leaf = p.children[1]
    assert leaf.op == "regex"
    assert leaf.value.startswith("^(?:") and leaf.value.endswith(")$")


def test_contains_all():
    spec = compile_sigma(mk({"sel": {"CommandLine|contains|all": ["a", "b"]}, "condition": "sel"}))
    assert spec.predicate_sql.count("LIKE") == 2
    assert " AND " in spec.predicate_sql


def test_scalar_eq_and_null():
    spec = compile_sigma(mk({"sel": [{"A": "v"}, {"B": None}], "condition": "sel"}))
    assert "= 'v'" in spec.predicate_sql
    assert "IS NULL" in spec.predicate_sql


def test_list_in_bug_vs_or_fixed():
    det = {"sel": {"Image": ["*\\cmd.exe", "*\\sh.exe"]}, "condition": "sel"}
    bug = compile_sigma(mk(det), bug_compat=True)
    fixed = compile_sigma(mk(det))
    assert "IN ('*\\cmd.exe', '*\\sh.exe')" in bug.predicate_sql
    assert "LIKE '%\\cmd.exe'" in fixed.predicate_sql
    assert " OR " in fixed.predicate_sql


def test_glob_in_equality_fixed():
    det = {"sel": {"ParentImage": "*\\wsmprovhost.exe"}, "condition": "sel"}
    bug = compile_sigma(mk(det), bug_compat=True)
    fixed = compile_sigma(mk(det))
    assert "= '*\\wsmprovhost.exe'" in bug.predicate_sql
    assert "LIKE '%\\wsmprovhost.exe'" in fixed.predicate_sql


def test_base64offset():
    det = {"sel": {"CommandLine|base64offset|contains": "http"}, "condition": "sel"}
    fixed = compile_sigma(mk(det))
    # three alignment variants ORed; alignment-0 is END-TRIMMED: "http" is
    # 4 bytes (≢0 mod 3), so the raw b64 'aHR0cA==' tail mixes with padding
    # and the matchable prefix is 'aHR0c'
    assert fixed.predicate_sql.count("LIKE") == 3
    assert "'%aHR0c%'" in fixed.predicate_sql
    assert base64.b64encode(b"http").decode() not in fixed.predicate_sql
    # reference silently strips base64offset (main.py:35)
    bug = compile_sigma(mk(det), bug_compat=True)
    assert bug.predicate_sql.count("LIKE") == 1
    assert "'%http%'" in bug.predicate_sql


def test_base64offset_variants_match_sigma_spec():
    from dagger_spark.sigma.compiler import _b64offset_variants

    # the canonical triple from the Sigma spec docs for 'http://'
    assert _b64offset_variants("http://") == [
        "aHR0cDovL", "h0dHA6Ly", "odHRwOi8v"]


def test_base64offset_variants_substring_property():
    """For EVERY stream alignment, at least one variant must be a literal
    substring of the stream's base64 — the property the trim rule exists
    to guarantee (the pre-fix variants failed alignment 0 for needles
    whose byte length ≢ 0 mod 3)."""
    from dagger_spark.sigma.compiler import _b64offset_variants

    for needle in ("http://", "cmd.exe /c", "AB", "powershell -enc"):
        variants = _b64offset_variants(needle)
        for pre in range(3):
            stream = base64.b64encode(
                b"X" * pre + needle.encode() + b"TRAILER").decode()
            assert any(v in stream for v in variants), (needle, pre, stream)


def test_wide_base64offset_contains():
    det = {"sel": {"CommandLine|wide|base64offset|contains": "cmd"},
           "condition": "sel"}
    spec = compile_sigma(mk(det))
    assert spec.predicate_sql.count("LIKE") == 3
    # UTF-16LE 'cmd' = 6 bytes (≡0 mod 3): alignment 0 is the full encoding
    assert base64.b64encode("cmd".encode("utf-16le")).decode() in spec.predicate_sql
    # and the property holds over wide streams
    from dagger_spark.sigma.compiler import _b64offset_variants
    variants = _b64offset_variants("cmd", "utf-16le")
    for pre in range(3):
        stream = base64.b64encode(
            b"X" * pre + "cmd".encode("utf-16le") + b"TRAIL").decode()
        assert any(v in stream for v in variants)


def test_plain_base64_eq_and_contains():
    eq = compile_sigma(mk({"sel": {"Payload|base64": "hello world"},
                           "condition": "sel"}))
    enc = base64.b64encode(b"hello world").decode()
    assert f"= '{enc}'" in eq.predicate_sql
    cont = compile_sigma(mk({"sel": {"Payload|base64|contains": "hello world"},
                             "condition": "sel"}))
    assert f"'%{enc}%'" in cont.predicate_sql
    wide = compile_sigma(mk({"sel": {"Payload|utf16le|base64": "x"},
                             "condition": "sel"}))
    assert base64.b64encode("x".encode("utf-16le")).decode() in wide.predicate_sql


def test_encoding_modifiers_reject_loudly():
    import pytest
    from dagger_spark.sigma.compiler import SigmaCompileError

    # bug-compat refuses (reference strips silently -> wrong detections)
    for field in ("A|base64", "A|wide|base64offset|contains"):
        with pytest.raises(SigmaCompileError):
            compile_sigma(mk({"sel": {field: "v"}, "condition": "sel"}),
                          bug_compat=True)
    # wide without a following base64 modifier is a spec violation
    with pytest.raises(SigmaCompileError):
        compile_sigma(mk({"sel": {"A|wide|contains": "v"}, "condition": "sel"}))
    # base64 cannot chain with |all
    with pytest.raises(SigmaCompileError):
        compile_sigma(mk({"sel": {"A|base64|contains|all": ["v", "w"]},
                          "condition": "sel"}))


def test_windash_contains_expands_dash_variants():
    det = {"sel": {"CommandLine|windash|contains": "-p"}, "condition": "sel"}
    spec = compile_sigma(mk(det))
    # 5 dash variants, each a LIKE branch
    assert spec.predicate_sql.count("LIKE") == 5
    for ch in ("-p", "/p", "–p", "—p", "―p"):
        assert f"'%{ch}%'" in spec.predicate_sql
    # parses through the shared predicate parser
    parse_predicate(spec.predicate_sql)


def test_windash_bare_and_startswith():
    bare = compile_sigma(mk({"sel": {"A|windash": "-x"}, "condition": "sel"}))
    assert bare.predicate_sql.count("=") >= 5  # 5 equality variants (+gate)
    sw = compile_sigma(mk({"sel": {"A|windash|startswith": "/y"}, "condition": "sel"}))
    assert sw.predicate_sql.count("LIKE") == 5
    assert "'-y%'" in sw.predicate_sql and "'/y%'" in sw.predicate_sql


def test_windash_contains_all_is_and_of_variant_ors():
    det = {"sel": {"CommandLine|windash|contains|all": ["-a", "-b"]}, "condition": "sel"}
    spec = compile_sigma(mk(det))
    # 2 flags x 5 variants, AND between flags
    assert spec.predicate_sql.count("LIKE") == 10
    assert "'%/a%'" in spec.predicate_sql and "'%/b%'" in spec.predicate_sql
    parse_predicate(spec.predicate_sql)


def test_windash_permutation_cap_raises():
    with pytest.raises(SigmaCompileError, match="windash"):
        compile_sigma(mk({"sel": {"A|windash|contains": "-" * 10}, "condition": "sel"}))


def test_windash_rejected_loudly_in_bug_compat():
    det = {"sel": {"A|windash|contains": "-p"}, "condition": "sel"}
    with pytest.raises(SigmaCompileError, match="windash"):
        compile_sigma(mk(det), bug_compat=True)


def test_cidr_byte_aligned_and_partial_octet():
    spec = compile_sigma(mk({"sel": {"DestinationIp|cidr": "10.1.0.0/16"}, "condition": "sel"}))
    assert "LIKE '10.1.%'" in spec.predicate_sql
    # /20 -> 16 third-octet expansions
    spec20 = compile_sigma(mk({"sel": {"DestinationIp|cidr": "192.168.16.0/20"}, "condition": "sel"}))
    assert spec20.predicate_sql.count("LIKE") == 16
    assert "'192.168.16.%'" in spec20.predicate_sql
    assert "'192.168.31.%'" in spec20.predicate_sql
    assert "'192.168.32.%'" not in spec20.predicate_sql
    # /32 -> exact equality
    spec32 = compile_sigma(mk({"sel": {"DestinationIp|cidr": "10.0.0.7/32"}, "condition": "sel"}))
    assert "= '10.0.0.7'" in spec32.predicate_sql
    parse_predicate(spec20.predicate_sql)


def test_cidr_host_bits_normalized_and_list_ored():
    spec = compile_sigma(mk(
        {"sel": {"Ip|cidr": ["10.1.2.3/16", "172.16.0.0/12"]}, "condition": "sel"}
    ))
    assert "'10.1.%'" in spec.predicate_sql       # host bits masked off
    assert spec.predicate_sql.count("LIKE") == 1 + 16  # /16 + 16 x /12 second-octet


def test_cidr_rejects_ipv6_and_garbage():
    with pytest.raises(SigmaCompileError, match="IPv6"):
        compile_sigma(mk({"sel": {"Ip|cidr": "2001:db8::/32"}, "condition": "sel"}))
    with pytest.raises(SigmaCompileError, match="invalid"):
        compile_sigma(mk({"sel": {"Ip|cidr": "300.1.2.3/8"}, "condition": "sel"}))
    with pytest.raises(SigmaCompileError, match="cidr"):
        compile_sigma(mk({"sel": {"Ip|cidr": "10.0.0.0/8"}, "condition": "sel"}),
                      bug_compat=True)


def test_condition_one_of_prefix():
    det = {
        "sel_a": {"A": "1"}, "sel_b": {"B": "2"}, "other": {"C": "3"},
        "condition": "1 of sel_*",
    }
    spec = compile_sigma(mk(det))
    assert "'1'" in spec.predicate_sql and "'2'" in spec.predicate_sql
    assert "'3'" not in spec.predicate_sql


def test_condition_all_of_them_and_not():
    det = {
        "sel": {"A": "1"}, "flt": {"B": "2"},
        "condition": "all of them",
    }
    spec = compile_sigma(mk(det))
    assert " AND " in spec.predicate_sql
    det2 = {"sel": {"A": "1"}, "flt": {"B": "2"}, "condition": "sel and not flt"}
    spec2 = compile_sigma(mk(det2))
    assert "NOT" in spec2.predicate_sql


def test_condition_unknown_selection_raises():
    with pytest.raises(SigmaCompileError):
        compile_sigma(mk({"sel": {"A": "1"}, "condition": "nosuch"}))


def test_category_gates():
    for cat, eid in [("process_access", 10), ("process_creation", 1), ("network_connection", 3)]:
        spec = compile_sigma(mk({"sel": {"A": "1"}, "condition": "sel"}, category=cat))
        assert spec.predicate_sql.startswith(f"event_id = {eid} AND")
    spec = compile_sigma(mk({"sel": {"A": "1"}, "condition": "sel"}, category="registry_set"))
    assert not spec.predicate_sql.startswith("event_id")


def test_severity_map_and_unknown_level():
    assert compile_sigma(mk({"s": {"A": "1"}, "condition": "s"}, level="critical")).severity == 9
    assert compile_sigma(mk({"s": {"A": "1"}, "condition": "s"}, level="low")).severity == 3
    with pytest.raises(SigmaCompileError):
        compile_sigma(mk({"s": {"A": "1"}, "condition": "s"}, level="wat"))


def test_tag_split_fixed_vs_bug():
    tags = ["attack.execution", "attack.t1055", "attack.t1003.001"]
    fixed = compile_sigma(mk({"s": {"A": "1"}, "condition": "s"}, tags=tags))
    assert fixed.tactic == ("attack.execution",)
    assert fixed.technique == ("attack.t1055", "attack.t1003")
    assert fixed.subtechnique == ("attack.t1003.001",)
    bug = compile_sigma(mk({"s": {"A": "1"}, "condition": "s"}, tags=tags), bug_compat=True)
    assert bug.technique == ("attack.t1055", "t1003")
    # empty arrays become ('',) in bug-compat (arr2str quirk)
    bug2 = compile_sigma(mk({"s": {"A": "1"}, "condition": "s"}), bug_compat=True)
    assert bug2.tactic == ("",)


def test_timeframe_skipped_in_bug_compat_compiled_in_fixed():
    det = {"sel": {"A": "1"}, "timeframe": "60s", "condition": "sel | count() > 5"}
    assert compile_sigma(mk(det), bug_compat=True) is None
    spec = compile_sigma(mk(det))
    assert spec.timeframe_seconds == 60
    assert spec.timeframe_min_count == 6  # strict '>' 5
    assert spec.timeframe_group_by == ("host",)


def test_timeframe_count_by_field():
    det = {"sel": {"A": "1"}, "timeframe": "10m",
           "condition": "sel | count() by TargetImage >= 3"}
    spec = compile_sigma(mk(det))
    assert spec.timeframe_seconds == 600
    assert spec.timeframe_min_count == 3
    assert spec.timeframe_group_by == ("host", "event_data.TargetImage")


def test_case_insensitive_defaults():
    det = {"sel": {"A": "v"}, "condition": "sel"}
    assert compile_sigma(mk(det)).case_insensitive is True
    assert compile_sigma(mk(det), bug_compat=True).case_insensitive is False


def test_bug_compat_reproduces_reference_rule():
    """Compiling the Sigma source of 'Cmdkey Cached Credentials Recon' in
    bug-compat mode must yield the same predicate IR as the checked-in
    reference rule (windows-process-creation.sql:120)."""
    yaml_rule = mk(
        {
            "selection_1": {"CommandLine|contains": " /list"},
            "selection_2": {"Image|endswith": "\\cmdkey.exe"},
            "condition": "selection_1 and selection_2",
        },
        category="process_creation", level="medium",
    )
    spec = compile_sigma(yaml_rule, bug_compat=True)
    ref = next(r for r in REFERENCE_RULES if r.name == "Cmdkey Cached Credentials Recon")
    assert spec.predicate == ref.predicate


def test_compiled_rule_matches_oracle_case_insensitive(sysmon_df, duck):
    """End-to-end: compiled (fixed, case-insensitive) rule agrees with DuckDB."""
    spec = compile_sigma(mk(
        {"sel": {"Image|endswith": "\\CMDKEY.EXE", "CommandLine|contains": " /LIST"},
         "condition": "sel"},
    ))
    assert spec.case_insensitive
    got = {r.uuid for r in sysmon_df.filter(spec.condition()).select("uuid").collect()}
    sql = to_sql(spec.predicate, "duckdb", case_insensitive=True)
    want = {r[0] for r in duck.execute(f"SELECT uuid FROM sysmon WHERE {sql}").fetchall()}
    assert got == want
    assert len(got) >= 1  # the fixture's cmdkey template matches case-insensitively


def test_list_of_maps_selection_is_or_fixed_and_for_bug_compat():
    """Sigma spec: a list selection ORs its map entries (each map ANDs its
    fields).  The reference flattens the list into one AND — unsatisfiable
    for multi-entry lists — so that shape is bug_compat-only."""
    det = {
        "sel": [
            {"Image|endswith": "\\cmd.exe"},
            {"Image|endswith": "\\powershell.exe"},
        ],
        "condition": "sel",
    }
    fixed = compile_sigma(mk(det))
    assert " OR " in fixed.predicate_sql
    bug = compile_sigma(mk(det), bug_compat=True)
    assert " OR " not in bug.predicate_sql  # reference's AND-flatten


def test_count_without_timeframe_is_rejected():
    """count() with no detection.timeframe must fail loudly — compiling it
    stateless would silently alert on every matching event."""
    det = {
        "sel": {"Image|endswith": "\\cmd.exe"},
        "condition": "sel | count() > 5",
    }
    with pytest.raises(SigmaCompileError, match="timeframe"):
        compile_sigma(mk(det))


# --- round-2 spec modifiers: comparisons, exists, generic all, re flags ---


def test_numeric_comparison_modifiers():
    for mod, sym in (("lt", "<"), ("lte", "<="), ("gt", ">"), ("gte", ">=")):
        spec = compile_sigma(mk({"sel": {f"Size|{mod}": 100}, "condition": "sel"}))
        assert f"`event_data`.`Size` {sym} 100" in spec.predicate_sql
        parse_predicate(spec.predicate_sql)


def test_numeric_comparison_rejects_non_numeric_and_bug_compat():
    import pytest
    from dagger_spark.sigma.compiler import SigmaCompileError

    with pytest.raises(SigmaCompileError, match="numeric"):
        compile_sigma(mk({"sel": {"A|lt": "abc"}, "condition": "sel"}))
    with pytest.raises(SigmaCompileError, match="numeric"):
        compile_sigma(mk({"sel": {"A|gte": [1, 2]}, "condition": "sel"}))
    with pytest.raises(SigmaCompileError, match="bug-compat"):
        compile_sigma(mk({"sel": {"A|lt": 5}, "condition": "sel"}), bug_compat=True)


def test_exists_modifier():
    import pytest
    from dagger_spark.sigma.compiler import SigmaCompileError

    yes = compile_sigma(mk({"sel": {"User|exists": True}, "condition": "sel"}))
    assert "`event_data`.`User` IS NOT NULL" in yes.predicate_sql
    no = compile_sigma(mk({"sel": {"User|exists": False}, "condition": "sel"}))
    assert "`event_data`.`User` IS NULL" in no.predicate_sql
    parse_predicate(yes.predicate_sql)
    parse_predicate(no.predicate_sql)
    with pytest.raises(SigmaCompileError, match="true/false"):
        compile_sigma(mk({"sel": {"A|exists": "yes"}, "condition": "sel"}))


def test_generic_all_modifier_is_and_of_equalities():
    import pytest
    from dagger_spark.sigma.compiler import SigmaCompileError

    spec = compile_sigma(mk({"sel": {"A|all": ["x", "y"]}, "condition": "sel"}))
    assert "`event_data`.`A` = 'x' AND `event_data`.`A` = 'y'" in spec.predicate_sql
    parse_predicate(spec.predicate_sql)
    with pytest.raises(SigmaCompileError, match="list"):
        compile_sigma(mk({"sel": {"A|all": "x"}, "condition": "sel"}))


def test_re_flag_modifiers_compile_to_inline_flags():
    import pytest
    from dagger_spark.sigma.compiler import SigmaCompileError

    spec = compile_sigma(mk({"sel": {"A|re|i": "foo.*"}, "condition": "sel"}))
    assert "SIMILAR TO '(?i)foo.*'" in spec.predicate_sql
    both = compile_sigma(mk({"sel": {"A|re|i|s": "bar"}, "condition": "sel"}))
    assert "SIMILAR TO '(?is)bar'" in both.predicate_sql
    parse_predicate(spec.predicate_sql)
    with pytest.raises(SigmaCompileError, match="unsupported re flags"):
        compile_sigma(mk({"sel": {"A|re|x": "p"}, "condition": "sel"}))
    with pytest.raises(SigmaCompileError, match="bug-compat"):
        compile_sigma(mk({"sel": {"A|re|i": "p"}, "condition": "sel"}), bug_compat=True)


def test_re_flag_case_insensitive_matches_end_to_end(spark):
    """(?i) survives the parse -> anchor -> rlike pipeline in both engines."""
    from dagger_spark.expr import parse_predicate as pp, to_sql
    import duckdb

    pred = pp("`name` SIMILAR TO '(?i)ab.'")
    df = spark.createDataFrame([("ABC",), ("abd",), ("xbc",), (None,)], "name string")
    got = sorted(r["name"] for r in df.filter(F.expr(to_sql(pred, "spark"))).collect())
    assert got == ["ABC", "abd"]
    con = duckdb.connect()
    rows = con.execute(
        "SELECT name FROM (VALUES ('ABC'), ('abd'), ('xbc'), (NULL)) t(name) WHERE "
        + to_sql(pred, dialect="duckdb")
    ).fetchall()
    assert sorted(r[0] for r in rows) == ["ABC", "abd"]


def test_numeric_comparison_cross_engine_on_string_field(spark):
    """lt/gte on a VARCHAR field: the IR casts the field to DOUBLE in BOTH
    renderers — without it Spark implicitly coerces while DuckDB refuses to
    compare VARCHAR to a number (an engine divergence, not a preference).
    Non-numeric text casts to NULL and never matches."""
    import duckdb
    import pandas as pd

    from dagger_spark.expr import parse_predicate as pp, to_sql

    pred = pp("`size` >= 100")
    rows = [("150",), ("99",), ("abc",), (None,), ("100",)]
    df = spark.createDataFrame(rows, "size string")
    got = sorted(r["size"] for r in df.filter(F.expr(to_sql(pred, "spark"))).collect())
    assert got == ["100", "150"]

    con = duckdb.connect()
    con.register("t", pd.DataFrame(rows, columns=["size"]))
    duck = sorted(
        r[0] for r in con.execute(
            "SELECT size FROM t WHERE " + to_sql(pred, dialect="duckdb")
        ).fetchall()
    )
    assert duck == got


def test_numeric_comparison_negative_and_scientific_values():
    """Negative thresholds and floats whose repr is scientific notation must
    compile AND re-parse through the predicate tokenizer."""
    neg = compile_sigma(mk({"sel": {"Delta|lt": -5}, "condition": "sel"}))
    assert "< -5" in neg.predicate_sql
    parse_predicate(neg.predicate_sql)
    tiny = compile_sigma(mk({"sel": {"Rate|gte": 0.00001}, "condition": "sel"}))
    parse_predicate(tiny.predicate_sql)  # repr is '1e-05'


def test_string_comparison_leaf_renders_lexically(spark):
    """lt/gt with a STRING literal keeps lexical comparison in both
    renderers (the numeric TRY_CAST path applies to numeric literals only —
    previously this crashed with float('2024-01-01'))."""
    import duckdb
    import pandas as pd

    from dagger_spark.expr import parse_predicate as pp, to_sql

    pred = pp("`day` > '2024-06-15'")
    rows = [("2024-06-14",), ("2024-06-15",), ("2024-07-01",), (None,)]
    df = spark.createDataFrame(rows, "day string")
    got = sorted(r["day"] for r in df.filter(F.expr(to_sql(pred, "spark"))).collect())
    assert got == ["2024-07-01"]
    con = duckdb.connect()
    con.register("t", pd.DataFrame(rows, columns=["day"]))
    duck = [r[0] for r in con.execute(
        "SELECT day FROM t WHERE " + to_sql(pred, dialect="duckdb")).fetchall()]
    assert duck == got


def test_fieldref_modifier_compares_columns():
    import pytest
    from dagger_spark.sigma.compiler import SigmaCompileError

    spec = compile_sigma(
        mk({"sel": {"ParentImage|fieldref": "Image"}, "condition": "sel"})
    )
    assert (
        "`event_data`.`ParentImage` = `event_data`.`Image`"
        in spec.predicate_sql
    )
    parse_predicate(spec.predicate_sql)
    multi = compile_sigma(
        mk({"sel": {"A|fieldref": ["B", "C"]}, "condition": "sel"})
    )
    assert (
        "`event_data`.`A` = `event_data`.`B` OR "
        "`event_data`.`A` = `event_data`.`C`"
    ) in multi.predicate_sql
    with pytest.raises(SigmaCompileError, match="field-name"):
        compile_sigma(mk({"sel": {"A|fieldref": 5}, "condition": "sel"}))
    with pytest.raises(SigmaCompileError, match="bug-compat"):
        compile_sigma(
            mk({"sel": {"A|fieldref": "B"}, "condition": "sel"}),
            bug_compat=True,
        )


def test_fieldref_matches_rows_where_fields_equal(spark):
    """End-to-end: a fieldref rule fires exactly where the two event_data
    fields carry the same value."""
    spec = compile_sigma(
        mk({"sel": {"Image|fieldref": "ParentImage"}, "condition": "sel"})
    )
    pred = spec.condition()
    df = spark.createDataFrame(
        [(1, 1, ("same.exe", "same.exe")), (2, 1, ("a.exe", "b.exe")),
         (3, 1, (None, None)), (4, 10, ("same.exe", "same.exe"))],
        "uuid int, event_id int, "
        "event_data struct<Image: string, ParentImage: string>",
    )
    got = {r["uuid"] for r in df.filter(pred).collect()}
    assert got == {1}  # NULL = NULL is not TRUE, as in both engines


def test_fieldref_cross_engine_differential():
    """The eq_field leaf renders to working SQL in BOTH engines and
    matches the same rows."""
    import duckdb

    from dagger_spark.expr import parse_predicate, to_sql

    p = parse_predicate("`event_data`.`Image` = `event_data`.`ParentImage`")
    con = duckdb.connect()
    con.execute("""
        CREATE TABLE t AS SELECT * FROM (VALUES
          (1, {'Image': 'same.exe', 'ParentImage': 'same.exe'}),
          (2, {'Image': 'a.exe',    'ParentImage': 'b.exe'}),
          (3, {'Image': 'CASE.exe', 'ParentImage': 'case.exe'}),
          (4, {'Image': NULL,       'ParentImage': NULL})
        ) AS v(uuid, event_data)
    """)
    got = {r[0] for r in con.execute(
        f"SELECT uuid FROM t WHERE {to_sql(p, 'duckdb')}").fetchall()}
    assert got == {1}
    ci = {r[0] for r in con.execute(
        f"SELECT uuid FROM t WHERE {to_sql(p, 'duckdb', case_insensitive=True)}"
    ).fetchall()}
    assert ci == {1, 3}


# ------------------------------------------------- global filters (Sigma v2)

def _flt(rules, condition="not sel", logsource=None, **sels):
    doc = {"title": "tune", "filter": {"rules": rules,
                                       "condition": condition, **sels}}
    if logsource:
        doc["logsource"] = {"category": logsource}
    return doc


def test_filter_compiles_and_narrows_rule(spark):
    """The spec's tuning mechanism: a filter's keep-condition ANDs onto
    every referenced rule — matches the filter excludes stop alerting,
    untouched rules keep their predicate verbatim."""
    import datetime as dt

    from dagger_spark.schemas import SYSMON_EVENT_SCHEMA
    from dagger_spark.sigma.compiler import apply_filters, compile_filter

    ra = compile_sigma(mk({"sel": {"CommandLine|contains": "mimikatz"},
                           "condition": "sel"}))
    ra = __import__("dataclasses").replace(ra, name="ra")
    rb = compile_sigma(mk({"sel": {"CommandLine|contains": "procdump"},
                           "condition": "sel"}))
    rb = __import__("dataclasses").replace(rb, name="rb")
    flt = compile_filter(_flt(
        ["ra"], sel={"User|startswith": "svc_"}))
    out = apply_filters([ra, rb], [flt])
    assert out[1].predicate_sql == rb.predicate_sql  # untouched
    assert out[0].predicate_sql != ra.predicate_sql

    def ev(uuid, cmd, user):
        ed = {f.name: None for f in
              SYSMON_EVENT_SCHEMA["event_data"].dataType.fields}
        ed.update(CommandLine=cmd, User=user)
        return ("H", 1, "h", tuple(ed.values()), uuid,
                dt.datetime(2024, 1, 1))

    events = spark.createDataFrame(
        [ev("e1", "run mimikatz now", "alice"),
         ev("e2", "run mimikatz now", "svc_backup"),   # filtered out
         ev("e3", "benign", "svc_backup")],
        SYSMON_EVENT_SCHEMA,
    )
    got = {r["uuid"] for r in
           events.filter(out[0].condition()).select("uuid").collect()}
    assert got == {"e1"}
    # the unfiltered original still matches both mimikatz events
    raw = {r["uuid"] for r in
           events.filter(ra.condition()).select("uuid").collect()}
    assert raw == {"e1", "e2"}


def test_filter_logsource_gate_and_validation():
    from dagger_spark.sigma.compiler import (
        FilterSpec, apply_filters, compile_filter,
    )

    f = compile_filter(_flt(["r"], logsource="process_access",
                            sel={"User": "x"}))
    assert f.condition_sql.startswith("event_id = 10 AND")
    # bad shapes reject loudly
    for doc in (
        {"title": "t"},                                      # no filter block
        _flt([], sel={"User": "x"}),                         # no rules
        _flt(["r"], condition="", sel={"User": "x"}),        # no condition
        {"title": "t", "filter": {"rules": ["r"],
                                  "condition": "not sel"}},  # no selection
        {"title": "t", "filter": {"rules": ["r"], "condition": "not sel",
                                  "sel": {"User": "x"},
                                  "generate": True}},        # scalar typo key
    ):
        with pytest.raises(SigmaCompileError):
            compile_filter(doc)
    # unknown rule reference fails loudly at apply time
    ra = compile_sigma(mk({"sel": {"CommandLine": "x"}, "condition": "sel"}))
    with pytest.raises(SigmaCompileError, match="unknown rules"):
        apply_filters([ra], [FilterSpec("f", ("nope",), "1 = 1")])


def test_filter_docs_skipped_by_base_compiler_and_loaded(tmp_path):
    from dagger_spark.sigma.compiler import compile_sigma_dir, load_filters

    (tmp_path / "base.yml").write_text("""
title: base rule
logsource: {category: process_access}
detection:
  sel:
    CallTrace|startswith: 'UNKNOWN'
  condition: sel
""")
    (tmp_path / "tune.yml").write_text("""
title: drop svc accounts
filter:
  rules: ["base rule"]
  sel:
    User|startswith: 'svc_'
  condition: not sel
""")
    specs = compile_sigma_dir(str(tmp_path))
    assert [s.name for s in specs] == ["base rule"]  # filter doc skipped
    filters = load_filters(str(tmp_path))
    assert len(filters) == 1 and filters[0].rules == ("base rule",)


def test_cli_applies_filters_and_marks_suppression(tmp_path, capsys):
    """The CLI emits TUNED predicates (filters applied in place) and marks
    rules whose standalone alerts a generate:false correlation replaces —
    the engine loads exactly what it should run."""
    import json

    from dagger_spark.sigma.__main__ import main

    (tmp_path / "base.yml").write_text("""
title: base rule
logsource: {category: process_access}
detection:
  sel:
    CallTrace|startswith: 'UNKNOWN'
  condition: sel
""")
    (tmp_path / "tune.yml").write_text("""
title: drop svc accounts
filter:
  rules: ["base rule"]
  sel:
    User|startswith: 'svc_'
  condition: not sel
""")
    (tmp_path / "corr.yml").write_text("""
title: burst of base
correlation:
  type: event_count
  rules: ["base rule"]
  timespan: 10m
  condition: {gte: 5}
""")
    assert main([str(tmp_path)]) == 0
    lines = [json.loads(l) for l in
             capsys.readouterr().out.strip().splitlines()]
    rule = next(l for l in lines if l.get("name") == "base rule")
    assert rule["tuned_by_filter"] is True
    assert rule["suppressed_by_correlation"] is True
    assert "NOT" in rule["predicate_sql"].upper()   # the ANDed keep-cond
