"""Golden + differential-oracle tests for the rule engine.

Every reference rule's Spark predicate is checked row-for-row against DuckDB
executing the SAME predicate (rendered from the shared IR) over the SAME
parquet fixture — the strongest parity statement we can make without Flink.
"""

import pytest
from pyspark.sql import functions as F

from dagger_spark.expr import to_sql
from dagger_spark.rules import apply_rules_single_pass, apply_rules_union
from dagger_spark.rules.builtin import REFERENCE_RULES, active_rules
from dagger_spark.schemas import ALERT_SCHEMA


def spark_match_uuids(sysmon_df, rule):
    return {
        r.uuid
        for r in sysmon_df.filter(rule.condition()).select("uuid").collect()
    }


def duck_match_uuids(duck, rule):
    sql = to_sql(rule.predicate, "duckdb", case_insensitive=rule.case_insensitive)
    return {r[0] for r in duck.execute(f"SELECT uuid FROM sysmon WHERE {sql}").fetchall()}


@pytest.mark.parametrize("rule", REFERENCE_RULES, ids=lambda r: r.name)
def test_rule_matches_oracle(sysmon_df, duck, rule):
    got = spark_match_uuids(sysmon_df, rule)
    want = duck_match_uuids(duck, rule)
    assert got == want


@pytest.mark.parametrize("rule", active_rules(), ids=lambda r: r.name)
def test_active_rule_fires_on_template(sysmon_df, rule):
    # every active rule has >=1 hand-crafted satisfying row in the fixture
    assert sysmon_df.filter(rule.condition()).limit(1).count() >= 1


def test_union_and_single_pass_agree(sysmon_df):
    rules = active_rules()
    a = apply_rules_union(sysmon_df, rules)
    b = apply_rules_single_pass(sysmon_df, rules)
    key = lambda df: {
        (r["rule"]["name"], r["event"]["origin_ids"][0]) for r in df.collect()
    }
    ka, kb = key(a), key(b)
    assert ka == kb
    assert len(ka) > 0


def _shape(dt):
    """(name, type) tree ignoring nullability/metadata."""
    import pyspark.sql.types as T
    if isinstance(dt, T.StructType):
        return tuple((f.name, _shape(f.dataType)) for f in dt.fields)
    if isinstance(dt, T.ArrayType):
        return ("array", _shape(dt.elementType))
    return dt.simpleString()


def test_alert_schema_matches_contract(sysmon_df):
    for strat in (apply_rules_single_pass, apply_rules_union):
        alerts = strat(sysmon_df, active_rules())
        assert _shape(alerts.schema) == _shape(ALERT_SCHEMA)


def test_alert_count_equals_sum_of_rule_matches(sysmon_df, duck):
    total = 0
    for rule in active_rules():
        total += len(duck_match_uuids(duck, rule))
    alerts = apply_rules_single_pass(sysmon_df, active_rules())
    assert alerts.count() == total


def test_alert_content_one_rule(sysmon_df):
    rule = next(r for r in active_rules() if r.name == "Cmdkey Cached Credentials Recon")
    alerts = apply_rules_single_pass(sysmon_df, [rule])
    row = alerts.limit(1).collect()[0]
    assert row["event"]["kind"] == "signal"
    assert row["event"]["count"] == 1
    assert row["event"]["start"] == row["event"]["end"] == row["event"]["time"]
    assert row["event"]["module"] is None  # process-creation job has no module
    assert row["rule"]["name"] == rule.name
    assert row["rule"]["severity"] == 5
    assert row["rule"]["version"] == "1.0"
    assert list(row["threat"]["technique"]) == list(rule.technique)
    assert row["event"]["origin_ids"][0].startswith("uuid-")


def test_module_populated_for_process_access(sysmon_df):
    rule = next(r for r in active_rules() if r.module == "process_access")
    alerts = apply_rules_single_pass(sysmon_df, [rule])
    assert alerts.limit(1).collect()[0]["event"]["module"] == "process_access"


def test_null_event_data_never_crashes_or_matches(spark, sysmon_df):
    # ignore-parse-errors parity: rows with null event_data flow through filters
    nulls = sysmon_df.filter(F.col("event_data").isNull())
    assert nulls.count() > 0
    rules = [r for r in active_rules() if r.predicate_sql.startswith("event_id = 10") is False or True]
    alerts = apply_rules_single_pass(nulls, active_rules())
    assert alerts.count() == 0


def test_mitre_coverage_matrix(spark):
    """The ATT&CK coverage map: every (tactic, technique) pair tagged on
    any registry rule appears exactly once, enabled/disabled are counted
    separately (paper-only coverage visible), and untagged rules land
    under '(untagged)' instead of dropping."""
    from dagger_spark.rules.builtin import REFERENCE_RULES
    from dagger_spark.rules.spec import RuleSpec, mitre_coverage

    rows = mitre_coverage(spark, REFERENCE_RULES).collect()
    key = {(r["tactic"], r["technique"]): r for r in rows}
    assert len(key) == len(rows)  # one row per pair
    n_en = sum(r["n_enabled"] for r in rows)
    n_dis = sum(r["n_disabled"] for r in rows)
    assert n_en > 0 and n_dis > 0  # registry has both
    # cross-check one concrete rule's tags land where they should
    tagged = [r for r in REFERENCE_RULES if r.tactic and r.technique][0]
    ta = tagged.tactic[0].strip()
    te = tagged.technique[0].strip()
    assert tagged.name in key[(ta, te)]["rules"]
    # untagged handling: a rule with no tags shows up under (untagged)
    extra = RuleSpec(name="untagged-probe", predicate_sql="event_id = 1")
    rows2 = mitre_coverage(spark, list(REFERENCE_RULES) + [extra]).collect()
    k2 = {(r["tactic"], r["technique"]): r for r in rows2}
    assert "untagged-probe" in k2[("(untagged)", "(untagged)")]["rules"]


def _py4j_round_trips(spark, build) -> int:
    """Driver->JVM round trips this thread makes while ``build()`` runs:
    gateway ``send_command`` calls, minus memory commands (py4j sends those
    when Python garbage-collects a JVM reference, so their number depends on
    GC timing)."""
    import threading

    from py4j.protocol import MEMORY_COMMAND_NAME

    client = spark.sparkContext._gateway._gateway_client
    orig = client.send_command
    me = threading.get_ident()
    n = 0

    def counted(command, *a, **kw):
        nonlocal n
        if threading.get_ident() == me and not command.startswith(MEMORY_COMMAND_NAME):
            n += 1
        return orig(command, *a, **kw)

    client.send_command = counted
    try:
        build()
    finally:
        client.send_command = orig
    return n


def test_single_pass_build_cost_is_independent_of_rule_count(spark, sysmon_df):
    """Deterministic driver-cost gauge: the match array and the metadata
    array are each one ``F.expr`` of SQL text, so building the single-pass
    plan costs the same py4j round trips for 5 rules as for 25."""
    rules = active_rules()
    assert len(rules) >= 25
    apply_rules_single_pass(sysmon_df, rules)  # warm one-time lookups
    five = _py4j_round_trips(spark, lambda: apply_rules_single_pass(sysmon_df, rules[:5]))
    all_ = _py4j_round_trips(spark, lambda: apply_rules_single_pass(sysmon_df, rules))
    assert five == all_, (five, all_)
    assert all_ <= 150, all_


def test_session_turns_off_call_site_capture(spark):
    """``get_spark`` turns PySpark's DataFrame call-site capture off, so a
    ``functions``/``Column`` call is its own JVM call plus a few, not a
    stack capture and origin set/clear around each one."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    F.col("a").alias("b")  # warm one-time lookups
    n = _py4j_round_trips(spark, lambda: F.col("a").alias("b"))
    assert n <= 8, n
