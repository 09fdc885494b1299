"""Per-layer probes for traced runs.

A traced run reports every per-layer metric.  The workload's own window
supplies the layers it exercises (stream progress for the stream workloads,
the construct/plan/exec split for the catalog).  This module measures the
rest after the window, on seeded inputs of the same run, by calling each
layer's public function directly:

* ``sources.load_tables`` once over the run's sf0.01 tables;
* ``parse_json_events``, ``apply_rules_single_pass``,
  ``apply_timeframe_rules`` and ``kafka_alert_payload`` on the run's wire
  files, each written to the ``noop`` sink from a cached copy of its input;
* one drain of a seeded backlog through the unioned stateful job, whose
  alerts are checked against the batch engine;
* a short catalog pass (``PROBE_MIX``) when the window ran no catalog.
"""

from __future__ import annotations

import time

import common
import streams
import tables
import wire

PROBE_MIX = ["q1_pricing_summary", "skew_salted_join", "tfidf_top_terms"]
PROBE_REPS = 3


def _noop_s(df) -> float:
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


def _median_noop(make) -> float:
    return common.median([_noop_s(make()) for _ in range(PROBE_REPS)])


def rules_build_cold(spark, counter) -> dict:
    """First ``build_alert_stream`` in a fresh session (plan construction
    only, over an empty wire relation)."""
    from dagger_spark.sources.kafka import kafka_events_from_records
    from dagger_spark.streaming.job import build_alert_stream

    records = spark.createDataFrame([], wire.spark_schema())
    n0 = counter.n
    t = time.perf_counter()
    build_alert_stream(kafka_events_from_records(records), streams.union_rules())
    return {"rules.build_cold_s": time.perf_counter() - t,
            "rules.build_cold_py4j": counter.n - n0}


def load_tables(spark, sf: str, counter, group: str = "probe-load-tables") -> dict:
    from dagger_spark.sources.files import load_tables as lt

    spark.sparkContext.setJobGroup(group, "load_tables")
    n0 = counter.n
    t = time.perf_counter()
    lt(spark, sf)
    ms = (time.perf_counter() - t) * 1000.0
    n1 = counter.n
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    return {"sources.load_tables_ms": ms,
            "sources.load_tables_jobs": common.group_jobs(spark, group)["jobs"],
            "sources.load_tables_py4j": n1 - n0}


def busy_times(spark, src: str) -> dict:
    """Busy time of each stage on the run's wire files.  Each layer reads its
    input from a cached copy of the upstream layer's output, so its time
    excludes the layers before it."""
    from dagger_spark.rules.engine import apply_rules_single_pass
    from dagger_spark.rules.timeframe import apply_timeframe_rules
    from dagger_spark.sources.files import parse_json_events
    from dagger_spark.sources.kafka import kafka_alert_payload

    records = spark.read.schema(wire.spark_schema()).parquet(src).cache()
    records.count()
    parsed = parse_json_events(records, "value", "timestamp")
    out = {"sources.parse_busy_s": _median_noop(lambda: parsed)}
    parsed = parsed.cache()
    parsed.count()
    alerts = apply_rules_single_pass(parsed, streams.stateless_rules())
    out["rules.eval_busy_s"] = _median_noop(lambda: alerts)
    out["rules.timeframe_busy_s"] = _median_noop(
        lambda: apply_timeframe_rules(parsed, [streams.timeframe_rule()]))
    alerts = alerts.cache()
    alerts.count()
    out["sink.payload_busy_s"] = _median_noop(lambda: kafka_alert_payload(alerts))
    for df in (alerts, parsed, records):
        df.unpersist()
    return out


def catalog_pass(spark, sf: str, ctx) -> dict:
    import catalog

    return catalog.pass_metrics(catalog.run_pass(spark, PROBE_MIX, sf, ctx))


def state_drain(spark, ctx, src: str) -> tuple:
    """One drain of ``src`` through the unioned stateful job, with the
    progress listener on: (progress metrics, sink directory, final
    watermark)."""
    records: list = []
    listener = common.make_progress_listener(records)
    spark.streams.addListener(listener)
    try:
        sink, _ck, wm = streams.drain(spark, src, streams.union_rules(), ctx.run,
                                      streams.BACKLOG_FILES_PER_TRIGGER)
        time.sleep(1.0)  # progress events arrive asynchronously
    finally:
        spark.streams.removeListener(listener)
    events = streams.BACKLOG_FILES * streams.BACKLOG_PER_FILE
    return common.progress_metrics(records, events), sink, wm


def probe_wire(ctx) -> tuple:
    """The seeded backlog ``state_drain`` reads, and the p99 time to write
    one of its files, in ms."""
    src = ctx.run.fresh("probe-wire")
    ms = wire.write_backlog(src, ctx.seed, streams.BACKLOG_FILES, streams.BACKLOG_PER_FILE,
                            streams.BASE_US, streams.BACKLOG_EVENT_RATE)
    return src, common.percentile(ms, 99)


def fill(spark, ctx, have: dict, wire_src, sf) -> tuple:
    """Every per-layer metric the window did not supply, measured here, and
    the correctness check of the probe drain as (attempted, failed, first
    mismatches).  Neither workload's window runs the state store, so the
    drain of the unioned job always runs; its stream numbers count only when
    the window ran no stream.  Its alerts are compared with the batch
    engine's; timeframe windows count only when they closed before the
    drain's final watermark."""
    out = {}
    sf = sf or tables.write(ctx.run.fresh("probe-sf"), ctx.seed)
    out.update(load_tables(spark, sf, ctx.py4j))
    src, lag = probe_wire(ctx)
    if wire_src is None:
        wire_src = src
        out["gen.lag_ms_p99"] = lag
        out["gen.events"] = streams.BACKLOG_FILES * streams.BACKLOG_PER_FILE
        out["streaming.backlog_events_end"] = 0
    rules = streams.union_rules()
    drained, sink, wm = state_drain(spark, ctx, src)
    out.update({k: v for k, v in drained.items()
                if k.startswith("state.") or k not in have})
    mism = streams.compare(spark, sink, streams.reference(spark, src, rules, wm), wm)
    check = (streams.BACKLOG_FILES * streams.BACKLOG_PER_FILE,
             len({k[0] if len(k) == 2 else k for k, _g, _w in mism}), mism[:5])
    out.update(busy_times(spark, wire_src))
    if "catalog.construct_ms_p50" not in have:
        out.update(catalog_pass(spark, sf, ctx))
    return out, check
