"""Structured Streaming parity tests: file-source replay of the sysmon
fixtures through the SAME rule pipeline as batch (SURVEY.md §5.4).

Kafka itself isn't available in this container; the file stream exercises the
identical transformation DAG (source -> watermark -> single-pass rules union
timeframe agg -> sink).
"""

import shutil
import time
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from dagger_spark.rules.builtin import active_rules
from dagger_spark.rules.engine import apply_rules_single_pass
from dagger_spark.schemas import SYSMON_EVENT_SCHEMA
from dagger_spark.sigma import compile_sigma
from dagger_spark.streaming import build_alert_stream, file_stream_events, run_to_memory


def _await(query):
    query.processAllAvailable()


def test_stateless_stream_equals_batch(spark, sysmon_path, tmp_path):
    src = tmp_path / "stream_src"
    src.mkdir()
    shutil.copy(sysmon_path, src / "part-000.parquet")

    events = file_stream_events(spark, str(src))
    alerts = build_alert_stream(events, active_rules())
    q = run_to_memory(alerts, "stream_alerts", str(tmp_path / "ckpt"))
    try:
        _await(q)
        stream_rows = {
            (r["rule"]["name"], r["event"]["origin_ids"][0])
            for r in spark.sql("SELECT * FROM stream_alerts").collect()
        }
    finally:
        q.stop()

    batch = apply_rules_single_pass(spark.read.parquet(sysmon_path), active_rules())
    batch_rows = {(r["rule"]["name"], r["event"]["origin_ids"][0]) for r in batch.collect()}
    assert stream_rows == batch_rows
    assert len(stream_rows) > 0


def test_stateless_stream_runs_one_job_per_micro_batch(spark, sysmon_path, tmp_path):
    """The single-pass engine adds no Spark job of its own: every data
    micro-batch is exactly one job (the sink's), so per-batch fixed cost
    stays one job's worth.  Deterministic gauge — a join against a metadata
    DataFrame shows up here as a second (broadcast) job per batch."""
    from dagger_spark.sources.kafka import kafka_alert_payload

    src = tmp_path / "jobs_src"
    spark.read.parquet(sysmon_path).repartition(3).write.parquet(str(src))
    n_files = len(list(src.glob("part-*.parquet")))

    events = file_stream_events(spark, str(src), max_files_per_trigger=1)
    q = (
        build_alert_stream(events, active_rules())
        .writeStream.format("memory").queryName("jobs_alerts")
        .option("checkpointLocation", str(tmp_path / "jobs_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    data_batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(data_batches) == n_files
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    assert len(jobs) == len(data_batches)

    def payloads(df):
        return sorted(r.value for r in kafka_alert_payload(df).collect())

    batch = apply_rules_single_pass(spark.read.parquet(sysmon_path), active_rules())
    assert payloads(spark.table("jobs_alerts")) == payloads(batch)


def _tf_rule():
    return compile_sigma({
        "title": "Burst", "author": "t", "description": "d", "level": "high",
        "logsource": {"category": "process_access"},
        "detection": {
            "sel": {"TargetImage|endswith": "\\lsass.exe"},
            "timeframe": "60s",
            "condition": "sel | count() >= 3",
        },
    })


def _ev_rows(spec_rows):
    base = datetime(2024, 1, 1)
    rows = []
    for i, (host, off) in enumerate(spec_rows):
        ed = {f.name: None for f in SYSMON_EVENT_SCHEMA["event_data"].dataType.fields}
        ed["TargetImage"] = "C:\\Windows\\System32\\lsass.exe"
        rows.append(("CN", 10, host, ed, f"s-{i:03d}", base + timedelta(seconds=off)))
    return rows


def test_windowed_rule_streaming_with_late_data(spark, tmp_path):
    """Append-mode windowed agg: a window emits once the watermark passes its
    end; an event later than the 5 s watermark is dropped from the count."""
    src = tmp_path / "tf_src"
    src.mkdir()
    rule = _tf_rule()

    # batch 1: 3 hits for hostA inside [0,60) + a row at t=200 to push the
    # watermark past 60+5 so the window can emit
    b1 = _ev_rows([("hostA", 1), ("hostA", 10), ("hostA", 30), ("push", 200)])
    spark.createDataFrame(b1, SYSMON_EVENT_SCHEMA).coalesce(1).write.parquet(str(src / "b1"))

    events = file_stream_events(spark, str(src) + "/*", watermark="5 seconds")
    alerts = build_alert_stream(events, [rule])
    q = run_to_memory(alerts, "tf_alerts", str(tmp_path / "tf_ckpt"))
    try:
        _await(q)
        # batch 2: a LATE hostA row inside [0,60) (watermark already at ~195)
        # must NOT change the emitted count; plus more rows to advance time
        b2 = _ev_rows([("hostA", 45), ("push", 400)])
        spark.createDataFrame(b2, SYSMON_EVENT_SCHEMA).coalesce(1).write.parquet(str(src / "b2"))
        _await(q)
        rows = spark.sql("SELECT * FROM tf_alerts").collect()
    finally:
        q.stop()

    burst = [r for r in rows if r["host"] == "hostA"]
    assert len(burst) == 1
    assert burst[0]["event"]["count"] == 3  # late arrival dropped by watermark
    assert sorted(burst[0]["event"]["origin_ids"]) == ["s-000", "s-001", "s-002"]


def test_combined_stateless_and_windowed_stream(spark, tmp_path):
    """One unioned query carrying both stateless and windowed alerts."""
    src = tmp_path / "mix_src"
    src.mkdir()
    rule_tf = _tf_rule()
    stateless = [r for r in active_rules() if r.name == "Direct Syscall of NtOpenProcess"]

    rows = _ev_rows([("hostA", 1), ("hostA", 2), ("hostA", 3), ("push", 500)])
    # make the first row also match the stateless rule (CallTrace startswith UNKNOWN)
    ed = dict(rows[0][3]); ed["CallTrace"] = "UNKNOWN(1234)"
    rows[0] = rows[0][:3] + (ed,) + rows[0][4:]
    spark.createDataFrame(rows, SYSMON_EVENT_SCHEMA).coalesce(1).write.parquet(str(src / "b1"))

    events = file_stream_events(spark, str(src) + "/*", watermark="5 seconds")
    alerts = build_alert_stream(events, stateless + [rule_tf])
    q = run_to_memory(alerts, "mix_alerts", str(tmp_path / "mix_ckpt"))
    try:
        _await(q)
        names = [r["rule"]["name"] for r in spark.sql("SELECT * FROM mix_alerts").collect()]
    finally:
        q.stop()
    assert "Direct Syscall of NtOpenProcess" in names
    assert "Burst" in names


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Duplicate uuids inside the watermark are dropped on the stream path."""
    from dagger_spark.streaming.job import dedup_events

    src = tmp_path / "dd_src"
    src.mkdir()
    rows = _ev_rows([("hostA", 1), ("hostA", 2), ("push", 400)])
    dup = rows[0]
    rows.append(dup)  # same uuid s-000 twice
    spark.createDataFrame(rows, SYSMON_EVENT_SCHEMA).coalesce(1).write.parquet(str(src / "b1"))

    events = file_stream_events(spark, str(src) + "/*", watermark="5 seconds")
    deduped = dedup_events(events)
    q = (
        deduped.writeStream.format("memory").queryName("dd_out")
        .option("checkpointLocation", str(tmp_path / "dd_ckpt"))
        .outputMode("append").start()
    )
    try:
        _await(q)
        uuids = [r["uuid"] for r in spark.sql("SELECT uuid FROM dd_out").collect()]
    finally:
        q.stop()
    assert sorted(uuids) == ["s-000", "s-001", "s-002"]

    # batch path: same operator, same answer
    batch = dedup_events(spark.read.parquet(str(src / "b1")))
    assert batch.count() == 3


def test_foreach_batch_sink(spark, tmp_path):
    from dagger_spark.streaming.job import run_foreach_batch

    src = tmp_path / "fb_src"
    src.mkdir()
    rows = _ev_rows([("hostA", 1)])
    ed = dict(rows[0][3]); ed["CallTrace"] = "UNKNOWN(1)"
    rows[0] = rows[0][:3] + (ed,) + rows[0][4:]
    spark.createDataFrame(rows, SYSMON_EVENT_SCHEMA).coalesce(1).write.parquet(str(src / "b1"))

    events = file_stream_events(spark, str(src) + "/*", watermark="5 seconds")
    stateless = [r for r in active_rules() if r.name == "Direct Syscall of NtOpenProcess"]
    alerts = build_alert_stream(events, stateless)

    seen = []
    q = run_foreach_batch(
        alerts, lambda df, epoch: seen.append((epoch, df.count())), str(tmp_path / "fb_ckpt")
    )
    try:
        _await(q)
    finally:
        q.stop()
    assert sum(n for _, n in seen) == 1


def test_rocksdb_state_store_posture(spark, tmp_path):
    """configure_state_store lands the RocksDB provider + changelog
    checkpointing confs, and a STATEFUL streaming query (timeframe rule)
    actually runs under RocksDB — progress metrics report rocksdb state
    stores, alerts unchanged vs the default provider."""
    from dagger_spark.rules.timeframe import apply_timeframe_rule
    from dagger_spark.streaming.job import ROCKSDB_PROVIDER, configure_state_store

    key = "spark.sql.streaming.stateStore.providerClass"
    orig = spark.conf.get(key, None)
    rows = _ev_rows([("hostA", 1), ("hostA", 5), ("hostA", 20), ("push", 600)])
    det = {"sel": {"TargetImage|endswith": "\\lsass.exe"},
           "timeframe": "60s", "condition": "sel | count() >= 3"}
    rule = compile_sigma({
        "title": "RB", "author": "t", "description": "d", "level": "high",
        "logsource": {"category": "process_access"}, "detection": det,
    })
    src = tmp_path / "rdb_src"
    src.mkdir()
    spark.createDataFrame(rows, SYSMON_EVENT_SCHEMA).coalesce(1).write.parquet(
        str(src / "b1")
    )
    try:
        conf = configure_state_store(spark, "rocksdb", bounded_memory_mb=256)
        assert spark.conf.get(key) == ROCKSDB_PROVIDER
        assert (
            spark.conf.get(
                "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
            )
            == "true"
        )
        assert conf["spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB"] == "256"
        events = file_stream_events(spark, str(src) + "/*", watermark="5 seconds")
        alerts = apply_timeframe_rule(events, rule)
        q = run_to_memory(alerts, "rdb_alerts", str(tmp_path / "rdb_ckpt"))
        try:
            _await(q)
            got = spark.sql("SELECT * FROM rdb_alerts").collect()
            prog = q.lastProgress
        finally:
            q.stop()
        assert len(got) == 1 and got[0]["event"]["count"] == 3
        ops = prog["stateOperators"]
        assert ops and any(
            "rocksdb" in str(op.get("customMetrics", {})).lower() for op in ops
        ), ops
    finally:
        if orig is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, orig)
        spark.conf.unset(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
        )
        spark.conf.unset("spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage")
        spark.conf.unset("spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB")


def test_checkpoint_recovery_no_duplicates_no_loss(spark, tmp_path):
    """T5 checkpointed delivery, demonstrated rather than assumed: process
    batch 1, STOP the query, land batch 2, restart from the SAME
    checkpoint — the union of emitted alerts equals the batch run over all
    events, with no re-emission of batch-1 alerts after recovery."""
    src = tmp_path / "rec_src"
    src.mkdir()
    rows1 = _ev_rows([("hostA", 1)])
    ed = dict(rows1[0][3]); ed["CallTrace"] = "UNKNOWN(1)"
    rows1[0] = rows1[0][:3] + (ed,) + rows1[0][4:]
    rows2 = _ev_rows([("hostB", 2)])
    ed2 = dict(rows2[0][3]); ed2["CallTrace"] = "UNKNOWN(2)"
    rows2[0] = rows2[0][:3] + (ed2,) + rows2[0][4:]
    # distinct uuids across the two files
    rows2[0] = rows2[0][:4] + ("s-101",) + rows2[0][5:]

    spark.createDataFrame(rows1, SYSMON_EVENT_SCHEMA).coalesce(1).write.parquet(
        str(src / "b1")
    )
    ckpt = str(tmp_path / "rec_ckpt")
    stateless = [r for r in active_rules()
                 if r.name == "Direct Syscall of NtOpenProcess"]

    emitted = []

    def sink(df, epoch):
        emitted.extend(
            (epoch, r["event"]["origin_ids"][0]) for r in df.collect()
        )

    def start():
        events = file_stream_events(spark, str(src) + "/*", watermark="5 seconds")
        return (
            build_alert_stream(events, stateless)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    q = start()
    try:
        _await(q)
    finally:
        q.stop()
    after_first = [u for _, u in emitted]
    assert after_first == ["s-000"]

    # land the second file while the query is DOWN, then recover
    spark.createDataFrame(rows2, SYSMON_EVENT_SCHEMA).coalesce(1).write.parquet(
        str(src / "b2")
    )
    q = start()
    try:
        _await(q)
    finally:
        q.stop()

    got = sorted(u for _, u in emitted)
    batch_events = spark.read.schema(SYSMON_EVENT_SCHEMA).parquet(str(src) + "/*")
    want = sorted(
        r["event"]["origin_ids"][0]
        for r in apply_rules_single_pass(batch_events, stateless).collect()
    )
    assert got == want == ["s-000", "s-101"]  # no loss, no duplicates


def test_docs_classifier_stream_equals_batch(spark, tmp_path, sf_dir):
    """The text-pipeline column expressions are execution-path-agnostic:
    the SAME classifier expressions run over a file stream of the documents
    table and over the batch read, row-for-row identical.  (Stateless ops
    need no watermark; append mode is exact.)"""
    import shutil

    from pyspark.sql import functions as F

    from dagger_spark.ops.text import (
        char_trigrams, classifier_weights, hashing_trick_logit,
    )

    src = tmp_path / "docs_stream"
    src.mkdir()
    shutil.copy(f"{sf_dir}/documents.parquet", str(src / "part-0.parquet"))
    schema = spark.read.parquet(str(src)).schema

    def classify(df):
        staged = df.select(
            "doc_id", char_trigrams(F.col("text")).alias("__tg")
        )
        return staged.select(
            "doc_id",
            hashing_trick_logit(F.col("__tg"), classifier_weights())
            .alias("logit_milli"),
        )

    q = (
        classify(spark.readStream.schema(schema).parquet(str(src)))
        .writeStream.format("memory").queryName("clf_out")
        .option("checkpointLocation", str(tmp_path / "clf_ckpt"))
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
        got = {
            r["doc_id"]: r["logit_milli"]
            for r in spark.sql("SELECT * FROM clf_out").collect()
        }
    finally:
        q.stop()
    want = {
        r["doc_id"]: r["logit_milli"]
        for r in classify(spark.read.parquet(str(src))).collect()
    }
    assert got == want and len(got) > 0


def test_session_window_stream_equals_batch(spark, tmp_path):
    """Streaming session_window aggregation (Spark's native gap-session
    operator) must agree with the batch evaluation: watermarked append
    mode only finalizes a session once the watermark passes its gap, so
    the replay appends ONE far-future sentinel event in the last file to
    push the global watermark past every real session — the standard
    close-out trick for bounded replays of an unbounded operator."""
    import glob
    import os
    import time
    from datetime import datetime, timedelta

    from pyspark.sql import Row
    from pyspark.sql import functions as F

    t0 = datetime(2024, 7, 1)
    rows, eid = [], 0
    for user in range(1, 6):
        # two sessions per user: a burst, a >30min quiet gap, a burst
        for burst_start in (0, 120):
            for i in range(4):
                rows.append(Row(
                    event_id=eid,
                    ts=t0 + timedelta(minutes=burst_start + user + i * 5),
                    user_id=user, event_type="click", value=1.0, props="{}"))
                eid += 1
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    df = spark.createDataFrame(rows, schema)

    def sessions(frame):
        return frame.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w")
        ).agg(F.count("*").alias("n")).select(
            "user_id", F.col("w.start").alias("start"),
            F.col("w.end").alias("end"), "n",
        )

    expected = {(r["user_id"], r["start"], r["end"], r["n"])
                for r in sessions(df).collect()}
    assert len(expected) == 10  # 2 sessions x 5 users

    src = str(tmp_path / "src")
    os.makedirs(src)
    half = len(rows) // 2
    sentinel = Row(event_id=999999, ts=t0 + timedelta(days=30),
                   user_id=-1, event_type="click", value=1.0, props="{}")
    spark.createDataFrame(rows[:half], schema) \
        .coalesce(1).write.parquet(src + "/f0")
    spark.createDataFrame(rows[half:] + [sentinel], schema) \
        .coalesce(1).write.parquet(src + "/f1")
    files = sorted(glob.glob(src + "/f*/part-*.parquet"))
    now = time.time() - 60
    for i, f in enumerate(files):
        os.utime(f, (now + 10 * i, now + 10 * i))

    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1).parquet(src + "/f*")
        .withWatermark("ts", "0 seconds")
    )
    q = (
        sessions(stream)
        .writeStream.format("memory").queryName("sess_stream")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {(r["user_id"], r["start"], r["end"], r["n"])
               for r in spark.sql(
                   "SELECT * FROM sess_stream WHERE user_id >= 0").collect()}
    finally:
        q.stop()
    assert got == expected


def test_session_pattern_match_stream_equals_batch(spark, tmp_path):
    """Streaming twin of events_pattern_match_sessions (round-5 verdict
    item 5): session_pattern_counts — session_window + ordered-initials
    regex count — replayed as a watermarked stream must equal (a) itself
    evaluated in batch AND (b) the catalog's gaps-and-islands SQL over the
    same rows (the form the driver verifies against DuckDB), tying the
    streaming operator to the driver-verified semantics."""
    import glob
    import os
    import time
    from datetime import datetime, timedelta

    from pyspark.sql import Row
    from dagger_spark.catalog import _pattern_sessions_sql
    from dagger_spark.streaming.sessions import session_pattern_counts

    t0 = datetime(2024, 7, 1)
    rows, eid = [], 0

    def sess(user, start_min, kinds):
        nonlocal eid
        names = {"v": "view", "c": "click", "p": "purchase"}
        for i, k in enumerate(kinds):
            rows.append(Row(
                event_id=eid,
                ts=t0 + timedelta(minutes=start_min + i),
                user_id=user, event_type=names[k], value=1.0, props="{}"))
            eid += 1

    sess(1, 0, "vccp")   # 1 match (vc*p)
    sess(1, 60, "vp")    # zero-click conversion: 1 match
    sess(2, 0, "pvc")    # no match -> session dropped
    sess(2, 90, "vcpvp") # 2 matches in one session
    sess(3, 5, "ppp")    # no match; user 3 emits nothing at all

    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    df = spark.createDataFrame(rows, schema)

    key = lambda r: (r["user_id"], r["n_events"], r["n_patterns"])
    batch = sorted(key(r) for r in session_pattern_counts(df).collect())
    assert batch == [(1, 2, 1), (1, 4, 1), (2, 5, 2)]

    # (b) the driver-verified catalog SQL over the same rows
    df.createOrReplaceTempView("events")
    catalog_rows = spark.sql(_pattern_sessions_sql(
        "string_agg(i, '') WITHIN GROUP (ORDER BY ts, event_id)",
        "size(regexp_extract_all(s, 'vc*p', 0))",
    )).collect()
    assert sorted(key(r) for r in catalog_rows) == batch

    # (a) streamed replay: two files + far-future sentinel to close the
    # last sessions past the watermark (the standard close-out trick)
    src = str(tmp_path / "sp_src")
    os.makedirs(src)
    half = len(rows) // 2
    sentinel = Row(event_id=999999, ts=t0 + timedelta(days=30),
                   user_id=-1, event_type="view", value=1.0, props="{}")
    spark.createDataFrame(rows[:half], schema) \
        .coalesce(1).write.parquet(src + "/f0")
    spark.createDataFrame(rows[half:] + [sentinel], schema) \
        .coalesce(1).write.parquet(src + "/f1")
    files = sorted(glob.glob(src + "/f*/part-*.parquet"))
    now = time.time() - 60
    for i, f in enumerate(files):
        os.utime(f, (now + 10 * i, now + 10 * i))

    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1).parquet(src + "/f*")
        .withWatermark("ts", "0 seconds")
    )
    q = (
        session_pattern_counts(stream)
        .writeStream.format("memory").queryName("sp_stream")
        .option("checkpointLocation", str(tmp_path / "sp_ck"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(key(r) for r in spark.sql(
            "SELECT * FROM sp_stream WHERE user_id >= 0").collect())
    finally:
        q.stop()
    assert got == batch


def test_dynamic_gap_session_window_stream_equals_batch(spark, tmp_path):
    """Dynamic per-event session gaps: an 'error' holds its session open
    60 minutes while clicks hold 30 — so u1's +40min follow-up lands in
    the SAME session only because the preceding event was an error
    (u2's identical timing with a click splits).  The same Column tree
    streams; sentinel close-out as in the static-gap test."""
    import glob
    import os
    import time
    from datetime import datetime, timedelta

    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from dagger_spark.streaming.sessions import dynamic_gap_sessions

    t0 = datetime(2024, 7, 1)
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")

    def ev(i, u, typ, minutes):
        return Row(event_id=i, ts=t0 + timedelta(minutes=minutes),
                   user_id=u, event_type=typ, value=1.0, props="{}")

    rows = [
        # u1: error then +40min click -> ONE session (error gap 60m)
        ev(1, 1, "error", 0), ev(2, 1, "click", 40),
        # u2: click then +40min click -> TWO sessions (click gap 30m)
        ev(3, 2, "click", 0), ev(4, 2, "click", 40),
        # u3: error, +55m click, +25m click -> ONE chained session
        ev(5, 3, "error", 0), ev(6, 3, "click", 55), ev(7, 3, "click", 80),
    ]
    df = spark.createDataFrame(rows, schema)
    GAPS = {"error": "60 minutes"}

    batch = {(r["user_id"], r["start"], r["end"], r["n_events"])
             for r in dynamic_gap_sessions(df, GAPS).collect()}
    per_user = {}
    for u, *_rest, n in sorted(batch):
        per_user.setdefault(u, []).append(n)
    assert per_user == {1: [2], 2: [1, 1], 3: [3]}

    src = str(tmp_path / "dynsess")
    os.makedirs(src)
    sentinel = Row(event_id=99, ts=t0 + timedelta(days=30), user_id=-1,
                   event_type="click", value=1.0, props="{}")
    spark.createDataFrame(rows[:4], schema).coalesce(1) \
        .write.parquet(src + "/f0")
    spark.createDataFrame(rows[4:] + [sentinel], schema).coalesce(1) \
        .write.parquet(src + "/f1")
    files = sorted(glob.glob(src + "/f*/part-*.parquet"))
    now = time.time() - 60
    for i, f in enumerate(files):
        os.utime(f, (now + 10 * i, now + 10 * i))
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1).parquet(src + "/f*")
        .withWatermark("ts", "0 seconds")
    )
    q = (
        dynamic_gap_sessions(stream, GAPS)
        .writeStream.format("memory").queryName("dyn_sess")
        .option("checkpointLocation", str(tmp_path / "ck_dyn"))
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
        got = {(r["user_id"], r["start"], r["end"], r["n_events"])
               for r in spark.sql(
                   "SELECT * FROM dyn_sess WHERE user_id >= 0").collect()}
    finally:
        q.stop()
    assert got == batch


def test_ohlc_bars_stream_equals_batch(spark, tmp_path):
    """min_by/max_by(cents, struct(ts,event_id)) must fold correctly in
    STREAMING window state (argmin-in-aggregate across micro-batches) —
    the streaming leg of catalog events_ohlc_bars.  Two chronological
    slices split several bars across the batch boundary; the sentinel
    closes the final window."""
    import glob
    import os
    import time

    from pyspark.sql import functions as F

    from dagger_spark.catalog import QUERIES
    from dagger_spark.sources.files import load_table

    sf_dir = "/root/testdata/sf0.001"
    expected = {
        (r["bar_hour"], r["event_type"]): (
            r["open_cents"], r["high_cents"], r["low_cents"],
            r["close_cents"], r["n_events"], r["sum_cents"])
        for r in QUERIES["events_ohlc_bars"].fn(spark, sf_dir).collect()
    }
    assert len(expected) > 100

    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp"))
    src = str(tmp_path / "ohlc_src")
    os.makedirs(src)
    bounds = sorted(r["ts"] for r in ev.select("ts").collect())
    cut = bounds[len(bounds) // 2]
    ev.filter(F.col("ts") < cut).coalesce(1).write.parquet(src + "/f0")
    late = ev.filter(F.col("ts") >= cut)
    sentinel = spark.createDataFrame(
        [(-1, None, -1, "view", 1.0, "{}")], ev.schema
    ).withColumn("ts", F.lit("2030-01-01 00:00:00").cast("timestamp"))
    late.unionByName(sentinel).coalesce(1).write.parquet(src + "/f1")
    files = sorted(glob.glob(src + "/f*/part-*.parquet"))
    now = time.time() - 60
    for i, f in enumerate(files):
        os.utime(f, (now + 10 * i, now + 10 * i))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(src + "/f*")
        .withWatermark("ts", "0 seconds")
    )
    bars = stream.groupBy(
        F.window("ts", "1 hour").alias("w"), F.col("event_type")
    ).agg(
        F.min_by(
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"),
            F.struct("ts", "event_id"),
        ).cast("long").alias("open_cents"),
        F.max(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
        .alias("high_cents"),
        F.min(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
        .alias("low_cents"),
        F.max_by(
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"),
            F.struct("ts", "event_id"),
        ).cast("long").alias("close_cents"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
        .cast("long").alias("sum_cents"),
    )
    q = (
        bars.select(F.col("w.start").alias("bar_hour"), "event_type",
                    "open_cents", "high_cents", "low_cents", "close_cents",
                    "n_events", "sum_cents")
        .writeStream.format("memory").queryName("ohlc_stream")
        .option("checkpointLocation", str(tmp_path / "ck_ohlc"))
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["bar_hour"], r["event_type"]): (
                r["open_cents"], r["high_cents"], r["low_cents"],
                r["close_cents"], r["n_events"], r["sum_cents"])
            for r in spark.sql(
                "SELECT * FROM ohlc_stream WHERE bar_hour < '2029-01-01'"
            ).collect()
        }
    finally:
        q.stop()
    assert got == expected


def test_available_now_trigger_backfill_equals_batch(spark, tmp_path):
    """Trigger.AvailableNow — the backfill/catch-up mode: process every
    file already present in bounded micro-batches, then STOP on its own
    (no manual stop; awaitTermination returns).  Totals equal the batch
    aggregate, and the query self-terminates."""
    import os

    from pyspark.sql import functions as F

    from dagger_spark.sources.files import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events") \
        .select("event_type", "value")
    src = str(tmp_path / "an_src")
    ev.repartition(4).write.parquet(src)
    truth = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n")).collect()
    }
    stream = spark.readStream.schema(ev.schema) \
        .option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
        .writeStream.format("memory").queryName("an_agg")
        .option("checkpointLocation", str(tmp_path / "an_ck"))
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)  # self-terminates after the backlog
    got = {r["event_type"]: r["n"]
           for r in spark.sql("SELECT * FROM an_agg").collect()}
    assert got == truth
