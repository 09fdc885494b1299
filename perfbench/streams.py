"""The stream side of the benchmark.

``live_detect`` (open loop): the reference job — Kafka-wire files ->
``kafka_events_from_records`` (5 s watermark) -> ``build_alert_stream`` over
the 25 stateless rules -> ``kafka_alert_payload`` -> parquet file sink, with
the default trigger.  A separate generator process writes input files on a
fixed schedule; latency runs from each event's due time to the commit of the
sink batch that read it.  Every alert is checked against the batch engine
run over the same events.

The production unioned job (the 25 stateless rules plus one timeframe rule,
so the Python state worker and the state store run) drains a pre-written
backlog with ``availableNow`` in the per-layer probe of traced runs
(``probe.state_drain``).
"""

from __future__ import annotations

import dataclasses
import glob
import json
import os
import subprocess
import sys
import time
from collections import Counter
from datetime import datetime, timezone

import numpy as np

import common
import wire

WATERMARK = "5 seconds"

# live_detect offered load: 4,000 events/s, one file per 50 ms.  On a 4-core
# box the per-batch time at this rate is within 10% of the time at
# 1,000 events/s (README.md), so the rate sits well below the knee and the
# latency reflects per-batch cost, not queueing.
LIVE_RATE = 4000
LIVE_INTERVAL_MS = 50

# Backlog drained by the unioned job in traced runs: 6 time-ordered files of
# 10,000 events, 2 files per trigger -> 3 data batches of 20,000 events
# (40,000 input rows: both union branches scan the source) and the final
# no-data batch that closes windows.
BACKLOG_FILES = 6
BACKLOG_PER_FILE = 10_000
BACKLOG_FILES_PER_TRIGGER = 2
BACKLOG_EVENT_RATE = 500  # event-time spacing: 500 events per event-time second
BASE_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z

# Warm-up: 10 micro-batches of 4,000 events, the size of a live batch.  After
# a single warm-up batch the first ~7 live batches ran at 1.7-2.1 s instead of
# ~0.9 s (JIT still compiling), which moved latency_p50_ms by 20% between runs.
WARM_FILES = 10
WARM_PER_FILE = 4000

TIMEFRAME_SECONDS = 60


def stateless_rules():
    from dagger_spark.rules.builtin import active_rules

    return [r for r in active_rules() if r.enabled and not r.timeframe_seconds]


def timeframe_rule():
    """One count rule derived from an active rule: >= 3 matches per host in a
    60 s tumbling window.  The program's active rules hold no timeframe rule,
    and Spark allows one ``applyInPandasWithState`` per query."""
    base = next(r for r in stateless_rules()
                if r.name == "Direct Syscall of NtOpenProcess")
    return dataclasses.replace(
        base, name=base.name + " (burst)", timeframe_seconds=TIMEFRAME_SECONDS,
        timeframe_min_count=3,
    )


def union_rules():
    return stateless_rules() + [timeframe_rule()]


def build_query(spark, src: str, rules, sink: str, ck: str, trigger=None,
                files_per_trigger=None):
    """The job under test, started against a parquet file sink."""
    from dagger_spark.sources.kafka import kafka_alert_payload, kafka_events_from_records
    from dagger_spark.streaming.job import build_alert_stream

    reader = spark.readStream.schema(wire.spark_schema())
    if files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", files_per_trigger)
    events = kafka_events_from_records(reader.parquet(src), WATERMARK)
    payload = kafka_alert_payload(build_alert_stream(events, rules))
    w = (payload.writeStream.format("parquet").option("path", sink)
         .option("checkpointLocation", ck).outputMode("append"))
    if trigger is not None:
        w = w.trigger(**trigger)
    return w.start()


def drain(spark, src: str, rules, run, files_per_trigger=None):
    """Run the job with ``availableNow`` until the input is consumed."""
    sink, ck = run.fresh("sink"), run.fresh("ck")
    q = build_query(spark, src, rules, sink, ck, trigger={"availableNow": True},
                    files_per_trigger=files_per_trigger)
    q.awaitTermination(150)
    if q.isActive:
        q.stop()
        raise RuntimeError("availableNow drain did not finish in 150 s")
    wm = q.lastProgress["eventTime"].get("watermark") if q.lastProgress else None
    return sink, ck, wm


# ---------------------------------------------------------------------------
# reading a finished run back from its checkpoint and sink logs
# ---------------------------------------------------------------------------


def _log_entries(directory: str) -> dict:
    """batchId -> (mtime, [entries]) from a metadata log directory (plain
    ``N`` files and compacted ``N.compact`` files)."""
    out = {}
    for p in glob.glob(os.path.join(directory, "*")):
        stem = os.path.basename(p).split(".")[0]
        if not stem.isdigit():
            continue
        with open(p) as f:
            lines = f.read().splitlines()[1:]
        out[int(stem)] = (os.path.getmtime(p), [json.loads(x) for x in lines if x])
    return out


def file_batches(ck: str) -> dict:
    """input file basename -> the micro-batch that read it."""
    out = {}
    for _mt, entries in _log_entries(os.path.join(ck, "sources", "0")).values():
        for e in entries:
            out.setdefault(os.path.basename(e["path"]), e["batchId"])
    return out


def commit_times(sink: str) -> dict:
    """batchId -> the moment its alerts became visible (sink log mtime)."""
    return {b: mt for b, (mt, _e) in _log_entries(os.path.join(sink, "_spark_metadata")).items()}


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).astimezone(timezone.utc).timestamp()


def alert_keys(df, timeframe_closed_before=None):
    """(stateless, timeframe) alert multisets from a DataFrame of JSON
    payloads.  Stateless alerts key on (uuid, rule name); timeframe alerts on
    (rule name, host, first, last, count), kept only when their window closed
    before the given watermark."""
    from pyspark.sql import functions as F

    j = lambda p: F.get_json_object("value", p)  # noqa: E731
    rows = df.select(
        j("$.rule.name").alias("rule"), j("$.event.count").alias("cnt"),
        j("$.event.origin_ids[0]").alias("uuid"), j("$.host").alias("host"),
        j("$.event.start").alias("start"), j("$.event.end").alias("end"),
    ).collect()
    tf_name = timeframe_rule().name
    stateless, tf = Counter(), Counter()
    for r in rows:
        if r["rule"] != tf_name:
            stateless[(r["uuid"], r["rule"])] += 1
            continue
        if timeframe_closed_before is not None:
            w_end = (_epoch(r["start"]) // TIMEFRAME_SECONDS + 1) * TIMEFRAME_SECONDS
            if w_end >= _epoch(timeframe_closed_before):
                continue
        tf[(r["rule"], r["host"], r["start"], r["end"], r["cnt"])] += 1
    return stateless, tf


def reference(spark, src: str, rules, watermark=None):
    """Alert multisets of the batch engine over the same wire files."""
    from dagger_spark.sources.kafka import kafka_alert_payload, kafka_events_from_records
    from dagger_spark.streaming.job import build_alert_stream

    records = spark.read.schema(wire.spark_schema()).parquet(src)
    payload = kafka_alert_payload(build_alert_stream(kafka_events_from_records(records), rules))
    return alert_keys(payload, watermark)


def compare(spark, sink: str, ref, watermark=None) -> list:
    """Mismatched alert keys as (key, got, want)."""
    got = alert_keys(spark.read.parquet(sink), watermark)
    out = []
    for g, w in zip(got, ref):
        for k in set(g) | set(w):
            if g.get(k, 0) != w.get(k, 0):
                out.append((k, g.get(k, 0), w.get(k, 0)))
    return sorted(out, key=str)


def write_warm_input(run, seed: int) -> str:
    """The warm-up input: WARM_FILES seeded wire files."""
    src = run.fresh("warm-src")
    pool = wire.event_pool(seed)
    for k in range(WARM_FILES):
        wire.write_file(src, f"part-{k:05d}.parquet", pool, seed, k * WARM_PER_FILE,
                        WARM_PER_FILE, lambda i: BASE_US + i * 2000)
    return src


# ---------------------------------------------------------------------------
# live_detect
# ---------------------------------------------------------------------------


class LiveDetect:
    tail_q = 99

    def __init__(self, ctx):
        self.ctx = ctx
        self.rules = stateless_rules()

    def fixtures(self, spark) -> None:
        self.warm_src = write_warm_input(self.ctx.run, self.ctx.seed)

    def warm_up(self, spark) -> None:
        """The live job over the warm-up input, one file per micro-batch."""
        drain(spark, self.warm_src, self.rules, self.ctx.run, files_per_trigger=1)

    def window(self, spark) -> dict:
        ctx, run = self.ctx, self.ctx.run
        src, sink, ck = run.fresh("live-src"), run.fresh("live-sink"), run.fresh("live-ck")
        gen_log = src + "-gen.json"
        q = build_query(spark, src, self.rules, sink, ck)
        t0 = time.time() + 1.0
        gen = subprocess.Popen(
            [sys.executable, os.path.join(common.BENCH_DIR, "wire.py"), src,
             str(ctx.seed), str(LIVE_RATE), str(LIVE_INTERVAL_MS), str(ctx.seconds),
             repr(t0), gen_log]
        )
        try:
            gen.wait(timeout=ctx.seconds + 60)
        finally:
            if gen.poll() is None:
                gen.kill()
                gen.wait()
        try:
            if gen.returncode != 0:
                raise RuntimeError(f"generator exited with {gen.returncode}")
            q.processAllAvailable()
        finally:
            q.stop()
        with open(gen_log) as f:
            glog = json.load(f)
        per_file, files = glog["per_file"], glog["files"]
        n = per_file * len(files)
        fb, ct = file_batches(ck), commit_times(sink)

        # per-event latency: due time -> commit of the batch that read its file
        due = t0 + np.arange(n) / LIVE_RATE
        visible = np.full(n, np.nan)
        for k in range(len(files)):
            b = fb.get(f"part-{k:05d}.parquet")
            if b is not None and b in ct:
                visible[k * per_file:(k + 1) * per_file] = ct[b]
        done = ~np.isnan(visible)
        t_end = t0 + ctx.seconds
        return {
            "src": src, "sink": sink, "events": n, "unprocessed": int(np.sum(~done)),
            "latency_ms": ((visible[done] - due[done]) * 1000.0).tolist(),
            "throughput_per_s": float(np.sum(done)) / (max(ct.values()) - t0),
            "layers": {
                "gen.events": n,
                "gen.lag_ms_p99": common.percentile([(w - d) * 1000.0 for _k, d, w in files], 99),
                "streaming.backlog_events_end": int(
                    sum(per_file for _k, _d, w in files if w <= t_end)
                    - np.sum(visible[done] <= t_end)
                ),
            },
        }

    def check(self, spark, res: dict) -> tuple:
        """(attempted, failed, first mismatches): an event fails when it was
        never processed or its alerts differ from the batch engine's."""
        mism = compare(spark, res["sink"], reference(spark, res["src"], self.rules))
        bad = {k[0] for k, _g, _w in mism}
        return res["events"], len(bad) + res["unprocessed"], mism[:5]
