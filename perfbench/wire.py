"""Kafka-wire-shaped input files for the stream workloads.

Each file is a parquet file with the two columns the program's Kafka record
transformation reads (``kafka_events_from_records``): ``value`` (the sysmon
event as JSON bytes) and ``timestamp`` (the record time, used as event
time).  Events come from ``dagger_spark.fixtures.generate_sysmon_rows(seed)``
and are cycled; every event gets its own uuid, so alerts can be matched one
to one against the batch engine.

Run as a script this module is the open-loop load generator of
``live_detect``: one process, one thread, writing one file per interval on
a fixed schedule that does not slow down when the engine does.  Files are
written under a hidden name and renamed into place, so the file source never
lists a partial file.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq

POOL_ROWS = 4000

ARROW_SCHEMA = pa.schema(
    [pa.field("value", pa.binary()), pa.field("timestamp", pa.timestamp("us", tz="UTC"))]
)


def spark_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("value", T.BinaryType(), True),
            T.StructField("timestamp", T.TimestampType(), True),
        ]
    )


def event_pool(seed: int) -> list:
    """JSON templates with a ``%s`` slot for the uuid."""
    from dagger_spark.fixtures import generate_sysmon_rows

    out = []
    for row in generate_sysmon_rows(POOL_ROWS, seed):
        doc = {k: v for k, v in row.items() if k not in ("timestamp", "uuid")}
        body = json.dumps(doc).replace("%", "%%")
        out.append(body[:-1] + ', "uuid": "%s"}')
    return out


def uuid_of(seed: int, idx: int) -> str:
    return f"s{seed}-{idx:09d}"


def write_file(directory: str, name: str, pool: list, seed: int,
               first: int, count: int, ts_us) -> str:
    """Events ``first .. first+count-1``; ``ts_us(idx)`` gives each one's
    record time.  Written under a dot-name, then renamed into place."""
    idx = range(first, first + count)
    values = [(pool[i % len(pool)] % uuid_of(seed, i)).encode() for i in idx]
    stamps = [ts_us(i) for i in idx]
    table = pa.Table.from_arrays(
        [pa.array(values, pa.binary()), pa.array(stamps, pa.timestamp("us", tz="UTC"))],
        schema=ARROW_SCHEMA,
    )
    tmp = os.path.join(directory, f".{name}.tmp")
    final = os.path.join(directory, name)
    pq.write_table(table, tmp)
    os.rename(tmp, final)
    return final


def write_backlog(directory: str, seed: int, n_files: int, per_file: int,
                  base_us: int, events_per_s: int) -> list:
    """A time-ordered backlog: event ``i`` has record time
    ``base + i / events_per_s``.  Returns each file's write time in ms."""
    pool = event_pool(seed)
    step = 1_000_000 / events_per_s
    times = []
    for k in range(n_files):
        t = time.perf_counter()
        write_file(directory, f"part-{k:05d}.parquet", pool, seed, k * per_file,
                   per_file, lambda i: base_us + int(i * step))
        times.append((time.perf_counter() - t) * 1000.0)
    return times


def run_generator(directory: str, seed: int, rate: int, interval_ms: int,
                  seconds: float, t0: float, log_path: str) -> None:
    """Open loop: file ``k`` holds the events due in
    ``[t0 + k*interval, t0 + (k+1)*interval)`` and is written once that
    interval has passed.  Event ``i`` is due at ``t0 + i / rate``; that due
    time is also its record timestamp."""
    pool = event_pool(seed)
    interval = interval_ms / 1000.0
    per_file = int(round(rate * interval))
    n_files = int(round(seconds / interval))
    log = []
    for k in range(n_files):
        due = t0 + (k + 1) * interval
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        write_file(directory, f"part-{k:05d}.parquet", pool, seed, k * per_file,
                   per_file, lambda i: int((t0 + i / rate) * 1_000_000))
        log.append([k, due, time.time()])
    with open(log_path, "w") as f:
        json.dump({"per_file": per_file, "files": log}, f)


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    d, s, r, iv, secs, t0, lp = sys.argv[1:8]
    run_generator(d, int(s), int(r), int(iv), float(secs), float(t0), lp)
