"""The deterministic gauges repeat exactly from one pass to the next.

py4j round trips, Spark jobs/stages/tasks, scan amplification and alert
counts carry the regression signal on a contended box only if a second
pass over the same input gives the same numbers.  Run from the checkout
root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys
from types import SimpleNamespace

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)
sys.path.insert(0, os.path.dirname(BENCH))

import catalog  # noqa: E402
import common  # noqa: E402
import probe  # noqa: E402
import tables  # noqa: E402

SEED = 5


@pytest.fixture(scope="module")
def env():
    run = common.RunDir("gauges", SEED)
    spark = common.start_session(common.confine_scratch(run))
    ctx = SimpleNamespace(tracing=True, tracer=common.Tracer(True),
                          py4j=common.Py4jCounter(spark), run=run, seed=SEED)
    try:
        yield spark, ctx
    finally:
        spark.stop()
        common.shutdown_jvm()
        run.close()


def test_catalog_gauges_repeat(env):
    spark, ctx = env
    sf = tables.write(ctx.run.fresh("sf"), SEED)
    catalog.run_pass(spark, catalog.MIX, sf, ctx)  # first calls fill per-session memos

    def gauges():
        return [(r["name"], r["construct_py4j"], r["construct_jobs"], r["exec"])
                for r in catalog.run_pass(spark, catalog.MIX, sf, ctx)]

    first, second = gauges(), gauges()
    assert first == second
    assert all(g[3]["jobs"] > 0 for g in first)


def test_load_tables_gauges_repeat(env):
    spark, ctx = env
    sf = tables.write(ctx.run.fresh("sf"), SEED)
    a = probe.load_tables(spark, sf, ctx.py4j, group="lt-a")
    b = probe.load_tables(spark, sf, ctx.py4j, group="lt-b")
    keys = ("sources.load_tables_jobs", "sources.load_tables_py4j")
    assert [a[k] for k in keys] == [b[k] for k in keys]
    assert a["sources.load_tables_jobs"] > 0


def test_stream_gauges_repeat(env):
    spark, ctx = env
    src, _lag = probe.probe_wire(ctx)
    keys = ("streaming.batches", "streaming.no_data_batches",
            "streaming.scan_amplification", "state.rows_updated_sum",
            "state.rows_total_end")
    runs = []
    for _ in range(2):
        m, sink, _wm = probe.state_drain(spark, ctx, src)
        runs.append([m[k] for k in keys] + [spark.read.parquet(sink).count()])
    assert runs[0] == runs[1]
    assert runs[0][2] == 2.0  # both union branches scan the source
