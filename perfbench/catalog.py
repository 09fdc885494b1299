"""``catalog_interactive`` (closed loop, one analyst client): a fixed,
seeded order over a mix of catalog queries at sf0.01, each request being
``QUERIES[name].fn(spark, sf).collect()``.  The next request starts when the
previous one has returned its rows.

Every request's rows are checked against the query's DuckDB twin
(``oracle_sql``), normalised the way ``tools/check_catalog.py`` does.
"""

from __future__ import annotations

import os
import random
import sys
import time
import uuid

import common
import tables

# The mix spans the catalog's families; it favours short requests so that a
# 15 s window holds three passes, enough for a tail percentile.  It leaves
# out entries that build fixtures under /tmp (media, dedup_state_*,
# ann_ivf_sq8_*, z-order, bucketed, Zipf, sysmon_rules_correlated): their
# set-up cost depends on what an earlier run left behind, and the benchmark
# writes only inside its own run directory.
MIX = [
    # TPC-H SQL through _shared_sql (load_tables on every call)
    "q1_pricing_summary",
    # DataFrame TPC-H
    "skew_salted_join", "pivot_returnflag_qty",
    # events and rules
    "events_rules_engine", "events_burst_exact", "events_sigma_corr_counts",
    "asof_join_error_purchase",
    # text and dedup
    "exact_dedup_docs", "minhash_pairs_docs", "tfidf_top_terms",
    # ANN
    "ann_brute_force",
    # graph
    "triangle_count_docs",
]

TABLE_NAMES = ("region nation customer supplier part orders lineitem events "
               "documents embeddings").split()


def order(seed: int) -> list:
    names = list(MIX)
    random.Random(seed).shuffle(names)
    return names


def _normalize():
    sys.path.insert(0, os.path.join(common.ROOT, "tools"))
    from check_catalog import normalize

    return normalize


def run_request(spark, name: str, sf: str, i: int, ctx) -> dict:
    """One request; when tracing, split into construct / plan / collect, each
    under its own job group, with py4j round trips counted."""
    from dagger_spark.catalog import QUERIES

    fn = QUERIES[name].fn
    if not ctx.tracing:
        t = time.perf_counter()
        df = fn(spark, sf)
        rows = df.collect()
        return {"name": name, "ms": (time.perf_counter() - t) * 1000.0,
                "rows": rows, "schema": df.schema}
    sc, tr, p4 = spark.sparkContext, ctx.tracer, ctx.py4j
    gid = f"r{i}-{uuid.uuid4().hex[:12]}"  # unique even when passes reuse i
    with tr.span("request", request=i):
        t = time.perf_counter()
        sc.setJobGroup(f"{gid}-construct", name)
        n0 = p4.n
        with tr.span("catalog.construct", request=i):
            df = fn(spark, sf)
        t1 = time.perf_counter()
        n1 = p4.n
        sc.setJobGroup(f"{gid}-plan", name)
        with tr.span("catalog.plan", request=i):
            df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        sc.setJobGroup(f"{gid}-exec", name)
        with tr.span("catalog.exec", request=i):
            rows = df.collect()
        t3 = time.perf_counter()
    sc.setLocalProperty("spark.jobGroup.id", None)
    return {
        "name": name, "ms": (t3 - t) * 1000.0, "rows": rows, "schema": df.schema,
        "construct_ms": (t1 - t) * 1000.0, "plan_ms": (t2 - t1) * 1000.0,
        "exec_ms": (t3 - t2) * 1000.0, "construct_py4j": n1 - n0,
        "construct_jobs": common.group_jobs(spark, f"{gid}-construct")["jobs"],
        "exec": common.group_jobs(spark, f"{gid}-exec"),
    }


def pass_metrics(reqs: list) -> dict:
    """catalog.* layer numbers: medians over requests, sums over the first
    complete pass of the mix."""
    names, first = set(), []
    for r in reqs:
        if r["name"] not in names:
            names.add(r["name"])
            first.append(r)
    return {
        "catalog.construct_ms_p50": common.median([r["construct_ms"] for r in reqs]),
        "catalog.plan_ms_p50": common.median([r["plan_ms"] for r in reqs]),
        "catalog.exec_ms_p50": common.median([r["exec_ms"] for r in reqs]),
        "catalog.construct_py4j_sum": sum(r["construct_py4j"] for r in first),
        "catalog.construct_jobs_sum": sum(r["construct_jobs"] for r in first),
        "catalog.exec_jobs_sum": sum(r["exec"]["jobs"] for r in first),
        "catalog.exec_stages_sum": sum(r["exec"]["stages"] for r in first),
        "catalog.exec_tasks_sum": sum(r["exec"]["tasks"] for r in first),
    }


def run_pass(spark, names, sf: str, ctx) -> list:
    return [run_request(spark, n, sf, i, ctx) for i, n in enumerate(names)]


def check(spark, sf: str, reqs: list) -> tuple:
    """(failed request count, first mismatches).  The first request of each
    query is compared with its DuckDB twin; later requests of the same query
    must return the same normalised rows."""
    import duckdb
    import pandas as pd

    from dagger_spark.catalog import QUERIES

    normalize = _normalize()
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(sf, t + '.parquet')}')")
    verdict, first = {}, {}
    failed, notes = 0, []
    for r in reqs:
        name = r["name"]
        if "error" in r:
            failed += 1
            notes.append((name, r["error"]))
            continue
        mine = normalize(pd.DataFrame.from_records(r["rows"], columns=r["schema"].names))
        if name not in verdict:
            want = normalize(con.execute(QUERIES[name].oracle).fetchdf())
            verdict[name] = list(mine.columns) == list(want.columns) and mine.equals(want)
            first[name] = mine
            if not verdict[name]:
                notes.append((name, f"oracle mismatch: spark {len(mine)} rows, duckdb {len(want)}"))
        if not (verdict[name] and mine.equals(first[name])):
            failed += 1
            if verdict[name]:
                notes.append((name, "rows differ from the first request"))
    con.close()
    return failed, notes[:5]


class CatalogInteractive:
    # highest percentile with >= 10 requests beyond it in a 15 s window
    # (3 passes x 12 queries)
    tail_q = 70

    def __init__(self, ctx):
        self.ctx = ctx
        self.sf = None

    def fixtures(self, spark) -> None:
        self.sf = tables.write(self.ctx.run.fresh("sf0.01"), self.ctx.seed)

    def warm_up(self, spark) -> None:
        """Two passes over the mix: pass times keep falling through the
        second call of each query (6.6 s, 6.2 s, then 5.7 s per pass)."""
        from dagger_spark.catalog import QUERIES

        for _ in range(2):
            for name in MIX:
                QUERIES[name].fn(spark, self.sf).collect()

    def window(self, spark) -> dict:
        """Whole passes over the mix in the seeded order, until a pass ends
        after the window's length: every run measures the same multiset of
        queries, whatever its seed."""
        ctx, seq = self.ctx, order(self.ctx.seed)
        reqs = []
        t0 = time.perf_counter()
        while not reqs or time.perf_counter() - t0 < ctx.seconds:
            for name in seq:
                i = len(reqs)
                try:
                    reqs.append(run_request(spark, name, self.sf, i, ctx))
                except Exception as e:  # a failed request is counted, not fatal
                    reqs.append({"name": name, "ms": None, "error": repr(e)[:300]})
        elapsed = time.perf_counter() - t0
        ok = [r for r in reqs if r.get("ms") is not None]
        out = {
            "reqs": reqs, "latency_ms": [r["ms"] for r in ok],
            "throughput_per_s": len(reqs) / elapsed, "layers": {},
        }
        if ctx.tracing and ok:
            out["layers"] = pass_metrics(ok)
        return out

    def check(self, spark, res: dict) -> tuple:
        failed, notes = check(spark, self.sf, res["reqs"])
        return len(res["reqs"]), failed, notes
