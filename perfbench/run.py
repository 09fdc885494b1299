"""perfbench: one command per workload.

    python3 perfbench/run.py --workload live_detect --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  Prints a ``summary`` line (error rate,
tail sample counts, host diagnostics, first mismatches) and, as the last
line of standard output, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``.  See README.md.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

import common

# session start + fixtures run this many times per run (median taken)
SETUP_REPS = 3


class Context:
    """What a workload gets: seed and window length, the run directory, the
    set-up loop, and the tracing hooks (``tracing`` is true only inside the
    traced window)."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tracing = False
        self.run = common.RunDir(workload, seed)
        self.conf = common.confine_scratch(self.run)
        self.tracer = common.Tracer(trace)
        self.spark = None
        self.py4j = None
        self.setup_times: list = []
        self.layers: dict = {}

    def setup(self, fixtures, warm_up) -> float:
        """Set-up: a fresh session and the workload's seeded fixtures,
        ``SETUP_REPS`` times (the last session is kept), then the fixed
        warm-up once.  Returns setup_s: the median repetition plus the
        warm-up.  The warm-up runs once because it exists to warm the JVM,
        which a second pass would find warm already.  A traced run also
        times the first session start and the first rule-engine build of
        the fresh JVM."""
        import probe

        for rep in range(SETUP_REPS):
            if self.spark is not None:
                self.spark.stop()
            t = time.perf_counter()
            with self.tracer.span("setup", request=rep):
                with self.tracer.span("session.start", request=rep):
                    self.spark = common.start_session(self.conf)
                if self.trace and rep == 0:
                    self.layers["session.start_s"] = time.perf_counter() - t
                    counter = common.Py4jCounter(self.spark)
                    self.layers.update(probe.rules_build_cold(self.spark, counter))
                    counter.uninstall()
                with self.tracer.span("fixtures", request=rep):
                    fixtures(self.spark)
            self.setup_times.append(time.perf_counter() - t)
        t = time.perf_counter()
        with self.tracer.span("warm_up"):
            warm_up(self.spark)
        self.warm_up_s = time.perf_counter() - t
        return common.median(self.setup_times) + self.warm_up_s

    def close(self) -> None:
        if self.spark is not None:
            self.spark.stop()
        common.shutdown_jvm()
        self.run.close()


def make_workload(ctx: Context):
    if ctx.workload == "catalog_interactive":
        import catalog

        return catalog.CatalogInteractive(ctx)
    import streams

    return streams.LiveDetect(ctx)


WORKLOADS = ("live_detect", "catalog_interactive")


def latency(res: dict, tail_q: int) -> tuple:
    """(p50, tail, samples, samples beyond the tail)."""
    lat = res["latency_ms"]
    return (common.percentile(lat, 50), common.percentile(lat, tail_q), len(lat),
            common.beyond(lat, tail_q))


def traced_window(ctx: Context, wl, spark) -> dict:
    """The window again with tracing on: spans, py4j counting and the
    streaming progress listener."""
    records: list = []
    listener = common.make_progress_listener(records)
    spark.streams.addListener(listener)
    ctx.py4j = common.Py4jCounter(spark)
    ctx.tracing = True
    try:
        with ctx.tracer.span("window"):
            res = wl.window(spark)
        time.sleep(1.0)  # progress events arrive asynchronously
    finally:
        ctx.tracing = False
        spark.streams.removeListener(listener)
    if records:
        events = res.get("events") or 1
        res["layers"].update(common.progress_metrics(records, events))
    return res


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="perfbench: run one workload")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # collected timestamps become naive datetimes in the process time zone;
    # UTC matches the session time zone get_spark sets
    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path.insert(0, common.ROOT)
    import dagger_spark  # noqa: F401  (fails here when the program is absent)

    host_start = common.host_snapshot()
    ctx = Context(args.workload, args.seed, args.seconds, bool(args.trace))
    wl = make_workload(ctx)
    checks = []
    phase = {}
    try:
        t = time.perf_counter()
        setup_s = ctx.setup(wl.fixtures, wl.warm_up)
        spark = ctx.spark
        phase["setup"] = time.perf_counter() - t
        t = time.perf_counter()
        res = wl.window(spark)
        phase["window"] = time.perf_counter() - t
        t = time.perf_counter()
        checks.append(wl.check(spark, res))
        phase["check"] = time.perf_counter() - t
        if ctx.trace:
            import probe

            base = res
            res = traced_window(ctx, wl, spark)
            checks.append(wl.check(spark, res))
            layers = dict(ctx.layers)
            layers.update(res["layers"])
            ctx.tracing = True
            with ctx.tracer.span("probe"):
                filled, probe_check = probe.fill(spark, ctx, layers, res.get("src"),
                                                 getattr(wl, "sf", None))
            ctx.tracing = False
            layers.update(filled)
            checks.append(probe_check)
    finally:
        t = time.perf_counter()
        ctx.close()
        phase["close"] = time.perf_counter() - t
    rss = common.peak_rss_mb()  # reported, not a metric: it varies by more than a tenth
    host_end = common.host_snapshot()

    attempted = sum(c[0] for c in checks)
    failed = sum(c[1] for c in checks)
    p50, tail, n, n_beyond = latency(res, wl.tail_q)
    summary = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "error_rate": failed / attempted if attempted else 1.0,
        "setup_reps_s": [round(x, 4) for x in ctx.setup_times],
        "warm_up_s": round(ctx.warm_up_s, 4),
        "phase_s": {k: round(v, 3) for k, v in phase.items()},
        "latency_samples": n, "tail_percentile": wl.tail_q,
        "tail_samples_beyond": n_beyond,
        "peak_rss_mb": round(rss, 1),
        "host_start": host_start, "host_end": host_end,
        "mismatches": [str(m)[:300] for c in checks for m in c[2]][:5],
    }
    if ctx.trace:
        b50, _bt, _bn, _bb = latency(base, wl.tail_q)
        layers["trace.overhead_latency_p50_ms"] = p50 - b50
        layers["trace.overhead_throughput_pct"] = (
            100.0 * (base["throughput_per_s"] - res["throughput_per_s"]) / base["throughput_per_s"]
        )
        summary["self_time_s"] = ctx.tracer.self_times()
        path = os.path.join(common.ROOT, ".bench_out",
                            f"trace-{args.workload}-s{args.seed}.json")
        ctx.tracer.write(path, {"layers": layers})
        summary["spans_file"] = os.path.relpath(path, common.ROOT)
        missing = sorted(set(common.PER_LAYER) - set(layers))
        if missing:
            raise RuntimeError(f"per-layer metrics not measured: {missing}")
        metrics = {k: {"value": float(layers[k]), "unit": u}
                   for k, u in common.PER_LAYER.items()}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "latency_p50_ms": {"value": p50, "unit": "ms"},
            "latency_tail_ms": {"value": tail, "unit": "ms"},
            "throughput_per_s": {"value": float(res["throughput_per_s"]), "unit": "1/s"},
        }
    common.emit({"correct": failed == 0, "attempted": attempted, "failed": failed,
                 "metrics": metrics}, summary)
    return 0


if __name__ == "__main__":
    sys.exit(main())
