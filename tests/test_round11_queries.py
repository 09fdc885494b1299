"""Round-11 catalog invariants beyond the DuckDB gate: the delete-arm
entries must satisfy their maintenance identities against from-scratch
recomputes INSIDE Spark (the cross-engine hash-match lives in
test_catalog.py / the driver gate), and the filtered-ANN/staleness
entries their semantic contracts."""

import os

import pytest
from pyspark.sql import functions as F

from dagger_spark.catalog import QUERIES
from dagger_spark.catalog.round11 import _DEL_MOD, _RETIRE_MOD

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_retire_pairs_is_state_minus_invalidated(spark):
    """Surviving pairs + invalidated pairs partition the full pair state —
    the subtraction identity the entry's description claims."""
    full = _rows(QUERIES["minhash_pairs_docs"].fn(spark, SF))
    surviving = _rows(QUERIES["minhash_retire_pairs_docs"].fn(spark, SF))
    retired = lambda i: i % 10 == _RETIRE_MOD  # noqa: E731
    invalidated = [
        (a, b) for a, b in full if retired(a) or retired(b)
    ]
    assert sorted(surviving + invalidated) == full
    assert all(not retired(a) and not retired(b) for a, b in surviving)


def test_retire_clusters_equals_reduced_recompute(spark):
    """Affected-component recompute == from-scratch clustering of the
    reduced corpus (Spark-side twin of the cross-engine oracle)."""
    from dagger_spark.catalog._base import _load_wide
    from dagger_spark.catalog.docs import _dedup_stage
    from dagger_spark.ops.dedup import dedup_clusters

    got = _rows(QUERIES["dedup_retire_clusters_docs"].fn(spark, SF))
    docs = _load_wide(spark, SF, "documents").filter(
        F.pmod(F.col("doc_id"), F.lit(10)) != _RETIRE_MOD
    )
    sigs = _dedup_stage(spark, SF).filter(
        F.pmod(F.col("id"), F.lit(10)) != _RETIRE_MOD
    )
    expect = _rows(
        dedup_clusters(docs, num_hashes=16, bands=4, sigs=sigs)
    )
    assert got == expect
    # retired docs are gone; every survivor present exactly once
    ids = [d for d, _c in got]
    assert len(ids) == len(set(ids))
    assert all(d % 10 != _RETIRE_MOD for d in ids)


def test_dedup_stage_survives_session_restart():
    """The shared minhash stage is memoized per applicationId: after a
    session restart the next call rebuilds it instead of unpersisting the
    dead context's DataFrame (which raised).  Runs in its own process so
    stopping the SparkContext leaves the suite's session alone."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "from dagger_spark.catalog.docs import _dedup_stage\n"
        "from dagger_spark.session import get_spark\n"
        "for i in range(2):\n"
        "    s = get_spark(f'restart{i}', master='local[1]', shuffle_partitions=1)\n"
        f"    print('rows', _dedup_stage(s, {SF!r}).count())\n"
        "    s.stop()\n"
    )
    env = dict(os.environ, PYTHONPATH=repo, SPARK_DRIVER_MEMORY="1g")
    r = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        timeout=300, env=env, cwd=repo,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    counts = [l.split()[1] for l in r.stdout.splitlines() if l.startswith("rows ")]
    assert len(counts) == 2 and counts[0] == counts[1] and int(counts[0]) > 0


def test_append_clusters_equals_full_recompute(spark):
    """Cluster admission: state-without-delta + affected-component merge
    must equal from-scratch clustering of the FULL corpus (Spark-side
    twin of the verbatim shared oracle), covering every doc once."""
    got = _rows(QUERIES["dedup_append_clusters_docs"].fn(spark, SF))
    expect = _rows(QUERIES["dedup_clusters_docs"].fn(spark, SF))
    assert got == expect
    ids = [d for d, _c in got]
    assert len(ids) == len(set(ids))


def test_retire_rollup_equals_reduced_aggregate(spark):
    from dagger_spark.sources.files import load_table

    got = _rows(QUERIES["events_retire_rollup"].fn(spark, SF))
    ev = load_table(spark, SF, "events").filter(
        F.pmod(F.col("event_id"), F.lit(10)) != 0
    )
    expect = _rows(
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour_start"),
            "event_type",
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )
    assert got == expect


def test_bm25_retire_equals_reduced_stats(spark):
    """Retraction == the incremental entry's algebra run on the reduced
    corpus: compare against bm25_incremental_stats_docs' own partials
    recomputed without the retired slice."""
    from dagger_spark.catalog._base import _load_wide
    from dagger_spark.ops.text import tokens

    got = _rows(QUERIES["bm25_retire_stats_docs"].fn(spark, SF))
    docs = _load_wide(spark, SF, "documents").filter(
        F.pmod(F.col("doc_id"), F.lit(10)) != _RETIRE_MOD
    )
    lens = docs.select("doc_id", tokens(F.col("text")).alias("t")).filter(
        F.size("t") > 0
    )
    per = (
        lens.select("doc_id", F.explode(F.array_distinct("t")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("doc_freq"))
    )
    st = lens.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size("t")).cast("long").alias("sum_dl"),
    )
    expect = _rows(
        per.crossJoin(F.broadcast(st))
        .select(
            "term",
            "doc_freq",
            F.round(
                F.log(
                    (F.col("n_docs") - F.col("doc_freq") + F.lit(0.5))
                    / (F.col("doc_freq") + F.lit(0.5))
                    + F.lit(1.0)
                )
                + F.lit(1e-9),
                6,
            ).alias("idf"),
            "n_docs",
            F.round(
                F.col("sum_dl").cast("double") / F.col("n_docs")
                + F.lit(1e-9),
                6,
            ).alias("avgdl"),
        )
        .orderBy(F.desc("doc_freq"), "term")
        .limit(20)
    )
    assert got == expect


def test_deleted_index_matches_retire_slice(spark):
    """ann_ivf_sq8_deleted: no neighbor from the retired slice, full k
    rows per query (tombstones must not shrink the result set — survivors
    fill the ranks)."""
    rows = QUERIES["ann_ivf_sq8_deleted"].fn(spark, SF).collect()
    per_q = {}
    for r in rows:
        assert not (
            r["neighbor_id"] % 10 == _DEL_MOD and r["neighbor_id"] >= 16
        ), r
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per_q.values())


def test_filtered_ann_prefilter_semantics(spark):
    """Every returned neighbor carries the query's own label, every query
    returns exactly k rows (pre-filter, never a post-filtered short list),
    and scores agree with the unfiltered brute-force ladder wherever a
    pair appears in both."""
    rows = QUERIES["ann_filtered_topk_embeddings"].fn(spark, SF).collect()
    from dagger_spark.sources.files import load_table

    labels = {
        r["vec_id"]: r["label"]
        for r in load_table(spark, SF, "embeddings")
        .select("vec_id", "label")
        .collect()
    }
    per_q = {}
    for r in rows:
        assert labels[r["neighbor_id"]] == labels[r["query_id"]], r
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per_q.values())

    brute = {
        (r["query_id"], r["neighbor_id"]): r["score"]
        for r in QUERIES["ann_brute_force"].fn(spark, SF).collect()
    }
    for r in rows:
        key = (r["query_id"], r["neighbor_id"])
        if key in brute:
            assert brute[key] == r["score"], key


def test_filtered_index_probe_answers_from_postings(spark):
    """ann_ivf_sq8_filtered: the same-label predicate is satisfied for
    every returned row (labels cross-checked against the SOURCE table,
    though the probe never reads it), and the filtered result is exactly
    the unfiltered indexed probe's candidate set re-ranked under the
    label restriction."""
    from dagger_spark.sources.files import load_table

    rows = QUERIES["ann_ivf_sq8_filtered"].fn(spark, SF).collect()
    labels = {
        r["vec_id"]: r["label"]
        for r in load_table(spark, SF, "embeddings")
        .select("vec_id", "label")
        .collect()
    }
    for r in rows:
        assert labels[r["neighbor_id"]] == labels[r["query_id"]], r
        assert r["label"] == labels[r["neighbor_id"]], r
    # pre-filter semantics: ranks are contiguous from 1 per query
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    for q, ranks in per_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), (q, ranks)


def test_refined_rescoring_contract(spark):
    """ann_ivf_sq8_refined: the final top-5 is a subset of stage-1's
    candidate set, and every surviving pair's score equals the exact
    brute-force cosine for that pair (quantization error may cost
    stage-1 recall, never final scores)."""
    from dagger_spark.catalog.round11 import _REFINE_R
    from dagger_spark.ops.ivf_index import build_sq8_ivf_index, sq8_ivf_topk

    refined = QUERIES["ann_ivf_sq8_refined"].fn(spark, SF).collect()
    idx = build_sq8_ivf_index(spark, SF, n_centroids=16)
    stage1 = {
        (r["query_id"], r["neighbor_id"])
        for r in sq8_ivf_topk(
            spark, idx, k=_REFINE_R, nprobe=2, n_queries=8
        ).collect()
    }
    brute = {
        (r["query_id"], r["neighbor_id"]): r["score"]
        for r in QUERIES["ann_brute_force"].fn(spark, SF).collect()
    }
    per_q = {}
    for r in refined:
        key = (r["query_id"], r["neighbor_id"])
        assert key in stage1, key
        if key in brute:  # brute is top-5 only; overlap must score-match
            assert brute[key] == r["score"], key
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per_q.values())


def test_grid_staleness_gauge_consistent_with_gate(spark):
    """The gauge's oob verdict must agree with the append gate itself:
    build an index over the base slice, then the gate accepts the delta
    iff the gauge reports zero out-of-grid vectors."""
    import shutil

    from dagger_spark.ops.ivf_index import (
        append_to_sq8_ivf_index,
        build_sq8_ivf_index,
    )
    from dagger_spark.sources.files import load_table

    row = QUERIES["sq8_grid_staleness_embeddings"].fn(spark, SF).collect()[0]
    assert row["n_base"] + row["n_delta"] > 0
    assert 0.0 <= row["oob_share"] <= 1.0 + 1e-9

    e = load_table(spark, SF, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    base = e.filter(F.pmod(F.col("vec_id"), F.lit(5)) != 4)
    delta = e.filter(F.pmod(F.col("vec_id"), F.lit(5)) == 4).select(
        (F.col("vec_id") + 50_000_000).alias("vec_id"), "embedding"
    )
    idx = build_sq8_ivf_index(spark, SF, 16, corpus=base, tag="stale_gauge")
    try:
        if row["n_oob_vectors"] == 0:
            n = append_to_sq8_ivf_index(spark, idx, delta)
            assert n == row["n_delta"]
        else:
            with pytest.raises(ValueError, match="outside the frozen"):
                append_to_sq8_ivf_index(spark, idx, delta)
    finally:
        shutil.rmtree(idx, ignore_errors=True)
