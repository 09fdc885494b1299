"""Distributed global-ordering primitives: two-pass range-partitioned
``row_number`` / ``ntile`` / running sum.

A bare ``Window.orderBy(...)`` with no ``partitionBy`` funnels the entire
input through ONE partition (Spark logs ``WindowExec: No Partition Defined
for Window operation! Moving all data to a single partition``) — correct at
gauge scale and a guaranteed OOM/stall at 100 TB.  These helpers compute the
IDENTICAL result with the classic two-pass recipe:

1. **Sample split points** — one ``percentile_approx`` aggregate over the
   partitioning key (a mergeable sketch: map-side partials, one tiny
   reduce) yields ≤ ``num_ranges - 1`` boundary VALUES, collected to the
   driver and baked into the plan as literals.  The collect is bounded by
   cluster configuration (#ranges), never by data — the same
   plan-time-literal discipline as the IVF centroids and LSH planes.
2. **Bucket deterministically** — each row's range id is a pure expression
   over its own values (a chain of literal comparisons), so ANY
   recomputation of the input assigns identical buckets.  This is the
   load-bearing design decision: the obvious alternative —
   ``repartitionByRange`` + ``monotonically_increasing_id`` — leaves rank
   consistency at the mercy of ReusedExchange, because the local-rank
   branch and the per-range-counts branch each re-sample split points
   (``RangePartitioner`` seeds by RDD id) when column pruning makes their
   exchange subtrees differ.  That exact failure showed up as ±1 ntile
   drift when two ranks were composed in one plan; literal boundaries make
   it structurally impossible.
3. **Rank locally, then add offsets** — ``Window.partitionBy(bucket)``
   computes local ranks / running sums (a skew-bounded hash shuffle:
   every bucket is ~N/num_ranges rows by construction of the split
   points), while a bucket-keyed aggregate (≤ ``num_ranges`` rows) turns
   per-bucket counts/sums into prefix offsets that broadcast-join back.
   ``global rank = local rank + offset``.

Exact and deterministic whenever the ordering is TOTAL — callers must
include a unique tiebreak column, the same requirement the
single-partition window form already had — so DuckDB oracle parity is
unchanged (pinned by tests/test_rank.py's differential tests and the
catalog gate).

The offsets prefix-sum itself is an unpartitioned window — over the
bucket-keyed aggregate, i.e. ≤ ``num_ranges`` rows by construction.  The
``_gr_pid`` grouping column is the structural marker tests/test_plans.py
uses to prove that window's input is bounded.

Caveats (documented, not silent):
  * ``part_key`` must be a NUMERIC column ascending-aligned with the total
    order (pass the negated column for a descending primary sort).  All
    rows sharing one part_key value land in one bucket, so a single
    mega-frequent value bounds parallelism for its bucket — the classic
    skew caveat of exact global ranking (salting cannot apply: equal keys
    must meet one rank counter).
  * rows with NULL part_key fall into bucket 0; callers whose ordering
    places nulls elsewhere must coalesce first (every catalog use has a
    non-null key by construction).
  * the literal comparison chain is linear in ``num_ranges`` — right for
    the 32–2048 ranges a real cluster uses; a 10^5-range layout would
    swap step 2 for a broadcast range join.

The reference has no window functions at all (SURVEY.md §2.7 absence list;
rules/sigma/*.sql are filter+project only); this operator backs the
catalog's global-ordering queries (ABC/Pareto, RFM quartiles, quantile
normalization, Zipf ranks, Z-order layout) at scale.
"""

from __future__ import annotations

from typing import Optional, Sequence, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

ColumnOrName = Union[Column, str]


def _num_ranges(df: DataFrame, num_ranges: Optional[int]) -> int:
    if num_ranges is not None:
        return num_ranges
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))


def _part_key(
    order_by: Sequence[ColumnOrName], part_key: Optional[ColumnOrName]
) -> Column:
    if part_key is not None:
        return F.col(part_key) if isinstance(part_key, str) else part_key
    lead = order_by[0]
    if isinstance(lead, str):
        return F.col(lead)
    raise ValueError(
        "order_by leads with a Column expression; pass part_key= explicitly "
        "(ascending-aligned numeric, e.g. -col for a descending sort)"
    )


def _boundaries(df: DataFrame, key: Column, n: int) -> list:
    """≤ n-1 split-point literals from one percentile_approx pass (empty
    when the input is empty or has a single distinct key)."""
    return boundaries_for(df, {"k": key}, num_ranges=n)["k"]


def boundaries_for(
    df: DataFrame,
    keys: dict,
    *,
    num_ranges: Optional[int] = None,
) -> dict:
    """Split points for SEVERAL partition keys in ONE aggregation pass —
    for queries that rank the same table on multiple orderings (RFM's
    three quartiles, Z-order's two layouts), this collapses N
    boundary-sketch jobs (each a full input pass) into one.  Pass the
    result lists to the rank functions via their ``boundaries=`` option.

    ``keys`` maps a label to the ascending-aligned numeric partition-key
    Column; returns label -> sorted deduped boundary values."""
    n = _num_ranges(df, num_ranges)
    if n <= 1 or not keys:
        return {k: [] for k in keys}
    pcts = [i / n for i in range(1, n)]
    row = df.select(
        *[(F.col(c) if isinstance(c, str) else c).alias(f"_gk_{k}")
          for k, c in keys.items()]
    ).agg(
        # pcts as ONE array literal (literals.lit_double_array): the
        # bare-list form re-ships one lit per percentile through py4j
        *[F.percentile_approx(f"_gk_{k}", _lit_pcts(pcts), 10_000).alias(k)
          for k in keys]
    ).head()
    out = {}
    for k in keys:
        vals = row[k] if row is not None and row[k] is not None else []
        out[k] = sorted({v for v in vals if v is not None})
    return out


def _lit_pcts(pcts: list) -> Column:
    from ..literals import lit_double_array

    return lit_double_array(pcts)


def _bucket(key: Column, boundaries: list) -> Column:
    """Deterministic range id: how many boundaries this row's key exceeds.
    Equal keys always share a bucket; NULL keys land in bucket 0.

    Rendered as ONE ``size(filter(<literal array>, v -> key > v))`` —
    count of boundaries the key exceeds, identical to the old chain of
    per-boundary ``when(key > lit(v), 1)`` adds (a NULL key nulls the
    lambda predicate, the element is dropped, size = 0 = the old
    otherwise(0) path) but built in a single JVM round trip instead of
    ~5 per boundary (round-14 driver-boundary sweep; the literal array
    is int-exact for integral keys, double for floats).  Non-numeric
    boundary types keep the per-element chain."""
    if not boundaries:
        return F.lit(0).cast("int")
    from ..literals import render_double_array

    if all(isinstance(v, int) and not isinstance(v, bool) for v in boundaries):
        arr = F.expr(
            "array(" + ",".join(f"{int(v)}L" for v in boundaries) + ")"
        )
    elif all(isinstance(v, (int, float)) and not isinstance(v, bool)
             for v in boundaries):
        arr = F.expr(render_double_array([float(v) for v in boundaries]))
    else:  # non-numeric key types: the original chain
        b = F.lit(0)
        for v in boundaries:
            b = b + F.when(key > F.lit(v), 1).otherwise(0)
        return b.cast("int")
    return F.size(F.filter(arr, lambda v: key > v)).cast("int")


def _offsets(per_bucket: DataFrame, agg_col: str) -> DataFrame:
    """Prefix-sum a bucket-keyed aggregate into join-back offsets.

    One row per non-empty bucket, so this window runs over ≤ num_ranges
    rows — bounded by configuration (tests/test_plans.py also recognizes
    the ``_gr_pid`` grouping marker structurally).  The partition spec is
    ``pmod(_gr_pid, 1)``: constant 0 for every row (one partition, which
    is exactly right at ≤ num_ranges rows) but NOT statically foldable,
    so Catalyst keeps the spec and WindowExec doesn't emit its scary
    `No Partition Defined ... single partition` warning for a window
    that is single-partition BY DESIGN — a bare lit(0) gets constant-
    folded away and warns identically to no spec at all.  If a future
    optimizer folds pmod too, semantics are unchanged; only the log
    line returns."""
    w = Window.partitionBy(F.pmod(F.col("_gr_pid"), F.lit(1))).orderBy("_gr_pid")
    return per_bucket.select(
        "_gr_pid",
        (F.sum(agg_col).over(w) - F.col(agg_col)).alias("_gr_off"),
        F.sum(agg_col)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .alias("_gr_total"),
    )


def global_row_number(
    df: DataFrame,
    order_by: Sequence[ColumnOrName],
    rank_col: str = "rn",
    *,
    part_key: Optional[ColumnOrName] = None,
    num_ranges: Optional[int] = None,
    keep_total: bool = False,
    boundaries: Optional[list] = None,
) -> DataFrame:
    """``row_number() OVER (ORDER BY ...)`` without the single partition.

    One boundary-sketch pass + one bucket-partitioned window shuffle + a
    broadcast join of the ≤ num_ranges offset rows.  ``order_by`` must be
    a total order (include a unique tiebreak).  With ``keep_total`` the
    constant ``_gr_total`` row-count column survives for consumers that
    need N (ntile, percent_rank).  ``boundaries`` (from
    :func:`boundaries_for`) skips the sketch pass — use it when ranking
    one table on several orderings."""
    key = _part_key(order_by, part_key)
    if boundaries is None:
        boundaries = _boundaries(df, key, _num_ranges(df, num_ranges))
    bdf = df.withColumn("_gr_b", _bucket(key, boundaries))
    local = bdf.withColumn(
        "_gr_lrn",
        F.row_number().over(Window.partitionBy("_gr_b").orderBy(*order_by)),
    )
    # per-bucket size = max local row_number, read off the WINDOW OUTPUT
    # rather than a separate aggregate over the input: the counts subtree
    # then contains the window branch verbatim, so Catalyst reuses its
    # shuffle (one scan + one exchange per rank, not two of each).  The
    # reuse is a pure perf bonus — bucket ids are literal-deterministic,
    # so even independently recomputed branches agree (unlike the
    # rejected repartitionByRange design, where reuse was load-bearing).
    counts = local.groupBy(F.col("_gr_b").alias("_gr_pid")).agg(
        F.max("_gr_lrn").cast("long").alias("_gr_cnt")
    )
    out = (
        local.join(
            F.broadcast(_offsets(counts, "_gr_cnt")),
            local["_gr_b"] == F.col("_gr_pid"),
        )
        .withColumn(rank_col, (F.col("_gr_lrn") + F.col("_gr_off")).cast("long"))
        .drop("_gr_b", "_gr_lrn", "_gr_pid", "_gr_off")
    )
    return out if keep_total else out.drop("_gr_total")


def global_rank(
    df: DataFrame,
    order_by: Sequence[ColumnOrName],
    rank_col: str = "rnk",
    *,
    dense: bool = False,
    part_key: Optional[ColumnOrName] = None,
    num_ranges: Optional[int] = None,
    boundaries: Optional[list] = None,
) -> DataFrame:
    """``rank()`` / ``dense_rank() OVER (ORDER BY ...)`` distributed.

    Unlike row_number, these are TIE-AWARE, and the two-pass recipe stays
    exact because a tie group can never span a bucket boundary: rows with
    equal order keys share a part_key value, and :func:`_bucket` sends
    equal part_keys to one bucket.  So ``global rank = local rank + (count
    of rows in prior buckets)`` and ``global dense_rank = local dense_rank
    + (count of DISTINCT order keys in prior buckets)``.

    Both offsets come off the window output itself (same shuffle-reuse
    shape as global_row_number): bucket row count = max local row_number
    (computed in the same WindowExec), and bucket distinct-key count =
    max local dense_rank — dense_rank's final value IS the number of
    distinct order keys, which also spares the caller naming tie
    columns for descending sorts."""
    key = _part_key(order_by, part_key)
    if boundaries is None:
        boundaries = _boundaries(df, key, _num_ranges(df, num_ranges))
    bdf = df.withColumn("_gr_b", _bucket(key, boundaries))
    w = Window.partitionBy("_gr_b").orderBy(*order_by)
    fn = F.dense_rank() if dense else F.rank()
    local = bdf.withColumn("_gr_lrk", fn.over(w)).withColumn(
        "_gr_lct",
        (F.dense_rank() if dense else F.row_number()).over(w),
    )
    counts = local.groupBy(F.col("_gr_b").alias("_gr_pid")).agg(
        F.max("_gr_lct").cast("long").alias("_gr_cnt")
    )
    out = (
        local.join(
            F.broadcast(_offsets(counts, "_gr_cnt")),
            local["_gr_b"] == F.col("_gr_pid"),
        )
        .withColumn(rank_col, (F.col("_gr_lrk") + F.col("_gr_off")).cast("long"))
        .drop("_gr_b", "_gr_lrk", "_gr_lct", "_gr_pid", "_gr_off", "_gr_total")
    )
    return out


def ntile_from_rank(rn: Column, total: Column, k: int) -> Column:
    """Standard-SQL ``ntile(k)`` from a 1-based global rank and the total
    row count, in exact integer arithmetic: with ``base = N div k`` and
    ``rem = N mod k``, the first ``rem`` buckets hold ``base + 1`` rows.
    Matches Spark's and DuckDB's ntile bit-for-bit (differential-tested in
    test_rank.py).  All intermediates stay well inside the exact-double
    range, so the floor divisions are exact."""
    base = F.floor(total / k).cast("long")
    rem = (total % k).cast("long")
    big = rem * (base + F.lit(1))
    in_big = F.floor((rn - F.lit(1)) / (base + F.lit(1))) + F.lit(1)
    in_small = rem + F.floor((rn - big - F.lit(1)) / base) + F.lit(1)
    return F.when(rn <= big, in_big).otherwise(in_small).cast("int")


def global_ntile(
    df: DataFrame,
    order_by: Sequence[ColumnOrName],
    k: int,
    tile_col: str = "tile",
    *,
    part_key: Optional[ColumnOrName] = None,
    num_ranges: Optional[int] = None,
    boundaries: Optional[list] = None,
) -> DataFrame:
    """``ntile(k) OVER (ORDER BY ...)`` as global_row_number + the exact
    bucket formula (the total row count rides the broadcast offsets row,
    so no extra pass).  For multi-score quartiling (RFM), compute each
    tile from the BASE table with ONE :func:`boundaries_for` pass and
    join on the entity key rather than chaining — chaining makes each
    call's boundary-sketch pass recompute its predecessors."""
    ranked = global_row_number(
        df, order_by, "_gr_rn",
        part_key=part_key, num_ranges=num_ranges, keep_total=True,
        boundaries=boundaries,
    )
    return ranked.withColumn(
        tile_col, ntile_from_rank(F.col("_gr_rn"), F.col("_gr_total"), k)
    ).drop("_gr_rn", "_gr_total")


def global_percent_rank(
    df: DataFrame,
    order_by: Sequence[ColumnOrName],
    out_col: str = "pct",
    *,
    cume: bool = False,
    part_key: Optional[ColumnOrName] = None,
    num_ranges: Optional[int] = None,
    boundaries: Optional[list] = None,
) -> DataFrame:
    """``percent_rank()`` (``(rank-1)/(N-1)``) or, with ``cume=True``,
    ``cume_dist()`` (``rows-with-key<=mine / N``), distributed.

    Both fall out of ONE bucket-partitioned window: the tie-aware local
    numerator (``rank()`` for percent_rank; ``count(*)`` over the default
    RANGE frame — which includes peers — for cume_dist) plus the same
    prior-bucket row-count offset and broadcast total as
    global_row_number.  Tie groups never span buckets, so both stay
    exact.  SQL's percent_rank of a single-row input is 0 (the 0/0
    guard), matching Spark and DuckDB."""
    key = _part_key(order_by, part_key)
    if boundaries is None:
        boundaries = _boundaries(df, key, _num_ranges(df, num_ranges))
    bdf = df.withColumn("_gr_b", _bucket(key, boundaries))
    w = Window.partitionBy("_gr_b").orderBy(*order_by)
    local = bdf.withColumn(
        "_gr_loc",
        F.count(F.lit(1)).over(w) if cume else F.rank().over(w),
    ).withColumn("_gr_lrn", F.row_number().over(w))
    counts = local.groupBy(F.col("_gr_b").alias("_gr_pid")).agg(
        F.max("_gr_lrn").cast("long").alias("_gr_cnt")
    )
    out = local.join(
        F.broadcast(_offsets(counts, "_gr_cnt")),
        local["_gr_b"] == F.col("_gr_pid"),
    )
    num = (F.col("_gr_loc") + F.col("_gr_off")).cast("double")
    if cume:
        expr = num / F.col("_gr_total")
    else:
        expr = F.when(
            F.col("_gr_total") > 1,
            (num - 1) / (F.col("_gr_total") - 1),
        ).otherwise(F.lit(0.0))
    return out.withColumn(out_col, expr.cast("double")).drop(
        "_gr_b", "_gr_loc", "_gr_lrn", "_gr_pid", "_gr_off", "_gr_total"
    )


def global_quantiles_exact(
    df: DataFrame,
    value: ColumnOrName,
    tie: ColumnOrName,
    probs: Sequence[float],
    *,
    num_ranges: Optional[int] = None,
) -> DataFrame:
    """EXACT ``percentile_cont`` over the whole table, distributed: rank
    every row with :func:`global_row_number`, then for each probability q
    pick the rows at positions ``floor((n-1)q)+1`` and ``+2`` and linearly
    interpolate — the standard continuous-percentile definition, computed
    with conditional aggregates against the broadcast total (1 output
    row).  Complements the approximate sketches (events_median_sketch /
    percentile_approx): this is the ground-truth path, exact at any scale,
    for the cost of one full rank.

    With integer (micro-unit) values and dyadic q the interpolation is
    exactly representable in a double, so DuckDB ``percentile_cont``
    parity is bit-exact — the catalog gate hashes it.  Returns columns
    ``n`` and ``p{int(q*100)}`` (raw value units, as double)."""
    vcol = F.col(value) if isinstance(value, str) else value
    tcol = F.col(tie) if isinstance(tie, str) else tie
    ranked = global_row_number(
        df.select(vcol.alias("_gq_v"), tcol.alias("_gq_t")),
        ["_gq_v", "_gq_t"],
        "_gq_rn", num_ranges=num_ranges, keep_total=True,
    )
    n = F.col("_gr_total")  # keep_total's broadcast row count (per-row constant)
    rn = F.col("_gq_rn")
    # empty input: max over zero rows is NULL, but the DuckDB oracle's
    # count(*) is 0 — coalesce so the one output row says n=0 (the
    # percentile columns stay NULL, matching percentile_cont over nothing)
    aggs = [F.coalesce(F.max(n), F.lit(0)).cast("long").alias("n")]
    for q in probs:
        pos = (n - 1) * F.lit(float(q))  # exact double for dyadic q
        lo = (F.floor(pos) + 1).cast("long")
        frac = pos - F.floor(pos)
        v_lo = F.min(F.when(rn == lo, F.col("_gq_v")))
        v_hi = F.coalesce(F.min(F.when(rn == lo + 1, F.col("_gq_v"))), v_lo)
        # every term must be aggregate-valued: frac/pos depend only on the
        # per-row-constant total, so max() extracts them losslessly
        aggs.append(
            (v_lo + (v_hi - v_lo) * F.max(frac))
            .alias(f"p{int(round(q * 100))}")
        )
    return ranked.agg(*aggs)


def shuffled_shards(
    df: DataFrame,
    id_col: ColumnOrName,
    *,
    seed: int = 0,
    n_shards: int = 16,
    key_col: str = "shuffle_key",
    pos_col: str = "pos",
    shard_col: str = "shard",
    shard_pos_col: str = "shard_pos",
    num_ranges: Optional[int] = None,
) -> DataFrame:
    """Deterministic global corpus shuffle + contiguous shard assignment —
    the 'shuffle the whole training set, then split it into n equal files'
    step every LLM data pipeline ends with, without a single-partition
    sort.

    Each row gets ``shuffle_key = md5(seed || ':' || id)`` (a fixed-width
    lowercase-hex string, identical in Spark and DuckDB, so the oracle can
    replay the exact permutation), a 1-based global position in ``ORDER BY
    (shuffle_key, id)`` via :func:`global_row_number`, a contiguous shard
    id in ``[0, n_shards)`` from the exact :func:`ntile_from_rank`
    arithmetic, and a 1-based position within its shard — all from ONE
    boundary-sketch pass plus one bucket-partitioned window shuffle.

    The range-partition key is the leading 15 hex digits parsed as an
    integer (``conv(_, 16, 10)``): a monotone non-strict function of the
    full key's lexicographic order (fixed-width lowercase hex compares
    bytewise), which is all :func:`global_row_number` requires of
    ``part_key`` — ties on the 15-digit prefix stay inside one bucket and
    are broken by the local sort on (full key, id).  Because md5 output
    is uniform, the percentile_approx boundaries slice the keyspace into
    near-equal buckets regardless of how skewed the id distribution is —
    this operator is *self-balancing* by construction.

    ``shard_pos`` comes from the same closed-form arithmetic as ntile
    (first ``N mod n_shards`` shards hold one extra row), so a downstream
    ``partitionBy(shard) ORDER BY shard_pos`` writer emits byte-stable
    shard files with no additional global sort.  The reference has no
    ordering operators at all (SURVEY.md §2.7); this is north-star
    pipeline surface.
    """
    idc = F.col(id_col) if isinstance(id_col, str) else id_col
    key = F.md5(F.concat(F.lit(f"{seed}:"), idc.cast("string")))
    with_key = df.withColumn(key_col, key)
    ranked = global_row_number(
        with_key,
        [key_col, idc],
        pos_col,
        part_key=F.conv(F.substring(F.col(key_col), 1, 15), 16, 10).cast("long"),
        num_ranges=num_ranges,
        keep_total=True,
    )
    pos, total = F.col(pos_col), F.col("_gr_total")
    shard = (ntile_from_rank(pos, total, n_shards) - 1).cast("int")
    # start of shard s (0-based): s*base + least(s, rem), with the first
    # `rem` shards one row larger — the inverse of ntile_from_rank
    base = F.floor(total / n_shards).cast("long")
    rem = (total % n_shards).cast("long")
    start = shard.cast("long") * base + F.least(shard.cast("long"), rem)
    return (
        ranked.withColumn(shard_col, shard)
        .withColumn(shard_pos_col, (pos - start).cast("long"))
        .drop("_gr_total")
    )


def global_cumsum(
    df: DataFrame,
    order_by: Sequence[ColumnOrName],
    value: ColumnOrName,
    cum_col: str = "cum",
    *,
    part_key: Optional[ColumnOrName] = None,
    total_col: Optional[str] = None,
    num_ranges: Optional[int] = None,
    boundaries: Optional[list] = None,
) -> DataFrame:
    """``sum(value) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)``: running
    sum WITHIN each range bucket, plus the broadcast prefix offset of the
    preceding buckets' sums.  ``total_col`` optionally exposes the grand
    total (Pareto / revenue-share consumers) without a separate global
    aggregate."""
    key = _part_key(order_by, part_key)
    vcol = F.col(value) if isinstance(value, str) else value
    if boundaries is None:
        boundaries = _boundaries(df, key, _num_ranges(df, num_ranges))
    bdf = df.withColumn("_gr_b", _bucket(key, boundaries))
    w = (
        Window.partitionBy("_gr_b")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = bdf.withColumn("_gr_lcum", F.sum(vcol).over(w)).withColumn(
        "_gr_lrn",
        F.row_number().over(Window.partitionBy("_gr_b").orderBy(*order_by)),
    )
    # bucket sum = the running sum at the bucket's LAST row (max_by on the
    # local row_number, works for negative values where max(cum) would
    # not) — read off the window output so the shuffle is reused, as in
    # global_row_number
    sums = local.groupBy(F.col("_gr_b").alias("_gr_pid")).agg(
        F.max_by("_gr_lcum", "_gr_lrn").alias("_gr_psum")
    )
    out = (
        local.join(
            F.broadcast(_offsets(sums, "_gr_psum")),
            local["_gr_b"] == F.col("_gr_pid"),
        )
        .withColumn(cum_col, F.col("_gr_lcum") + F.col("_gr_off"))
        .drop("_gr_b", "_gr_pid", "_gr_lcum", "_gr_lrn", "_gr_off")
    )
    if total_col is not None:
        out = out.withColumnRenamed("_gr_total", total_col)
    else:
        out = out.drop("_gr_total")
    return out


def skyline2d(
    df: DataFrame,
    x: ColumnOrName,
    y: ColumnOrName,
    *,
    num_ranges: Optional[int] = None,
) -> DataFrame:
    """Pareto frontier (skyline) under STRICT dominance: keep every row no
    other row beats — ``b`` dominates ``a`` iff ``b.x <= a.x AND b.y >=
    a.y`` with at least one strict (x is minimized, y maximized; negate a
    column for the other orientations).  Duplicate ``(x, y)`` points do
    not dominate each other, so both survive — ANSI ``NOT EXISTS``
    dominance semantics exactly (the catalog oracle).

    The naive formulation is an all-pairs self-join; the 2-D structure
    collapses it to ORDER + PREFIX-MAX: ``a`` is dominated iff
    ``max(y | x' < a.x) >= a.y`` (a strictly cheaper row at least as
    good) or ``a.y < max(y | x' = a.x)`` (an equal-x row strictly
    better).  Both maxima come from ONE per-x aggregate (keyed hash
    shuffle) — the first via an EXCLUSIVE global prefix max over the
    distinct-x table in x order, computed with the same two-pass
    range-bucketed recipe as :func:`global_row_number` (bucket-local
    ``max() OVER (ROWS ... AND -1)`` plus a broadcast prefix max of the
    <= ``num_ranges`` per-bucket maxima) — then join back on x.  No
    all-pairs anywhere, no single-partition window: the per-x table is
    the only intermediate and it never exceeds the distinct-x count.

    ``x`` must be numeric-castable (bucketing samples quantiles of
    ``x :: double`` — a monotone non-strict image, so equal x share a
    bucket and the exclusive frame stays exact); ``y`` any orderable
    type.  Rows with NULL in either dimension are excluded (NULL never
    dominates and is never on a frontier).  The reference has no
    ordering or join operators at all (SURVEY.md §2.7); this is the
    standard multi-criteria shortlist primitive (cheapest-vs-freshest,
    quality-vs-length) a corpus pipeline runs before human review.
    """
    xc = F.col(x) if isinstance(x, str) else x
    yc = F.col(y) if isinstance(y, str) else y
    base = df.filter(xc.isNotNull() & yc.isNotNull())
    perx = base.groupBy(xc.alias("_sk_x")).agg(F.max(yc).alias("_sk_my"))
    key = F.col("_sk_x").cast("double")
    boundaries = _boundaries(perx, key, _num_ranges(df, num_ranges))
    b = perx.withColumn("_gr_b", _bucket(key, boundaries))
    # bucket-local EXCLUSIVE prefix max (NULL on each bucket's first row)
    w_excl = (
        Window.partitionBy("_gr_b")
        .orderBy("_sk_x")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = b.withColumn("_sk_lpm", F.max("_sk_my").over(w_excl))
    # per-bucket max -> exclusive prefix max across buckets: <= num_ranges
    # rows, same deliberately-single-partition pmod spec as _offsets
    bmax = local.groupBy(F.col("_gr_b").alias("_gr_pid")).agg(
        F.max("_sk_my").alias("_sk_bm")
    )
    w_off = (
        Window.partitionBy(F.pmod(F.col("_gr_pid"), F.lit(1)))
        .orderBy("_gr_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = bmax.select(
        "_gr_pid", F.max("_sk_bm").over(w_off).alias("_sk_pm")
    )
    # greatest() skips NULLs: M<(x) = best y among ALL strictly-smaller x
    prevmax = (
        local.join(F.broadcast(offs), local["_gr_b"] == F.col("_gr_pid"))
        .select(
            "_sk_x",
            "_sk_my",
            F.greatest("_sk_lpm", "_sk_pm").alias("_sk_prev"),
        )
    )
    return (
        base.join(prevmax, xc == F.col("_sk_x"))
        .filter(
            (yc == F.col("_sk_my"))
            & (F.col("_sk_prev").isNull() | (F.col("_sk_prev") < yc))
        )
        .drop("_sk_x", "_sk_my", "_sk_prev")
    )
