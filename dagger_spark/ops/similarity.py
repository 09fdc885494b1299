"""Similarity search over embedding columns (array<float>).

Rows with NULL embeddings are excluded by every operator here: a vector-less
row can neither be searched nor clustered, and the DuckDB oracle errors on
NULL lists outright — exclusion is the engine-agnostic semantics.

Two paths, as the north star requires:

  * ``brute_force_topk`` — exact cosine top-k.  The query set is broadcast
    (it is small by construction); the corpus is scanned once, partition-
    parallel, and per-query top-k is a window over (query, score).  At 100 TB
    the scan dominates and parallelizes linearly; no shuffle of the corpus.

  * ``lsh_topk`` — sign-random-projection LSH: bucket every vector by the
    sign pattern of a set of deterministic pseudo-random hyperplanes (md5-
    derived coefficients), then search only matching buckets.  Trades recall
    for a bucket-local join; the scale path when the corpus no longer fits a
    full scan per query batch.

Dot products use ``zip_with``/``aggregate`` built-ins — JVM-side, no UDFs —
and every step is DuckDB-replayable (list_cosine_similarity for the oracle).
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..literals import lit_double_array, lit_int_array

#: single-slot memo for PQ codeword norms (see pq_topk): the plan-time
#: norms job runs once per (session, codebook), not once per call
_PQ_NORM_MEMO: dict = {}


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_sim(a: Column, b: Column) -> Column:
    d = norm(a) * norm(b)
    return F.when(d > 0, dot(a, b) / d).otherwise(F.lit(0.0))


def cosine_from_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine with the two norms STAGED in upstream projections.  In a
    pairwise join each side's norm is a per-row property; folding it inside
    the pair loop (plain ``cosine_sim``) recomputes it |pairs|/|rows| times
    — staging turns two O(dim) folds per pair into one multiply.  The
    arithmetic (fold order, na*nb then divide) is unchanged, so results are
    bit-identical to ``cosine_sim`` and oracle-stable."""
    d = na * nb
    return F.when(d > 0, dot(a, b) / d).otherwise(F.lit(0.0))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of `corpus` rows per `queries` row (self-matches
    excluded).  `queries` is broadcast; output: (query_id, neighbor_id, score
    rounded to 6), `rank` 1..k."""
    q = queries.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        norm(F.col(vec_col)).alias("__qn"),
    )
    c = corpus.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        norm(F.col(vec_col)).alias("__cn"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_from_norms(
                    F.col("qvec"), F.col("cvec"), F.col("__qn"), F.col("__cn")
                ),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _plane_coeffs(plane: int, dim: int) -> list:
    """Deterministic pseudo-random hyperplane coefficients in [-1, 1], derived
    from md5(plane:dim_index) — reproducible in any engine/language."""
    out = []
    for d in range(dim):
        h = hashlib.md5(f"{plane}:{d}".encode()).hexdigest()
        v = int(h[:8], 16) / 0xFFFFFFFF  # [0,1]
        out.append(2.0 * v - 1.0)
    return out


def lsh_bucket(vec: Column, planes: list) -> Column:
    """Sign pattern of `vec` against each hyperplane -> '01..' bucket key."""
    bits = [
        F.when(
            F.aggregate(
                F.zip_with(vec, lit_double_array(coeffs), lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            >= 0,
            F.lit("1"),
        ).otherwise(F.lit("0"))
        for coeffs in planes
    ]
    return F.concat(*bits)


def cosine_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.35,
    num_planes: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, score >= threshold),
    candidates restricted to one sign-random-projection LSH bucket.

    The self-join is keyed on the bucket string, so the pair space shrinks
    from n^2 to sum of per-bucket squares — the standard near-dup shape at
    100 TB (near-identical vectors agree on every plane sign, so recall loss
    only hits borderline pairs).  Deterministic planes → the oracle replays
    the identical bucketing.
    """
    planes = [_plane_coeffs(p, dim) for p in range(num_planes)]
    sides = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("v"),
        norm(F.col(vec_col)).alias("n"),
        lsh_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    a = sides.select(F.col("vid").alias("id_a"), F.col("v").alias("va"), F.col("n").alias("na"), "bucket")
    b = sides.select(F.col("vid").alias("id_b"), F.col("v").alias("vb"), F.col("n").alias("nb"), "bucket")
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                cosine_from_norms(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")),
                6,
            ).alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )


def _cell_of_from_centroids(cents: list):
    """Cell-assignment expression factory from explicit [(cid, vector), ...]
    centroids, shipped as three array literals (matrix, ids, norms) — see
    ``ivf_topk`` for why literals-not-scalars matters."""
    if not cents:
        raise ValueError("no centroids")
    cents = sorted((int(cid), list(cv)) for cid, cv in cents)
    cmat = lit_double_array([cv for _, cv in cents])
    cid_arr = lit_int_array([cid for cid, _ in cents])
    cn_arr = lit_double_array(
        [math.sqrt(sum(x * x for x in cv)) for _, cv in cents]
    )

    def cell_of(vec: Column, vnorm: Column, top: int) -> Column:
        def one(i: Column) -> Column:
            cn = F.element_at(cn_arr, i)
            return F.struct(
                F.round(
                    F.when(
                        vnorm * cn > 0,
                        dot(vec, F.element_at(cmat, i)) / (vnorm * cn),
                    ).otherwise(F.lit(0.0)),
                    9,
                ).alias("s"),
                F.element_at(cid_arr, i).alias("c"),
            )

        scored = F.transform(F.sequence(F.lit(1), F.lit(len(cents))), one)
        ranked = F.reverse(F.array_sort(scored))  # desc by (s, c)
        return F.slice(ranked, 1, top)

    return cell_of


def _centroid_literals(corpus, n_centroids, id_col, vec_col):
    """Deterministic coarse quantizer init: corpus rows with id <
    n_centroids, collected at plan time."""
    cents = [
        (r["cid"], list(r["v"]))
        for r in corpus.filter((F.col(id_col) < n_centroids) & F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("cid"), F.col(vec_col).cast("array<double>").alias("v"))
        .collect()
    ]
    if not cents:
        raise ValueError("no centroid rows (corpus ids all >= n_centroids)")
    return _cell_of_from_centroids(cents)


def assign_cells(
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list | None = None,
) -> DataFrame:
    """(id, vec, norm, cell): nearest-centroid assignment as a pure map —
    no shuffle; the quantizer rides along as plan-time literals.  The
    assignment step shared by IVF search and the k-means trainer.  Pass
    explicit ``centroids`` [(cid, vector), ...] to override the id-based
    deterministic init (the trainer's later rounds do)."""
    if centroids is not None:
        cell_of = _cell_of_from_centroids(centroids)
    else:
        cell_of = _centroid_literals(corpus, n_centroids, id_col, vec_col)
    staged = corpus.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("vec"),
        norm(F.col(vec_col)).alias("vnorm"),
    )
    return staged.select(
        "vec_id",
        "vec",
        "vnorm",
        cell_of(F.col("vec"), F.col("vnorm"), 1)[0]["c"].alias("cell"),
    )


def kmeans_train(
    corpus: DataFrame,
    k: int = 16,
    max_iters: int = 10,
    tol: float = 1e-6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Distributed k-means to convergence: iterate ``assign_cells`` (map-side,
    no shuffle) + dim-wise mean recompute (one (cell, dim)-keyed shuffle per
    round).  Only the k×dim centroid matrix ever reaches the driver — the
    corpus stays distributed; per-round driver traffic is O(k·dim) doubles.
    Deterministic: init = rows with id < k, cosine ties break to the larger
    cell id, empty cells keep their previous centroid.  Returns
    (centroids [(cid, vector), ...], iterations_run, last_max_shift).
    """
    cents = sorted(
        (int(r["cid"]), list(r["v"]))
        for r in corpus.filter((F.col(id_col) < k) & F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("cid"), F.col(vec_col).cast("array<double>").alias("v"))
        .collect()
    )
    if not cents:
        raise ValueError("no init rows (corpus ids all >= k)")
    shift = float("inf")
    iters = 0
    for iters in range(1, max_iters + 1):
        member = assign_cells(corpus, id_col=id_col, vec_col=vec_col, centroids=cents)
        means = (
            member.select(
                "cell", F.posexplode(F.col("vec").cast("array<double>")).alias("pos", "x")
            )
            .groupBy("cell", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        by_cell: dict = {}
        for r in means:
            by_cell.setdefault(r["cell"], {})[r["pos"]] = r["m"]
        new_cents = []
        shift = 0.0
        for cid, old in cents:
            dims = by_cell.get(cid)
            if dims is None:  # empty cell: keep previous centroid
                new_cents.append((cid, old))
                continue
            vec = [dims[p] for p in range(len(old))]
            shift = max(shift, max(abs(a - b) for a, b in zip(vec, old)))
            new_cents.append((cid, vec))
        cents = new_cents
        if shift <= tol:
            break
    return cents, iters, shift


def kmeans_step(
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One Lloyd iteration, long-form output: (cell, dim, mean_x, n_members).

    Assign = map-side nearest-centroid (cosine, deterministic ties by larger
    cell id); update = dim-wise mean via ``posexplode`` + grouped avg —
    the columnar formulation of centroid recomputation: ONE shuffle keyed by
    (cell, dim), map-side partial sums absorb the fan-out, and no executor
    ever holds more than a (cell, dim) accumulator.  Long form (one row per
    centroid dimension, 1-based ``dim``) keeps the cross-engine compare on
    scalars.  Iterating this to convergence IS distributed k-means; each
    round is this same plan re-run with the previous round's centroids.
    """
    member = assign_cells(corpus, n_centroids, id_col, vec_col)
    dims = member.select(
        "cell", F.posexplode(F.col("vec").cast("array<double>")).alias("pos", "x")
    )
    # n_members rides the SAME (cell, pos) aggregation as the means: for
    # fixed-dimension vectors (every catalog corpus; ragged inputs are a
    # caller error) each dim position sees exactly one row per member, so
    # count(x) per (cell, pos) == the member count — the old separate
    # per-cell count ran the whole map-side centroid assignment a second
    # time (guide §2.4/§7.2: the duplicated subtree was the expensive
    # 16-cosine pass, not the count itself) and joined it back.
    return dims.groupBy("cell", "pos").agg(
        F.round(F.avg("x"), 6).alias("mean_x"),
        F.count("x").alias("n_members"),
    ).select(
        "cell",
        (F.col("pos") + 1).cast("long").alias("dim"),
        "mean_x",
        F.col("n_members").cast("long").alias("n_members"),
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-flat approximate top-k: a coarse quantizer of `n_centroids` cells,
    map-side cell assignment, and per-query search limited to the `nprobe`
    nearest cells.

    The coarse quantizer is deliberately tiny (centroids = the corpus rows
    with id < n_centroids — deterministic, oracle-replayable); it is collected
    to the driver at PLAN time and shipped to every task as THREE array
    literals (centroid matrix, ids, norms), so cell assignment is a pure map
    — no shuffle, no window — and the only join is candidate-vs-query keyed
    on cell id.  Array literals matter: inlining n_centroids × dim scalar
    literal nodes (the naive form) makes every Catalyst pass walk a ~10k-node
    expression tree and costs seconds of DRIVER time per run; three Literal
    nodes + a `transform` over centroid indices is ~3× faster end-to-end at
    identical task-side arithmetic.  At 100 TB this is the inverted-file
    layout: partition/cluster the corpus by `cell` once, and each query batch
    touches only nprobe/n_centroids of the data.

    Tie-break on equal assignment scores: larger cell id wins (descending
    sort of struct(score, cid) — mirrored in the oracle's ORDER BY score
    DESC, cid DESC).  Scores are rounded to 9 before argmax so both engines
    compare the same doubles.
    """
    cell_of = _centroid_literals(corpus, n_centroids, id_col, vec_col)
    c_staged = corpus.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        norm(F.col(vec_col)).alias("__n"),
    )
    c = c_staged.select(
        "neighbor_id",
        "cvec",
        F.col("__n").alias("__cn"),
        cell_of(F.col("cvec"), F.col("__n"), 1)[0]["c"].alias("cell"),
    )
    q_staged = queries.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        norm(F.col(vec_col)).alias("__n"),
    )
    q = q_staged.select(
        "query_id",
        "qvec",
        F.col("__n").alias("__qn"),
        F.explode(
            F.transform(cell_of(F.col("qvec"), F.col("__n"), nprobe), lambda e: e["c"])
        ).alias("cell"),
    )
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_from_norms(
                    F.col("qvec"), F.col("cvec"), F.col("__qn"), F.col("__cn")
                ),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_planes: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket.

    With p planes the corpus splits into 2^p buckets; the candidate join is
    keyed on the bucket string, so each query touches ~1/2^p of the data.
    Same output shape as brute_force_topk (rank within found candidates).
    """
    planes = [_plane_coeffs(p, dim) for p in range(num_planes)]
    c = corpus.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        norm(F.col(vec_col)).alias("__cn"),
        lsh_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    q = queries.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        norm(F.col(vec_col)).alias("__qn"),
        lsh_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_from_norms(
                    F.col("qvec"), F.col("cvec"), F.col("__qn"), F.col("__cn")
                ),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def semdedup(
    corpus: DataFrame,
    n_centroids: int = 16,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic deduplication, the SemDeDup shape (Abbas et al. 2023,
    arXiv:2303.09540): cluster the corpus with a coarse quantizer, then
    prune near-duplicates CLUSTER-LOCALLY — a row is dropped when a
    higher-priority row in its cell has cosine similarity >= threshold.

    Exactly the paper's published implementation shape: rank the members of
    each cluster, compute the triangular pairwise-similarity matrix, and
    drop every point whose max similarity to an earlier-ranked point
    crosses the threshold.  Priority here is ascending id (deterministic,
    oracle-replayable); the paper's distance-to-centroid ranking is a
    drop-in change of the ORDER BY.

    Scale shape: assignment is a pure map (plan-time centroid literals, no
    shuffle — see ``ivf_topk``); the only shuffle is the cell-keyed
    self-join, so the pair space is sum-of-per-cell-squares, never n^2.
    At 100 TB the quantizer comes from ``kmeans_train`` and cells are
    written bucketed-by-cell so the self-join is co-located.

    Output: (vec_id, cell, kept) for every non-NULL-embedding row.
    """
    member = assign_cells(corpus, n_centroids, id_col, vec_col)
    a = member.select(
        F.col("vec_id").alias("id_a"), F.col("vec").alias("va"),
        F.col("vnorm").alias("na"), "cell",
    )
    b = member.select(
        F.col("vec_id").alias("id_b"), F.col("vec").alias("vb"),
        F.col("vnorm").alias("nb"), "cell",
    )
    dropped = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_b",
            F.round(
                cosine_from_norms(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")),
                6,
            ).alias("score"),
        )
        .filter(F.col("score") >= threshold)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("__dropped", F.lit(1))
    )
    return (
        member.join(dropped, "vec_id", "left")
        .select("vec_id", "cell", F.col("__dropped").isNull().alias("kept"))
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization ANN (Jegou et al. 2011, "Product Quantization
    for Nearest Neighbor Search"): split each vector into ``m`` subspaces,
    quantize every subvector to its nearest of ``ksub`` codewords, and
    search with asymmetric distance computation (ADC) — the query stays
    full-precision, each corpus row is reduced to its m-byte code, and
    distance is a sum of m lookup-table entries.

    This is the memory-compression scale path: at 100 TB of float
    embeddings the PQ code table is ~dim*4/m x smaller (64-dim float ->
    8 bytes/vector here), so the ADC scan that replaces the brute-force
    dot product reads codes, not vectors.  Encoding is a pure map over
    plan-time codebook literals (no shuffle); the scan is
    corpus-partition-parallel with the query LUTs broadcast.

    Codebooks are deterministic and oracle-replayable: codeword j of
    subspace s is the s-th slice of the corpus row with id == j (j <
    ksub) — the k-means-trained codebook drops in by replacing the
    literal source with ``kmeans_train`` per subspace.  Squared-L2 via
    the three-dot-product identity (|a|^2+|b|^2-2ab), rounded to 9
    before the argmin / LUT so both engines compare identical doubles;
    argmin ties go to the smaller codeword id.

    Output: (query_id, neighbor_id, adist rounded 6, rank 1..k) by
    ascending approximate distance, self-matches excluded.
    """
    rows = sorted(
        (int(r["cid"]), list(r["v"]))
        for r in corpus.filter((F.col(id_col) < ksub) & F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("cid"), F.col(vec_col).cast("array<double>").alias("v"))
        .collect()
    )
    if not rows:
        raise ValueError("no codebook rows (corpus ids all >= ksub)")
    dim = len(rows[0][1])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    # cb[s][j] = j-th codeword of subspace s.  |codeword|^2 is computed
    # IN-PLAN with the same dot() used for the query subvectors — keeping a
    # single float-summation implementation on the parity surface (a
    # driver-side Python sum would be a third fold whose one-ULP drift could
    # flip an argmin tie vs the DuckDB oracle, which also norms in-plan).
    cb = [
        [v[s * dsub:(s + 1) * dsub] for _, v in rows]
        for s in range(m)
    ]
    cbmat = lit_double_array(cb)
    n_codes = len(rows)
    # |codeword|^2 folded ONCE each in a one-row JVM job and embedded as a
    # literal: the inline dot(cw, cw) form re-folded every norm per
    # (corpus row x subspace x codeword) — m*ksub*dsub = 1024 redundant
    # multiply-adds per row.  The JVM fold is arithmetically IDENTICAL to
    # dot(cw, cw) (multiply-then-accumulate, left order), so the literal
    # doubles are bit-equal to what the per-row fold produced — parity
    # unchanged, still no third summation implementation — and the collect
    # ships only m*ksub plan-time doubles, same class as the codebook.
    # One nested-lambda expression (not m*ksub separate folds: Janino
    # compile of 128 column trees measurably dominates) and a per-session
    # memo (the norms job would otherwise rerun per pq_topk call).
    spark = corpus.sparkSession
    memo_key = (spark.sparkContext.applicationId, m, n_codes,
                tuple(r[0] for r in rows), str(cb))
    cwn2 = _PQ_NORM_MEMO.get(memo_key)
    if cwn2 is None:
        cwn2 = spark.range(1).select(
            F.transform(
                cbmat,
                lambda sub: F.transform(
                    sub,
                    lambda cw: F.aggregate(
                        cw, F.lit(0.0), lambda acc, v: acc + v * v
                    ),
                ),
            ).alias("n2")
        ).head()["n2"]
        _PQ_NORM_MEMO.clear()  # single slot: codebooks change per corpus
        _PQ_NORM_MEMO[memo_key] = cwn2
    cwn2mat = lit_double_array([list(r) for r in cwn2])

    def _sqdist(sub, subn2, s, j):
        # |sub - cb[s][j]|^2 via the dot-product identity, rounded to 9
        cw = F.element_at(F.element_at(cbmat, s), j)
        n2 = F.element_at(F.element_at(cwn2mat, s), j)
        return F.round(subn2 + n2 - 2 * dot(sub, cw), 9)

    def codes_of(v):
        def one_s(s):
            sub = F.slice(v, (s - 1) * dsub + 1, dsub)
            subn2 = dot(sub, sub)
            scored = F.transform(
                F.sequence(F.lit(1), F.lit(n_codes)),
                lambda j: F.struct(
                    _sqdist(sub, subn2, s, j).alias("d"),
                    j.cast("int").alias("j"),
                ),
            )
            # asc sort by (d, j): argmin with ties to the smaller codeword
            return F.element_at(F.array_sort(scored), 1)["j"]

        return F.transform(F.sequence(F.lit(1), F.lit(m)), one_s)

    def lut_of(v):
        def one_s(s):
            sub = F.slice(v, (s - 1) * dsub + 1, dsub)
            subn2 = dot(sub, sub)
            return F.transform(
                F.sequence(F.lit(1), F.lit(n_codes)),
                lambda j: _sqdist(sub, subn2, s, j),
            )

        return F.transform(F.sequence(F.lit(1), F.lit(m)), one_s)

    c = corpus.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("neighbor_id"),
        codes_of(F.col(vec_col).cast("array<double>")).alias("cs"),
    )
    q = queries.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("query_id"),
        lut_of(F.col(vec_col).cast("array<double>")).alias("lut"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                F.aggregate(
                    F.sequence(F.lit(1), F.lit(m)),
                    F.lit(0.0),
                    lambda acc, i: acc
                    + F.element_at(
                        F.element_at(F.col("lut"), i),
                        F.element_at(F.col("cs"), i),
                    ),
                ),
                6,
            ).alias("adist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adist"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def rp_signs(j: int, dim: int) -> list:
    """Row j of the ±1 Johnson–Lindenstrauss projection matrix (Achlioptas
    2003 sign variant), derived from md5(rp:j:d) so any engine replays the
    identical matrix — same determinism contract as ``_plane_coeffs``."""
    return [
        1.0 if int(hashlib.md5(f"rp:{j}:{d}".encode()).hexdigest()[:8], 16) % 2 == 0
        else -1.0
        for d in range(dim)
    ]


def project_rp(vec: Column, out_dim: int, dim: int) -> Column:
    """JL sign-projection of a staged vector column to ``out_dim``
    components (each a ±1 dot fold — same left-fold order as ``dot`` so
    the DuckDB ``list_dot_product`` twin is bit-identical)."""
    return F.array(*[
        dot(vec, lit_double_array(rp_signs(j, dim)))
        for j in range(out_dim)
    ])


def rp_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    out_dim: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k in Johnson–Lindenstrauss-projected space:
    both sides project 64 -> ``out_dim`` dims through the shared ±1 sign
    matrix, then score exactly like ``brute_force_topk`` but over the short
    vectors — a 4x cut in per-comparison compute AND in at-rest vector
    bytes.  At 100 TB the corpus is projected ONCE at write time and only
    the 16-double sketch column is scanned; exact duplicates stay rank-1
    with score 1.0 (identical inputs project identically), and JL's
    distance-preservation bound degrades gracefully for near-ties.
    Projection + norm are staged per side so the pair loop is one
    zip_with fold over 16 elements.

    Rows whose vector is not exactly ``dim`` long are EXCLUDED, same as
    NULLs: zip_with null-pads a short vector, the null poisons the fold,
    and the cosine's null-guard would silently flatten every score to
    0.0 — a wrong-dim corpus would "work" with garbage ranks while the
    DuckDB oracle errors loudly.  Explicit exclusion makes both engines
    agree AND surfaces the mismatch in row counts."""
    ok = F.col(vec_col).isNotNull() & (F.size(vec_col) == dim)
    q = queries.filter(ok).select(
        F.col(id_col).alias("query_id"),
        project_rp(F.col(vec_col), out_dim, dim).alias("qvec"),
    ).select("query_id", "qvec", norm(F.col("qvec")).alias("__qn"))
    c = corpus.filter(ok).select(
        F.col(id_col).alias("neighbor_id"),
        project_rp(F.col(vec_col), out_dim, dim).alias("cvec"),
    ).select("neighbor_id", "cvec", norm(F.col("cvec")).alias("__cn"))
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_from_norms(
                    F.col("qvec"), F.col("cvec"), F.col("__qn"), F.col("__cn")
                ),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def contrastive_triplets(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Training-triplet mining for embedding models: per anchor, the
    POSITIVE is its exact cosine top-1 neighbor and the NEGATIVE is a
    deterministic hash-random corpus row (min md5(anchor:candidate),
    positives and self excluded) — the standard (anchor, positive,
    random-negative) batch shape contrastive losses train on, with the
    margin reported so collapsed/near-tie anchors are visible in data.

    ONE scored pass serves both roles: queries broadcast, the corpus is
    scanned once producing (anchor, candidate, score, hash), and two
    windows over the same anchor-keyed partitioning pick top-score and
    min-hash respectively — no second scan, no shuffle beyond the window.
    Deterministic end to end (md5 + rounded-score ranking with id
    tiebreaks), so the DuckDB oracle replays it exactly.  At 100 TB the
    negative sampler stays O(corpus) per batch but embarrassingly
    parallel; swap in bucketed ANN positives (ann_lsh/ivf) when exact
    top-1 is too expensive."""
    q = queries.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("anchor_id"),
        F.col(vec_col).alias("qvec"),
    ).select("anchor_id", "qvec", norm(F.col("qvec")).alias("__qn"))
    c = corpus.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("cvec"),
    ).select("cand_id", "cvec", norm(F.col("cvec")).alias("__cn"))
    scored = (
        c.join(F.broadcast(q), F.col("cand_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            "cand_id",
            F.round(
                cosine_from_norms(
                    F.col("qvec"), F.col("cvec"), F.col("__qn"), F.col("__cn")
                ),
                6,
            ).alias("score"),
            F.md5(
                F.concat_ws(":", F.col("anchor_id"), F.col("cand_id"))
            ).alias("__h"),
        )
    )
    wp = Window.partitionBy("anchor_id").orderBy(
        F.desc("score"), F.asc("cand_id")
    )
    ranked = scored.withColumn("__rk", F.row_number().over(wp))
    pos = ranked.filter(F.col("__rk") == 1).select(
        "anchor_id",
        F.col("cand_id").alias("pos_id"),
        F.col("score").alias("pos_score"),
    )
    wn = Window.partitionBy("anchor_id").orderBy(F.asc("__h"), F.asc("cand_id"))
    neg = (
        ranked.filter(F.col("__rk") > 1)  # positives (and self) excluded
        .withColumn("__nk", F.row_number().over(wn))
        .filter(F.col("__nk") == 1)
        .select(
            "anchor_id",
            F.col("cand_id").alias("neg_id"),
            F.col("score").alias("neg_score"),
        )
    )
    return pos.join(neg.hint("shuffle_hash"), "anchor_id").select(
        "anchor_id", "pos_id", "pos_score", "neg_id", "neg_score",
        F.round(F.col("pos_score") - F.col("neg_score"), 6).alias("margin"),
    )


def sq8_quantize(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Scalar (int8) quantization of an embedding corpus — the 4x memory
    lever every large ANN deployment pulls before PQ: per-DIMENSION
    min/max over the corpus define a 256-level uniform grid, each value
    maps to ``code = round((v - mn) * 255 / (mx - mn))``, and the
    reconstruction ``mn + code * (mx - mn) / 255`` is what distance
    computations run against.

    Returns the exploded code frame ``(id_col, j, v, code, recon)`` —
    one row per (vector, dimension) with the original double, the int8
    code, and the reconstructed double, from which callers derive
    storage or error gauges.

    Scale shape: one posexplode + one dim-keyed aggregate (output rows =
    dim, broadcast back) + one codegen'd map.  Every float op here is
    ELEMENTWISE (sub, mul, div, round) with an identical expression tree
    in the DuckDB oracle, so codes are bit-reproducible cross-engine; a
    constant dimension (mx == mn) quantizes to code 0 and reconstructs
    exactly."""
    vals = emb.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("j", "v"),
    )
    stats = vals.groupBy("j").agg(
        F.min("v").alias("__mn"), F.max("v").alias("__mx")
    )
    span = F.col("__mx") - F.col("__mn")
    code = F.when(span == 0, F.lit(0)).otherwise(
        F.round((F.col("v") - F.col("__mn")) * 255.0 / span, 0)
    ).cast("long")
    out = vals.join(F.broadcast(stats), "j").withColumn("code", code)
    recon = F.col("__mn") + F.col("code") * (F.col("__mx") - F.col("__mn")) / 255.0
    return out.select(
        id_col, "j", "v", "code", recon.alias("recon")
    )
