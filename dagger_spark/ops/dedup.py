"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Design for 100 TB:
  * exact dedup is a single hash-aggregate (map-side partial combine);
  * MinHash/LSH turns the O(n^2) near-dup problem into a shuffle keyed by
    (band, bucket-hash) — candidate pairs only form inside buckets, which is
    the standard shingle->minhash->band->bucket-join pipeline;
  * all hashing is md5-based and deterministic so DuckDB can replay every
    step for the differential oracle (no JVM-private hash functions).

No UDFs — everything is higher-order built-ins (`transform`, `aggregate`,
`array_min`) over arrays.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..literals import lit_int_array
from .text import tokens


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest id per exact (md5) text duplicate group.

    One hash-shuffle; the groupBy(md5) formulation (vs dropDuplicates) is
    deterministic and keeps the survivor choice explicit.
    """
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.min(F.col(id_col)).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def word_shingles(text: Column, k: int = 3) -> Column:
    """Distinct word k-gram shingles (space-joined), sorted for determinism.
    A doc with no tokens has NO shingles (empty array, not ['']): an empty
    document carries no content signal, so it must never form near-dup
    candidates — this also matches the SQL-oracle semantics, where
    array_to_string over an empty slice yields NULL and drops out."""
    from .text import bind

    def shingles(toks: Column) -> Column:
        n = F.size(toks)
        grams = F.transform(
            F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
        )
        return F.when(n == 0, F.array().cast("array<string>")).otherwise(
            F.array_sort(F.array_distinct(grams))
        )

    # let-bound (text.bind): the tokenizer runs once, not once per shingle
    return bind(tokens(text), shingles)


_MOD31 = 2147483648  # 2^31
_PRIME31 = 2147483647  # Mersenne prime 2^31-1


def minhash_params(num_hashes: int = 16) -> list:
    """Deterministic (a, b) affine-hash coefficients, a in [1, 2^31-1],
    b in [0, 2^31) — md5-derived so any engine can regenerate them."""
    out = []
    for j in range(num_hashes):
        hj = hashlib.md5(f"mh:{j}".encode()).hexdigest()
        a = int(hj[:8], 16) % (_PRIME31 - 1) + 1
        b = int(hj[8:16], 16) % _MOD31
        out.append((a, b))
    return out


def shingle_hashes(shingles: Column) -> Column:
    """One 60-bit integer hash per shingle: first 15 hex chars of md5 →
    bigint.  This is the ONLY string hashing in the minhash pipeline; the
    16 hash functions are integer affine transforms of it."""
    return F.transform(
        shingles,
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"),
    )


def minhash_signature_from_hashes(hs: Column, num_hashes: int = 16) -> Column:
    """MinHash signature over precomputed shingle hashes: sig[j] =
    min over shingles of (a_j * (h mod 2^31) + b_j) mod (2^31-1).

    Integer universal-hash family instead of md5-per-(j, shingle): the md5
    work drops by num_hashes×, and the min-fold is int64 arithmetic inside
    codegen.  Exactly replayable in DuckDB ('0x'||hex cast + same moduli).
    """
    def affine(a: int, b: int):
        return lambda h: (F.lit(a) * (h % _MOD31) + F.lit(b)) % _PRIME31

    return F.array(
        *[
            F.array_min(F.transform(hs, affine(a, b)))
            for a, b in minhash_params(num_hashes)
        ]
    )


def minhash_signature(shingles: Column, num_hashes: int = 16) -> Column:
    """MinHash signature straight from shingle strings (single-Column form).
    Prefer staging ``shingle_hashes`` in a projection first (as
    ``bucketed_minhash`` does) so each shingle is md5'd once, not once per
    hash function."""
    return minhash_signature_from_hashes(shingle_hashes(shingles), num_hashes)


def minhash_bands(sig: Column, bands: int, rows_per_band: int) -> Column:
    """Band the signature for LSH: array of (band_id, bucket_hash) structs.
    Signature values are bigints; they are rendered as decimal strings for
    the band hash (DuckDB's array_to_string renders identically)."""
    sig_str = F.transform(sig, lambda v: v.cast("string"))
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.alias("band"),
            F.md5(F.concat_ws("|", F.slice(sig_str, b * rows_per_band + 1, rows_per_band))).alias("bucket"),
        ),
    )


def shingled_docs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", shingle_k: int = 3
) -> DataFrame:
    """(id, sh) with STAGED projections: tokens, then shingles.  Each stage's
    output is referenced many times by the next, so Catalyst keeps the
    project boundaries (CollapseProject only inlines cheap or single-use
    expressions) — the text is split once per row, not once per shingle."""
    toks = df.select(F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("__toks"))
    n = F.size(F.col("__toks"))
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n - (shingle_k - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(F.col("__toks"), i, shingle_k)),
    )
    # distinct but NOT sorted: everything downstream (minhash min-fold,
    # jaccard intersect/union sizes) is order-independent, so the per-doc
    # O(S log S) string sort would be pure waste.  Token-less docs get an
    # EMPTY shingle set (see word_shingles) — they carry no content signal
    # and must not alias each other through a '' shingle
    sh = F.when(n == 0, F.array().cast("array<string>")).otherwise(
        F.array_distinct(grams)
    )
    return toks.select("id", sh.alias("sh"))


def hashed_docs(sh: DataFrame) -> DataFrame:
    """(id, hs, nsh) from a pre-shingled (id, sh) relation: each shingle
    md5'd ONCE into a 60-bit bigint.  This single hashed table feeds both
    LSH bucketing (minhash = integer affine mins over hs) and Jaccard
    verification (intersect on hs) — one md5 pass over the corpus total."""
    return sh.select(
        "id",
        shingle_hashes(F.col("sh")).alias("hs"),
        F.size(F.col("sh")).alias("nsh"),
    )


def minhash_signatures(hashed: DataFrame, num_hashes: int = 16) -> DataFrame:
    """(id, hs, nsh, sig) — the hashed table plus its MinHash signature
    array.  This is THE shareable stage of the whole near-dup family: all
    the md5 + min-fold work lives here, while banding choices (4×4 for
    candidate generation, 8×2 for high-recall Jaccard verify, …) are cheap
    slices of the same 16-value signature.  Persist ONE of these and every
    dedup operator (candidates, Jaccard verify, clustering) reads from it —
    one tokenize/md5 pass over the corpus total.  Docs with no shingles get
    a NULL sig (no content signal → never a candidate)."""
    return hashed.withColumn(
        "sig",
        F.when(
            F.size(F.col("hs")) > 0,
            minhash_signature_from_hashes(F.col("hs"), num_hashes),
        ),
    )


def lsh_buckets(sigs: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """(id, band, bucket) from a (id, sig) relation (``minhash_signatures``).
    NULL-signature rows (shingle-less docs) generate no buckets — the SQL
    oracle's NULL-signature rows drop out of its bucket join the same way."""
    return (
        sigs.filter(F.col("sig").isNotNull())
        .select(
            "id",
            F.explode(minhash_bands(F.col("sig"), bands, rows_per_band)).alias("bb"),
        )
        .select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    )


def candidate_pairs_from_buckets(bucketed: DataFrame) -> DataFrame:
    """(id_a < id_b) distinct pairs sharing any (band, bucket).  The shuffle
    key is (band, bucket) — data-local, no cross join; a pair sharing
    multiple bands is emitted once."""
    left = bucketed.alias("l")
    right = bucketed.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )


def bucketed_minhash_from_hashes(
    hashed: DataFrame, num_hashes: int = 16, bands: int = 4
) -> DataFrame:
    """(id, band, bucket) from a pre-hashed (id, hs) relation (see
    ``hashed_docs``).  The staged projection boundary stops Catalyst inlining
    the hash array into every one of the ``num_hashes`` min-folds."""
    return lsh_buckets(
        minhash_signatures(hashed, num_hashes), bands, num_hashes // bands
    )


def bucketed_minhash_from_shingles(
    sh: DataFrame, num_hashes: int = 16, bands: int = 4
) -> DataFrame:
    """(id, band, bucket) from a pre-shingled (id, sh) relation."""
    return bucketed_minhash_from_hashes(hashed_docs(sh), num_hashes, bands)


def bucketed_minhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """(id, band, bucket) LSH bucket assignments straight from text."""
    sh = shingled_docs(df, text_col, id_col, shingle_k)
    return bucketed_minhash_from_shingles(sh, num_hashes, bands)


def minhash_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    sigs: DataFrame = None,
) -> DataFrame:
    """Near-duplicate candidate pairs (id_a < id_b) via MinHash LSH.

    Shuffle keys are (band, bucket) — data-local, no cross join anywhere.
    A pair sharing multiple bands is emitted once (distinct).  The bucket
    table is persisted so the self-join reuses one signature computation
    instead of re-scanning and re-hashing per side — at scale this is the
    difference between one and two passes over the corpus.

    Pass a pre-staged ``sigs`` relation (``minhash_signatures``, ideally
    persisted) to share the tokenize/md5/min-fold work with other dedup
    operators; ``shingle_k`` is then ignored (baked into the stage).
    """
    if sigs is None:
        sigs = minhash_signatures(
            hashed_docs(shingled_docs(df, text_col, id_col, shingle_k)), num_hashes
        ).persist()
    bucketed = lsh_buckets(sigs, bands, num_hashes // bands)
    return candidate_pairs_from_buckets(bucketed)


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iters: int = 20,
    stats: dict = None,
) -> DataFrame:
    """Connected components by alternating large-star/small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    converges in O(log n) rounds on ANY topology, unlike min-label
    propagation whose round count equals the graph diameter (a 10k-doc
    chain of near-dups would need 10k propagation rounds but ~5 star
    rounds).  Each round is two join+aggregate passes, fully distributed;
    the only driver-side values are the per-round convergence fingerprint
    (count + hash-sum), never the labels.

      large-star(u): m = min(N(u) ∪ {u}); for v ∈ N(u), v > u: edge (v, m)
      small-star(u): over the (big → small) edges, m = min smaller
        neighbor; every smaller neighbor and u itself point at m.

    The edge set shrinks toward a star forest whose centers are component
    minima; convergence = the edge set reaches a fixed point.

    Returns (id, cluster) where cluster = min vertex id in the component.
    ``stats`` (optional dict) receives {"rounds": n} for observability.
    """
    def _truncate(df: DataFrame) -> DataFrame:
        # Iterative lineage MUST be cut each round: every round's plan embeds
        # the previous round's ~8 times (sym/large/small each reference their
        # input more than once), so without truncation the logical plan grows
        # 8^rounds and analysis itself OOMs the driver.  Reliable checkpoint
        # when the session has a checkpoint dir (the cluster setting),
        # executor-local checkpoint otherwise (self-contained local runs).
        sc = df.sparkSession.sparkContext
        has_dir = sc._jsc.sc().getCheckpointDir().isDefined()
        # LAZY local checkpoint (round 13): the plan is truncated either
        # way (the returned frame is a LogicalRDD), but eager=True spends
        # a dedicated count job per truncation — and every _truncate call
        # here is immediately followed by the fingerprint collect, whose
        # single-reference job materializes (and caches) the checkpointed
        # partitions anyway.  Measured: 2 driver jobs/round -> 1, results
        # byte-identical.  The reliable-checkpoint branch stays eager:
        # a lazy RDD checkpoint recomputes its lineage when writing.
        return df.checkpoint(eager=True) if has_dir else df.localCheckpoint(eager=False)

    from .tuning import size_coalesced_rounds

    # The INITIAL edge materialization runs OUTSIDE the size-coalesced
    # scope: its lineage is the caller's pair pipeline (LSH bucket
    # self-joins, pandas-UDF image hashing, …), and byte-sized coalescing
    # of those compute-heavy post-shuffle stages serializes real work
    # (measured: multimodal_phash_clusters 2.6 s -> 4.8 s when the scope
    # covered this materialization).  Only the star rounds — pure
    # (long, long) shuffles over the already-checkpointed edge list — go
    # inside the scope below.
    e = _truncate(
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    # hash-sum widened to decimal: int64 sum of xxhash64 would
    # overflow (and ANSI mode makes that a runtime error, not a wrap)
    fingerprint = (
        F.count(F.lit(1)),
        F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")),
    )
    # size-coalesce the rounds' post-shuffle partitions: each star round
    # shuffles two (long, long) columns across ~6 stages, and the default
    # parallelism-first AQE split pays per-task overhead on near-empty
    # partitions for every one of them (ops/tuning; same rationale as
    # pagerank_int).
    with size_coalesced_rounds(edges.sparkSession):
        prev_fp = e.select(*fingerprint).collect()[0]
        rounds = 0
        for _ in range(max_iters):
            if prev_fp[0] == 0:
                break
            rounds += 1
            # large star over the symmetric neighborhood
            sym = e.union(
                e.select(F.col("b").alias("a"), F.col("a").alias("b"))
            )
            mins = sym.groupBy("a").agg(F.min("b").alias("__mb")).select(
                "a", F.least(F.col("__mb"), F.col("a")).alias("m")
            )
            large = (
                sym.join(mins, "a")
                .filter(F.col("b") > F.col("a"))
                .select(F.col("b").alias("a"), F.col("m").alias("b"))
                .filter(F.col("a") != F.col("b"))
                .distinct()
            )
            # small star: edges are now (big -> small); every smaller
            # neighbor of a — and a itself — points at a's minimum
            # smaller neighbor
            m2 = large.groupBy("a").agg(F.min("b").alias("m"))
            small = _truncate(
                large.join(m2, "a")
                .select(F.col("b").alias("a"), F.col("m").alias("b"))
                .union(m2.select(F.col("a"), F.col("m").alias("b")))
                .filter(F.col("a") != F.col("b"))
                .distinct()
            )
            fp = small.select(*fingerprint).collect()[0]
            e.unpersist()
            e = small
            if tuple(fp) == tuple(prev_fp):
                break
            prev_fp = fp
    if stats is not None:
        stats["rounds"] = rounds
    # One row per vertex even if max_iters exhausted before the fixed
    # point: a non-converged edge set can still hold edges to TWO minima
    # for one vertex, and a bare join would fan out to conflicting
    # (id, cluster) rows — min-aggregate first so the invariant the old
    # label-propagation code guaranteed (unique label per id) survives
    # early exit.  At the fixed point this is a no-op.
    roots = e.groupBy(F.col("a").alias("id")).agg(F.min("b").alias("__root"))
    # shuffle-hash, not sort-merge: roots arrives as a checkpointed RDD with
    # no stats, so the planner defaults to SMJ — both sides are vertex-sized
    # (broadcast would be wrong at scale) and the equi-join needs no order
    labels = vertices.select(F.col(id_col).alias("id")).join(
        roots.hint("shuffle_hash"), "id", "left"
    ).select(
        "id", F.coalesce(F.col("__root"), F.col("id")).alias("cluster")
    )
    return labels


def dedup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    sigs: DataFrame = None,
) -> DataFrame:
    """Near-duplicate CLUSTER assignment: MinHash-LSH candidate pairs form a
    graph; connected components give each doc a cluster id (= the minimum
    doc id in its component; isolated docs are their own cluster).  The
    keep-one-per-cluster training-data dedup policy is then
    ``filter(doc_id == cluster)``."""
    pairs = minhash_candidate_pairs(
        df, text_col, id_col, shingle_k, num_hashes, bands, sigs=sigs
    )
    verts = df.select(F.col(id_col).alias("id"))
    comp = connected_components(
        verts, pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    return comp.select(F.col("id").alias(id_col), F.col("cluster"))


def jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 2,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 8,
    sigs: DataFrame = None,
) -> DataFrame:
    """n-gram Jaccard near-dup: LSH candidates -> exact Jaccard verify.

    The verify join re-attaches the HASHED shingle arrays (60-bit bigints,
    see ``hashed_docs``) to the candidate pair list — two broadcast-able
    joins — then filters by true Jaccard.  Verification runs entirely on
    integer arrays: |A∩B| = size(array_intersect(hs_a, hs_b)) and
    |A∪B| = nsh_a + nsh_b − |A∩B| (no union array is ever materialized;
    string compares never happen in the per-pair loop).  ONE persisted
    signature table feeds candidate generation AND both verify sides, so the
    corpus is tokenized/shingled/md5'd exactly once.  Within-doc 60-bit
    hash collisions (P ≈ S²/2⁶¹ per doc) are the usual MinHash trade and
    replay identically in the DuckDB oracle, which hashes the same way.

    Pass a pre-staged ``sigs`` relation (``minhash_signatures``, ideally
    persisted) to share the stage with the rest of the dedup family;
    ``shingle_k`` is then ignored (baked into the stage).  Banding stays an
    operator-local choice: 8 bands × 2 rows keeps candidate recall high at
    low thresholds, independent of what candidate generation uses.
    """
    if sigs is None:
        sigs = minhash_signatures(
            hashed_docs(shingled_docs(df, text_col, id_col, shingle_k)), num_hashes
        ).persist()
    cands = candidate_pairs_from_buckets(
        lsh_buckets(sigs, bands, num_hashes // bands)
    )
    hdocs = sigs
    a = hdocs.alias("a")
    b = hdocs.alias("b")
    inter = F.size(F.array_intersect(F.col("a.hs"), F.col("b.hs"))).cast("double")
    union = (F.col("a.nsh") + F.col("b.nsh")).cast("double") - inter
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        cands.join(a, cands.id_a == F.col("a.id"))
        .join(b, cands.id_b == F.col("b.id"))
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def simhash_votes(hashes: Column, bits: int = 32) -> Column:
    """Per-bit vote sums for SimHash in ONE pass over the token-hash array:
    fold an array of ``bits`` counters, each token contributing +1/-1 per
    position from ``(h & 2^p) != 0`` (exact int64 ops in both engines).
    The naive per-bit formulation re-walks the token array ``bits`` times;
    this walks it once, zip-adding a 32-wide contribution vector per token
    — measured ~1.4× faster at identical vote sums."""
    pw = lit_int_array([1 << p for p in range(bits)])

    def contrib(h: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(1), F.lit(bits)),
            lambda p: F.when(
                h.bitwiseAND(F.element_at(pw, p)) != 0, F.lit(1)
            ).otherwise(F.lit(-1)),
        )

    return F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(acc, contrib(h), lambda a, b: a + b),
    )


def simhash_from_hashes(hashes: Column, bits: int = 32) -> Column:
    """SimHash bit string from a precomputed array of 60-bit integer token
    hashes (see ``shingle_hashes``): char at position p+1 is '1' iff the
    vote sum for bit p is > 0."""
    return F.array_join(
        F.transform(
            simhash_votes(hashes, bits),
            lambda v: F.when(v > 0, F.lit("1")).otherwise(F.lit("0")),
        ),
        "",
    )


def simhash_int_from_hashes(hashes: Column, bits: int = 32) -> Column:
    """SimHash as ONE integer (bit p of the long = bit p of the signature,
    i.e. ``sig_int & 2^p != 0`` ⟺ string sig char p+1 == '1').  The integer
    form is what pair verification wants: Hamming distance collapses to
    ``bit_count(a XOR b)`` and prefix blocking to a mask — no per-position
    string compares."""
    pw = lit_int_array([1 << p for p in range(bits)])
    return F.aggregate(
        F.zip_with(
            simhash_votes(hashes, bits),
            pw,
            lambda v, w: F.when(v > 0, w.cast("long")).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda a, b: a + b,
    )


def simhash(text: Column, bits: int = 32) -> Column:
    """SimHash over whitespace tokens (single-Column form).  Prefer
    ``simhash_df`` in pipelines: it stages the per-token hash so each token
    is md5'd once instead of once per bit position."""
    return simhash_from_hashes(shingle_hashes(tokens(text)), bits)


def simhash_df(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32
) -> DataFrame:
    """(id, sig string): staged SimHash — tokenize, hash each token to a
    60-bit int ONCE (projection boundary keeps the md5 out of the vote
    fold), then one vote pass over the hash array."""
    hashed = df.select(
        F.col(id_col).alias("doc_id"),
        shingle_hashes(tokens(F.col(text_col))).alias("__hashes"),
    )
    return hashed.select("doc_id", simhash_from_hashes(F.col("__hashes"), bits).alias("sig"))


def simhash_int_df(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32
) -> DataFrame:
    """(id, sig_int): integer-signature variant of ``simhash_df`` — same
    votes, packed into one long for bit_count/mask-based pair work."""
    hashed = df.select(
        F.col(id_col).alias("doc_id"),
        shingle_hashes(tokens(F.col(text_col))).alias("__hashes"),
    )
    return hashed.select(
        "doc_id", simhash_int_from_hashes(F.col("__hashes"), bits).alias("sig_int")
    )


def simhash_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    prefix_bits: int = 8,
    max_hamming: int = 4,
) -> DataFrame:
    """SimHash near-duplicate pairs: same ``prefix_bits`` signature prefix →
    candidate, verified by full Hamming distance <= ``max_hamming``.

    The prefix is the standard multi-probe shortcut: near-identical docs
    agree on (almost) every bit, so block-on-prefix keeps the self-join
    bucket-local instead of n².  (A production variant unions several
    rotated prefixes to cover near-misses in the first block; one block
    keeps the oracle simple and the shape identical.)

    Signatures travel as INTEGERS: the block key is ``sig & (2^prefix_bits
    - 1)`` (bits 0..prefix_bits-1 ≡ the string prefix) and the verify is
    ``bit_count(sig_a XOR sig_b)`` — one xor+popcount per pair instead of
    ``bits`` per-position string compares (measured ~10× on the verify
    stage; pair set and distances are identical, so the string-based
    DuckDB oracle is unchanged).
    """
    sigs = simhash_int_df(df, text_col, id_col, bits).persist()
    mask = F.lit((1 << prefix_bits) - 1)
    a = sigs.select(
        F.col("doc_id").alias("id_a"),
        F.col("sig_int").alias("sig_a"),
        F.col("sig_int").bitwiseAND(mask).alias("pfx"),
    )
    b = sigs.select(
        F.col("doc_id").alias("id_b"),
        F.col("sig_int").alias("sig_b"),
        F.col("sig_int").bitwiseAND(mask).alias("pfx"),
    )
    return (
        a.join(b, "pfx")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_multiprobe_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    probes: int = 4,
    probe_bits: int = 8,
    max_hamming: int = 4,
) -> DataFrame:
    """Multi-probe SimHash near-dup pairs: candidates from ``probes``
    DISJOINT ``probe_bits``-wide signature fields, unioned, then verified by
    full Hamming distance.

    Single-prefix blocking misses any pair whose differing bits fall inside
    the one block (recall ≈ P(all diffs outside prefix)); with 4 disjoint
    8-bit probes over a 32-bit signature, a pair at Hamming distance d ≤ 3
    is GUARANTEED captured (pigeonhole: d < probes forces some untouched
    field), and d=4 is missed only when each probe field eats exactly one
    differing bit.  Cost: ``probes`` bucket-local self-joins over the same
    persisted signature table — still nothing n², and each join's block key
    is a bit-masked integer.  Probe r blocks on ``(sig >> r*probe_bits) &
    (2^probe_bits - 1)``; the verify is ``bit_count(sig_a XOR sig_b)``.
    """
    sigs = simhash_int_df(df, text_col, id_col, bits).persist()
    mask = (1 << probe_bits) - 1

    def field(sig_col: Column, r: int) -> Column:
        return F.shiftright(sig_col, r * probe_bits).bitwiseAND(F.lit(mask))

    parts = []
    for r in range(probes):
        a = sigs.select(
            F.col("doc_id").alias("id_a"), F.col("sig_int").alias("sig_a"),
            field(F.col("sig_int"), r).alias("pfx"),
        )
        b = sigs.select(
            F.col("doc_id").alias("id_b"), F.col("sig_int").alias("sig_b"),
            field(F.col("sig_int"), r).alias("pfx"),
        )
        # first-match dedup (round 13): a pair colliding on several probe
        # fields used to be emitted once per field and deduped by a
        # pair-set-wide `distinct` — a full extra shuffle of the candidate
        # set (guide §2.4 "remove shuffles outright").  Keeping a pair only
        # at its FIRST matching field (no earlier field collides) emits
        # each qualifying pair exactly once, so the union IS the distinct
        # pair set and the exchange disappears.  The earlier-field test is
        # a per-row bitmask comparison on columns already in hand.
        first_match = F.lit(True)
        for q in range(r):
            first_match = first_match & (
                field(F.col("sig_a"), q) != field(F.col("sig_b"), q)
            )
        parts.append(
            a.join(b, "pfx").filter(F.col("id_a") < F.col("id_b"))
            .filter(first_match)
            .select("id_a", "id_b", "sig_a", "sig_b")
        )
    cands = parts[0]
    for p in parts[1:]:
        cands = cands.unionByName(p)
    return (
        cands
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def hamming_distance(sig_a: Column, sig_b: Column, bits: int = 32) -> Column:
    """Hamming distance between two '0'/'1' signature strings."""
    return F.size(
        F.filter(
            F.sequence(F.lit(1), F.lit(bits)),
            lambda p: sig_a.substr(p, F.lit(1)) != sig_b.substr(p, F.lit(1)),
        )
    )


def duplicated_span_stats(
    docs: DataFrame,
    k: int = 40,
    stride: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring duplication stats (the Lee et al. 2022 "Deduplicating
    Training Data Makes Language Models Better" signal, arXiv:2107.06499):
    hash every ``k``-char window of every document and count, per document,
    the windows whose exact text also occurs in ANOTHER document.

    The paper builds a corpus-wide suffix array; the distributed equivalent
    here is window-hash + one hash-keyed shuffle — same duplicated-span
    signal, trivially partition-parallel.  ``stride`` > 1 is the scale knob:
    stride-1 windows multiply the corpus ~k-fold in the shuffle, stride=s
    divides that by s at the cost of boundary resolution (a production run
    at 100 TB uses s ~ k/2 and refines survivors).  Documents shorter than
    ``k`` have no windows and are excluded (no span can be duplicated).

    Output per doc: (doc_id, n_windows, n_dup_windows, dup_window_frac).
    """
    base = docs.filter(F.length(F.col(text_col)) >= k).select(
        id_col,
        text_col,
        (F.floor((F.length(F.col(text_col)) - k) / stride) + 1)
        .cast("long")
        .alias("n_windows"),
    )
    spans = base.select(
        id_col,
        text_col,
        F.explode(
            F.sequence(
                F.lit(1), F.length(F.col(text_col)) - k + 1, F.lit(stride)
            )
        ).alias("pos"),
    ).select(
        id_col,
        F.md5(F.col(text_col).substr(F.col("pos"), F.lit(k))).alias("h"),
    )
    # Single pass over the (expensive) span stage: reduce to one row per
    # (hash, doc) first, count sibling docs with a window over the hash, and
    # roll up the survivors per doc.  The naive shape — countDistinct per
    # hash then a semi-join back onto spans — evaluates the scan+explode+md5
    # stage twice (once per join side, no auto-reuse): measured 20 s vs ~5 s
    # at sf0.1.  Three shuffles of the *reduced* table instead.
    per_h_doc = (
        spans.groupBy("h", id_col).agg(F.count(F.lit(1)).alias("__c"))
    )
    from pyspark.sql.window import Window as _W

    n_docs_with_h = F.count(F.lit(1)).over(_W.partitionBy("h"))
    per_doc = (
        per_h_doc.withColumn("__nd", n_docs_with_h)
        .filter(F.col("__nd") >= 2)
        .groupBy(id_col)
        .agg(F.sum("__c").alias("__ndup"))
    )
    return (
        base.select(id_col, "n_windows")
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            "n_windows",
            F.coalesce(F.col("__ndup"), F.lit(0)).cast("long").alias("n_dup_windows"),
            F.round(
                F.coalesce(F.col("__ndup"), F.lit(0)).cast("double") / F.col("n_windows"),
                6,
            ).alias("dup_window_frac"),
        )
    )


def _distinct_token_sets(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    from .text import tokens

    return (
        docs.select(
            F.col(id_col).alias("id"),
            F.array_distinct(tokens(F.col(text_col))).alias("t"),
        )
        .filter(F.size("t") > 0)
    )


def _prefix_candidate_pairs(
    toksd: DataFrame, threshold_num: int, threshold_den: int
) -> DataFrame:
    """Candidate (id_a, id_b) pairs from prefix-token collisions — the set
    the verify stage intersects.  Exposed via jaccard_prefix_candidates so
    tests can assert the pruning ratio (candidates ≪ n(n-1)/2), which is
    the prefix filter's entire reason to exist."""
    tf = (
        toksd.select(F.explode("t").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # tokens per doc sorted rarest-first under the global (freq, tok) order
    ranked = (
        toksd.select("id", F.explode("t").alias("tok"))
        .join(tf, "tok")
        .groupBy("id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("freq", "tok"))),
                lambda x: x["tok"],
            ).alias("st")
        )
    )
    n = F.size("st")
    # p = n - ceil(num*n/den) + 1, all-integer
    ceil_tn = F.floor((F.lit(threshold_num) * n + threshold_den - 1) / threshold_den)
    prefix = F.slice(F.col("st"), 1, (n - ceil_tn + 1).cast("int"))
    cand = ranked.select("id", F.explode(prefix).alias("tok"))
    return (
        cand.alias("a")
        .join(cand.alias("b"), "tok")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def jaccard_prefix_candidates(
    docs: DataFrame,
    threshold_num: int = 9,
    threshold_den: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The pre-verify candidate pairs of :func:`jaccard_prefix_join`."""
    return _prefix_candidate_pairs(
        _distinct_token_sets(docs, id_col, text_col), threshold_num, threshold_den
    )


def jaccard_prefix_join(
    docs: DataFrame,
    threshold_num: int = 9,
    threshold_den: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT Jaccard similarity self-join via prefix filtering (the
    AllPairs/PPJoin principle, Bayardo et al. 2007 / Xiao et al. 2008):
    order every document's distinct tokens rarest-first under one global
    order, index only each document's PREFIX (the first
    n - ceil(t*n) + 1 tokens), and generate candidates from prefix-token
    matches.  The filter is LOSSLESS for Jaccard >= t — any qualifying
    pair must share a prefix token — so the output equals the brute-force
    all-pairs join, which is exactly what the DuckDB oracle computes.

    Engine-agnostic exactness is engineered in two places: the prefix
    length uses INTEGER arithmetic (ceil(num*n/den) as
    floor((num*n + den - 1) / den) — a float t*n can round above the true
    product and silently shorten the prefix, breaking losslessness), and
    the threshold test cross-multiplies (den*|A∩B| >= num*|A∪B|) so no
    float comparison exists anywhere.

    Scale shape: the global order is (token frequency, token) carried as
    sort KEYS — no global rank window; prefixes hold each doc's RAREST
    tokens, so the candidate join groups are the smallest frequency
    classes; one shuffle for the frequency count, one for the candidate
    join, broadcast of nothing.  Output: (id_a, id_b, jaccard rounded 6),
    id_a < id_b.
    """
    toksd = _distinct_token_sets(docs, id_col, text_col)
    pairs = _prefix_candidate_pairs(toksd, threshold_num, threshold_den)
    ta = toksd.select(F.col("id").alias("id_a"), F.col("t").alias("ta"))
    tb = toksd.select(F.col("id").alias("id_b"), F.col("t").alias("tb"))
    verified = (
        pairs.join(ta, "id_a")
        .join(tb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("ta", "tb")).cast("long").alias("nint"),
            (F.size("ta") + F.size("tb")).cast("long").alias("nsum"),
        )
        .withColumn("nuni", F.col("nsum") - F.col("nint"))
        .filter(F.lit(threshold_den) * F.col("nint") >= F.lit(threshold_num) * F.col("nuni"))
    )
    return verified.select(
        "id_a",
        "id_b",
        F.round(F.col("nint").cast("double") / F.col("nuni"), 6).alias("jaccard"),
    )


def incremental_dedup(
    new_sigs: DataFrame,
    corpus_sigs: DataFrame,
    threshold: float = 0.2,
    bands: int = 8,
    num_hashes: int = 16,
) -> DataFrame:
    """Dedup an INCOMING batch against an EXISTING corpus — the production
    ingest shape, which a self-join cannot express efficiently: the corpus
    never joins itself, only (new x corpus) bucket collisions materialize.

    Both inputs are ``minhash_signatures`` relations (id, hs, nsh, sig).
    Scale shape: the incoming batch is orders of magnitude smaller than
    the corpus, so its bucket table BROADCASTS — the corpus-side bucket
    stream is filtered map-side with zero shuffle of corpus data; only
    colliding candidates (new_id, old_id) reach the verify join.  Output:
    one row per new doc — (id, is_dup, match_id, jaccard of best match).
    """
    from pyspark.sql.window import Window

    rows_per_band = num_hashes // bands
    nb = lsh_buckets(new_sigs, bands, rows_per_band)
    ob = lsh_buckets(corpus_sigs, bands, rows_per_band)
    cand = (
        ob.alias("o")
        .join(
            F.broadcast(nb.alias("n")),
            (F.col("o.band") == F.col("n.band"))
            & (F.col("o.bucket") == F.col("n.bucket")),
        )
        .select(F.col("n.id").alias("new_id"), F.col("o.id").alias("old_id"))
        .distinct()
    )
    a = new_sigs.select(F.col("id").alias("new_id"), F.col("hs").alias("ha"))
    b = corpus_sigs.select(F.col("id").alias("old_id"), F.col("hs").alias("hb"))
    inter = F.size(F.array_intersect("ha", "hb"))
    j = F.round(
        inter.cast("double") / (F.size("ha") + F.size("hb") - inter), 6
    )
    ver = (
        cand.join(a, "new_id")
        .join(b, "old_id")
        .select("new_id", "old_id", j.alias("jaccard"))
        .filter(F.col("jaccard") >= float(threshold))
    )
    best = ver.withColumn(
        "__rk",
        F.row_number().over(
            Window.partitionBy("new_id")
            .orderBy(F.col("jaccard").desc(), "old_id")
        ),
    ).filter(F.col("__rk") == 1)
    return (
        new_sigs.select(F.col("id").alias("new_id"))
        # both sides are batch-sized but windowed `best` carries no stats;
        # shuffle-hash keeps the equi-join sort-free without assuming the
        # batch fits in a broadcast
        .join(best.drop("__rk").hint("shuffle_hash"), "new_id", "left")
        .select(
            F.col("new_id").alias("id"),
            F.col("old_id").isNotNull().alias("is_dup"),
            F.col("old_id").alias("match_id"),
            "jaccard",
        )
    )
