"""documents: dedup + text analysis.

Mechanically split from the single-module catalog.py (round 7, verdict
ask #5): query bodies are verbatim, registration order preserved by
the package __init__ import order, QUERIES identical before/after
(full-catalog oracle replay re-proven).
"""

from __future__ import annotations
from ._base import *  # noqa: F401,F403

# ===========================================================================
# documents: dedup + text analysis
# ===========================================================================

_DUCK_TOKS = ("CASE WHEN trim(coalesce(text, '')) = '' THEN []::VARCHAR[] "
              "ELSE string_split_regex(trim(coalesce(text, '')), '\\s+') END")


@register(
    "exact_dedup_docs",
    """
    SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS dup_count
    FROM documents GROUP BY md5(text)
    """,
    "exact deduplication: hash-groupBy, deterministic survivor",
)
def exact_dedup_docs(spark, sf_dir):
    return exact_dedup(_load_wide(spark, sf_dir, "documents"))


def _duck_minhash_mins(num_hashes: int = 16) -> str:
    """The 16 affine-hash min expressions over a precomputed hash list `hs`
    — same (a, b) family as ops.dedup.minhash_params."""
    from ..ops.dedup import minhash_params

    return ", ".join(
        f"list_min(list_transform(hs, h -> ({a} * (h % 2147483648) + {b}) % 2147483647))"
        for a, b in minhash_params(num_hashes)
    )


def _duck_lsh_cte(shingle_k: int, bands: int, rows_per_band: int) -> str:
    """Tokens → k-shingles → 60-bit hashes → 16 minhash mins → (band,
    bucket) assignments, replayed in DuckDB (same md5 + affine family as
    ops.dedup; banding is a parameter because the dedup family shares ONE
    signature stage and each operator slices its own band layout)."""
    r = rows_per_band
    return f"""
    WITH toks AS (
      SELECT doc_id, {_DUCK_TOKS} AS t FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(t) - {shingle_k - 1}, 1) + 1),
               i -> array_to_string(list_slice(t, i, i + {shingle_k - 1}), ' '))) AS s
      FROM toks
    ), hsh AS (
      SELECT doc_id,
             list_transform(s, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT) AS hs
      FROM sh
    ), sig AS (
      SELECT doc_id, [{_duck_minhash_mins(16)}] AS g FROM hsh
    ), buckets AS (
      SELECT doc_id, b,
             md5(array_to_string(list_slice(g, b * {r} + 1, b * {r} + {r}), '|')) AS bucket
      FROM sig, (SELECT unnest(range(0, {bands})) AS b)
    )
"""


_DUCK_MINHASH_CTE = _duck_lsh_cte(3, 4, 4)

# one persisted (id, hs, nsh, sig) stage shared by the whole minhash dedup
# family (candidates / Jaccard verify / clustering): the corpus is
# tokenized, shingled (k=3), md5'd, and min-folded ONCE per (session,
# sf_dir); each operator derives its own band layout from the cached
# signatures.  Single-slot memo: switching sf_dir unpersists the old stage
# so test sessions touching many corpora don't accumulate storage; a new
# session (applicationId) simply rebuilds it.
_DEDUP_STAGE: dict = {}


def _dedup_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ops.dedup import hashed_docs, minhash_signatures, shingled_docs

    key = (spark.sparkContext.applicationId, sf_dir)
    old_key = _DEDUP_STAGE.get("key")
    if old_key != key:
        old = _DEDUP_STAGE.pop("df", None)
        # a stopped context's cache died with it, and unpersisting a
        # DataFrame of that context raises: only release this app's stage
        if old is not None and old_key[0] == key[0]:
            old.unpersist()
        docs = _load_wide(spark, sf_dir, "documents")
        _DEDUP_STAGE["key"] = key
        _DEDUP_STAGE["df"] = minhash_signatures(
            hashed_docs(shingled_docs(docs, "text", "doc_id", 3)), 16
        )
    df = _DEDUP_STAGE["df"]
    df.persist()  # no-op when cached; re-arms after a clearCache
    return df

@register(
    "minhash_pairs_docs",
    _DUCK_MINHASH_CTE + """
    SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
    FROM buckets l JOIN buckets r
      ON l.b = r.b AND l.bucket = r.bucket AND l.doc_id < r.doc_id
    """,
    "MinHash+LSH near-dup candidates: shingle -> minhash -> band -> bucket-join",
)
def minhash_pairs_docs(spark, sf_dir):
    docs = _load_wide(spark, sf_dir, "documents")
    return minhash_candidate_pairs(
        docs, num_hashes=16, bands=4, sigs=_dedup_stage(spark, sf_dir)
    )


@register(
    "dedup_clusters_docs",
    _DUCK_MINHASH_CTE.replace("WITH toks", "WITH RECURSIVE toks") + """
    , cand AS (
      SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
      FROM buckets l JOIN buckets r
        ON l.b = r.b AND l.bucket = r.bucket AND l.doc_id < r.doc_id
    ), sym AS (
      SELECT id_a AS a, id_b AS b FROM cand
      UNION ALL SELECT id_b, id_a FROM cand
    ), reach(a, b) AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    )
    SELECT d.doc_id,
           cast(least(d.doc_id, coalesce(m.mn, d.doc_id)) AS bigint) AS cluster
    FROM documents d
    LEFT JOIN (SELECT a, min(b) AS mn FROM reach GROUP BY a) m
      ON d.doc_id = m.a
    """,
    "near-dup cluster assignment: LSH pair graph -> connected components "
    "(iterative min-label propagation; oracle = recursive-CTE closure)",
)
def dedup_clusters_docs(spark, sf_dir):
    from ..ops.dedup import dedup_clusters

    docs = _load_wide(spark, sf_dir, "documents")
    return dedup_clusters(
        docs, num_hashes=16, bands=4, sigs=_dedup_stage(spark, sf_dir)
    )


@register(
    "jaccard_pairs_docs",
    _duck_lsh_cte(3, 8, 2) + """
    , cand AS (
      SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
      FROM buckets l JOIN buckets r
        ON l.b = r.b AND l.bucket = r.bucket AND l.doc_id < r.doc_id
    )
    SELECT c.id_a, c.id_b,
           round(len(list_intersect(a.hs, b.hs))::DOUBLE
                 / (len(a.hs) + len(b.hs)
                    - len(list_intersect(a.hs, b.hs))), 6) AS jaccard
    FROM cand c
    JOIN hsh a ON c.id_a = a.doc_id
    JOIN hsh b ON c.id_b = b.doc_id
    WHERE round(len(list_intersect(a.hs, b.hs))::DOUBLE
                / (len(a.hs) + len(b.hs)
                   - len(list_intersect(a.hs, b.hs))), 6) >= 0.2
    """,
    "n-gram Jaccard near-dup: high-recall LSH candidates (8 bands x 2 rows "
    "over the SHARED trigram signature stage) + exact verify >= 0.2 "
    "(verify on 60-bit hashed shingles; union size by arithmetic)",
)
def jaccard_pairs_docs(spark, sf_dir):
    docs = _load_wide(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs, threshold=0.2, num_hashes=16, bands=8,
        sigs=_dedup_stage(spark, sf_dir),
    )


@register(
    "simhash_docs",
    f"""
    WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS t FROM documents),
    hsh AS (
      SELECT doc_id,
             list_transform(t, w -> ('0x' || substr(md5(w), 1, 15))::BIGINT) AS ht
      FROM toks
    )
    SELECT doc_id,
           list_aggregate(list_transform(range(0, 32), p ->
             CASE WHEN list_sum(list_transform(ht, h ->
                    CASE WHEN (h >> p) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                  THEN '1' ELSE '0' END), 'string_agg', '') AS sig
    FROM hsh
    """,
    "SimHash document signatures (32-bit, md5-nibble votes)",
)
def simhash_docs(spark, sf_dir):
    from ..ops.dedup import simhash_df

    return simhash_df(_load_wide(spark, sf_dir, "documents"), "text", "doc_id", 32)


_SIMHASH_SIG_CTE = f"""
    WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS t FROM documents),
    hsh AS (
      SELECT doc_id,
             list_transform(t, w -> ('0x' || substr(md5(w), 1, 15))::BIGINT) AS ht
      FROM toks
    ), sigs AS (
      SELECT doc_id,
             list_aggregate(list_transform(range(0, 32), p ->
               CASE WHEN list_sum(list_transform(ht, h ->
                      CASE WHEN (h >> p) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                    THEN '1' ELSE '0' END), 'string_agg', '') AS sig
      FROM hsh
    )
"""

_SIMHASH_INT_CTE = f"""
    WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS t FROM documents),
    hsh AS (
      SELECT doc_id,
             list_transform(t, w -> ('0x' || substr(md5(w), 1, 15))::BIGINT) AS ht
      FROM toks
    ), sigs AS (
      SELECT doc_id,
             list_sum(list_transform(range(0, 32), p ->
               CASE WHEN list_sum(list_transform(ht, h ->
                      CASE WHEN (h >> p) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                    THEN (1::BIGINT << p) ELSE 0 END))::BIGINT AS isig
      FROM hsh
    )
"""

_MULTIPROBE_BRANCH = """
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.isig AS sa, b.isig AS sb
      FROM sigs a JOIN sigs b
        ON ((a.isig >> {shift}) & 255) = ((b.isig >> {shift}) & 255)
       AND a.doc_id < b.doc_id
"""

@register(
    "simhash_multiprobe",
    _SIMHASH_INT_CTE + """
    , cand AS (
    """ + "\n      UNION\n".join(
        _MULTIPROBE_BRANCH.format(shift=r * 8) for r in range(4)
    ) + """
    )
    SELECT id_a, id_b,
           cast(bit_count(xor(sa, sb)) AS bigint) AS hamming
    FROM cand
    WHERE bit_count(xor(sa, sb)) <= 4
    """,
    "multi-probe SimHash near-dup: candidates from 4 disjoint 8-bit "
    "signature fields (pigeonhole guarantees recall of every pair at "
    "Hamming<=3, vs prefix-only blocking which can miss them), unioned and "
    "verified by bit_count(xor)",
)
def simhash_multiprobe(spark, sf_dir):
    from ..ops.dedup import simhash_multiprobe_pairs

    docs = _load_wide(spark, sf_dir, "documents")
    out = simhash_multiprobe_pairs(docs, bits=32, probes=4, probe_bits=8, max_hamming=4)
    return out.select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


@register(
    "simhash_neardup",
    _SIMHASH_SIG_CTE + """
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           cast(len(list_filter(range(1, 33),
                p -> substr(a.sig, p, 1) <> substr(b.sig, p, 1))) AS bigint)
             AS hamming
    FROM sigs a JOIN sigs b
      ON substr(a.sig, 1, 8) = substr(b.sig, 1, 8) AND a.doc_id < b.doc_id
    WHERE len(list_filter(range(1, 33),
              p -> substr(a.sig, p, 1) <> substr(b.sig, p, 1))) <= 4
    """,
    "SimHash near-dup pairs: 8-bit prefix blocking + Hamming<=4 verify",
)
def simhash_neardup(spark, sf_dir):
    from ..ops.dedup import simhash_neardup_pairs

    docs = _load_wide(spark, sf_dir, "documents")
    out = simhash_neardup_pairs(docs, bits=32, prefix_bits=8, max_hamming=4)
    return out.select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


@register(
    "docs_stratified_sample",
    """
    SELECT lang, doc_id, rk
    FROM (
      SELECT lang, doc_id,
             cast(row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(doc_id::VARCHAR), doc_id
             ) AS bigint) AS rk
      FROM documents
    )
    WHERE rk <= 20
    """,
    "deterministic stratified sampling: fixed-size per-class subset (20 per "
    "language), ranked by md5(doc_id) so the draw is pseudo-random yet "
    "reproducible across engines/runs/partitionings — the class-balancing "
    "primitive for training-data mixes.  One shuffle keyed by the stratum; "
    "at 100 TB the rank is per-partition-truncatable (each partition only "
    "needs its top-20 candidates before the merge)",
)
def docs_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = _load_wide(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select(
            "lang", "doc_id", F.row_number().over(w).cast("long").alias("rk")
        )
        .filter(F.col("rk") <= 20)
    )


@register(
    "docs_pack_bins",
    """
    SELECT source, doc_id, n_tok,
           cast(coalesce(sum(n_tok) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) // 4096 AS bigint) AS bin
    FROM (
      SELECT source, doc_id,
             cast(len({toks}) AS bigint) AS n_tok
      FROM documents
    )
    """.format(toks=_DUCK_TOKS),
    "sequence packing for training: documents stream into 4096-token bins "
    "per source shard — bin = (running token count before this doc) div "
    "budget, the deterministic distributed approximation of greedy packing "
    "(a doc can straddle its bin boundary; the streaming writer splits it). "
    "One window shuffle keyed by shard, order by doc_id",
)
def docs_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = _load_wide(spark, sf_dir, "documents")
    sized = docs.select(
        "source", "doc_id", token_count(F.col("text")).alias("n_tok")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tok").over(w), F.lit(0))
    return sized.select(
        "source",
        "doc_id",
        "n_tok",
        (cum_before / 4096).cast("long").alias("bin"),
    )


_BLOOM_ORACLE = f"""
    WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS t FROM documents),
    grams AS (
      SELECT doc_id, list_distinct(CASE WHEN len(t) >= 5
        THEN [md5(array_to_string(list_slice(t, i, i + 4), ' ')) FOR i IN range(1, len(t) - 3)]
        ELSE []::VARCHAR[] END) AS gs
      FROM toks
    ), ex AS (SELECT doc_id, unnest(gs) AS g FROM grams),
    ks AS (SELECT unnest(generate_series(0, 2)) AS i),
    bench_bits AS (
      SELECT DISTINCT ('0x' || substr(md5(i::VARCHAR || ':' || g), 1, 8))::BIGINT % 262144 AS pos
      FROM (SELECT DISTINCT g FROM ex WHERE doc_id % 17 = 0) b, ks
    ), sparse AS (
      SELECT (pos // 32)::INT AS w, sum(1::BIGINT << (pos % 32)::INT)::BIGINT AS word
      FROM bench_bits GROUP BY 1
    ), dense AS (
      SELECT g.w, coalesce(s.word, 0)::BIGINT AS word
      FROM (SELECT unnest(generate_series(0, 8191)) AS w) g LEFT JOIN sparse s ON g.w = s.w
    ), words AS (
      SELECT list(word ORDER BY w) AS ws FROM dense
    ), probes AS (
      SELECT e.doc_id, e.g,
             min(CASE WHEN ((w.ws[(('0x' || substr(md5(k.i::VARCHAR || ':' || e.g), 1, 8))::BIGINT % 262144 // 32)::INT + 1]
                            >> (('0x' || substr(md5(k.i::VARCHAR || ':' || e.g), 1, 8))::BIGINT % 262144 % 32)::INT) & 1) = 1
                      THEN 1 ELSE 0 END) AS hit
      FROM ex e, ks k, words w
      WHERE e.doc_id % 17 <> 0
      GROUP BY e.doc_id, e.g
    ), bench_set AS (SELECT DISTINCT g FROM ex WHERE doc_id % 17 = 0),
    per_doc AS (
      SELECT p.doc_id,
             count(*)::BIGINT AS n_grams,
             sum(p.hit)::BIGINT AS n_bloom_hits,
             sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_true_hits
      FROM probes p LEFT JOIN bench_set b ON p.g = b.g
      GROUP BY p.doc_id
    )
    SELECT doc_id, n_grams, n_bloom_hits, n_true_hits,
           n_bloom_hits >= n_true_hits AS bloom_never_misses
    FROM per_doc WHERE n_bloom_hits > 0
"""

@register(
    "bloom_decontam_docs",
    _BLOOM_ORACLE,
    "Bloom-filter decontamination pre-filter: benchmark 5-gram shingles "
    "packed into a 262144-bit / 3-hash filter (8192 32-bit words, 64 KB), "
    "corpus probed with O(1) bitwise tests against the broadcast word "
    "array; no-false-negative guarantee pinned by the oracle "
    "(n_bloom_hits >= n_true_hits).  At 100 TB the eval-set filter stays "
    "KBs where the exact shingle set is GBs — probe first, verify "
    "survivors exactly",
)
def bloom_decontam_docs(spark, sf_dir):
    M, K, NWORDS = 262144, 3, 8192
    docs = _load_wide(spark, sf_dir, "documents")
    staged = docs.select("doc_id", tokens(F.col("text")).alias("__toks"))
    grams = F.array_distinct(
        F.transform(word_ngrams(F.col("__toks"), 5), lambda g: F.md5(g)))
    ex = staged.select("doc_id", F.explode(grams).alias("g"))
    bench = ex.filter((F.col("doc_id") % 17) == 0).select("g").distinct()

    def pos_of(i, g):
        key = F.concat_ws(":", i.cast("string"), g)
        return (
            F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long") % M
        )

    bits = (
        bench.select("g", F.explode(F.lit(list(range(K)))).alias("i"))
        .select(pos_of(F.col("i"), F.col("g")).alias("pos"))
        .distinct()
    )
    sparse = (
        bits.groupBy(F.floor(F.col("pos") / 32).cast("int").alias("w"))
        .agg(
            F.sum(
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))")
            ).alias("word")
        )
    )
    dense = (
        spark.range(NWORDS)
        .select(F.col("id").cast("int").alias("w"))
        .join(sparse, "w", "left")
        .select("w", F.coalesce(F.col("word"), F.lit(0)).cast("long").alias("word"))
    )
    words_row = dense.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("w", "word"))),
            lambda x: x["word"],
        ).alias("ws")
    )
    train = ex.filter((F.col("doc_id") % 17) != 0)
    probes = (
        train.select("doc_id", "g", F.explode(F.lit(list(range(K)))).alias("i"))
        .select("doc_id", "g", pos_of(F.col("i"), F.col("g")).alias("pos"))
        .crossJoin(F.broadcast(words_row))
        .select(
            "doc_id",
            "g",
            F.expr(
                "CASE WHEN ((ws[CAST(pos / 32 AS INT)]"
                " >> CAST(pos % 32 AS INT)) & 1) = 1 THEN 1 ELSE 0 END"
            ).alias("hitbit"),
        )
        .groupBy("doc_id", "g")
        .agg(F.min("hitbit").alias("hit"))
    )
    bench_set = bench.withColumn("__b", F.lit(1))
    per_doc = (
        probes.join(bench_set, "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("hit").cast("long").alias("n_bloom_hits"),
            F.sum(F.when(F.col("__b").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_true_hits"),
        )
    )
    return per_doc.filter(F.col("n_bloom_hits") > 0).select(
        "doc_id",
        "n_grams",
        "n_bloom_hits",
        "n_true_hits",
        (F.col("n_bloom_hits") >= F.col("n_true_hits")).alias("bloom_never_misses"),
    )


def _zorder_sql(x: str, y: str, bits: int = 10) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


_ZORDER_ORACLE = f"""
    WITH pts AS (
      SELECT (user_id % 1024)::BIGINT AS x, (event_id % 1024)::BIGINT AS y,
             event_id AS tie
      FROM events WHERE user_id IS NOT NULL
    ), keyed AS (
      SELECT x, y, tie, {_zorder_sql('x', 'y')} AS zkey FROM pts
    ), buck AS (
      SELECT x, y,
             ntile(64) OVER (ORDER BY zkey, tie) AS zb,
             ntile(64) OVER (ORDER BY x, y, tie) AS xb
      FROM keyed
    ), ze AS (
      SELECT zb, max(x) - min(x) AS ex, max(y) - min(y) AS ey FROM buck GROUP BY zb
    ), xe AS (
      SELECT xb, max(x) - min(x) AS ex, max(y) - min(y) AS ey FROM buck GROUP BY xb
    )
    SELECT 'zorder' AS ordering, round(avg(ex), 2) AS avg_extent_x,
           round(avg(ey), 2) AS avg_extent_y, CAST(count(*) AS BIGINT) AS n_buckets
    FROM ze
    UNION ALL
    SELECT 'xorder', round(avg(ex), 2), round(avg(ey), 2), CAST(count(*) AS BIGINT)
    FROM xe
"""

@register(
    "events_zorder_layout",
    _ZORDER_ORACLE,
    "Z-order (Morton) layout gauge: rows bucketed 64 ways under z-key "
    "order vs single-column order, per-bucket min/max extents averaged — "
    "z bounds BOTH dimensions (data skipping prunes on either filter "
    "column) where x-order leaves y unbounded; the ntiles run on "
    "ops/rank.global_ntile (range-partitioned two-pass — this table is "
    "corpus-scale, the old single-partition windowed ntile was the one "
    "shape that melts at 100x), which is also exactly the "
    "repartitionByRange+sortWithinPartitions layout a production "
    "z-ordered write would use",
)
def events_zorder_layout(spark, sf_dir):
    from ..ops.rank import global_ntile
    from ..ops.skew import zorder_key

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select(
            (F.col("user_id") % 1024).cast("long").alias("x"),
            (F.col("event_id") % 1024).cast("long").alias("y"),
            F.col("event_id").alias("tie"),
        )
    )
    # persist the keyed projection: it is referenced THREE times (the
    # combined boundaries pass + both ntile rank windows), and its
    # lineage re-runs the events scan + bit-interleave per reference
    # (guide §7.2); narrow 4-column frame.
    keyed = ev.select(
        "x", "y", "tie", zorder_key(F.col("x"), F.col("y")).alias("zkey")
    ).persist()

    def extents(buck, col, name):
        return (
            buck.groupBy(col)
            .agg(
                (F.max("x") - F.min("x")).alias("ex"),
                (F.max("y") - F.min("y")).alias("ey"),
            )
            .agg(
                F.lit(name).alias("ordering"),
                F.round(F.avg("ex"), 2).alias("avg_extent_x"),
                F.round(F.avg("ey"), 2).alias("avg_extent_y"),
                F.count(F.lit(1)).cast("long").alias("n_buckets"),
            )
        )

    # the two orderings feed two DISJOINT aggregates, so each gets its own
    # independent range-partitioned ntile over keyed (no join, no chain);
    # one combined boundaries pass serves both
    from ..ops.rank import boundaries_for

    bnds = boundaries_for(keyed, {"zb": F.col("zkey"), "xb": F.col("x")})
    zbuck = global_ntile(keyed, ["zkey", "tie"], 64, "zb",
                         boundaries=bnds["zb"])
    xbuck = global_ntile(keyed, ["x", "y", "tie"], 64, "xb",
                         boundaries=bnds["xb"])
    return extents(zbuck, "zb", "zorder").unionByName(
        extents(xbuck, "xb", "xorder")
    )


_CMS_ORACLE = """
    WITH ev AS (SELECT user_id FROM events WHERE user_id IS NOT NULL),
    depths AS (SELECT unnest(generate_series(0, 3)) AS j),
    cells AS (
      SELECT j, ('0x' || substr(md5(j::VARCHAR || ':' || user_id::VARCHAR), 1, 8))::BIGINT % 256 AS bucket,
             count(*)::BIGINT AS c
      FROM ev, depths GROUP BY 1, 2
    ), queries AS (
      SELECT DISTINCT user_id FROM ev WHERE user_id < 50
    ), probes AS (
      SELECT q.user_id, d.j,
             ('0x' || substr(md5(d.j::VARCHAR || ':' || q.user_id::VARCHAR), 1, 8))::BIGINT % 256 AS bucket
      FROM queries q, depths d
    ), est AS (
      SELECT p.user_id, min(coalesce(c.c, 0))::BIGINT AS cms_est
      FROM probes p LEFT JOIN cells c ON p.j = c.j AND p.bucket = c.bucket
      GROUP BY p.user_id
    ), exact AS (
      SELECT user_id, count(*)::BIGINT AS exact_cnt FROM ev GROUP BY user_id
    )
    SELECT e.user_id, x.exact_cnt, e.cms_est,
           (e.cms_est - x.exact_cnt)::BIGINT AS overcount,
           e.cms_est >= x.exact_cnt AS never_undercounts
    FROM est e JOIN exact x ON e.user_id = x.user_id
"""

@register(
    "events_cms_counts",
    _CMS_ORACLE,
    "count-min sketch (depth 4 x width 256, md5 row-hashes): per-user count "
    "estimates from the sketch vs exact, overcount >= 0 pinned by the "
    "oracle — the mergeable heavy-hitter sketch; the 4x row fan-out is "
    "absorbed map-side by partial aggregation, sketch size is O(d*w) "
    "regardless of key cardinality",
)
def events_cms_counts(spark, sf_dir):
    depth, width = 4, 256
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select("user_id")
    )

    def bucket_of(j, uid):
        key = F.concat_ws(":", j.cast("string"), uid.cast("string"))
        return (
            F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long") % width
        )

    fan = ev.select("user_id", F.explode(F.lit(list(range(depth)))).alias("j"))
    cells = (
        fan.select("j", bucket_of(F.col("j"), F.col("user_id")).alias("bucket"))
        .groupBy("j", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    queries = ev.filter(F.col("user_id") < 50).distinct()
    probes = queries.select(
        "user_id", F.explode(F.lit(list(range(depth)))).alias("j")
    ).select(
        "user_id", "j", bucket_of(F.col("j"), F.col("user_id")).alias("bucket")
    )
    est = (
        probes.join(cells, ["j", "bucket"], "left")
        .groupBy("user_id")
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).cast("long").alias("cms_est"))
    )
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_cnt"))
    return est.join(exact, "user_id").select(
        "user_id",
        "exact_cnt",
        "cms_est",
        (F.col("cms_est") - F.col("exact_cnt")).cast("long").alias("overcount"),
        (F.col("cms_est") >= F.col("exact_cnt")).alias("never_undercounts"),
    )


@register(
    "sentences_docs",
    r"""
    WITH arrs AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '[.!?]+[ \t\n\r\f]+'), s -> s <> '') AS arr
      FROM documents WHERE text IS NOT NULL
    ), pos AS (
      SELECT doc_id, arr, unnest(generate_series(1, len(arr))) AS p FROM arrs
    )
    SELECT doc_id, p::INT AS pos, arr[p] AS sentence FROM pos
    """,
    "sentence segmentation via a Python UDTF (LATERAL table function, the "
    "one UDF flavor the rest of the catalog doesn't exercise): split on "
    "terminal punctuation + whitespace, 1-based ordinal per doc — regex "
    "chosen lookbehind-free so Python re and DuckDB RE2 split identically",
)
def sentences_docs(spark, sf_dir):
    import re as _re

    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, sentence string")
    class SentenceSplit:
        def eval(self, text):
            if text is None:
                return
            pos = 0
            # explicit class, not \s: Python's \s is Unicode (NBSP,
            # U+2028) and even re.ASCII \s includes \v, while RE2's \s
            # is exactly [\t\n\f\r ] — the oracle uses the same class
            for p in _re.split(r"[.!?]+[ \t\n\r\f]+", text):
                if p != "":
                    pos += 1
                    yield pos, p

    _load_wide(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    spark.udtf.register("sentence_split", SentenceSplit)
    return spark.sql(
        "SELECT d.doc_id, s.pos, s.sentence "
        "FROM documents d, LATERAL sentence_split(d.text) s "
        "WHERE d.text IS NOT NULL"
    )


@register(
    "normalize_docs",
    """
    SELECT doc_id,
           nfc_normalize(text) AS nfc_text,
           (text IS NOT DISTINCT FROM nfc_normalize(text)) AS is_nfc,
           length(nfc_normalize(text))::BIGINT AS nfc_len
    FROM documents
    """,
    "Unicode NFC normalization via an Arrow-vectorized scalar Pandas UDF "
    "(Spark has no built-in normalizer) — the one verified-against-oracle "
    "Python op: byte-identical to DuckDB's nfc_normalize, NULL-preserving",
)
def normalize_docs(spark, sf_dir):
    from ..ops.text import nfc_normalize_udf

    docs = _load_wide(spark, sf_dir, "documents")
    nfc = nfc_normalize_udf()(F.col("text"))
    return docs.select(
        "doc_id",
        nfc.alias("nfc_text"),
        F.col("text").eqNullSafe(nfc).alias("is_nfc"),
        F.length(nfc).cast("long").alias("nfc_len"),
    )


_COHORT_SQL = """
    WITH user_first AS (
      SELECT user_id, min(date_trunc('day', ts)) AS cohort_day
      FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS day
      FROM events WHERE user_id IS NOT NULL
    ), joined AS (
      SELECT f.cohort_day, CAST({datediff} AS BIGINT) AS day_offset, a.user_id
      FROM activity a JOIN user_first f ON a.user_id = f.user_id
    ), sizes AS (
      SELECT cohort_day, CAST(count(*) AS BIGINT) AS cohort_size
      FROM user_first GROUP BY cohort_day
    ), ret AS (
      SELECT cohort_day, day_offset, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      FROM joined GROUP BY cohort_day, day_offset
    )
    SELECT r.cohort_day, r.day_offset, r.n_users, s.cohort_size,
           round(CAST(r.n_users AS DOUBLE) / s.cohort_size, 6) AS retention_frac
    FROM ret r JOIN sizes s ON r.cohort_day = s.cohort_day
"""

_shared_sql(
    "events_cohort_retention",
    _COHORT_SQL.format(datediff="datediff(a.day, f.cohort_day)"),
    "cohort retention matrix: users bucketed by first-seen day, distinct "
    "actives per (cohort, day-offset) with retention fraction — two "
    "user-keyed aggregations plus a broadcast-size cohort join",
    oracle_sql=_COHORT_SQL.format(datediff="date_diff('day', f.cohort_day, a.day)"),
)


_shared_sql(
    "events_funnel",
    """
    WITH steps AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events WHERE user_id IS NOT NULL
      GROUP BY user_id
    ), depth AS (
      SELECT user_id,
             CASE
               WHEN t_signup IS NOT NULL AND t_view IS NOT NULL AND t_purchase IS NOT NULL
                    AND t_signup <= t_view AND t_view <= t_purchase THEN 3
               WHEN t_signup IS NOT NULL AND t_view IS NOT NULL AND t_signup <= t_view THEN 2
               WHEN t_signup IS NOT NULL THEN 1
               ELSE 0 END AS funnel_depth
      FROM steps
    )
    SELECT funnel_depth, CAST(count(*) AS BIGINT) AS n_users
    FROM depth GROUP BY funnel_depth
    """,
    "ordered-step funnel (signup -> view -> purchase by first occurrence): "
    "one user-keyed aggregation computes every step time via min(CASE), "
    "depth classification is a pure projection — a single shuffle at any "
    "scale, no per-step self-joins",
)


_MIXTURE_SAMPLE_ORACLE = f"""
    WITH toks AS (
      SELECT source, doc_id, len({_DUCK_TOKS})::BIGINT AS t FROM documents
    ), src AS (
      SELECT source, count(*)::BIGINT AS n_docs, sum(t)::BIGINT AS c_tokens
      FROM toks GROUP BY source
    ), w AS (
      SELECT *, round(sqrt(c_tokens), 6) AS wv FROM src
    ), tot AS (
      SELECT round(sum(wv), 6) AS w_total, sum(c_tokens)::BIGINT AS tot_tokens FROM w
    ), rates AS (
      SELECT w.source, w.n_docs, w.c_tokens,
             CASE WHEN tot.w_total > 0
                  THEN round(w.wv / tot.w_total, 6) ELSE 0.0 END AS weight,
             CASE WHEN w.c_tokens > 0 AND tot.w_total > 0
                  THEN round(least(1.0, 0.3 * tot.tot_tokens * w.wv
                                   / (tot.w_total * w.c_tokens)), 6)
                  ELSE 0.0 END AS rate
      FROM w, tot
    ), acc AS (
      SELECT t.source, t.t FROM toks t JOIN rates r USING (source)
      WHERE (('0x' || substr(md5(t.doc_id::VARCHAR), 1, 8))::BIGINT % 1000000)
            / 1000000.0 < r.rate
    ), agg AS (
      SELECT source, count(*)::BIGINT AS n_sampled, sum(t)::BIGINT AS tokens_sampled
      FROM acc GROUP BY source
    )
    SELECT r.source, r.n_docs, r.c_tokens, r.weight, r.rate,
           coalesce(a.n_sampled, 0)::BIGINT AS n_sampled,
           coalesce(a.tokens_sampled, 0)::BIGINT AS tokens_sampled
    FROM rates r LEFT JOIN agg a USING (source)
"""

@register(
    "mixture_sample_docs",
    _MIXTURE_SAMPLE_ORACLE,
    "temperature-weighted mixture sampling (alpha=0.5, 30% token budget): "
    "per-source budgets proportional to tokens^alpha, then a deterministic "
    "md5(doc_id) acceptance gate — two passes: tiny stats agg, broadcast "
    "rates, map-side filter (no corpus shuffle)",
)
def mixture_sample_docs(spark, sf_dir):
    docs = _load_wide(spark, sf_dir, "documents")
    toks = docs.select(
        "source", "doc_id", token_count(F.col("text")).alias("t")
    )
    src = toks.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("t").alias("c_tokens")
    ).withColumn("wv", F.round(F.sqrt(F.col("c_tokens")), 6))
    tot = src.agg(
        F.round(F.sum("wv"), 6).alias("w_total"),
        F.sum("c_tokens").alias("tot_tokens"),
    )
    rates = src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "c_tokens",
        F.when(
            F.col("w_total") > 0, F.round(F.col("wv") / F.col("w_total"), 6)
        ).otherwise(F.lit(0.0)).alias("weight"),
        F.when(
            (F.col("c_tokens") > 0) & (F.col("w_total") > 0),
            F.round(
                F.least(
                    F.lit(1.0),
                    0.3 * F.col("tot_tokens") * F.col("wv")
                    / (F.col("w_total") * F.col("c_tokens")),
                ),
                6,
            ),
        ).otherwise(F.lit(0.0)).alias("rate"),
    )
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 1000000
    ) / 1000000.0
    accepted = (
        toks.join(F.broadcast(rates.select("source", "rate")), "source")
        .filter(u < F.col("rate"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_sampled_raw"),
            F.sum("t").alias("tokens_sampled_raw"),
        )
    )
    return rates.join(accepted, "source", "left").select(
        "source",
        "n_docs",
        "c_tokens",
        "weight",
        "rate",
        F.coalesce(F.col("n_sampled_raw"), F.lit(0)).cast("long").alias("n_sampled"),
        F.coalesce(F.col("tokens_sampled_raw"), F.lit(0)).cast("long").alias("tokens_sampled"),
    )


_JACCARD_EXACT_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, list_distinct({_DUCK_TOKS}) AS t FROM documents
      WHERE doc_id < 500
    ), nz AS (SELECT * FROM toks WHERE len(t) > 0),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             len(list_intersect(a.t, b.t))::BIGINT AS nint,
             (len(a.t) + len(b.t) - len(list_intersect(a.t, b.t)))::BIGINT AS nuni
      FROM nz a JOIN nz b ON a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, round(nint::DOUBLE / nuni, 6) AS jaccard
    FROM pairs WHERE 10 * nint >= 9 * nuni
"""

@register(
    "jaccard_exact_join",
    _JACCARD_EXACT_ORACLE,
    "EXACT Jaccard>=0.9 self-join via prefix filtering (AllPairs/PPJoin): "
    "rarest-first token prefixes generate candidates, integer-only prefix "
    "length and cross-multiplied threshold keep the filter LOSSLESS — the "
    "oracle brute-forces all pairs and the hash gate verifies the pruned "
    "plan returns the identical set.  Input capped at doc_id < 500: this "
    "synthetic corpus is prefix filtering's worst case (a ~200-token "
    "shared vocabulary makes every prefix common and most pairs genuinely "
    ">=0.9 similar — 965k qualifying pairs at sf0.1), so the demo is "
    "bounded; real Zipfian corpora are where the prefix prunes",
)
def jaccard_exact_join(spark, sf_dir):
    from ..ops.dedup import jaccard_prefix_join

    docs = _load_wide(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    return jaccard_prefix_join(docs, threshold_num=9, threshold_den=10)


_SUBSTRING_DEDUP_ORACLE = """
    WITH d AS (
      SELECT doc_id, text, (length(text) - 39)::BIGINT AS n_windows
      FROM documents WHERE length(text) >= 40
    ), pos AS (
      SELECT doc_id, text, unnest(generate_series(1, length(text) - 39)) AS i FROM d
    ), spans AS (
      SELECT doc_id, md5(substring(text, i, 40)) AS h FROM pos
    ), dups AS (
      SELECT h FROM spans GROUP BY h HAVING count(DISTINCT doc_id) >= 2
    ), per_doc AS (
      SELECT doc_id, count(*)::BIGINT AS n_dup FROM spans
      WHERE h IN (SELECT h FROM dups) GROUP BY doc_id
    )
    SELECT d.doc_id, d.n_windows,
           coalesce(p.n_dup, 0)::BIGINT AS n_dup_windows,
           round(coalesce(p.n_dup, 0)::DOUBLE / d.n_windows, 6) AS dup_window_frac
    FROM d LEFT JOIN per_doc p USING (doc_id)
"""

@register(
    "substring_dedup_docs",
    _SUBSTRING_DEDUP_ORACLE,
    "exact-substring duplication stats (arXiv:2107.06499 signal): every "
    "40-char window hashed, windows whose text recurs in another doc "
    "counted per doc — window-hash + one hash-keyed shuffle standing in "
    "for the paper's suffix array; stride is the scale knob",
)
def substring_dedup_docs(spark, sf_dir):
    from ..ops.dedup import duplicated_span_stats

    docs = _load_wide(spark, sf_dir, "documents")
    return duplicated_span_stats(docs, k=40, stride=1)


@register(
    "docs_hash_sample",
    """
    SELECT source, count(*) AS n_sampled,
           cast(sum(n_chars) AS bigint) AS chars_sampled
    FROM documents
    WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 < 10
    GROUP BY source
    """,
    "deterministic 10% hash sampling (md5(doc_id) mod 100): reproducible "
    "across engines/runs/partitionings, unlike rand()-based sampling; the "
    "standard way to carve stable training-data subsets",
)
def docs_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load_wide(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
    )
    return (
        docs.filter(bucket < 10)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_sampled"),
            F.sum("n_chars").alias("chars_sampled"),
        )
    )


@register(
    "fingerprint_docs",
    """
    SELECT doc_id,
           list_min(list_transform(
             range(1, greatest(length(coalesce(text, '')) - 7, 1) + 1),
             i -> md5(substr(coalesce(text, ''), i, 8)))) AS fp
    FROM documents
    """,
    "rolling-hash document fingerprint: min md5 over char 8-grams",
)
def fingerprint_docs(spark, sf_dir):
    docs = _load_wide(spark, sf_dir, "documents")
    return docs.select("doc_id", doc_fingerprint(F.col("text"), 8).alias("fp"))


_STOP_SQL = ", ".join(f"'{w}'" for w in LANG_STOPWORDS["en"])

@register(
    "text_stats_docs",
    f"""
    WITH toks AS (
      SELECT doc_id, text, {_DUCK_TOKS} AS t FROM documents
    ), raw AS (
      SELECT doc_id,
             length(coalesce(text, '')) AS n_chars,
             len(t) AS n_tokens,
             len(regexp_extract_all(coalesce(text, ''), '[A-Za-z]')) AS n_alpha,
             len(regexp_extract_all(coalesce(text, ''), '[0-9]')) AS n_digit,
             len(regexp_extract_all(coalesce(text, ''), '[^\\sA-Za-z0-9]')) AS n_punct,
             len(list_filter(t, x -> x IN ({_STOP_SQL}))) AS n_stop
      FROM toks
    ), ratios AS (
      SELECT doc_id, n_chars, n_tokens,
             CASE WHEN n_chars > 0 THEN n_alpha::DOUBLE / n_chars ELSE 0 END AS alpha_r,
             CASE WHEN n_chars > 0 THEN n_digit::DOUBLE / n_chars ELSE 0 END AS digit_r,
             CASE WHEN n_chars > 0 THEN n_punct::DOUBLE / n_chars ELSE 0 END AS punct_r,
             CASE WHEN n_tokens > 0 THEN n_stop::DOUBLE / n_tokens ELSE 0 END AS stop_r
      FROM raw
    )
    SELECT doc_id, n_chars, n_tokens,
           round(alpha_r, 6) AS alpha_ratio,
           round(digit_r, 6) AS digit_ratio,
           round(punct_r, 6) AS punct_ratio,
           round(stop_r, 6) AS stopword_ratio,
           round(greatest(0.0, least(1.0,
             (CASE WHEN n_tokens BETWEEN 5 AND 5000 THEN 0.25 ELSE 0.0 END)
             + alpha_r * 0.35
             + least(stop_r * 2.0, 1.0) * 0.25
             + 0.15
             - (digit_r + punct_r) * 0.5)) + 1e-9, 6) AS quality
    FROM ratios
    """,
    "text quality scoring: char/word stats + composite quality in [0,1]",
)
def text_stats_docs(spark, sf_dir):
    docs = _load_wide(spark, sf_dir, "documents")
    s = text_stats(F.col("text"))
    return docs.select(
        "doc_id",
        s["n_chars"].alias("n_chars"),
        s["n_tokens"].alias("n_tokens"),
        F.round(s["alpha_ratio"], 6).alias("alpha_ratio"),
        F.round(s["digit_ratio"], 6).alias("digit_ratio"),
        F.round(s["punct_ratio"], 6).alias("punct_ratio"),
        F.round(s["stopword_ratio"], 6).alias("stopword_ratio"),
        # +1e-9 boundary nudge: the multi-term quality expression can differ
        # between engines by ~1 ulp (FMA/op order); dyadic n_chars values park
        # exact results ON the .xxxxxx5 boundary, so displace it first
        F.round(quality_score(F.col("text")) + F.lit(1e-9), 6).alias("quality"),
    )


def _lang_score_sql(code: str) -> str:
    words = ", ".join(f"'{w}'" for w in LANG_STOPWORDS[code])
    return f"len(list_filter(lt, x -> x IN ({words})))"


@register(
    "language_id_docs",
    f"""
    WITH toks AS (
      SELECT doc_id,
             CASE WHEN trim(lower(coalesce(text, ''))) = '' THEN []::VARCHAR[]
                  ELSE string_split_regex(trim(lower(coalesce(text, ''))), '\\s+') END AS lt
      FROM documents
    ), scores AS (
      SELECT doc_id,
             {_lang_score_sql('de')} AS s_de,
             {_lang_score_sql('en')} AS s_en,
             {_lang_score_sql('es')} AS s_es,
             {_lang_score_sql('fr')} AS s_fr
      FROM toks
    )
    SELECT doc_id,
           CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
                WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
                WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
                WHEN s_es >= s_fr THEN 'es'
                ELSE 'fr' END AS lang_pred
    FROM scores
    """,
    "stopword-vote language identification heuristic",
)
def language_id_docs(spark, sf_dir):
    docs = _load_wide(spark, sf_dir, "documents")
    return docs.select("doc_id", language_id(F.col("text")).alias("lang_pred"))


def _lang_ngram_score_sql(code: str) -> str:
    from ..ops.text import LANG_TRIGRAMS

    grams = ", ".join(f"'{g}'" for g in LANG_TRIGRAMS[code])
    return f"len(list_intersect(tg, [{grams}]))"


@register(
    "language_id_ngram_docs",
    f"""
    WITH g AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(length(t) - 2, 1) + 1),
               i -> substr(t, i, 3))) AS tg
      FROM (SELECT doc_id, lower(trim(coalesce(text, ''))) AS t
            FROM documents)
    ), scores AS (
      SELECT doc_id,
             {_lang_ngram_score_sql('de')} AS s_de,
             {_lang_ngram_score_sql('en')} AS s_en,
             {_lang_ngram_score_sql('es')} AS s_es,
             {_lang_ngram_score_sql('fr')} AS s_fr
      FROM g
    )
    SELECT doc_id,
           CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
                WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
                WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
                WHEN s_es >= s_fr THEN 'es'
                ELSE 'fr' END AS lang_pred
    FROM scores
    """,
    "character-trigram language identification (Cavnar–Trenkle-style "
    "profile intersection reduced to fixed tiny profiles): the n-gram "
    "companion to the stopword-vote heuristic — catches inflected text "
    "where exact stopword tokens don't appear",
)
def language_id_ngram_docs(spark, sf_dir):
    from ..ops.text import char_trigrams, language_id_ngram_from_trigrams

    docs = _load_wide(spark, sf_dir, "documents")
    # trigram array staged once: the four profile intersections then read an
    # attribute instead of re-deriving (and re-lowering) the gram array
    staged = docs.select("doc_id", char_trigrams(F.col("text")).alias("__tg"))
    return staged.select(
        "doc_id",
        language_id_ngram_from_trigrams(F.col("__tg")).alias("lang_pred"),
    )


@register(
    "tfidf_top_terms",
    f"""
    WITH toks AS (
      SELECT doc_id, {_DUCK_TOKS} AS t FROM documents
    ), terms AS (
      SELECT doc_id, lower(unnest(t)) AS term FROM toks
    ), tf AS (
      SELECT doc_id, term, cast(count(*) AS bigint) AS tf
      FROM terms GROUP BY doc_id, term
    ), idf AS (
      SELECT term,
             ln((SELECT count(*) FROM documents)::DOUBLE
                / count(DISTINCT doc_id)) AS idf
      FROM tf GROUP BY term
    ), scored AS (
      SELECT tf.doc_id, tf.term, tf.tf,
             round(tf.tf * idf.idf, 6) AS score
      FROM tf JOIN idf USING (term)
    ), ranked AS (
      SELECT doc_id, term, tf, score,
             cast(row_number() OVER (
               PARTITION BY doc_id ORDER BY score DESC, term
             ) AS bigint) AS rk
      FROM scored
    )
    SELECT doc_id, term, tf, score, rk FROM ranked WHERE rk <= 3
    """,
    "TF-IDF top-3 terms per document: explode -> (doc, term) counts -> "
    "document frequency join -> ln(N/df) weighting -> per-doc top-k window. "
    "Two keyed shuffles (term stats, per-doc rank); the tiny corpus-size "
    "aggregate broadcasts.  The classic keyword-extraction / relevance "
    "primitive over a training corpus",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..ops.text import tokens

    docs = _load_wide(spark, sf_dir, "documents")
    n_docs = docs.select(F.count(F.lit(1)).cast("double").alias("n_docs"))
    terms = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("raw_term")
    ).select("doc_id", F.lower(F.col("raw_term")).alias("term"))
    # persist the term-frequency rollup: idf derives FROM tf and scored
    # joins tf against it, so the tokenize/explode corpus pass + the
    # (doc, term) shuffle behind tf would otherwise run twice (guide
    # §7.2 duplicated-subtree audit); the frame is (doc, term)-sized.
    tf = terms.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    ).persist()
    idf = (
        tf.groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .select("term", F.log(F.col("n_docs") / F.col("df")).alias("idf"))
    )
    scored = tf.join(idf, "term").select(
        "doc_id", "term", "tf", F.round(F.col("tf") * F.col("idf"), 6).alias("score")
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "tf", "score", "rk")
    )


@register(
    "training_manifest",
    f"""
    WITH toks AS (
      SELECT doc_id, text, {_DUCK_TOKS} AS t FROM documents
    ), raw AS (
      SELECT doc_id,
             length(coalesce(text, '')) AS n_chars,
             len(t) AS n_tokens,
             len(regexp_extract_all(coalesce(text, ''), '[A-Za-z]')) AS n_alpha
      FROM toks
    ), j AS (
      SELECT d.doc_id, d.lang, d.source,
             cast(r.n_tokens AS bigint) AS n_tokens,
             CASE WHEN r.n_chars > 0
                  THEN r.n_alpha::DOUBLE / r.n_chars ELSE 0.0 END AS ar,
             e.label,
             sqrt(list_dot_product(e.embedding::DOUBLE[],
                                   e.embedding::DOUBLE[])) AS nv
      FROM documents d
      JOIN raw r USING (doc_id)
      JOIN embeddings e ON d.doc_id = e.vec_id AND e.embedding IS NOT NULL
    )
    SELECT doc_id, lang, source, n_tokens,
           round(ar, 6) AS alpha_ratio,
           round(nv, 6) AS vec_norm,
           label
    FROM j
    WHERE n_tokens >= 3 AND ar >= 0.5
    """,
    "training-sample manifest assembly: quality-gated join of the text side "
    "(token/alpha stats) with the vector side (embedding norm, label) — the "
    "select-and-stitch step before writing training shards.  At scale both "
    "sides are fact tables: equi-join on the shared id, no broadcast "
    "assumption; gates are single-division ratios so the filter boundary is "
    "engine-exact",
)
def training_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ops.similarity import norm as vec_norm
    from ..ops.text import text_stats

    docs = _load_wide(spark, sf_dir, "documents")
    emb = _load_wide(spark, sf_dir, "embeddings")
    s = text_stats(F.col("text"))
    gated = docs.select(
        "doc_id", "lang", "source",
        s["n_tokens"].alias("n_tokens"),
        s["alpha_ratio"].alias("ar"),
    ).filter((F.col("n_tokens") >= 3) & (F.col("ar") >= 0.5))
    vecs = emb.filter(F.col("embedding").isNotNull()).select(
        F.col("vec_id"),
        vec_norm(F.col("embedding").cast("array<double>")).alias("nv"),
        "label",
    )
    return gated.join(vecs, gated.doc_id == vecs.vec_id).select(
        "doc_id", "lang", "source", "n_tokens",
        F.round(F.col("ar"), 6).alias("alpha_ratio"),
        F.round(F.col("nv"), 6).alias("vec_norm"),
        "label",
    )


@register(
    "token_counts_docs",
    f"""
    WITH toks AS (SELECT doc_id, text, {_DUCK_TOKS} AS t FROM documents)
    SELECT doc_id,
           len(t)::BIGINT AS ws_tokens,
           len(regexp_extract_all(coalesce(text, ''), '[A-Za-z]{{1,4}}|[0-9]|[^A-Za-z0-9\\s]'))::BIGINT AS bpe_tokens
    FROM toks
    """,
    "token counting: whitespace + BPE-ish regex chunking",
)
def token_counts_docs(spark, sf_dir):
    docs = _load_wide(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("ws_tokens"),
        bpe_ish_token_count(F.col("text")).alias("bpe_tokens"),
    )


@register(
    "array_funcs_docs",
    f"""
    WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS t FROM documents)
    SELECT doc_id,
           cast(len(t) AS bigint) AS n_tokens,
           cast(len(list_filter(t, w -> length(w) > 4)) AS bigint) AS n_long,
           round(coalesce(list_sum(list_transform(t, w -> length(w))), 0)::DOUBLE
                 / greatest(len(t), 1), 6) AS avg_len,
           len(list_filter(t, w -> w = 'the')) > 0 AS has_the
    FROM toks
    """,
    "higher-order array functions: filter/transform/aggregate/exists over "
    "token arrays, all JVM-side lambdas (no Python)",
)
def array_funcs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load_wide(spark, sf_dir, "documents")
    staged = docs.select("doc_id", tokens(F.col("text")).alias("t"))
    return staged.select(
        "doc_id",
        F.size("t").cast("long").alias("n_tokens"),
        F.size(F.filter("t", lambda w: F.length(w) > 4)).cast("long").alias("n_long"),
        F.round(
            F.aggregate("t", F.lit(0).cast("long"), lambda a, w: a + F.length(w))
            .cast("double")
            / F.greatest(F.size("t"), F.lit(1)),
            6,
        ).alias("avg_len"),
        F.exists("t", lambda w: w == "the").alias("has_the"),
    )


