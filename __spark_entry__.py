"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes every implemented operator from SURVEY.md §2 plus the
north-star LLM-pipeline operators as named queries over the driver testdata;
``oracle_sql()`` returns the DuckDB twin for each SQL-expressible one (see
dagger_spark/catalog.py for the pairing conventions: identical aliases,
date_trunc'd timestamps, exact-decimal-width rounding, double-cast dots).

Rows-only entries (no oracle, 11 of 255): the fixture-driven rules engine +
correlation (per-rule DuckDB parity lives in tests/test_rules_engine.py —
the fixture table is not among the driver's DuckDB views), the Pandas-UDF
multimodal stages including the perceptual-hash dedup chain, and the zlib
compression filter.  Everything else is oracle-paired; see README.md and
dagger_spark/catalog.py.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dagger_spark.catalog import QUERIES, flagship  # noqa: E402

# Driver-window rotation (round 14).  Full oracle-paired driver coverage
# was reached in round 13 (every oracle-paired catalog entry has a green
# row in some committed CORRECTNESS artifact), so from here the window is
# pure freshness + changed-code re-earning.  Priorities, in order:
# (1) changed code re-earns its row — round 14 moved the literal-heavy
# plan construction onto one-call array literals
# (literals.lit_double_array / lit_int_array / lit_string_array:
# LSH planes, IVF centroids, PQ codebook+norms, JL sign matrix, SQ8 grid,
# classifier hashing weights, language-id profiles), rule predicates as
# one F.expr of Spark SQL text each (rule metadata is one literal array), and
# rewrote ops/rank._bucket as one size(filter(...)) expression — every query whose plan embeds those
# trees re-earns a driver row; (2) the STALEST rows by last-green round:
# all 21 remaining round-8 rows (retiring that cohort; next-stalest is
# round 9 with 47 rows queueing for future rounds).
# tests/test_rotation.py fails the suite if a later round's CORRECTNESS
# artifact exists without the window having been re-authored — the
# mechanical stall guard.
_WINDOW_ROUND = 14

_DRIVER_WINDOW = [
    # -- (1) changed code re-earns: one-call literal arrays (ANN family,
    #    SQ8/IVF grid, embeddings kernels) --
    "ann_rp",                     # JL sign matrix (project_rp)
    "ann_lsh",                    # LSH plane coefficients
    "ann_ivf",                    # centroid matrix/ids/norms
    "ann_pq_adc",                 # PQ codebook + codeword-norm LUT
    "ann_recall",                 # composes all of the above
    "ann_ndcg_embeddings",        # composes all of the above
    "ann_ivf_sq8",                # SQ8 reconstruction + centroid literals
    "ann_ivf_sq8_indexed",        # index probe: grid literals (_grid_literals)
    "ann_ivf_sq8_split",          # split probe shares the grid literals
    "ivf_cell_sizes_embeddings",  # reads the same manifest-resolved path
    "lsh_recall_docs",            # lsh_bucket planes
    "kmeans_step_embeddings",     # assign_cells centroid literals
    "power_iteration_embeddings", # mu/v0/v1 one-call vectors
    "semdedup_embeddings",        # assign_cells centroid literals
    "embedding_neardup",          # cosine_neardup_pairs lsh_bucket planes
    # -- (1) changed code re-earns: classifier weights + language profiles --
    "quality_policy_docs",
    "quality_classifier_docs",
    "classifier_auc_docs",
    "classifier_kappa_docs",
    "classifier_calibration_docs",
    "conformal_coverage_docs",
    "pipeline_verdict_docs",
    "language_id_ngram_docs",
    "langid_confusion_docs",
    # -- (1) changed code re-earns: rank primitive (_bucket / pcts) --
    "hybrid_rrf_docs",
    "quantile_normalize_docs",
    "customer_rfm_segments",
    "customer_abc_analysis",
    "zipf_slope_docs",
    # -- (2) stalest: all 21 remaining round-8 rows (cohort retired) --
    "events_sigma_corr_temporal",
    "fertility_by_lang_docs",
    "gopher_quality_docs",
    "hard_negatives_embeddings",
    "hll_scratch_events",
    "interval_join_events",
    "kcore_docs",
    "kmv_distinct_events",
    "kmv_source_overlap_docs",
    "l_diversity_docs",
    "label_centroid_sim_embeddings",
    "matryoshka_recall_embeddings",
    "maxsim_retrieval_docs",
    "orders_woe_binning",         # also a rank-primitive re-earn
    "pagerank_docs",
    "pmi_collocations_docs",
    "source_dup_matrix_docs",
    "source_kl_divergence_docs",
    "sq8_error_embeddings",
    "t_closeness_docs",
    "triangle_count_docs",
]


def _ordered_queries() -> dict:
    missing = [n for n in _DRIVER_WINDOW if n not in QUERIES]
    if missing:  # fail loudly: a typo here would silently shrink the gate
        raise KeyError(f"driver-window names not in catalog: {missing}")
    out = {n: QUERIES[n] for n in _DRIVER_WINDOW}
    for name, q in QUERIES.items():
        if name not in out:
            out[name] = q
    return out


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the engine's identity —
    multi-rule detection fan-in (filter + enrich + UNION ALL) over events."""
    return flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.fn for name, q in _ordered_queries().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: q.oracle
        for name, q in _ordered_queries().items()
        if q.oracle is not None
    }
