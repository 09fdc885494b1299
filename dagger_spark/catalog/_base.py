"""The driver-facing query catalog: every operator exposed as a named query
over the testdata tables, each (where SQL-expressible) paired with an ANSI
SQL twin that DuckDB replays for the differential-correctness gate.

Conventions that make hash-comparison robust across engines:
  * every computed column is aliased IDENTICALLY in Spark and oracle SQL;
  * output timestamps are date_trunc'd ('second'/'hour') — the raw events.ts
    is nanosecond in DuckDB but microsecond in Spark;
  * exact-decimal aggregates round to 2, derived ratios/averages to 6;
  * embeddings are cast to double before any dot product so both engines
    accumulate identically;
  * top-k orderings always carry a unique tiebreak column.

Queries marked ``oracle=None`` are the genuinely non-SQL-expressible ops
(sysmon rule engine over generated fixtures, multimodal Pandas-UDF
plumbing); the driver records a rows-only check for those (see
__spark_entry__.py docstring).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Callable, Optional

import pandas as pd  # module-level: pandas_udf resolves type hints here

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ops.dedup import (
    exact_dedup, minhash_candidate_pairs, ngram_jaccard_pairs, simhash,
)
from ..ops.similarity import (
    brute_force_topk, cosine_neardup_pairs, ivf_topk, lsh_topk, _plane_coeffs,
)
from ..ops.quality import (
    GOPHER_STOPWORDS, PII_PATTERNS, gopher_pass, gopher_stats, pii_counts,
    redact_pii, repetition_stats, word_ngrams,
)
from ..ops.text import (
    bpe_ish_token_count, doc_fingerprint, language_id, quality_score,
    text_stats, token_count, tokens, LANG_STOPWORDS,
)
from ..sources.files import ALL_TABLES, load_table, load_tables


@dataclass(frozen=True)
class CatalogQuery:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]
    description: str = ""


def _load_wide(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """documents/embeddings loader for the compute-heavy per-row operators:
    the testdata files are single-row-group miniatures, and parquet splits
    only at row-group boundaries — so every scan is ONE task and md5-heavy
    map stages run single-core.  parallelize_narrow repartitions ONLY when
    splits < cores; at real file sizes it is a no-op (see
    sources/files.py).  Measured: winnowing_docs 4.1 -> 0.95 s at sf0.1."""
    import os

    from ..sources.files import parallelize_narrow

    return parallelize_narrow(
        load_table(spark, sf_dir, name),
        path=os.path.join(sf_dir, f"{name}.parquet"),
    )


QUERIES: dict = {}


def register(name: str, oracle: Optional[str], description: str = ""):
    def deco(fn):
        QUERIES[name] = CatalogQuery(fn, oracle, description)
        return fn
    return deco


def _shared_sql(name: str, sql: str, description: str = "", oracle_sql: Optional[str] = None):
    """Register a query whose Spark plan and DuckDB oracle share one ANSI SQL
    text (dialect-portable by construction).  Each request registers only
    the tables the text names, matched as whole words, ignoring case."""
    names = tuple(t for t in ALL_TABLES if re.search(rf"\b{t}\b", sql, re.I))

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        load_tables(spark, sf_dir, names=names)
        return spark.sql(sql)

    QUERIES[name] = CatalogQuery(fn, oracle_sql or sql, description)
    return fn




__all__ = [
    'QUERIES','Callable', 'CatalogQuery', 'DataFrame', 'F', 'GOPHER_STOPWORDS', 'LANG_STOPWORDS', 'Optional', 'PII_PATTERNS', 'SparkSession', '_load_wide', '_plane_coeffs', '_shared_sql', 'bpe_ish_token_count', 'brute_force_topk', 'cosine_neardup_pairs', 'dataclass', 'doc_fingerprint', 'exact_dedup', 'gopher_pass', 'gopher_stats', 'ivf_topk', 'language_id', 'load_table', 'load_tables', 'lsh_topk', 'minhash_candidate_pairs', 'ngram_jaccard_pairs', 'pd', 'pii_counts', 'quality_score', 'redact_pii', 'register', 'repetition_stats', 'simhash', 'text_stats', 'token_count', 'tokens', 'word_ngrams']
