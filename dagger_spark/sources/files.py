"""Batch file sources for the driver's testdata tables and sysmon fixtures.

Tables are plain parquet scans, so Catalyst predicate pushdown, column
pruning and partition pruning apply untouched.  What ``load_table`` adds is
a pinned schema: ``spark.read.parquet`` without a schema runs a Spark job
(``mergeSchemasInParallel``) to read the footers, even for one file, and
that job used to be most of a short catalog request's fixed cost.  The
first read of a parquet FILE keeps the ``StructType`` Spark inferred, under
the file's ``(realpath, st_ino, st_size, st_mtime_ns, st_ctime_ns)``; a
later read of the same, unchanged file passes it to
``spark.read.schema(...)`` and launches no job.  Only metadata is cached,
never data, and one entry is kept per path, so a rewritten file (new
stat) is inferred again and never gets a stale schema.  The cache is
process-wide and not keyed on a session: a ``StructType`` does not depend
on the session that inferred it, provided sessions agree on the parquet
type-mapping confs (all sessions here come from ``session.get_spark``).
A directory path keeps inference on every read.

The one wrinkle is ``events.ts``: the driver writes parquet
TIMESTAMP(NANOS), which Spark refuses outright (PARQUET_TYPE_ILLEGAL).
With ``spark.sql.legacy.parquet.nanosAsLong=true`` (set in session.py, and
again here for sessions built elsewhere) the column arrives as a BIGINT of
epoch-nanos, and the pinned schema keeps it a BIGINT; we convert to a
microsecond TIMESTAMP here.  DuckDB (the oracle) truncates ns->us
identically.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import SYSMON_EVENT_SCHEMA

TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
ALL_TABLES = TPCH_TABLES + ("events", "documents", "embeddings")

# realpath -> (stat stamp, StructType) of the parquet file's last read
_SCHEMAS: dict = {}


def _stamp(path: str):
    st = os.stat(path)
    return (st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns)


def _read_parquet(spark: SparkSession, path: str) -> tuple:
    """``(spark.read.parquet(path), its schema)``, inferring a file's schema
    only on its first read or after the file changed (see the module
    docstring)."""
    if not os.path.isfile(path):
        df = spark.read.parquet(path)
        return df, df.schema
    real = os.path.realpath(path)
    stamp = _stamp(real)
    hit = _SCHEMAS.get(real)
    if hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path), hit[1]
    df = spark.read.parquet(path)
    schema = df.schema
    # a rewrite racing the inference must not pin what it read
    if _stamp(real) == stamp:
        _SCHEMAS[real] = (stamp, schema)
    return df, schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # the caller may hand us a session built without the nanos
        # workaround (it is a runtime-settable SQL conf)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df, schema = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and isinstance(schema["ts"].dataType, T.LongType):
        # integer DIV, not `/`: epoch-nanos ~1.7e18 exceeds double's 53-bit
        # mantissa, so float division can bump the microsecond by one —
        # DuckDB (the oracle) truncates exactly
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def parallelize_narrow(
    df: DataFrame, path: str = None, min_parts: int = None
) -> DataFrame:
    """Spread a CPU-heavy NARROW stage across cores when the underlying
    parquet cannot fan out by itself.

    Parquet parallelism bottoms out at ROW GROUPS: Spark will happily cut a
    file into byte-range splits, but every row of a single-row-group file
    lands in the one task whose range covers the group's midpoint — the
    other splits read nothing.  All the driver testdata files are written
    as one row group, so every scan is effectively single-core no matter
    what maxPartitionBytes says (which is why partition COUNT is the wrong
    detector — it counts the empty splits too; we read the parquet footer
    instead).  A map-heavy operator (winnowing, the hashing-trick
    classifier: thousands of md5s per row) then runs 1-core however many
    exist.  The repartition is CONDITIONAL: production files carry many
    row groups, the condition is false, and no shuffle is added — this
    compensates for miniature fixtures (same contract as bench.py's
    SPLIT_CONF), it is not a production setting."""
    spark = df.sparkSession
    want = min_parts or spark.sparkContext.defaultParallelism
    groups = None
    if path is not None and os.path.isfile(path):
        try:
            import pyarrow.parquet as _pq

            groups = _pq.ParquetFile(path).num_row_groups
        except Exception:
            groups = None
    if groups is None:
        groups = df.rdd.getNumPartitions()
    if groups < want:
        return df.repartition(want)
    return df


def load_tables(spark: SparkSession, sf_dir: str, names=ALL_TABLES, register_views: bool = True) -> dict:
    # NOTE: the fact tables (lineitem/orders/events) are NOT spread through
    # parallelize_narrow even though they are single-row-group miniatures
    # too — measured at sf0.1, the round-robin exchange costs more than the
    # single-core scan it parallelizes when per-row work is trivial
    # (q1 1.62 -> 2.25 s).  Spreading pays only where per-row compute
    # dominates (md5-heavy document/embedding operators — see catalog's
    # _load_wide); cheap scans keep Spark's native split behavior.
    out = {}
    for n in names:
        out[n] = load_table(spark, sf_dir, n)
        if register_views:
            out[n].createOrReplaceTempView(n)
    return out


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols,
    n_buckets: int = 32,
    sort_cols=None,
    path: str = None,
    mode: str = "overwrite",
) -> None:
    """Persist a table bucketed (and optionally sorted) by its join key.

    Two tables bucketed the same way join with ZERO exchange — the shuffle
    is paid once at write time instead of per query, which is the 100 TB
    answer for fact-to-fact joins re-run daily (e.g. lineitem⋈orders on
    orderkey).  tests/test_skew.py asserts the exchange-free plan.
    """
    bucket_cols = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        sort_cols = [sort_cols] if isinstance(sort_cols, str) else list(sort_cols)
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(table)


def parse_json_events(raw: DataFrame, value_col: str = "value", ts_col: str = "timestamp") -> DataFrame:
    """JSON payload (+ transport timestamp) -> typed sysmon event rows.

    Replicates the reference source semantics (windows-process-access.sql:32-34):
    declared schema (undeclared JSON fields dropped), PERMISSIVE parse with
    ``ignore-parse-errors`` parity — unparseable payloads yield a null struct
    and are dropped.  Works identically on batch and streaming DataFrames;
    the Kafka wrapper feeds it ``value``/``timestamp`` straight from the
    Kafka source's built-in columns.
    """
    payload_schema = T.StructType(
        [f for f in SYSMON_EVENT_SCHEMA.fields if f.name != "timestamp"]
        # PERMISSIVE from_json returns an all-null STRUCT (not a null) for
        # malformed input, so isNotNull alone keeps corrupt payloads; the
        # corrupt-record column is the reliable malformed-vs-empty signal
        + [T.StructField("_corrupt_record", T.StringType(), True)]
    )
    parsed = raw.select(
        F.from_json(
            F.col(value_col).cast("string"),
            payload_schema,
            {"columnNameOfCorruptRecord": "_corrupt_record"},
        ).alias("e"),
        F.col(ts_col).alias("timestamp"),
    )
    return (
        parsed.filter(
            F.col("e").isNotNull() & F.col("e._corrupt_record").isNull()
        )
        .select("e.*", "timestamp")
        .drop("_corrupt_record")
    )
