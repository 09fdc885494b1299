"""``sources/files.load_table`` pins each parquet file's schema after its
first read: a later read of the unchanged file passes the schema to
``spark.read.schema(...)`` and launches no schema-inference job, and a
rewritten file is inferred again.  ``_shared_sql`` entries register only
the tables their SQL names."""

import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T

from dagger_spark.catalog import QUERIES
from dagger_spark.sources.files import ALL_TABLES, load_table, load_tables


def _jobs(spark, build):
    """(result of ``build()``, Spark jobs it launched)."""
    sc = spark.sparkContext
    group = f"sources-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "sources test")
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted(map(repr, df.collect()))


def test_second_load_tables_launches_no_job(spark, sf_dir, tmp_path):
    sf = shutil.copytree(sf_dir, tmp_path / "sf")  # paths never read before
    first, jobs1 = _jobs(spark, lambda: load_tables(spark, str(sf)))
    second, jobs2 = _jobs(spark, lambda: load_tables(spark, str(sf)))
    assert jobs1 > 0  # the first read infers
    assert jobs2 == 0
    for n in ALL_TABLES:
        assert second[n].schema == first[n].schema, n
        assert _rows(second[n]) == _rows(first[n]), n


def test_events_ts_stays_a_timestamp_on_the_pinned_path(spark, sf_dir, tmp_path):
    """``events.ts`` is parquet TIMESTAMP(NANOS), read as a long and turned
    into a microsecond timestamp; the pinned schema keeps that path."""
    sf = shutil.copytree(sf_dir, tmp_path / "sf")
    first = load_table(spark, str(sf), "events")
    second, jobs = _jobs(spark, lambda: load_table(spark, str(sf), "events"))
    assert jobs == 0
    assert isinstance(second.schema["ts"].dataType, (T.TimestampType, T.TimestampNTZType))
    assert second.schema == first.schema
    assert _rows(second) == _rows(first)


def test_rewritten_file_gets_its_new_schema(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int32())}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]  # pinned
    pq.write_table(pa.table({"b": ["x"], "c": [1.5]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.schema == T.StructType([T.StructField("b", T.StringType()),
                                      T.StructField("c", T.DoubleType())])
    assert [tuple(r) for r in df.collect()] == [("x", 1.5)]


def _temp_views(session):
    return {t.name for t in session.catalog.listTables() if t.isTemporary}


def test_q1_registers_only_lineitem(spark, sf_dir):
    s = spark.newSession()  # own temp views, shared SparkContext
    QUERIES["q1_pricing_summary"].fn(s, sf_dir).collect()
    assert _temp_views(s) & set(ALL_TABLES) == {"lineitem"}


def test_every_shared_sql_entry_resolves_with_only_its_tables(spark, sf_dir):
    """Each ``_shared_sql`` entry analyses in a session that holds no temp
    view but those the entry registered itself."""
    shared = {n: q for n, q in QUERIES.items()
              if q.fn.__qualname__.startswith("_shared_sql.")}
    assert len(shared) > 50
    for name, q in shared.items():
        s = spark.newSession()
        q.fn(s, sf_dir).schema  # analysis fails on a missing table
        assert _temp_views(s) <= set(ALL_TABLES), name
