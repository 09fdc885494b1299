"""SparkSession builder with scale-oriented defaults.

Local testing runs on ``local[N]`` but every default here is chosen for the
1000-executor / 100 TB design point and merely *also* works locally:

  * AQE on (runtime coalescing, skew-join splitting, dynamic join strategy);
  * broadcast threshold raised so dimension tables (region/nation/rule
    registry/centroids) always broadcast instead of shuffling;
  * Arrow enabled for the few Pandas-UDF code paths (multimodal ops);
  * shuffle partitions default to cores locally — on a real cluster this is
    expected to be overridden (``spark.sql.shuffle.partitions`` ~ 2-3x total
    cores) while AQE coalesces small post-shuffle partitions anyway;
  * parquet nanos-as-long: the driver testdata's ``events.ts`` is
    TIMESTAMP(NANOS), which vanilla Spark refuses to read; sources convert
    the long back to a microsecond timestamp (see sources/files.py);
  * DataFrame call-site capture off
    (``spark.python.sql.dataFrameDebugging.enabled=false``): while it is on,
    PySpark wraps every ``functions.*``/``Column`` call in an active-session
    lookup, a conf read, a Python stack capture and a JVM origin set/clear —
    ``F.col`` cost 13 py4j round trips instead of 3 and ``.alias`` 24
    instead of 4, and that overhead was most of a catalog request's plan
    construction.  What is lost is the PySpark file:line call site in a
    DataFrame error's context; errors still carry their message and class,
    and SQL-text contexts (``F.expr``, ``spark.sql``) still point into the
    SQL text.  PySpark reads the flag once per process, from the first
    session it sees.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "dagger_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # the reference event schema carries BOTH ProcessCommandLine and
        # processCommandLine (windows-process-creation.sql:32,36-37); only
        # case-sensitive resolution can represent that faithfully
        .config("spark.sql.caseSensitive", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
