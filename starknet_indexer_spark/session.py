"""SparkSession factory.

Local test mode runs one JVM (`local[N]`); the config block below is
written for that *and* documents the cluster-scale intent: every knob
that matters at 100 TB (AQE, skew-join handling, shuffle partitions,
broadcast threshold) is set here rather than sprinkled through the
code, so a cluster deployment only overrides this one module.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(app_name: str = "starknet_indexer_spark", **overrides: str) -> SparkSession:
    """Build (or fetch) the session.

    Scale notes (100 TB / 1000-executor intent):
    - AQE on: runtime coalescing + skew-join splitting replaces manual
      partition tuning when the data volume per key is unknown.
    - ``spark.sql.shuffle.partitions`` is a *starting* value; AQE
      coalesces down. On a real cluster set it to ~2-3x total cores.
    - Broadcast threshold stays at default 10 MB; dimension tables
      (blocks, pool_keys, region/nation/supplier) are explicitly
      broadcast-hinted in the query library instead of relying on
      statistics, because event-sourced fact tables dwarf them.
    - Session timezone pinned to UTC: block timestamps are epoch-derived
      and the DuckDB correctness oracle compares UTC-naive values.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.default.parallelism", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # legacy corpus encodings stored TIMESTAMP(NANOS), which Spark's
        # vectorized reader rejects; keep reading those as epoch-nanos
        # LongType (catalog.load converts). The current testdata is
        # timestamp[us] without isAdjustedToUTC (TIMESTAMP_NTZ) — also
        # normalized to session-TZ TIMESTAMP in catalog.load.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in overrides.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def empty_frame(spark: SparkSession, schema: T.StructType | str) -> DataFrame:
    """A typed empty DataFrame that the optimizer knows is empty.

    ``schema`` is a ``StructType`` or a DDL string (parsed by
    ``StructType.fromDDL``); the result's schema is exactly what
    ``createDataFrame([], schema)`` gives, nullability included. The
    relation is built by one JVM call,
    ``SparkSession.createDataFrame(java.util.List<Row>, StructType)``
    on an empty list, so its analyzed plan is already an empty
    ``LocalRelation``: no Python-side RDD is parallelized and no job
    runs. Classic PySpark ``createDataFrame([], schema)`` is not used
    because it always builds a ``LogicalRDD`` (over
    ``default.parallelism`` empty partitions) that Catalyst cannot see
    into, and it costs about 20 ms per call in Python. Over the empty
    ``LocalRelation``, ``PropagateEmptyRelation`` folds aggregates,
    inner joins and unions (an outer join with an empty side becomes a
    projection with nulls), so a plan that reads only empty inputs runs
    no job."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    jspark = spark._jsparkSession
    jdf = jspark.createDataFrame(
        spark._jvm.java.util.ArrayList(), jspark.parseDataType(schema.json())
    )
    return DataFrame(jdf, spark)
