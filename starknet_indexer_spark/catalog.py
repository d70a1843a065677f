"""Table registry over the driver-generated parquet directories.

The synthetic corpus (TESTDATA.md) is a TPC-H-ish star schema plus an
``events`` stream table and the LLM-pipeline tables ``documents`` /
``embeddings``. All reads go through here so partitioning/bucketing
policy has a single home.

Scale notes: at 100 TB each logical table becomes a *directory* of
parquet files partitioned on its natural pruning key (facts:
date/block-range; events: event date). `spark.read.parquet(dir)`
with a filter on the partition column prunes at the source. The
sf* test dirs are single files, so the same code path works unchanged.

Schema memo: a plain ``spark.read.parquet(path)`` infers the schema
from the parquet footers, and that inference is a Spark job (~90 ms
on the 4-core VM, even for one file) every time a query plan is
built. ``read_parquet`` infers once and then reads with the memoized
``StructType`` (``spark.read.schema(s).parquet(path)``: no job). The
memo key is the session's ``applicationId``, the path, and each
parquet file's (name, size, ``st_mtime_ns``) under it, so it misses
when a file is added, removed or rewritten, and when a new Spark
application reads the same path. Hidden files (``_SUCCESS``,
``.crc``), which Spark does not read, are not part of the key. A
path that is not on the local file system always infers. The memo
keeps the ``SCHEMA_MEMO_MAX`` newest entries.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Broadcast policy note: region/nation/supplier/customer/part are
# dimension-sized and every query broadcasts them EXPLICITLY at the
# join site (F.broadcast hints, locked by
# tests/test_plans.py::TestJoinStrategy) — hint-at-the-join keeps each
# plan self-documenting and lets a query opt out (e.g. the probe side
# of an outer join cannot take the hint). A load()-level hint was
# considered and rejected: it would silently attach to every use,
# including positions where Spark warns and ignores it.

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


#: entries the schema memo keeps (oldest evicted first): each table
#: and silver relation of a few corpora in a few sessions
SCHEMA_MEMO_MAX = 256
_SCHEMA_MEMO: dict[tuple, StructType] = {}
_SCHEMA_MEMO_LOCK = threading.Lock()


def _parquet_files(path: str) -> tuple[tuple[str, int, int], ...] | None:
    """(relative name, size, st_mtime_ns) of every file Spark would
    read under ``path``, sorted; None when ``path`` is not local."""
    if os.path.isfile(path):
        st = os.stat(path)
        return ((os.path.basename(path), st.st_size, st.st_mtime_ns),)
    if not os.path.isdir(path):
        return None
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if f.startswith(("_", ".")):
                continue
            fp = os.path.join(root, f)
            st = os.stat(fp)
            out.append((os.path.relpath(fp, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema once per
    (application, path, file set) and reads with the memoized schema
    afterwards (module docstring)."""
    files = _parquet_files(path)
    if files is None:
        return spark.read.parquet(path)
    key = (spark.sparkContext.applicationId, os.path.abspath(path), files)
    schema = _SCHEMA_MEMO.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    with _SCHEMA_MEMO_LOCK:
        while len(_SCHEMA_MEMO) >= SCHEMA_MEMO_MAX:
            _SCHEMA_MEMO.pop(next(iter(_SCHEMA_MEMO)))
        _SCHEMA_MEMO[key] = df.schema
    return df


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    df = read_parquet(spark, table_path(sf_dir, name))
    # Timestamp normalization — two historical corpus encodings:
    # (a) TIMESTAMP(NANOS) read as epoch-nanos longs under
    #     spark.sql.legacy.parquet.nanosAsLong; convert by INTEGER
    #     division to micros — the same ns->us truncation DuckDB's
    #     reader applies. NOT floor(ts/1000): `/` is double division,
    #     and epoch-nanos (~1.7e18) exceed double's 53-bit mantissa.
    # (b) timestamp[us] written without isAdjustedToUTC, which Spark
    #     reads as TIMESTAMP_NTZ; epoch functions (unix_micros etc.)
    #     reject NTZ, so cast to session-TZ TIMESTAMP (session TZ is
    #     pinned UTC in session.py, so the cast is a pure re-tag).
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    for c, t in df.dtypes:
        if t == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def register_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view; returns the DataFrames."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = load(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
) -> None:
    """Materialize a table hash-bucketed (and optionally sorted) on its
    join key — the co-location strategy for repeated fact⋈fact joins
    at 100 TB: two tables bucketed on the same key into the same bucket
    count join with NO shuffle exchange (and no sort, if sorted), per
    bucket-pruned file pairing. The Spark analogue of the reference's
    covering composite indexes (SURVEY §4.1). Registered as an external
    parquet table so ``spark.table(table)`` carries the bucket spec."""
    w = df.write.mode("overwrite").option("path", path).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(table)
