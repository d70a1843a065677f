"""The declared stored-table layout (``schemas.TABLE_SCHEMAS``) against
what ingest produces.

``daemon.load_tables`` builds its empty stand-ins for unfired event
families from the declaration, so a declaration that drifts from the
decode + stored-shape projection would hand views an empty table whose
key types disagree with a present one. The reference below derives
every stored schema by planning that projection over an empty feed;
production never runs it."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from starknet_indexer_spark.daemon import load_tables
from starknet_indexer_spark.decode import EVENT_PARSERS, decode_events
from starknet_indexer_spark.ingest import (
    RAW_SCHEMA,
    SIDE_TABLES,
    _envelope_cols,
    to_stored,
)
from starknet_indexer_spark.schemas import TABLE_SCHEMAS
from starknet_indexer_spark.session import empty_frame
from starknet_indexer_spark.streaming import state_table

from .jobs import job_group
from .test_state_table import streaming_ddls


def derived_stored_schemas(spark: SparkSession) -> dict[str, T.StructType]:
    """The exact schema of every stored table, derived by planning the
    decode + stored-shape projection over an empty feed — by
    construction identical to what ingest_batch writes for the event
    families and their side tables. ``blocks`` and ``pool_keys`` are
    built by ingest_batch/upsert_pool_keys directly, so they are
    spelled out here and pinned by the read-back check in
    test_full_runtime."""
    empty = spark.createDataFrame([], RAW_SCHEMA)
    env = empty.select(*_envelope_cols(empty), F.col("data"))
    out: dict[str, T.StructType] = {}
    for event_type in EVENT_PARSERS:
        decoded = decode_events(env, event_type)
        table, stored = to_stored(event_type, decoded)
        out[table] = stored.schema
        for side_name, builder in SIDE_TABLES.get(event_type, ()):
            out[side_name] = builder(decoded).schema
    out["blocks"] = T.StructType(
        [
            T.StructField("number", T.IntegerType()),
            T.StructField("hash", T.StringType()),
            T.StructField("time", T.TimestampType()),
            T.StructField("block_bucket", T.IntegerType()),
        ]
    )
    out["pool_keys"] = T.StructType(
        [
            T.StructField("key_hash", T.StringType()),
            T.StructField("token0", T.StringType()),
            T.StructField("token1", T.StringType()),
            T.StructField("fee", T.DecimalType(38, 0)),
            T.StructField("tick_spacing", T.IntegerType()),
            T.StructField("extension", T.StringType()),
        ]
    )
    return out


def test_declared_schemas_equal_derivation(spark):
    """All 31 stored tables, StructType equality exactly: column order,
    types, nested fields and nullability."""
    derived = derived_stored_schemas(spark)
    assert len(derived) == 31
    assert set(TABLE_SCHEMAS) == set(derived)

    def fields(schema):
        return [(f.name, f.dataType.simpleString(), f.nullable) for f in schema]

    mismatched = {
        name: sorted(set(fields(TABLE_SCHEMAS[name])) ^ set(fields(schema)))
        for name, schema in derived.items()
        if TABLE_SCHEMAS[name] != schema
    }
    assert not mismatched, mismatched


def _is_empty_local_relation(df: DataFrame) -> bool:
    plan = df._jdf.queryExecution().optimizedPlan()
    return plan.getClass().getSimpleName() == "LocalRelation" and plan.data().isEmpty()


def test_load_tables_stands_in_declared_schemas(spark, tmp_path):
    """An empty ingest root: every table is a stand-in carrying its
    declared schema verbatim, and the optimizer sees it as an empty
    relation, so plans over it fold instead of running jobs."""
    tables = load_tables(spark, str(tmp_path))
    assert set(tables) == set(TABLE_SCHEMAS)
    for name, df in tables.items():
        assert df.schema == TABLE_SCHEMAS[name], name
        assert _is_empty_local_relation(df), name


def test_absent_state_reads_fold_to_empty(spark, tmp_path):
    """``state_table.read_state`` on a state dir that was never
    committed gives the DDL's schema exactly, as an empty relation."""
    ddl = "k string, n bigint, xs array<string>"
    df = state_table.read_state(spark, str(tmp_path / "absent"), ddl)
    assert df.schema == spark.createDataFrame([], ddl).schema
    assert _is_empty_local_relation(df)


def test_empty_frame_is_built_in_the_jvm(spark):
    """Every stored-table schema and every streaming state DDL: the
    analyzed plan (before any optimizer rule) is already an empty
    ``LocalRelation``, the schema equals plain ``createDataFrame``'s
    exactly, nullability included, and building the frames starts no
    Spark job."""
    ddls = streaming_ddls()
    assert len(TABLE_SCHEMAS) == 31
    assert len(ddls) >= 23, sorted(ddls)
    schemas = {**TABLE_SCHEMAS, **ddls}
    with job_group(spark.sparkContext, "empty-frame-build") as jobs:
        frames = {name: empty_frame(spark, s) for name, s in schemas.items()}
    assert jobs == {"grouped": set(), "ungrouped": set()}
    for name, df in frames.items():
        plan = df._jdf.queryExecution().analyzed()
        assert plan.getClass().getSimpleName() == "LocalRelation", name
        assert plan.data().isEmpty(), name
        assert df.schema == spark.createDataFrame([], schemas[name]).schema, name
