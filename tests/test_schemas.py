"""The declared stored-table layout (``schemas.TABLE_SCHEMAS``) against
what ingest produces.

``daemon.load_tables`` builds its empty stand-ins for unfired event
families from the declaration, so a declaration that drifts from the
decode + stored-shape projection would hand views an empty table whose
key types disagree with a present one. The reference below derives
every stored schema by planning that projection over an empty feed;
production never runs it."""

from __future__ import annotations

from pyspark.sql import SparkSession
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


def test_load_tables_stands_in_declared_schemas(spark, tmp_path):
    """An empty ingest root: every table is a stand-in carrying its
    declared schema verbatim."""
    tables = load_tables(spark, str(tmp_path))
    assert set(tables) == set(TABLE_SCHEMAS)
    for name, df in tables.items():
        assert df.schema == TABLE_SCHEMAS[name], name
