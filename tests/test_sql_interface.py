"""SQL catalog + constraint validation over the Family B fixtures.

The SQL interface must give a Postgres-user experience: named
relations for every stored table and every non-parameterized view,
answering `spark.sql` identically to the DataFrame API. The
constraint validator must report zero violations on a clean ingest
and catch injected PK duplicates / FK orphans.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from starknet_indexer_spark.constraints import (
    duplicate_keys,
    orphans,
    validate_stored,
)
from starknet_indexer_spark.sql_interface import compose_views, install_sql_catalog
from starknet_indexer_spark.views import VIEWS, load_ekubo_tables

from .fixtures_b import generate


@pytest.fixture(scope="module")
def bdir():
    return generate()


@pytest.fixture(scope="module")
def btables(spark, bdir):
    return load_ekubo_tables(spark, bdir)


class TestSqlCatalog:
    def test_every_relation_queryable(self, spark, btables):
        installed = install_sql_catalog(spark, btables)
        # all 16 non-parameterized views present (V17 is a function)
        for name in VIEWS:
            if name == "calculate_staker_rewards":
                continue
            assert name in installed, name
            assert spark.sql(f"SELECT COUNT(*) AS n FROM {name}").collect()[0]["n"] >= 0

    def test_sql_matches_dataframe_api(self, spark, btables):
        install_sql_catalog(spark, btables)
        via_sql = spark.sql(
            "SELECT pool_key_hash, liquidity FROM pool_states ORDER BY pool_key_hash"
        ).collect()
        via_df = (
            VIEWS["pool_states"](btables)
            .select("pool_key_hash", "liquidity")
            .orderBy("pool_key_hash")
            .collect()
        )
        assert via_sql == via_df

    def test_view_dag_composes_downstream(self, spark, btables):
        # V7 consumes V13/V16 outputs inside one lazy plan
        v = compose_views(btables)
        assert v["last_24h_pool_stats"].count() >= 1
        # joins across catalog names work in plain SQL
        install_sql_catalog(spark, btables)
        n = spark.sql(
            """
            SELECT COUNT(*) AS n
            FROM pool_states ps JOIN pool_keys pk ON ps.pool_key_hash = pk.key_hash
            """
        ).collect()[0]["n"]
        assert n == spark.sql("SELECT COUNT(*) AS n FROM pool_states").collect()[0]["n"]


class TestStakerRewardsSql:
    def test_sql_table_function_matches_dataframe(self, spark, btables):
        """V17 callable from SQL exactly like the reference's plpgsql
        table function (src/dao.ts:1354-1540): SELECT * FROM
        calculate_staker_rewards(...) == the DataFrame API result."""
        install_sql_catalog(spark, btables)
        tmin, tmax = (
            btables["blocks"].agg(F.min("time"), F.max("time")).collect()[0]
        )
        args = (tmin, tmax, 1_000_000.0, 0.7, 0.3)
        via_df = (
            VIEWS["calculate_staker_rewards"](btables, *args)
            .orderBy("claimee")
            .collect()
        )
        via_sql = spark.sql(
            """
            SELECT * FROM calculate_staker_rewards(
              CAST(:t0 AS TIMESTAMP), CAST(:t1 AS TIMESTAMP), :rew, :ss, :ds)
            ORDER BY claimee
            """,
            args={
                "t0": tmin.isoformat(sep=" "),
                "t1": tmax.isoformat(sep=" "),
                "rew": 1_000_000.0,
                "ss": 0.7,
                "ds": 0.3,
            },
        ).collect()
        assert len(via_df) > 0
        assert via_sql == via_df


class TestStakerRewardsSqlHexPath:
    def test_hex_claimee_passthrough_matches_dataframe(self, spark, tmp_path):
        """Ingest-produced tables store addresses as 0x-hex strings;
        the SQL function's claimee passthrough branch (no numeric->hex
        codec) must still match the DataFrame path on such tables."""
        from starknet_indexer_spark.daemon import load_tables
        from starknet_indexer_spark.ingest import ingest_batch

        from .test_ingest import make_raw

        tdir = str(tmp_path / "tables")
        ingest_batch(spark, make_raw(spark, [1, 2, 3]), tdir)
        tables = load_tables(spark, tdir)
        assert dict(tables["staker_staked"].dtypes)["from_address"] == "string"

        install_sql_catalog(spark, tables)
        tmin, tmax = (
            tables["blocks"].agg(F.min("time"), F.max("time")).collect()[0]
        )
        args = (tmin, tmax, 500_000.0, 0.6, 0.4)
        via_df = (
            VIEWS["calculate_staker_rewards"](tables, *args)
            .orderBy("claimee")
            .collect()
        )
        via_sql = spark.sql(
            """
            SELECT * FROM calculate_staker_rewards(
              CAST(:t0 AS TIMESTAMP), CAST(:t1 AS TIMESTAMP), :rew, :ss, :ds)
            ORDER BY claimee
            """,
            args={
                "t0": tmin.isoformat(sep=" "),
                "t1": tmax.isoformat(sep=" "),
                "rew": 500_000.0,
                "ss": 0.6,
                "ds": 0.4,
            },
        ).collect()
        assert len(via_df) > 0
        assert via_sql == via_df


class TestConstraints:
    def test_clean_corpus_has_zero_violations(self, btables):
        rows = validate_stored(btables).collect()
        assert len(rows) > 5
        bad = {(r["relation"], r["constraint_name"]): r["violations"] for r in rows}
        assert all(v == 0 for v in bad.values()), bad

    def test_detects_injected_duplicate(self, btables):
        doubled = btables["blocks"].unionByName(btables["blocks"].limit(3))
        dups = duplicate_keys(doubled, ["number"])
        assert dups.count() == 3
        assert dups.agg(F.max("n_rows")).collect()[0][0] == 2

    def test_detects_injected_orphan(self, spark, btables):
        blocks = btables["blocks"]
        ghost = blocks.select(
            (F.col("number") + 10_000_000).alias("block_number")
        ).limit(2)
        child = btables["swaps"].select("block_number").unionByName(ghost)
        assert orphans(child, ["block_number"], blocks, ["number"]).count() == 2


class TestAuditEmptyTables:
    def test_empty_child_reports_zero_not_null(self, spark):
        """An EMPTY child table (normal input: load_tables stands in
        empty typed tables for unfired event families) must report 0
        violations for every constraint — the fused single-pass
        aggregate previously returned NULL for the fk_ columns."""
        from starknet_indexer_spark.constraints import audit_table

        child = spark.createDataFrame(
            [], "event_id long, block_number int"
        )
        parent = spark.createDataFrame([(1,)], "number int")
        rows = audit_table(
            child, "empty_rel", ["event_id"],
            [(["block_number"], parent, ["number"], True)],
        ).collect()
        got = {r["constraint_name"]: r["violations"] for r in rows}
        assert got == {
            "pk_event_id": 0,
            "notnull_event_id": 0,
            "fk_block_number": 0,
        }
