"""Capstone end-to-end: ONE raw event feed covering every event family
-> ingest -> BOTH runtime refresh tiers execute every V1..V16 view over
the ingested tables. This is the 'a user of the reference could switch'
proof: raw felt arrays in, the reference's full materialized-view
surface out.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from starknet_indexer_spark import runtime
from starknet_indexer_spark.ingest import RAW_SCHEMA, ingest_batch

from .test_ingest import (
    POOL,
    _bytearray_felts,
    _packed,
    init_data,
    position_updated_data,
    raw_row,
    staked_data,
    swapped_data,
    twamm_order_data,
    twamm_voe_data,
)


def i129(v):
    return [hex(abs(v)), hex(0 if v >= 0 else 1)]


def pool_felts(**pool):
    return [
        hex(pool["token0"]), hex(pool["token1"]), hex(pool["fee"]),
        hex(pool["tick_spacing"]), hex(pool["extension"]),
    ]


def position_key_felts(salt, owner, lower, upper):
    return [hex(salt), hex(owner)] + i129(lower) + i129(upper)


@pytest.fixture(scope="module")
def ingested(spark, tmp_path_factory):
    tdir = str(tmp_path_factory.mktemp("full") / "tables")
    base = 1704067200  # 2024-01-01 UTC
    rows = [
        raw_row(1, 0, 0, "pool_initialized", init_data(**POOL, tick=0, sqrt_ratio=1 << 40)),
        raw_row(2, 0, 0, "position_updated",
                position_updated_data(0xCAFE, **POOL, salt=1, lower=-100, upper=100,
                                      liq_delta=5000, d0=50, d1=-40)),
        raw_row(3, 0, 0, "swapped",
                swapped_data(0xCAFE, **POOL, amount=10, is_token1=False, limit=5, skip=0,
                             d0=10, d1=-9, sqrt_after=1 << 41, tick_after=-5, liq=7777)),
        raw_row(4, 0, 0, "position_fees_collected",
                pool_felts(**POOL) + position_key_felts(1, 0xCAFE, -100, 100)
                + i129(3) + i129(-2)),
        raw_row(5, 0, 0, "protocol_fees_paid",
                pool_felts(**POOL) + position_key_felts(1, 0xCAFE, -100, 100)
                + i129(-1) + i129(1)),
        raw_row(6, 0, 0, "fees_accumulated", pool_felts(**POOL) + [hex(11), hex(13)]),
        raw_row(7, 0, 0, "liquidity_updated",
                pool_felts(**POOL) + [hex(0x5E11)] + i129(250) + [hex(1000), hex(0)]
                + i129(20) + i129(-15) + [hex(2), hex(3)]),
        raw_row(8, 0, 0, "twamm_virtual_orders_executed",
                twamm_voe_data(0xAAA, 0xBBB, 0x30, 1000, 2000, 5, -4)),
        raw_row(9, 0, 0, "twamm_order_updated",
                twamm_order_data(0xD00D, 7, 0xAAA, 0xBBB, 0x30, base, base + 3600, 500)),
        raw_row(10, 0, 0, "oracle_snapshot",
                [hex(0xAAA), hex(0xBBB), hex(1), hex(base + 60), hex(42), hex(0)]),
        raw_row(11, 0, 0, "limit_order_placed",
                [hex(0xD00D), hex(1), hex(0xAAA), hex(0xBBB)] + i129(128)
                + [hex(5000), hex(77)]),
        raw_row(12, 0, 0, "limit_order_closed",
                [hex(0xD00D), hex(1), hex(0xAAA), hex(0xBBB)] + i129(128)
                + [hex(7), hex(8)]),
        raw_row(13, 0, 0, "token_registration",
                [hex(0x111), hex(_packed("Ether")), hex(_packed("ETH")), hex(18), hex(10 ** 9)]),
        raw_row(14, 0, 0, "token_registration_v3",
                [hex(0x222)] + _bytearray_felts("Dai Stablecoin") + _bytearray_felts("DAI")
                + [hex(18), hex(10 ** 9)]),
        raw_row(15, 0, 0, "staker_staked", staked_data(0x11, 1000, 0x77)),
        raw_row(16, 0, 0, "staker_withdrawn",
                [hex(0x11), hex(0x77), hex(0x11), hex(400)]),
        raw_row(17, 0, 0, "governor_reconfigured",
                [hex(60), hex(3600), hex(30), hex(500), hex(100), hex(60), hex(3600), hex(1)]),
        raw_row(18, 0, 0, "governor_proposed",
                [hex(0xBEEF), hex(0x11), hex(0), hex(1)]),
        raw_row(19, 0, 0, "governor_voted",
                [hex(0xBEEF), hex(0x11), hex(900), hex(1)]),
    ]
    ingest_batch(spark, spark.createDataFrame(rows, RAW_SCHEMA), tdir)
    tables = {
        name: spark.read.parquet(os.path.join(tdir, name))
        for name in os.listdir(tdir)
        if os.path.isdir(os.path.join(tdir, name))
    }
    return tdir, tables


def test_every_event_family_landed(ingested):
    _, tables = ingested
    expected = {
        "blocks", "pool_keys", "swaps", "pool_initializations", "position_updates",
        "position_fees_collected", "protocol_fees_paid", "fees_accumulated",
        "liquidity_updated", "twamm_virtual_order_executions", "twamm_order_updates",
        "oracle_snapshots", "limit_order_placed", "limit_order_closed",
        "token_registrations", "token_registrations_v3", "staker_staked",
        "staker_withdrawn", "governor_reconfigured", "governor_proposed",
        "governor_voted",
    }
    assert expected <= set(tables), sorted(expected - set(tables))


def test_stored_tables_read_back_as_declared(ingested):
    """What ingest wrote reads back with the declared column names and
    types. Order and nullability are not compared: partition discovery
    puts ``block_bucket`` last, and file sources read every column as
    nullable (daemon.load_tables' docstring)."""
    from starknet_indexer_spark.schemas import TABLE_SCHEMAS

    _, tables = ingested
    assert set(tables) <= set(TABLE_SCHEMAS), sorted(set(tables) - set(TABLE_SCHEMAS))
    for name, df in tables.items():
        got = {f.name: f.dataType for f in df.schema.fields}
        want = {f.name: f.dataType for f in TABLE_SCHEMAS[name].fields}
        assert got == want, name


def test_load_tables_reads_what_ingest_wrote(spark, ingested):
    """Reading with the declared schema instead of inferring it keeps
    every column and every row of each present table."""
    from starknet_indexer_spark.daemon import load_tables

    tdir, tables = ingested
    loaded = load_tables(spark, tdir)
    for name, df in tables.items():
        got = loaded[name].select(*df.columns)
        assert got.schema == df.schema, name
        assert got.count() == df.count() and not got.exceptAll(df).take(1), name


def test_operational_tier_runs(spark, ingested, tmp_path):
    tdir, tables = ingested
    out = str(tmp_path / "op")
    done = runtime.refresh_operational(tables, out)
    assert set(done) == set(runtime.OPERATIONAL)
    ps = spark.read.parquet(os.path.join(out, "pool_states"))
    assert ps.count() >= 1  # the AMM pool has state


def test_analytical_tier_runs(spark, ingested, tmp_path):
    tdir, tables = ingested
    out = str(tmp_path / "an")
    as_of = tables["blocks"].agg(F.max("time")).collect()[0][0]
    done = runtime.refresh_analytical(spark, tables, out, as_of, since=None)
    assert set(done) == set(runtime.HOURLY) | set(runtime.ANALYTICAL)
    hv = spark.read.parquet(os.path.join(out, "hourly_volume_by_token"))
    assert hv.count() >= 1  # the swap produced volume
    reg = spark.read.parquet(os.path.join(out, "latest_token_registrations"))
    assert reg.count() == 2


def test_v17_staker_rewards_runs(spark, ingested):
    """V17 (on-demand UDTF-style table function) over ingested
    governance tables — completes the V1..V17 surface end-to-end."""
    import datetime

    from starknet_indexer_spark.views import VIEWS

    _, tables = ingested
    start = datetime.datetime(2024, 1, 1)
    end = start + datetime.timedelta(hours=1)
    out = VIEWS["calculate_staker_rewards"](
        tables, start, end, total_rewards=1000.0, staking_share=0.6, delegate_share=0.4
    )
    rows = out.collect()
    # one staker (0x11) staked 1000 then withdrew 400 -> nonzero reward
    assert len(rows) >= 1
    assert all(r["amount"] >= 0 for r in rows)
