"""Capstone end-to-end: ONE raw event feed covering every event family
-> ingest -> BOTH runtime refresh tiers execute every V1..V16 view over
the ingested tables. This is the 'a user of the reference could switch'
proof: raw felt arrays in, the reference's full materialized-view
surface out.
"""

from __future__ import annotations

import os
import threading

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


@pytest.fixture(scope="module")
def partial_tables_dir(spark, tmp_path_factory):
    """An ingest root holding two event families (swaps and staker
    events), so most views read stand-ins for unfired families."""
    from .test_ingest import make_raw

    tdir = str(tmp_path_factory.mktemp("partial") / "tables")
    ingest_batch(spark, make_raw(spark, [1, 2, 3]), tdir)
    return tdir


def _refresh_both_tiers(spark, tables, out):
    as_of = tables["blocks"].agg(F.max("time")).collect()[0][0]
    return runtime.refresh_operational(tables, out) + runtime.refresh_analytical(
        spark, tables, out, as_of, since=None
    )


def _view_digest(spark, path):
    """Row count, order-independent row-hash sum and the written
    file schemas (nullability included) of one view output."""
    import glob

    import pyarrow.parquet as pq

    df = spark.read.parquet(path)
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*sorted(df.columns)).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    schemas = {
        pq.read_schema(f).remove_metadata().to_string()
        for f in glob.glob(os.path.join(path, "*.parquet"))
    }
    return row["n"], row["h"], schemas


def test_folded_stand_ins_write_the_same_views(spark, partial_tables_dir, tmp_path):
    """Every view of both tiers written over ``load_tables``' folded
    stand-ins equals the one written over plain ``createDataFrame``
    stand-ins (the unfolded ``LogicalRDD``), content and schema."""
    from starknet_indexer_spark.daemon import load_tables
    from starknet_indexer_spark.schemas import TABLE_SCHEMAS

    folded = load_tables(spark, partial_tables_dir)
    plain = {
        name: df
        if os.path.isdir(os.path.join(partial_tables_dir, name))
        else spark.createDataFrame([], TABLE_SCHEMAS[name])
        for name, df in folded.items()
    }
    assert {"swaps", "staker_staked", "blocks"} <= {
        n for n in folded if plain[n] is folded[n]
    }
    done = _refresh_both_tiers(spark, folded, str(tmp_path / "folded"))
    assert done == _refresh_both_tiers(spark, plain, str(tmp_path / "plain"))
    assert len(done) == 16
    rows = 0
    for name in done:
        got = _view_digest(spark, str(tmp_path / "folded" / name))
        want = _view_digest(spark, str(tmp_path / "plain" / name))
        assert got == want, name
        assert got[2], name  # a file carrying the schema was written
        rows += got[0]
    assert rows > 0  # the present families reach some views


def test_view_over_stand_ins_only_runs_no_job(spark, partial_tables_dir):
    """A view whose inputs are all stand-ins folds to an empty relation
    at plan time: collecting it starts no Spark job."""
    from starknet_indexer_spark.daemon import load_tables
    from starknet_indexer_spark.views import VIEWS

    tables = load_tables(spark, partial_tables_dir)
    view = VIEWS["oracle_pool_states"](tables)
    sc = spark.sparkContext
    group = "stand-in-fold-check"
    sc.setJobGroup(group, "collect a view over stand-ins only")
    try:
        assert view.collect() == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_ingest_family_threads_carry_the_job_group(spark, tmp_path):
    """``ingest_batch`` writes its two families' tables from pool
    threads; every job they start belongs to the caller's job group."""
    from .jobs import job_group
    from .test_ingest import make_raw

    raw = make_raw(spark, [1, 2])
    with job_group(spark.sparkContext, "ingest-two-families") as jobs:
        counts = ingest_batch(spark, raw, str(tmp_path / "tables"))
    assert counts["swaps"] == 2 and counts["staker_staked"] == 2
    assert jobs["grouped"]
    assert jobs["ungrouped"] == set()


def test_refresh_operational_writes_carry_the_job_group(spark, partial_tables_dir, tmp_path):
    """The view builds and writes of both tiers run on pool threads in
    the caller's job group, the eager ``since`` lookup of an
    incremental analytical refresh's hourly builds included."""
    import datetime

    from starknet_indexer_spark.daemon import load_tables

    from .jobs import job_group

    tables = load_tables(spark, partial_tables_dir)
    out = str(tmp_path / "views")
    as_of = tables["blocks"].agg(F.max("time")).collect()[0][0]
    with job_group(spark.sparkContext, "refresh-both-tiers") as jobs:
        runtime.refresh_operational(tables, out)
        runtime.refresh_analytical(
            spark, tables, out, as_of, since=as_of - datetime.timedelta(hours=2)
        )
    assert jobs["grouped"]
    assert jobs["ungrouped"] == set()


def _snapshot(spark, out, name):
    """The part-file names and digest of one written view. Part-file
    names carry the writing job's id, so a rewrite with the same
    content still shows as a new snapshot."""
    path = os.path.join(out, name)
    return sorted(os.listdir(path)), _view_digest(spark, path)


def _prior_snapshots(spark, tmp_path, out):
    """Write every operational view over no tables at all under
    ``out`` and return their snapshots."""
    from starknet_indexer_spark.daemon import load_tables

    runtime.refresh_operational(load_tables(spark, str(tmp_path / "none")), out)
    return {n: _snapshot(spark, out, n) for n in runtime.OPERATIONAL}


def test_failed_view_write_leaves_every_view_whole(
    spark, partial_tables_dir, tmp_path, monkeypatch
):
    """One view's write fails while the others are written concurrently:
    the refresh re-raises it, leaves no staging dir, the failed view
    keeps its prior snapshot and every other view holds its new one."""
    from pyspark.errors import PySparkException

    from starknet_indexer_spark.daemon import load_tables
    from starknet_indexer_spark.views import VIEWS

    out = str(tmp_path / "views")
    prior = _prior_snapshots(spark, tmp_path, out)

    def failing(tables):
        return spark.range(1).select(
            F.raise_error(F.lit("view write failed")).alias("x")
        )

    monkeypatch.setitem(VIEWS, "oracle_pool_states", failing)
    with pytest.raises(PySparkException, match="view write failed"):
        runtime.refresh_operational(load_tables(spark, partial_tables_dir), out)
    assert not [e for e in os.listdir(out) if e.endswith(".staging")]
    after = {n: _snapshot(spark, out, n) for n in runtime.OPERATIONAL}
    assert after.pop("oracle_pool_states") == prior["oracle_pool_states"]
    for name, (files, digest) in after.items():
        assert files != prior[name][0], name  # the new snapshot
        if name == "pool_states":  # the only view the swaps reach
            assert digest[0] >= 1 and digest != prior[name][1]
        else:
            assert digest == prior[name][1], name  # empty before and after


def _raised_within(seconds, fn, *args):
    """Run ``fn(*args)`` on a daemon thread and return what it raised
    (None if nothing); fail if it has not returned within ``seconds``,
    so a refresh that never finishes fails the test instead of hanging
    it."""
    raised = []

    def run():
        try:
            fn(*args)
        except Exception as e:
            raised.append(e)

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(seconds)
    assert not t.is_alive(), f"still running after {seconds} s"
    return raised[0] if raised else None


def test_view_builds_overlap_the_writes(spark, partial_tables_dir, tmp_path, monkeypatch):
    """Each view is built on the thread that writes it, so a view's
    build can wait for another view's write to finish. Built in order
    before every write, the build below would wait out its timeout."""
    from starknet_indexer_spark.daemon import load_tables
    from starknet_indexer_spark.views import VIEWS

    written = threading.Event()
    waited = []
    swap_in, build = runtime._swap_in, VIEWS["pool_states"]

    def signalling_swap_in(df, out_dir):
        swap_in(df, out_dir)
        if os.path.basename(out_dir) == "spline_pools":
            written.set()

    def waiting_build(tables):
        waited.append(written.wait(timeout=60))
        return build(tables)

    monkeypatch.setattr(runtime, "_swap_in", signalling_swap_in)
    monkeypatch.setitem(VIEWS, "pool_states", waiting_build)
    tables = load_tables(spark, partial_tables_dir)
    runtime.refresh_operational(tables, str(tmp_path / "views"))
    assert waited == [True]  # built once, after another view's write


def test_failed_upstream_build_fails_only_its_dependents(
    spark, partial_tables_dir, tmp_path, monkeypatch
):
    """``pool_states`` raises while its plan is built: the refresh
    re-raises that error in bounded time (its dependents fail with it
    rather than wait), leaves no staging dir, ``pool_states`` and its
    three dependents keep their prior snapshots and the three
    independent views hold new ones."""
    from starknet_indexer_spark.daemon import load_tables
    from starknet_indexer_spark.views import VIEWS

    out = str(tmp_path / "views")
    prior = _prior_snapshots(spark, tmp_path, out)
    tables = load_tables(spark, partial_tables_dir)

    def failing(tables):
        raise RuntimeError("pool_states build failed")

    monkeypatch.setitem(VIEWS, "pool_states", failing)
    error = _raised_within(300, runtime.refresh_operational, tables, out)
    assert isinstance(error, RuntimeError), error
    assert str(error) == "pool_states build failed"
    assert not [e for e in os.listdir(out) if e.endswith(".staging")]
    failed = {
        "pool_states",
        "twamm_pool_states",
        "twamm_sale_rate_deltas",
        "limit_order_pool_states",
    }
    for name in runtime.OPERATIONAL:
        files, digest = _snapshot(spark, out, name)
        if name in failed:
            assert (files, digest) == prior[name], name
        else:
            assert files != prior[name][0], name  # the new snapshot


def test_refresh_leaves_no_cached_relation(spark, partial_tables_dir, tmp_path, monkeypatch):
    """The two views cached for their dependents leave the session's
    cache manager after a successful refresh and after a failed one."""
    from starknet_indexer_spark.daemon import load_tables
    from starknet_indexer_spark.views import VIEWS

    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.numCachedEntries()
    built = []

    def recording(view):
        def build(*args):
            built.append(view(*args))
            return built[-1]

        return build

    for name in ("pool_states", "twamm_pool_states"):
        monkeypatch.setitem(VIEWS, name, recording(VIEWS[name]))

    def assert_uncached():
        assert len(built) == 2
        assert cache.numCachedEntries() == before
        assert not [df for df in built if cache.lookupCachedData(df._jdf).isDefined()]
        built.clear()

    tables = load_tables(spark, partial_tables_dir)
    runtime.refresh_operational(tables, str(tmp_path / "ok"))
    assert_uncached()

    def failing(tables, twamm_states):
        raise RuntimeError("dependent build failed")

    monkeypatch.setitem(VIEWS, "twamm_sale_rate_deltas", failing)
    with pytest.raises(RuntimeError, match="dependent build failed"):
        runtime.refresh_operational(tables, str(tmp_path / "failed"))
    assert_uncached()


def test_once_builds_once_under_contention():
    """Many more threads than cores call one ``_Once`` at a fast switch
    interval: the builder runs once, every caller gets its result, and
    with a failing builder every caller gets the one error it raised."""
    import sys
    import time
    from concurrent.futures import ThreadPoolExecutor

    def hammer(memo, n=32):
        def call():
            try:
                return memo()
            except RuntimeError as e:
                return e

        with ThreadPoolExecutor(max_workers=n) as pool:
            futures = [pool.submit(call) for _ in range(n)]
            return [f.result(timeout=60) for f in futures]

    calls = []

    def build():
        calls.append(1)
        time.sleep(0.01)  # widen the window a second build would need
        return object()

    def failing():
        calls.append(1)
        raise RuntimeError("build failed")

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        got = hammer(runtime._Once(build))
        assert len(calls) == 1 and len({id(g) for g in got}) == 1
        calls.clear()
        errors = hammer(runtime._Once(failing))
    finally:
        sys.setswitchinterval(interval)
    assert len(calls) == 1
    assert len({id(e) for e in errors}) == 1
    assert isinstance(errors[0], RuntimeError)
