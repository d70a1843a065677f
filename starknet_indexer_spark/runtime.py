"""Refresh orchestration: the reference's two materialization cadences.

Reference: six operational matviews refresh per head block
(src/dao.ts:1798-1807, driven by src/index.ts:248-255); five
analytical matviews plus four hourly upsert jobs refresh every 5
minutes with a 2×-rate overlap window for idempotent re-aggregation
(src/index.ts:71-102, src/dao.ts:1545-1795).

Spark mapping: a materialized view is a recomputed DataFrame written
to a result directory with an atomic directory swap (Postgres REFRESH
CONCURRENTLY ≈ snapshot swap — readers of the old dir are unaffected;
Delta would make this a real transaction). The hourly jobs use the
same overlap-window idempotent upsert: recompute hours >= since, keep
older rows, swap. The view DAG (V7 reads V13/V16 output, V10 reads
V15, V11 reads V2, TWAMM/limit-order states read V1) is wired here —
upstream results are computed once and fed to dependents, exactly the
matview-reads-matview graph of the reference.

Every operational view is latest-state-shaped (argmax per key +
bounded joins), but an operational refresh recomputes each view from
whatever ``tables`` holds and prunes nothing. The daemon passes ``daemon.load_tables``,
which reads every stored table whole, so each operational refresh
recomputes over full history and its cost grows with history. Event
families that have not fired are empty stand-ins that fold at plan
time: a view over absent families only computes nothing, so its
refresh costs just the one-task write of its empty output, and a view
joining one pays only for its present inputs. Each tier builds and
writes its outputs concurrently (``_swap_in_concurrently``): every
view is built on the thread that writes it, so the driver-side plan
builds (Python plan construction, eager analysis, the hourly jobs'
``since`` lookup) overlap each other and the writes instead of running
in order before them. A dependent view waits only for its upstream's
plan, not for its write. The empty-output writes of the views over
absent families still happen, but overlap the views that do real work
instead of queuing behind them. A failed build behaves like a failed
write: the tier's other views still swap in, and the first failure is
re-raised once they have.
"""

from __future__ import annotations

import os
import shutil
import threading
import uuid
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .views import VIEWS

# dao.ts:1798-1807 — per-block tier
OPERATIONAL = (
    "pool_states",
    "per_pool_per_tick_liquidity",
    "twamm_pool_states",
    "twamm_sale_rate_deltas",
    "limit_order_pool_states",
    "oracle_pool_states",
    "spline_pools",
)
# dao.ts:1789-1795 — 5-minute tier
ANALYTICAL = (
    "last_24h_pool_stats",
    "latest_token_registrations",
    "token_pair_realized_volatility",
    "pool_market_depth",
    "proposal_delegate_voting_weights",
)
# dao.ts:1545-1787 — 5-minute incremental upsert jobs, keyed by hour
HOURLY = (
    "hourly_volume_by_token",
    "hourly_revenue_by_token",
    "hourly_price_data",
    "hourly_tvl_delta_by_token",
)


def _swap_in(df: DataFrame, out_dir: str) -> None:
    """Write to a fresh staging dir, then swap it into place. Readers
    holding the old snapshot keep a consistent view (files are
    unlinked, not truncated) — the REFRESH CONCURRENTLY analogue.

    Crash hygiene: each displaced snapshot moves to a uniquely-named
    ``.trash-<gen>`` dir (os.replace onto a fresh name can never
    collide with an interrupted prior swap's leftovers, the round-2
    poisoning bug), and trash dirs are pruned LAZILY — all but the
    newest one — so the previous snapshot survives one extra refresh
    cycle as a rollback copy. A failed staging write removes its own
    dir instead of leaking uuid-named orphans. The instant between the
    two os.replace calls (no out_dir on disk) is the atomicity a table
    format closes."""
    staging = f"{out_dir}.{uuid.uuid4().hex[:8]}.staging"
    try:
        df.write.mode("overwrite").parquet(staging)
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    trash = f"{out_dir}.trash-{uuid.uuid4().hex[:8]}"
    if os.path.isdir(out_dir):
        os.replace(out_dir, trash)
    os.replace(staging, out_dir)
    # lazy prune: drop every trash generation except the one we just
    # created — the prior snapshot is kept exactly one cycle
    base = os.path.basename(out_dir)
    parent = os.path.dirname(out_dir) or "."
    try:
        entries = os.listdir(parent)
    except OSError:
        entries = []
    for entry in entries:
        p = os.path.join(parent, entry)
        if (
            entry.startswith(f"{base}.trash")
            and p != trash
        ):
            shutil.rmtree(p, ignore_errors=True)


class _Once:
    """A zero-argument builder run at most once, by whichever thread
    calls first; every later call, on any thread, waits for that build
    and returns its DataFrame, or raises its error."""

    def __init__(self, build: Callable[[], DataFrame]) -> None:
        self._build = build
        self._lock = threading.Lock()
        self._done = False
        self.value: DataFrame | None = None
        self._error: BaseException | None = None

    def __call__(self) -> DataFrame:
        with self._lock:
            if not self._done:
                try:
                    self.value = self._build()
                except BaseException as e:
                    self._error = e
                self._done = True
        if self._error is not None:
            raise self._error
        return self.value


def _swap_in_concurrently(
    spark: SparkSession,
    builders: dict[str, Callable[[], DataFrame]],
    out_root: str,
) -> None:
    """Build and write every output under ``out_root/<name>``, one
    thread per output: each thread calls its zero-argument builder,
    then writes the result through ``_swap_in``, so the Python plan
    builds (and any eager analysis or ``collect`` inside them) overlap
    each other and the other outputs' writes. The outputs must not read
    each other's directories; a builder that needs another output's
    DataFrame takes it from an ``_Once`` memo, so it waits for that
    plan, not for its write (with a thread per output, a waiting
    builder never holds the thread its upstream needs). Each thread gets its own copy of the
    caller's local properties (job group, scheduler pool): in pinned
    thread mode a new Python thread gets a fresh JVM thread that
    inherits none, and threads sharing one copy would also share the
    per-query properties Spark sets on it, such as the SQL execution
    id. A failed build or write does not stop the others; once all
    have finished, the first failure in ``builders`` order is
    re-raised."""

    def build_and_swap(name: str, build: Callable[[], DataFrame]) -> None:
        _swap_in(build(), os.path.join(out_root, name))

    with ThreadPoolExecutor(max_workers=len(builders)) as pool:
        futures = [
            pool.submit(inheritable_thread_target(spark)(build_and_swap), name, build)
            for name, build in builders.items()
        ]
    for f in futures:
        f.result()


def refresh_operational(tables: dict[str, DataFrame], out_root: str) -> list[str]:
    """Per-block tier: recompute + swap every operational view, feeding
    the V1 / V3 outputs to their dependents (dao.ts: twamm & limit
    order views read pool_states_materialized). Each view is built on
    the thread that writes it; a dependent waits only for its upstream's
    plan and ``.cache()``, not for its write. A failed build or write
    does not stop the others and is re-raised once they finish; a
    failed upstream build fails its dependents with the same error.
    Each view's swap is atomic on its own, but the tier is not
    all-or-nothing: after a failure every other view holds its new
    snapshot and each failed one its prior snapshot."""
    pool_states = _Once(lambda: VIEWS["pool_states"](tables).cache())
    twamm_states = _Once(
        lambda: VIEWS["twamm_pool_states"](tables, pool_states()).cache()
    )
    builders: dict[str, Callable[[], DataFrame]] = {
        "pool_states": pool_states,
        "per_pool_per_tick_liquidity": lambda: VIEWS["per_pool_per_tick_liquidity"](tables),
        "twamm_pool_states": twamm_states,
        "twamm_sale_rate_deltas": lambda: VIEWS["twamm_sale_rate_deltas"](
            tables, twamm_states()
        ),
        "limit_order_pool_states": lambda: VIEWS["limit_order_pool_states"](
            tables, pool_states()
        ),
        "oracle_pool_states": lambda: VIEWS["oracle_pool_states"](tables),
        "spline_pools": lambda: VIEWS["spline_pools"](tables),
    }
    spark = next(iter(tables.values())).sparkSession
    try:
        _swap_in_concurrently(spark, builders, out_root)
    finally:
        for memo in (pool_states, twamm_states):
            if memo.value is not None:
                memo.value.unpersist()
    return list(builders)


def refresh_analytical(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    out_root: str,
    as_of,
    since=None,
) -> list[str]:
    """5-minute tier: hourly upserts with an hour-aligned overlap
    window, then the analytical matviews over the refreshed rollups.
    ``since=None`` = full-history rebuild (the reference's boot pass,
    src/index.ts:120). ``as_of`` replaces the reference's NOW() for
    determinism. The four hourly upserts are built and written
    concurrently as one wave, each on its own thread (so their eager
    ``since`` lookups overlap too), then the analytical views, which
    read the hourly outputs from disk, as a second. A failed build or
    write does not stop the rest of its wave and is re-raised once the
    wave finishes (a failed hourly wave skips the analytical one); each
    view's swap is atomic on its own, but the tier is not
    all-or-nothing."""
    if since is not None:
        # hour-aligned: recomputed hours are complete, so replacing
        # them is idempotent (A9 upsert, dao.ts:1600-1612)
        since = since.replace(minute=0, second=0, microsecond=0)

    def upsert(name: str) -> Callable[[], DataFrame]:
        def build() -> DataFrame:
            out_dir = os.path.join(out_root, name)
            fresh = VIEWS[name](tables, since=since)
            if since is None or not os.path.isdir(out_dir):
                return fresh
            old = spark.read.parquet(out_dir).filter(
                F.col("hour") < F.lit(since).cast("timestamp")
            )
            return old.unionByName(
                fresh.filter(F.col("hour") >= F.lit(since).cast("timestamp"))
            )

        return build

    hourly = {name: upsert(name) for name in HOURLY}
    _swap_in_concurrently(spark, hourly, out_root)

    def read(name: str) -> DataFrame:
        return spark.read.parquet(os.path.join(out_root, name))

    outputs: dict[str, Callable[[], DataFrame]] = {
        "last_24h_pool_stats": lambda: VIEWS["last_24h_pool_stats"](
            tables, read("hourly_volume_by_token"), read("hourly_tvl_delta_by_token"), as_of
        ),
        "latest_token_registrations": lambda: VIEWS["latest_token_registrations"](tables),
        "token_pair_realized_volatility": lambda: VIEWS["token_pair_realized_volatility"](
            tables, read("hourly_price_data")
        ),
        "pool_market_depth": lambda: VIEWS["pool_market_depth"](
            tables, VIEWS["per_pool_per_tick_liquidity"](tables)
        ),
        "proposal_delegate_voting_weights": lambda: VIEWS[
            "proposal_delegate_voting_weights"
        ](tables),
    }
    _swap_in_concurrently(spark, outputs, out_root)
    return list(hourly) + list(outputs)
