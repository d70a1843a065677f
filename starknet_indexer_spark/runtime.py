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
recomputes over full history and its cost grows with history.
"""

from __future__ import annotations

import os
import shutil
import uuid

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


def refresh_operational(tables: dict[str, DataFrame], out_root: str) -> list[str]:
    """Per-block tier: recompute + swap every operational view, feeding
    the V1 / V3 outputs to their dependents (dao.ts: twamm & limit
    order views read pool_states_materialized)."""
    pool_states = VIEWS["pool_states"](tables).cache()
    twamm_states = VIEWS["twamm_pool_states"](tables, pool_states).cache()
    outputs: dict[str, DataFrame] = {
        "pool_states": pool_states,
        "per_pool_per_tick_liquidity": VIEWS["per_pool_per_tick_liquidity"](tables),
        "twamm_pool_states": twamm_states,
        "twamm_sale_rate_deltas": VIEWS["twamm_sale_rate_deltas"](tables, twamm_states),
        "limit_order_pool_states": VIEWS["limit_order_pool_states"](tables, pool_states),
        "oracle_pool_states": VIEWS["oracle_pool_states"](tables),
        "spline_pools": VIEWS["spline_pools"](tables),
    }
    done = []
    for name in OPERATIONAL:
        _swap_in(outputs[name], os.path.join(out_root, name))
        done.append(name)
    pool_states.unpersist()
    twamm_states.unpersist()
    return done


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
    determinism."""
    if since is not None:
        # hour-aligned: recomputed hours are complete, so replacing
        # them is idempotent (A9 upsert, dao.ts:1600-1612)
        since = since.replace(minute=0, second=0, microsecond=0)
    done = []
    for name in HOURLY:
        out_dir = os.path.join(out_root, name)
        fresh = VIEWS[name](tables, since=since)
        if since is not None and os.path.isdir(out_dir):
            old = spark.read.parquet(out_dir).filter(
                F.col("hour") < F.lit(since).cast("timestamp")
            )
            fresh = old.unionByName(
                fresh.filter(F.col("hour") >= F.lit(since).cast("timestamp"))
            )
        _swap_in(fresh, out_dir)
        done.append(name)

    hourly_volume = spark.read.parquet(os.path.join(out_root, "hourly_volume_by_token"))
    hourly_tvl = spark.read.parquet(os.path.join(out_root, "hourly_tvl_delta_by_token"))
    hourly_price = spark.read.parquet(os.path.join(out_root, "hourly_price_data"))
    tick_liquidity = VIEWS["per_pool_per_tick_liquidity"](tables)
    outputs: dict[str, DataFrame] = {
        "last_24h_pool_stats": VIEWS["last_24h_pool_stats"](
            tables, hourly_volume, hourly_tvl, as_of
        ),
        "latest_token_registrations": VIEWS["latest_token_registrations"](tables),
        "token_pair_realized_volatility": VIEWS["token_pair_realized_volatility"](
            tables, hourly_price
        ),
        "pool_market_depth": VIEWS["pool_market_depth"](tables, tick_liquidity),
        "proposal_delegate_voting_weights": VIEWS["proposal_delegate_voting_weights"](
            tables
        ),
    }
    for name in ANALYTICAL:
        _swap_in(outputs[name], os.path.join(out_root, name))
        done.append(name)
    return done
