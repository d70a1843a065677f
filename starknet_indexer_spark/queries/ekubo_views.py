"""V1-V17 reference views as driver-checkable queries.

The driver corpus has no Ekubo-shaped tables, so each query derives
them *deterministically* from the ``events`` table with pure integer
arithmetic (event_id ``e``, user_id ``u``; no floats, no randomness),
runs the real view implementation from ``starknet_indexer_spark.views``
on the derived tables, and normalizes the output (timestamps -> epoch
seconds, decimals -> BIGINT, NULL ids -> -1) so the driver's
sorted-column value-hash compares byte-for-byte against the DuckDB
oracle. The oracle SQL mirrors the same derivation as CTEs and then
the reference SQL semantics (the golden bodies proven against
src/dao.ts in tests/test_views*.py).

Derivation map (one source event_type per fact family, disjoint):
- purchase -> swaps, staker_staked
- click    -> position_updates; e%3=0 -> twamm_order_updates;
              e%5=0 -> governor_voted
- signup   -> pool_initializations; e%2 -> limit orders placed/closed;
              e%3=0 -> token_registrations_v3; e%97=0 -> proposals
- view     -> fees_accumulated; e%4=0 -> twamm virtual executions;
              e%3=0 -> oracle_snapshots
- error    -> protocol_fees_paid (e%2=1) / position_fees_collected
              (e%2=0), staker_withdrawn; e%3=0 -> liquidity_updated
- blocks: number = e div 20, time = min(ts) per block
- pools: key_hash = u % 8; token0 = kh%3, token1 = 3+kh%2;
  fee = (1+kh%3) * 2^124 (multiple of 2^64 -> exact Q128 fee math)

Swap deltas obey the AMM invariant (one side in, one side out) so the
volume side picked by V13 is always non-negative, as q128_fee_amount
requires (reference src/dao.ts:1552-1554).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..views import VIEWS
from .registry import register

# 2^124: fee is a multiple of 2^64, so floor(fee/2^64)=k*2^60 is exact
# in DECIMAL(38,0) (max 3*2^124 ~ 6.4e37 < 1e38)
FEE_UNIT = "21267647932558653966460912964485513216"

# ---------------------------------------------------------------------------
# Spark-side derivation
# ---------------------------------------------------------------------------


def _base(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "events").selectExpr(
        "event_id AS e", "ts", "user_id AS u", "event_type"
    )


# delta1 is the opposite sign of delta0 (AMM in/out invariant)
_DELTA0 = "(e*37) % 2001 - 1000"
_DELTA1 = f"CASE WHEN {_DELTA0} >= 0 THEN -((e*53) % 1000) ELSE (e*53) % 1000 + 1 END"


# DataFrames are immutable plans, so the derived-table dict can be
# shared across the 17 view queries within one session: analysis of
# ~25 derivation plans per query adds up in the driver sweep (and in
# the registry-analyzes contract test).
_TABLE_CACHE: dict[tuple[str, str], dict[str, DataFrame]] = {}


def ekubo_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    key = (spark.sparkContext.applicationId, sf_dir.rstrip("/"))
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    t = _ekubo_tables_uncached(spark, sf_dir)
    # bounded: a process cycling many sessions/sf_dirs must not pin
    # DataFrame plans (and their captured parquet file listings)
    # forever; 8 (app, sf_dir) combinations covers any driver sweep.
    # NOTE cached plans hold the file index captured at first use — if
    # an sf_dir's parquet is rewritten in-process, evict via
    # _TABLE_CACHE.clear().
    while len(_TABLE_CACHE) >= 8:
        _TABLE_CACHE.pop(next(iter(_TABLE_CACHE)))
    _TABLE_CACHE[key] = t
    return t


def _ekubo_tables_uncached(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    ev = _base(spark, sf_dir)
    t: dict[str, DataFrame] = {}

    # blocks/pool_keys are tiny derived dimensions referenced by almost
    # every view (V16 alone joins blocks five times). At 100 TB these
    # would be materialized tables; locally the repeated subplans run
    # as concurrent stages (and Spark's ReuseExchange dedups identical
    # shuffles), which measured FASTER than .cache() — caching
    # serializes an extra materialization job on an otherwise
    # underutilized local[32].
    t["blocks"] = ev.groupBy(F.expr("e div 20").alias("number")).agg(
        F.min("ts").alias("time")
    )
    t["pool_keys"] = ev.selectExpr("u % 8 AS key_hash").distinct().selectExpr(
        "key_hash",
        "key_hash % 3 AS token0",
        "3 + key_hash % 2 AS token1",
        f"CAST('{FEE_UNIT}' AS DECIMAL(38,0)) * (1 + key_hash % 3) AS fee",
    )
    t["swaps"] = ev.filter("event_type = 'purchase'").selectExpr(
        "e AS event_id",
        "e div 20 AS block_number",
        "u % 8 AS pool_key_hash",
        f"{_DELTA0} AS delta0",
        f"{_DELTA1} AS delta1",
        "(e*11) % 100000 + 1 AS sqrt_ratio_after",
        "CAST((e*7) % 200 - 100 AS INT) AS tick_after",
        "(e*13) % 10000 AS liquidity_after",
    )
    t["position_updates"] = ev.filter("event_type = 'click'").selectExpr(
        "e AS event_id",
        "e div 20 AS block_number",
        "u % 8 AS pool_key_hash",
        "CAST(((e*5) % 40 - 20) * 10 AS INT) AS lower_bound",
        "CAST(((e*5) % 40 - 20) * 10 + ((e*3) % 5 + 1) * 10 AS INT) AS upper_bound",
        "(e*17) % 2001 - 1000 AS liquidity_delta",
        "(e*19) % 1001 - 500 AS delta0",
        "(e*23) % 1001 - 500 AS delta1",
    )
    t["pool_initializations"] = ev.filter("event_type = 'signup'").selectExpr(
        "e AS event_id",
        "e div 20 AS block_number",
        "u % 8 AS pool_key_hash",
        "CAST((e*7) % 200 - 100 AS INT) AS tick",
        "(e*11) % 100000 + 1 AS sqrt_ratio",
    )
    t["fees_accumulated"] = ev.filter("event_type = 'view'").selectExpr(
        "e AS event_id",
        "e div 20 AS block_number",
        "u % 8 AS pool_key_hash",
        "(e*19) % 500 AS amount0",
        "(e*23) % 500 AS amount1",
    )
    fees = (
        "e AS event_id",
        "e div 20 AS block_number",
        "u % 8 AS pool_key_hash",
        "(e*29) % 1001 - 500 AS delta0",
        "(e*31) % 1001 - 500 AS delta1",
    )
    t["protocol_fees_paid"] = ev.filter("event_type = 'error' AND e % 2 = 1").selectExpr(*fees)
    t["position_fees_collected"] = ev.filter("event_type = 'error' AND e % 2 = 0").selectExpr(*fees)

    # --- TWAMM / limit orders / oracle / spline -------------------------
    t["twamm_order_updates"] = ev.filter("event_type = 'click' AND e % 3 = 0").selectExpr(
        "e AS event_id",
        "e div 20 AS block_number",
        "u % 8 AS key_hash",
        "u AS owner",
        "e % 50 AS salt",
        "(e*37) % 2001 - 1000 AS sale_rate_delta0",
        "(e*53) % 2001 - 1000 AS sale_rate_delta1",
        "date_trunc('hour', ts) AS start_time",
        "date_trunc('hour', ts) + make_interval(0, 0, 0, 0, CAST((e % 5) + 1 AS INT), 0, 0) AS end_time",
    )
    t["twamm_virtual_order_executions"] = ev.filter(
        "event_type = 'view' AND e % 4 = 0"
    ).selectExpr(
        "e AS event_id",
        "e div 20 AS block_number",
        "u % 8 AS key_hash",
        "(e*11) % 10000 AS token0_sale_rate",
        "(e*13) % 10000 AS token1_sale_rate",
        f"{_DELTA0} AS delta0",
        f"{_DELTA1} AS delta1",
    )
    t["limit_order_placed"] = ev.filter("event_type = 'signup' AND e % 2 = 0").selectExpr(
        "e AS event_id", "u % 8 AS key_hash"
    )
    t["limit_order_closed"] = ev.filter("event_type = 'signup' AND e % 2 = 1").selectExpr(
        "e AS event_id", "u % 8 AS key_hash"
    )
    t["liquidity_updated"] = ev.filter("event_type = 'error' AND e % 3 = 0").selectExpr(
        "e AS event_id", "u % 8 AS pool_key_hash"
    )
    t["oracle_snapshots"] = ev.filter("event_type = 'view' AND e % 3 = 0").selectExpr(
        "e AS event_id",
        "u % 8 AS key_hash",
        "unix_micros(ts) div 1000000 AS snapshot_block_timestamp",
    )

    # --- token registry (v1 felt-packed table intentionally absent:
    # the view skips its decode leg when the key is missing) ----------
    t["token_registrations_v3"] = ev.filter("event_type = 'signup' AND e % 3 = 0").selectExpr(
        "e AS event_id",
        "u AS address",
        "concat('Token', CAST(u AS STRING)) AS name",
        "concat('TK', CAST(u % 30 AS STRING)) AS symbol",
        "CAST(6 + u % 13 AS INT) AS decimals",
        "(e*47) % 100000 AS total_supply",
    )

    # --- governance / staking -------------------------------------------
    t["staker_staked"] = ev.filter("event_type = 'purchase'").selectExpr(
        "e AS event_id",
        "e div 20 AS block_number",
        "u AS from_address",
        "u % 10 AS delegate",
        "(e*41) % 1000 + 1 AS amount",
    )
    t["staker_withdrawn"] = ev.filter("event_type = 'error'").selectExpr(
        "e AS event_id",
        "e div 20 AS block_number",
        "u AS from_address",
        "u % 10 AS delegate",
        "(e*43) % 400 + 1 AS amount",
    )
    t["governor_reconfigured"] = ev.selectExpr(
        "1 + e % 2 AS version", "3600 * (1 + e % 2) AS voting_start_delay"
    ).distinct()
    gp = ev.filter("event_type = 'signup' AND e % 97 = 0").selectExpr(
        "e AS event_id",
        "e div 20 AS block_number",
        "e AS id",
        "u AS proposer",
        "1 + e % 2 AS config_version",
    )
    t["governor_proposed"] = gp
    t["governor_voted"] = (
        ev.filter("event_type = 'click' AND e % 5 = 0")
        .join(gp.selectExpr("id"), on=F.expr("e % 16 = id % 16"))
        .selectExpr(
            "e AS event_id",
            "e div 20 AS block_number",
            "id",
            "u AS voter",
            "(e*47) % 1000 + 1 AS weight",
            "(e % 3) > 0 AS yea",
        )
    )
    return t


# ---------------------------------------------------------------------------
# DuckDB-side derivation (same arithmetic, CTE per table)
# ---------------------------------------------------------------------------

_SQL_DELTA0 = "(e*37) % 2001 - 1000"
_SQL_DELTA1 = (
    f"CASE WHEN {_SQL_DELTA0} >= 0 THEN -((e*53) % 1000) ELSE (e*53) % 1000 + 1 END"
)

DERIVE = f"""
base AS (SELECT event_id AS e, ts, user_id AS u, event_type FROM events),
blocks AS (SELECT e // 20 AS number, MIN(ts) AS time FROM base GROUP BY 1),
pool_keys AS (
  SELECT key_hash, key_hash % 3 AS token0, 3 + key_hash % 2 AS token1,
         CAST('{FEE_UNIT}' AS HUGEINT) * (1 + key_hash % 3) AS fee
  FROM (SELECT DISTINCT u % 8 AS key_hash FROM base)),
swaps AS (
  SELECT e AS event_id, e // 20 AS block_number, u % 8 AS pool_key_hash,
         {_SQL_DELTA0} AS delta0, {_SQL_DELTA1} AS delta1,
         (e*11) % 100000 + 1 AS sqrt_ratio_after,
         CAST((e*7) % 200 - 100 AS INT) AS tick_after,
         (e*13) % 10000 AS liquidity_after
  FROM base WHERE event_type = 'purchase'),
position_updates AS (
  SELECT e AS event_id, e // 20 AS block_number, u % 8 AS pool_key_hash,
         CAST(((e*5) % 40 - 20) * 10 AS INT) AS lower_bound,
         CAST(((e*5) % 40 - 20) * 10 + ((e*3) % 5 + 1) * 10 AS INT) AS upper_bound,
         (e*17) % 2001 - 1000 AS liquidity_delta,
         (e*19) % 1001 - 500 AS delta0, (e*23) % 1001 - 500 AS delta1
  FROM base WHERE event_type = 'click'),
pool_initializations AS (
  SELECT e AS event_id, e // 20 AS block_number, u % 8 AS pool_key_hash,
         CAST((e*7) % 200 - 100 AS INT) AS tick, (e*11) % 100000 + 1 AS sqrt_ratio
  FROM base WHERE event_type = 'signup'),
fees_accumulated AS (
  SELECT e AS event_id, e // 20 AS block_number, u % 8 AS pool_key_hash,
         (e*19) % 500 AS amount0, (e*23) % 500 AS amount1
  FROM base WHERE event_type = 'view'),
protocol_fees_paid AS (
  SELECT e AS event_id, e // 20 AS block_number, u % 8 AS pool_key_hash,
         (e*29) % 1001 - 500 AS delta0, (e*31) % 1001 - 500 AS delta1
  FROM base WHERE event_type = 'error' AND e % 2 = 1),
position_fees_collected AS (
  SELECT e AS event_id, e // 20 AS block_number, u % 8 AS pool_key_hash,
         (e*29) % 1001 - 500 AS delta0, (e*31) % 1001 - 500 AS delta1
  FROM base WHERE event_type = 'error' AND e % 2 = 0),
twamm_order_updates AS (
  SELECT e AS event_id, e // 20 AS block_number, u % 8 AS key_hash, u AS owner,
         e % 50 AS salt,
         (e*37) % 2001 - 1000 AS sale_rate_delta0,
         (e*53) % 2001 - 1000 AS sale_rate_delta1,
         date_trunc('hour', ts) AS start_time,
         date_trunc('hour', ts) + ((e % 5) + 1) * INTERVAL 1 HOUR AS end_time
  FROM base WHERE event_type = 'click' AND e % 3 = 0),
twamm_virtual_order_executions AS (
  SELECT e AS event_id, e // 20 AS block_number, u % 8 AS key_hash,
         (e*11) % 10000 AS token0_sale_rate, (e*13) % 10000 AS token1_sale_rate,
         {_SQL_DELTA0} AS delta0, {_SQL_DELTA1} AS delta1
  FROM base WHERE event_type = 'view' AND e % 4 = 0),
limit_order_placed AS (
  SELECT e AS event_id, u % 8 AS key_hash
  FROM base WHERE event_type = 'signup' AND e % 2 = 0),
limit_order_closed AS (
  SELECT e AS event_id, u % 8 AS key_hash
  FROM base WHERE event_type = 'signup' AND e % 2 = 1),
liquidity_updated AS (
  SELECT e AS event_id, u % 8 AS pool_key_hash
  FROM base WHERE event_type = 'error' AND e % 3 = 0),
oracle_snapshots AS (
  SELECT e AS event_id, u % 8 AS key_hash,
         epoch_us(ts) // 1000000 AS snapshot_block_timestamp
  FROM base WHERE event_type = 'view' AND e % 3 = 0),
token_registrations_v3 AS (
  SELECT e AS event_id, u AS address,
         'Token' || CAST(u AS VARCHAR) AS name,
         'TK' || CAST(u % 30 AS VARCHAR) AS symbol,
         CAST(6 + u % 13 AS INT) AS decimals,
         (e*47) % 100000 AS total_supply
  FROM base WHERE event_type = 'signup' AND e % 3 = 0),
staker_staked AS (
  SELECT e AS event_id, e // 20 AS block_number, u AS from_address,
         u % 10 AS delegate, (e*41) % 1000 + 1 AS amount
  FROM base WHERE event_type = 'purchase'),
staker_withdrawn AS (
  SELECT e AS event_id, e // 20 AS block_number, u AS from_address,
         u % 10 AS delegate, (e*43) % 400 + 1 AS amount
  FROM base WHERE event_type = 'error'),
governor_reconfigured AS (
  SELECT DISTINCT 1 + e % 2 AS version, 3600 * (1 + e % 2) AS voting_start_delay
  FROM base),
governor_proposed AS (
  SELECT e AS event_id, e // 20 AS block_number, e AS id, u AS proposer,
         1 + e % 2 AS config_version
  FROM base WHERE event_type = 'signup' AND e % 97 = 0),
governor_voted AS (
  SELECT b.e AS event_id, b.e // 20 AS block_number, p.id, b.u AS voter,
         (b.e*47) % 1000 + 1 AS weight, (b.e % 3) > 0 AS yea
  FROM base b JOIN governor_proposed p ON b.e % 16 = p.id % 16
  WHERE b.event_type = 'click' AND b.e % 5 = 0)
"""

TWO64 = "18446744073709551616"

# Golden view bodies — the same SQL proven against the reference
# semantics in tests/test_views.py / test_views_advanced.py (cites:
# V1 src/dao.ts:384-433, V2 :475-540, V3 :765-815, V4 :817-851,
# V5 :853-873, V6 :875-880, V7 :882-936, V8 :970-1023, V9 :1025-1036,
# V10 :1038-1083, V11 :1085-1207, V12 :1231-1352, V13-16 :1544-1787,
# V17 governor rewards UDTF).

BODY_V1 = """
last_swap AS (
  SELECT pool_key_hash, MAX(event_id) e, arg_max(sqrt_ratio_after, event_id) sr,
         arg_max(tick_after, event_id) t, arg_max(liquidity_after, event_id) lq
  FROM swaps GROUP BY 1),
li AS (
  SELECT pool_key_hash, MAX(event_id) e, arg_max(sqrt_ratio, event_id) sr,
         arg_max(tick, event_id) t
  FROM pool_initializations GROUP BY 1),
lss AS (
  SELECT pk.key_hash,
         COALESCE(ls.e, li.e) AS last_swap_event_id,
         COALESCE(ls.sr, li.sr) AS sqrt_ratio,
         COALESCE(ls.t, li.t) AS tick,
         COALESCE(ls.lq, 0) AS liquidity_last
  FROM pool_keys pk
  LEFT JOIN last_swap ls ON pk.key_hash = ls.pool_key_hash
  LEFT JOIN li ON pk.key_hash = li.pool_key_hash),
pl AS (
  SELECT key_hash,
         (SELECT MAX(event_id) FROM position_updates pu
          WHERE pu.pool_key_hash = lss.key_hash) AS last_update_event_id,
         liquidity_last + COALESCE(
           (SELECT SUM(liquidity_delta) FROM position_updates pu
            WHERE pu.event_id > lss.last_swap_event_id
              AND pu.pool_key_hash = lss.key_hash
              AND lss.tick BETWEEN pu.lower_bound AND pu.upper_bound - 1), 0) AS liquidity
  FROM lss),
v1 AS (
  SELECT lss.key_hash AS pool_key_hash, sqrt_ratio, tick, liquidity,
         GREATEST(COALESCE(lss.last_swap_event_id, pl.last_update_event_id),
                  COALESCE(pl.last_update_event_id, lss.last_swap_event_id)) AS last_event_id,
         pl.last_update_event_id AS last_liquidity_update_event_id
  FROM lss JOIN pl ON lss.key_hash = pl.key_hash)
"""

BODY_V2 = """
atd AS (
  SELECT pool_key_hash, lower_bound AS tick,
         SUM(liquidity_delta) AS net, SUM(liquidity_delta) AS tot
  FROM position_updates GROUP BY 1, 2
  UNION ALL
  SELECT pool_key_hash, upper_bound, SUM(-liquidity_delta), SUM(liquidity_delta)
  FROM position_updates GROUP BY 1, 2),
v2 AS (
  SELECT pool_key_hash, tick, SUM(net) AS net_liquidity_delta_diff,
         SUM(tot) AS total_liquidity_on_tick
  FROM atd GROUP BY 1, 2 HAVING SUM(net) <> 0)
"""

BODY_V13 = f"""
swap_data AS (
  SELECT s.pool_key_hash AS key_hash, date_trunc('hour', b.time) AS hour,
         CASE WHEN s.delta0 >= 0 THEN pk.token0 ELSE pk.token1 END AS token,
         SUM(CASE WHEN s.delta0 >= 0 THEN s.delta0 ELSE s.delta1 END) AS volume,
         SUM((CAST(CASE WHEN s.delta0 >= 0 THEN s.delta0 ELSE s.delta1 END AS HUGEINT)
              * (CAST(pk.fee AS HUGEINT) // {TWO64})) // {TWO64}) AS fees,
         COUNT(1) AS swap_count
  FROM swaps s
  JOIN pool_keys pk ON s.pool_key_hash = pk.key_hash
  JOIN blocks b ON s.block_number = b.number
  GROUP BY 1, 2, 3),
fees0 AS (
  SELECT fa.pool_key_hash, date_trunc('hour', b.time), pk.token0,
         0, SUM(fa.amount0), 0
  FROM fees_accumulated fa
  JOIN pool_keys pk ON fa.pool_key_hash = pk.key_hash
  JOIN blocks b ON fa.block_number = b.number
  WHERE fa.amount0 > 0 GROUP BY 1, 2, 3),
fees1 AS (
  SELECT fa.pool_key_hash, date_trunc('hour', b.time), pk.token1,
         0, SUM(fa.amount1), 0
  FROM fees_accumulated fa
  JOIN pool_keys pk ON fa.pool_key_hash = pk.key_hash
  JOIN blocks b ON fa.block_number = b.number
  WHERE fa.amount1 > 0 GROUP BY 1, 2, 3),
combined AS (
  SELECT * FROM swap_data UNION ALL SELECT * FROM fees0 UNION ALL SELECT * FROM fees1),
v13 AS (
  SELECT key_hash, hour, token, SUM(volume) AS volume, SUM(fees) AS fees,
         SUM(swap_count) AS swap_count
  FROM combined GROUP BY 1, 2, 3)
"""

BODY_V16 = """
gp16 AS (
  SELECT pool_key_hash, date_trunc('hour', b.time) AS hour,
         SUM(delta0) AS delta0, SUM(delta1) AS delta1
  FROM swaps JOIN blocks b ON swaps.block_number = b.number GROUP BY 1, 2
  UNION ALL
  SELECT pool_key_hash, date_trunc('hour', b.time), SUM(delta0), SUM(delta1)
  FROM position_updates JOIN blocks b ON position_updates.block_number = b.number GROUP BY 1, 2
  UNION ALL
  SELECT pool_key_hash, date_trunc('hour', b.time), SUM(delta0), SUM(delta1)
  FROM position_fees_collected JOIN blocks b ON position_fees_collected.block_number = b.number
  GROUP BY 1, 2
  UNION ALL
  SELECT pool_key_hash, date_trunc('hour', b.time), SUM(delta0), SUM(delta1)
  FROM protocol_fees_paid JOIN blocks b ON protocol_fees_paid.block_number = b.number GROUP BY 1, 2
  UNION ALL
  SELECT pool_key_hash, date_trunc('hour', b.time), SUM(amount0), SUM(amount1)
  FROM fees_accumulated JOIN blocks b ON fees_accumulated.block_number = b.number GROUP BY 1, 2),
td AS (
  SELECT gp16.pool_key_hash, gp16.hour, pk.token0 AS token, SUM(delta0) AS delta
  FROM gp16 JOIN pool_keys pk ON pk.key_hash = gp16.pool_key_hash GROUP BY 1, 2, 3
  UNION ALL
  SELECT gp16.pool_key_hash, gp16.hour, pk.token1, SUM(delta1)
  FROM gp16 JOIN pool_keys pk ON pk.key_hash = gp16.pool_key_hash GROUP BY 1, 2, 3),
v16 AS (
  SELECT pool_key_hash AS key_hash, hour, token, SUM(delta) AS delta
  FROM td GROUP BY 1, 2, 3)
"""

BODY_V15 = """
per_block AS (
  SELECT s.block_number, pk.token0, pk.token1,
         SUM(s.delta0) AS d0, SUM(s.delta1) AS d1, COUNT(1) AS n
  FROM swaps s JOIN pool_keys pk ON s.pool_key_hash = pk.key_hash
  GROUP BY 1, 2, 3),
v15 AS (
  SELECT token0, token1, date_trunc('hour', b.time) AS hour,
         SUM(ABS(CAST(d0 AS HUGEINT) * d1)) AS k_volume,
         SUM(CAST(d1 AS HUGEINT) * d1) AS total,
         SUM(n) AS swap_count
  FROM per_block JOIN blocks b ON per_block.block_number = b.number
  WHERE d0 <> 0 AND d1 <> 0
  GROUP BY 1, 2, 3)
"""


def _q(name: str, doc: str, oracle: str):
    """register() wrapper so every view query shares the doc prefix."""
    return register(name, oracle=oracle, doc=doc)


EPOCH_S = "unix_micros({c}) div 1000000"


@_q(
    "v01_pool_states",
    "V1 pool_states (src/dao.ts:384-433): per pool, latest swap state "
    "(argmax) + in-range liquidity deltas after the anchor event. "
    "Decorrelated lateral-join -> max_by; anchors broadcast.",
    f"""
WITH {DERIVE}, {BODY_V1}
SELECT CAST(pool_key_hash AS BIGINT) AS pool_key_hash,
       CAST(sqrt_ratio AS BIGINT) AS sqrt_ratio,
       CAST(tick AS INT) AS tick,
       CAST(liquidity AS BIGINT) AS liquidity,
       CAST(last_event_id AS BIGINT) AS last_event_id,
       CAST(COALESCE(last_liquidity_update_event_id, -1) AS BIGINT)
         AS last_liquidity_update_event_id
FROM v1
""",
)
def v01_pool_states(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = ekubo_tables(spark, sf_dir)
    df = VIEWS["pool_states"](t)
    return df.select(
        F.col("pool_key_hash").cast("bigint").alias("pool_key_hash"),
        F.col("sqrt_ratio").cast("bigint").alias("sqrt_ratio"),
        F.col("tick").cast("int").alias("tick"),
        F.col("liquidity").cast("bigint").alias("liquidity"),
        F.col("last_event_id").cast("bigint").alias("last_event_id"),
        F.coalesce(F.col("last_liquidity_update_event_id"), F.lit(-1))
        .cast("bigint")
        .alias("last_liquidity_update_event_id"),
    )


@_q(
    "v02_tick_liquidity",
    "V2 per_pool_per_tick_liquidity (src/dao.ts:475-540): mirrored "
    "+/- liquidity deltas at lower/upper bounds, zero rows dropped.",
    f"""
WITH {DERIVE}, {BODY_V2}
SELECT CAST(pool_key_hash AS BIGINT) AS pool_key_hash,
       CAST(tick AS INT) AS tick,
       CAST(net_liquidity_delta_diff AS BIGINT) AS net_liquidity_delta_diff,
       CAST(total_liquidity_on_tick AS BIGINT) AS total_liquidity_on_tick
FROM v2
""",
)
def v02_tick_liquidity(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = ekubo_tables(spark, sf_dir)
    df = VIEWS["per_pool_per_tick_liquidity"](t)
    return df.select(
        F.col("pool_key_hash").cast("bigint").alias("pool_key_hash"),
        F.col("tick").cast("int").alias("tick"),
        F.col("net_liquidity_delta_diff").cast("bigint").alias("net_liquidity_delta_diff"),
        F.col("total_liquidity_on_tick").cast("bigint").alias("total_liquidity_on_tick"),
    )


@_q(
    "v03_twamm_pool_states",
    "V3 twamm_pool_states (src/dao.ts:765-815): sale rates at last "
    "virtual execution + straddling later order updates.",
    f"""
WITH {DERIVE},
lvoe AS (
  SELECT v.key_hash, MAX(v.event_id) AS e,
         arg_max(v.token0_sale_rate, v.event_id) AS r0,
         arg_max(v.token1_sale_rate, v.event_id) AS r1,
         arg_max(v.block_number, v.event_id) AS bn
  FROM twamm_virtual_order_executions v
  JOIN pool_keys pk ON pk.key_hash = v.key_hash
  GROUP BY 1),
lv AS (SELECT lvoe.*, b.time AS lvet FROM lvoe JOIN blocks b ON lvoe.bn = b.number),
active AS (
  SELECT lv.key_hash,
         SUM(t.sale_rate_delta0) AS d0, SUM(t.sale_rate_delta1) AS d1,
         MAX(t.event_id) AS last_ou
  FROM lv JOIN twamm_order_updates t
    ON t.key_hash = lv.key_hash AND t.event_id > lv.e
   AND t.start_time <= lv.lvet AND t.end_time > lv.lvet
  GROUP BY 1)
SELECT CAST(lv.key_hash AS BIGINT) AS pool_key_hash,
       CAST(lv.r0 + COALESCE(a.d0, 0) AS BIGINT) AS token0_sale_rate,
       CAST(lv.r1 + COALESCE(a.d1, 0) AS BIGINT) AS token1_sale_rate,
       epoch_us(lv.lvet) // 1000000 AS last_virtual_execution_time_s,
       CAST(COALESCE(a.last_ou, lv.e) AS BIGINT) AS last_event_id
FROM lv LEFT JOIN active a ON lv.key_hash = a.key_hash
""",
)
def v03_twamm_pool_states(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = ekubo_tables(spark, sf_dir)
    df = VIEWS["twamm_pool_states"](t)
    return df.select(
        F.col("pool_key_hash").cast("bigint").alias("pool_key_hash"),
        F.col("token0_sale_rate").cast("bigint").alias("token0_sale_rate"),
        F.col("token1_sale_rate").cast("bigint").alias("token1_sale_rate"),
        F.expr(EPOCH_S.format(c="last_virtual_execution_time")).alias(
            "last_virtual_execution_time_s"
        ),
        F.col("last_event_id").cast("bigint").alias("last_event_id"),
    )


@_q(
    "v04_twamm_sale_rate_deltas",
    "V4 twamm_sale_rate_deltas (src/dao.ts:817-851): +delta at "
    "start_time / -delta at end_time, zero-zero rows dropped.",
    f"""
WITH {DERIVE},
aod AS (
  SELECT key_hash, start_time AS time,
         SUM(sale_rate_delta0) AS d0, SUM(sale_rate_delta1) AS d1
  FROM twamm_order_updates GROUP BY 1, 2
  UNION ALL
  SELECT key_hash, end_time, -SUM(sale_rate_delta0), -SUM(sale_rate_delta1)
  FROM twamm_order_updates GROUP BY 1, 2)
SELECT CAST(key_hash AS BIGINT) AS pool_key_hash,
       epoch_us(time) // 1000000 AS time_s,
       CAST(SUM(d0) AS BIGINT) AS net_sale_rate_delta0,
       CAST(SUM(d1) AS BIGINT) AS net_sale_rate_delta1
FROM aod GROUP BY 1, 2
HAVING SUM(d0) <> 0 OR SUM(d1) <> 0
""",
)
def v04_twamm_sale_rate_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = ekubo_tables(spark, sf_dir)
    df = VIEWS["twamm_sale_rate_deltas"](t)
    return df.select(
        F.col("pool_key_hash").cast("bigint").alias("pool_key_hash"),
        F.expr(EPOCH_S.format(c="time")).alias("time_s"),
        F.col("net_sale_rate_delta0").cast("bigint").alias("net_sale_rate_delta0"),
        F.col("net_sale_rate_delta1").cast("bigint").alias("net_sale_rate_delta1"),
    )


@_q(
    "v05_limit_order_pool_states",
    "V5 limit_order_pool_states (src/dao.ts:853-873).",
    f"""
WITH {DERIVE},
p AS (SELECT key_hash, MAX(event_id) AS pe FROM limit_order_placed GROUP BY 1),
c AS (SELECT key_hash, MAX(event_id) AS ce FROM limit_order_closed GROUP BY 1)
SELECT CAST(p.key_hash AS BIGINT) AS pool_key_hash,
       CAST(GREATEST(p.pe, COALESCE(c.ce, 0)) AS BIGINT) AS last_event_id
FROM p LEFT JOIN c ON p.key_hash = c.key_hash
""",
)
def v05_limit_order_pool_states(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = ekubo_tables(spark, sf_dir)
    df = VIEWS["limit_order_pool_states"](t)
    return df.select(
        F.col("pool_key_hash").cast("bigint").alias("pool_key_hash"),
        F.col("last_event_id").cast("bigint").alias("last_event_id"),
    )


@_q(
    "v06_spline_pools",
    "V6 spline_pools (src/dao.ts:875-880): distinct spline pools.",
    f"""
WITH {DERIVE}
SELECT DISTINCT CAST(pool_key_hash AS BIGINT) AS pool_key_hash FROM liquidity_updated
""",
)
def v06_spline_pools(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = ekubo_tables(spark, sf_dir)
    return VIEWS["spline_pools"](t).select(
        F.col("pool_key_hash").cast("bigint").alias("pool_key_hash")
    )


@_q(
    "v08_token_registrations",
    "V8 latest_token_registrations (src/dao.ts:970-1023): latest valid "
    "metadata per address, first-registrant-of-symbol wins.",
    f"""
WITH {DERIVE},
validated AS (
  SELECT address, event_id, name, symbol, decimals, total_supply
  FROM token_registrations_v3
  WHERE LENGTH(symbol) > 1 AND LENGTH(symbol) < 10
    AND regexp_matches(symbol, '^[\\x00-\\x7F]*$')
    AND LENGTH(name) < 128 AND regexp_matches(name, '^[\\x00-\\x7F]*$')),
per_address AS (
  SELECT address, MIN(event_id) AS first_id, MAX(event_id) AS last_id
  FROM validated GROUP BY 1),
first_sym AS (
  SELECT LOWER(symbol) AS lower_symbol, MIN(event_id) AS first_id
  FROM validated GROUP BY 1)
SELECT CAST(pa.address AS BIGINT) AS address, vr.name, vr.symbol,
       CAST(vr.decimals AS INT) AS decimals,
       CAST(vr.total_supply AS BIGINT) AS total_supply
FROM per_address pa
JOIN validated vr ON pa.address = vr.address AND pa.last_id = vr.event_id
JOIN first_sym fs ON fs.lower_symbol = LOWER(vr.symbol) AND pa.first_id = fs.first_id
""",
)
def v08_token_registrations(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = ekubo_tables(spark, sf_dir)
    df = VIEWS["latest_token_registrations"](t)
    return df.select(
        F.col("address").cast("bigint").alias("address"),
        "name",
        "symbol",
        F.col("decimals").cast("int").alias("decimals"),
        F.col("total_supply").cast("bigint").alias("total_supply"),
    )


@_q(
    "v09_oracle_pool_states",
    "V9 oracle_pool_states (src/dao.ts:1025-1036).",
    f"""
WITH {DERIVE}
SELECT CAST(key_hash AS BIGINT) AS pool_key_hash,
       CAST(MAX(snapshot_block_timestamp) AS BIGINT) AS last_snapshot_block_timestamp
FROM oracle_snapshots GROUP BY 1
""",
)
def v09_oracle_pool_states(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = ekubo_tables(spark, sf_dir)
    df = VIEWS["oracle_pool_states"](t)
    return df.select(
        F.col("pool_key_hash").cast("bigint").alias("pool_key_hash"),
        F.col("last_snapshot_block_timestamp")
        .cast("bigint")
        .alias("last_snapshot_block_timestamp"),
    )


@_q(
    "v13_hourly_volume",
    "V13 hourly volume+fees per (pool, token) (src/dao.ts:1544-1615): "
    "Q128 fee math, fees_accumulated merge. Blocks broadcast.",
    f"""
WITH {DERIVE}, {BODY_V13}
SELECT CAST(key_hash AS BIGINT) AS key_hash,
       epoch_us(hour) // 1000000 AS hour_s,
       CAST(token AS BIGINT) AS token,
       CAST(volume AS BIGINT) AS volume,
       CAST(fees AS BIGINT) AS fees,
       CAST(swap_count AS BIGINT) AS swap_count
FROM v13
""",
)
def v13_hourly_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = ekubo_tables(spark, sf_dir)
    df = VIEWS["hourly_volume_by_token"](t)
    return df.select(
        F.col("key_hash").cast("bigint").alias("key_hash"),
        F.expr(EPOCH_S.format(c="hour")).alias("hour_s"),
        F.col("token").cast("bigint").alias("token"),
        F.col("volume").cast("bigint").alias("volume"),
        F.col("fees").cast("bigint").alias("fees"),
        F.col("swap_count").cast("bigint").alias("swap_count"),
    )


@_q(
    "v14_hourly_revenue",
    "V14 hourly protocol revenue per (pool, token) (src/dao.ts:1617-1654).",
    f"""
WITH {DERIVE},
rev0 AS (
  SELECT pfp.pool_key_hash AS key_hash, date_trunc('hour', b.time) AS hour,
         pk.token0 AS token, -SUM(pfp.delta0) AS revenue
  FROM protocol_fees_paid pfp
  JOIN pool_keys pk ON pfp.pool_key_hash = pk.key_hash
  JOIN blocks b ON pfp.block_number = b.number
  WHERE pfp.delta0 <> 0 GROUP BY 1, 2, 3),
rev1 AS (
  SELECT pfp.pool_key_hash, date_trunc('hour', b.time), pk.token1, -SUM(pfp.delta1)
  FROM protocol_fees_paid pfp
  JOIN pool_keys pk ON pfp.pool_key_hash = pk.key_hash
  JOIN blocks b ON pfp.block_number = b.number
  WHERE pfp.delta1 <> 0 GROUP BY 1, 2, 3),
total AS (SELECT * FROM rev0 UNION ALL SELECT * FROM rev1)
SELECT CAST(key_hash AS BIGINT) AS key_hash,
       epoch_us(hour) // 1000000 AS hour_s,
       CAST(token AS BIGINT) AS token,
       CAST(SUM(revenue) AS BIGINT) AS revenue
FROM total GROUP BY 1, 2, 3
""",
)
def v14_hourly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = ekubo_tables(spark, sf_dir)
    df = VIEWS["hourly_revenue_by_token"](t)
    return df.select(
        F.col("key_hash").cast("bigint").alias("key_hash"),
        F.expr(EPOCH_S.format(c="hour")).alias("hour_s"),
        F.col("token").cast("bigint").alias("token"),
        F.col("revenue").cast("bigint").alias("revenue"),
    )


@_q(
    "v15_hourly_price",
    "V15 hourly price data per token pair (src/dao.ts:1656-1688): "
    "two-stage per-block partial aggregation.",
    f"""
WITH {DERIVE}, {BODY_V15}
SELECT CAST(token0 AS BIGINT) AS token0, CAST(token1 AS BIGINT) AS token1,
       epoch_us(hour) // 1000000 AS hour_s,
       CAST(k_volume AS BIGINT) AS k_volume,
       CAST(total AS BIGINT) AS total,
       CAST(swap_count AS BIGINT) AS swap_count
FROM v15
""",
)
def v15_hourly_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = ekubo_tables(spark, sf_dir)
    df = VIEWS["hourly_price_data"](t)
    return df.select(
        F.col("token0").cast("bigint").alias("token0"),
        F.col("token1").cast("bigint").alias("token1"),
        F.expr(EPOCH_S.format(c="hour")).alias("hour_s"),
        F.col("k_volume").cast("bigint").alias("k_volume"),
        F.col("total").cast("bigint").alias("total"),
        F.col("swap_count").cast("bigint").alias("swap_count"),
    )


@_q(
    "v16_hourly_tvl_delta",
    "V16 hourly TVL delta per (pool, token) (src/dao.ts:1690-1787): "
    "5-way fact union routed to token sides.",
    f"""
WITH {DERIVE}, {BODY_V16}
SELECT CAST(key_hash AS BIGINT) AS key_hash,
       epoch_us(hour) // 1000000 AS hour_s,
       CAST(token AS BIGINT) AS token,
       CAST(delta AS BIGINT) AS delta
FROM v16
""",
)
def v16_hourly_tvl_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = ekubo_tables(spark, sf_dir)
    df = VIEWS["hourly_tvl_delta_by_token"](t)
    return df.select(
        F.col("key_hash").cast("bigint").alias("key_hash"),
        F.expr(EPOCH_S.format(c="hour")).alias("hour_s"),
        F.col("token").cast("bigint").alias("token"),
        F.col("delta").cast("bigint").alias("delta"),
    )


@_q(
    "v07_last_24h_pool_stats",
    "V7 last_24h_pool_stats (src/dao.ts:882-936): 24h volume/fees/TVL "
    "per pool, NOW() parameterized as max(blocks.time) (SURVEY §4.2).",
    f"""
WITH {DERIVE}, {BODY_V13}, {BODY_V16},
as_of AS (SELECT MAX(time) AS t FROM blocks),
volume AS (
  SELECT hv.key_hash,
         SUM(CASE WHEN hv.token = pk.token0 THEN hv.volume ELSE 0 END) AS volume0,
         SUM(CASE WHEN hv.token = pk.token1 THEN hv.volume ELSE 0 END) AS volume1,
         SUM(CASE WHEN hv.token = pk.token0 THEN hv.fees ELSE 0 END) AS fees0,
         SUM(CASE WHEN hv.token = pk.token1 THEN hv.fees ELSE 0 END) AS fees1
  FROM v13 hv JOIN pool_keys pk ON hv.key_hash = pk.key_hash, as_of
  WHERE hv.hour >= as_of.t - INTERVAL 24 HOURS
  GROUP BY 1),
tvl_total AS (
  SELECT ht.key_hash,
         SUM(CASE WHEN ht.token = pk.token0 THEN ht.delta ELSE 0 END) AS tvl0,
         SUM(CASE WHEN ht.token = pk.token1 THEN ht.delta ELSE 0 END) AS tvl1
  FROM v16 ht JOIN pool_keys pk ON ht.key_hash = pk.key_hash GROUP BY 1),
tvl_24h AS (
  SELECT ht.key_hash,
         SUM(CASE WHEN ht.token = pk.token0 THEN ht.delta ELSE 0 END) AS tvl0,
         SUM(CASE WHEN ht.token = pk.token1 THEN ht.delta ELSE 0 END) AS tvl1
  FROM v16 ht JOIN pool_keys pk ON ht.key_hash = pk.key_hash, as_of
  WHERE ht.hour >= as_of.t - INTERVAL 24 HOURS
  GROUP BY 1)
SELECT CAST(pk.key_hash AS BIGINT) AS key_hash,
       CAST(COALESCE(v.volume0, 0) AS BIGINT) AS volume0_24h,
       CAST(COALESCE(v.volume1, 0) AS BIGINT) AS volume1_24h,
       CAST(COALESCE(v.fees0, 0) AS BIGINT) AS fees0_24h,
       CAST(COALESCE(v.fees1, 0) AS BIGINT) AS fees1_24h,
       CAST(COALESCE(t.tvl0, 0) AS BIGINT) AS tvl0_total,
       CAST(COALESCE(t.tvl1, 0) AS BIGINT) AS tvl1_total,
       CAST(COALESCE(d.tvl0, 0) AS BIGINT) AS tvl0_delta_24h,
       CAST(COALESCE(d.tvl1, 0) AS BIGINT) AS tvl1_delta_24h
FROM pool_keys pk
LEFT JOIN volume v ON v.key_hash = pk.key_hash
LEFT JOIN tvl_total t ON t.key_hash = pk.key_hash
LEFT JOIN tvl_24h d ON d.key_hash = pk.key_hash
""",
)
def v07_last_24h_pool_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = ekubo_tables(spark, sf_dir)
    # v07 composes BOTH hourly rollups, so the shared event-derived
    # inputs are consumed far more often than in the standalone view
    # queries: blocks ~7x (six _with_hour joins + the as_of anchor),
    # fees_accumulated 3x, swaps 2x — and several consumers return as
    # broadcasts, defeating exchange reuse (the r12 materialization
    # sweep mechanism). Lazily checkpoint those three HERE, in the
    # composing query only; the view functions and the standalone
    # v13/v16 queries are untouched (copy — ekubo_tables' dict is a
    # shared cache). Tradeoff (ADVICE r12): localCheckpoint trades
    # fault tolerance for reuse — checkpointed partitions live only on
    # executors (no lineage recompute after executor loss) and block
    # per-consumer filter/column pushdown into the parquet scans;
    # acceptable for the benchmarked local batch shape, use
    # persist(MEMORY_AND_DISK) where executor loss must be survivable.
    t = {
        **t,
        "blocks": t["blocks"].localCheckpoint(eager=False),
        "swaps": t["swaps"].localCheckpoint(eager=False),
        "fees_accumulated": t["fees_accumulated"].localCheckpoint(eager=False),
    }
    # as_of=None: the view derives the NOW() anchor set-based
    # (broadcast max(blocks.time) crossJoin), keeping the whole query
    # one lazy plan with no driver-side collect
    hv = VIEWS["hourly_volume_by_token"](t)
    ht = VIEWS["hourly_tvl_delta_by_token"](t)
    df = VIEWS["last_24h_pool_stats"](t, hv, ht)
    cols = [F.col("key_hash").cast("bigint").alias("key_hash")]
    for c in (
        "volume0_24h",
        "volume1_24h",
        "fees0_24h",
        "fees1_24h",
        "tvl0_total",
        "tvl1_total",
        "tvl0_delta_24h",
        "tvl1_delta_24h",
    ):
        cols.append(F.coalesce(F.col(c), F.lit(0)).cast("bigint").alias(c))
    return df.select(*cols)


@_q(
    "v10_realized_volatility",
    "V10 token_pair_realized_volatility (src/dao.ts:1038-1083): "
    "7-day log-price realized volatility from V15 hourly prices.",
    f"""
WITH {DERIVE}, {BODY_V15},
times AS (SELECT MAX(time) - INTERVAL 7 DAYS AS start_time, MAX(time) AS end_time FROM blocks),
prices AS (
  SELECT token0, token1, hour, LN(CAST(total AS DOUBLE) / CAST(k_volume AS DOUBLE)) AS log_price
  FROM v15 hpd, times t
  WHERE hpd.hour BETWEEN t.start_time AND t.end_time AND hpd.k_volume <> 0),
changes AS (
  SELECT token0, token1,
         log_price - LAG(log_price) OVER (PARTITION BY token0, token1 ORDER BY hour) AS pc
  FROM prices),
rv AS (
  SELECT token0, token1, COUNT(1) AS observation_count,
         SQRT(SUM(pc * pc)) AS realized_volatility
  FROM changes WHERE pc IS NOT NULL GROUP BY 1, 2)
SELECT CAST(token0 AS BIGINT) AS token0, CAST(token1 AS BIGINT) AS token1,
       ROUND(realized_volatility, 6) AS realized_volatility,
       CAST(observation_count AS BIGINT) AS observation_count,
       CAST(FLOOR(realized_volatility / LN(1.000001)) AS BIGINT) AS volatility_in_ticks
FROM rv WHERE realized_volatility IS NOT NULL
""",
)
def v10_realized_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = ekubo_tables(spark, sf_dir)
    hpd = VIEWS["hourly_price_data"](t)
    df = VIEWS["token_pair_realized_volatility"](t, hpd)
    return df.select(
        F.col("token0").cast("bigint").alias("token0"),
        F.col("token1").cast("bigint").alias("token1"),
        F.round("realized_volatility", 6).alias("realized_volatility"),
        F.col("observation_count").cast("bigint").alias("observation_count"),
        F.col("volatility_in_ticks").cast("bigint").alias("volatility_in_ticks"),
    )


@_q(
    "v11_market_depth",
    "V11 pool_market_depth (src/dao.ts:1085-1207): 41-level depth "
    "curves from the cumulative tick-liquidity ledger; depth level "
    "emitted as an exact integer (1e9-scaled) key.",
    f"""
WITH {DERIVE}, {BODY_V2},
depth_percentages AS (
  SELECT (POWER(1.21, k) * 0.00005) AS depth_percent FROM (SELECT UNNEST(range(41)) AS k)),
sp AS (
  SELECT s.*, pk.token0, pk.token1 FROM swaps s
  JOIN pool_keys pk ON s.pool_key_hash = pk.key_hash
  WHERE s.liquidity_after <> 0),
last_swap AS (
  SELECT token0, token1, arg_max(block_number, event_id) AS bn
  FROM sp GROUP BY 1, 2),
last_time AS (
  SELECT token0, token1, b.time AS last_time
  FROM last_swap JOIN blocks b ON last_swap.bn = b.number),
median_ticks AS (
  SELECT sp.token0, sp.token1, quantile_cont(sp.tick_after, 0.5) AS median_tick
  FROM sp
  JOIN blocks b ON sp.block_number = b.number
  JOIN last_time lt ON sp.token0 = lt.token0 AND sp.token1 = lt.token1
  WHERE b.time >= lt.last_time - INTERVAL 1 HOUR
  GROUP BY 1, 2),
pool_states AS (
  SELECT pk.key_hash, dp.depth_percent,
         CAST(FLOOR(LN(1 + dp.depth_percent) / LN(1.000001)) AS INT) AS depth_in_ticks,
         CAST(CEIL(LOG10(1 + CAST(pk.fee AS DOUBLE) / 340282366920938463463374607431768211456.0)
                   / LOG10(1.000001)) AS INT) AS fee_in_ticks,
         CAST(ROUND(mt.median_tick) AS INT) AS last_tick
  FROM pool_keys pk
  CROSS JOIN depth_percentages dp
  LEFT JOIN median_ticks mt ON pk.token0 = mt.token0 AND pk.token1 = mt.token1),
pool_ticks AS (
  SELECT pool_key_hash,
         SUM(net_liquidity_delta_diff) OVER (PARTITION BY pool_key_hash ORDER BY tick
                                             ROWS UNBOUNDED PRECEDING) AS liquidity,
         tick AS tick_start,
         LEAD(tick) OVER (PARTITION BY pool_key_hash ORDER BY tick) AS tick_end
  FROM v2),
ranges AS (
  SELECT pt.pool_key_hash, CAST(pt.liquidity AS DOUBLE) AS liquidity, ps.depth_percent,
         GREATEST(ps.last_tick - ps.depth_in_ticks, pt.tick_start) AS below_lo,
         LEAST(ps.last_tick - ps.fee_in_ticks, COALESCE(pt.tick_end, 2147483647)) AS below_hi,
         GREATEST(ps.last_tick + ps.fee_in_ticks, pt.tick_start) AS above_lo,
         LEAST(ps.last_tick + ps.depth_in_ticks, COALESCE(pt.tick_end, 2147483647)) AS above_hi
  FROM pool_ticks pt
  JOIN pool_states ps ON pt.pool_key_hash = ps.key_hash
  WHERE pt.liquidity <> 0 AND ps.fee_in_ticks < ps.depth_in_ticks),
nonempty AS (
  SELECT * FROM ranges WHERE below_hi > below_lo OR above_hi > above_lo)
SELECT CAST(pool_key_hash AS BIGINT) AS pool_key_hash,
       CAST(ROUND(depth_percent * 1000000000) AS BIGINT) AS depth_1e9,
       CAST(FLOOR(SUM(CASE WHEN above_hi > above_lo
                      THEN liquidity * (1.0 / POWER(1.0000005, above_lo)
                                        - 1.0 / POWER(1.0000005, above_hi))
                      ELSE 0 END)) AS BIGINT) AS depth0,
       CAST(FLOOR(SUM(CASE WHEN below_hi > below_lo
                      THEN liquidity * (POWER(1.0000005, below_hi)
                                        - POWER(1.0000005, below_lo))
                      ELSE 0 END)) AS BIGINT) AS depth1
FROM nonempty
GROUP BY 1, 2
""",
)
def v11_market_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = ekubo_tables(spark, sf_dir)
    tl = VIEWS["per_pool_per_tick_liquidity"](t)
    df = VIEWS["pool_market_depth"](t, tl)
    return df.select(
        F.col("pool_key_hash").cast("bigint").alias("pool_key_hash"),
        F.round(F.col("depth_percent") * 1e9).cast("bigint").alias("depth_1e9"),
        F.col("depth0").cast("bigint").alias("depth0"),
        F.col("depth1").cast("bigint").alias("depth1"),
    )


@_q(
    "v12_voting_weights",
    "V12 proposal_delegate_voting_weights (src/dao.ts:1231-1352): "
    "time-weighted average delegate stake over each proposal's "
    "pre-vote window; lateral join decorrelated to one window pass.",
    f"""
WITH {DERIVE},
pt AS (
  SELECT gp.id AS proposal_id, b.time AS proposal_time,
         b.time + gr.voting_start_delay * INTERVAL 1 SECOND AS vote_start,
         gr.voting_start_delay AS window_secs
  FROM governor_proposed gp
  JOIN blocks b ON gp.block_number = b.number
  JOIN governor_reconfigured gr ON gp.config_version = gr.version),
deltas AS (
  SELECT s.delegate, b.time, CAST(s.amount AS HUGEINT) AS delta
  FROM staker_staked s JOIN blocks b ON s.block_number = b.number
  UNION ALL
  SELECT w.delegate, b.time, -CAST(w.amount AS HUGEINT)
  FROM staker_withdrawn w JOIN blocks b ON w.block_number = b.number),
evs AS (
  SELECT pt.proposal_id, d.delegate, d.time, d.delta
  FROM deltas d JOIN pt ON d.time BETWEEN pt.proposal_time AND pt.vote_start
  UNION ALL
  SELECT pt.proposal_id, d.delegate, pt.proposal_time, SUM(d.delta)
  FROM deltas d JOIN pt ON d.time < pt.proposal_time
  GROUP BY 1, 2, 3
  UNION ALL
  SELECT pt.proposal_id, dd.delegate, pt.vote_start, 0
  FROM (SELECT DISTINCT delegate FROM deltas) dd CROSS JOIN pt),
running AS (
  SELECT proposal_id, delegate, time,
         SUM(delta) OVER (PARTITION BY proposal_id, delegate ORDER BY time
                          ROWS UNBOUNDED PRECEDING) AS stake,
         LEAD(time) OVER (PARTITION BY proposal_id, delegate ORDER BY time) AS end_time
  FROM evs),
integral AS (
  SELECT proposal_id, delegate,
         SUM(CAST(stake AS DECIMAL(38,0))
             * ((epoch_us(end_time) - epoch_us(time)) // 1000000))
           AS weighted_time_sum
  FROM running WHERE end_time IS NOT NULL
  GROUP BY 1, 2)
SELECT CAST(i.proposal_id AS BIGINT) AS proposal_id,
       CAST(i.delegate AS BIGINT) AS delegate,
       -- exact integer floor division (HUGEINT), mirroring the Spark
       -- side's decimal_floordiv: a double division here could shift
       -- the floor by 1 for weighted sums beyond 2^53 — and the
       -- cross-engine gate would then be blind to the same divergence
       -- from the reference's NUMERIC math. DuckDB's // truncates
       -- toward zero, so correct it to floor for negative quotients.
       CAST(CAST(i.weighted_time_sum AS HUGEINT) // pt.window_secs
            - CASE WHEN CAST(i.weighted_time_sum AS HUGEINT) % pt.window_secs <> 0
                        AND (i.weighted_time_sum < 0) <> (pt.window_secs < 0)
                   THEN 1 ELSE 0 END
            AS BIGINT) AS voting_weight
FROM integral i JOIN pt ON i.proposal_id = pt.proposal_id
""",
)
def v12_voting_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = ekubo_tables(spark, sf_dir)
    df = VIEWS["proposal_delegate_voting_weights"](t)
    return df.select(
        F.col("proposal_id").cast("bigint").alias("proposal_id"),
        F.col("delegate").cast("bigint").alias("delegate"),
        F.col("voting_weight").cast("bigint").alias("voting_weight"),
    )


V17_START = "2024-01-05 00:00:00"
V17_END = "2024-01-20 00:00:00"
V17_TOTAL = 1_000_000.0
V17_S_SHARE = 0.7
V17_D_SHARE = 0.3


@_q(
    "v17_staker_rewards",
    "V17 calculate_staker_rewards (UDTF-style parameterized table "
    "function): per-interval stake-share integral + delegate vote "
    "weights over a fixed window. Rank id omitted (float-order ties).",
    f"""
WITH {DERIVE},
params AS (
  SELECT TIMESTAMP '{V17_START}' AS start_time, TIMESTAMP '{V17_END}' AS end_time,
         {V17_TOTAL} AS total_rewards, {V17_S_SHARE} AS s_share, {V17_D_SHARE} AS d_share,
         (epoch_us(TIMESTAMP '{V17_END}') - epoch_us(TIMESTAMP '{V17_START}')) / 1e6 AS total_dur),
deltas AS (
  SELECT s.from_address AS staker, b.time, CAST(s.amount AS HUGEINT) AS delta
  FROM staker_staked s JOIN blocks b ON s.block_number = b.number
  UNION ALL
  SELECT w.from_address, b.time, -CAST(w.amount AS HUGEINT)
  FROM staker_withdrawn w JOIN blocks b ON w.block_number = b.number),
time_points AS (
  SELECT DISTINCT time FROM (
    SELECT time FROM deltas, params WHERE time BETWEEN start_time AND end_time
    UNION ALL SELECT start_time FROM params
    UNION ALL SELECT end_time FROM params)),
intervals AS (
  SELECT time AS i_start, LEAD(time) OVER (ORDER BY time) AS i_end
  FROM time_points, params WHERE time < end_time
  QUALIFY i_end IS NOT NULL),
changes AS (
  SELECT staker, (SELECT start_time FROM params) AS time, SUM(delta) AS delta
  FROM deltas, params WHERE time < start_time GROUP BY 1
  UNION ALL
  SELECT staker, time, delta FROM deltas, params
  WHERE time BETWEEN start_time AND end_time),
stake_events AS (
  SELECT staker, time,
         SUM(delta) OVER (PARTITION BY staker ORDER BY time ROWS UNBOUNDED PRECEDING)
           AS stake_amount,
         LEAD(time) OVER (PARTITION BY staker ORDER BY time) AS next_time
  FROM changes),
staker_intervals AS (
  SELECT i.i_start, i.i_end, se.staker, se.stake_amount
  FROM stake_events se JOIN intervals i
    ON se.time <= i.i_start AND (se.next_time IS NULL OR i.i_start < se.next_time)),
total_per AS (
  SELECT i_start, i_end, SUM(stake_amount) AS total_stake
  FROM staker_intervals GROUP BY 1, 2),
staker_rewards AS (
  SELECT si.staker,
         SUM(p.total_rewards * (p.s_share / (p.s_share + p.d_share))
             * ((epoch_us(si.i_end) - epoch_us(si.i_start)) / 1e6 / p.total_dur)
             * (CAST(si.stake_amount AS DOUBLE) / CAST(t.total_stake AS DOUBLE))) AS reward
  FROM staker_intervals si
  JOIN total_per t ON si.i_start = t.i_start AND si.i_end = t.i_end, params p
  WHERE t.total_stake > 0 AND si.stake_amount > 0
    AND epoch_us(si.i_end) > epoch_us(si.i_start)
  GROUP BY 1),
pip AS (
  SELECT gp.id FROM governor_proposed gp JOIN blocks b ON gp.block_number = b.number, params
  WHERE b.time BETWEEN start_time AND end_time),
dtw AS (
  SELECT gv.voter AS delegate, SUM(CAST(gv.weight AS HUGEINT)) AS total_weight
  FROM governor_voted gv WHERE gv.id IN (SELECT id FROM pip) GROUP BY 1),
tvw AS (SELECT SUM(total_weight) AS total FROM dtw),
delegate_rewards AS (
  SELECT dtw.delegate,
         CAST(dtw.total_weight AS DOUBLE) * p.total_rewards
           * (p.d_share / (p.s_share + p.d_share)) / CAST(tvw.total AS DOUBLE) AS reward
  FROM dtw, tvw, params p),
all_rewards AS (
  SELECT delegate AS claimee, reward AS delegate_reward, 0.0 AS staker_reward
  FROM delegate_rewards
  UNION ALL
  SELECT staker, 0.0, reward FROM staker_rewards),
final AS (
  SELECT claimee, SUM(staker_reward) AS tsr, SUM(delegate_reward) AS tdr,
         SUM(staker_reward) + SUM(delegate_reward) AS total_reward
  FROM all_rewards GROUP BY 1)
SELECT '0x' || lower(to_hex(CAST(claimee AS BIGINT))) AS claimee,
       CAST(FLOOR(total_reward) AS BIGINT) AS amount,
       CAST(FLOOR(tdr) AS BIGINT) AS staker_portion,
       CAST(FLOOR(tsr) AS BIGINT) AS delegate_portion
FROM final WHERE total_reward > 0
""",
)
def v17_staker_rewards(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = ekubo_tables(spark, sf_dir)
    df = VIEWS["calculate_staker_rewards"](
        t, V17_START, V17_END, V17_TOTAL, V17_S_SHARE, V17_D_SHARE
    )
    return df.select(
        "claimee",
        F.col("amount").cast("bigint").alias("amount"),
        F.col("staker_portion").cast("bigint").alias("staker_portion"),
        F.col("delegate_portion").cast("bigint").alias("delegate_portion"),
    )
