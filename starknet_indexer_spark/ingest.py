"""Ingest plane: raw event feed -> typed, append-only fact tables.

Reference architecture (SURVEY.md §2.1, §3.1): the Apibara gRPC stream
delivers ordered messages carrying raw felt arrays; the indexer
server-filters by (emitter, key), decodes with parser combinators, and
appends to per-event-type tables inside one transaction per block,
persisting a cursor and deleting a block suffix on reorg
(src/index.ts:127-288, src/dao.ts:1853-2893, 2306-2321).

Spark mapping:
- feed         = a directory of raw-message parquet (batch) or the same
                 via readStream (Structured Streaming); Kafka drops in
                 by swapping the reader, the pipeline is identical.
- filter       = ``keys[0] == selector`` predicate per event type —
                 pushed into the scan (S2 predicate pushdown).
- decode       = decode.decode_events (pure column expressions).
- sink         = per-type parquet tables partitioned by
                 ``block_bucket = block_number // BLOCK_BUCKET_SIZE``;
                 at 100 TB the bucket is the unit of partition pruning
                 AND of reorg retraction (rewrite a bounded suffix of
                 buckets instead of the whole table — the Parquet-only
                 equivalent of Delta's DELETE WHERE block >= n).
- cursor       = JSON high-watermark file (batch) / checkpoint dir
                 (streaming) — S3 exactly-once restart.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .decode import EVENT_PARSERS, decode_events
from .functions.core import event_id_column, hex_normalize, pool_key_hash
from .sources.feed import (  # noqa: F401 (re-export)
    FEED_FILE_COL,
    FEED_MTIME_COL,
    RAW_SCHEMA,
    read_feed_stream,
)

BLOCK_BUCKET_SIZE = 1000

# Concurrent per-family ingest job submission (families write disjoint
# directories). 8 in-flight job chains keeps a 32-core local executor
# saturated without starving any single family's shuffle.
INGEST_FAMILY_PARALLELISM = 8

# src/dao.ts:40-41
MAX_TICK_SPACING = 354892
LIMIT_ORDER_TICK_SPACING = 128

# Source-side dispatch: key[0] selector -> event type (reference:
# filter ids -> EVENT_PROCESSORS, src/eventProcessors.ts:76-494).
# Selectors are deterministic synthetic constants (hex of the type
# name's bytes) — a deployment against real Starknet data swaps in the
# actual event selectors here.
EVENT_SELECTORS: dict[str, str] = {
    name: "0x" + name.encode().hex() for name in EVENT_PARSERS
}

# Event types whose decoded struct carries an embedded pool key that
# must be upserted into the pool_keys dimension (S8, src/dao.ts:1869-1893)
_POOL_KEY_BEARING = {
    "swapped": "pool_key",
    "position_updated": "pool_key",
    "position_fees_collected": "pool_key",
    "protocol_fees_paid": "pool_key",
    "fees_accumulated": "pool_key",
    "pool_initialized": "pool_key",
    "liquidity_updated": "pool_key",
}


def _pk_hash(prefix: str = "pool_key"):
    return pool_key_hash(
        F.col(f"{prefix}.token0"),
        F.col(f"{prefix}.token1"),
        F.col(f"{prefix}.fee"),
        F.col(f"{prefix}.tick_spacing").cast("int"),
        F.col(f"{prefix}.extension"),
    ).alias("pool_key_hash")


def _ts(col) -> object:
    """u64 epoch-seconds -> TimestampType (reference converts at
    insert, src/dao.ts:2370-2371)."""
    return F.timestamp_seconds(F.col(col).cast("long")) if isinstance(col, str) else F.timestamp_seconds(col.cast("long"))


def _sell_is_token0() -> object:
    """Canonical token order: compare addresses as fixed-width hex
    (variable-width hex strings don't sort numerically)."""
    return hex_normalize(F.col("order_key.sell_token"), 64) <= hex_normalize(
        F.col("order_key.buy_token"), 64
    )


def _order_pool_hash() -> object:
    """orderKeyToPoolKey (src/dao.ts:43-56): sorted tokens, order fee,
    MAX_TICK_SPACING sentinel, emitter as extension."""
    s0 = _sell_is_token0()
    return pool_key_hash(
        F.when(s0, F.col("order_key.sell_token")).otherwise(F.col("order_key.buy_token")),
        F.when(s0, F.col("order_key.buy_token")).otherwise(F.col("order_key.sell_token")),
        F.col("order_key.fee"),
        F.lit(MAX_TICK_SPACING),
        F.col("emitter"),
    ).alias("key_hash")


def _route_by_sell(value, out0: str, out1: str) -> list:
    """D15 delta routing (src/dao.ts:2333-2336, 2386-2389): the value
    lands in the SELL token's column, zero in the other."""
    s0 = _sell_is_token0()
    zero = F.lit(0).cast("decimal(38,0)")
    return [
        F.when(s0, value).otherwise(zero).alias(out0),
        F.when(s0, zero).otherwise(value).alias(out1),
    ]


def _bounds_cols(prefix: str) -> list:
    return [
        F.col(f"{prefix}.lower").cast("int").alias("lower_bound"),
        F.col(f"{prefix}.upper").cast("int").alias("upper_bound"),
    ]


def _position_key_cols() -> list:
    return [
        F.col("position_key.owner").alias("owner"),
        F.col("position_key.salt").alias("salt"),
        *_bounds_cols("position_key.bounds"),
    ]


# Stored-table projections: decoded struct -> the reference's flattened
# insert shape (src/dao.ts:1895-2893 flattens PoolKey/Bounds/Delta and
# derives synthetic pool keys at insert; views consume THIS shape).
# Key is the decoded event type, value is (stored_table_name,
# thunk -> [projection columns beyond the envelope]). Types without an
# entry are stored as decoded (reference side-tables for span columns —
# governor calls/results — live in the decoded form).
#
# Child-table mapping note: the reference normalizes governor proposal
# calls into governor_proposed_calls (one row per call, FK id,
# src/dao.ts:330-340) and execution results into
# governor_executed_results (src/dao.ts:368-374). Here both stay as
# ARRAY<STRUCT> columns on the parent rows: at 100 TB a child table
# forces a join + shuffle on every read, while Parquet stores the
# repeated group inline and Spark reads it with zero joins
# (explode() reproduces the child-table relation exactly when a
# per-call row set is needed: SELECT id, posexplode(calls)).
STORED_PROJECTIONS: dict[str, tuple[str, list]] = {
    "swapped": (
        "swaps",
        lambda: [
            F.col("locker"),
            _pk_hash(),
            F.col("delta.amount0").alias("delta0"),
            F.col("delta.amount1").alias("delta1"),
            F.col("sqrt_ratio_after"),
            F.col("tick_after").cast("int").alias("tick_after"),
            F.col("liquidity_after"),
        ],
    ),
    "position_updated": (
        "position_updates",
        lambda: [
            F.col("locker"),
            _pk_hash(),
            F.col("params.salt").alias("salt"),
            F.col("params.bounds.lower").cast("int").alias("lower_bound"),
            F.col("params.bounds.upper").cast("int").alias("upper_bound"),
            F.col("params.liquidity_delta").alias("liquidity_delta"),
            F.col("delta.amount0").alias("delta0"),
            F.col("delta.amount1").alias("delta1"),
        ],
    ),
    "pool_initialized": (
        "pool_initializations",
        lambda: [
            _pk_hash(),
            F.col("tick").cast("int").alias("tick"),
            F.col("sqrt_ratio"),
        ],
    ),
    "position_fees_collected": (
        "position_fees_collected",
        lambda: [
            _pk_hash(),
            *_position_key_cols(),
            F.col("delta.amount0").alias("delta0"),
            F.col("delta.amount1").alias("delta1"),
        ],
    ),
    "protocol_fees_paid": (
        "protocol_fees_paid",
        lambda: [
            _pk_hash(),
            *_position_key_cols(),
            F.col("delta.amount0").alias("delta0"),
            F.col("delta.amount1").alias("delta1"),
        ],
    ),
    "fees_accumulated": (
        "fees_accumulated",
        lambda: [_pk_hash(), F.col("amount0"), F.col("amount1")],
    ),
    "liquidity_updated": (
        "liquidity_updated",
        lambda: [
            _pk_hash(),
            F.col("sender"),
            F.col("liquidity_factor"),
            F.col("shares"),
            F.col("amount0"),
            F.col("amount1"),
            F.col("protocol_fees0"),
            F.col("protocol_fees1"),
        ],
    ),
    "staker_staked": (
        "staker_staked",
        lambda: [
            F.col("from").alias("from_address"),
            F.col("amount"),
            F.col("delegate"),
        ],
    ),
    "staker_withdrawn": (
        "staker_withdrawn",
        lambda: [
            F.col("from").alias("from_address"),
            F.col("amount"),
            F.col("to").alias("recipient"),
            F.col("delegate"),
        ],
    ),
    "position_minted_with_referrer": (
        "position_minted_with_referrer",
        lambda: [F.col("id").alias("token_id"), F.col("referrer")],
    ),
    "nft_transfer": (
        "position_transfers",
        lambda: [
            F.col("id").alias("token_id"),
            F.col("from").alias("from_address"),
            F.col("to").alias("to_address"),
        ],
    ),
    "token_registration": (
        "token_registrations",
        lambda: [
            F.col("address"),
            F.col("name"),
            F.col("symbol"),
            F.col("decimals"),
            F.col("total_supply"),
        ],
    ),
    "token_registration_v3": (
        "token_registrations_v3",
        lambda: [
            F.col("address"),
            F.col("name"),
            F.col("symbol"),
            F.col("decimals"),
            F.col("total_supply"),
        ],
    ),
    "twamm_order_updated": (
        "twamm_order_updates",
        lambda: [
            _order_pool_hash(),
            F.col("owner"),
            F.col("salt"),
            *_route_by_sell(
                F.col("sale_rate_delta"), "sale_rate_delta0", "sale_rate_delta1"
            ),
            _ts("order_key.start_time").alias("start_time"),
            _ts("order_key.end_time").alias("end_time"),
        ],
    ),
    "twamm_order_proceeds_withdrawn": (
        "twamm_proceeds_withdrawals",
        lambda: [
            _order_pool_hash(),
            F.col("owner"),
            F.col("salt"),
            *_route_by_sell(F.col("amount").cast("decimal(38,0)"), "amount0", "amount1"),
            _ts("order_key.start_time").alias("start_time"),
            _ts("order_key.end_time").alias("end_time"),
        ],
    ),
    "twamm_virtual_orders_executed": (
        "twamm_virtual_order_executions",
        lambda: [
            pool_key_hash(
                F.col("key.token0"),
                F.col("key.token1"),
                F.col("key.fee"),
                F.lit(MAX_TICK_SPACING),
                F.col("emitter"),
            ).alias("key_hash"),
            F.col("token0_sale_rate"),
            F.col("token1_sale_rate"),
            F.col("twamm_delta.amount0").alias("delta0"),
            F.col("twamm_delta.amount1").alias("delta1"),
        ],
    ),
    "oracle_snapshot": (
        "oracle_snapshots",
        lambda: [
            pool_key_hash(
                F.col("token0"),
                F.col("token1"),
                F.lit(0),
                F.lit(MAX_TICK_SPACING),
                F.col("emitter"),
            ).alias("key_hash"),
            F.col("token0"),
            F.col("token1"),
            F.col("index"),
            F.col("snapshot.block_timestamp").alias("snapshot_block_timestamp"),
            F.col("snapshot.tick_cumulative").alias("snapshot_tick_cumulative"),
        ],
    ),
    "limit_order_placed": (
        "limit_order_placed",
        lambda: [
            pool_key_hash(
                F.col("order_key.token0"),
                F.col("order_key.token1"),
                F.lit(0),
                F.lit(LIMIT_ORDER_TICK_SPACING),
                F.col("emitter"),
            ).alias("key_hash"),
            F.col("owner"),
            F.col("salt"),
            F.col("order_key.token0").alias("token0"),
            F.col("order_key.token1").alias("token1"),
            F.col("order_key.tick").cast("int").alias("tick"),
            F.col("liquidity"),
            F.col("amount"),
        ],
    ),
    "limit_order_closed": (
        "limit_order_closed",
        lambda: [
            pool_key_hash(
                F.col("order_key.token0"),
                F.col("order_key.token1"),
                F.lit(0),
                F.lit(LIMIT_ORDER_TICK_SPACING),
                F.col("emitter"),
            ).alias("key_hash"),
            F.col("owner"),
            F.col("salt"),
            F.col("order_key.token0").alias("token0"),
            F.col("order_key.token1").alias("token1"),
            F.col("order_key.tick").cast("int").alias("tick"),
            F.col("amount0"),
            F.col("amount1"),
        ],
    ),
    "governor_proposed": (
        "governor_proposed",
        lambda: [F.col("id"), F.col("proposer"), F.col("config_version")],
    ),
    "governor_described": (
        "governor_proposal_described",
        lambda: [
            F.col("id"),
            # null-char sanitization (D13, src/dao.ts:2703-2704)
            F.regexp_replace(F.col("description"), "\x00", "?").alias("description"),
        ],
    ),
    "governor_executed": ("governor_executed", lambda: [F.col("id")]),
    # threshold-breach rows share the canceled table (the breach
    # timestamp is decoded but not stored — reference parity,
    # src/eventProcessors.ts:377-378 / src/dao.ts:2655-2669)
    "governor_creation_threshold_breached": (
        "governor_canceled",
        lambda: [F.col("id")],
    ),
    "governor_reconfigured": (
        "governor_reconfigured",
        lambda: [
            F.col("version"),
            F.col("new_config.voting_start_delay").alias("voting_start_delay"),
            F.col("new_config.voting_period").alias("voting_period"),
            F.col("new_config.voting_weight_smoothing_duration").alias(
                "voting_weight_smoothing_duration"
            ),
            F.col("new_config.quorum").alias("quorum"),
            F.col("new_config.proposal_creation_threshold").alias(
                "proposal_creation_threshold"
            ),
            F.col("new_config.execution_delay").alias("execution_delay"),
            F.col("new_config.execution_window").alias("execution_window"),
        ],
    ),
}

_ENVELOPE = [
    "event_id",
    "transaction_hash",
    "block_number",
    "transaction_index",
    "event_index",
    "emitter",
    "block_bucket",
]


def to_stored(event_type: str, decoded: DataFrame) -> tuple[str, DataFrame]:
    """Map a decoded event DataFrame to its stored-table name + shape
    (flattened, view-ready). Falls through to the decoded shape for
    types without a projection."""
    proj = STORED_PROJECTIONS.get(event_type)
    if proj is None:
        return event_type, decoded
    table, cols = proj
    return table, decoded.select(*_ENVELOPE, *cols())


def _order_key_dim(decoded: DataFrame) -> DataFrame:
    s0 = _sell_is_token0()
    return decoded.select(
        F.when(s0, F.col("order_key.sell_token"))
        .otherwise(F.col("order_key.buy_token"))
        .alias("token0"),
        F.when(s0, F.col("order_key.buy_token"))
        .otherwise(F.col("order_key.sell_token"))
        .alias("token1"),
        F.col("order_key.fee").alias("fee"),
        F.lit(MAX_TICK_SPACING).alias("tick_spacing"),
        F.col("emitter").alias("extension"),
    )


def _sentinel_dim(t0: str, t1: str, fee: str | int, tick_spacing: int) -> object:
    def build(decoded: DataFrame) -> DataFrame:
        # literal fees MUST match the decoded u128 type: an int32
        # literal would write pool_keys parquet files whose fee column
        # physically conflicts with the decimal(38,0) other batches
        # write, corrupting the table for every later read
        fee_col = (F.col(fee) if isinstance(fee, str) else F.lit(fee)).cast(
            "decimal(38,0)"
        )
        return decoded.select(
            F.col(t0).alias("token0"),
            F.col(t1).alias("token1"),
            fee_col.alias("fee"),
            F.lit(tick_spacing).alias("tick_spacing"),
            F.col("emitter").alias("extension"),
        )

    return build


# Synthetic pool keys the reference upserts for TWAMM / oracle / limit
# order events (S9, src/dao.ts:2327-2331, 2744-2750, 2779-2785)
_DERIVED_POOL_KEYS: dict[str, object] = {
    "twamm_order_updated": _order_key_dim,
    "twamm_order_proceeds_withdrawn": _order_key_dim,
    "twamm_virtual_orders_executed": _sentinel_dim(
        "key.token0", "key.token1", "key.fee", MAX_TICK_SPACING
    ),
    "oracle_snapshot": _sentinel_dim("token0", "token1", 0, MAX_TICK_SPACING),
    "limit_order_placed": _sentinel_dim(
        "order_key.token0", "order_key.token1", 0, LIMIT_ORDER_TICK_SPACING
    ),
    "limit_order_closed": _sentinel_dim(
        "order_key.token0", "order_key.token1", 0, LIMIT_ORDER_TICK_SPACING
    ),
}


def _governor_calls(decoded: DataFrame) -> DataFrame:
    """Side table governor_proposed_calls (src/dao.ts:330-340): one row
    per call in the proposal's span, keyed by proposal id + index.
    Envelope block columns kept so reorg invalidation covers child
    tables too."""
    return decoded.select(
        F.col("id").alias("proposal_id"),
        "block_number",
        "block_bucket",
        F.posexplode("calls").alias("call_index", "call"),
    ).select(
        "proposal_id",
        "block_number",
        "block_bucket",
        "call_index",
        F.col("call.to").alias("to"),
        F.col("call.selector").alias("selector"),
        F.col("call.calldata").alias("calldata"),
    )


def _governor_results(decoded: DataFrame) -> DataFrame:
    """Side table governor_executed_results (src/dao.ts:360-374)."""
    return decoded.select(
        F.col("id").alias("proposal_id"),
        "block_number",
        "block_bucket",
        F.posexplode("result_data").alias("result_index", "results"),
    )


# Child tables for span-typed columns (reference stores them
# relationally, not as arrays-in-the-row)
SIDE_TABLES: dict[str, list[tuple[str, object]]] = {
    "governor_proposed": [("governor_proposed_calls", _governor_calls)],
    "governor_executed": [("governor_executed_results", _governor_results)],
}


def _family_write_dirs(event_type: str) -> set[str]:
    """Every table directory a family's ingest writes: its main stored
    table plus any side tables."""
    table = STORED_PROJECTIONS.get(event_type, (event_type, None))[0]
    return {table} | {name for name, _ in SIDE_TABLES.get(event_type, ())}


def _family_concurrency_groups() -> dict[str, str]:
    """event_type -> concurrency-group key, where two families share a
    group iff they (transitively) write ANY common table directory —
    main stored table OR side table. Families in different groups run
    concurrently; same-group families run sequentially, because two
    concurrent parquet appends under one directory clobber each
    other's ``_temporary/0`` committer dir. Keying only on the main
    table would silently break the day a side table is shared across
    two families, so the union is over the FULL write set."""
    parent: dict[str, str] = {et: et for et in EVENT_SELECTORS}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    dir_owner: dict[str, str] = {}
    for et in EVENT_SELECTORS:
        for d in _family_write_dirs(et):
            if d in dir_owner:
                parent[find(et)] = find(dir_owner[d])
            else:
                dir_owner[d] = et
    return {et: find(et) for et in EVENT_SELECTORS}


def _table_dir(tables_dir: str, name: str) -> str:
    return os.path.join(tables_dir, name)


def _envelope_cols(df: DataFrame) -> list:
    return [
        event_id_column(),
        F.col("transaction_hash"),
        F.col("block_number"),
        F.col("transaction_index").cast("short").alias("transaction_index"),
        F.col("event_index").cast("short").alias("event_index"),
        F.col("emitter"),
        (F.col("block_number") / BLOCK_BUCKET_SIZE).cast("int").alias("block_bucket"),
    ]


def ingest_batch(
    spark: SparkSession,
    raw: DataFrame,
    tables_dir: str,
    write_root: str | None = None,
) -> dict[str, int]:
    """Decode and append one batch of raw messages. Returns rows
    appended per table. Idempotence contract: the caller replays whole
    blocks only after invalidating them (reference does the same:
    deleteOldBlockNumbers before re-insert, src/index.ts:202-206).

    ``write_root`` redirects every file WRITE to a staging root with
    the live table layout while all idempotence reads (blocks
    anti-join, pool_keys upsert) still consult ``tables_dir`` — the
    prepare phase of the two-phase commit in ``ingest_micro_batch``.
    Default (None) writes straight to the live tables."""
    os.makedirs(tables_dir, exist_ok=True)
    if write_root is None:
        write_root = tables_dir
    counts: dict[str, int] = {}

    # One physical read of the micro-batch: the per-family loop below
    # filters `raw` once per event selector (~20x) and the blocks
    # dimension reads it twice more — persisting turns those into
    # in-memory scans of one materialization. A micro-batch is bounded
    # by the trigger size, so MEMORY_AND_DISK never pressures executors
    # at scale. (Caching a foreachBatch DataFrame is the documented
    # Structured Streaming pattern for multi-sink fan-out.)
    raw = raw.persist()
    #: per-family decoded caches, released after the pool-key upsert
    cached_families: list[DataFrame] = []
    try:

        blocks = (
            raw.select(
                F.col("block_number").alias("number"),
                F.col("block_hash").alias("hash"),
                F.col("block_time").alias("time"),
            )
            .dropDuplicates(["number"])
            .withColumn("block_bucket", (F.col("number") / BLOCK_BUCKET_SIZE).cast("int"))
        )
        # Idempotent block insert: a streaming micro-batch boundary can land
        # mid-block (two events of one block split across batches), so the
        # same block row may arrive twice. Anti-join against the existing
        # dimension, pruned to the buckets this batch touches — at 100 TB the
        # scan reads only the boundary buckets, never the whole table.
        blocks_path = _table_dir(tables_dir, "blocks")
        if os.path.exists(blocks_path):
            batch_buckets = [
                r["block_bucket"] for r in blocks.select("block_bucket").distinct().collect()
            ]
            existing = (
                spark.read.parquet(blocks_path)
                .filter(F.col("block_bucket").isin(batch_buckets))
                .select("number")
            )
            blocks = blocks.join(F.broadcast(existing), "number", "left_anti")
        blocks = blocks.cache()
        counts["blocks"] = blocks.count()
        if counts["blocks"] > 0:
            blocks.repartition("block_bucket").write.mode("append").partitionBy(
                "block_bucket"
            ).parquet(_table_dir(write_root, "blocks"))
        blocks.unpersist()

        # One aggregation tells us which of the ~20 event families this
        # batch actually contains, so absent families cost zero Spark jobs
        # (a real block stream carries 2-5 families per batch; paying a
        # filter+decode+count job for each of the other 15 dominated
        # small-batch ingest latency). Control-plane collect: one row per
        # distinct selector, bounded by len(EVENT_SELECTORS).
        present = {
            r["sel"]
            for r in raw.select(F.get("keys", 0).alias("sel")).distinct().collect()
        }

        def ingest_family(
            event_type: str, selector: str
        ) -> tuple[dict[str, int], list[DataFrame]]:
            """Decode + append one event family; returns its per-table
            counts and any pool-key dimension batches. Pure fan-out:
            each family writes its OWN table directories, so families
            are independent and safe to run concurrently."""
            family_counts: dict[str, int] = {}
            family_pool_keys: list[DataFrame] = []
            filtered = raw.filter(F.get("keys", 0) == selector)
            decoded = decode_events(
                filtered.select(*_envelope_cols(filtered), F.col("data")), event_type
            )
            # cache the decoded family (r12): the count below, the
            # stored-table write, the side-table builds, and the
            # pool-key upsert would otherwise each run the full
            # felt-parse expression chain over the persisted raw rows —
            # decode is the CPU-heavy half of ingest, and a family is
            # micro-batch-bounded, so MEMORY_AND_DISK is safe at scale
            # (same argument as the raw.persist above). Released in the
            # batch-level finally after the pool-key upsert consumed it.
            decoded = decoded.persist()
            cached_families.append(decoded)
            n = decoded.count()
            if n == 0:
                return family_counts, family_pool_keys
            # dimension extraction reads the nested struct BEFORE the
            # stored-shape projection flattens it away
            pk_field = _POOL_KEY_BEARING.get(event_type)
            if pk_field:
                family_pool_keys.append(
                    decoded.select(
                        F.col(f"{pk_field}.token0").alias("token0"),
                        F.col(f"{pk_field}.token1").alias("token1"),
                        F.col(f"{pk_field}.fee").alias("fee"),
                        F.col(f"{pk_field}.tick_spacing").cast("int").alias("tick_spacing"),
                        F.col(f"{pk_field}.extension").alias("extension"),
                    )
                )
            derived = _DERIVED_POOL_KEYS.get(event_type)
            if derived:
                family_pool_keys.append(derived(decoded))
            table, stored = to_stored(event_type, decoded)
            # Cluster on the partition column before the dynamic-partition
            # write: without it every task emits a file into every bucket
            # it touches (tasks x buckets small files per batch); with it
            # each bucket gets one file and the downstream block-range
            # scans read large sequential row groups. The extra exchange
            # moves only this family's already-filtered rows.
            stored.repartition("block_bucket").write.mode("append").partitionBy(
                "block_bucket"
            ).parquet(_table_dir(write_root, table))
            family_counts[table] = n
            for side_name, builder in SIDE_TABLES.get(event_type, ()):
                side = builder(decoded)
                # count once (off the cached family) and reuse it as
                # both the emptiness gate and the reported count — the
                # former isEmpty + write + count ran the builder 3x (r12)
                n_side = side.count()
                if n_side > 0:
                    side.repartition("block_bucket").write.mode("append").partitionBy(
                        "block_bucket"
                    ).parquet(_table_dir(write_root, side_name))
                    family_counts[side_name] = n_side
            return family_counts, family_pool_keys

        # Families write disjoint table directories, so their decode->
        # count->write job chains run CONCURRENTLY: Spark's scheduler
        # interleaves the jobs across executor threads (multi-threaded
        # job submission is the documented multi-sink fan-out pattern),
        # collapsing ~2 sequential driver round-trips per family into
        # one pool-wide wave. Measured ~20-25% lower micro-batch
        # latency on local[32] at 2 concurrent families; the win grows
        # with family count since whole job chains overlap (big
        # single-family batches are write-bound and unaffected).
        # Two families CAN share a stored table (creation-threshold-
        # breach rows land in governor_canceled): their appends must
        # stay sequential — concurrent writers clobber each other's
        # _temporary committer dir under the shared path. Group by the
        # FULL write set (main table + side tables, transitively via
        # _family_concurrency_groups): groups touch disjoint
        # directories, so groups run concurrently while families that
        # share any directory run in order.
        group_key = _family_concurrency_groups()
        groups: dict[str, list[tuple[str, str]]] = {}
        for event_type, selector in EVENT_SELECTORS.items():
            if selector not in present:
                continue
            groups.setdefault(group_key[event_type], []).append((event_type, selector))

        def ingest_group(
            fams: list[tuple[str, str]]
        ) -> tuple[dict[str, int], list[DataFrame]]:
            gc: dict[str, int] = {}
            gp: list[DataFrame] = []
            for event_type, selector in fams:
                fc, fp = ingest_family(event_type, selector)
                for table, n in fc.items():
                    gc[table] = gc.get(table, 0) + n
                gp.extend(fp)
            return gc, gp

        pool_key_batches: list[DataFrame] = []
        todo = list(groups.values())
        if len(todo) <= 1:
            results = [ingest_group(t) for t in todo]
        else:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(
                max_workers=min(INGEST_FAMILY_PARALLELISM, len(todo))
            ) as pool:
                results = list(pool.map(ingest_group, todo))
        for family_counts, family_pool_keys in results:
            for table, n in family_counts.items():
                counts[table] = counts.get(table, 0) + n
            pool_key_batches.extend(family_pool_keys)

        if pool_key_batches:
            upsert_pool_keys(spark, pool_key_batches, tables_dir, write_dir=write_root)
    finally:
        # release even when a per-family decode/write throws —
        # a long-lived streaming session must not accumulate
        # pinned micro-batches across failed batches
        for df in cached_families:
            df.unpersist()
        raw.unpersist()
    return counts


def upsert_pool_keys(
    spark: SparkSession,
    batches: list[DataFrame],
    tables_dir: str,
    write_dir: str | None = None,
) -> None:
    """Dimension upsert (S8): INSERT ... ON CONFLICT DO NOTHING becomes
    dedupe + anti-join against the existing dimension + append. The
    dimension is tiny relative to facts, so the anti-join broadcasts.
    ``write_dir`` stages the append under a different root (2PC
    prepare) while the anti-join still reads the live dimension."""
    new_keys = batches[0]
    for b in batches[1:]:
        new_keys = new_keys.unionByName(b)
    new_keys = new_keys.dropDuplicates(
        ["token0", "token1", "fee", "tick_spacing", "extension"]
    ).withColumn(
        "key_hash",
        pool_key_hash(
            F.col("token0"), F.col("token1"), F.col("fee"),
            F.col("tick_spacing"), F.col("extension"),
        ),
    )
    path = _table_dir(tables_dir, "pool_keys")
    if os.path.exists(path):
        existing = spark.read.parquet(path).select("key_hash")
        new_keys = new_keys.join(F.broadcast(existing), "key_hash", "left_anti")
    if new_keys.count() > 0:
        new_keys.select(
            "key_hash", "token0", "token1", "fee", "tick_spacing", "extension"
        ).write.mode("append").parquet(
            path if write_dir is None else _table_dir(write_dir, "pool_keys")
        )


def twamm_order_key_to_pool_key(df: DataFrame) -> DataFrame:
    """Derived-key normalization (S9, src/dao.ts:40-56): a TWAMM order
    key (sell_token, buy_token, fee) maps to the canonical pool key.
    Token order compares fixed-width hex (plain least/greatest on
    variable-width hex strings sorts lexicographically, not
    numerically)."""
    return _order_key_dim(df)


# ---------------------------------------------------------------------------
# Cursor (S3)
# ---------------------------------------------------------------------------


def write_cursor(tables_dir: str, block_number: int) -> None:
    with open(os.path.join(tables_dir, "_cursor.json"), "w") as f:
        json.dump({"block_number": block_number, "written_at": time.time()}, f)


def read_cursor(tables_dir: str) -> int | None:
    p = os.path.join(tables_dir, "_cursor.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)["block_number"]


# ---------------------------------------------------------------------------
# Reorg retraction (S4/S5)
# ---------------------------------------------------------------------------


def recover_invalidation_staging(tables_dir: str) -> list[str]:
    """Crash recovery for ``invalidate_from_block``: if a prior run
    died after deleting a boundary bucket but before swapping its
    staged survivors back in, the survivors sit orphaned in a
    ``._invalidate_<table>_b<bucket>`` dir and the table silently
    misses them. Restore each orphan whose boundary bucket is absent
    (the staging dir is then the only copy); drop staging dirs whose
    boundary bucket still exists (the bucket is the authoritative
    superset — the crash happened before any delete). Returns the
    paths restored. Called on entry to every invalidation."""
    restored: list[str] = []
    for entry in os.listdir(tables_dir):
        if not entry.startswith("._invalidate_"):
            continue
        stem = entry[len("._invalidate_"):]
        table, _, bucket = stem.rpartition("_b")
        staging = os.path.join(tables_dir, entry)
        if not table or not bucket.isdigit():
            continue
        boundary_dir = os.path.join(
            tables_dir, table, f"block_bucket={bucket}"
        )
        if os.path.isdir(boundary_dir):
            shutil.rmtree(staging, ignore_errors=True)
        else:
            os.replace(staging, boundary_dir)
            restored.append(boundary_dir)
    return restored


def invalidate_from_block(spark: SparkSession, tables_dir: str, block_number: int) -> None:
    """Delete every row with block >= block_number across all tables —
    the explicit fan-out replacing the reference's FK CASCADE
    (src/dao.ts:2306-2321). Parquet path: only buckets >=
    block_number // BLOCK_BUCKET_SIZE are touched; surviving rows of
    the boundary bucket are rewritten, later buckets dropped whole.
    At 100 TB this rewrites at most one bucket of data per table."""
    recover_invalidation_staging(tables_dir)
    boundary_bucket = block_number // BLOCK_BUCKET_SIZE
    for name in os.listdir(tables_dir):
        path = os.path.join(tables_dir, name)
        if not os.path.isdir(path):
            continue
        block_col = "number" if name == "blocks" else "block_number"
        buckets = [
            d
            for d in os.listdir(path)
            if d.startswith("block_bucket=")
            and int(d.split("=")[1]) >= boundary_bucket
        ]
        if not buckets:
            continue
        boundary_dir = os.path.join(path, f"block_bucket={boundary_bucket}")
        # durability order: materialize the boundary bucket's
        # survivors to a staging dir OUTSIDE the table BEFORE deleting
        # anything — a cached DataFrame is only a recompute plan over
        # the source files, and deleting those first would make any
        # cache loss between delete and rewrite unrecoverable
        staging = None
        if os.path.isdir(boundary_dir):
            staging = os.path.join(
                tables_dir, f"._invalidate_{name}_b{boundary_bucket}"
            )
            shutil.rmtree(staging, ignore_errors=True)
            spark.read.parquet(boundary_dir).filter(
                F.col(block_col) < block_number
            ).write.mode("overwrite").parquet(staging)
        for d in buckets:
            shutil.rmtree(os.path.join(path, d))
        if staging is not None:
            # a zero-row write still emits a schema-only part file, so
            # check actual rows, not file presence
            has_rows = spark.read.parquet(staging).limit(1).count() > 0
            if has_rows:
                os.replace(staging, boundary_dir)
            else:
                shutil.rmtree(staging, ignore_errors=True)
    write_cursor(tables_dir, block_number - 1)


# ---------------------------------------------------------------------------
# Structured Streaming (S1 streaming variant)
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# Two-phase commit for multi-table fact appends (S7 atomicity)
# ---------------------------------------------------------------------------
#
# A micro-batch appends to MANY table directories (facts, side tables,
# blocks, pool_keys). Plain parquet appends are not transactional: a
# crash mid-ingest used to leave some tables holding the batch's rows
# with no epoch marker, so the at-least-once replay double-appended the
# already-written tables. The fix is a roll-forward transaction:
#
#   1. PREPARE  — ingest_batch writes every file under
#                 tables_dir/_txn/<ns>/<epoch>/ with the live layout
#                 (idempotence reads still hit the live tables);
#   2. COMMIT   — one atomic os.replace publishes MANIFEST.json
#                 (file list + per-table counts + cursor hi);
#   3. PUBLISH  — each staged file is renamed into its live table dir
#                 under a DETERMINISTIC name (txn-<epoch>-<relpath
#                 hash>), so a replayed publish skips files already
#                 moved — per-file renames are atomic, determinism
#                 makes the whole publish idempotent;
#   4. the epoch marker is written, then the txn dir is removed.
#
# Replay semantics: no manifest -> the live tables were never touched,
# delete the partial stage and re-prepare; manifest present -> the
# transaction is committed, roll FORWARD (never re-run Spark jobs) and
# take counts/cursor from the manifest. The txn dir outlives the
# publish until the epoch marker lands, so no crash point can lose or
# duplicate rows. This closes the crash-mid-apply window that the
# epoch marker alone could not (the "table-format transactionality"
# caveat the marker docstring used to carry).


def _txn_dir(tables_dir: str, marker_ns: str | None, epoch_id: int) -> str:
    return os.path.join(
        tables_dir, "_txn", marker_ns or "default", str(epoch_id)
    )


def _txn_manifest_path(txn_dir: str) -> str:
    return os.path.join(txn_dir, "MANIFEST.json")


def _stage_files(txn_dir: str) -> list[str]:
    """Relative paths of every staged parquet file (commit-log entries;
    _SUCCESS and committer temp files are not data)."""
    out: list[str] = []
    for root, _dirs, files in os.walk(txn_dir):
        for fname in files:
            if fname.endswith(".parquet") and not fname.startswith((".", "_")):
                out.append(
                    os.path.relpath(os.path.join(root, fname), txn_dir)
                )
    return sorted(out)


def commit_txn(
    txn_dir: str, counts: dict[str, int], cursor_hi: int | None
) -> None:
    """The commit point: stage a manifest JSON, then one os.replace.

    The tmp file is fsync'd before the rename (plus a best-effort
    directory fsync after): without it a power loss can journal the
    rename while losing the file data, leaving a DURABLE empty manifest
    — which must read as corruption, never as "no commit reached",
    because the replay's no-manifest branch rmtree's the stage and
    re-runs ingest on top of files publish_txn may already have moved
    (a double-append). Mirrors state_table.commit_generation's CURRENT
    pointer discipline."""
    tmp = _txn_manifest_path(txn_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(
            {"files": _stage_files(txn_dir), "counts": counts, "hi": cursor_hi},
            f,
        )
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, _txn_manifest_path(txn_dir))
    try:
        dfd = os.open(txn_dir, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
    except OSError:
        pass  # directory fsync is best-effort on non-POSIX stores


class CorruptTxnManifest(RuntimeError):
    """A MANIFEST.json exists but cannot be parsed. The transaction MAY
    have published files into the live tables, so neither roll-forward
    nor re-prepare is safe automatically — operator intervention
    required (same policy as state_table's corrupt CURRENT pointer)."""


def load_txn_manifest(txn_dir: str) -> dict | None:
    """None = no commit reached (manifest absent); corrupt = fatal."""
    path = _txn_manifest_path(txn_dir)
    try:
        with open(path) as f:
            raw = f.read()
    except FileNotFoundError:
        return None
    try:
        man = json.loads(raw)
        if not isinstance(man, dict) or "files" not in man:
            raise ValueError("manifest missing 'files'")
        return man
    except ValueError as exc:
        raise CorruptTxnManifest(
            f"unparseable transaction manifest at {path}: {exc}; "
            "the commit point WAS reached — inspect the stage and live "
            "tables before resuming (do not delete the txn dir blindly)"
        ) from exc


def publish_txn(tables_dir: str, txn_dir: str, manifest: dict) -> None:
    """Roll the committed transaction into the live tables. Idempotent:
    deterministic target names let a replayed publish skip files a
    previous attempt already moved."""
    epoch_tag = os.path.basename(txn_dir)
    ns_tag = os.path.basename(os.path.dirname(txn_dir))
    for rel in manifest["files"]:
        subdir = os.path.dirname(rel)
        h = hashlib.md5(rel.encode()).hexdigest()[:16]
        tgt_dir = os.path.join(tables_dir, subdir)
        tgt = os.path.join(tgt_dir, f"txn-{ns_tag}-{epoch_tag}-{h}.parquet")
        if os.path.exists(tgt):
            continue
        src_path = os.path.join(txn_dir, rel)
        os.makedirs(tgt_dir, exist_ok=True)
        os.replace(src_path, tgt)


def _prune_txn_dirs(tables_dir: str, marker_ns: str | None, epoch_id: int) -> None:
    """Remove leftover txn dirs of OTHER epochs in this namespace whose
    epoch marker already landed (crash between marker write and the
    txn-dir cleanup, with the checkpoint commit then succeeding so the
    epoch never replays). One listdir; no-op in the common case."""
    ns_root = os.path.join(tables_dir, "_txn", marker_ns or "default")
    try:
        entries = os.listdir(ns_root)
    except OSError:
        return
    for entry in entries:
        if not entry.isdigit() or int(entry) == epoch_id:
            continue
        marker = os.path.join(
            tables_dir, "_applied_epochs", marker_ns or "default", entry
        )
        # marker present: published + marked, only cleanup was missed.
        # Epoch far below the marker-pruning horizon: its marker may
        # have been pruned before we got here, and replay can never
        # reach back that far — reclaim either way (otherwise a
        # staged copy of a whole batch leaks forever).
        if os.path.exists(marker) or int(entry) < epoch_id - _EPOCH_MARKER_TAIL:
            shutil.rmtree(os.path.join(ns_root, entry), ignore_errors=True)


def checkpoint_query_id(checkpoint_dir: str) -> str | None:
    """The streaming query id persisted in the checkpoint's metadata
    file — stable across restarts of the SAME checkpoint, regenerated
    when the checkpoint is cleared. Epoch markers must be namespaced
    by it: epoch ids restart at 0 for a fresh checkpointLocation, so
    un-namespaced markers from a previous run would silently skip
    every batch of a recovered stream."""
    try:
        with open(os.path.join(checkpoint_dir, "metadata")) as f:
            return json.load(f)["id"]
    except (OSError, KeyError, ValueError):
        return None


def checkpoint_marker_ns(checkpoint_dir: str) -> str:
    """Marker namespace for a streaming checkpoint: its query id, or —
    when the metadata file is unreadable — a hash of the checkpoint
    PATH. Never a shared constant: epoch ids restart at 0 for a fresh
    checkpointLocation, so a constant fallback reused across
    checkpoint generations would let stale markers silently skip live
    batches (the bug query-id namespacing was introduced to fix)."""
    qid = checkpoint_query_id(checkpoint_dir)
    if qid is not None:
        return qid
    digest = hashlib.sha256(
        os.path.abspath(checkpoint_dir).encode()
    ).hexdigest()[:16]
    return f"ckpt-{digest}"


# --- last-applied-tick manifest: cross-trigger-boundary marker safety --
#
# The file source admits feed files in mtime-ASCENDING order, so a
# finite maxFilesPerTrigger can split an mtime-TIE group across two
# micro-batches: on a coarse-mtime store a new-chain data file written
# just AFTER its invalidate marker (same timestamp tick) may be
# admitted into trigger N while the marker lands in trigger N+1 —
# trigger N ingests the new-chain rows, trigger N+1's invalidation
# deletes them, and the already-consumed feed files never replay:
# silent data loss. Within ONE batch _apply_marker_batch already
# orders same-tick data AFTER its marker; this manifest extends that
# exact rule across batch boundaries: each batch records the file set
# at its maximum applied data tick, and a later marker whose mtime
# EQUALS that tick re-ingests those files (from the feed dir, by
# recorded path) after its invalidation — the final state is
# identical to the co-batched case, making trigger boundaries
# semantically invisible. Re-ingest is replay-safe: it sits between
# the invalidation and the epoch marker, so a crash anywhere replays
# the whole idempotent sequence.


def _tick_manifest_path(tables_dir: str, marker_ns: str | None) -> str:
    return os.path.join(
        tables_dir, "_applied_epochs", marker_ns or "default", "last_tick.json"
    )


def _load_tick_manifest(path: str):
    """(tick datetime | None, file set) from the manifest, tolerant of
    absence/corruption (absence just disables the tie repair)."""
    import datetime as _dt

    try:
        with open(path) as f:
            d = json.load(f)
        return _dt.datetime.fromisoformat(d["mt"]), set(d["files"])
    except (OSError, ValueError, KeyError, TypeError):
        return None, set()


def _write_tick_manifest(path: str, mt, files: set[str]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"mt": mt.isoformat(), "files": sorted(files)}, f)
    os.replace(tmp, path)  # atomic: readers never see a torn manifest


def _update_tick_manifest(path: str, per_file) -> None:
    """Fold a batch's applied data files into the manifest: replace on
    a newer tick, UNION on the same tick (consecutive batches can both
    carry files of one tick), never regress. Idempotent under epoch
    replay (same rows -> same manifest)."""
    ticks = [r["mt"] for r in per_file if r["n_data"]]
    if not ticks:
        return
    new_mt = max(ticks)
    files = {r["__fp"] for r in per_file if r["n_data"] and r["mt"] == new_mt}
    old_mt, old_files = _load_tick_manifest(path)
    if old_mt is not None:
        if old_mt > new_mt:
            return
        if old_mt == new_mt:
            files |= old_files
    _write_tick_manifest(path, new_mt, files)


def ingest_micro_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    tables_dir: str,
    epoch_id: int | None = None,
    marker_ns: str | None = None,
) -> dict[str, int] | None:
    """The shared foreachBatch body (used by ``stream_ingest`` AND the
    daemon — one copy of the per-batch semantics): drop pending rows,
    skip a fully-applied epoch on at-least-once redelivery, ingest,
    advance the cursor, then mark the epoch applied.

    Fact tables are plain parquet appends, so WITHOUT the epoch marker
    a redelivered batch would double-append every fact row (blocks and
    pool_keys alone are anti-join-guarded). The marker closes the
    common replay case — checkpoint commit failed after a successful
    apply. The crash-MID-apply window is closed on the fast path by
    the two-phase commit above (stage under _txn, atomic manifest,
    deterministic roll-forward publish); the marker-batch path keeps
    the documented one-batch window, bounded by
    DEFAULT_MAX_FILES_PER_TRIGGER.

    In-band reorg handling (reference: the stream's `invalidate`
    message, src/index.ts:162-184 — delete blocks above the
    invalidated cursor, write the cursor back, keep consuming): a feed
    row with ``keys = ["invalidate"]`` and ``block_number`` = the last
    VALID block triggers ``invalidate_from_block(block_number + 1)``
    BEFORE the batch's data rows are applied. Multiple invalidates in
    one batch collapse to the deepest. Feed contract: the writer rolls
    a new feed file at a reorg boundary, so old-chain rows for the
    invalidated range are never co-batched with (or after) their own
    invalidate marker — the same strict message ordering the
    reference's gRPC stream guarantees.

    Returns per-table counts, or None if the batch was skipped."""
    marker = None
    if epoch_id is not None:
        # epoch ids restart at 0 for a fresh checkpointLocation, so a
        # namespace shared across checkpoint generations would
        # resurrect the stale-marker silent-batch-skip bug the
        # namespacing exists to prevent — streaming callers derive a
        # checkpoint-scoped fallback (see stream_ingest); "default" is
        # only reachable for direct batch callers with no checkpoint.
        marker = os.path.join(
            tables_dir, "_applied_epochs", marker_ns or "default", str(epoch_id)
        )
        if os.path.exists(marker):
            return None
    if os.path.isdir(tables_dir):
        # a crash mid-invalidation must not leave survivors orphaned
        # until the NEXT reorg happens to arrive — repair on every
        # batch entry (one listdir; no-op in the common case)
        recover_invalidation_staging(tables_dir)
    # empty-keys rows must not evaluate to NULL here (a NULL predicate
    # would silently drop them from `final`)
    is_invalidate = F.coalesce(
        F.get("keys", 0) == "invalidate", F.lit(False)
    )
    is_data = (~is_invalidate) & (
        F.coalesce(F.col("finality"), F.lit("accepted")) != "pending"
    )
    # ONE driver round-trip for the batch's control stats. With feed
    # provenance the aggregation is per-file (it feeds the marker
    # segmentation AND the last-tick manifest); the globals derive
    # driver-side from the tiny per-file rows (<= maxFilesPerTrigger).
    per_file = None
    if FEED_FILE_COL in batch_df.columns:
        per_file = (
            batch_df.groupBy(F.col(FEED_FILE_COL).alias("__fp"))
            .agg(
                F.max(F.col(FEED_MTIME_COL)).alias("mt"),
                F.min(F.when(is_invalidate, F.col("block_number"))).alias("inv"),
                F.count(F.when(is_data, F.lit(1))).alias("n_data"),
                F.max(F.when(is_data, F.col("block_number"))).alias("hi"),
            )
            .collect()
        )
        invs = [r["inv"] for r in per_file if r["inv"] is not None]
        his = [r["hi"] for r in per_file if r["hi"] is not None]
        inv_point = min(invs) if invs else None
        hi = max(his) if his else None
        n_data = sum(r["n_data"] for r in per_file)
    else:
        stats = batch_df.agg(
            F.min(F.when(is_invalidate, F.col("block_number"))).alias("inv"),
            F.max(F.when(is_data, F.col("block_number"))).alias("hi"),
            F.count(F.when(is_data, F.lit(1))).alias("n_data"),
        ).collect()[0]
        inv_point, hi, n_data = stats["inv"], stats["hi"], stats["n_data"]
    if inv_point is None and n_data == 0:
        return None
    manifest_path = _tick_manifest_path(tables_dir, marker_ns)
    txn = None
    if inv_point is None:
        # fast path (the overwhelmingly common batch): no control
        # messages, one ingest + cursor advance (provenance columns,
        # if the stream reader attached them, are not stored)
        data = batch_df.filter(is_data).drop(FEED_FILE_COL, FEED_MTIME_COL)
        if epoch_id is not None:
            # two-phase commit: prepare under _txn, publish after the
            # atomic manifest write (see the txn helpers above). A
            # replayed epoch whose previous attempt crashed mid-apply
            # rolls FORWARD from the manifest instead of re-running the
            # ingest against half-updated tables.
            txn = _txn_dir(tables_dir, marker_ns, epoch_id)
            _prune_txn_dirs(tables_dir, marker_ns, epoch_id)
            man = load_txn_manifest(txn)
            if man is None:
                # no commit point reached: the live tables are
                # untouched; drop any partial stage and re-prepare
                shutil.rmtree(txn, ignore_errors=True)
                counts = ingest_batch(spark, data, tables_dir, write_root=txn)
                commit_txn(txn, counts, int(hi) if hi is not None else None)
                man = load_txn_manifest(txn)
            else:
                counts = {k: int(v) for k, v in man["counts"].items()}
                hi = man["hi"]
            publish_txn(tables_dir, txn, man)
        else:
            counts = ingest_batch(spark, data, tables_dir)
        if hi is not None:
            write_cursor(tables_dir, int(hi))
        if per_file is not None:
            _update_tick_manifest(manifest_path, per_file)
    else:
        # marker batch: apply file-ordered segments so a multi-file
        # micro-batch with data on BOTH sides of an invalidate marker
        # replays the exact message order (see _apply_marker_batch)
        counts = _apply_marker_batch(
            spark, batch_df, tables_dir, is_invalidate, is_data,
            int(inv_point), int(n_data),
            per_file=per_file, manifest_path=manifest_path,
        )
    if marker is not None:
        os.makedirs(os.path.dirname(marker), exist_ok=True)
        with open(marker, "w") as f:
            f.write("applied")
        _prune_epoch_markers(os.path.dirname(marker), epoch_id)
    if txn is not None:
        # only after the marker lands: the manifest must survive every
        # crash point before it so replay can still roll forward
        shutil.rmtree(txn, ignore_errors=True)
    # counts == {} for an invalidate-only batch (NOT None) so the
    # daemon still refreshes its views off the truncated tables
    # instead of treating the batch as a no-op
    return counts


def _apply_marker_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    tables_dir: str,
    is_invalidate: Column,
    is_data: Column,
    inv_point: int,
    n_data: int,
    per_file: list | None = None,
    manifest_path: str | None = None,
) -> dict[str, int]:
    """Apply a micro-batch that contains invalidate marker(s), honoring
    in-feed message order even when the file source co-batched many
    feed files (``maxFilesPerTrigger`` unset — backlog catch-up).

    Order reconstruction: the file streaming source admits files in
    modification-time order, and the feed contract says the writer
    rolls a new file at every reorg boundary — so segmenting the
    batch's data rows by marker mtimes replays the original message
    sequence: [old-chain files] [marker file] [new-chain files]. Each
    marker applies BEFORE any data that follows it and AFTER the data
    segment before it, exactly as the reference consumes its ordered
    gRPC stream (src/index.ts:162-184).

    Mtime TIES carry no order (part-file names are random): a data
    file sharing a marker's exact mtime tick is deliberately placed
    AFTER that marker. For post-reorg data that is the correct order;
    for pre-reorg data it degrades to the pre-segmentation semantics
    (stale rows that the next invalidation sweeps) — never the
    reverse error of ingesting new-chain data and then deleting it.
    Among same-tick markers the deepest applies last so the cursor
    lands at the deepest point. The same tie rule holds ACROSS
    micro-batch boundaries (a finite maxFilesPerTrigger can admit a
    same-tick data file one trigger before its marker): the last-tick
    manifest re-ingests the earlier batch's same-tick files after
    the marker's invalidation — see the manifest block above
    ingest_micro_batch. Coarse-mtime object stores should still keep
    feed files >= one timestamp tick apart at reorg boundaries when
    possible (local/HDFS mtimes are ns-resolution — a non-issue
    there); the manifest makes the tie safe, not free.

    Segments are selected by mtime RANGE predicates, never by file
    path lists — a marker late in a 10^5-file backlog must not embed
    10^5 path literals into one Catalyst In() expression.

    The cursor replays sequentially too: a data segment sets it to the
    segment's max finalized block, a marker resets it to the last
    valid block; the final value is written once at the end (only if
    the tables root exists — a marker-only first batch has nothing to
    anchor a cursor to).

    File provenance comes from the FEED_FILE_COL / FEED_MTIME_COL
    columns ``read_feed_stream`` attaches in the stream plan (the
    hidden ``_metadata`` struct does not survive into foreachBatch).
    Falls back to the whole-batch path (deepest invalidation first,
    then all data — the pre-segmentation semantics, correct whenever
    no old-chain data co-batches with its own marker) when the batch
    has no provenance columns (constructed DataFrames in direct batch
    calls)."""
    if FEED_FILE_COL in batch_df.columns:
        meta = batch_df.select(
            "*",
            F.col(FEED_FILE_COL).alias("__fp"),
            F.col(FEED_MTIME_COL).alias("__mt"),
        ).drop(FEED_FILE_COL, FEED_MTIME_COL)
    else:
        meta = None
    if meta is None:
        if os.path.isdir(tables_dir):
            invalidate_from_block(spark, tables_dir, inv_point + 1)
        if n_data == 0:
            return {}
        data = batch_df.filter(is_data)
        counts = ingest_batch(spark, data, tables_dir)
        hi = data.agg(F.max("block_number")).collect()[0][0]
        if hi is not None:
            write_cursor(tables_dir, int(hi))
        return counts or {}

    if per_file is None:
        per_file = (
            meta.groupBy("__fp")
            .agg(
                F.max("__mt").alias("mt"),
                F.min(F.when(is_invalidate, F.col("block_number"))).alias("inv"),
                F.count(F.when(is_data, F.lit(1))).alias("n_data"),
                F.max(F.when(is_data, F.col("block_number"))).alias("hi"),
            )
            .collect()
        )
    # markers by (mt, -inv): data at a marker's exact tick segments
    # AFTER it (see docstring); among same-tick markers the deepest
    # applies last
    markers = sorted(
        ((r["mt"], int(r["inv"])) for r in per_file if r["inv"] is not None),
        key=lambda t: (t[0], -t[1]),
    )
    data_files = [r for r in per_file if r["n_data"]]
    counts: dict[str, int] = {}
    cursor: int | None = None

    def apply_segment(lo, hi_mt) -> None:
        """Ingest data rows with mtime in [lo, hi_mt) — marker mtimes
        bound segments; a None end is unbounded."""
        nonlocal cursor
        in_seg = [
            r
            for r in data_files
            if (lo is None or r["mt"] >= lo) and (hi_mt is None or r["mt"] < hi_mt)
        ]
        if not in_seg:
            return
        cond = is_data
        if lo is not None:
            cond = cond & (F.col("__mt") >= F.lit(lo))
        if hi_mt is not None:
            cond = cond & (F.col("__mt") < F.lit(hi_mt))
        seg_df = meta.filter(cond).drop("__fp", "__mt")
        for table, n in (ingest_batch(spark, seg_df, tables_dir) or {}).items():
            counts[table] = counts.get(table, 0) + n
        seg_hi = max(
            (int(r["hi"]) for r in in_seg if r["hi"] is not None), default=None
        )
        if seg_hi is not None:
            cursor = seg_hi

    # cross-batch tie repair (see the last-tick manifest block above):
    # data files at a marker's exact mtime tick that were ALREADY
    # applied by an EARLIER micro-batch were ingested before the
    # marker — the within-batch rule says same-tick data belongs
    # AFTER it, and the invalidation below is about to delete their
    # rows with no replay source. Re-ingest them from the feed dir by
    # recorded path right after the tick's markers apply, restoring
    # the exact co-batched final state. Files of the CURRENT batch
    # are excluded — the segment loop applies them in order (this
    # also makes epoch replay safe when the first attempt already
    # folded this batch into the manifest before crashing).
    manifest_mt, manifest_files = (
        _load_tick_manifest(manifest_path) if manifest_path else (None, set())
    )
    batch_files = {r["__fp"] for r in per_file}

    def repair_tick(mt, inv) -> None:
        nonlocal cursor
        if manifest_mt is None or manifest_mt != mt:
            return
        files = sorted(manifest_files - batch_files)
        if not files:
            return
        # the files were consumed moments ago (same mtime tick), so a
        # read failure means feed retention broke the repair window —
        # surface it rather than silently losing the new-chain rows.
        # Replay ONLY the rows the invalidation just deleted
        # (block_number > inv): rows at or below inv in these files
        # survived invalidate_from_block(inv + 1), so re-ingesting
        # them would duplicate surviving rows.
        replay = (
            spark.read.schema(RAW_SCHEMA)
            .parquet(*files)
            .filter(is_data & (F.col("block_number") > F.lit(int(inv))))
        )
        for table, n in (ingest_batch(spark, replay, tables_dir) or {}).items():
            counts[table] = counts.get(table, 0) + n
        rep_hi = replay.agg(F.max("block_number")).collect()[0][0]
        if rep_hi is not None:
            # never regress below the invalidation point the segment
            # loop just recorded
            cursor = max(cursor, int(rep_hi)) if cursor is not None else int(rep_hi)

    prev_mt = None
    for i, (mt, inv) in enumerate(markers):
        apply_segment(prev_mt, mt)
        if os.path.isdir(tables_dir):
            invalidate_from_block(spark, tables_dir, inv + 1)
        cursor = inv
        prev_mt = mt
        # repair once per tick, after the tick's LAST (deepest) marker
        if i + 1 == len(markers) or markers[i + 1][0] != mt:
            repair_tick(mt, inv)
    apply_segment(prev_mt, None)
    if cursor is not None and os.path.isdir(tables_dir):
        write_cursor(tables_dir, cursor)
    if manifest_path is not None:
        _update_tick_manifest(manifest_path, per_file)
    return counts


# replay redelivers at most the last few uncommitted epochs; keep a
# tail well beyond that so pruning can never race a legitimate skip
# check, while the marker dir stays O(tail) instead of growing one
# file per micro-batch forever
_EPOCH_MARKER_TAIL = 128


def _prune_epoch_markers(ns_dir: str, committed_epoch: int) -> None:
    """Delete markers more than _EPOCH_MARKER_TAIL epochs below the
    just-committed one. Redelivery only ever replays epochs at or
    after the last uncommitted checkpoint offset, so markers far below
    the committed epoch can never be consulted again."""
    floor = committed_epoch - _EPOCH_MARKER_TAIL
    if floor <= 0:
        return
    try:
        entries = os.listdir(ns_dir)
    except OSError:
        return
    for entry in entries:
        if entry.isdigit() and int(entry) < floor:
            try:
                os.remove(os.path.join(ns_dir, entry))
            except OSError:
                pass


# Default per-trigger file bound for the streaming ingest paths.
# Finite on purpose: replay after a crash between a batch's partial
# fact appends and its epoch-marker write re-appends that batch's
# rows (the at-least-once window a non-transactional parquet sink
# cannot close), so the batch size IS the duplicate blast radius.
# 64 files/trigger keeps backlog catch-up within ~6% of unbounded
# co-batching (SCALE.md §6f measures the 1 -> None win; the cost is
# per-trigger scheduling overhead, amortized over 64 files) while
# bounding a worst-case replay to one bounded batch instead of the
# entire backlog. Markers stay ordering-safe at ANY batching: within
# a batch ingest_micro_batch splits at marker boundaries
# (_apply_marker_batch), and across batch boundaries the last-tick
# manifest repairs mtime-tie splits (a same-tick data file admitted
# one trigger before its marker is re-ingested after the
# invalidation — see the manifest block above ingest_micro_batch).
DEFAULT_MAX_FILES_PER_TRIGGER = 64


def stream_ingest(
    spark: SparkSession,
    feed_dir: str,
    tables_dir: str,
    checkpoint_dir: str,
    trigger: dict | None = None,
    max_files_per_trigger: int | None = DEFAULT_MAX_FILES_PER_TRIGGER,
):
    """readStream over the feed directory; each micro-batch runs the
    same ingest_batch and advances the cursor to its max finalized
    block — checkpoint-as-cursor (SURVEY §2.5 exactly-once row).

    ``max_files_per_trigger`` defaults to a finite bound
    (DEFAULT_MAX_FILES_PER_TRIGGER): co-batching is ordering-safe at
    any size (marker-boundary splitting), but a crash between a
    batch's partial appends and its epoch marker replays the whole
    batch, so an unbounded backlog batch would make the duplicate
    window the entire backlog. Pass None for unbounded batching only
    when that window is acceptable (e.g. a one-shot rebuild into an
    empty table set), or a smaller int to tighten latency.

    Returns the StreamingQuery; callers stop it (tests use
    processAllAvailable)."""

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        ingest_micro_batch(
            spark,
            batch_df,
            tables_dir,
            epoch_id=epoch_id,
            marker_ns=checkpoint_marker_ns(checkpoint_dir),
        )

    reader = read_feed_stream(spark, feed_dir, max_files_per_trigger)
    writer = reader.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()
