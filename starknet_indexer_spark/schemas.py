"""Explicit StructTypes for every table ingest stores.

Schema-on-write, declared once: the reference's DDL is fixed and
code-defined (src/dao.ts:86-1541) and every table is created up front
(src/dao.ts:74-84). ``TABLE_SCHEMAS`` is the exact layout
``ingest.ingest_batch`` writes, nullability included, so
``daemon.load_tables`` reads stored tables with it and stands in empty
typed tables for event families that have not fired yet, without
deriving any schema. The test suite pins it against the decode +
stored-shape projection it must equal.

Envelope columns are denormalized onto every fact table instead of a
separate ``event_keys`` table: a fact-to-envelope join on every query
is a pointless shuffle, while carrying (event_id, block_number) costs
~16 bytes/row and makes every fact table self-contained. Every stored
table is partitioned by ``block_bucket = block_number // 1000``
(ingest.BLOCK_BUCKET_SIZE), the unit of reorg retraction.

Width policy (SURVEY.md §1.2): felts that name something (addresses,
hashes, pool key hashes, proposal ids) are canonical 0x-hex STRINGs;
amounts, sqrt ratios and sale rates are DECIMAL(38,0)
(fixture-bounded < 2^126); ticks are INT; block time is TIMESTAMP. The
per-table declarations below are the authority where a column departs
from this (position salts are DECIMAL, TWAMM and limit-order salts are
hex STRINGs, as decode produces them).
"""

from __future__ import annotations

from pyspark.sql import types as T

STR = T.StringType()
DEC = T.DecimalType(38, 0)
INT = T.IntegerType()
LONG = T.LongType()
TS = T.TimestampType()


def _f(name: str, dtype: T.DataType, nullable: bool = True) -> T.StructField:
    return T.StructField(name, dtype, nullable)


def _envelope() -> list[T.StructField]:
    # reference event_keys: src/dao.ts:121-132 (denormalized here)
    return [
        _f("event_id", LONG, False),
        _f("transaction_hash", STR),
        _f("block_number", INT, False),
        _f("transaction_index", T.ShortType(), False),
        _f("event_index", T.ShortType(), False),
        _f("emitter", STR),
        _f("block_bucket", INT),
    ]


def _fact(*payload: tuple) -> T.StructType:
    """Envelope + payload columns, each ``(name, type)`` or
    ``(name, type, nullable)``."""
    return T.StructType(_envelope() + [_f(*p) for p in payload])


def _side(*payload: tuple) -> T.StructType:
    """A governor child table: keyed by proposal id, with the block
    columns reorg invalidation needs."""
    return T.StructType(
        [_f("proposal_id", STR), _f("block_number", INT, False), _f("block_bucket", INT)]
        + [_f(*p) for p in payload]
    )


_POSITION_FEES = _fact(
    ("pool_key_hash", STR),
    ("owner", STR),
    ("salt", DEC),
    ("lower_bound", INT),
    ("upper_bound", INT),
    ("delta0", DEC),
    ("delta1", DEC),
)  # src/dao.ts:165-180, same shape as protocol_fees_paid (193-208)

_TWAMM_ORDER = [("key_hash", STR), ("owner", STR), ("salt", STR)]
_LIMIT_ORDER = _TWAMM_ORDER + [("token0", STR), ("token1", STR), ("tick", INT)]
_GOVERNOR_ID = ("id", STR)

TABLE_SCHEMAS: dict[str, T.StructType] = {
    "blocks": T.StructType(
        [_f("number", INT), _f("hash", STR), _f("time", TS), _f("block_bucket", INT)]
    ),  # src/dao.ts:96-105
    "pool_keys": T.StructType(
        [
            _f("key_hash", STR),
            _f("token0", STR),
            _f("token1", STR),
            _f("fee", DEC),
            _f("tick_spacing", INT),
            _f("extension", STR),
        ]
    ),  # src/dao.ts:107-119
    "position_updates": _fact(
        ("locker", STR),
        ("pool_key_hash", STR),
        ("salt", DEC),
        ("lower_bound", INT),
        ("upper_bound", INT),
        ("liquidity_delta", DEC),
        ("delta0", DEC),
        ("delta1", DEC),
    ),  # src/dao.ts:145-163
    "position_fees_collected": _POSITION_FEES,
    "protocol_fees_withdrawn": _fact(
        ("recipient", STR), ("token", STR), ("amount", DEC)
    ),  # src/dao.ts:183-190
    "swaps": _fact(
        ("locker", STR),
        ("pool_key_hash", STR),
        ("delta0", DEC),
        ("delta1", DEC),
        ("sqrt_ratio_after", DEC),
        ("tick_after", INT),
        ("liquidity_after", DEC),
    ),  # src/dao.ts:233-248
    "pool_initializations": _fact(
        ("pool_key_hash", STR), ("tick", INT), ("sqrt_ratio", DEC)
    ),  # src/dao.ts:221-230
    "protocol_fees_paid": _POSITION_FEES,
    "fees_accumulated": _fact(
        ("pool_key_hash", STR), ("amount0", DEC), ("amount1", DEC)
    ),  # src/dao.ts:210-219
    # the pre-referrer mint event, stored in its decoded shape
    "legacy_position_minted": _fact(
        ("id", LONG),
        (
            "pool_key",
            T.StructType(
                [
                    _f("token0", STR),
                    _f("token1", STR),
                    _f("fee", DEC),
                    _f("tick_spacing", DEC),
                    _f("extension", STR),
                ]
            ),
            False,
        ),
        ("bounds", T.StructType([_f("lower", DEC), _f("upper", DEC)]), False),
        ("referrer", STR),
    ),
    "position_minted_with_referrer": _fact(
        ("token_id", LONG), ("referrer", STR)
    ),  # src/dao.ts:250-257
    "position_transfers": _fact(
        ("token_id", DEC), ("from_address", STR), ("to_address", STR)
    ),  # src/dao.ts:134-143
    "token_registrations": _fact(
        ("address", STR),
        ("name", STR),
        ("symbol", STR),
        ("decimals", INT),
        ("total_supply", DEC),
    ),  # src/dao.ts:259-269
    "token_registrations_v3": _fact(
        ("address", STR),
        ("name", STR),
        ("symbol", STR),
        ("decimals", INT),
        ("total_supply", DEC),
    ),  # src/dao.ts:271-281
    "twamm_order_updates": _fact(
        *_TWAMM_ORDER,
        ("sale_rate_delta0", DEC),
        ("sale_rate_delta1", DEC),
        ("start_time", TS),
        ("end_time", TS),
    ),  # src/dao.ts:650-667
    "twamm_proceeds_withdrawals": _fact(
        *_TWAMM_ORDER,
        ("amount0", DEC),
        ("amount1", DEC),
        ("start_time", TS),
        ("end_time", TS),
    ),  # src/dao.ts:669-686
    "twamm_virtual_order_executions": _fact(
        ("key_hash", STR),
        ("token0_sale_rate", DEC),
        ("token1_sale_rate", DEC),
        ("delta0", DEC),
        ("delta1", DEC),
    ),  # src/dao.ts:688-699
    "staker_staked": _fact(
        ("from_address", STR), ("amount", DEC), ("delegate", STR)
    ),  # src/dao.ts:283-292
    "staker_withdrawn": _fact(
        ("from_address", STR), ("amount", DEC), ("recipient", STR), ("delegate", STR)
    ),  # src/dao.ts:294-304
    "oracle_snapshots": _fact(
        ("key_hash", STR),
        ("token0", STR),
        ("token1", STR),
        ("index", LONG),
        ("snapshot_block_timestamp", LONG),
        ("snapshot_tick_cumulative", DEC),
    ),  # src/dao.ts:701-713
    "limit_order_placed": _fact(
        *_LIMIT_ORDER, ("liquidity", DEC), ("amount", DEC)
    ),  # src/dao.ts:715-730
    "limit_order_closed": _fact(
        *_LIMIT_ORDER, ("amount0", DEC), ("amount1", DEC)
    ),  # src/dao.ts:732-747
    "liquidity_updated": _fact(
        ("pool_key_hash", STR),
        ("sender", STR),
        ("liquidity_factor", DEC),
        ("shares", DEC),
        ("amount0", DEC),
        ("amount1", DEC),
        ("protocol_fees0", DEC),
        ("protocol_fees1", DEC),
    ),  # src/dao.ts:749-763
    "governor_proposed": _fact(
        _GOVERNOR_ID, ("proposer", STR), ("config_version", LONG)
    ),  # src/dao.ts:322-330
    "governor_proposed_calls": _side(
        ("call_index", INT, False),
        ("to", STR),
        ("selector", STR),
        ("calldata", T.ArrayType(STR)),
    ),  # src/dao.ts:330-340
    "governor_voted": _fact(
        _GOVERNOR_ID, ("voter", STR), ("weight", DEC), ("yea", T.BooleanType())
    ),  # src/dao.ts:350-358
    "governor_canceled": _fact(_GOVERNOR_ID),  # src/dao.ts:342-348
    "governor_executed": _fact(_GOVERNOR_ID),  # src/dao.ts:360-366
    "governor_executed_results": _side(
        ("result_index", INT, False), ("results", T.ArrayType(STR))
    ),  # src/dao.ts:360-374
    "governor_proposal_described": _fact(
        _GOVERNOR_ID, ("description", STR)
    ),  # src/dao.ts:376-382
    "governor_reconfigured": _fact(
        ("version", LONG),
        ("voting_start_delay", LONG),
        ("voting_period", LONG),
        ("voting_weight_smoothing_duration", LONG),
        ("quorum", DEC),
        ("proposal_creation_threshold", DEC),
        ("execution_delay", LONG),
        ("execution_window", LONG),
    ),  # src/dao.ts:306-320
}
