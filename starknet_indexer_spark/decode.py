"""Felt-array decode layer: parser combinators as Catalyst expressions.

The reference decodes each event's raw felt252 array with hand-rolled
combinator parsers (reference: src/parse.ts:1-181). This module
re-expresses the same combinator algebra as *column expression
builders*: a parser is an object whose ``parse(data, offset)`` returns
``(value_column, next_offset_column)``. Decoding a whole table is then
one ``select`` over an ``ArrayType(StringType)`` column of ``0x…``
felts — fully JVM-side, whole-stage-codegen'd, no Python UDFs, which
is what makes ingest scale: the decode runs inside the scan stage of
however many executors read the stream.

Combinator parity notes (file:line cite the reference):
- ``combineParsers`` sorts fields by ``index`` with a *stable* sort,
  so several fields may share an index and parse consecutively in
  declaration order (src/parse.ts:109-139; used by tokenRegistry
  src/events/tokenRegistry.ts:14-19). Python's ``sorted`` is stable,
  and dicts preserve insertion order — same semantics.
- ``parseSpanOf`` is length-prefixed (src/parse.ts:11-29). Fixed-width
  elements decode via ``transform`` over computed offsets; variable-
  width elements (nested spans) via an ``aggregate`` fold carrying a
  running offset.
- ``parseUint8Array`` collects bytes from the LSB up to the first zero
  byte (src/parse.ts:141-158) — equivalent to stripping leading zero
  bytes of the big-endian representation for zero-free payloads.
- ``parseByteArray`` = span of 31-byte words + pending word; the
  trailing pending-length felt is consumed but *ignored*
  (src/parse.ts:160-180).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .functions.core import (
    felt_to_decimal,
    i129_value,
    short_string_decode,
    u256_value,
)

__all__ = [
    "felt252",
    "address",
    "u128",
    "u64",
    "u8",
    "u256",
    "i129",
    "boolean",
    "short_string",
    "byte_array",
    "span_of",
    "struct_of",
    "optional",
    "POOL_KEY",
    "BOUNDS",
    "DELTA",
    "EVENT_PARSERS",
    "decode_events",
]


def _elem(data: Column, offset: Column) -> Column:
    # offsets are 0-based (reference convention). F.get is 0-based and
    # returns NULL out of bounds (element_at would throw under ANSI) —
    # required for the `optional` combinator and empty-span guards.
    #
    # All narrowing casts in this module are try_cast: Catalyst may
    # evaluate decode expressions speculatively on rows a preceding
    # selector filter would exclude (generator/codegen hoisting treats
    # expressions as side-effect-free), so an ANSI cast of another
    # event type's felt must yield NULL, not throw.
    return F.get(data, offset.try_cast("int"))


def _canon_hex(col: Column) -> Column:
    """Canonical lowercase 0x-hex with leading zeros stripped."""
    return F.concat(
        F.lit("0x"),
        F.regexp_replace(F.lower(F.regexp_replace(col, "^0x", "")), "^0+(?=.)", ""),
    )


class Parser:
    """parse(data, offset) -> (value, next_offset). ``width`` is the
    felt count when static, else None. ``spark_type`` is the decoded
    value's DataType (used to reconstruct typed values after the
    variable-width span fold)."""

    width: int | None = None

    def parse(self, data: Column, offset: Column) -> tuple[Column, Column]:
        raise NotImplementedError

    @property
    def spark_type(self) -> T.DataType:
        raise NotImplementedError


@dataclass
class _OneFelt(Parser):
    conv: object  # Column -> Column
    dtype: T.DataType = T.StringType()
    width = 1

    def parse(self, data, offset):
        return self.conv(_elem(data, offset)), offset + 1

    @property
    def spark_type(self):
        return self.dtype


@dataclass
class _TwoFelt(Parser):
    conv: object  # (Column, Column) -> Column
    dtype: T.DataType = T.DecimalType(38, 0)
    width = 2

    def parse(self, data, offset):
        return self.conv(_elem(data, offset), _elem(data, offset + 1)), offset + 2

    @property
    def spark_type(self):
        return self.dtype


def _strict_bool(col: Column) -> Column:
    v = felt_to_decimal(col)
    # strict 0/1 parse; anything else is a decode error
    # (src/parse.ts:76-92 throws "Invalid boolean value")
    return (
        F.when(v == 0, F.lit(False))
        .when(v == 1, F.lit(True))
        .otherwise(F.raise_error(F.lit("Invalid boolean value")))
    )


# felt -> UTF-8 string of its nonzero big-endian bytes: the ONE
# short-string decoding rule lives in functions.core (shared with the
# view layer) — a private copy here drifted once already
_uint8array_decode = short_string_decode


felt252 = _OneFelt(_canon_hex, T.StringType())
address = felt252
u128 = _OneFelt(felt_to_decimal, T.DecimalType(38, 0))
u64 = _OneFelt(lambda c: felt_to_decimal(c).try_cast("long"), T.LongType())
u8 = _OneFelt(lambda c: felt_to_decimal(c).try_cast("int"), T.IntegerType())
u256 = _TwoFelt(u256_value)
i129 = _TwoFelt(i129_value)
boolean = _OneFelt(_strict_bool, T.BooleanType())
short_string = _OneFelt(_uint8array_decode, T.StringType())


MAX_SPAN_LEN = 65_536  # far above any real event array


def _span_len(data, offset):
    """Length prefix with a sanity clamp. Speculative evaluation can
    feed this parser rows of OTHER event types (see _elem note); a
    garbage felt that happens to fit an int (e.g. a timestamp) would
    otherwise drive sequence() to allocate billions of elements.
    Lengths outside [0, MAX_SPAN_LEN] decode as NULL — the selector
    filter drops those rows before they can matter."""
    n = felt_to_decimal(_elem(data, offset)).try_cast("int")
    return F.when(n.between(0, MAX_SPAN_LEN), n)


@dataclass
class _Span(Parser):
    element: Parser
    width = None

    def parse(self, data, offset):
        n = _span_len(data, offset)
        body = offset + 1
        if self.element.width is not None:
            w = self.element.width

            # fixed-width elements: direct offset arithmetic, one
            # transform over the index range (vectorized fast path).
            # sequence() counts DOWN when start > stop, so generate
            # max(n,1) indexes and slice to n — slice(arr,1,0) is [].
            def render(i):
                v, _ = self.element.parse(data, body + i * w)
                return v

            arr = F.transform(F.sequence(F.lit(0), F.greatest(n, F.lit(1)) - 1), render)
            return F.slice(arr, F.lit(1), n), body + n * w

        # variable-width elements (nested spans): fold with a running
        # offset. The accumulator carries JSON-encoded values (one
        # stable accumulator type); decoded back to the element's
        # DataType afterwards.
        def step(acc, _):
            v, nxt = self.element.parse(data, acc["off"])
            return F.struct(
                F.concat(acc["vals"], F.array(F.to_json(F.struct(v.alias("v"))))).alias("vals"),
                nxt.cast("long").alias("off"),
            )

        init = F.struct(
            F.array().cast("array<string>").alias("vals"), body.cast("long").alias("off")
        )
        seq = F.slice(
            F.sequence(F.lit(1), F.greatest(n, F.lit(1)).cast("long")), F.lit(1), n
        )
        folded = F.aggregate(seq, init, step)
        wrapper = T.StructType([T.StructField("v", self.element.spark_type)])
        value = F.transform(folded["vals"], lambda s: F.from_json(s, wrapper)["v"])
        return value, folded["off"]

    @property
    def spark_type(self):
        return T.ArrayType(self.element.spark_type)


def span_of(element: Parser) -> Parser:
    return _Span(element)


@dataclass
class _Struct(Parser):
    fields: list  # (name, index, Parser)
    width: int | None = field(default=None)

    def __post_init__(self):
        ordered = sorted(self.fields, key=lambda t: t[1])  # stable
        self.ordered = ordered
        if all(p.width is not None for _, _, p in ordered):
            self.width = sum(p.width for _, _, p in ordered)
        else:
            self.width = None

    def parse(self, data, offset):
        cols = []
        cur = offset
        for name, _, p in self.ordered:
            v, cur = p.parse(data, cur)
            cols.append(v.alias(name))
        return F.struct(*cols), cur

    @property
    def spark_type(self):
        return T.StructType(
            [T.StructField(name, p.spark_type) for name, _, p in self.ordered]
        )


def struct_of(**fields) -> Parser:
    """struct_of(name=(index, parser), ...) — stable-sorted by index."""
    return _Struct([(name, idx, p) for name, (idx, p) in fields.items()])


@dataclass
class _Optional(Parser):
    inner: Parser
    width = None

    def parse(self, data, offset):
        v, nxt = self.inner.parse(data, offset)
        has = offset < F.size(data)
        return (
            F.when(has, v).otherwise(F.lit(None).cast(self.inner.spark_type)),
            F.when(has, nxt).otherwise(offset),
        )

    @property
    def spark_type(self):
        return self.inner.spark_type


def optional(inner: Parser) -> Parser:
    """backwardsCompatibleParserAdditionalArgument (src/parse.ts:98-107)."""
    return _Optional(inner)


class _ByteArray(Parser):
    """Cairo ByteArray (src/parse.ts:160-180): [n, words*n, pending,
    pending_len]; pending_len consumed but ignored."""

    width = None

    def parse(self, data, offset):
        n = _span_len(data, offset)
        words_start = offset + 1
        idx = F.sequence(F.lit(0), F.greatest(n, F.lit(1)) - 1)
        words = F.slice(
            F.transform(idx, lambda i: _uint8array_decode(_elem(data, words_start + i))),
            F.lit(1),
            n,
        )
        pending = _uint8array_decode(_elem(data, words_start + n))
        value = F.concat(F.array_join(words, ""), pending)
        return value, words_start + n + 2

    @property
    def spark_type(self):
        return T.StringType()


byte_array = _ByteArray()

# ---------------------------------------------------------------------------
# Event parser registry — mirrors the reference's src/events/*.ts shapes.
# ---------------------------------------------------------------------------

POOL_KEY = struct_of(
    token0=(0, address),
    token1=(1, address),
    fee=(2, u128),
    tick_spacing=(3, u128),
    extension=(4, address),
)  # src/events/core.ts:11-17

BOUNDS = struct_of(lower=(0, i129), upper=(1, i129))  # src/events/core.ts:20-23

DELTA = struct_of(amount0=(0, i129), amount1=(1, i129))  # src/events/core.ts:33-36

_POSITION_KEY = struct_of(salt=(0, u128), owner=(1, address), bounds=(2, BOUNDS))

_SWAP_PARAMS = struct_of(
    amount=(0, i129),
    is_token1=(1, boolean),
    sqrt_ratio_limit=(2, u256),
    skip_ahead=(3, u128),
)

_ORDER_KEY = struct_of(
    sell_token=(0, address),
    buy_token=(1, address),
    fee=(2, u128),
    start_time=(3, u64),
    end_time=(4, u64),
)  # src/events/twamm.ts:12-18

_STATE_KEY = struct_of(token0=(0, address), token1=(1, address), fee=(2, u128))

_LIMIT_ORDER_KEY = struct_of(token0=(0, address), token1=(1, address), tick=(2, i129))

_SNAPSHOT = struct_of(block_timestamp=(0, u64), tick_cumulative=(1, i129))

_CALL = struct_of(
    to=(0, address), selector=(1, felt252), calldata=(2, span_of(felt252))
)  # src/events/governor.ts:14-18

_GOVERNOR_CONFIG = struct_of(
    voting_start_delay=(0, u64),
    voting_period=(1, u64),
    voting_weight_smoothing_duration=(2, u64),
    quorum=(3, u128),
    proposal_creation_threshold=(4, u128),
    execution_delay=(5, u64),
    execution_window=(6, u64),
)  # src/events/governor.ts:78-86

EVENT_PARSERS: dict[str, Parser] = {
    # core.ts
    "position_updated": struct_of(
        locker=(0, address),
        pool_key=(1, POOL_KEY),
        params=(2, struct_of(salt=(0, u128), bounds=(1, BOUNDS), liquidity_delta=(2, i129))),
        delta=(3, DELTA),
    ),
    "position_fees_collected": struct_of(
        pool_key=(1, POOL_KEY), position_key=(2, _POSITION_KEY), delta=(3, DELTA)
    ),
    "protocol_fees_withdrawn": struct_of(
        recipient=(0, address), token=(1, address), amount=(2, u128)
    ),
    "swapped": struct_of(
        locker=(0, address),
        pool_key=(1, POOL_KEY),
        params=(2, _SWAP_PARAMS),
        delta=(3, DELTA),
        sqrt_ratio_after=(4, u256),
        tick_after=(5, i129),
        liquidity_after=(6, u128),
    ),
    "pool_initialized": struct_of(
        pool_key=(0, POOL_KEY), tick=(1, i129), sqrt_ratio=(2, u256)
    ),
    "protocol_fees_paid": struct_of(
        pool_key=(0, POOL_KEY), position_key=(1, _POSITION_KEY), delta=(2, DELTA)
    ),
    "fees_accumulated": struct_of(
        pool_key=(0, POOL_KEY), amount0=(1, u128), amount1=(2, u128)
    ),
    # positions.ts
    "legacy_position_minted": struct_of(
        id=(0, u64), pool_key=(1, POOL_KEY), bounds=(2, BOUNDS), referrer=(3, optional(address))
    ),
    "position_minted_with_referrer": struct_of(id=(0, u64), referrer=(1, address)),
    # nft.ts
    "nft_transfer": struct_of(**{"from": (0, address)}, to=(1, address), id=(2, u256)),
    # tokenRegistry.ts — shared index 2 exercises the stable sort
    "token_registration": struct_of(
        address=(0, address),
        name=(1, felt252),
        symbol=(2, felt252),
        decimals=(2, u8),
        total_supply=(2, u128),
    ),
    "token_registration_v3": struct_of(
        address=(0, address),
        name=(1, byte_array),
        symbol=(2, byte_array),
        decimals=(2, u8),
        total_supply=(2, u128),
    ),
    # twamm.ts
    "twamm_order_updated": struct_of(
        owner=(0, address), salt=(1, felt252), order_key=(2, _ORDER_KEY), sale_rate_delta=(3, i129)
    ),
    "twamm_order_proceeds_withdrawn": struct_of(
        owner=(0, address), salt=(1, felt252), order_key=(2, _ORDER_KEY), amount=(3, u128)
    ),
    "twamm_virtual_orders_executed": struct_of(
        key=(0, _STATE_KEY),
        token0_sale_rate=(1, u128),
        token1_sale_rate=(2, u128),
        twamm_delta=(3, DELTA),
    ),
    # staker.ts
    "staker_staked": struct_of(**{"from": (0, address)}, amount=(1, u128), delegate=(2, address)),
    "staker_withdrawn": struct_of(
        **{"from": (0, address)}, delegate=(1, address), to=(2, address), amount=(3, u128)
    ),
    # oracle.ts
    "oracle_snapshot": struct_of(
        token0=(0, address), token1=(1, address), index=(2, u64), snapshot=(3, _SNAPSHOT)
    ),
    # limitOrders.ts
    "limit_order_placed": struct_of(
        owner=(0, address),
        salt=(1, felt252),
        order_key=(2, _LIMIT_ORDER_KEY),
        liquidity=(3, u128),
        amount=(4, u128),
    ),
    "limit_order_closed": struct_of(
        owner=(0, address),
        salt=(1, felt252),
        order_key=(2, _LIMIT_ORDER_KEY),
        amount0=(3, u128),
        amount1=(4, u128),
    ),
    # spline.ts
    "liquidity_updated": struct_of(
        pool_key=(0, POOL_KEY),
        sender=(1, address),
        liquidity_factor=(2, i129),
        shares=(3, u256),
        amount0=(4, i129),
        amount1=(5, i129),
        protocol_fees0=(6, u128),
        protocol_fees1=(7, u128),
    ),
    # governor.ts
    "governor_proposed": struct_of(
        id=(0, felt252),
        proposer=(1, address),
        calls=(2, span_of(_CALL)),
        config_version=(3, optional(u64)),
    ),
    "governor_voted": struct_of(
        id=(0, felt252), voter=(1, address), weight=(2, u128), yea=(3, boolean)
    ),
    "governor_canceled": struct_of(id=(0, felt252)),
    # CreationThresholdBreached (src/events/governor.ts:49-52: both
    # fields share index 0 -> stable order id, breach_timestamp); the
    # reference routes it into the canceled table ("just use the
    # canceled table", src/eventProcessors.ts:365-379)
    "governor_creation_threshold_breached": struct_of(
        id=(0, felt252), breach_timestamp=(0, u64)
    ),
    "governor_executed": struct_of(
        id=(0, felt252), result_data=(1, span_of(span_of(felt252)))
    ),
    "governor_described": struct_of(id=(0, felt252), description=(1, byte_array)),
    "governor_reconfigured": struct_of(new_config=(0, _GOVERNOR_CONFIG), version=(1, u64)),
}


def decode_events(df, event_type: str):
    """Decode a DataFrame's felt-array column into typed columns.

    ``df`` must carry ``data`` as ``ArrayType(StringType)`` of 0x
    felts. Returns df with ``data`` replaced by the event's decoded
    fields as top-level columns, in the parser's field order.
    """
    parser = EVENT_PARSERS[event_type]
    value, _ = parser.parse(F.col("data"), F.lit(0).cast("int"))
    names = [n for n, _, _ in parser.ordered]
    return df.withColumn("decoded", value).select(
        *[c for c in df.columns if c != "data"],
        *[F.col(f"decoded.`{n}`").alias(n) for n in names],
    )
