"""V12 — per-(proposal, delegate) time-weighted voting weights.

Reference: proposal_delegate_voting_weights_view, src/dao.ts:1231-1352.
For each proposal: over the window [proposal_time, proposal_time +
voting_start_delay], the time-weighted average stake per delegate =
integral of the delegate's running stake balance over the window,
divided by the window length (floor'd).

The reference computes this with JOIN LATERAL (one correlated
sub-aggregation per proposal). Spark rewrite (SURVEY §2.3 J3): build
the event set *set-based* for all proposals at once —
proposal x in-window deltas, plus per-(proposal, delegate) bootstrap
balances at window start, plus a zero sentinel at window end — then
one window pass (running sum + lead) partitioned by (proposal,
delegate) and one aggregation. Proposals are few; stake events join
against them via a broadcast, so the fact scan happens twice (bootstrap
+ in-window) with no shuffle on the big side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions.core import decimal_floordiv

DEC = "decimal(38,0)"


from ._shared import with_block_time as _with_time  # noqa: E402


def proposal_delegate_voting_weights(tables: dict[str, DataFrame]) -> DataFrame:
    """V12 over ``tables`` (module docstring). ``sentinel`` re-derives
    ``in_window`` and ``bootstrap`` (and through them the event-decode
    chain and the broadcast ``proposal_times`` build) a second time,
    because broadcast-returned consumers defeat exchange reuse. Nothing
    is checkpointed: lazily checkpointing the stake deltas and both
    window splits measured slower than the re-derivation at sf0.1
    (1.72 vs 1.49 s median steady, and a slower cold run)."""
    blocks = tables["blocks"]
    gp = _with_time(tables["governor_proposed"], blocks).select(
        F.col("id").alias("proposal_id"),
        F.col("time").alias("proposal_time"),
        "config_version",
    )
    gr = tables["governor_reconfigured"].select("version", "voting_start_delay")
    proposal_times = (
        gp.join(F.broadcast(gr), gp.config_version == gr.version)
        .select(
            "proposal_id",
            "proposal_time",
            (
                F.col("proposal_time")
                + (F.col("voting_start_delay") * F.expr("INTERVAL 1 SECOND"))
            ).alias("vote_start"),
            F.col("voting_start_delay").alias("window_secs"),
        )
    )

    staked = _with_time(tables["staker_staked"], blocks).select(
        "delegate", "time", F.col("amount").cast(DEC).alias("delta")
    )
    withdrawn = _with_time(tables["staker_withdrawn"], blocks).select(
        "delegate", "time", (-F.col("amount").cast(DEC)).alias("delta")
    )
    deltas = staked.unionByName(withdrawn)

    pt = F.broadcast(proposal_times)

    in_window = deltas.join(
        pt, F.col("time").between(F.col("proposal_time"), F.col("vote_start"))
    ).select("proposal_id", "delegate", "time", "delta")

    bootstrap = (
        deltas.join(pt, F.col("time") < F.col("proposal_time"))
        .groupBy("proposal_id", "delegate", "proposal_time")
        .agg(F.sum("delta").alias("delta"))
        .select("proposal_id", "delegate", F.col("proposal_time").alias("time"), "delta")
    )

    # Window-end sentinel per (proposal, delegate). The reference cross
    # joins ALL delegates against ALL proposals (src/dao.ts:1296-1299),
    # but a delegate with no stake event before vote_start contributes
    # no integral row (its lone sentinel has no successor and is
    # filtered), so restricting to delegates that actually appear in
    # the bootstrap or in-window sets is output-equivalent — and keeps
    # the sentinel set proportional to real activity instead of
    # |delegates| x |proposals| at 100x delegate cardinality.
    sentinel = (
        in_window.select("proposal_id", "delegate")
        .unionByName(bootstrap.select("proposal_id", "delegate"))
        .distinct()
        .join(F.broadcast(proposal_times.select("proposal_id", "vote_start")), "proposal_id")
        .select(
            "proposal_id",
            "delegate",
            F.col("vote_start").alias("time"),
            F.lit(0).cast(DEC).alias("delta"),
        )
    )

    events = in_window.unionByName(bootstrap).unionByName(sentinel)

    w = W.partitionBy("proposal_id", "delegate").orderBy("time")
    running = events.select(
        "proposal_id",
        "delegate",
        "time",
        F.sum("delta").over(w.rowsBetween(W.unboundedPreceding, 0)).alias("stake_amount"),
        F.lead("time").over(w).alias("end_time"),
    )

    # Exact integer integral: block times are whole seconds, so the
    # interval duration is an exact BIGINT and stake * duration stays
    # in DECIMAL — the SUM is order-insensitive and exact for stakes
    # far beyond double's 2^53 mantissa (the reference computes this
    # in NUMERIC, src/dao.ts:1231-1352), and the final division is
    # exact decimal floor division (decimal_floordiv), matching the
    # reference's NUMERIC floor even when the weighted sum exceeds
    # 2^53 (a double division there could shift the floor by 1).
    #
    # Width bound: stake deltas are felt252-derived but capped at
    # decimal(38,0) by the cast above; the stake*duration product is
    # likewise decimal(38,0), so a running stake S over an interval of
    # D seconds requires S*D < 10^38. With realistic windows (D <=
    # ~10^7 s) that admits stakes to ~10^31 — beyond u128 token
    # supplies (~3.4*10^38 is unreachable for real ERC20 amounts whose
    # totals fit 2^128 scaled by 10^18 decimals). Inputs beyond the
    # bound raise under ANSI mode rather than silently wrapping —
    # the failure is loud, matching Postgres NUMERIC overflow behavior.
    dur_s = F.expr("(unix_micros(end_time) - unix_micros(time)) div 1000000")
    integral = (
        running.filter(F.col("end_time").isNotNull())
        .groupBy("proposal_id", "delegate")
        .agg(
            F.sum(F.col("stake_amount") * dur_s.cast("decimal(18,0)")).alias(
                "weighted_time_sum"
            )
        )
    )

    return integral.join(pt.select("proposal_id", "window_secs"), "proposal_id").select(
        "proposal_id",
        "delegate",
        decimal_floordiv(
            F.col("weighted_time_sum"),
            F.col("window_secs").cast("decimal(38,0)"),
        ).alias("voting_weight"),
    )
