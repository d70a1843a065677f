"""Focused pins for the round-13 optimization changes to operator
internals: the dense-bitset Bloom probe's equality with the join
formulations. The DuckDB oracle sweep already proves end-to-end
equality; these pin the specific internal claims so a future edit
that breaks one fails HERE, with a named reason."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


class TestBloomBitsetProbe:
    def test_bitset_probe_equals_join_formulations(self, spark):
        """The dense-bitset probe must flag exactly the rows the
        explode+join+aggregate reference formulation flags, including
        non-members (false-positive pattern shared bit-for-bit) and a
        NULL item (never a hit). A NULL member yields a NULL ``bit``
        row, which the bitset collect must skip."""
        from starknet_indexer_spark.operators.sketches import (
            bloom_bitset,
            bloom_build,
            bloom_probe_hits,
        )

        from .reference_ops import bloom_probe_hits_join

        members = spark.createDataFrame(
            [(f"m{i}",) for i in range(200)] + [(None,)], "item string"
        )
        bits = bloom_build(members, F.col("item"), k=4, m_bits=1 << 12)
        assert bits.filter(F.col("bit").isNull()).count() == 1
        probes = spark.createDataFrame(
            [(f"m{i}",) for i in range(0, 200, 3)]
            + [(f"x{i}",) for i in range(500)]
            + [(None,)],
            "item string",
        ).distinct()
        fast = {
            r["item"]: r["bloom_hit"]
            for r in bloom_probe_hits(
                probes, F.col("item"), bloom_bitset(bits, 1 << 12), k=4, m_bits=1 << 12
            ).collect()
        }
        slow = {
            r["item"]: r["bloom_hit"]
            for r in bloom_probe_hits_join(
                probes, F.col("item"), bits, k=4, m_bits=1 << 12
            ).collect()
        }
        assert fast == slow
        assert fast[None] is False
        assert all(fast[f"m{i}"] for i in range(0, 200, 3))

    def test_oversized_bits_relation_raises(self, spark):
        """More set positions than ``m_bits``, or a position outside
        ``[0, m_bits)``, cannot come from bloom_build with these
        parameters: an explicit ValueError, not an assert that
        ``python -O`` strips."""
        from starknet_indexer_spark.operators.sketches import bloom_bitset

        bits = spark.range(9).select(F.col("id").alias("bit"))
        with pytest.raises(ValueError, match="m_bits=8"):
            bloom_bitset(bits, m_bits=8)
        # a position outside [0, m_bits) would set a wrapped or
        # out-of-range bit instead
        for pos in (-1, 8):
            with pytest.raises(ValueError, match="m_bits=8"):
                bloom_bitset(spark.range(1).select(F.lit(pos).cast("bigint").alias("bit")), m_bits=8)
