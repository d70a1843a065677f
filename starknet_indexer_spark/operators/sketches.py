"""Distinct-count estimation sketches, engine-portable by construction.

At 100 TB an exact ``COUNT(DISTINCT token)`` shuffles every distinct
value; profiling jobs want an estimate whose cost is a vanishing
fraction of that. Spark's ``approx_count_distinct`` (HyperLogLog++) is
the built-in answer, but its binary sketch is not reproducible in other
engines, so a result can't be value-hash-checked cross-engine.

This module implements *hash-threshold sampling* (the classic
distinct-sampling / KMV-family estimator): a value is retained iff its
60-bit md5 hash falls below ``2^(60 - ratio_bits)``. Each distinct
value is retained independently with probability exactly
``2^-ratio_bits`` (md5 is uniform on the hash space), so

    estimate = COUNT(DISTINCT retained values) << ratio_bits

is an unbiased estimator with relative error ~ 1/sqrt(retained).

One caveat to "unbiased": the estimator counts distinct retained
*hashes*, not distinct retained values, so two distinct values whose
60-bit hashes collide are counted once — an O(n²/2^61) low bias
(birthday term over n distinct values; ~0.0003% at n = 10^8, and only
material past ~10^9 distinct values per group). Cross-engine equality
is unaffected — both engines share the same hash and therefore the
same collisions. Callers needing more headroom should widen the hash,
not raise ``ratio_bits`` (which trades sampling error, not collision
bias).

Everything is integer arithmetic over a hash both engines compute
identically (``md5`` hex prefix), so the estimate is deterministic and
bit-equal in Spark and DuckDB — the property that makes even an
*approximate* operator driver-hash-checkable.

Scale shape: the threshold filter runs map-side BEFORE the distinct,
so the shuffle carries ~``distinct/2^ratio_bits`` rows instead of every
distinct value; the group-by aggregation gets map-side partial
de-duplication for free (Spark plans count(distinct) with a partial
aggregate). No unbounded per-group state anywhere (a collect_set-based
KMV would hold k values per group in executor memory; this holds none).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import md5_hash60_expr

# 1-in-2^RATIO_BITS retention. 8 → 1/256: on corpora with ≥ ~25k
# distinct values per group the estimator keeps ≥ ~100 samples
# (≈10% relative error); tests pin accuracy on the real corpus.
DEFAULT_RATIO_BITS = 8

HASH_BITS = 60


def hash_threshold_distinct(
    df: DataFrame,
    group_cols: list[str],
    value: Column,
    ratio_bits: int = DEFAULT_RATIO_BITS,
    out_col: str = "est_distinct",
) -> DataFrame:
    """Estimated distinct ``value`` count per group (see module doc).

    The returned estimate is exact integer math: retained-count shifted
    left by ``ratio_bits``. Groups where nothing survives the filter
    estimate 0 and are still emitted (left join against the group
    spine would be the caller's concern — here a group only appears if
    it has at least one row, matching COUNT(DISTINCT)'s group set only
    when every group retains a sample; callers wanting the full spine
    aggregate over the unfiltered frame)."""
    threshold = 1 << (HASH_BITS - ratio_bits)
    h = md5_hash60_expr(value)
    return (
        df.select(*group_cols, h.alias("__h"))
        .filter(F.col("__h") < threshold)
        .groupBy(*group_cols)
        .agg(
            (F.count_distinct(F.col("__h")) * F.lit(1 << ratio_bits))
            .cast("bigint")
            .alias(out_col)
        )
    )


def hash_threshold_distinct_sql(
    value_sql: str, ratio_bits: int = DEFAULT_RATIO_BITS
) -> tuple[str, str]:
    """(retain_predicate, estimate_expr) DuckDB fragments mirroring
    ``hash_threshold_distinct`` bit-for-bit; callers splice them into
    their oracle around the same GROUP BY."""
    threshold = 1 << (HASH_BITS - ratio_bits)
    h = f"('0x' || substr(md5({value_sql}), 1, 15))::BIGINT"
    return (
        f"{h} < {threshold}",
        f"CAST(COUNT(DISTINCT {h}) * {1 << ratio_bits} AS BIGINT)",
    )


def hash_sample_pred(key: Column, ratio_bits: int = DEFAULT_RATIO_BITS) -> Column:
    """Deterministic 1-in-2^ratio_bits ROW sample: retain a row iff
    the 60-bit md5 hash of its unique ``key`` falls below the
    threshold. Engine-portable (same rows retained in Spark and
    DuckDB), so sample-based estimators are value-hash-checkable —
    the same property hash_threshold_distinct exploits, applied to
    rows instead of distinct values. The filter is a map-side
    predicate: everything downstream (sort, quantile, aggregate)
    runs on 1/2^ratio_bits of the data."""
    return md5_hash60_expr(key) < F.lit(1 << (HASH_BITS - ratio_bits))


def hash_sample_pred_sql(key_sql: str, ratio_bits: int = DEFAULT_RATIO_BITS) -> str:
    """DuckDB predicate mirroring ``hash_sample_pred`` bit-for-bit."""
    threshold = 1 << (HASH_BITS - ratio_bits)
    return f"('0x' || substr(md5({key_sql}), 1, 15))::BIGINT < {threshold}"


def cm_bucket_expr(item: Column, salt: int, width: int) -> Column:
    """Count-Min bucket index for hash row ``salt``: the 60-bit md5
    hash of ``salt || '|' || item``, mod ``width``. Deterministic and
    engine-portable — both engines place every item in exactly the
    same cells, so CM estimates (including collision error) are
    value-hash-checkable."""
    return F.pmod(
        md5_hash60_expr(F.concat(F.lit(f"{salt}|"), item)), F.lit(width)
    )


def cm_bucket_sql(item_sql: str, salt: int, width: int) -> str:
    """DuckDB expression mirroring ``cm_bucket_expr`` bit-for-bit
    (DuckDB %% on non-negative hashes == Spark pmod here)."""
    h = f"('0x' || substr(md5('{salt}|' || {item_sql}), 1, 15))::BIGINT"
    return f"({h} % {width})"


def cm_sketch(
    df: DataFrame, item: Column, depth: int, width: int
) -> DataFrame:
    """Build a Count-Min sketch: ``depth x width`` cells of exact
    BIGINT counts, as a (row, bucket, cnt) relation of at most
    depth*width rows — CONSTANT size regardless of item cardinality.
    One map-side-combined aggregation over the input; each row of the
    input contributes to ``depth`` cells (a small explode, the CM
    analogue of the multi-probe writes every sketch pays)."""
    rows = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row"),
                        cm_bucket_expr(item, i, width).alias("bucket"),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("c")
    )
    return rows.groupBy(
        F.col("c.row").alias("row"), F.col("c.bucket").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("cnt"))


def bloom_build(
    df: DataFrame, item: Column, k: int, m_bits: int
) -> DataFrame:
    """Build a Bloom filter over ``item`` as a relation of its SET BIT
    positions: one ``bit`` BIGINT column, at most ``m_bits`` distinct
    rows regardless of item cardinality. Bit positions reuse the
    Count-Min bucket hash (``cm_bucket_expr`` — a Bloom filter is a CM
    sketch with 1-bit cells and AND in place of min), so both engines
    set exactly the same bits and even the false positives are shared
    bit-for-bit — the property that makes an approximate membership
    structure value-hash-checkable.

    Scale shape: one map-side explode of k positions per row, one
    distinct (map-side partially aggregated). The result is lazy;
    ``bloom_bitset`` collects it into the packed bitset that
    ``bloom_probe_hits`` probes (at most ``m_bits`` rows, independent
    of member count)."""
    rows = df.select(
        F.explode(
            F.array(*[cm_bucket_expr(item, i, m_bits) for i in range(k)])
        ).alias("bit")
    )
    return rows.distinct()


def bloom_bitset(bits: DataFrame, m_bits: int) -> np.ndarray:
    """Collect a set-bit relation (``bloom_build``'s output) into the
    filter's packed bitset: ``np.packbits`` of ``m_bits`` booleans,
    ``ceil(m_bits / 8)`` uint8 bytes (128 KiB for the 2^20-bit
    decontamination filter). This is the one step of a Bloom filter
    that runs a Spark job, and it does so here, when called.

    A NULL ``bit`` row (a NULL item on the build side) sets nothing and
    is dropped. Raises ``ValueError`` when ``bits`` holds more than
    ``m_bits`` rows or a position outside ``[0, m_bits)``: not a
    set-bit relation built with these parameters."""
    # control-plane collect, bounded by the filter parameter (the
    # relation is DISTINCT bit positions < m_bits), NOT by corpus
    # size; the same boundedness argument as the k-means centroid
    # collects (annkernels._collect_matrix)
    bit_rows = (
        bits.filter(F.col("bit").isNotNull())
        .toPandas()["bit"]
        .to_numpy(dtype=np.int64)
    )
    if len(bit_rows) > m_bits:
        raise ValueError(
            f"bloom bits relation has {len(bit_rows)} rows > m_bits="
            f"{m_bits}: not a valid set-bit relation"
        )
    if len(bit_rows) and (bit_rows.min() < 0 or bit_rows.max() >= m_bits):
        raise ValueError(
            f"bloom bits relation has a position outside [0, m_bits="
            f"{m_bits}): not a valid set-bit relation"
        )
    dense = np.zeros(m_bits, dtype=bool)
    dense[bit_rows] = True
    return np.packbits(dense)


def bloom_probe_hits(
    probes: DataFrame,
    item: Column,
    bitset: np.ndarray,
    k: int,
    m_bits: int,
    out_col: str = "bloom_hit",
) -> DataFrame:
    """Append ``out_col`` (boolean: all k bit positions of ``item``
    are set) to ``probes``, ONE output row per input row (duplicate
    probe rows each keep their own row). ``bitset`` is the packed
    filter ``bloom_bitset`` returns (or one loaded from a stored
    artifact). No false negatives — a member's bits were all set at
    build time by construction; false positives occur when all k
    positions collide with other members' bits, at the textbook
    ``(1 - e^(-k*n/m))^k`` rate, deterministically shared across
    engines.

    The probe is MAP-ONLY: each probe row tests its k bucket positions
    against the packed bitset in one vectorized Arrow UDF, whose
    closure carries the ``ceil(m_bits / 8)`` bytes. No joins, no
    broadcast-relation builds, no shuffle, and no Spark job runs when
    this function is called. A NULL item hashes to NULL buckets, which
    are coalesced onto the position ``m_bits``, one past the filter,
    which is never set, so it never hits. Raises ``ValueError`` when
    ``bitset`` is not ``ceil(m_bits / 8)`` uint8 bytes."""
    from pyspark.sql.functions import pandas_udf

    bitset = np.asarray(bitset)
    if bitset.dtype != np.uint8 or bitset.shape != ((m_bits + 7) // 8,):
        raise ValueError(
            f"bloom bitset has shape {bitset.shape} and dtype {bitset.dtype}; "
            f"m_bits={m_bits} needs {(m_bits + 7) // 8} uint8 bytes"
        )
    # one zero byte past the end holds the NULL sentinel position
    # m_bits when m_bits is a multiple of 8; otherwise it falls in the
    # last byte's padding, which packbits leaves zero
    table = np.append(bitset, np.uint8(0))

    @pandas_udf("boolean")
    def _all_set(buckets: pd.DataFrame) -> pd.Series:
        hit = None
        for c in buckets.columns:
            b = buckets[c].to_numpy(dtype=np.int64)
            h = ((table[b >> 3] >> (7 - (b & 7))) & 1).astype(bool)
            hit = h if hit is None else (hit & h)
        return pd.Series(hit)

    probe_struct = F.struct(
        *[
            F.coalesce(cm_bucket_expr(item, i, m_bits), F.lit(m_bits)).alias(
                f"b{i}"
            )
            for i in range(k)
        ]
    )
    return probes.select(*probes.columns, _all_set(probe_struct).alias(out_col))


def cm_estimate(
    sketch: DataFrame, items: DataFrame, item_col: str, depth: int, width: int
) -> DataFrame:
    """Point-count estimates for ``items`` from a CM sketch: each
    item's estimate is min over hash rows of its cell count — never
    an underestimate, overestimate bounded by collision mass. One
    explode of per-row probe structs (mirroring cm_sketch's build
    shape), one LEFT broadcast join against the tiny cell table, one
    min-aggregation. The LEFT join + coalesce matter: a probed item
    whose cell was never written has a TRUE count of 0 in that row,
    and an inner join would either drop the item entirely or take the
    min over only its non-empty cells — both wrong for items absent
    from the sketched data."""
    probes = items.select(
        F.col(item_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row"),
                        cm_bucket_expr(F.col(item_col), i, width).alias("bucket"),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("p"),
    ).select(item_col, F.col("p.row").alias("row"), F.col("p.bucket").alias("bucket"))
    return (
        probes.join(F.broadcast(sketch), ["row", "bucket"], "left")
        .select(item_col, F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"))
        .groupBy(item_col)
        .agg(F.min("cnt").alias("est"))
    )
