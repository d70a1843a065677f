"""Reference formulations the production operators are pinned against.

Each function here is a plain Spark-expression form of an operator
whose one production implementation is a vectorized kernel or a
collected bitset. They are kept for the equality pins only
(kernel == expression, bitset == join): integer arithmetic end to end,
so any divergence between the two is a real defect, not float noise.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from starknet_indexer_spark.operators.clustering import (
    attach_codebook_broadcasts,
    dist2_expr,
)
from starknet_indexer_spark.operators.sketches import cm_bucket_expr


def bloom_probe_hits_join(
    probes: DataFrame,
    item: Column,
    bits: DataFrame,
    k: int,
    m_bits: int,
    out_col: str = "bloom_hit",
) -> DataFrame:
    """``sketches.bloom_probe_hits`` as explode + LEFT broadcast join
    against the set-bit relation + one aggregation keyed by the probe
    row's columns. One output row per DISTINCT probe row; the hit test
    counts distinct matched salts, so duplicate rows cannot
    manufacture a false negative."""
    cols = probes.columns
    salted = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("salt"),
                    cm_bucket_expr(item, i, m_bits).alias("bit"),
                )
                for i in range(k)
            ]
        )
    )
    exploded = probes.select(*cols, salted.alias("__p")).select(
        *cols, F.col("__p.salt").alias("__salt"), F.col("__p.bit").alias("__bit")
    )
    matched = exploded.join(
        F.broadcast(bits.select(F.col("bit").alias("__bit"), F.lit(1).alias("__set"))),
        "__bit",
        "left",
    )
    hit_salts = F.count_distinct(
        F.when(F.col("__set").isNotNull(), F.col("__salt"))
    )
    return matched.groupBy(*cols).agg((hit_salts == k).alias(out_col))


def kmeans_assign(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment as an interpreted array fold over
    one broadcast centroid-array row. ``vecs``: (vec_id, qv);
    ``cents``: (cluster_id, cv). Returns (vec_id, qv, cluster, d2).
    Ties -> smallest cluster_id (struct-max over (-d2, -id))."""
    cent_arr = cents.agg(F.collect_list(F.struct("cluster_id", "cv")).alias("cs"))
    best = F.array_max(
        F.transform(
            F.col("cs"),
            lambda c: F.struct(
                (-dist2_expr(F.col("qv"), c["cv"])).alias("neg_d"),
                (-c["cluster_id"]).alias("neg_id"),
            ),
        )
    )
    return (
        vecs.crossJoin(F.broadcast(cent_arr))
        .withColumn("best", best)
        .select(
            "vec_id",
            "qv",
            (-F.col("best.neg_id")).alias("cluster"),
            (-F.col("best.neg_d")).alias("d2"),
        )
    )


def pq_encode(
    vecs: DataFrame,
    books: list[DataFrame],
    dim: int,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Encode each vector as M codebook indices plus the exact total
    quantization error, one argmin fold per subspace over a broadcast
    codebook-array row. Ties break to the smaller code id.
    ``passthrough`` columns of ``vecs`` are carried to the output."""
    m_subspaces = len(books)
    sub_len = dim // m_subspaces
    out = attach_codebook_broadcasts(vecs, books)

    def _scorer(s: Column):
        # closure factory: the lambda must be single-arg (a 2-arg
        # Python lambda — even via a default — is treated by PySpark
        # as the (element, index) form and binds the index instead)
        return lambda c: F.struct(
            (-dist2_expr(s, c["cv"])).alias("neg_d"),
            (-c["cluster_id"]).alias("neg_id"),
        )

    for m in range(m_subspaces):
        sub = F.slice(F.col("qv"), m * sub_len + 1, sub_len)
        best = F.array_max(F.transform(F.col(f"__cs_{m}"), _scorer(sub)))
        out = out.withColumn(f"__best_{m}", best)
    err = None
    cols = [F.col("vec_id"), *[F.col(c) for c in passthrough]]
    for m in range(m_subspaces):
        cols.append(
            (-F.col(f"__best_{m}.neg_id")).cast("int").alias(f"code_{m}")
        )
        e = -F.col(f"__best_{m}.neg_d")
        err = e if err is None else err + e
    return out.select(*cols, err.cast("bigint").alias("err"))


def pq_reconstruct_expr(books_cols: list[str], code_cols: list[str]) -> Column:
    """Concatenate each code's codebook entry back into a full-dim
    integer vector. ``books_cols`` name broadcast array<struct
    (cluster_id, cv)> columns; lookup is a map build + element_at."""
    parts = []
    for bc, cc in zip(books_cols, code_cols):
        m = F.map_from_entries(
            F.transform(
                F.col(bc), lambda c: F.struct(c["cluster_id"], c["cv"])
            )
        )
        parts.append(F.element_at(m, F.col(cc).cast("long")))
    out = parts[0]
    for p in parts[1:]:
        out = F.concat(out, p)
    return out
