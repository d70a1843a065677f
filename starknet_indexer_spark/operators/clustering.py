"""K-means clustering over embedding vectors (Lloyd's algorithm).

Training-data-pipeline surface: corpus clustering for semantic dedup,
cluster-balanced sampling, and IVF centroid training (the
``operators.similarity.ivf_assign`` docstring's "real deployment
trains centroids with k-means" — this is that trainer).

Exactness design — why an *iterative* algorithm can still carry a
value-hash DuckDB oracle:

- Vectors are quantized once to integer micro-units
  (``round(x * 1e6)`` via the engine-portable FLOOR(x*1e6+0.5)), so
  every distance is an exact BIGINT sum of squared integer diffs —
  no float addition anywhere in the hot loop, hence no
  summation-order nondeterminism between Spark partitions or between
  Spark and DuckDB.
- Centroid updates are integer floor-means (FLOOR(sum/count) in
  double over BIGINT sums — exact while |sum| < 2^53, i.e. up to
  ~9e9 unit-scale vectors per cluster; beyond that shard the mean).
- Argmin ties break on the smaller centroid id, totally ordering the
  assignment.

Scale shape: the assignment pass is MAP-ONLY — the K centroid rows
are collected once per round and the argmin runs as one int64 numpy
GEMM per Arrow batch (``operators.annkernels.kmeans_assign_kernel``);
the corpus is never shuffled to assign it. The update pass shuffles (cluster, component)
partial sums with map-side combine — K*dim result rows regardless of
corpus size. At 100 TB the standard play is mini-batch k-means (fit on
a sample, assign the full corpus with the final map-only pass); both
passes here are that building block.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .annkernels import kmeans_assign_kernel

# One unit = 1e-6 of the raw component value.
QUANT_SCALE = 1_000_000


def quantize_expr(vec: Column) -> Column:
    """float array -> BIGINT micro-unit array, identical on both
    engines (FLOOR(x*1e6+0.5) — round() half-way behavior differs
    between Spark and DuckDB, floor+0.5 does not)."""
    return F.transform(
        vec,
        lambda x: F.floor(x.cast("double") * QUANT_SCALE + F.lit(0.5)).cast("bigint"),
    )


def dist2_expr(a: Column, b: Column) -> Column:
    """Exact squared L2 distance between two BIGINT arrays — an
    integer fold, no floats."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def kmeans_update(assigned: DataFrame) -> DataFrame:
    """Per-cluster integer floor-mean centroids from an assignment.
    posexplode -> (cluster, pos) partial sums (map-side combine; the
    shuffled relation is K*dim rows) -> reassemble ordered arrays.
    Clusters that lost all members simply drop out (standard k-means;
    deterministic on both engines)."""
    comp = assigned.select("cluster", F.posexplode("qv").alias("pos", "x"))
    means = comp.groupBy("cluster", "pos").agg(
        F.floor(F.sum("x").cast("double") / F.count("*")).cast("bigint").alias("m")
    )
    return (
        means.groupBy("cluster")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
            ).alias("cv")
        )
        .select(F.col("cluster").alias("cluster_id"), "cv")
    )


def kmeans_centroids(vecs: DataFrame, init_cents: DataFrame, n_updates: int) -> DataFrame:
    """The trained centroid relation (cluster_id, cv) after
    ``n_updates`` Lloyd rounds over ``vecs`` (vec_id, qv).

    Each round's assignment collects the previous round's centroids
    (K rows) into the kernel, so every round runs one Spark job when
    this function is called and no round's plan nests the one before
    it. The returned relation (the last round's update) is lazily
    localCheckpoint'ed so consumers that read it more than once — the
    IVF-PQ trainer's residual assignment, residual join and artifact
    write — do not re-run the last round."""
    cents = init_cents
    for _ in range(n_updates):
        cents = kmeans_update(kmeans_assign_kernel(vecs, cents))
    return cents.localCheckpoint(eager=False)


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the billion-scale ANN compression path
# ---------------------------------------------------------------------------


def pq_codebooks(
    vecs: DataFrame, dim: int, m_subspaces: int, k: int, n_updates: int
) -> list[DataFrame]:
    """One k-means codebook per subspace: split each quantized vector
    into ``m_subspaces`` contiguous slices and run the integer-exact
    Lloyd trainer on each (init = the first ``k`` vectors' slices,
    deterministic). Returns the list of (cluster_id, cv) relations.

    At 100 TB the trainer runs on a sample (mini-batch k-means, like
    the full-vector case); each codebook is k rows of dim/M ints —
    trivially broadcastable."""
    sub_len = dim // m_subspaces
    books = []
    for m in range(m_subspaces):
        sub = vecs.select(
            "vec_id", F.slice("qv", m * sub_len + 1, sub_len).alias("qv")
        )
        init = sub.filter(F.col("vec_id") < k).select(
            F.col("vec_id").alias("cluster_id"), F.col("qv").alias("cv")
        )
        books.append(kmeans_centroids(sub, init, n_updates))
    return books


def attach_codebook_broadcasts(
    df: DataFrame, books: list[DataFrame], prefix: str = "__cs_"
) -> DataFrame:
    """Cross-join one broadcast array<struct(cluster_id, cv)> row per
    codebook onto ``df`` (columns ``{prefix}{m}``) — the ADC lookup
    table build (``queries.pipeline_pq._adc_lut_cols``)."""
    out = df
    for m, cents in enumerate(books):
        arr = cents.agg(
            F.collect_list(F.struct("cluster_id", "cv")).alias(f"{prefix}{m}")
        )
        out = out.crossJoin(F.broadcast(arr))
    return out
