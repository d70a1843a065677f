"""K-means clustering query over ``embeddings`` with an exact oracle.

Iterative algorithms are the driver contract's canonical example of a
"genuinely non-SQL-expressible" query that falls back to a weaker
rows-only check. This one does NOT: with a fixed iteration count the
Lloyd loop unrolls into chained CTEs, and because the operator works
on integer-quantized vectors (``operators.clustering``), every
distance and every centroid is engine-exact — so the driver gets a
full value-hash comparison even here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load, read_parquet
from ..operators.clustering import QUANT_SCALE, quantize_expr
from .registry import register

KMEANS_K = 16
KMEANS_UPDATES = 2
_DIM = 64
#: bump when the k-means training derivation changes
KMEANS_ARTIFACT_VERSION = "v1"


def kmeans_params() -> str:
    """Every hyperparameter the centroid artifact key must cover —
    the production string, also used verbatim by the key tests."""
    return f"{KMEANS_ARTIFACT_VERSION}:{KMEANS_K}:{KMEANS_UPDATES}:{QUANT_SCALE}"


def ensure_kmeans_centroids(spark: SparkSession, sf_dir: str) -> str:
    """Persisted Lloyd training (VERDICT r8 mandate #1): the trained
    (cluster_id, cv) centroid relation as a content-keyed artifact,
    shared by every query that previously retrained k-means inline
    (kmeans_cluster_assign, semdedup_select, cluster_silhouette,
    clustering_agreement_ari, ann_topk_ivf_kmeans). Training is
    integer-exact (BIGINT distances, floor-mean updates) and the
    parquet round-trip is lossless, so cached == inline training
    bit-for-bit (pinned in tests/test_silver.py). At deployment the
    fit runs offline on a sample and every consumer broadcasts this
    K-row table — exactly the ensure_ivfpq_codebooks split."""
    import os as _os

    from ..operators.clustering import kmeans_centroids
    from ..silver import ensure_artifact

    def write(d: str) -> None:
        emb = load(spark, sf_dir, "embeddings")
        vecs = emb.select("vec_id", quantize_expr(F.col("embedding")).alias("qv"))
        init = vecs.filter(F.col("vec_id") < KMEANS_K).select(
            F.col("vec_id").alias("cluster_id"), F.col("qv").alias("cv")
        )
        kmeans_centroids(vecs, init, KMEANS_UPDATES).write.mode(
            "overwrite"
        ).parquet(_os.path.join(d, "centroids"))

    return ensure_artifact(
        _os.path.join(sf_dir, "embeddings.parquet"),
        "kmeans",
        kmeans_params(),
        write,
    )


def load_kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained centroid relation (cluster_id, cv) from the
    persisted artifact — K rows, broadcastable."""
    import os as _os

    root = ensure_kmeans_centroids(spark, sf_dir)
    return read_parquet(spark, _os.path.join(root, "centroids"))


_D2_SQL = (
    "CAST(list_sum([(v.qv[k] - c.cv[k]) * (v.qv[k] - c.cv[k]) "
    f"for k in range(1, {_DIM + 1})]) AS BIGINT)"
)


def _assign_cte(i: int, cents: str) -> str:
    return f"""
    a{i} AS (
      SELECT vec_id, qv, cluster, d2 FROM (
        SELECT vec_id, qv, cluster, d2,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY d2, cluster) AS rn
        FROM (
          SELECT v.vec_id, v.qv, c.cluster_id AS cluster, {_D2_SQL} AS d2
          FROM qv v, {cents} c
        )
      ) WHERE rn = 1
    )"""


def _update_cte(i: int) -> str:
    return f"""
    c{i} AS (
      SELECT cluster AS cluster_id, list(m ORDER BY k) AS cv FROM (
        SELECT cluster, k,
               CAST(FLOOR(CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS m
        FROM (SELECT cluster, UNNEST(qv) AS x,
                     UNNEST(range(1, {_DIM + 1})) AS k
              FROM a{i})
        GROUP BY cluster, k
      ) GROUP BY cluster
    )"""


def kmeans_cte_chain() -> str:
    """The shared WITH-body: quantized vectors, init centroids, and
    KMEANS_UPDATES assign+update rounds ending at ``c{KMEANS_UPDATES}``
    (the trained centroid relation). Reused by the IVF-with-trained-
    centroids oracle (pipeline_similarity)."""
    steps = []
    for i in range(1, KMEANS_UPDATES + 1):
        steps.append(_assign_cte(i, f"c{i - 1}" if i > 1 else "c0"))
        steps.append(_update_cte(i))
    return f"""qv AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * {QUANT_SCALE} + 0.5) AS BIGINT))
               AS qv
      FROM embeddings
    ),
    c0 AS (
      SELECT vec_id AS cluster_id, qv AS cv FROM qv WHERE vec_id < {KMEANS_K}
    ),{",".join(steps)}"""


def _kmeans_oracle() -> str:
    return f"""
    WITH {kmeans_cte_chain()},{_assign_cte(KMEANS_UPDATES + 1, f"c{KMEANS_UPDATES}")}
    SELECT vec_id, cluster, d2 FROM a{KMEANS_UPDATES + 1}
    """


@register(
    "kmeans_cluster_assign",
    oracle=_kmeans_oracle(),
    doc=f"K-means (K={KMEANS_K}, {KMEANS_UPDATES} Lloyd updates + final "
    "assignment) over integer-quantized embeddings; init = the first K "
    "vectors (deterministic). Every assignment pass is MAP-ONLY (one "
    "numpy argmin-GEMM per Arrow batch under the collected K-row "
    "centroid relation — the corpus is never shuffled to assign it); "
    "each update "
    "shuffles only (cluster, component) partial sums with map-side "
    "combine. All distances are exact BIGINT sums — an iterative "
    "algorithm with a full value-hash oracle, not a rows-only check. "
    "At 100 TB: fit on a sample (mini-batch), then one map-only "
    "assignment pass over the corpus — both passes are this operator.",
)
def kmeans_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.annkernels import kmeans_assign_kernel

    emb = load(spark, sf_dir, "embeddings")
    vecs = emb.select("vec_id", quantize_expr(F.col("embedding")).alias("qv"))
    # numpy GEMM kernel (guide §4.2) — bit-identical to the
    # interpreted array folds (annkernels docstring; equality pinned in
    # tests/test_r12_optimizations.py). include_qv
    # =False: this query never reads the vector back.
    return kmeans_assign_kernel(
        vecs, load_kmeans_centroids(spark, sf_dir), include_qv=False
    )


# SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
# embedding space, then inside each cluster drop points that sit
# within epsilon of a kept representative — semantic (not lexical)
# near-dup removal. The paper keeps the point farthest from the
# centroid among each epsilon-group; this implementation keeps the
# cluster representative (centroid-nearest point) and flags everything
# within SEMDEDUP_D2_MAX of it — one deterministic pass, same
# cluster-pruned O(n) shape (vs O(n^2) all-pairs cosine).
SEMDEDUP_D2_MAX = 1_300_000_000_000  # quantized-unit d2 (~1-5th pct at sf0.001)

_D2_REP_SQL = (
    "CAST(list_sum([(r.qv[k] - r.rep_qv[k]) * (r.qv[k] - r.rep_qv[k]) "
    f"for k in range(1, {_DIM + 1})]) AS BIGINT)"
)


def _semdedup_oracle() -> str:
    fin = KMEANS_UPDATES + 1
    return f"""
    WITH {kmeans_cte_chain()},{_assign_cte(fin, f"c{KMEANS_UPDATES}")},
    ranked AS (
      SELECT vec_id, qv, cluster, d2,
             ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY d2, vec_id) AS rn
      FROM a{fin}
    ),
    reps AS (
      SELECT cluster, vec_id AS rep_id, qv AS rep_qv FROM ranked WHERE rn = 1
    ),
    scored AS (
      SELECT r.vec_id, r.cluster, p.rep_id, {_D2_REP_SQL} AS d2_rep
      FROM (SELECT ranked.*, reps.rep_qv FROM ranked JOIN reps USING (cluster)) r
      JOIN reps p USING (cluster)
    )
    SELECT vec_id, cluster, rep_id, d2_rep,
           CAST(vec_id = rep_id AS BIGINT) AS is_rep,
           CAST(vec_id = rep_id OR d2_rep > {SEMDEDUP_D2_MAX} AS BIGINT) AS keep
    FROM scored
    """


@register(
    "semdedup_select",
    oracle=_semdedup_oracle(),
    doc="SemDeDup semantic dedup: k-means clusters the embedding "
    "space (map-only assignment), each cluster's centroid-nearest "
    "point becomes the representative, and members within an exact "
    "integer d2 epsilon of it are dropped. Candidate comparisons are "
    "cluster-pruned — n comparisons total, never the all-pairs cosine "
    "product; the representative relation is K rows and broadcasts. "
    "All distances are exact BIGINTs, so even this clustering-based "
    "selector carries a full value-hash oracle.",
)
def semdedup_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.annkernels import kmeans_assign_kernel

    emb = load(spark, sf_dir, "embeddings")
    vecs = emb.select("vec_id", quantize_expr(F.col("embedding")).alias("qv"))
    # kernel assignment (r12, guide §4.2): bit-identical relation, so
    # the shared semdedup_from_assigned tail — and the stream==batch
    # keep-list contract, whose streaming side keeps the expression
    # path — is untouched
    assigned = kmeans_assign_kernel(vecs, load_kmeans_centroids(spark, sf_dir))
    # materialize=True (r12): the ranked window feeds reps + scored;
    # without it the corpus-sized assignment fold runs twice. The
    # streaming keep-list path keeps the default (micro-batches are
    # small; a per-batch checkpoint would be pure overhead there).
    return semdedup_from_assigned(assigned, materialize=True)


def semdedup_from_assigned(
    assigned: DataFrame, materialize: bool = False
) -> DataFrame:
    """The SemDeDup selection tail over an assignment relation
    (vec_id, qv, cluster, d2): centroid-nearest member becomes the
    cluster representative, members within the epsilon keep-radius of
    it are dropped. ONE definition shared by the batch query above and
    the stream-maintained keep-list (streaming/semdedup.py), so
    stream == batch cannot drift."""
    from pyspark.sql.window import Window as W

    from ..operators.clustering import dist2_expr

    ranked = assigned.withColumn(
        "rn", F.row_number().over(W.partitionBy("cluster").orderBy("d2", "vec_id"))
    )
    if materialize:
        ranked = ranked.localCheckpoint(eager=False)
    reps = ranked.filter(F.col("rn") == 1).select(
        "cluster", F.col("vec_id").alias("rep_id"), F.col("qv").alias("rep_qv")
    )
    scored = ranked.join(F.broadcast(reps), "cluster").withColumn(
        "d2_rep", dist2_expr(F.col("qv"), F.col("rep_qv"))
    )
    is_rep = F.col("vec_id") == F.col("rep_id")
    return scored.select(
        "vec_id",
        "cluster",
        "rep_id",
        "d2_rep",
        is_rep.cast("bigint").alias("is_rep"),
        (is_rep | (F.col("d2_rep") > SEMDEDUP_D2_MAX)).cast("bigint").alias("keep"),
    )


@register(
    "cluster_silhouette",
    oracle=f"""
    WITH {kmeans_cte_chain()},
    d AS (
      SELECT v.vec_id, c.cluster_id AS cid, {_D2_SQL} AS d2
      FROM qv v, c{KMEANS_UPDATES} c
    ),
    r AS (
      SELECT vec_id, cid, d2,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      FROM d
    ),
    ab AS (
      SELECT a.vec_id, a.cid AS cluster, a.d2 AS a2, b.d2 AS b2
      FROM r a JOIN r b ON a.vec_id = b.vec_id AND a.rn = 1 AND b.rn = 2
    ),
    s AS (
      SELECT cluster,
             CASE WHEN GREATEST(a2, b2) = 0 THEN 0
                  ELSE CAST(FLOOR(1000000 * CAST(b2 - a2 AS DOUBLE)
                                  / CAST(GREATEST(a2, b2) AS DOUBLE) + 0.5)
                            AS BIGINT)
             END AS s_ppm
      FROM ab
    )
    SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(FLOOR(CAST(SUM(s_ppm) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT)
             AS mean_sil_ppm
    FROM s GROUP BY cluster
    """,
    doc="Cluster-quality audit: simplified (centroid-based) silhouette "
    "per k-means cluster — s(i) = (b2-a2)/max(a2,b2) over SQUARED "
    "distances to the own vs second-nearest trained centroid, the "
    "standard O(nK) silhouette approximation (the exact form is an "
    "O(n^2) all-pairs pass). The audit a clustering-driven pipeline "
    "stage (SemDeDup, IVF cell sizing, diversity sampling) runs before "
    "trusting its clusters. Integer-exact: quantized vectors make "
    "every d2 a BIGINT; per-doc s is ppm-rounded (FLOOR(x+0.5)) before "
    "the per-cluster mean so the aggregate is order-invariant. Scale "
    "shape: a2/b2 come from one numpy GEMM per Arrow batch against "
    "the collected K-row centroid relation (map-only — the corpus is "
    "shuffled once, by cluster id, for the final 16-row mean).",
)
def cluster_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.annkernels import silhouette_kernel

    emb = load(spark, sf_dir, "embeddings")
    vecs = emb.select("vec_id", quantize_expr(F.col("embedding")).alias("qv"))
    cents = load_kmeans_centroids(spark, sf_dir)
    # numpy GEMM kernel (optimization r12, guide §4.2) for the
    # (cluster, a2, b2) scan pass — bit-identical to the former
    # broadcast-centroid-array formulation's interpreted (d2, cid)
    # struct folds: argmin over id-sorted rows IS array_min's
    # (d2 asc, cluster asc) struct tie-break (annkernels docstring;
    # equality pinned in tests/test_r12_optimizations.py)
    scored = silhouette_kernel(vecs, cents)
    s_ppm = F.when(F.greatest("a2", "b2") == 0, F.lit(0)).otherwise(
        F.floor(
            F.lit(1000000)
            * (F.col("b2") - F.col("a2")).cast("double")
            / F.greatest("a2", "b2").cast("double")
            + F.lit(0.5)
        ).cast("bigint")
    )
    return (
        scored.select("cluster", s_ppm.alias("s_ppm"))
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.floor(
                F.sum("s_ppm").cast("double") / F.count(F.lit(1)) + F.lit(0.5)
            )
            .cast("bigint")
            .alias("mean_sil_ppm"),
        )
    )


def _ari_oracle() -> str:
    from ..operators.similarity import N_CENTROIDS

    return f"""
    WITH {kmeans_cte_chain()},{_assign_cte(KMEANS_UPDATES + 1, f"c{KMEANS_UPDATES}")},
    v AS (
      SELECT vec_id, embedding::DOUBLE[] AS ev,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS en
      FROM embeddings
    ),
    cent AS (
      SELECT vec_id AS centroid_id, ev AS cv, en AS cn FROM v
      WHERE vec_id < {N_CENTROIDS}
    ),
    ivf AS (
      SELECT vec_id, centroid_id AS cell FROM (
        SELECT v.vec_id, cent.centroid_id,
               ROW_NUMBER() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY list_dot_product(v.ev, cent.cv) / (v.en * cent.cn) DESC,
                          cent.centroid_id) AS crank
        FROM v, cent
      ) WHERE crank = 1
    ),
    joined AS (
      SELECT k.cluster AS a, i.cell AS b
      FROM a{KMEANS_UPDATES + 1} k JOIN ivf i ON i.vec_id = k.vec_id
    ),
    cont AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS nij FROM joined GROUP BY a, b),
    sums AS (
      SELECT CAST(SUM(nij) AS BIGINT) AS n,
             CAST(SUM(nij * (nij - 1) // 2) AS BIGINT) AS s_ij
      FROM cont
    ),
    sa AS (
      SELECT CAST(SUM(ai * (ai - 1) // 2) AS BIGINT) AS s_a
      FROM (SELECT SUM(nij) AS ai FROM cont GROUP BY a)
    ),
    sb AS (
      SELECT CAST(SUM(bj * (bj - 1) // 2) AS BIGINT) AS s_b
      FROM (SELECT SUM(nij) AS bj FROM cont GROUP BY b)
    )
    SELECT n, s_ij AS pairs_both, s_a AS pairs_a, s_b AS pairs_b,
           CAST(FLOOR(1000000.0
                * (n * (n - 1) / 2 * s_ij - s_a * s_b)
                / (n * (n - 1) / 2 * (s_a + s_b) / 2.0 - s_a * s_b)
                + 0.5) AS BIGINT) AS ari_ppm
    FROM sums CROSS JOIN sa CROSS JOIN sb
    """


@register(
    "clustering_agreement_ari",
    oracle=_ari_oracle(),
    doc="Clustering-agreement audit: adjusted Rand index between the "
    "trained k-means clustering and the IVF cell assignment over the "
    "same embeddings — the standard check that two independently-"
    "derived partitions (e.g. the dedup clustering vs the ANN index "
    "cells) see compatible structure before one is used to prune work "
    "for the other. Exactness: pair-counting form — the contingency "
    "matrix and all three C(x,2) sums are BIGINTs; ARI's rational "
    "expression is evaluated once in double and ppm-rounded "
    "(FLOOR(x+0.5)), identical on both engines. Scale shape: one "
    "vec_id-keyed join of two map-only assignment passes, a "
    "contingency groupBy (K x cells rows), and constant-size sums — "
    "the corpus shuffles once.",
)
def clustering_agreement_ari(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.annkernels import kmeans_assign_kernel
    from ..operators.similarity import N_CENTROIDS, ivf_assign

    emb = load(spark, sf_dir, "embeddings")
    vecs = emb.select("vec_id", quantize_expr(F.col("embedding")).alias("qv"))
    # k-means side via the numpy kernel (r12, guide §4.2 — bit-exact);
    # the IVF side below stays expression-based: its cosine similarity
    # is DOUBLE arithmetic, where a GEMM's different accumulation
    # order could flip a last-ulp rounding (annkernels docstring)
    km = kmeans_assign_kernel(
        vecs, load_kmeans_centroids(spark, sf_dir), include_qv=False
    ).select("vec_id", F.col("cluster").alias("a"))

    v = emb.select(
        "vec_id",
        F.col("embedding").alias("ev"),
        F.sqrt(
            F.aggregate(
                F.zip_with(
                    "embedding",
                    "embedding",
                    lambda x, y: x.cast("double") * y.cast("double"),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ).alias("en"),
    )
    cent = v.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("ev").alias("cv"),
        F.col("en").alias("cn"),
    )
    ivf = ivf_assign(v, cent, 1).select("vec_id", F.col("centroid_id").alias("b"))

    cont = (
        km.join(ivf, "vec_id")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("nij"))
    )
    c2 = lambda c: F.expr(f"{c} * ({c} - 1) DIV 2")  # noqa: E731
    sums = cont.agg(
        F.sum("nij").cast("bigint").alias("n"),
        F.sum(F.expr("nij * (nij - 1) DIV 2")).cast("bigint").alias("pairs_both"),
    )
    sa = (
        cont.groupBy("a")
        .agg(F.sum("nij").alias("ai"))
        .agg(F.sum(c2("ai")).cast("bigint").alias("pairs_a"))
    )
    sb = (
        cont.groupBy("b")
        .agg(F.sum("nij").alias("bj"))
        .agg(F.sum(c2("bj")).cast("bigint").alias("pairs_b"))
    )
    out = sums.crossJoin(F.broadcast(sa)).crossJoin(F.broadcast(sb))
    c = F.col("n") * (F.col("n") - 1) / F.lit(2)
    ari = F.floor(
        F.lit(1000000.0)
        * (c * F.col("pairs_both") - F.col("pairs_a") * F.col("pairs_b"))
        / (c * (F.col("pairs_a") + F.col("pairs_b")) / F.lit(2.0)
           - F.col("pairs_a") * F.col("pairs_b"))
        + F.lit(0.5)
    ).cast("bigint")
    return out.select("n", "pairs_both", "pairs_a", "pairs_b", ari.alias("ari_ppm"))
