"""Similarity search + near-dup detection over ``embeddings`` and
``documents``.

Brute-force cosine top-k is the correctness baseline (exact); the
LSH-bucketed variants in ``operators.similarity`` / ``operators.dedup``
are the 100 TB scale path (candidate generation via banding so the
pairwise join only touches colliding buckets, not the full cross
product).

Float determinism: dot products fold over double-cast arrays in
sequential element order on both engines, similarities are rounded
before ranking, and ties break on vec_id — so the Spark and DuckDB
top-k sets agree exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..catalog import load
from ..operators.dedup import word_shingles_expr
from ..operators.similarity import (
    N_CENTROIDS,
    N_PROBE,
    bucket_sql_exprs,
    ivf_assign,
    with_bucket,
)
from .registry import register

N_QUERIES = 10  # vec_id < 10 are the query vectors
TOP_K = 5
NEAR_DUP_SIM = 0.40


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _with_norm(df: DataFrame, id_out: str, vec_out: str, norm_out: str) -> DataFrame:
    return df.select(
        F.col("vec_id").alias(id_out),
        F.col("embedding").alias(vec_out),
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias(norm_out),
    )


@register(
    "ann_topk_cosine",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS qn
      FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    c AS (
      SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS cn
      FROM embeddings
    ),
    sims AS (
      SELECT q.query_id, c.neighbor_id,
             CAST(FLOOR(list_dot_product(q.qv, c.cv) / (q.qn * c.cn)
                        * 10000 + 0.5) AS BIGINT) AS sim_i4
      FROM q, c WHERE q.query_id <> c.neighbor_id
    )
    SELECT query_id, neighbor_id,
           CAST(sim_i4 AS DOUBLE) / 10000.0 AS sim, rank FROM (
      SELECT query_id, neighbor_id, sim_i4,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY sim_i4 DESC, neighbor_id) AS rank
      FROM sims
    ) WHERE rank <= {TOP_K}
    """,
    doc="Brute-force exact cosine top-k over the embedding column: the "
    "ANN correctness baseline, run on the blocked-GEMM kernel "
    "(operators/similarity.gemm_topk_neighbors — corpus hash-tiled, "
    "broadcast query batch replicated per tile, one numpy GEMM per "
    "task emitting its tile-local top-k under the final comparator, "
    "exact window merge over n_blocks*k candidates per query). Sims "
    "quantize to integer ten-thousandths (FLOOR(x*1e4+0.5), the "
    "repo-wide idiom) BEFORE ranking on both engines; the emitted "
    "sim is sim_i4/1e4. No query-x-corpus pairwise relation ever "
    "materializes and the per-pair dot product runs at BLAS speed "
    "instead of a per-row Catalyst fold. GEMM-vs-sequential-fold "
    "float divergence carries the same ~2^-40 quantization-boundary "
    "adjudication as embedding_near_dup_blocked.",
)
def ann_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import gemm_topk_neighbors

    emb = load(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < N_QUERIES)
    cands = gemm_topk_neighbors(emb, probes, TOP_K)
    w = W.partitionBy("query_id").orderBy(
        F.col("sim_i4").desc(), F.col("neighbor_id")
    )
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .select(
            "query_id",
            "neighbor_id",
            (F.col("sim_i4") / F.lit(10000.0)).alias("sim"),
            "rank",
        )
    )


def _ann_lsh_oracle() -> str:
    bucket = bucket_sql_exprs("ev")
    return f"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS ev,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS en
      FROM embeddings
    ),
    vb AS (SELECT vec_id, ev, en, {bucket} AS bucket FROM v),
    q AS (
      SELECT vec_id AS query_id, ev AS qv, en AS qn, bucket
      FROM vb WHERE vec_id < {N_QUERIES}
    ),
    sims AS (
      SELECT q.query_id, vb.vec_id AS neighbor_id,
             ROUND(list_dot_product(q.qv, vb.ev) / (q.qn * vb.en), 4) AS sim
      FROM q JOIN vb ON q.bucket = vb.bucket AND q.query_id <> vb.vec_id
    )
    SELECT query_id, neighbor_id, sim, rank FROM (
      SELECT query_id, neighbor_id, sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM sims
    ) WHERE rank <= {TOP_K}
    """


@register(
    "ann_topk_lsh",
    oracle=_ann_lsh_oracle(),
    doc="LSH-bucketed ANN (random-hyperplane signs -> bucket id; "
    "candidates = same-bucket equi-join; per-query top-k window). "
    "The scale variant of ann_topk_cosine: bucket assignment is "
    "map-only, the join shuffles on bucket instead of crossing the "
    "corpus, and recall tunes via n_planes / OR-ed tables.",
)
def ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    vb = with_bucket(_with_norm(emb, "vec_id", "ev", "en"), "ev")
    q = vb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("ev").alias("qv"),
        F.col("en").alias("qn"),
        "bucket",
    )
    sims = (
        vb.join(F.broadcast(q), "bucket")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(_dot(F.col("qv"), F.col("ev")) / (F.col("qn") * F.col("en")), 4).alias("sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def _ann_ivf_oracle() -> str:
    return f"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS ev,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS en
      FROM embeddings
    ),
    cent AS (
      SELECT vec_id AS centroid_id, ev AS cv, en AS cn FROM v
      WHERE vec_id < {N_CENTROIDS}
    ),
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT v.vec_id, cent.centroid_id,
               ROW_NUMBER() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY list_dot_product(v.ev, cent.cv) / (v.en * cent.cn) DESC,
                          cent.centroid_id) AS crank
        FROM v, cent
      ) WHERE crank = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, centroid_id FROM (
        SELECT v.vec_id, cent.centroid_id,
               ROW_NUMBER() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY list_dot_product(v.ev, cent.cv) / (v.en * cent.cn) DESC,
                          cent.centroid_id) AS crank
        FROM v, cent WHERE v.vec_id < {N_QUERIES}
      ) WHERE crank <= {N_PROBE}
    ),
    cands AS (
      SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
      FROM probes p JOIN assign a ON a.centroid_id = p.centroid_id
      WHERE a.vec_id <> p.query_id
    ),
    sims AS (
      SELECT c.query_id, c.neighbor_id,
             ROUND(list_dot_product(q.ev, n.ev) / (q.en * n.en), 4) AS sim
      FROM cands c
      JOIN v q ON q.vec_id = c.query_id
      JOIN v n ON n.vec_id = c.neighbor_id
    )
    SELECT query_id, neighbor_id, sim, rank FROM (
      SELECT query_id, neighbor_id, sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM sims
    ) WHERE rank <= {TOP_K}
    """


@register(
    "ann_topk_ivf",
    oracle=_ann_ivf_oracle(),
    doc="IVF ANN: every vector assigned to its nearest centroid list "
    "(map-only, centroids broadcast); each query probes its "
    f"{N_PROBE} nearest lists and ranks candidates by exact cosine. "
    "The inverted-list join shuffles on centroid_id — the list, not "
    "the corpus, is the unit of work. Deterministic sampled centroids "
    "stand in for k-means training (same plumbing, different recall).",
)
def ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    v = _with_norm(emb, "vec_id", "ev", "en")
    cent = (
        v.filter(F.col("vec_id") < N_CENTROIDS)
        .select(
            F.col("vec_id").alias("centroid_id"),
            F.col("ev").alias("cv"),
            F.col("en").alias("cn"),
        )
    )
    assign = ivf_assign(v, cent, 1).select("vec_id", "centroid_id")
    probes = ivf_assign(v.filter(F.col("vec_id") < N_QUERIES), cent, N_PROBE).select(
        F.col("vec_id").alias("query_id"), "centroid_id"
    )
    # probes is N_QUERIES x N_PROBE rows — broadcast it so the corpus
    # assignment relation never shuffles for the inverted-list join
    cands = (
        assign.join(F.broadcast(probes), "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    q = v.select(
        F.col("vec_id").alias("query_id"), F.col("ev").alias("qv"), F.col("en").alias("qn")
    )
    n = v.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("ev").alias("nv"),
        F.col("en").alias("nn"),
    )
    sims = (
        cands.join(F.broadcast(q), "query_id")
        .join(n, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(_dot(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn")), 4).alias(
                "sim"
            ),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


#: Shared by the theta-join baseline and its blocked-GEMM twin — both
#: compute the identical exact result set.
_NEAR_DUP_ORACLE = f"""
    WITH v AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS ev,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS en
      FROM embeddings
    )
    SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.label AS a_label, b.label AS b_label,
           FLOOR(list_dot_product(a.ev, b.ev) / (a.en * b.en) * 10000 + 0.5) / 10000 AS sim
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE FLOOR(list_dot_product(a.ev, b.ev) / (a.en * b.en) * 10000 + 0.5) / 10000
          >= {NEAR_DUP_SIM}
    """


@register(
    "embedding_near_dup",
    oracle=_NEAR_DUP_ORACLE,
    doc="Embedding-cosine near-duplicate pairs (a<b ordering; the corpus "
    f"is near-random so the threshold {NEAR_DUP_SIM} marks a 3.2-sigma "
    "tail). NEGATIVE-CONTROL BASELINE: the theta join is a "
    "BroadcastNestedLoopJoin evaluating a per-row Catalyst fold — kept "
    "as the semantic reference the scale path is pinned against. The "
    "scale path is embedding_near_dup_blocked (exact blocked GEMM); "
    "LSH banding is NOT lossless this deep in the tail (SCALE.md 6n).",
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    a = emb.select(
        F.col("vec_id").alias("a_id"),
        F.col("label").alias("a_label"),
        F.col("embedding").alias("av"),
    ).withColumn("an", F.sqrt(_dot(F.col("av"), F.col("av"))))
    b = emb.select(
        F.col("vec_id").alias("b_id"),
        F.col("label").alias("b_label"),
        F.col("embedding").alias("bv"),
    ).withColumn("bn", F.sqrt(_dot(F.col("bv"), F.col("bv"))))
    # FLOOR(x*1e4 + 0.5)/1e4 on all three engines (Spark, DuckDB,
    # numpy kernel) — see blocked_cosine_pairs float note (r8 ADVICE)
    sim = (
        F.floor(_dot(F.col("av"), F.col("bv")) / (F.col("an") * F.col("bn"))
                * F.lit(1e4) + F.lit(0.5)) / F.lit(1e4)
    )
    return (
        a.join(b, F.col("a_id") < F.col("b_id"))
        .withColumn("sim", sim)
        .filter(F.col("sim") >= NEAR_DUP_SIM)
        .select("a_id", "b_id", "a_label", "b_label", "sim")
    )


@register(
    "embedding_near_dup_blocked",
    oracle=_NEAR_DUP_ORACLE,
    doc="Exact blocked-GEMM twin of embedding_near_dup (VERDICT r7 "
    "mandate #2): block-partitioned cogroup tiles, one numpy GEMM per "
    "(bi <= bj) block pair, threshold scan emits only qualifying "
    "pairs. Same oracle as the baseline — the result set is identical "
    "by construction (tests/test_operators.py pins equality, incl. "
    "n_blocks 1/3/8 tiling variants). See "
    "operators.similarity.blocked_cosine_pairs for the 100 TB story "
    "and the written-out argument for why LSH banding cannot be "
    "lossless at a 3.2-sigma threshold.",
)
def embedding_near_dup_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import blocked_cosine_pairs

    emb = load(spark, sf_dir, "embeddings")
    return blocked_cosine_pairs(emb, NEAR_DUP_SIM)


@register(
    "ngram_similar_pairs",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'),
                         ' '), x -> x <> '') AS tokens
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct([tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]
                            for i in range(1, len(tokens) - 1)]) AS shingles
      FROM toks WHERE len(tokens) >= 3
    ),
    ex AS (SELECT doc_id, UNNEST(shingles) AS shingle, len(shingles) AS n_sh FROM sh),
    pair_inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             a.n_sh AS a_n, b.n_sh AS b_n, COUNT(*) AS inter
      FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id, a.n_sh, b.n_sh
    )
    SELECT a_id, b_id, inter,
           ROUND(CAST(inter AS DOUBLE) / (a_n + b_n - inter), 6) AS jaccard
    FROM pair_inter
    WHERE CAST(inter AS DOUBLE) / (a_n + b_n - inter) >= 0.2
    """,
    doc="N-gram Jaccard near-dup: word 3-gram shingle sets, candidate "
    "pairs via shared-shingle equi-join (inverted index — never a full "
    "cross product), exact Jaccard from distinct-shingle counts. "
    "This inverted-index join IS the scale path: shuffle on shingle, "
    "skew-guarded by dropping ubiquitous shingles upstream if needed.",
)
def ngram_similar_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    tokens = F.filter(
        F.split(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " "), " "),
        lambda x: x != "",
    )
    toks = docs.select("doc_id", tokens.alias("tokens"))
    # zip_with slices, not transform(sequence): the exploded inverted
    # index would otherwise re-evaluate the shingle lambda per output
    # row (see operators.dedup.word_ngrams_expr)
    shingles = word_shingles_expr(F.col("tokens"), 3)
    # docs with <3 tokens have no 3-gram shingles on either side
    sh = toks.filter(F.size("tokens") >= 3).select("doc_id", shingles.alias("shingles"))
    ex = sh.select(
        "doc_id", F.size("shingles").alias("n_sh"), F.explode("shingles").alias("shingle")
    )
    a = ex.select(
        F.col("doc_id").alias("a_id"), F.col("n_sh").alias("a_n"), F.col("shingle")
    )
    b = ex.select(
        F.col("doc_id").alias("b_id"), F.col("n_sh").alias("b_n"), F.col("shingle")
    )
    pair_inter = (
        a.join(b, ["shingle"])
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id", "a_n", "b_n")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.col("inter").cast("double") / (F.col("a_n") + F.col("b_n") - F.col("inter"))
    return (
        pair_inter.filter(jac >= 0.2)
        .select("a_id", "b_id", "inter", F.round(jac, 6).alias("jaccard"))
    )


def _ann_ivf_kmeans_oracle() -> str:
    from .pipeline_clustering import KMEANS_UPDATES, kmeans_cte_chain

    from ..operators.clustering import QUANT_SCALE

    return f"""
    WITH {kmeans_cte_chain()},
    cent AS (
      SELECT cluster_id AS centroid_id,
             list_transform(cv, x -> CAST(x AS DOUBLE) / {QUANT_SCALE}) AS cv
      FROM c{KMEANS_UPDATES}
    ),
    centn AS (
      SELECT centroid_id, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM cent
    ),
    v AS (
      SELECT vec_id, embedding::DOUBLE[] AS ev,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS en
      FROM embeddings
    ),
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT v.vec_id, c.centroid_id,
               ROW_NUMBER() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY list_dot_product(v.ev, c.cv) / (v.en * c.cn) DESC,
                          c.centroid_id) AS crank
        FROM v, centn c
      ) WHERE crank = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, centroid_id FROM (
        SELECT v.vec_id, c.centroid_id,
               ROW_NUMBER() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY list_dot_product(v.ev, c.cv) / (v.en * c.cn) DESC,
                          c.centroid_id) AS crank
        FROM v, centn c WHERE v.vec_id < {N_QUERIES}
      ) WHERE crank <= {N_PROBE}
    ),
    cands AS (
      SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
      FROM probes p JOIN assign a ON a.centroid_id = p.centroid_id
      WHERE a.vec_id <> p.query_id
    ),
    sims AS (
      SELECT c.query_id, c.neighbor_id,
             ROUND(list_dot_product(q.ev, n.ev) / (q.en * n.en), 4) AS sim
      FROM cands c
      JOIN v q ON q.vec_id = c.query_id
      JOIN v n ON n.vec_id = c.neighbor_id
    )
    SELECT query_id, neighbor_id, sim, rank FROM (
      SELECT query_id, neighbor_id, sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM sims
    ) WHERE rank <= {TOP_K}
    """


@register(
    "ann_topk_ivf_kmeans",
    oracle=_ann_ivf_kmeans_oracle(),
    doc="IVF ANN with TRAINED centroids: the k-means operator "
    "(operators.clustering, integer-exact Lloyd rounds) supplies the "
    "inverted-list centroids instead of ann_topk_ivf's deterministic "
    "sample — the composition its docstring promises. Centroids "
    "dequantize to exact doubles (bigint/1e6 — correctly rounded "
    "identically on both engines), then the probe pipeline is the "
    "same map-only assignment + broadcast inverted-list join. Recall "
    "improves because lists now follow the data distribution; the "
    "plumbing and shuffle shape are unchanged.",
)
def ann_topk_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import QUANT_SCALE
    from .pipeline_clustering import load_kmeans_centroids

    emb = load(spark, sf_dir, "embeddings")
    trained = load_kmeans_centroids(spark, sf_dir)
    cv = F.transform("cv", lambda x: x.cast("double") / QUANT_SCALE)
    cent = trained.select(
        F.col("cluster_id").alias("centroid_id"), cv.alias("cv")
    ).select("centroid_id", "cv", F.sqrt(_dot(F.col("cv"), F.col("cv"))).alias("cn"))

    v = _with_norm(emb, "vec_id", "ev", "en")
    assign = ivf_assign(v, cent, 1).select("vec_id", "centroid_id")
    probes = ivf_assign(v.filter(F.col("vec_id") < N_QUERIES), cent, N_PROBE).select(
        F.col("vec_id").alias("query_id"), "centroid_id"
    )
    cands = (
        assign.join(F.broadcast(probes), "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    q = v.select(
        F.col("vec_id").alias("query_id"), F.col("ev").alias("qv"), F.col("en").alias("qn")
    )
    n = v.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("ev").alias("nv"),
        F.col("en").alias("nn"),
    )
    sims = (
        cands.join(F.broadcast(q), "query_id")
        .join(n, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(_dot(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn")), 4).alias(
                "sim"
            ),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection (sparse, Achlioptas 2003)
# ---------------------------------------------------------------------------

RP_OUT_DIM = 16
RP_IN_DIM = 64
# Knuth multiplicative constant; the projection matrix entry for
# (output dim j, input dim k) is derived from ((j*64+k)*RP_MULT) % 6:
# 0 -> +1, 1 -> -1, else 0 — the sparse JL distribution (+1/-1 with
# prob 1/6 each, 0 with prob 2/3). A fixed integer derivation instead
# of runtime randomness keeps Spark and DuckDB byte-identical.
RP_MULT = 2_654_435_761


def _rp_entry_sql(j: str, k: str) -> str:
    return (
        f"CASE (({j} * {RP_IN_DIM} + {k}) * {RP_MULT}) % 6 "
        "WHEN 0 THEN 1 WHEN 1 THEN -1 ELSE 0 END"
    )


def _rp_project(qv) -> "Column":
    """16 projected BIGINT components of a quantized vector column —
    the sparse JL matrix folded inside the scan (shared by the
    reduction query and the coarse-to-fine ANN)."""

    def entry(j: int, k) -> "Column":
        h = ((F.lit(j) * RP_IN_DIM + k) * F.lit(RP_MULT)) % 6
        return F.when(h == 0, F.lit(1)).when(h == 1, F.lit(-1)).otherwise(F.lit(0))

    def proj(j: int) -> "Column":
        pairs = F.zip_with(
            qv,
            F.sequence(F.lit(1).cast("bigint"), F.lit(RP_IN_DIM).cast("bigint")),
            lambda x, k: x * entry(j, k).cast("bigint"),
        )
        return F.aggregate(pairs, F.lit(0).cast("bigint"), lambda acc, x: acc + x)

    return F.array(*[proj(j) for j in range(RP_OUT_DIM)])


@register(
    "random_projection_reduce",
    oracle=f"""
    WITH qv AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qv
      FROM embeddings
    )
    SELECT vec_id, CAST(j AS BIGINT) AS j,
           CAST(list_sum([qv[k] * ({_rp_entry_sql("j", "k")})
                          for k in range(1, {RP_IN_DIM + 1})]) AS BIGINT) AS p
    FROM qv, UNNEST(range({RP_OUT_DIM})) AS u(j)
    """,
    doc="Sparse random projection 64 -> 16 dims (Johnson-Lindenstrauss "
    "via the Achlioptas +1/0/-1 matrix, derived from a fixed integer "
    "hash so both engines build the identical matrix). Map-only: each "
    "vector folds through 16 integer dot products inside the scan — "
    "the standard pre-step that makes downstream ANN distance "
    "computation 4x cheaper per comparison at 100 TB, with JL "
    "distance-preservation guarantees. Exact BIGINT output (quantized "
    "input), so the reduction itself is value-hash checked.",
)
def random_projection_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import quantize_expr

    emb = load(spark, sf_dir, "embeddings")
    qv = emb.select("vec_id", quantize_expr(F.col("embedding")).alias("qv"))
    return qv.select(
        "vec_id",
        F.posexplode(_rp_project(F.col("qv"))).alias("j", "p"),
    ).select("vec_id", F.col("j").cast("bigint").alias("j"), "p")


SHORTLIST = 32  # coarse candidates per query before exact re-rank

_RP_PROJ_SQL = (
    f"[ CAST(list_sum([qv[k] * ({_rp_entry_sql('j', 'k')}) "
    f"for k in range(1, {RP_IN_DIM + 1})]) AS BIGINT) "
    f"for j in range(0, {RP_OUT_DIM}) ]"
)


@register(
    "ann_topk_rp_rerank",
    oracle=f"""
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS ev,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS en,
             list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qv
      FROM embeddings
    ),
    pv AS (SELECT vec_id, ev, en, {_RP_PROJ_SQL} AS pv FROM base),
    q AS (
      SELECT vec_id AS query_id, ev AS q_ev, en AS qn, pv AS q_pv
      FROM pv WHERE vec_id < {N_QUERIES}
    ),
    coarse AS (
      SELECT query_id, neighbor_id, q_ev, qn, ev, en FROM (
        SELECT q.query_id, c.vec_id AS neighbor_id, q.q_ev, q.qn, c.ev, c.en,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY list_sum([ (q.q_pv[j] - c.pv[j]) * (q.q_pv[j] - c.pv[j])
                                     for j in range(1, {RP_OUT_DIM + 1}) ]),
                          c.vec_id) AS crank
        FROM q, pv c WHERE q.query_id <> c.vec_id
      ) WHERE crank <= {SHORTLIST}
    )
    SELECT query_id, neighbor_id, sim, rank FROM (
      SELECT query_id, neighbor_id,
             ROUND(list_dot_product(q_ev, ev) / (qn * en), 4) AS sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY ROUND(list_dot_product(q_ev, ev)
                                               / (qn * en), 4) DESC,
                                         neighbor_id) AS rank
      FROM coarse
    ) WHERE rank <= {TOP_K}
    """,
    doc="Coarse-to-fine ANN: JL-projected 16-dim integer distances "
    "shortlist 32 candidates per query (4x cheaper per comparison, "
    "exact BIGINT so the shortlist is deterministic), then the full "
    "64-dim cosine re-ranks only the shortlist to a final top-k. The "
    "two-stage shape is how production vector search spends its "
    "compute at 100 TB: the cheap metric touches everything, the "
    "expensive metric touches SHORTLIST x queries rows.",
)
def ann_topk_rp_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import dist2_expr, quantize_expr

    emb = load(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.col("embedding").alias("ev"),
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("en"),
        _rp_project(quantize_expr(F.col("embedding"))).alias("pv"),
    )
    q = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("ev").alias("q_ev"),
        F.col("en").alias("qn"),
        F.col("pv").alias("q_pv"),
    )
    coarse = (
        base.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("vec_id"))
        .withColumn("d2p", dist2_expr(F.col("q_pv"), F.col("pv")))
        .withColumn(
            "crank",
            F.row_number().over(
                W.partitionBy("query_id").orderBy("d2p", F.col("vec_id"))
            ),
        )
        .filter(F.col("crank") <= SHORTLIST)
    )
    sim = F.round(_dot(F.col("q_ev"), F.col("ev")) / (F.col("qn") * F.col("en")), 4)
    return (
        coarse.select(
            "query_id", F.col("vec_id").alias("neighbor_id"), sim.alias("sim")
        )
        .withColumn(
            "rank",
            F.row_number().over(
                W.partitionBy("query_id").orderBy(
                    F.col("sim").desc(), F.col("neighbor_id")
                )
            ),
        )
        .filter(F.col("rank") <= TOP_K)
    )


def _ivf_oracle_parts() -> tuple[str, str]:
    """Split the IVF oracle (a full SELECT with its own WITH-chain)
    into its CTE list and its final SELECT, so other oracles can embed
    it as one relation."""
    ivf = _ann_ivf_oracle().strip()
    if not ivf.startswith("WITH "):
        raise ValueError("IVF oracle SQL must start with a WITH-chain")
    body = ivf[len("WITH "):]
    idx = body.rindex("SELECT query_id, neighbor_id, sim, rank FROM (")
    return body[:idx].rstrip().rstrip(","), body[idx:]


def _ann_recall_eval_oracle() -> str:
    """Gold (exact cosine top-k) and system (IVF top-k) CTE chains
    composed into one mirror — the same reuse the Spark side gets by
    calling the two registered operators."""
    # the IVF oracle's CTE list and final SELECT (the `sys` relation)
    ivf_ctes, ivf_final = _ivf_oracle_parts()
    return f"""
    WITH {ivf_ctes},
    sys AS ({ivf_final}),
    gold AS (
      SELECT query_id, neighbor_id, rank FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY CAST(FLOOR(list_dot_product(q.ev, c.ev)
                                     / (q.en * c.en) * 10000 + 0.5)
                               AS BIGINT) DESC,
                          c.vec_id) AS rank
        FROM v q JOIN v c ON q.vec_id < {N_QUERIES}
                         AND c.vec_id <> q.vec_id
      ) WHERE rank <= {TOP_K}
    ),
    hits AS (
      SELECT g.query_id,
             CAST(COUNT(s.neighbor_id) AS BIGINT) AS n_hit
      FROM gold g LEFT JOIN sys s
        ON s.query_id = g.query_id AND s.neighbor_id = g.neighbor_id
      GROUP BY g.query_id
    ),
    rr AS (
      SELECT g.query_id,
             CAST(COALESCE(FLOOR(1000000.0 / s.rank + 0.5), 0) AS BIGINT)
               AS rr_micro
      FROM gold g LEFT JOIN sys s
        ON s.query_id = g.query_id AND s.neighbor_id = g.neighbor_id
      WHERE g.rank = 1
    )
    SELECT h.query_id, h.n_hit,
           CAST(FLOOR(1000000.0 * h.n_hit / {TOP_K} + 0.5) AS BIGINT)
             AS recall_ppm,
           rr.rr_micro
    FROM hits h JOIN rr ON rr.query_id = h.query_id
    """


@register(
    "ann_recall_eval",
    oracle=_ann_recall_eval_oracle(),
    doc="Retrieval-quality evaluation: per query, recall@5 and the "
    "reciprocal rank of the TRUE nearest neighbor, measuring the IVF "
    "index (ann_topk_ivf) against exact-cosine gold (ann_topk_cosine) "
    "— the accept/reject gate every ANN index deployment runs before "
    "serving, as a first-class query rather than a test assertion. "
    "Composition of two already-verified operators (same plans); "
    "metrics stay integer (hit counts; ppm/micro via FLOOR(x+0.5) at "
    "the end). Scale shape: both branches are the verified operators' "
    "plans; the eval join touches only the two top-k relations "
    "(n_queries x k rows each — broadcast-sized at any corpus scale).",
)
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    gold = ann_topk_cosine(spark, sf_dir).select("query_id", "neighbor_id", "rank")
    sys_ = ann_topk_ivf(spark, sf_dir).select(
        F.col("query_id").alias("s_qid"),
        F.col("neighbor_id").alias("s_nid"),
        F.col("rank").alias("s_rank"),
    )
    matched = gold.join(
        sys_,
        (F.col("query_id") == F.col("s_qid"))
        & (F.col("neighbor_id") == F.col("s_nid")),
        "left",
    ).localCheckpoint(eager=False)  # feeds hits + rr: one execution of
    # BOTH ANN pipelines (gold exact-GEMM scan + IVF) instead of two (r12)
    hits = matched.groupBy("query_id").agg(
        F.count("s_nid").cast("bigint").alias("n_hit")
    )
    rr = (
        matched.filter(F.col("rank") == 1)
        .select(
            "query_id",
            F.coalesce(
                F.floor(F.lit(1000000.0) / F.col("s_rank") + F.lit(0.5)),
                F.lit(0),
            )
            .cast("bigint")
            .alias("rr_micro"),
        )
    )
    return hits.join(rr, "query_id").select(
        "query_id",
        "n_hit",
        F.floor(F.lit(1000000.0) * F.col("n_hit") / TOP_K + F.lit(0.5))
        .cast("bigint")
        .alias("recall_ppm"),
        "rr_micro",
    )


def _ann_ndcg_oracle() -> str:
    """Graded-relevance nDCG@k of the IVF list against exact-cosine
    gold: gold rank r carries gain 2^(k-r) (exponential graded
    relevance); every per-position contribution gain/log2(pos+1) is
    micro-rounded BEFORE summation so DCG sums are order-invariant
    BIGINTs, and ideal-DCG is the same sum over the identity ranking."""
    ivf_ctes, ivf_final = _ivf_oracle_parts()
    return f"""
    WITH {ivf_ctes},
    sys AS ({ivf_final}),
    gold AS (
      SELECT query_id, neighbor_id, rank,
             CAST(POWER(2, {TOP_K} - rank) AS BIGINT) AS gain
      FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY CAST(FLOOR(list_dot_product(q.ev, c.ev)
                                     / (q.en * c.en) * 10000 + 0.5)
                               AS BIGINT) DESC,
                          c.vec_id) AS rank
        FROM v q JOIN v c ON q.vec_id < {N_QUERIES}
                         AND c.vec_id <> q.vec_id
      ) WHERE rank <= {TOP_K}
    ),
    dcg AS (
      SELECT s.query_id,
             CAST(SUM(CAST(FLOOR(1000000.0 * COALESCE(g.gain, 0)
                                 / log2(s.rank + 1) + 0.5) AS BIGINT))
                  AS BIGINT) AS dcg_micro
      FROM sys s LEFT JOIN gold g
        ON g.query_id = s.query_id AND g.neighbor_id = s.neighbor_id
      GROUP BY s.query_id
    ),
    ideal AS (
      SELECT query_id,
             CAST(SUM(CAST(FLOOR(1000000.0 * gain
                                 / log2(rank + 1) + 0.5) AS BIGINT))
                  AS BIGINT) AS idcg_micro
      FROM gold GROUP BY query_id
    )
    SELECT d.query_id, d.dcg_micro, i.idcg_micro,
           CAST(FLOOR(1000000.0 * d.dcg_micro / i.idcg_micro + 0.5) AS BIGINT)
             AS ndcg_ppm
    FROM dcg d JOIN ideal i ON i.query_id = d.query_id
    """


@register(
    "ann_ndcg_eval",
    oracle=_ann_ndcg_oracle(),
    doc=f"Graded retrieval-quality evaluation: nDCG@{TOP_K} of the IVF "
    "list against exact-cosine gold — position-sensitive where "
    "ann_recall_eval's recall/RR are not (a hit at system rank 5 "
    "scores less than at rank 1; a gold-rank-1 hit carries more gain "
    "than gold-rank-5). Gains are exponential in gold rank "
    "(2^(k-rank), the standard graded form); every per-position "
    "gain/log2(pos+1) contribution is micro-rounded BEFORE the sum so "
    "DCG and ideal-DCG are order-invariant BIGINTs; one final ppm "
    "rounding for the ratio. Scale shape: both branches are the "
    "verified operators' plans; the eval join touches only the two "
    "top-k relations.",
)
def ann_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    gold = ann_topk_cosine(spark, sf_dir).select(
        F.col("query_id").alias("g_qid"),
        F.col("neighbor_id").alias("g_nid"),
        F.pow(F.lit(2.0), F.lit(TOP_K) - F.col("rank")).cast("bigint").alias("gain"),
        F.col("rank").alias("g_rank"),
    )
    # NOTE (r12): a localCheckpoint here was tried and REVERTED — the
    # dcg and ideal subtrees share the GEMM cogroup exchange, which
    # Spark already reuses; the checkpoint only added materialization
    # cost (interleaved A/B: 2.37s with vs 2.06s without).
    sys_ = ann_topk_ivf(spark, sf_dir).select("query_id", "neighbor_id", "rank")
    contrib = F.floor(
        F.lit(1000000.0)
        * F.coalesce(F.col("gain"), F.lit(0))
        / F.log2(F.col("rank") + 1)
        + F.lit(0.5)
    ).cast("bigint")
    dcg = (
        sys_.join(
            gold,
            (F.col("query_id") == F.col("g_qid"))
            & (F.col("neighbor_id") == F.col("g_nid")),
            "left",
        )
        .groupBy("query_id")
        .agg(F.sum(contrib).cast("bigint").alias("dcg_micro"))
    )
    ideal_contrib = F.floor(
        F.lit(1000000.0) * F.col("gain") / F.log2(F.col("g_rank") + 1) + F.lit(0.5)
    ).cast("bigint")
    ideal = gold.groupBy(F.col("g_qid").alias("query_id")).agg(
        F.sum(ideal_contrib).cast("bigint").alias("idcg_micro")
    )
    return dcg.join(ideal, "query_id").select(
        "query_id",
        "dcg_micro",
        "idcg_micro",
        F.floor(
            F.lit(1000000.0) * F.col("dcg_micro") / F.col("idcg_micro") + F.lit(0.5)
        )
        .cast("bigint")
        .alias("ndcg_ppm"),
    )


#: probe-sample rate for embedding-space audits: 1-in-2^2 of vectors
KNN_AUDIT_RATIO_BITS = 2


def _knn_sample_sql() -> str:
    from ..operators.sketches import hash_sample_pred_sql

    return hash_sample_pred_sql("CAST(vec_id AS VARCHAR)", KNN_AUDIT_RATIO_BITS)


@register(
    "knn_label_agreement",
    oracle=f"""
    WITH c AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS ev,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS en
      FROM embeddings
    ),
    q AS (
      SELECT vec_id AS query_id, label AS q_label, ev AS qv, en AS qn FROM c
      WHERE {{sample_sql}}
    ),
    sims AS (
      SELECT q.query_id, q.q_label, c.label AS n_label,
             CAST(FLOOR(list_dot_product(q.qv, c.ev) / (q.qn * c.en)
                        * 10000 + 0.5) AS BIGINT) AS sim_i4,
             c.vec_id AS neighbor_id
      FROM q, c WHERE q.query_id <> c.vec_id
    ),
    topk AS (
      SELECT query_id, q_label, n_label FROM (
        SELECT query_id, q_label, n_label,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY sim_i4 DESC, neighbor_id) AS rank
        FROM sims
      ) WHERE rank <= {{k}}
    ),
    per_probe AS (
      SELECT query_id, q_label,
             SUM(CASE WHEN n_label = q_label THEN 1 ELSE 0 END) AS n_same
      FROM topk GROUP BY query_id, q_label
    )
    SELECT q_label AS label,
           CAST(COUNT(*) AS BIGINT) AS n_probes,
           CAST(SUM(n_same) AS BIGINT) AS n_same_total,
           CAST(FLOOR(1000000.0 * SUM(n_same)
                      / (COUNT(*) * {{k}}) + 0.5) AS BIGINT) AS agreement_ppm
    FROM per_probe GROUP BY q_label
    """.format(sample_sql=_knn_sample_sql(), k=TOP_K),
    doc="Embedding-quality audit: leave-one-out kNN label agreement — "
    "for a deterministic 1-in-4 hash-sample of vectors, the fraction "
    "of their exact-cosine top-5 neighbors sharing their label, "
    "aggregated per label. The acceptance gate before any "
    "kNN-mediated pipeline stage (label propagation, kNN-filtered "
    "sampling, retrieval-augmented labeling) is trusted: near-random "
    "agreement (~1/n_labels) means the embedding carries no label "
    "signal and the stage should not run. Integer outputs: sims "
    "quantize to ten-thousandths (FLOOR(x*1e4+0.5)) before ranking, "
    "probe and same-label neighbor counts are BIGINTs, one ppm "
    "rounding per label. Scale shape: the exact kNN runs on the "
    "blocked-GEMM kernel (operators/similarity.gemm_topk_neighbors — "
    "corpus hash-tiled, probes replicated per tile, each task one "
    "numpy GEMM emitting its tile-local top-k under the final "
    "comparator, exact window merge over n_blocks*k candidates per "
    "probe), so no probes-x-corpus pairwise relation ever "
    "materializes and the per-pair dot product runs at BLAS speed "
    "instead of a per-row Catalyst fold. GEMM-vs-sequential-fold "
    "float divergence carries the same ~2^-40 quantization-boundary "
    "adjudication as embedding_near_dup_blocked.",
)
def knn_label_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import gemm_topk_neighbors
    from ..operators.sketches import hash_sample_pred

    emb = load(spark, sf_dir, "embeddings")
    probes = emb.filter(
        hash_sample_pred(F.col("vec_id").cast("string"), KNN_AUDIT_RATIO_BITS)
    )
    # broadcast the SMALL side (candidates: |sample| * k rows), never
    # the corpus-cardinality label relation (code-review r9b: a hint on
    # labels would ship every label to every executor at 100 TB)
    cands = gemm_topk_neighbors(emb, probes, TOP_K)
    labels = emb.select("vec_id", "label")
    topk = F.broadcast(
        F.broadcast(cands).join(
            labels.select(
                F.col("vec_id").alias("query_id"), F.col("label").alias("q_label")
            ),
            "query_id",
        )
    ).join(
        labels.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("n_label"),
        ),
        "neighbor_id",
    )
    per_probe = topk.groupBy("query_id", "q_label").agg(
        F.sum((F.col("n_label") == F.col("q_label")).cast("int")).alias("n_same")
    )
    return per_probe.groupBy(F.col("q_label").alias("label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_probes"),
        F.sum("n_same").cast("bigint").alias("n_same_total"),
        F.floor(
            F.lit(1000000.0) * F.sum("n_same") / (F.count(F.lit(1)) * TOP_K)
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("agreement_ppm"),
    )


#: margin-acceptance cut for mined pairs (ppm of the margin ratio);
#: 1.05 is the standard mined-bitext operating point (Artetxe &
#: Schwenk 2019) — the synthetic corpus clusters around 1.0 so the
#: flag separates the tail, not everything
MARGIN_ACCEPT_PPM = 1_050_000


def _margin_oracle() -> str:
    def topk_side(qcte: str, ccte: str, qa: str, ca: str, out: str) -> str:
        return f"""
    assign_{out} AS (
      SELECT vec_id, centroid_id FROM (
        SELECT c.vec_id, cent.centroid_id,
               ROW_NUMBER() OVER (
                 PARTITION BY c.vec_id
                 ORDER BY list_dot_product(c.ev, cent.cv) / (c.en * cent.cn) DESC,
                          cent.centroid_id) AS crank
        FROM {ccte} c, cent
      ) WHERE crank = 1
    ),
    probes_{out} AS (
      SELECT vec_id AS q_id, centroid_id FROM (
        SELECT q.vec_id, cent.centroid_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_dot_product(q.ev, cent.cv) / (q.en * cent.cn) DESC,
                          cent.centroid_id) AS crank
        FROM {qcte} q, cent
      ) WHERE crank <= {N_PROBE}
    ),
    sims_{out} AS (
      SELECT DISTINCT p.q_id AS {qa}, s.vec_id AS {ca},
             CAST(FLOOR(list_dot_product(q.ev, n.ev) / (q.en * n.en)
                        * 10000 + 0.5) AS BIGINT) AS sim_i4
      FROM probes_{out} p
      JOIN assign_{out} s USING (centroid_id)
      JOIN {qcte} q ON q.vec_id = p.q_id
      JOIN {ccte} n ON n.vec_id = s.vec_id
    ),
    topk_{out} AS (
      SELECT {qa}, {ca}, sim_i4 FROM (
        SELECT {qa}, {ca}, sim_i4,
               ROW_NUMBER() OVER (PARTITION BY {qa}
                                  ORDER BY sim_i4 DESC, {ca}) AS rank
        FROM sims_{out}
      ) WHERE rank <= {TOP_K}
    )"""

    return f"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS ev,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS en
      FROM embeddings
    ),
    cent AS (
      SELECT vec_id AS centroid_id, ev AS cv, en AS cn FROM v
      WHERE vec_id < {N_CENTROIDS}
    ),
    sa AS (SELECT * FROM v WHERE vec_id % 2 = 0),
    sb AS (SELECT * FROM v WHERE vec_id % 2 = 1),{topk_side("sa", "sb", "a_id", "b_id", "f")},{topk_side("sb", "sa", "b_id", "a_id", "r")},
    sum_f AS (SELECT a_id, SUM(sim_i4) AS s_f FROM topk_f GROUP BY a_id),
    sum_r AS (SELECT b_id, SUM(sim_i4) AS s_r FROM topk_r GROUP BY b_id),
    u AS (
      SELECT a_id, b_id, sim_i4 FROM topk_f
      UNION
      SELECT a_id, b_id, sim_i4 FROM topk_r
    )
    SELECT u.a_id, u.b_id, u.sim_i4,
           CAST(FLOOR(1000000.0 * 2 * {TOP_K} * u.sim_i4
                      / (f.s_f + r.s_r) + 0.5) AS BIGINT) AS margin_ppm,
           CAST(CAST(FLOOR(1000000.0 * 2 * {TOP_K} * u.sim_i4
                      / (f.s_f + r.s_r) + 0.5) AS BIGINT)
                >= {MARGIN_ACCEPT_PPM} AS BIGINT) AS accepted
    FROM u
    JOIN sum_f f USING (a_id)
    JOIN sum_r r USING (b_id)
    WHERE f.s_f + r.s_r > 0
    """


@register(
    "margin_neighbor_mining",
    oracle=_margin_oracle(),
    doc="Margin-based neighbor mining (Artetxe & Schwenk 2019 — the "
    "CCMatrix/LASER bitext-mining scorer): the corpus splits into two "
    "sides (vec_id parity stands in for two languages/crawls), each "
    "side's vectors find their IVF-restricted exact-cosine top-5 in "
    "the other side, and every candidate pair is scored by "
    "margin = cos(x, y) / ((avgNN_k(x) + avgNN_k(y)) / 2) — the ratio "
    "form that suppresses hubness where a raw cosine cut cannot. "
    "Pairs above the 1.05 operating point are flagged accepted. "
    "Exactness: sims quantized to integer ten-thousandths "
    "(FLOOR(x*1e4+0.5)) BEFORE ranking and summation, so top-k ties, "
    "k-sums and the single end ppm-rounding are engine-identical; "
    "pairs found in both directions carry the identical sim and "
    "collapse in the set-union. Scale shape: the deployed FAISS-based "
    "miner approximates kNN with an IVF index — this is that shape on "
    "the repo's IVF machinery: cell assignment is map-only against "
    "broadcast centroids, the candidate join shuffles on centroid_id "
    "(the IVF partition layout), per-query top-k windows never "
    "global-sort, and the margin stats are two side-sized aggs. Sides "
    "whose probe cells contain no counterpart (no kNN list) cannot be "
    "margin-scored and drop, as in the reference miner.",
)
def margin_neighbor_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    v = _with_norm(emb, "vec_id", "ev", "en")
    cent = v.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("ev").alias("cv"),
        F.col("en").alias("cn"),
    )
    sa = v.filter(F.col("vec_id") % 2 == 0)
    sb = v.filter(F.col("vec_id") % 2 == 1)

    def topk_side(q: DataFrame, c: DataFrame, qa: str, ca: str) -> DataFrame:
        # IVF-cell-grouped GEMM: each candidate's full-precision dot
        # runs inside its (rank-1) assignment cell's tile — a (qid,
        # vid) pair appears in at most ONE group, the precondition of
        # gemm_topk_grouped's exact window merge. Replaces the
        # per-candidate Catalyst zip_with fold (the former #2 headline
        # cost) with one numpy GEMM per cell.
        from ..operators.similarity import gemm_topk_grouped

        assign = ivf_assign(c, cent, 1).select("vec_id", "centroid_id")
        probes = ivf_assign(q, cent, N_PROBE).select(
            F.col("vec_id").alias("q_id"), "centroid_id"
        )
        c_keyed = assign.join(
            c.select("vec_id", F.col("ev").alias("vec")), "vec_id"
        ).select(
            F.col("centroid_id").alias("pid"),
            F.col("vec_id").alias("vid"),
            "vec",
        )
        p_keyed = probes.join(
            q.select(F.col("vec_id").alias("q_id"), F.col("ev").alias("qvec")),
            "q_id",
        ).select(
            F.col("centroid_id").alias("pid"),
            F.col("q_id").alias("qid"),
            "qvec",
        )
        return gemm_topk_grouped(c_keyed, p_keyed, TOP_K).select(
            F.col("query_id").alias(qa),
            F.col("neighbor_id").alias(ca),
            "sim_i4",
        )

    # NOTE (r12): a localCheckpoint on each side was tried and
    # REVERTED — the plan shows 8 FlatMapCoGroupsInPandas nodes (each
    # side's GEMM subtree printed under both its consumers), but at
    # runtime the consumers share the cogroup exchange, so nothing
    # re-executes and the checkpoint only added materialization cost
    # (interleaved A/B: 2.55/3.05 with vs 2.64 without — the
    # ann_ndcg_eval case again).
    topk_f = topk_side(sa, sb, "a_id", "b_id")
    topk_r = topk_side(sb, sa, "b_id", "a_id")
    sum_f = topk_f.groupBy("a_id").agg(F.sum("sim_i4").alias("s_f"))
    sum_r = topk_r.groupBy("b_id").agg(F.sum("sim_i4").alias("s_r"))
    u = topk_f.select("a_id", "b_id", "sim_i4").union(
        topk_r.select("a_id", "b_id", "sim_i4")
    ).distinct()
    margin = (
        F.floor(
            F.lit(1000000.0) * 2 * TOP_K * F.col("sim_i4")
            / (F.col("s_f") + F.col("s_r"))
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("margin_ppm")
    )
    return (
        u.join(sum_f, "a_id")
        .join(sum_r, "b_id")
        .filter(F.col("s_f") + F.col("s_r") > 0)
        .select("a_id", "b_id", "sim_i4", margin)
        .withColumn(
            "accepted",
            (F.col("margin_ppm") >= MARGIN_ACCEPT_PPM).cast("bigint"),
        )
    )
