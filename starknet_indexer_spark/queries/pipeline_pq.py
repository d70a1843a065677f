"""Product-quantization (PQ) queries over the embeddings table.

PQ is the canonical billion-scale ANN compression: split each d-dim
vector into M contiguous subspaces, train a small k-means codebook per
subspace, and store each vector as M code indices (64 floats -> 4
bytes here). Search computes asymmetric distances (ADC): the exact
query vector against each candidate's *reconstructed* (decoded)
vector. Combined with IVF bucketing (`operators/similarity.py`) this
is the IVF-PQ design every large vector store runs.

Exactness: vectors are integer-quantized (operators/clustering.py
QUANT_SCALE) so codebook training, encoding, reconstruction, and ADC
distances are all exact BIGINT arithmetic — both queries carry full
value-hash DuckDB oracles despite PQ being an approximation of the
underlying geometry (the *approximation itself* is deterministic).

Scale shape: codebook training is the k-means trainer (sample-sized at
deployment); ENCODING IS MAP-ONLY — since optimization r12 a numpy
argmin-GEMM kernel (operators/annkernels.py, bit-identical to the
expression folds) rather than interpreted array folds; the corpus is
never shuffled to encode it. ADC search uses the per-query K x M
distance lookup table (the deployment form): candidates pay M compiled
map lookups instead of reconstruction + an O(dim) fold, exact by the
integer subspace decomposition (_adc_lut_cols).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..catalog import load
from ..operators.clustering import (
    QUANT_SCALE,
    attach_codebook_broadcasts,
    dist2_expr,
    pq_codebooks,
    quantize_expr,
)
from .registry import register

PQ_DIM = 64
PQ_M = 4          # subspaces of 16 dims each
PQ_K = 16         # 16 codes per subspace -> 4 x 4-bit codes per vector
PQ_UPDATES = 1    # Lloyd rounds per codebook (oracle-compact; scale up freely)
PQ_N_QUERIES = 10
PQ_TOP_K = 5

_SUB_LEN = PQ_DIM // PQ_M


def _sub_d2(dim: int, v: str = "v", c: str = "c") -> str:
    return (
        f"CAST(list_sum([({v}.qv[k] - {c}.cv[k]) * ({v}.qv[k] - {c}.cv[k]) "
        f"for k in range(1, {dim + 1})]) AS BIGINT)"
    )


def _assign_cte(name: str, src: str, cents: str, dim: int) -> str:
    return f"""
    {name} AS (
      SELECT vec_id, qv, cluster, d2 FROM (
        SELECT vec_id, qv, cluster, d2,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY d2, cluster) AS rn
        FROM (
          SELECT v.vec_id, v.qv, c.cluster_id AS cluster, {_sub_d2(dim)} AS d2
          FROM {src} v, {cents} c
        )
      ) WHERE rn = 1
    )"""


def _update_cte(name: str, assigned: str, dim: int) -> str:
    return f"""
    {name} AS (
      SELECT cluster AS cluster_id, list(m ORDER BY k) AS cv FROM (
        SELECT cluster, k,
               CAST(FLOOR(CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS m
        FROM (SELECT cluster, UNNEST(qv) AS x,
                     UNNEST(range(1, {dim + 1})) AS k
              FROM {assigned})
        GROUP BY cluster, k
      ) GROUP BY cluster
    )"""


def _pq_cte_chain() -> str:
    """Shared WITH-body: quantized full vectors, then per subspace m a
    slice relation s{m}, PQ_UPDATES Lloyd rounds, and the final
    encoding f{m} = (vec_id, code, d2)."""
    steps = [
        f"""qvfull AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * {QUANT_SCALE} + 0.5) AS BIGINT))
               AS qv
      FROM embeddings
    )"""
    ]
    for m in range(PQ_M):
        lo, hi = m * _SUB_LEN + 1, (m + 1) * _SUB_LEN
        steps.append(
            f"""
    s{m} AS (SELECT vec_id, qv[{lo}:{hi}] AS qv FROM qvfull),
    cb{m}_0 AS (
      SELECT vec_id AS cluster_id, qv AS cv FROM s{m} WHERE vec_id < {PQ_K}
    )"""
        )
        prev = f"cb{m}_0"
        for i in range(1, PQ_UPDATES + 1):
            steps.append(_assign_cte(f"as{m}_{i}", f"s{m}", prev, _SUB_LEN))
            steps.append(_update_cte(f"cb{m}_{i}", f"as{m}_{i}", _SUB_LEN))
            prev = f"cb{m}_{i}"
        steps.append(_assign_cte(f"f{m}", f"s{m}", prev, _SUB_LEN))
    return ",".join(steps)


_CODE_COLS = ", ".join(f"f{m}.cluster AS code_{m}" for m in range(PQ_M))
_ERR_SUM = " + ".join(f"f{m}.d2" for m in range(PQ_M))
_F_JOINS = "f0" + "".join(
    f" JOIN f{m} ON f0.vec_id = f{m}.vec_id" for m in range(1, PQ_M)
)


@register(
    "pq_encode_codes",
    oracle=f"""
    WITH {_pq_cte_chain()}
    SELECT f0.vec_id AS vec_id, {_CODE_COLS},
           CAST({_ERR_SUM} AS BIGINT) AS err
    FROM {_F_JOINS}
    """,
    doc=f"Product-quantization encoding (M={PQ_M} subspaces x K={PQ_K} "
    f"codes, {PQ_UPDATES} Lloyd round per codebook): each 64-dim "
    "embedding compresses to 4 code indices + the exact total "
    "quantization error. Codebook training reuses the integer-exact "
    "k-means trainer per slice; the encoding pass is MAP-ONLY (one "
    "numpy argmin-GEMM per Arrow batch under collected K-row "
    "codebooks — the corpus is never shuffled to encode it). The full "
    "iterative pipeline is value-hash-checked against a DuckDB "
    "CTE-chain mirror.",
)
def pq_encode_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.annkernels import pq_kernel

    emb = load(spark, sf_dir, "embeddings")
    vecs = emb.select("vec_id", quantize_expr(F.col("embedding")).alias("qv"))
    # codebooks from the persisted training artifact (offline at
    # deployment); the encode pass is the numpy argmin-GEMM kernel
    # (optimization r12, guide §4.2) — still map-only, bit-identical
    # to pq_encode's interpreted folds (pinned in
    # tests/test_r12_optimizations.py)
    books = _load_pq_codebooks(spark, sf_dir)
    return pq_kernel(vecs, books, PQ_DIM, emit_codes=True, emit_err=True)


def _adc_lut_cols(qv_col, books: list[DataFrame], df: DataFrame) -> DataFrame:
    """Attach per-row ADC lookup-table map columns ``__lut_m``:
    code_id -> exact d2 between ``qv_col``'s m-th subspace slice and
    that code's codebook entry. The classic ADC table (optimization
    r12): squared L2 over concatenated disjoint subspaces decomposes
    EXACTLY into the per-subspace sums, so
    ``d2(q, decode(codes)) == SUM_m lut_m[code_m]`` in integer
    arithmetic — reconstruction and the 64-dim per-candidate fold
    are replaced by M compiled map lookups. The interpreted dist2
    folds now run only inside the LUT build: |queries| x K x M tiny
    rows instead of per candidate. Maps (not position-indexed
    arrays) because k-means codebooks can drop empty clusters —
    code ids need not be contiguous."""
    out = attach_codebook_broadcasts(df, books)
    sub_len = PQ_DIM // len(books)

    def entry(sub):
        # closure factory: the transform lambda must be SINGLE-arg —
        # a 2-arg lambda (even via a default) is PySpark's
        # (element, index) form and would bind the index instead
        # (the operators.clustering._scorer trap)
        return lambda c: F.struct(c["cluster_id"], dist2_expr(sub, c["cv"]))

    for m in range(len(books)):
        sub = F.slice(qv_col, m * sub_len + 1, sub_len)
        out = out.withColumn(
            f"__lut_{m}",
            F.map_from_entries(F.transform(F.col(f"__cs_{m}"), entry(sub))),
        ).drop(f"__cs_{m}")
    return out


def _adc_d2_expr(m_subspaces: int):
    d2 = None
    for m in range(m_subspaces):
        e = F.element_at(F.col(f"__lut_{m}"), F.col(f"code_{m}").cast("long"))
        d2 = e if d2 is None else d2 + e
    return d2



@register(
    "pq_ann_adc_topk",
    oracle=f"""
    WITH {_pq_cte_chain()},
    codes AS (
      SELECT f0.vec_id AS vec_id, {_CODE_COLS} FROM {_F_JOINS}
    ),
    recon AS (
      SELECT codes.vec_id AS neighbor_id,
             cb0_{PQ_UPDATES}.cv || cb1_{PQ_UPDATES}.cv
               || cb2_{PQ_UPDATES}.cv || cb3_{PQ_UPDATES}.cv AS rv
      FROM codes
      JOIN cb0_{PQ_UPDATES} ON codes.code_0 = cb0_{PQ_UPDATES}.cluster_id
      JOIN cb1_{PQ_UPDATES} ON codes.code_1 = cb1_{PQ_UPDATES}.cluster_id
      JOIN cb2_{PQ_UPDATES} ON codes.code_2 = cb2_{PQ_UPDATES}.cluster_id
      JOIN cb3_{PQ_UPDATES} ON codes.code_3 = cb3_{PQ_UPDATES}.cluster_id
    ),
    q AS (
      SELECT vec_id AS query_id, qv FROM qvfull WHERE vec_id < {PQ_N_QUERIES}
    ),
    dists AS (
      SELECT q.query_id, r.neighbor_id,
             CAST(list_sum([(q.qv[k] - r.rv[k]) * (q.qv[k] - r.rv[k])
                            for k in range(1, {PQ_DIM + 1})]) AS BIGINT) AS d2
      FROM q, recon r WHERE q.query_id <> r.neighbor_id
    )
    SELECT query_id, neighbor_id, d2, rank FROM (
      SELECT query_id, neighbor_id, d2,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY d2, neighbor_id) AS rank
      FROM dists
    ) WHERE rank <= {PQ_TOP_K}
    """,
    doc=f"Asymmetric-distance (ADC) top-{PQ_TOP_K} search over "
    "PQ-encoded vectors: the exact query vector scores against each "
    "candidate's reconstructed (decoded) vector — the search half of "
    "the IVF-PQ design, computed through the per-query K x M distance "
    "lookup table (exact integer subspace decomposition, so the "
    "result equals explicit reconstruction bit-for-bit). The LUT "
    "batch is broadcast, candidates pay M compiled map lookups, and "
    "the only shuffle is the per-query top-k window. Integer-exact "
    "end to end, so the approximate search is itself hash-verified. "
    "Measured "
    "on the near-random synthetic embeddings (PQ's hardest regime): "
    "ADC@5 recall ~0.26 alone, >= 0.9 composed with an exact re-rank "
    "of the ADC top-100 shortlist — the deployment shape, pinned in "
    "tests/test_operators.py::TestProductQuantization.",
)
def pq_ann_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.annkernels import pq_kernel

    emb = load(spark, sf_dir, "embeddings")
    vecs = emb.select("vec_id", quantize_expr(F.col("embedding")).alias("qv"))
    books = _load_pq_codebooks(spark, sf_dir)
    # encode: numpy argmin-GEMM kernel (r12, guide §4.2 — bit-equal to
    # pq_encode); search: the per-query ADC lookup table the docstring
    # has always described as the deployment shape (_adc_lut_cols) —
    # same integers, value-hash-verified against the unchanged oracle
    codes = pq_kernel(vecs, books, PQ_DIM, emit_codes=True).withColumnRenamed(
        "vec_id", "neighbor_id"
    )
    q = vecs.filter(F.col("vec_id") < PQ_N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("qv")
    )
    q_lut = _adc_lut_cols(F.col("qv"), books, q).drop("qv")
    dists = (
        codes.crossJoin(F.broadcast(q_lut))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", _adc_d2_expr(PQ_M).alias("d2"))
    )
    w = W.partitionBy("query_id").orderBy(F.col("d2"), F.col("neighbor_id"))
    return (
        dists.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= PQ_TOP_K)
        .select("query_id", "neighbor_id", "d2", "rank")
    )


# ---------------------------------------------------------------------------
# IVF-PQ: coarse cells + residual PQ + probe-limited ADC search
# ---------------------------------------------------------------------------

IVF_CELLS = 8
IVF_UPDATES = 1
IVF_NPROBE = 3


def _ivfpq_cte_chain() -> str:
    """Coarse k-means chain over full vectors (cells cc*), residuals
    vs the assigned cell, then per-subspace PQ chains over residual
    slices — the shared WITH-body for the IVF-PQ oracle."""
    steps = [
        f"""qvfull AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * {QUANT_SCALE} + 0.5) AS BIGINT))
               AS qv
      FROM embeddings
    ),
    cc_0 AS (
      SELECT vec_id AS cluster_id, qv AS cv FROM qvfull WHERE vec_id < {IVF_CELLS}
    )"""
    ]
    prev = "cc_0"
    for i in range(1, IVF_UPDATES + 1):
        steps.append(_assign_cte(f"cas_{i}", "qvfull", prev, PQ_DIM))
        steps.append(_update_cte(f"cc_{i}", f"cas_{i}", PQ_DIM))
        prev = f"cc_{i}"
    steps.append(_assign_cte("casg", "qvfull", prev, PQ_DIM))
    steps.append(
        f"""
    resid AS (
      SELECT a.vec_id, a.cluster,
             [a.qv[k] - c.cv[k] for k in range(1, {PQ_DIM + 1})] AS qv
      FROM casg a JOIN {prev} c ON a.cluster = c.cluster_id
    )"""
    )
    for m in range(PQ_M):
        lo, hi = m * _SUB_LEN + 1, (m + 1) * _SUB_LEN
        steps.append(
            f"""
    rs{m} AS (SELECT vec_id, qv[{lo}:{hi}] AS qv FROM resid),
    rb{m}_0 AS (
      SELECT vec_id AS cluster_id, qv AS cv FROM rs{m} WHERE vec_id < {PQ_K}
    )"""
        )
        bprev = f"rb{m}_0"
        for i in range(1, PQ_UPDATES + 1):
            steps.append(_assign_cte(f"ras{m}_{i}", f"rs{m}", bprev, _SUB_LEN))
            steps.append(_update_cte(f"rb{m}_{i}", f"ras{m}_{i}", _SUB_LEN))
            bprev = f"rb{m}_{i}"
        steps.append(_assign_cte(f"rf{m}", f"rs{m}", bprev, _SUB_LEN))
    return ",".join(steps)


_R_JOINS = "rf0" + "".join(
    f" JOIN rf{m} ON rf0.vec_id = rf{m}.vec_id" for m in range(1, PQ_M)
)
_RB_FINAL = [f"rb{m}_{PQ_UPDATES}" for m in range(PQ_M)]
_PRV = " || ".join(f"{b}.cv" for b in _RB_FINAL)
_RB_JOIN = "".join(
    f" JOIN {b} ON rcodes.code_{m} = {b}.cluster_id"
    for m, b in enumerate(_RB_FINAL)
)


def _ivfpq_search_ctes(nprobe: int) -> str:
    """WITH-body through the ``dists`` CTE of the IVF-PQ search
    oracle, parameterized by probe width (shared by the raw ADC query
    and the rerank composition)."""
    return f"""
    WITH {_ivfpq_cte_chain()},
    rcodes AS (
      SELECT rf0.vec_id AS vec_id,
             {", ".join(f"rf{m}.cluster AS code_{m}" for m in range(PQ_M))}
      FROM {_R_JOINS}
    ),
    recon AS (
      SELECT rcodes.vec_id AS neighbor_id, casg.cluster,
             [cc.cv[k] + prv[k] for k in range(1, {PQ_DIM + 1})] AS rv
      FROM rcodes
      JOIN casg ON rcodes.vec_id = casg.vec_id
      JOIN cc_{IVF_UPDATES} cc ON casg.cluster = cc.cluster_id
      JOIN (SELECT rcodes2.vec_id, {_PRV} AS prv
            FROM rcodes rcodes2 {_RB_JOIN.replace('rcodes.', 'rcodes2.')}) pr
        ON pr.vec_id = rcodes.vec_id
    ),
    q AS (
      SELECT vec_id AS query_id, qv FROM qvfull WHERE vec_id < {PQ_N_QUERIES}
    ),
    probe AS (
      SELECT query_id, cluster_id FROM (
        SELECT q.query_id, c.cluster_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                 CAST(list_sum([(q.qv[k] - c.cv[k]) * (q.qv[k] - c.cv[k])
                                for k in range(1, {PQ_DIM + 1})]) AS BIGINT),
                 c.cluster_id) AS rn
        FROM q, cc_{IVF_UPDATES} c
      ) WHERE rn <= {nprobe}
    ),
    dists AS (
      SELECT q.query_id, r.neighbor_id,
             CAST(list_sum([(q.qv[k] - r.rv[k]) * (q.qv[k] - r.rv[k])
                            for k in range(1, {PQ_DIM + 1})]) AS BIGINT) AS d2
      FROM q
      JOIN probe p ON p.query_id = q.query_id
      JOIN recon r ON r.cluster = p.cluster_id
      WHERE q.query_id <> r.neighbor_id
    )"""


@register(
    "ann_topk_ivfpq",
    oracle=f"""
    {_ivfpq_search_ctes(IVF_NPROBE)}
    SELECT query_id, neighbor_id, d2, rank FROM (
      SELECT query_id, neighbor_id, d2,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY d2, neighbor_id) AS rank
      FROM dists
    ) WHERE rank <= {PQ_TOP_K}
    """,
    doc=f"Full IVF-PQ ANN search (the billion-scale vector-store "
    f"design): {IVF_CELLS}-cell coarse quantizer (integer-exact "
    "k-means), product quantization of the RESIDUAL vs the assigned "
    f"cell centroid (M={PQ_M} x K={PQ_K}), then probe-limited ADC — "
    f"each query scores only candidates in its {IVF_NPROBE} nearest "
    "cells against centroid+decoded-residual reconstructions. "
    "Raw recall@5 ~0.28 on the near-random synthetic embeddings "
    "(nprobe misses + PQ distortion — the hardest regime; real "
    "corpora with cluster structure fare far better); production "
    "deployments widen the ADC shortlist and exact-rerank it, the "
    "composition pq_ann_adc_topk's tests pin at >= 0.85. "
    "Scale shape: cell assignment and PQ encoding are map-only under "
    "broadcast centroids/codebooks; the probe prunes the candidate "
    "set to nprobe/cells of the corpus BEFORE any distance work; the "
    "only corpus shuffle is the per-query top-k. The entire iterative "
    "train->encode->search pipeline is integer-exact and value-hash-"
    "checked against a DuckDB CTE mirror.",
)
def ann_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    dists, _q, _vecs = _ivfpq_adc_dists(spark, sf_dir, IVF_NPROBE)
    w = W.partitionBy("query_id").orderBy(F.col("d2"), F.col("neighbor_id"))
    return (
        dists.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= PQ_TOP_K)
        .select("query_id", "neighbor_id", "d2", "rank")
    )


#: bump when the IVF-PQ or plain-PQ training derivation changes
#: (invalidates both cached codebook artifact families)
# v2 (r13): cells + M codebooks consolidated into ONE `books` parquet
# (a `book` column: -1 = coarse cells, m = subspace m) — the v1 layout
# paid a listing+footer+read job per book file (VERDICT r12 item #4);
# now every per-book view is a lazy filter over that one parquet, so
# each consumer still scans it (see _split_books)
IVFPQ_ARTIFACT_VERSION = "v2"


def _train_ivfpq(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[DataFrame]]:
    """Train the coarse quantizer + residual PQ codebooks — the ONE
    definition (ensure_ivfpq_codebooks persists exactly this; the
    search path reads the artifact). Integer-exact, so a parquet
    round-trip reproduces training bit-for-bit."""
    from ..operators.clustering import kmeans_assign, kmeans_centroids

    emb = load(spark, sf_dir, "embeddings")
    # NOT silver.spread here: training is a chain of many small
    # shuffling jobs (centroid rounds, assign, residuals), so a
    # rebalance ahead of them measured as a net cold LOSS (r11 probe:
    # +0.4-0.8 s) — unlike the map-heavy silver build it helps
    vecs = emb.select("vec_id", quantize_expr(F.col("embedding")).alias("qv"))
    init = vecs.filter(F.col("vec_id") < IVF_CELLS).select(
        F.col("vec_id").alias("cluster_id"), F.col("qv").alias("cv")
    )
    cells = kmeans_centroids(vecs, init, IVF_UPDATES)
    assigned = kmeans_assign(vecs, cells).select("vec_id", "qv", "cluster")
    resid = (
        assigned.join(
            F.broadcast(cells.select(F.col("cluster_id").alias("cluster"), "cv")),
            "cluster",
        )
        .select("vec_id", F.zip_with("qv", "cv", lambda x, y: x - y).alias("qv"))
    )
    books = pq_codebooks(resid, PQ_DIM, PQ_M, PQ_K, PQ_UPDATES)
    return cells, books


def _ensure_training_artifact(
    spark: SparkSession, sf_dir: str, tag: str, params: str, writer
) -> str:
    """Content-keyed artifact cache for offline training outputs
    (VERDICT r7 mandate #4) — key/sentinel/layout shared with every
    other trainer via silver.ensure_artifact (key derivation lives in
    silver.artifact_cache_key, exercised verbatim by the key tests).
    Training here is integer-exact, so cached-vs-retrained results are
    hash-identical (pinned in tests/test_silver.py)."""
    import os as _os

    from ..silver import ensure_artifact

    return ensure_artifact(
        _os.path.join(sf_dir, "embeddings.parquet"), tag, params, writer
    )


def ivfpq_params() -> str:
    """Every hyperparameter the IVF-PQ artifact key must cover — the
    production string, also used verbatim by the key tests."""
    return (
        f"{IVFPQ_ARTIFACT_VERSION}:{IVF_CELLS}:{IVF_UPDATES}"
        f":{PQ_DIM}:{PQ_M}:{PQ_K}:{PQ_UPDATES}:{QUANT_SCALE}"
    )


def pq_params() -> str:
    """Hyperparameter string keying the plain-PQ artifact."""
    return (
        f"{IVFPQ_ARTIFACT_VERSION}:{PQ_DIM}:{PQ_M}:{PQ_K}"
        f":{PQ_UPDATES}:{QUANT_SCALE}"
    )


def ensure_ivfpq_codebooks(spark: SparkSession, sf_dir: str) -> str:
    """Persisted IVF-PQ training: coarse cells + M residual codebooks
    (tiny: IVF_CELLS rows + M x K rows) in ONE parquet (v2 layout —
    see IVFPQ_ARTIFACT_VERSION)."""
    import os as _os

    def write(d: str) -> None:
        cells, books = _train_ivfpq(spark, sf_dir)
        combined = cells.withColumn("book", F.lit(-1))
        for m, b in enumerate(books):
            combined = combined.unionByName(b.withColumn("book", F.lit(m)))
        combined.coalesce(1).write.mode("overwrite").parquet(
            _os.path.join(d, "books")
        )

    return _ensure_training_artifact(spark, sf_dir, "ivfpq", ivfpq_params(), write)


def ensure_pq_codebooks(spark: SparkSession, sf_dir: str) -> str:
    """Persisted plain-PQ training (codebooks over the raw quantized
    vectors — pq_encode_codes / pq_ann_adc_topk's model) in ONE
    parquet (v2 layout)."""
    import os as _os

    def write(d: str) -> None:
        emb = load(spark, sf_dir, "embeddings")
        vecs = emb.select("vec_id", quantize_expr(F.col("embedding")).alias("qv"))
        combined = None
        for m, b in enumerate(pq_codebooks(vecs, PQ_DIM, PQ_M, PQ_K, PQ_UPDATES)):
            b = b.withColumn("book", F.lit(m))
            combined = b if combined is None else combined.unionByName(b)
        combined.coalesce(1).write.mode("overwrite").parquet(
            _os.path.join(d, "books")
        )

    return _ensure_training_artifact(spark, sf_dir, "pq", pq_params(), write)


def _split_books(
    spark: SparkSession, path: str, n_books: int, with_cells: bool = False
):
    """Per-book views of the combined codebook parquet (M*K +
    IVF_CELLS rows — model-sized constants): one lazy
    ``filter(book == b)`` per book over a single ``spark.read``.
    Nothing is collected here, so every downstream consumer
    (pq_kernel's collects, the ADC LUT broadcasts) re-scans the
    parquet when it runs; what v2 saves over v1 is the per-book
    file listing and footer read. Splitting driver-side into local
    ``createDataFrame`` relations was measured 2-2.5x slower (r13).
    Schema (and so every dtype the LUT map keys / kernel matrices
    see) is preserved verbatim from the parquet."""
    df = spark.read.parquet(path)

    def local(b: int) -> DataFrame:
        return df.filter(F.col("book") == b).drop("book")

    books = [local(m) for m in range(n_books)]
    return (local(-1), books) if with_cells else books


def _load_pq_codebooks(spark: SparkSession, sf_dir: str) -> list[DataFrame]:
    import os as _os

    root = ensure_pq_codebooks(spark, sf_dir)
    return _split_books(spark, _os.path.join(root, "books"), PQ_M)


def _load_ivfpq_codebooks(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[DataFrame]]:
    import os as _os

    root = ensure_ivfpq_codebooks(spark, sf_dir)
    return _split_books(
        spark, _os.path.join(root, "books"), PQ_M, with_cells=True
    )


def _ivfpq_adc_dists(
    spark: SparkSession, sf_dir: str, nprobe: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared IVF-PQ ADC pipeline: returns (dists, q, vecs) where
    ``dists`` is (query_id, neighbor_id, d2) over the probe-limited
    candidate set, ``q`` the query batch (query_id, qv), ``vecs`` the
    quantized corpus (vec_id, qv). Cells + codebooks come from the
    persisted training artifact (ensure_ivfpq_codebooks) — the search
    plan is assignment + encode + probe + ADC only."""
    from ..operators.annkernels import pq_kernel

    emb = load(spark, sf_dir, "embeddings")
    vecs = emb.select("vec_id", quantize_expr(F.col("embedding")).alias("qv"))

    cells, books = _load_ivfpq_codebooks(spark, sf_dir)
    # ONE fused map pass (optimization r12, guide §2.4/§4.2): coarse
    # assignment, residual, and per-subspace encode run as a single
    # numpy kernel — bit-identical to the former kmeans_assign +
    # broadcast-residual + pq_encode expression chain (pinned in
    # tests/test_r12_optimizations.py)
    codes = pq_kernel(
        vecs, books, PQ_DIM, cells=cells, emit_cluster=True, emit_codes=True
    ).withColumnRenamed("vec_id", "neighbor_id")

    # probe: nprobe nearest cells per query
    q = vecs.filter(F.col("vec_id") < PQ_N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("qv")
    )
    qc = q.crossJoin(
        F.broadcast(cells.select("cluster_id", F.col("cv").alias("cell_cv")))
    ).select(
        "query_id",
        "qv",
        "cluster_id",
        dist2_expr(F.col("qv"), F.col("cell_cv")).alias("cd2"),
    )
    wp = W.partitionBy("query_id").orderBy(F.col("cd2"), F.col("cluster_id"))
    probe = (
        qc.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "qv", F.col("cluster_id").alias("cluster"))
    )

    # ADC via the per-(query, cluster) residual lookup table: with
    # qr = q - cell_cv, d2(q, cell_cv + decode(codes)) ==
    # SUM_m lut_m[code_m] over lut built from qr — the exact integer
    # decomposition _adc_lut_cols documents. Candidates pay M compiled
    # map lookups instead of reconstruction + a 64-dim interpreted
    # fold; the LUT relation is |queries| x nprobe rows.
    probe_r = probe.join(
        F.broadcast(
            cells.select(F.col("cluster_id").alias("cluster"),
                         F.col("cv").alias("cell_cv"))
        ),
        "cluster",
    ).select(
        "query_id",
        "cluster",
        F.zip_with("qv", "cell_cv", lambda x, y: x - y).alias("qr"),
    )
    probe_lut = _adc_lut_cols(F.col("qr"), books, probe_r).drop("qr")
    dists = (
        codes.join(F.broadcast(probe_lut), "cluster")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", _adc_d2_expr(PQ_M).alias("d2"))
    )
    return dists, q, vecs


# ---------------------------------------------------------------------------
# IVF-PQ + exact re-rank: the deployment composition
# ---------------------------------------------------------------------------

RERANK_NPROBE = 4
RERANK_SHORTLIST = 100


@register(
    "ann_topk_ivfpq_rerank",
    oracle=f"""
    {_ivfpq_search_ctes(RERANK_NPROBE)},
    shortlist AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY d2, neighbor_id) AS srank
        FROM dists
      ) WHERE srank <= {RERANK_SHORTLIST}
    ),
    exact AS (
      SELECT s.query_id, s.neighbor_id,
             CAST(list_sum([(q.qv[k] - v.qv[k]) * (q.qv[k] - v.qv[k])
                            for k in range(1, {PQ_DIM + 1})]) AS BIGINT) AS d2
      FROM shortlist s
      JOIN q ON q.query_id = s.query_id
      JOIN qvfull v ON v.vec_id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, d2, rank FROM (
      SELECT query_id, neighbor_id, d2,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY d2, neighbor_id) AS rank
      FROM exact
    ) WHERE rank <= {PQ_TOP_K}
    """,
    doc=f"The production ANN composition the ann_topk_ivfpq docstring "
    f"cites: probe-limited ADC (nprobe={RERANK_NPROBE} of "
    f"{IVF_CELLS} cells) builds a top-{RERANK_SHORTLIST} shortlist "
    "per query from compressed codes, then only the shortlist is "
    f"re-scored against EXACT vectors for the final top-{PQ_TOP_K}. "
    "Raw IVF-PQ@5 recall is ~0.28 on these near-random embeddings; "
    "the composition recovers 0.88 vs exact-cosine ground truth "
    "(embeddings are unit-norm, so exact-L2 order == cosine order; "
    "pinned >= 0.85 at sf0.01 in tests/test_operators.py). Scale "
    "shape: everything up to the shortlist is the IVF-PQ plan "
    "(map-only assignment/encode under broadcasts, probe-pruned "
    "candidates); the rerank joins the TINY shortlist (queries x "
    f"{RERANK_SHORTLIST} rows, broadcast) back to the corpus, so "
    "full-precision vectors are touched for only "
    "shortlist/corpus of the data — the memory-bandwidth win that "
    "makes PQ worthwhile. Integer-exact end to end; the full "
    "compose is value-hash-checked against the DuckDB CTE mirror.",
)
def ann_topk_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    dists, q, vecs = _ivfpq_adc_dists(spark, sf_dir, RERANK_NPROBE)
    ws = W.partitionBy("query_id").orderBy(F.col("d2"), F.col("neighbor_id"))
    shortlist = (
        dists.withColumn("srank", F.row_number().over(ws))
        .filter(F.col("srank") <= RERANK_SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    exact = (
        vecs.select(F.col("vec_id").alias("neighbor_id"), F.col("qv").alias("nv"))
        .join(F.broadcast(shortlist), "neighbor_id")
        .join(F.broadcast(q.select("query_id", F.col("qv").alias("qqv"))), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            dist2_expr(F.col("qqv"), F.col("nv")).alias("d2"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("d2"), F.col("neighbor_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= PQ_TOP_K)
        .select("query_id", "neighbor_id", "d2", "rank")
    )
