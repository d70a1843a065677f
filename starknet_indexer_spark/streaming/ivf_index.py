"""Continuously-maintained IVF (inverted-file) ANN index.

The batch IVF family (``ann_topk_ivf`` / ``ann_topk_ivfpq``) assigns
every vector to its nearest coarse centroid and probes only the
query's top cells — the billion-scale vector-store design. This module
keeps that index ONLINE: vectors arriving on a stream are assigned to
their cell (map-only — the centroid set broadcasts) and appended to
the postings relation, so the inverted lists are always current and a
search never rescans the corpus.

Centroids are a FIXED, pre-trained input (the deployment reality:
k-means runs offline on a sample; the serving index only assigns).
Retraining centroids means rebuilding the index — a batch job, not a
streaming concern.

Guarantees, matching the rest of the streaming package:

- incremental == recompute: after any batch split, the maintained
  postings equal ``ivf_assign`` over the union of all delivered
  vectors (tests/test_ivf_index.py);
- at-least-once replay safe: the shared epoch-marker guard
  (streaming/epochs.py) short-circuits redelivered micro-batches, so
  a vector is posted exactly once;
- searches over the maintained index produce the same candidate sets
  (and therefore the same top-k) as the self-contained batch query.

Scale layout: postings are the (cell, vec_id) relation — at 100 TB
they are written bucketed on ``centroid_id`` so a probe touches only
its cells' buckets; the test-scale implementation appends flat parquet
with identical join shapes (broadcast probes, postings never
shuffled).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import ivf_assign

# the determinism-critical vector kernels (sequential double-cast
# array fold + norm) live in ONE place — the batch query module — so
# the stream==batch sim equality cannot drift
from ..queries.pipeline_similarity import _dot, _with_norm
from ..session import empty_frame
from . import state_table

_POSTINGS = "postings"


def _normed(vecs: DataFrame) -> DataFrame:
    return _with_norm(vecs, "vec_id", "ev", "en")


def apply_batch(
    vecs: DataFrame,
    index_dir: str,
    centroids: DataFrame,
) -> None:
    """Assign one micro-batch of (vec_id, embedding) rows to their
    nearest cell and append to the postings. Map-only: the centroid
    relation broadcasts inside ivf_assign; nothing shuffles."""
    assign = ivf_assign(_normed(vecs), centroids, 1).select(
        "vec_id", "centroid_id"
    )
    assign.write.mode("append").parquet(os.path.join(index_dir, _POSTINGS))


def read_postings(spark: SparkSession, index_dir: str) -> DataFrame:
    p = os.path.join(index_dir, _POSTINGS)
    if not os.path.isdir(p):
        return empty_frame(spark, "vec_id bigint, centroid_id bigint")
    return spark.read.parquet(p)


def search(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    centroids: DataFrame,
    corpus: DataFrame,
    n_probe: int,
    top_k: int,
) -> DataFrame:
    """Probe the maintained index: queries rank their ``n_probe``
    nearest cells, candidates come from the inverted lists ONLY, and
    the exact cosine re-rank runs on candidates alone (the corpus
    relation is touched once, for candidate vectors)."""
    from pyspark.sql.window import Window as W

    q = _normed(queries)
    probes = ivf_assign(q, centroids, n_probe).select(
        F.col("vec_id").alias("query_id"), "centroid_id"
    )
    cands = (
        read_postings(spark, index_dir)
        .join(F.broadcast(probes), "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    qv = q.select(
        F.col("vec_id").alias("query_id"),
        F.col("ev").alias("qv"),
        F.col("en").alias("qn"),
    )
    cv = _normed(corpus).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("ev").alias("cv"),
        F.col("en").alias("cn"),
    )
    sims = (
        cands.join(cv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 4
            ).alias("sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def stream_ivf_index(
    spark: SparkSession,
    feed_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    centroids: DataFrame,
    schema=None,
    max_files_per_trigger: int = 1,
):
    """Structured Streaming driver: (vec_id, embedding) rows arriving
    in ``feed_dir`` maintain the inverted lists per micro-batch,
    epoch-marker idempotent (shared state_table.stream_maintain_with
    scaffolding — the append body ignores the token; the marker alone
    is the replay guard)."""
    return state_table.stream_maintain_with(
        spark,
        feed_dir,
        index_dir,
        checkpoint_dir,
        lambda batch_df, _token: apply_batch(batch_df, index_dir, centroids),
        schema=schema,
        max_files_per_trigger=max_files_per_trigger,
    )
