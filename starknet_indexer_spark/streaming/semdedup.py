"""Streaming SemDeDup: the semantic-dedup keep-list as maintained state.

The batch ``semdedup_select`` query clusters the embedding space with
frozen k-means centroids, picks each cluster's centroid-nearest point
as the representative, and drops members within an exact integer
epsilon of it (VERDICT r8 mandate #5 asks for the ONLINE form). This
module maintains the assignment relation as a ``state_table``
generation so the keep-list is always current over an arriving vector
stream:

- **Centroids are a FIXED, pre-trained input** (the same deployment
  split as streaming/ivf_index.py: Lloyd runs offline —
  queries.pipeline_clustering.ensure_kmeans_centroids — and the online
  path only assigns). Retraining centroids means rebuilding the state,
  a batch job.
- **State = one row per vector** (vec_id, cluster, d2, qv), bucketed
  by cluster so a micro-batch touches only the buckets of clusters it
  actually contains. Assignment is a pure function of (qv, centroids),
  so a redelivered vector contributes an IDENTICAL row and the merge
  is a per-key dedup — idempotent under at-least-once delivery on top
  of the epoch-token replay guard.
- **keep_list == batch**: the selection tail is literally the batch
  query's ``semdedup_from_assigned`` applied to the maintained state,
  so after any prefix of the stream the keep-list equals
  ``semdedup_select`` over the vectors delivered so far
  (tests/test_streaming_semdedup.py pins stream == batch and replay
  no-op).

Why the keep-list is recomputed on read rather than maintained
per-row: a newly arrived vector can DISPLACE a cluster's
representative (smaller d2), which re-scores every member of that
cluster — the keep flag is not an additive per-key statistic. The
state table therefore holds the additive part (assignments; merge =
dedup) and the read path derives flags with the cluster-pruned batch
tail: per-cluster window + broadcast K-row representative join, never
an all-pairs pass.

At 100 TB the state is the corpus-sized assignment relation written
bucketed by cluster (here: state_table generation dirs with hardlinked
unaffected buckets), and reads prune to the clusters a consumer asks
about.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.annkernels import kmeans_assign_kernel
from ..operators.clustering import quantize_expr
from ..queries.pipeline_clustering import semdedup_from_assigned
from . import state_table

N_BUCKETS = 8

_EMPTY_DDL = "vec_id bigint, cluster bigint, d2 bigint, qv array<bigint>"
_KEY = ["vec_id"]


def _bucket() -> Column:
    return F.pmod(F.xxhash64("cluster"), F.lit(N_BUCKETS)).cast("int")


def _merge(df: DataFrame) -> DataFrame:
    # assignment rows are a pure function of (qv, frozen centroids):
    # a redelivered vec_id carries an identical row, so merge = dedup
    return df.dropDuplicates(["vec_id"])


def apply_batch(
    spark: SparkSession,
    vecs: DataFrame,
    state_dir: str,
    centroids: DataFrame,
    epoch_token: str | None = None,
) -> None:
    """Assign one micro-batch of (vec_id, embedding) rows to their
    nearest frozen centroid (map-only — the K-row centroid relation is
    collected into the same int64 GEMM kernel the batch queries run)
    and fold the assignments into the state."""
    assigned = kmeans_assign_kernel(
        vecs.select("vec_id", quantize_expr(F.col("embedding")).alias("qv")),
        centroids,
    )
    state_table.merge_batch(
        spark,
        state_dir,
        assigned.select("vec_id", "cluster", "d2", "qv"),
        _merge,
        _KEY,
        ["cluster", "d2", "qv"],
        _bucket(),
        _EMPTY_DDL,
        token=epoch_token,
    )


def read_assignments(spark: SparkSession, state_dir: str) -> DataFrame:
    """The maintained assignment relation — equals
    kmeans_assign_kernel over the union of all delivered vectors."""
    return state_table.read_state(spark, state_dir, _EMPTY_DDL).select(
        "vec_id", "qv", "cluster", "d2"
    )


def keep_list(spark: SparkSession, state_dir: str) -> DataFrame:
    """The current SemDeDup keep-list: identical math to the registered
    semdedup_select query, assignments swapped for the maintained
    state."""
    return semdedup_from_assigned(read_assignments(spark, state_dir))


def stream_maintain(
    spark: SparkSession,
    feed_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    centroids: DataFrame,
    schema=None,
    max_files_per_trigger: int | None = None,
):
    """Structured Streaming driver: (vec_id, embedding) rows arriving
    in ``feed_dir`` keep the assignment state current per micro-batch
    (shared state_table.stream_maintain_with scaffolding — epoch-marker
    + in-generation token idempotence)."""
    return state_table.stream_maintain_with(
        spark,
        feed_dir,
        state_dir,
        checkpoint_dir,
        lambda batch_df, token: apply_batch(
            spark, batch_df, state_dir, centroids, epoch_token=token
        ),
        schema=schema,
        select_cols=["vec_id", "embedding"],
        max_files_per_trigger=max_files_per_trigger,
    )
