"""Streaming SemDeDup keep-list: maintained assignments == batch
assignment under any batch split, keep_list == the registered batch
query, and replay is a no-op (VERDICT r8 mandate #5)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from starknet_indexer_spark.catalog import load
from starknet_indexer_spark.operators.clustering import quantize_expr
from starknet_indexer_spark.queries.pipeline_clustering import (
    load_kmeans_centroids,
    semdedup_select,
)
from starknet_indexer_spark.streaming import semdedup

from .reference_ops import kmeans_assign

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(map(str, df.collect()))


def _vecs(spark):
    return load(spark, SF, "embeddings").select("vec_id", "embedding")


class TestIncrementalEqualsBatch:
    def test_sequential_batches_and_keep_list(self, spark, tmp_path):
        vecs = _vecs(spark)
        cents = load_kmeans_centroids(spark, SF)
        state = str(tmp_path / "sd")
        for i in range(3):
            semdedup.apply_batch(
                spark, vecs.filter(F.col("vec_id") % 3 == i), state, cents
            )
        want_assign = _rows(
            kmeans_assign(
                vecs.select(
                    "vec_id", quantize_expr(F.col("embedding")).alias("qv")
                ),
                cents,
            )
        )
        assert _rows(semdedup.read_assignments(spark, state)) == want_assign
        # the maintained keep-list equals the registered batch query
        assert _rows(semdedup.keep_list(spark, state)) == _rows(
            semdedup_select(spark, SF)
        )

    def test_redelivered_vectors_merge_idempotently(self, spark, tmp_path):
        """At-least-once delivery: a batch overlapping already-folded
        vectors (different epoch, so the token guard does NOT absorb
        it) must not duplicate state rows."""
        vecs = _vecs(spark)
        cents = load_kmeans_centroids(spark, SF)
        state = str(tmp_path / "sd")
        semdedup.apply_batch(
            spark, vecs.filter(F.col("vec_id") % 2 == 0), state, cents
        )
        # redeliver the evens alongside the odds
        semdedup.apply_batch(spark, vecs, state, cents)
        assert _rows(semdedup.keep_list(spark, state)) == _rows(
            semdedup_select(spark, SF)
        )

    def test_representative_displacement_rescores_cluster(self, spark, tmp_path):
        """A later batch can deliver a vector CLOSER to some centroid
        than the current representative; the keep-list must re-score
        that cluster (flags are derived on read, not frozen at fold
        time). Feeding vectors in descending d2 order guarantees every
        cluster's final rep arrives after non-reps."""
        vecs = _vecs(spark)
        cents = load_kmeans_centroids(spark, SF)
        assigned = kmeans_assign(
            vecs.select("vec_id", quantize_expr(F.col("embedding")).alias("qv")),
            cents,
        )
        # split by distance: far half first, near half (contains every
        # final representative) second
        from pyspark.sql.window import Window as W

        med = assigned.withColumn(
            "nr",
            F.ntile(2).over(W.partitionBy("cluster").orderBy(F.desc("d2"), "vec_id")),
        ).select("vec_id", "nr")
        far = vecs.join(med.filter(F.col("nr") == 1), "vec_id").select(
            "vec_id", "embedding"
        )
        near = vecs.join(med.filter(F.col("nr") == 2), "vec_id").select(
            "vec_id", "embedding"
        )
        state = str(tmp_path / "sd")
        semdedup.apply_batch(spark, far, state, cents)
        interim = {
            r["cluster"]: r["rep_id"]
            for r in semdedup.keep_list(spark, state)
            .filter(F.col("is_rep") == 1)
            .collect()
        }
        semdedup.apply_batch(spark, near, state, cents)
        final = {
            r["cluster"]: r["rep_id"]
            for r in semdedup.keep_list(spark, state)
            .filter(F.col("is_rep") == 1)
            .collect()
        }
        # at least one cluster's representative was displaced
        assert any(final[c] != interim.get(c) for c in final)
        assert _rows(semdedup.keep_list(spark, state)) == _rows(
            semdedup_select(spark, SF)
        )


class TestStreaming:
    def test_stream_equals_batch_and_replay_noop(self, spark, tmp_path):
        vecs = _vecs(spark)
        cents = load_kmeans_centroids(spark, SF)
        feed = str(tmp_path / "feed")
        state = str(tmp_path / "sd")
        ck = str(tmp_path / "ck")
        for i in range(2):
            vecs.filter(F.col("vec_id") % 2 == i).coalesce(1).write.mode(
                "append"
            ).parquet(feed)
        q = semdedup.stream_maintain(
            spark, feed, state, ck, cents, max_files_per_trigger=1
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        want = _rows(semdedup_select(spark, SF))
        assert _rows(semdedup.keep_list(spark, state)) == want
        # restart over the same checkpoint: no new files, state unchanged
        q2 = semdedup.stream_maintain(
            spark, feed, state, ck, cents, max_files_per_trigger=1
        )
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()
        assert _rows(semdedup.keep_list(spark, state)) == want
        assert os.path.isdir(state)
