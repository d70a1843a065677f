"""Focused pins for the round-12 optimization changes to operator
internals: the PPJoin positional filter's losslessness, the PCA
kernel's truncating division, and the connected-components round
restructure. The DuckDB oracle sweep already proves end-to-end
equality; these pin the specific internal claims so a future edit
that breaks one fails HERE, with a named reason."""

from __future__ import annotations

from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from starknet_indexer_spark.queries.pipeline_pca import _tdiv
from starknet_indexer_spark.queries.pipeline_setjoin import (
    SETJOIN_THRESHOLD,
    _silver_shingle_sets,
    _t_frac,
    prefix_candidates,
    prefix_jaccard_pairs,
    ranked_sets,
)

SF_DIR = "/root/testdata/sf0.001"


class TestTruncatingDivision:
    def test_tdiv_matches_spark_decimal_div_semantics(self):
        # Spark decimal `div` truncates toward zero; Python // floors.
        # The kernel's correctness rests on _tdiv being the former.
        cases = [(7, 2), (-7, 2), (1, 3), (-1, 3), (0, 5), (10**20, 7),
                 (-(10**20), 7), (999_999, 1_000_000), (-999_999, 1_000_000)]
        for a, b in cases:
            want = int(Decimal(a) / Decimal(b)).__int__()  # trunc toward 0
            assert _tdiv(a, b) == want, (a, b)

    def test_tdiv_arbitrary_precision(self):
        # the renorm dividend x * 1e6 exceeds int64 — _tdiv must be
        # exact far beyond 64 bits
        a, b = 64 * 10**19 + 123456789, 987654321
        assert _tdiv(a, b) == a // b
        assert _tdiv(-a, b) == -(a // b)


class TestPositionalFilterLossless:
    def test_filtered_candidates_subset_and_lossless(self, spark):
        """The r12 positional filter may only REMOVE candidate pairs,
        and every pair of the exact verified result must still be
        generated — the first-shared-token argument, checked on real
        corpus data by rebuilding the unfiltered candidate set."""
        sets = _silver_shingle_sets(spark, SF_DIR)
        t = SETJOIN_THRESHOLD
        _, cand = prefix_candidates(sets, t)
        filtered = {(r.a_id, r.b_id) for r in cand.collect()}

        # unfiltered candidates: the pre-r12 rule (no positional bound)
        num, den = _t_frac(t)
        ranked = ranked_sets(sets, t)
        prefix = ranked.select(
            "doc_id",
            "n",
            F.explode(F.slice("ordered", 1, F.col("prefix_len"))).alias("p"),
        ).select("doc_id", "n", F.col("p.token").alias("token"))
        a, b = prefix.alias("a"), prefix.alias("b")
        unfiltered_df = (
            a.join(
                b,
                (F.col("a.token") == F.col("b.token"))
                & (F.col("a.doc_id") < F.col("b.doc_id"))
                & (F.col("b.n") * F.lit(num) <= F.col("a.n") * F.lit(den))
                & (F.col("a.n") * F.lit(num) <= F.col("b.n") * F.lit(den)),
            )
            .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
            .distinct()
        )
        unfiltered = {(r.a_id, r.b_id) for r in unfiltered_df.collect()}
        assert filtered <= unfiltered
        assert len(filtered) < len(unfiltered)  # it actually prunes

        truth = {
            (r.a_id, r.b_id)
            for r in prefix_jaccard_pairs(sets, t).select("a_id", "b_id").collect()
        }
        # losslessness: every true pair survives the positional filter
        assert truth <= filtered


class TestMediaGramFormulation:
    def test_regexp_blocks_equal_stepped_substrings(self, spark):
        """The r12 rewrite derives the media hex 4-byte-block grams
        with regexp_extract_all('(.{8})') instead of the interpreted
        transform(sequence(...), i -> substr(...)) lambda. Pin the
        value equality on adversarial lengths: empty, shorter than a
        block, exact multiples, and trailing partial blocks (both
        formulations must DROP the partial tail)."""
        G = 8
        rows = [
            (i, "0123456789ABCDEF" * 5 + "ABCDEF"[: i % 7])
            for i in range(1, 8)
        ] + [(8, ""), (9, "AB"), (10, "0123456789ABCDEF")]
        df = spark.createDataFrame(rows, "doc_id long, hx string")
        old = F.when(
            F.length("hx") >= G,
            F.transform(
                F.sequence(F.lit(1), F.length("hx") - F.lit(G - 1), F.lit(G)),
                lambda i: F.col("hx").substr(i, F.lit(G)),
            ),
        ).otherwise(F.array().cast("array<string>"))
        new = F.regexp_extract_all("hx", F.lit(f"(.{{{G}}})"), 1)
        bad = df.select(old.alias("a"), new.alias("b")).filter(
            ~F.col("a").eqNullSafe(F.col("b"))
        ).count()
        assert bad == 0


class TestSilverStoredHashes:
    def test_doc_shingles_h_equals_recompute(self, spark):
        """Silver doc_shingles stores h (the ingest-computed 60-bit
        hash array). ranked_sets consumes it instead of re-hashing, so
        the stored array must equal transform(shingles, md5_hash60)
        positionally — the exact expression the build evaluates."""
        import os

        from starknet_indexer_spark.operators.dedup import md5_hash60_expr
        from starknet_indexer_spark.silver import ensure_silver

        root = ensure_silver(spark, SF_DIR)
        sh = spark.read.parquet(os.path.join(root, "doc_shingles"))
        assert "h" in sh.columns
        bad = sh.filter(
            ~F.col("h").eqNullSafe(F.transform("shingles", md5_hash60_expr))
        ).count()
        assert bad == 0


class TestConnectedComponentsRestructure:
    def test_min_label_fixpoint_unchanged(self, spark):
        """The r12 restructure (checkpointed sym, old-label-in-round
        convergence scan) must not change the fixpoint: two chained
        paths + an isolated edge, labels = component minimum."""
        from starknet_indexer_spark.operators.graph import connected_components

        edges = spark.createDataFrame(
            [(2, 1), (3, 2), (4, 3), (10, 11), (20, 21), (21, 22)],
            "u BIGINT, v BIGINT",
        )
        got = {
            (r.id, r.component)
            for r in connected_components(edges).collect()
        }
        want = {
            (1, 1), (2, 1), (3, 1), (4, 1),
            (10, 10), (11, 10),
            (20, 20), (21, 20), (22, 20),
        }
        assert got == want

    def test_unconverged_bound_raises(self, spark, monkeypatch):
        """Labels still changing when the round bound is reached raise
        instead of being returned as components; a bound one round past
        the farthest node's distance from the minimum converges."""
        from starknet_indexer_spark.operators import graph

        edges = spark.createDataFrame([(1, 2), (2, 3)], "u BIGINT, v BIGINT")
        monkeypatch.setattr(graph, "MAX_ROUNDS", 1)
        with pytest.raises(RuntimeError, match="still changing after 1 rounds"):
            graph.connected_components(edges)
        monkeypatch.setattr(graph, "MAX_ROUNDS", 3)
        got = {(r.id, r.component) for r in graph.connected_components(edges).collect()}
        assert got == {(1, 1), (2, 1), (3, 1)}


class TestAnnKernelEquality:
    """The numpy GEMM kernels (operators/annkernels.py) must be
    bit-identical to the interpreted expression formulations they
    replaced — integer arithmetic end to end, so any divergence is a
    real defect, not float noise. The kernels are the only production
    path (queries, trainers and the streaming SemDeDup twin); the
    expression forms live in tests/reference_ops.py as the reference
    definition."""

    def test_kmeans_assign_kernel_equals_expression(self, spark):
        from starknet_indexer_spark.operators.annkernels import (
            kmeans_assign_kernel,
        )
        from starknet_indexer_spark.operators.clustering import quantize_expr
        from starknet_indexer_spark.catalog import load
        from starknet_indexer_spark.queries.pipeline_clustering import (
            load_kmeans_centroids,
        )

        from .reference_ops import kmeans_assign

        vecs = load(spark, SF_DIR, "embeddings").select(
            "vec_id", quantize_expr(F.col("embedding")).alias("qv")
        )
        cents = load_kmeans_centroids(spark, SF_DIR)
        old = {
            (r.vec_id, tuple(r.qv), r.cluster, r.d2)
            for r in kmeans_assign(vecs, cents).collect()
        }
        new = {
            (r.vec_id, tuple(r.qv), r.cluster, r.d2)
            for r in kmeans_assign_kernel(vecs, cents).collect()
        }
        assert old == new and len(old) > 0

    def test_pq_kernel_equals_expression_chain(self, spark):
        from starknet_indexer_spark.operators.annkernels import pq_kernel
        from starknet_indexer_spark.operators.clustering import quantize_expr
        from starknet_indexer_spark.catalog import load
        from starknet_indexer_spark.queries.pipeline_pq import (
            PQ_DIM,
            _load_ivfpq_codebooks,
            _load_pq_codebooks,
        )

        from .reference_ops import kmeans_assign, pq_encode

        vecs = load(spark, SF_DIR, "embeddings").select(
            "vec_id", quantize_expr(F.col("embedding")).alias("qv")
        )
        books = _load_pq_codebooks(spark, SF_DIR)
        old = {tuple(r) for r in pq_encode(vecs, books, PQ_DIM).collect()}
        new = {
            tuple(r)
            for r in pq_kernel(
                vecs, books, PQ_DIM, emit_codes=True, emit_err=True
            ).collect()
        }
        assert old == new and len(old) > 0

        # fused coarse-assign + residual-encode (the IVF-PQ corpus pass)
        cells, rbooks = _load_ivfpq_codebooks(spark, SF_DIR)
        assigned = kmeans_assign(vecs, cells).select("vec_id", "qv", "cluster")
        resid = assigned.join(
            F.broadcast(
                cells.select(F.col("cluster_id").alias("cluster"), "cv")
            ),
            "cluster",
        ).select(
            "vec_id",
            "cluster",
            F.zip_with("qv", "cv", lambda x, y: x - y).alias("qv"),
        )
        old_codes = {
            tuple(r)
            for r in pq_encode(
                resid, rbooks, PQ_DIM, passthrough=("cluster",)
            )
            .select("vec_id", "cluster", "code_0", "code_1", "code_2", "code_3")
            .collect()
        }
        new_codes = {
            tuple(r)
            for r in pq_kernel(
                vecs, rbooks, PQ_DIM, cells=cells,
                emit_cluster=True, emit_codes=True,
            ).collect()
        }
        assert old_codes == new_codes and len(old_codes) > 0

    def test_silhouette_kernel_equals_expression(self, spark):
        """(cluster, a2, b2) from silhouette_kernel must equal the
        (d2 asc, cluster_id asc) struct-ranked expression formulation
        as a multiset (ADVICE r12: this was the only kernel without a
        direct equality pin). Also pin the K==1 guard."""
        import pytest

        from starknet_indexer_spark.catalog import load
        from starknet_indexer_spark.operators.annkernels import (
            silhouette_kernel,
        )
        from starknet_indexer_spark.operators.clustering import (
            dist2_expr,
            quantize_expr,
        )
        from starknet_indexer_spark.queries.pipeline_clustering import (
            load_kmeans_centroids,
        )
        from pyspark.sql.window import Window as W

        vecs = load(spark, SF_DIR, "embeddings").select(
            "vec_id", quantize_expr(F.col("embedding")).alias("qv")
        )
        cents = load_kmeans_centroids(spark, SF_DIR)
        new = sorted(
            (r.cluster, r.a2, r.b2)
            for r in silhouette_kernel(vecs, cents).collect()
        )
        d = vecs.crossJoin(F.broadcast(cents)).select(
            "vec_id",
            "cluster_id",
            dist2_expr(F.col("qv"), F.col("cv")).alias("d2"),
        )
        w = W.partitionBy("vec_id").orderBy("d2", "cluster_id")
        ranked = d.withColumn("rn", F.row_number().over(w))
        a = ranked.filter(F.col("rn") == 1).select(
            "vec_id", F.col("cluster_id").alias("cluster"),
            F.col("d2").alias("a2"),
        )
        b = ranked.filter(F.col("rn") == 2).select(
            "vec_id", F.col("d2").alias("b2")
        )
        old = sorted(
            (r.cluster, r.a2, r.b2) for r in a.join(b, "vec_id").collect()
        )
        assert new == old and len(new) > 0

        one = cents.limit(1)
        with pytest.raises(ValueError, match=">= 2 centroids"):
            silhouette_kernel(vecs, one)

    def test_adc_lut_decomposition_exact(self, spark):
        """d2(q, decode(codes)) == SUM_m lut_m[code_m]: the ADC
        lookup-table decomposition the search queries now rely on,
        checked against explicit reconstruction + full-dim dist2."""
        from starknet_indexer_spark.operators.annkernels import pq_kernel
        from starknet_indexer_spark.operators.clustering import (
            attach_codebook_broadcasts,
            dist2_expr,
            quantize_expr,
        )
        from starknet_indexer_spark.catalog import load
        from starknet_indexer_spark.queries.pipeline_pq import (
            PQ_DIM,
            PQ_M,
            PQ_N_QUERIES,
            _adc_d2_expr,
            _adc_lut_cols,
            _load_pq_codebooks,
        )

        from .reference_ops import pq_reconstruct_expr

        vecs = load(spark, SF_DIR, "embeddings").select(
            "vec_id", quantize_expr(F.col("embedding")).alias("qv")
        )
        books = _load_pq_codebooks(spark, SF_DIR)
        codes = pq_kernel(vecs, books, PQ_DIM, emit_codes=True)
        q = vecs.filter(F.col("vec_id") < PQ_N_QUERIES).select(
            F.col("vec_id").alias("query_id"), "qv"
        )
        lut = _adc_lut_cols(F.col("qv"), books, q).drop("qv")
        new = {
            (r.query_id, r.vec_id, r.d2)
            for r in codes.crossJoin(F.broadcast(lut))
            .select("query_id", "vec_id", _adc_d2_expr(PQ_M).alias("d2"))
            .collect()
        }
        enc = attach_codebook_broadcasts(codes, books)
        recon = enc.select(
            "vec_id",
            pq_reconstruct_expr(
                [f"__cs_{m}" for m in range(PQ_M)],
                [f"code_{m}" for m in range(PQ_M)],
            ).alias("rv"),
        )
        old = {
            (r.query_id, r.vec_id, r.d2)
            for r in recon.crossJoin(
                F.broadcast(q.select("query_id", F.col("qv").alias("qqv")))
            )
            .select(
                "query_id",
                "vec_id",
                dist2_expr(F.col("qqv"), F.col("rv")).alias("d2"),
            )
            .collect()
        }
        assert old == new and len(old) > 0
