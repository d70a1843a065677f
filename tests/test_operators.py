"""Unit tests for the dedup/similarity operators beyond oracle parity:
planted near-duplicates are found, SimHash byte-band blocking is
*exact* (== brute force) for hamming < n_bands, LSH buckets are
well-formed.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from starknet_indexer_spark.catalog import load
from starknet_indexer_spark.operators.dedup import (
    N_BANDS,
    SIMHASH_N_BANDS,
    lsh_candidate_pairs,
    md5_hash60_expr,
    minhash_bands,
    minhash_signature_exprs,
    simhash_fingerprint,
    simhash_near_pairs,
    tokens_expr,
    word_shingles_expr,
)
from starknet_indexer_spark.operators.similarity import N_PLANES, with_bucket

SF_DIR = "/root/testdata/sf0.001"

BASE = (
    "the quick brown fox jumps over the lazy dog while seven wizards "
    "brew strong potions under a pale winter moon near the old stone bridge"
)


def _docs(spark):
    rows = [
        (1, BASE),
        (2, BASE.replace("winter", "summer")),  # near-dup of 1
        (3, "completely unrelated text about distributed query engines "
            "partitioning shuffles broadcast joins and columnar storage formats"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _minhash_pairs(docs):
    toks = docs.select("doc_id", tokens_expr(F.col("text")).alias("tokens"))
    sh = toks.filter(F.size("tokens") >= 3).select(
        "doc_id", word_shingles_expr(F.col("tokens")).alias("shingles")
    )
    hs = sh.select("doc_id", F.transform("shingles", md5_hash60_expr).alias("h"))
    sigs = hs.select("doc_id", *minhash_signature_exprs(F.col("h")))
    return lsh_candidate_pairs(minhash_bands(sigs))


class TestMinHash:
    def test_planted_near_dup_found(self, spark):
        pairs = {(r["a_id"], r["b_id"]) for r in _minhash_pairs(_docs(spark)).collect()}
        assert (1, 2) in pairs

    def test_identical_docs_always_candidates(self, spark):
        docs = spark.createDataFrame([(1, BASE), (2, BASE)], "doc_id long, text string")
        pairs = _minhash_pairs(docs).collect()
        assert [(r["a_id"], r["b_id"]) for r in pairs] == [(1, 2)]

    def test_signature_width(self, spark):
        docs = _docs(spark)
        toks = docs.select("doc_id", tokens_expr(F.col("text")).alias("tokens"))
        sh = toks.select("doc_id", word_shingles_expr(F.col("tokens")).alias("shingles"))
        hs = sh.select("doc_id", F.transform("shingles", md5_hash60_expr).alias("h"))
        sigs = hs.select("doc_id", *minhash_signature_exprs(F.col("h")))
        bands = minhash_bands(sigs)
        assert bands.count() == 3 * N_BANDS


class TestHotBandCap:
    def _bands(self, docs):
        toks = docs.select("doc_id", tokens_expr(F.col("text")).alias("tokens"))
        sh = toks.filter(F.size("tokens") >= 3).select(
            "doc_id", word_shingles_expr(F.col("tokens")).alias("shingles")
        )
        hs = sh.select("doc_id", F.transform("shingles", md5_hash60_expr).alias("h"))
        return minhash_bands(hs.select("doc_id", *minhash_signature_exprs(F.col("h"))))

    def test_passthrough_below_cap(self, spark):
        """No bucket above the cap -> identical pairs (the common case
        must not change results)."""
        from starknet_indexer_spark.operators.dedup import cap_hot_bands

        bands = self._bands(_docs(spark))
        uncapped = {
            (r["a_id"], r["b_id"]) for r in lsh_candidate_pairs(bands).collect()
        }
        capped = {
            (r["a_id"], r["b_id"])
            for r in lsh_candidate_pairs(cap_hot_bands(bands, 100)).collect()
        }
        assert capped == uncapped

    def test_capped_pairs_are_subset_and_bounded(self, spark):
        """A planted boilerplate mega-group: every doc shares the same
        text, so all collapse into the same band buckets. With cap=c
        the mega-bucket is dropped entirely; pairs from cooler buckets
        survive. Output must be a subset of the uncapped output, and
        the mega-group's quadratic pair set must be gone."""
        from starknet_indexer_spark.operators.dedup import cap_hot_bands

        boiler = [(100 + i, BASE) for i in range(20)]  # 20 identical docs
        distinct_pair = [
            (1, BASE.replace("winter", "summer") + " unique tail marker one"),
            (2, BASE.replace("winter", "summer") + " unique tail marker one"),
        ]
        docs = spark.createDataFrame(
            boiler + distinct_pair, "doc_id long, text string"
        )
        bands = self._bands(docs)
        uncapped = {
            (r["a_id"], r["b_id"]) for r in lsh_candidate_pairs(bands).collect()
        }
        capped = {
            (r["a_id"], r["b_id"])
            for r in lsh_candidate_pairs(cap_hot_bands(bands, 8)).collect()
        }
        assert capped <= uncapped
        # the 20-doc mega-group (190 quadratic pairs) is capped away...
        assert not any(a >= 100 and b >= 100 for a, b in capped)
        # ...while the small near-dup pair in its own cool bucket survives
        assert (1, 2) in capped

    def test_cap_bites_on_corpus(self, spark):
        """At sf0.001 the cap must actually drop buckets (otherwise the
        registered query only ever exercises the passthrough path and
        the driver row proves nothing about capping)."""
        from starknet_indexer_spark.catalog import load
        from starknet_indexer_spark.queries.pipeline_dedup import BAND_CAP

        docs = load(spark, "/root/testdata/sf0.001", "documents")
        bands = self._bands(docs)
        hot = (
            bands.groupBy("band", "band_key")
            .count()
            .filter(F.col("count") > BAND_CAP)
            .count()
        )
        assert hot > 0


class TestHashThresholdDistinct:
    def test_estimate_tracks_exact(self, spark):
        """The 1-in-64 hash-threshold estimate must land within 35% of
        the exact distinct-shingle count per source on the real
        corpus (error ~ 1/sqrt(retained); the corpus retains dozens
        per source). Deterministic — this is a fixed assertion, not a
        flaky statistical test."""
        from starknet_indexer_spark.catalog import load
        from starknet_indexer_spark.queries.pipeline_layout import (
            SHINGLE_RATIO_BITS,
        )
        from starknet_indexer_spark.operators.sketches import (
            hash_threshold_distinct,
        )

        docs = load(spark, "/root/testdata/sf0.01", "documents")
        toks = docs.select("source", tokens_expr(F.col("text")).alias("tokens"))
        sh = toks.filter(F.size("tokens") >= 3).select(
            "source",
            F.explode(word_shingles_expr(F.col("tokens"))).alias("shingle"),
        )
        est = {
            r["source"]: r["est_distinct"]
            for r in hash_threshold_distinct(
                sh, ["source"], F.col("shingle"), SHINGLE_RATIO_BITS
            ).collect()
        }
        exact = {
            r["source"]: r["n"]
            for r in sh.groupBy("source")
            .agg(F.count_distinct("shingle").alias("n"))
            .collect()
        }
        assert set(est) == set(exact)
        for src, n in exact.items():
            assert abs(est[src] - n) / n < 0.35, (src, est[src], n)

    def test_unbiased_on_known_domain(self, spark):
        """Over a large synthetic domain the estimate converges: 100k
        distinct values at 1-in-64 retains ~1562 samples -> a few
        percent error."""
        from starknet_indexer_spark.operators.sketches import (
            hash_threshold_distinct,
        )

        df = spark.range(100_000).select(
            F.lit("g").alias("g"), F.concat(F.lit("v"), F.col("id")).alias("v")
        )
        est = hash_threshold_distinct(df, ["g"], F.col("v"), 6).collect()[0][
            "est_distinct"
        ]
        assert abs(est - 100_000) / 100_000 < 0.10


class TestZorderLayout:
    def test_key_interleaves_bits(self, spark):
        from starknet_indexer_spark.operators.layout import zorder_key_expr

        rows = spark.createDataFrame(
            [(0b101, 0b011)], "a long, b long"
        ).select(
            zorder_key_expr([F.col("a"), F.col("b")], 4).alias("z")
        ).collect()
        # a=0b101 in even lanes, b=0b011 in odd lanes:
        # bit0=a0=1, bit1=b0=1, bit2=a1=0, bit3=b1=1, bit4=a2=1, bit5=b2=0
        assert rows[0]["z"] == 0b011011

    def test_zordered_layout_prunes_both_dims(self, spark, tmp_path):
        """write_zordered must (1) preserve the row set and (2) leave
        parquet files whose per-file [min,max] spans are tight in BOTH
        dimensions — the statistic row-group skipping keys off. The
        control is the same data laid out by a single-dim sort, where
        the NON-leading dimension's spans stay near-global. Dims are
        pre-bucketed to comparable widths (hour//4: 0..179 vs user:
        0..149) per the operator's contract."""
        import pyarrow.parquet as pq
        import glob

        from starknet_indexer_spark.catalog import load
        from starknet_indexer_spark.operators.layout import write_zordered

        ev = load(spark, "/root/testdata/sf0.01", "events").select(
            "event_id",
            "user_id",
            F.expr("(unix_micros(ts) div 3600000000 - 473352) div 4").alias("hour_b"),
        )

        zpath = str(tmp_path / "z")
        write_zordered(ev, zpath, ["user_id", "hour_b"], bits_per_dim=16, n_files=32)
        spath = str(tmp_path / "s")
        ev.repartitionByRange(32, "user_id").sortWithinPartitions(
            "user_id"
        ).write.mode("overwrite").parquet(spath)

        back = spark.read.parquet(zpath)
        assert sorted(r["event_id"] for r in back.collect()) == sorted(
            r["event_id"] for r in ev.collect()
        )

        def mean_span(path, col):
            spans = []
            for f in glob.glob(f"{path}/*.parquet"):
                md = pq.ParquetFile(f).metadata
                for rg in range(md.num_row_groups):
                    cols = {
                        md.row_group(rg).column(i).path_in_schema: md.row_group(
                            rg
                        ).column(i).statistics
                        for i in range(md.row_group(rg).num_columns)
                    }
                    st = cols[col]
                    spans.append(st.max - st.min)
            return sum(spans) / len(spans)

        hr_global = 179  # bucketed corpus spans 0..179
        # the single-dim layout leaves hour spans near-global...
        assert mean_span(spath, "hour_b") > 0.8 * hr_global
        # ...the z-order layout tightens BOTH dims' spans well below
        # global — multi-dimensional skipping from plain parquet
        assert mean_span(zpath, "hour_b") < 0.5 * hr_global
        assert mean_span(zpath, "user_id") < 0.5 * 149


class TestProductQuantization:
    SF = "/root/testdata/sf0.001"

    def _vecs(self, spark):
        from starknet_indexer_spark.catalog import load
        from starknet_indexer_spark.operators.clustering import quantize_expr

        emb = load(spark, self.SF, "embeddings")
        return emb.select("vec_id", quantize_expr(F.col("embedding")).alias("qv"))

    def test_codes_in_range_and_total(self, spark):
        from starknet_indexer_spark.queries import REGISTRY
        from starknet_indexer_spark.queries.pipeline_pq import PQ_K, PQ_M

        rows = REGISTRY["pq_encode_codes"].fn(spark, self.SF).collect()
        assert len(rows) == 500
        for r in rows:
            for m in range(PQ_M):
                assert 0 <= r[f"code_{m}"] < PQ_K
            assert r["err"] >= 0

    def test_encode_is_map_only_past_training(self, spark):
        """The encode plan's shuffles all belong to codebook TRAINING
        (K*dim partial sums per Lloyd round); the corpus-side encode
        itself is broadcast codebooks + argmin folds in the scan. A
        regression that shuffles the corpus to encode it would blow
        this budget immediately."""
        from starknet_indexer_spark.plans.inspect import shuffle_count
        from starknet_indexer_spark.queries import REGISTRY

        assert shuffle_count(REGISTRY["pq_encode_codes"].fn(spark, self.SF)) <= 4

    def test_adc_shortlist_rerank_recall(self, spark):
        """The deployment composition — PQ-ADC shortlist, exact
        re-rank — must recover >= 0.85 recall@5 vs brute-force exact
        top-5 with a shortlist of 100 on the 500-vector corpus.
        (Pure ADC@5 recall is ~0.26 here: the synthetic embeddings
        are near-random 64-dim, the hardest PQ regime — which is
        exactly why the rerank stage exists.) Deterministic: fixed
        codebooks, integer distances, total tiebreak."""
        from pyspark.sql.window import Window as W

        from starknet_indexer_spark.operators.annkernels import pq_kernel
        from starknet_indexer_spark.operators.clustering import (
            dist2_expr,
            pq_codebooks,
        )

        from .reference_ops import pq_reconstruct_expr

        vecs = self._vecs(spark)
        qset = vecs.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), F.col("qv").alias("qq")
        )
        cand = vecs.select(
            F.col("vec_id").alias("neighbor_id"), F.col("qv").alias("dv")
        )
        w = W.partitionBy("query_id").orderBy("d2", "neighbor_id")

        exact = (
            cand.crossJoin(F.broadcast(qset))
            .filter("query_id != neighbor_id")
            .select(
                "query_id",
                "neighbor_id",
                dist2_expr(F.col("qq"), F.col("dv")).alias("d2"),
            )
        )
        exact5 = {
            (r["query_id"], r["neighbor_id"])
            for r in exact.withColumn("rank", F.row_number().over(w))
            .filter("rank<=5")
            .collect()
        }

        m_sub = 4
        books = pq_codebooks(vecs, 64, m_sub, 16, 1)
        enc = pq_kernel(vecs, books, 64, emit_codes=True)
        for m, cents in enumerate(books):
            arr = cents.agg(
                F.collect_list(F.struct("cluster_id", "cv")).alias(f"__cs_{m}")
            )
            enc = enc.crossJoin(F.broadcast(arr))
        recon = enc.select(
            F.col("vec_id").alias("neighbor_id"),
            pq_reconstruct_expr(
                [f"__cs_{m}" for m in range(m_sub)],
                [f"code_{m}" for m in range(m_sub)],
            ).alias("rv"),
        )
        adc = (
            recon.crossJoin(F.broadcast(qset))
            .filter("query_id != neighbor_id")
            .select(
                "query_id",
                "neighbor_id",
                dist2_expr(F.col("qq"), F.col("rv")).alias("d2"),
            )
        )
        shortlist = (
            adc.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 100)
            .select("query_id", "neighbor_id")
        )
        rerank = (
            shortlist.join(cand, "neighbor_id")
            .join(F.broadcast(qset), "query_id")
            .select(
                "query_id",
                "neighbor_id",
                dist2_expr(F.col("qq"), F.col("dv")).alias("d2"),
            )
        )
        top5 = {
            (r["query_id"], r["neighbor_id"])
            for r in rerank.withColumn("rank", F.row_number().over(w))
            .filter("rank<=5")
            .collect()
        }
        assert len(exact5 & top5) / len(exact5) >= 0.85


class TestAnnKernelEdgeInputs:
    """Empty, one-row and empty-model inputs for the int64 GEMM
    kernels (the only production assignment path)."""

    VECS = "vec_id bigint, qv array<bigint>"
    CENTS = "cluster_id bigint, cv array<bigint>"

    def _cents(self, spark):
        return spark.createDataFrame(
            [(0, [0, 0, 0, 0]), (1, [10, 10, 10, 10]), (2, [10, 10, 10, 10])],
            self.CENTS,
        )

    def test_kmeans_assign_kernel_empty_and_one_row(self, spark):
        from starknet_indexer_spark.operators.annkernels import (
            kmeans_assign_kernel,
        )

        from .reference_ops import kmeans_assign

        cents = self._cents(spark)
        empty = kmeans_assign_kernel(spark.createDataFrame([], self.VECS), cents)
        assert empty.columns == ["vec_id", "qv", "cluster", "d2"]
        assert empty.collect() == []
        # equidistant from clusters 1 and 2: the tie breaks to 1
        one = spark.createDataFrame([(7, [9, 9, 9, 9])], self.VECS)
        got = [tuple(r) for r in kmeans_assign_kernel(one, cents).collect()]
        assert got == [(7, [9, 9, 9, 9], 1, 4)]
        assert got == [tuple(r) for r in kmeans_assign(one, cents).collect()]

    def test_pq_kernel_empty_and_one_row(self, spark):
        from starknet_indexer_spark.operators.annkernels import pq_kernel

        from .reference_ops import pq_encode

        books = [
            spark.createDataFrame([(0, [0, 0]), (1, [5, 5])], self.CENTS),
            spark.createDataFrame([(3, [1, 1]), (4, [8, 8])], self.CENTS),
        ]
        empty = pq_kernel(
            spark.createDataFrame([], self.VECS), books, 4,
            emit_codes=True, emit_err=True,
        )
        assert empty.columns == ["vec_id", "code_0", "code_1", "err"]
        assert empty.collect() == []
        one = spark.createDataFrame([(7, [4, 5, 2, 1])], self.VECS)
        got = [
            tuple(r)
            for r in pq_kernel(
                one, books, 4, emit_codes=True, emit_err=True
            ).collect()
        ]
        assert got == [(7, 1, 3, 2)]
        assert got == [tuple(r) for r in pq_encode(one, books, 4).collect()]

    def test_empty_model_relation_raises_named_error(self, spark):
        """An empty centroid / codebook / cell relation has no nearest
        row: an explicit ValueError naming it, raised when the kernel is
        built (not a numpy AxisError inside a Python worker)."""
        import pytest

        from starknet_indexer_spark.operators.annkernels import (
            kmeans_assign_kernel,
            pq_kernel,
        )

        vecs = spark.createDataFrame([(7, [1, 2, 3, 4])], self.VECS)
        none = spark.createDataFrame([], self.CENTS)
        with pytest.raises(ValueError, match="centroid relation is empty"):
            kmeans_assign_kernel(vecs, none)
        book = spark.createDataFrame([(0, [0, 0])], self.CENTS)
        with pytest.raises(ValueError, match="codebook 1 relation is empty"):
            pq_kernel(vecs, [book, none], 4, emit_codes=True)
        with pytest.raises(ValueError, match="IVF cell relation is empty"):
            pq_kernel(vecs, [book, book], 4, cells=none, emit_codes=True)


class TestSimHash:
    def test_banding_is_exact_for_small_hamming(self, spark):
        """Banded candidate pairs == brute-force pairs for hamming <
        SIMHASH_N_BANDS (pigeonhole) on real corpus data."""
        docs = load(spark, SF_DIR, "documents")
        fps = simhash_fingerprint(docs).cache()
        max_h = SIMHASH_N_BANDS - 1

        banded = {
            (r["a_id"], r["b_id"], r["hamming"])
            for r in simhash_near_pairs(fps, max_h).collect()
        }
        a = fps.select(F.col("doc_id").alias("a_id"), F.col("fingerprint").alias("a_fp"))
        b = fps.select(F.col("doc_id").alias("b_id"), F.col("fingerprint").alias("b_fp"))
        brute = {
            (r["a_id"], r["b_id"], r["hamming"])
            for r in a.join(b, F.col("a_id") < F.col("b_id"))
            .select(
                "a_id", "b_id",
                F.bit_count(F.col("a_fp").bitwiseXOR(F.col("b_fp"))).alias("hamming"),
            )
            .filter(F.col("hamming") <= max_h)
            .collect()
        }
        fps.unpersist()
        assert banded == brute
        assert len(brute) > 0  # corpus contains near-dups; test is non-vacuous


class TestLshAnn:
    def test_bucket_range_and_coverage(self, spark):
        emb = load(spark, SF_DIR, "embeddings")
        vb = with_bucket(emb)
        stats = vb.agg(
            F.min("bucket").alias("lo"),
            F.max("bucket").alias("hi"),
            F.countDistinct("bucket").alias("n"),
        ).collect()[0]
        assert 0 <= stats["lo"] and stats["hi"] < (1 << N_PLANES)
        assert stats["n"] > 1  # hyperplanes actually split the corpus


class TestAsofJoin:
    def test_semantics(self, spark):
        from starknet_indexer_spark.operators.asof import asof_join

        left = spark.createDataFrame(
            [(1, 10, "a"), (1, 15, "b"), (1, 20, "c"), (2, 5, "d")],
            "k long, ts long, tag string",
        )
        right = spark.createDataFrame(
            [(1, 10, 100.0), (1, 18, 180.0), (3, 1, 999.0)],
            "k long, ts long, v double",
        )
        got = {
            (r["k"], r["ts"], r["tag"], r["v"])
            for r in asof_join(left, right, ["k"], "ts", ["v"]).collect()
        }
        assert got == {
            (1, 10, "a", 100.0),   # tie: right row at t matches left at t
            (1, 15, "b", 100.0),   # most recent at-or-before
            (1, 20, "c", 180.0),
            (2, 5, "d", None),     # no right row for key -> null
        }


class TestHeavyHittersMG:
    def test_nonempty_and_evicting(self, spark):
        """The batch MG query must exercise eviction (more distinct
        items than counters) and still produce exactly the
        above-threshold items — non-empty, and a strict subset."""
        from starknet_indexer_spark.queries.profiling import (
            MG_K,
            _items,
            heavy_hitters_mg,
        )

        n_items = _items(spark, SF_DIR).distinct().count()
        assert n_items > MG_K  # counters must evict
        out = heavy_hitters_mg(spark, SF_DIR).collect()
        assert 0 < len(out) < n_items
        n = _items(spark, SF_DIR).count()
        for r in out:
            assert r["cnt"] * (MG_K + 1) > n


class TestIvfPqRerankRecall:
    def test_recall_vs_exact_cosine(self, spark):
        """The registered IVF-PQ + exact-rerank composition must
        recover >= 0.85 recall@5 against brute-force exact cosine
        ground truth (embeddings are unit-norm, so the exact-L2
        rerank order IS the cosine order). Deterministic: fixed
        codebooks, integer distances, total tiebreaks. Measured 0.88
        at nprobe=4 of 8 cells."""
        from starknet_indexer_spark.queries import REGISTRY

        sf = "/root/testdata/sf0.01"
        truth: dict = {}
        for r in REGISTRY["ann_topk_cosine"].fn(spark, sf).collect():
            truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        got: dict = {}
        for r in REGISTRY["ann_topk_ivfpq_rerank"].fn(spark, sf).collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
        total = sum(len(v) for v in truth.values())
        assert hits / total >= 0.85, (hits, total)


class TestSampledQuantiles:
    def test_sample_tracks_exact_quartiles(self, spark):
        """The 1-in-8 hash-sample quartiles must sit close to the
        exact quartiles: within a quarter of the exact IQR per type at
        sf0.01 (deterministic — the sample is hash-keyed)."""
        from starknet_indexer_spark.queries import REGISTRY

        sf = "/root/testdata/sf0.01"
        got = {
            r["event_type"]: r
            for r in REGISTRY["approx_quantiles_sampled"].fn(spark, sf).collect()
        }
        from starknet_indexer_spark.catalog import load

        exact = {
            r["event_type"]: r
            for r in load(spark, sf, "events")
            .filter(F.col("event_type").isNotNull() & F.col("value").isNotNull())
            .groupBy("event_type")
            .agg(
                F.expr("percentile(value, 0.25)").alias("q25"),
                F.expr("percentile(value, 0.50)").alias("q50"),
                F.expr("percentile(value, 0.75)").alias("q75"),
            )
            .collect()
        }
        assert set(got) == set(exact)
        for et, e in exact.items():
            iqr = e["q75"] - e["q25"]
            assert iqr > 0
            for q in ("q25", "q50", "q75"):
                assert abs(got[et][q] - e[q]) <= 0.25 * iqr, (et, q)
            assert got[et]["n_sample"] > 50  # enough mass to trust


class TestPrefixSetJoin:
    def test_prefix_blocking_prunes_and_loses_nothing(self, spark):
        """The prefix-blocked candidate set must be a strict subset of
        the full inverted-index pair set (the efficiency claim) while
        the verified result is exact (the oracle proves equality to a
        full inverted-index computation; here we pin the pruning)."""
        from starknet_indexer_spark.catalog import load
        from starknet_indexer_spark.operators.dedup import (
            tokens_expr,
            word_shingles_expr,
        )
        from starknet_indexer_spark.queries.pipeline_setjoin import (
            SETJOIN_THRESHOLD,
            prefix_candidates,
            prefix_jaccard_pairs,
        )

        docs = load(spark, SF_DIR, "documents")
        sets = docs.select(
            "doc_id", word_shingles_expr(tokens_expr(F.col("text"))).alias("toks")
        )
        _ranked, cands = prefix_candidates(sets, SETJOIN_THRESHOLD)
        n_cands = cands.count()

        ex = sets.filter(F.size("toks") > 0).select(
            "doc_id", F.explode("toks").alias("t")
        )
        n_full = (
            ex.alias("a")
            .join(
                ex.alias("b"),
                (F.col("a.t") == F.col("b.t"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select("a.doc_id", "b.doc_id")
            .distinct()
            .count()
        )
        n_result = prefix_jaccard_pairs(sets, SETJOIN_THRESHOLD).count()
        assert 0 < n_result <= n_cands < n_full, (n_result, n_cands, n_full)

    def test_capped_prefix_join_subset_bound_and_passthrough(self, spark):
        """Hot-token capping on the prefix relation must (a) return a
        SUBSET of the uncapped pairs at any cap, (b) pass through
        unchanged when no prefix-token bucket exceeds the cap, and
        (c) bound per-token candidate work: with cap c no token can
        contribute more than c*(c-1)/2 pairs, so a replication-style
        mega-bucket is dropped rather than exploding quadratically."""
        from starknet_indexer_spark.catalog import load
        from starknet_indexer_spark.operators.dedup import (
            tokens_expr,
            word_shingles_expr,
        )
        from starknet_indexer_spark.queries.pipeline_setjoin import (
            SETJOIN_THRESHOLD,
            prefix_candidates,
            prefix_jaccard_pairs,
        )

        docs = load(spark, SF_DIR, "documents")
        sets = docs.select(
            "doc_id", word_shingles_expr(tokens_expr(F.col("text"))).alias("toks")
        )

        def pairs(cap):
            return {
                (r["a_id"], r["b_id"])
                for r in prefix_jaccard_pairs(
                    sets, SETJOIN_THRESHOLD, max_token_bucket=cap
                ).collect()
            }

        uncapped = pairs(None)
        assert uncapped  # fixture has near-dup pairs
        # (b) pass-through: sf0.001 prefix buckets are all tiny
        assert pairs(10_000) == uncapped
        # (a) subset at a cap small enough to bite: cap=1 keeps only
        # tokens unique to ONE doc's prefix -> no candidates at all
        assert pairs(1) == set()

        # (c) replication mega-bucket: 6 copies of each doc make every
        # prefix-token bucket a multiple of 6; cap=5 drops them all,
        # while uncapped blocking explodes with the replica pairs
        repl = (
            sets.crossJoin(spark.range(6).select(F.col("id").alias("rep")))
            .select(
                (F.col("doc_id") + F.col("rep") * F.lit(1_000_000)).alias(
                    "doc_id"
                ),
                "toks",
            )
        )
        _r, cand_un = prefix_candidates(repl, SETJOIN_THRESHOLD, None)
        _r, cand_cap = prefix_candidates(repl, SETJOIN_THRESHOLD, 5)
        n_un, n_cap = cand_un.count(), cand_cap.count()
        assert n_cap == 0, n_cap  # every bucket >= 6 > cap
        assert n_un > 0

    def test_prefix_len_exact_rational(self, spark):
        """prefix_len = n - ceil(t*n) + 1 must be computed in EXACT
        integer arithmetic (ADVICE r9): at t=0.8 the IEEE product t*n
        is correct only by a sub-half-ulp margin, and a one-token-short
        prefix silently breaks the losslessness theorem. Pin the Spark
        column against Fraction-based ceil for every n in 1..120 at
        several thresholds, including the boundary-prone ones."""
        from fractions import Fraction

        from starknet_indexer_spark.queries.pipeline_setjoin import (
            ranked_sets,
        )

        sets = spark.createDataFrame(
            [(n, [f"tok-{n}-{i}" for i in range(n)]) for n in range(1, 121)],
            "doc_id long, toks array<string>",
        )
        for t in (0.5, 0.7, 0.8, 0.9):
            frac = Fraction(str(t))
            got = {
                r["doc_id"]: r["prefix_len"]
                for r in ranked_sets(sets, t).select(
                    "doc_id", "prefix_len"
                ).collect()
            }
            for n in range(1, 121):
                want = n - (-((-n * frac.numerator) // frac.denominator)) + 1
                assert got[n] == want, (t, n, got[n], want)

    def test_containment_planted_subsumption(self, spark):
        """A doc whose shingles are a strict subset of a 3x-larger
        doc's must surface in the containment join (containment 1.0)
        while staying BELOW the Jaccard threshold — the case the
        symmetric join structurally misses."""
        from starknet_indexer_spark.queries.pipeline_setjoin import (
            CONTAINMENT_THRESHOLD,
            SETJOIN_THRESHOLD,
            containment_pairs,
            prefix_jaccard_pairs,
        )

        words = [f"w{i}" for i in range(40)]
        big = " ".join(words)                # 38 shingles
        small = " ".join(words[:12])         # 10 shingles, all in big
        other = " ".join(f"z{i}" for i in range(30))
        sets = spark.createDataFrame(
            [(1, small), (2, big), (3, other)], ["doc_id", "text"]
        )
        from starknet_indexer_spark.operators.dedup import (
            tokens_expr,
            word_shingles_expr,
        )

        sets = sets.select(
            "doc_id", word_shingles_expr(tokens_expr(F.col("text"))).alias("toks")
        )
        got = {
            (r["a_id"], r["b_id"]): r
            for r in containment_pairs(sets, CONTAINMENT_THRESHOLD).collect()
        }
        assert (1, 2) in got
        assert got[(1, 2)]["containment"] == 1.0
        assert (2, 1) not in got  # asymmetric: big is NOT inside small
        # Jaccard(small, big) = 10/38 < 0.5: symmetric join misses it
        jac = prefix_jaccard_pairs(sets, SETJOIN_THRESHOLD).collect()
        assert not any({r["a_id"], r["b_id"]} == {1, 2} for r in jac)

    def test_containment_min_set_floor(self, spark):
        """Sets smaller than CONTAINMENT_MIN_SET never appear on the
        contained side (the rule the oracle mirrors), but may still
        serve as containers."""
        from starknet_indexer_spark.catalog import load
        from starknet_indexer_spark.operators.dedup import (
            tokens_expr,
            word_shingles_expr,
        )
        from starknet_indexer_spark.queries.pipeline_setjoin import (
            CONTAINMENT_MIN_SET,
            containment_pairs,
        )

        docs = load(spark, SF_DIR, "documents")
        sets = docs.select(
            "doc_id", word_shingles_expr(tokens_expr(F.col("text"))).alias("toks")
        )
        rows = containment_pairs(sets).collect()
        assert rows, "no containment pairs at sf0.001"
        assert all(r["a_n"] >= CONTAINMENT_MIN_SET for r in rows)
        assert all(
            r["inter"] <= r["a_n"] and r["containment"] >= 0.8 for r in rows
        )


class TestBloomFilter:
    def test_no_false_negatives_and_bounded_fp(self, spark):
        """Every eval n-gram that EXACTLY appears in the train split
        must be bloom-flagged (no false negatives); the extra flags
        (false positives) must stay a small fraction at the chosen
        k=4 / m=2^20 sizing."""
        from starknet_indexer_spark.catalog import load
        from starknet_indexer_spark.operators.dedup import (
            md5_hash60_expr,
            tokens_expr,
            word_ngrams_expr,
        )
        from starknet_indexer_spark.queries import REGISTRY
        from starknet_indexer_spark.queries.pipeline_dedup import (
            DECONTAM_N,
            EVAL_SOURCE,
        )

        sf = "/root/testdata/sf0.01"
        docs = load(spark, sf, "documents")
        grams = (
            docs.select(
                "doc_id", "source", tokens_expr(F.col("text")).alias("tokens")
            )
            .filter(F.size("tokens") >= DECONTAM_N)
            .select(
                "doc_id",
                "source",
                F.explode(
                    F.array_distinct(word_ngrams_expr(F.col("tokens"), DECONTAM_N))
                ).alias("gram"),
            )
            .select("doc_id", "source", md5_hash60_expr(F.col("gram")).alias("gh"))
        )
        train = grams.filter(F.col("source") != EVAL_SOURCE).select("gh").distinct()
        ev = (
            grams.filter(F.col("source") == EVAL_SOURCE)
            .select("doc_id", "gh")
            .distinct()
        )
        exact = {
            r["doc_id"]: r["n_hit"]
            for r in ev.join(train, "gh", "left_semi")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_hit"))
            .collect()
        }
        bloom = {
            r["doc_id"]: (r["n_ngrams"], r["n_bloom_hit"])
            for r in REGISTRY["bloom_decontamination"].fn(spark, sf).collect()
        }
        assert set(exact) <= set(bloom)
        total_grams = sum(n for n, _ in bloom.values())
        total_exact = sum(exact.values())
        total_bloom = sum(h for _, h in bloom.values())
        for doc_id, (n, h) in bloom.items():
            assert h >= exact.get(doc_id, 0), doc_id  # no false negatives
            assert h <= n
        # false positives exist in principle but must be rare at this
        # sizing: < 2% of the non-member probes
        fp = total_bloom - total_exact
        assert 0 <= fp <= 0.02 * max(1, total_grams - total_exact), (
            fp,
            total_grams,
            total_exact,
        )

    def test_duplicate_probe_rows_cannot_false_negative(self, spark):
        """A duplicated member probe row must still report hit=True,
        and each duplicate keeps its own output row (one output row
        per input row)."""
        from starknet_indexer_spark.operators.sketches import (
            bloom_bitset,
            bloom_build,
            bloom_probe_hits,
        )

        members = spark.createDataFrame([("a",), ("b",)], "item string")
        bits = bloom_bitset(
            bloom_build(members, F.col("item"), k=4, m_bits=1 << 16), 1 << 16
        )
        probes = spark.createDataFrame(
            [("a",), ("a",), ("zzz-nonmember",)], "item string"
        )
        rows = bloom_probe_hits(
            probes, F.col("item"), bits, k=4, m_bits=1 << 16
        ).collect()
        assert len(rows) == 3
        assert [r["bloom_hit"] for r in rows if r["item"] == "a"] == [True, True]
        assert [r["bloom_hit"] for r in rows if r["item"] != "a"] == [False]

    def test_probe_edge_inputs(self, spark):
        """Empty probes give an empty result with the hit column; an
        empty ``bits`` relation (nothing was a member) flags no row;
        a NULL probe item is never a hit; a one-row probe gives one
        row; a bitset of the wrong size raises."""
        from starknet_indexer_spark.operators.sketches import (
            bloom_bitset,
            bloom_build,
            bloom_probe_hits,
        )

        m_bits = 1 << 10
        members = spark.createDataFrame([("a",)], "item string")
        bits = bloom_bitset(
            bloom_build(members, F.col("item"), k=3, m_bits=m_bits), m_bits
        )
        no_bits = bloom_bitset(
            bloom_build(members.limit(0), F.col("item"), k=3, m_bits=m_bits),
            m_bits,
        )

        empty = bloom_probe_hits(
            members.limit(0), F.col("item"), bits, k=3, m_bits=m_bits
        )
        assert empty.columns == ["item", "bloom_hit"]
        assert empty.collect() == []

        probes = spark.createDataFrame([("a",), (None,), ("b",)], "item string")
        none_set = bloom_probe_hits(
            probes, F.col("item"), no_bits, k=3, m_bits=m_bits
        ).collect()
        assert len(none_set) == 3
        assert all(r["bloom_hit"] is False for r in none_set)

        got = bloom_probe_hits(
            probes, F.col("item"), bits, k=3, m_bits=m_bits
        ).collect()
        assert len(got) == 3
        by_item = {r["item"]: r["bloom_hit"] for r in got}
        assert by_item["a"] is True
        assert by_item[None] is False

        one = bloom_probe_hits(
            members, F.col("item"), bits, k=3, m_bits=m_bits
        ).collect()
        assert [(r["item"], r["bloom_hit"]) for r in one] == [("a", True)]

        # a bitset packed for another m_bits is refused, not misread
        with pytest.raises(ValueError, match=f"m_bits={m_bits}"):
            bloom_probe_hits(probes, F.col("item"), bits[:-1], k=3, m_bits=m_bits)


class TestCountMinSketch:
    def test_never_underestimates_and_bounded(self, spark):
        """CM estimates must be >= exact counts for every item, and
        with width 64 over 150 users the total overestimate must stay
        within the classic e*n/width-style collision mass (loose 2x
        slack — deterministic, not probabilistic, for fixed salts)."""
        from starknet_indexer_spark.queries import REGISTRY
        from starknet_indexer_spark.catalog import load
        from starknet_indexer_spark.queries.profiling import CM_WIDTH

        sf = "/root/testdata/sf0.01"
        est = {
            r["item"]: r["est"]
            for r in REGISTRY["cm_count_estimates"].fn(spark, sf).collect()
        }
        exact = {
            str(r["item"]): r["n"]
            for r in load(spark, sf, "events")
            .filter(F.col("user_id").isNotNull())
            .groupBy(F.col("user_id").cast("string").alias("item"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert set(est) == set(exact)
        n_total = sum(exact.values())
        for item, e in est.items():
            assert e >= exact[item], item
            # per-item overestimate bound: collisions add at most the
            # counts sharing the min row's bucket; loose global check
            assert e - exact[item] <= 2 * 2.72 * n_total / CM_WIDTH, item


class TestCurationPipeline:
    def test_exact_dup_stage_fires_first(self, spark, tmp_path):
        """The synthetic corpora carry no byte-identical texts at small
        SF, so plant one: a clone of a KEPT document must be dropped
        as exact_dup (not near_dup — exact fires first), and every
        other outcome count must be unchanged."""
        from starknet_indexer_spark.catalog import load
        from starknet_indexer_spark.queries import REGISTRY

        fn = REGISTRY["corpus_curation_pipeline"].fn
        base = {
            (r["lang"], r["outcome"]): (r["n_docs"], r["n_chars"])
            for r in fn(spark, SF_DIR).collect()
        }
        docs = load(spark, SF_DIR, "documents")
        # clone one currently-kept doc under a HIGHER doc_id
        assert ("en", "exact_dup") not in base  # precondition
        # the victim must pass the quality gate (else both copies are
        # labeled 'quality' and the exact stage never fires)
        keep_ids = REGISTRY["gopher_quality_filter"].fn(spark, SF_DIR).filter(
            F.col("keep")
        ).select("doc_id")
        victim = (
            docs.join(keep_ids, "doc_id")
            .filter(F.col("lang") == "en")
            .orderBy("doc_id")
            .limit(1)
        )
        clone = victim.select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"),
            "text", "lang", "source", "n_chars",
        )
        aug = str(tmp_path / "aug")
        import os as _os

        _os.makedirs(aug)
        docs.select("doc_id", "text", "lang", "source", "n_chars").unionByName(
            clone
        ).coalesce(1).write.parquet(_os.path.join(aug, "documents.parquet"))

        got = {
            (r["lang"], r["outcome"]): (r["n_docs"], r["n_chars"])
            for r in fn(spark, aug).collect()
        }
        vrow = victim.collect()[0]
        key = ("en", "exact_dup")
        assert got[key][0] == 1 and got[key][1] == len(vrow["text"])
        # all other cells unchanged
        for k, v in base.items():
            assert got[k] == v, k


class TestCountMinAbsentItems:
    def test_absent_item_estimates_zero(self, spark):
        """Probing a key absent from the sketched data must yield
        est=0 (its empty cells count), never a dropped row or a min
        over only the non-empty cells."""
        from starknet_indexer_spark.operators.sketches import (
            cm_estimate,
            cm_sketch,
        )

        data = spark.createDataFrame(
            [("a",)] * 5 + [("b",)] * 2, "item string"
        )
        sketch = cm_sketch(data, F.col("item"), depth=3, width=8)
        probes = spark.createDataFrame(
            [("a",), ("zzz-never-seen",)], "item string"
        )
        got = {
            r["item"]: r["est"]
            for r in cm_estimate(sketch, probes, "item", 3, 8).collect()
        }
        assert got["a"] >= 5
        assert got["zzz-never-seen"] == 0


class TestPageRank:
    def test_rank_semantics(self, spark):
        """Total rank stays ~= SCALE (conserved up to integral-division
        floor loss), every node gets at least the teleport share, and
        a high-degree node outranks a low-degree one."""
        from starknet_indexer_spark.queries import REGISTRY
        from starknet_indexer_spark.queries.pipeline_graph import PR_SCALE

        rows = REGISTRY["graph_pagerank"].fn(spark, SF_DIR).collect()
        n = len(rows)
        total = sum(r["rank"] for r in rows)
        base = PR_SCALE // n
        teleport_floor = (15 * base) // 100
        # floors lose at most ~1 unit per division: n contribs + n mixes
        assert PR_SCALE * 0.98 <= total <= PR_SCALE, (total, n)
        assert all(r["rank"] >= teleport_floor for r in rows)
        # degree correlates with rank: the max-degree node must not be
        # ranked below the median
        ranks = sorted(r["rank"] for r in rows)
        assert max(r["rank"] for r in rows) > ranks[n // 2]


class TestEditDistJoin:
    def test_prefix_filter_lossless(self, spark):
        """The q-gram prefix index + short-key branch must reproduce
        the brute-force all-pairs Levenshtein join exactly (the
        ED-Join mismatch bound covers lmax > SHORT_MAX; the all-pairs
        branch covers the vacuous-count-bound regime below it)."""
        from starknet_indexer_spark.queries.pipeline_editdist import (
            MAX_DIST,
            _distinct_keys,
            editdist_near_pairs,
        )

        got = {
            (r["id_a"], r["id_b"], r["dist"])
            for r in editdist_near_pairs(spark, SF_DIR).collect()
        }
        keys = _distinct_keys(spark, SF_DIR)
        a = keys.select(
            F.col("id").alias("id_a"), F.col("k").alias("ka")
        )
        b = keys.select(
            F.col("id").alias("id_b"), F.col("k").alias("kb")
        )
        brute = (
            a.join(b, F.col("id_a") < F.col("id_b"))
            .filter(F.levenshtein("ka", "kb") <= MAX_DIST)
            .select(
                "id_a", "id_b", F.levenshtein("ka", "kb").cast("long").alias("dist")
            )
        )
        want = {(r["id_a"], r["id_b"], r["dist"]) for r in brute.collect()}
        assert got == want
        assert len(got) > 0  # the corpus must actually exercise the join


class TestBlockedCosineJoin:
    def test_tiling_lossless_vs_theta_baseline(self, spark):
        """The blocked-GEMM join must reproduce the theta-join baseline
        exactly — for every tiling, including n_blocks=1 (one diagonal
        tile: pure upper-triangle path) and n_blocks=3 (uneven blocks,
        exercises off-diagonal orientation normalization + label swap)."""
        from starknet_indexer_spark.operators.similarity import blocked_cosine_pairs
        from starknet_indexer_spark.queries.pipeline_similarity import (
            NEAR_DUP_SIM,
            embedding_near_dup,
        )

        def key(rows):
            return {
                (r["a_id"], r["b_id"], r["a_label"], r["b_label"], r["sim"])
                for r in rows
            }

        want = key(embedding_near_dup(spark, SF_DIR).collect())
        assert len(want) > 0  # corpus must exercise the join
        emb = load(spark, SF_DIR, "embeddings")
        for nb in (1, 3, 8):
            got = key(blocked_cosine_pairs(emb, NEAR_DUP_SIM, n_blocks=nb).collect())
            assert got == want, f"n_blocks={nb}"
        # orientation invariant: a_id strictly below b_id everywhere
        assert all(a < b for (a, b, *_) in want), "a_id < b_id"

    def test_high_threshold_empty(self, spark):
        """No pair in the near-random corpus reaches 0.99 — the kernel's
        empty-tile path must produce a clean empty frame, not a numpy
        shape error."""
        from starknet_indexer_spark.operators.similarity import blocked_cosine_pairs

        emb = load(spark, SF_DIR, "embeddings")
        assert blocked_cosine_pairs(emb, 0.99).count() == 0


class TestLshRecallEval:
    def test_found_is_intersection_and_bounded(self, spark):
        """n_found <= min(n_exact, n_lsh_pairs) and recall_ppm is the
        floored ratio; at the corpus's shingle distribution the high-sim
        region should be near-fully recalled (banding is tuned for it)."""
        from starknet_indexer_spark.queries import REGISTRY

        r = REGISTRY["lsh_dedup_recall_eval"].fn(
            spark, "/root/testdata/sf0.001"
        ).collect()[0]
        assert r["n_found"] <= min(r["n_exact"], r["n_lsh_pairs"])
        import math

        want = math.floor(1e6 * r["n_found"] / max(r["n_exact"], 1) + 0.5)
        assert r["recall_ppm"] == want
        assert r["recall_ppm"] >= 900_000, r  # banding near-perfect at tau 0.5
