"""Plan-shape regression tests: the performance contract.

A wrong plan at 100 TB is as much a bug as a wrong answer — these lock
in predicate pushdown, column pruning, broadcast joins, codegen, and
shuffle budgets for representative queries from each family.
"""

from __future__ import annotations

import pytest

from starknet_indexer_spark.plans import (
    has_broadcast_join,
    has_whole_stage_codegen,
    pushed_filters,
    read_schemas,
    shuffle_count,
    without_aqe,
)
from starknet_indexer_spark.queries import REGISTRY

SF_DIR = "/root/testdata/sf0.001"


def q(spark, name):
    return REGISTRY[name].fn(spark, SF_DIR)


class TestPushdownAndPruning:
    def test_pricing_summary_filter_reaches_scan(self, spark):
        df = q(spark, "pricing_summary")
        assert any("l_shipdate" in f for f in pushed_filters(df))

    def test_pricing_summary_schema_narrow(self, spark):
        # 7 of lineitem's 16 columns; no l_comment, no keys
        (schema,) = read_schemas(df := q(spark, "pricing_summary"))
        assert "l_comment" not in schema and "l_orderkey" not in schema

    def test_latest_state_filter_pushdown(self, spark):
        df = q(spark, "latest_state_per_user")
        assert any("event_type" in f for f in pushed_filters(df))


class TestJoinStrategy:
    @pytest.mark.parametrize(
        "name",
        [
            "dim_join_revenue",
            "top_customers_per_nation",
            "ann_topk_cosine",
            "ann_topk_lsh",
            "shipping_priority",
            "local_supplier_volume",
            "min_cost_supplier",
            "nation_trade_volume",
            "supplier_part_variety",
            "large_volume_orders",
            "unigram_logprob_score",
        ],
    )
    def test_dimension_joins_broadcast(self, spark, name):
        assert has_broadcast_join(q(spark, name)), name

    @pytest.mark.parametrize(
        ("name", "budget"),
        [
            # fact-fact join (lineitem-orders) + agg; <=3 covers the
            # SMJ shape when neither side is statistics-broadcast
            ("shipping_priority", 3),
            ("local_supplier_volume", 3),
            # IVF: corpus assignment is map-only (array-fold argmax);
            # the remaining exchanges touch only centroid/probe/candidate
            # relations, never the corpus
            ("ann_topk_ivf", 4),
        ],
    )
    def test_fact_fact_join_budgets(self, spark, name, budget):
        assert shuffle_count(q(spark, name)) <= budget, name


class TestExecutionShape:
    @pytest.mark.parametrize(
        "name",
        ["pricing_summary", "hourly_rollup", "dedup_exact", "minhash_lsh_dedup"],
    )
    def test_whole_stage_codegen(self, spark, name):
        with without_aqe(spark):
            assert has_whole_stage_codegen(q(spark, name)), name

    def test_pricing_summary_single_shuffle(self, spark):
        # one groupBy -> exactly one exchange
        assert shuffle_count(q(spark, "pricing_summary")) == 1

    def test_hourly_rollup_shuffle_budget(self, spark):
        assert shuffle_count(q(spark, "hourly_rollup")) <= 2

    def test_dedup_exact_shuffle_budget(self, spark):
        # hash group-by + canonical join: bounded small shuffle count,
        # never a pairwise cross product
        assert shuffle_count(q(spark, "dedup_exact")) <= 3

    @pytest.mark.parametrize(
        ("name", "budget"),
        [
            ("realized_volatility", 2),  # window partition + final agg
            ("time_weighted_balance", 2),
            ("two_stage_price", 2),
            ("sliding_24h_stats", 2),
            ("hourly_net_flow", 1),  # mirrored union shares one exchange
            ("simhash_dedup", 3),
            # sessionize: groupBy key prefixes the window key, so the
            # aggregation reuses the window's user_id partitioning
            ("sessionize_events", 1),
            ("rollup_hourly_activity", 1),  # one pass for all grains
            ("token_doc_frequency", 1),
            ("top_tokens_per_lang", 2),  # count agg + per-lang top-k
            ("stratified_sample", 1),
            ("repetition_score", 2),  # bigram count agg + per-doc max/join
            # RANGE + ROWS frames both partition on user_id: one
            # exchange serves both window sorts
            ("rolling_window_stats", 1),
            ("sequence_packing", 1),  # one running-sum window per shard
            # offer agg and argmin window share the partkey exchange
            ("min_cost_supplier", 2),
            # lineitem-orders fact join + year/nation agg
            ("nation_trade_volume", 2),
            # per-part agg; global total is a single-partition branch
            ("part_value_share", 3),
            # per-customer count + distribution re-agg
            ("customer_order_distribution", 3),
            # anti-join broadcasts; distinct expands then re-aggregates
            ("supplier_part_variety", 2),
            # HAVING key set aggregates once, broadcasts back; the
            # detail re-agg shuffles on the composite group key
            ("large_volume_orders", 3),
            # scalar avg is single-partition; anti-join shuffles custkey
            ("idle_rich_customers", 4),
            # doc/token count agg + per-doc reduce share the doc_id prefix
            ("word_entropy_quality", 2),
            # LM table agg + per-doc agg; corpus tokens never join-shuffle
            ("unigram_logprob_score", 3),
            # one map-side-combined moments aggregate, nothing else
            ("price_quantity_regression", 1),
            # tf agg + df agg + stats agg + (query,doc) agg + top-k
            # window + single-partition stats exchange; all but the tf
            # aggregate are posting-list-sized
            ("bm25_topk", 6),
            # bm25 branch + dense top-k window + fusion agg + fused
            # window; the dense cosine itself is broadcast-map-only
            ("hybrid_rrf_retrieval", 9),
            # keys/prefix are lazily localCheckpointed (multi-consumer
            # relations), so the static plan shows only the shuffles
            # past the checkpoints; everything is key-level, never a
            # doc-level pair blow-up
            ("editdist_near_pairs", 8),
            ("source_mixing_sample", 1),
            ("length_bucket_histogram", 1),
            # corpus-wide segment window + per-doc reassembly
            ("segment_dedup", 2),
            # map-only regexp scrub — must stay shuffle-free
            ("pii_redaction", 0),
            # map-only explode — must stay shuffle-free
            ("chunk_overlap", 0),
            # (doc,term) agg + term df agg + broadcast back + doc window
            ("tfidf_top_terms", 4),
            # 3 Lloyd passes: 2x (cluster,k) partial-sum shuffles +
            # rep window + broadcast joins; assignment itself map-only
            ("semdedup_select", 15),
            # JL projection must stay map-only (16 folds in the scan)
            ("random_projection_reduce", 0),
            # bigram count + context re-agg + broadcasts + per-doc agg
            ("bigram_logprob_score", 4),
            # ntile/percent_rank/cume_dist + band agg share one
            # event_type exchange
            ("value_decile_bands", 1),
            # pivot agg + all-rows totals agg + source join
            ("source_lang_pivot", 3),
            # rollup agg + spine distinct + fill window
            ("gap_fill_hourly", 3),
            # map explode + distinct-agg expand on prop_key
            ("props_map_stats", 2),
            # one shard shuffle; per-shard sort only, no global sort
            ("corpus_shuffle_shard", 1),
            # single-pass profile: distinct-agg expand + final 1-row agg
            ("events_profile", 2),
            # coarse scan map-side (broadcast queries); one query_id
            # exchange serves both the shortlist and re-rank windows
            ("ann_topk_rp_rerank", 1),
            # co-moment aggregation: one hash agg with partial moments
            ("value_time_correlation", 1),
            # two exact-percentile passes sharing the event_type key
            ("value_mad_by_type", 2),
            # threshold filter map-side, then distinct partial + final
            ("approx_distinct_shingles", 2),
            # codebook training only (K*dim partials per subspace
            # round); corpus encode is broadcast + argmin folds
            ("pq_encode_codes", 4),
            # training + per-query top-k window; candidates
            # reconstruct map-side from broadcast codebooks
            ("pq_ann_adc_topk", 9),
            # stream-stream-capable interval join run in batch: one
            # user_id exchange serves join and per-buy aggregation
            ("interval_attribution", 1),
            # coarse + 4 residual codebook trainings (K*dim partials);
            # probe/encode/search are broadcast-side
            ("ann_topk_ivfpq", 14),
            # broadcast min-anchor + prefix agg (partial+final)
            ("zorder_locality", 2),
            # capped LSH: bucket-count window partitions on the same
            # (band, band_key) key the candidate join uses (one
            # exchange per join side under AQE) + the pair distinct
            ("minhash_lsh_dedup_capped", 3),
            # split per-check audit (r13, measured 1.85 vs 2.94 s for
            # the removed fused one-scan form): the corpus-sized exchanges
            # are the same 10 PK-key groupBys either way; the extra
            # ones are 1-row count aggregations (bytes ~ 0) + 7
            # parent-key dedups + the lineitem->orders anti-join no
            # longer sharing the PK groupBy's exchange (one extra
            # single-int-column shuffle at scale — the measured trade
            # the query docstring documents)
            ("constraint_violations", 44),
            # round-4 additions
            # per-partition MG summaries are map-only; exchanges are
            # the candidate distinct, the recount agg, and the 1-row
            # total broadcast
            ("heavy_hitters_mg", 3),
            # the full IVF-PQ chain (14) + shortlist window + rerank
            # agg; the exact-vector join sides are broadcast
            ("ann_topk_ivfpq_rerank", 16),
            # map-side hash-sample filter, then one grouped quantile agg
            ("approx_quantiles_sampled", 1),
            # visible plan hides the lazily-checkpointed ranked subtree
            # (see pipeline_setjoin); the post-checkpoint stages add
            # the candidate distinct + verify joins
            ("setjoin_prefix_jaccard", 3),
            # sketch build agg + probe estimate agg (cell table and
            # probes join broadcast-side)
            ("cm_count_estimates", 2),
            # composed curation: quality flags are map-only; exchanges
            # belong to the dedup pair graph, the exact-hash window,
            # the component window, and the final accounting agg
            ("corpus_curation_pipeline", 6),
            # fingerprint vote agg + band candidate join + pair distinct
            ("multimodal_binary_near_dup", 3),
            # 3 unrolled rounds over lazily-checkpointed edges/deg:
            # per round one node join + one destination sum; the
            # checkpointed subtrees are invisible to static inspection
            ("graph_pagerank", 14),
            # round-5 additions
            # same budget as the uncapped join: the cap runs as a
            # broadcast ANTI-join (via="antijoin"), not a window, so
            # the broadcast-only candidate-join shape is preserved;
            # the over-cap aggregation lives inside the lazily
            # checkpointed capped-prefix subtree (visible plan: 1
            # exchange, the candidate distinct)
            ("setjoin_prefix_jaccard_capped", 3),
            # train-gh distinct + set-bits distinct + per-(doc,gram)
            # probe agg + per-doc rollup; the bit set joins broadcast
            ("bloom_decontamination", 4),
            # vocab count agg (top-V is TakeOrdered, no sort shuffle;
            # rank window runs over the 16-row vocab) + per-doc
            # re-collect; the id mapping joins broadcast
            ("vocab_encode_ids", 2),
            # TPC-H completions (tpch_full.py): every dimension
            # broadcasts, so each query's only shuffles are its
            # aggregations (the 8-relation Q8 tree is ONE pass over
            # lineitem + the year group)
            ("market_share", 2),
            ("product_type_profit", 2),
            ("returned_item_revenue", 2),
            ("priority_line_distribution", 2),
            ("promo_revenue_share", 2),
            # revenue agg + max + final (view-over-aggregate shape)
            ("top_supplier_revenue", 4),
            # per-part stats agg + final agg; stats broadcast back
            ("small_quantity_order_revenue", 3),
            ("disjunctive_predicate_revenue", 2),
            # (supplier, part) agg + part totals + distinct
            ("part_promotion_suppliers", 5),
            # semi+anti self-joins broadcast at test SF (co-partition
            # on l_orderkey at scale) + blame distinct + count agg
            ("sole_return_blame_suppliers", 4),
        ],
    )
    def test_window_family_shuffle_budgets(self, spark, name, budget):
        assert shuffle_count(q(spark, name)) <= budget, name


class TestIncrementalDedupPlan:
    """The incremental dedup's scale contract: the new-batch side is
    broadcast into both the candidate probe and the verify join, so
    corpus data is never shuffled for pair formation (the only
    exchanges left are the explicit broadcast sends and the distinct
    on the tiny candidate relation)."""

    def test_new_batch_broadcast(self, spark):
        assert has_broadcast_join(q(spark, "minhash_dedup_incremental"))

    def test_decontam_shuffle_budget(self, spark):
        # train-set distinct + probe join + per-doc agg
        assert shuffle_count(q(spark, "decontamination_ngram")) <= 4


class TestKMeansPlan:
    def test_assignment_map_only(self, spark):
        # Corpus assignment is MAP-ONLY: since the r12 kernel swap the
        # trained-centroid relation is collected once (K rows, an
        # artifact read) and the argmin runs as one numpy GEMM per
        # Arrow batch (MapInPandas) — the corpus is never shuffled,
        # and there is no broadcast-join stage left at all. (The
        # trainer and the streaming twin run the same kernel; the
        # expression formulation survives in tests/reference_ops.py,
        # and kernel == expression is pinned in
        # tests/test_r12_optimizations.py.)
        df = q(spark, "kmeans_cluster_assign")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" in plan
        assert shuffle_count(df) == 0


class TestRound2Plans:
    """Plan contracts for the round-2 additions."""

    def test_gopher_filter_map_only(self, spark):
        # pure column expressions: must pipeline into any downstream
        # operator with zero exchanges
        assert shuffle_count(q(spark, "gopher_quality_filter")) == 0

    def test_split_single_aggregation(self, spark):
        # deterministic split = projection fused into the scan + one
        # grouped aggregation
        assert shuffle_count(q(spark, "train_val_test_split")) <= 1

    def test_intersect_except_uses_hash_joins(self, spark):
        # Catalyst rewrites INTERSECT/EXCEPT to semi/anti joins; the
        # event-type sides are small enough to broadcast
        df = q(spark, "engaged_non_buyers")
        assert has_broadcast_join(df)
        assert shuffle_count(df) <= 2

    def test_minhash_candidate_stage_single_shuffle(self, spark):
        # signatures are map-only array folds; the only exchange in
        # the whole candidate+verify pipeline is the band-bucket join
        # key (the verify joins broadcast the tiny candidate relation)
        assert shuffle_count(q(spark, "minhash_lsh_dedup")) <= 1

    def test_tick_liquidity_single_shuffle(self, spark):
        # V2: mirrored union collapses into one grouped aggregation
        assert shuffle_count(q(spark, "v02_tick_liquidity")) <= 1

    @pytest.mark.parametrize(
        ("name", "budget"),
        [
            # budgets include the event->Ekubo derivation fan-out
            # (each derived fact re-aggregates blocks); the view body
            # itself contributes the minority of exchanges
            ("v01_pool_states", 8),
            ("v13_hourly_volume", 9),
            ("v16_hourly_tvl_delta", 22),
            ("v12_voting_weights", 24),
        ],
    )
    def test_view_query_shuffle_budgets(self, spark, name, budget):
        assert shuffle_count(q(spark, name)) <= budget, name

    @pytest.mark.parametrize(
        "name",
        ["v01_pool_states", "v13_hourly_volume", "v16_hourly_tvl_delta", "v07_last_24h_pool_stats"],
    )
    def test_view_dimension_joins_broadcast(self, spark, name):
        # blocks/pool_keys joins must stay broadcast (no SMJ on facts)
        assert has_broadcast_join(q(spark, name)), name


class TestRound9bPlanShapes:
    """Scale contracts for the round-9b additions: prefix joins stay
    broadcast-only, the pHash fingerprint stays map-only until the
    band join, and the calibration/drift tails stay tiny-relation."""

    @pytest.mark.parametrize(
        ("name", "budget"),
        [
            # broadcast-only prefix machinery (vocab df + candidate
            # sides broadcast); <=1 covers the AQE-planned exchange the
            # runtime collapses to a broadcast (PLANS.md shows 0 with
            # AQE off)
            ("setjoin_containment", 1),
            ("containment_incremental", 1),
            # band join + distinct only — the fingerprint mapInPandas
            # pass must not introduce a corpus shuffle
            ("multimodal_phash_near_dup", 2),
            # per-doc score agg + bin agg; PAV grid is checkpoint-fed
            ("isotonic_calibration", 3),
            # bigram count + lm1 + per-doc + per-score + window + final
            ("ccnet_perplexity_buckets", 6),
            # count grid + per-source aggs (mirrors tvd's budget
            # class; 7 with AQE off, +3 AQE-collapsible exchanges on)
            ("psi_drift_by_source", 10),
            # one length pass + per-bucket window + final agg
            ("bucketed_sequence_packing", 2),
            # GEMM cogroup repartitions + candidate window + label joins
            ("knn_label_agreement", 5),
        ],
    )
    def test_shuffle_budgets(self, spark, name, budget):
        assert shuffle_count(q(spark, name)) <= budget, name

    @pytest.mark.parametrize(
        "name",
        [
            "setjoin_containment",
            "containment_incremental",
            "isotonic_calibration",
            "psi_drift_by_source",
        ],
    )
    def test_small_sides_broadcast(self, spark, name):
        assert has_broadcast_join(q(spark, name)), name
