#!/usr/bin/env python
"""Benchmark the headline query set.

Runs at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query executes against the noop sink (full plan execution, no
driver-side collect) — the same way a cluster job would be measured.
"""

from __future__ import annotations

import json
import os
import re
import sys
import tempfile
import time

from starknet_indexer_spark.queries import REGISTRY
from starknet_indexer_spark.session import get_spark

# Headline set: one per operator family, scale-relevant (no O(n^2)
# pairwise queries — those are correctness baselines, not throughput).
#
# BUDGET POLICY (VERDICT r9 mandate #6 — defined before it binds, not
# improvised when it does). The driver's bench envelope is 300 s; the
# headline set's COLD total must stay under 200 s (margin for machine
# variance). When a round's projected cold total would cross that line,
# queries rotate OUT of HEADLINE into HEADLINE_ROTATED, chosen by this
# rule — every condition must hold:
#
#   1. ELIGIBLE CLASS: acceptance evals (recall / nDCG / AUC / ARI /
#      silhouette / PR-curve / label-agreement) and pinned-twin or
#      parameter-variant queries (*_silver twins, *_capped, *_rerank,
#      pinned sketch twins) — a variant whose BASE operator stays
#      benched. Base operators never rotate out: each family keeps at
#      least one headline representative.
#   2. STABLE AND CHEAP: the two most recent official rounds
#      (BENCH_r{N-1}, BENCH_r{N}) both show steady < 1.0 s for it.
#   3. PLAN-PINNED: its PLANS.md fingerprint is unchanged between
#      those rounds (a query whose plan just changed needs fresh
#      timings, not retirement).
#
# Rotated queries keep full correctness coverage (registry + driver
# rotation window + tests/test_plans.py pin); only the per-round wall
# measurement stops. If a rotated query's plan fingerprint later
# changes, it returns to HEADLINE for at least two rounds (conditions
# 2-3 must re-establish). Evictions are recorded here with the round
# that applied them, newest first.
HEADLINE_ROTATED: list[str] = [
    # r12: funds the two maintained-index probes entering HEADLINE
    # (bm25_topk_maintained, phrase_match_maintained — cold includes
    # one artifact fold+compaction, ~8-10 s projected). All three hold
    # every condition: eligible class (acceptance evals), omitted-
    # fastest (steady < ~0.8 s) in BOTH official BENCH_r10 and
    # BENCH_r11, plan_fp unchanged between those rounds.
    "lsh_dedup_recall_eval",       # r12; recall eval — 0.58 s steady, 5.1 s cold (pair-artifact build)
    "langid_cohens_kappa",         # r12; agreement eval — 0.64 s steady
    "langid_class_f1",             # r12; per-class eval — 0.58 s steady
    # r10: the 148-query set measured 202.0 s cold (exploratory
    # ordinal-1 run, machine idle), over the 200 s line — first
    # application of the rule. All seven hold every condition:
    # eligible class (acceptance eval / pinned twin / *_silver or
    # sampled variant whose base stays benched), steady < 1.0 s in
    # BOTH official BENCH_r08 and BENCH_r09, plan_fp unchanged
    # between those rounds.
    "filter_auc_by_lang",          # r10; eval — 0.78/0.58 s r8/r9
    "precision_recall_curve",      # r10; eval — 0.77/0.52 s
    "hll_distinct_pinned",         # r10; pinned sketch twin — 0.81/0.72 s
    "approx_percentile_by_type_pinned",  # r10; pinned twin — 0.71/0.82 s
    "approx_quantiles_sampled",    # r10; sampled variant — 0.43/0.30 s
    "minhash_lsh_dedup_silver",    # r10; silver twin — 0.49/0.43 s
    "decontamination_ngram_silver",  # r10; silver twin — 0.51/0.48 s
]

HEADLINE = [
    "pricing_summary",
    "dim_join_revenue",
    "shipping_priority",
    "local_supplier_volume",
    "top_customers_per_nation",
    "latest_state_per_user",
    "hourly_rollup",
    "hourly_net_flow",
    "bucket_ledger",
    "sliding_24h_stats",
    "realized_volatility",
    "time_weighted_balance",
    "two_stage_price",
    "range_theta_join",
    "median_value",
    "sessionize_events",
    "rollup_hourly_activity",
    "dedup_exact",
    "repetition_score",
    "stratified_sample",
    "text_quality_score",
    "lang_id",
    "ann_topk_cosine",
    "minhash_lsh_dedup",
    "minhash_lsh_dedup_capped",
    "simhash_dedup",
    "ann_topk_lsh",
    "multimodal_frame_sample",
    "minhash_dedup_incremental",
    "decontamination_ngram",
    "kmeans_cluster_assign",
    "semdedup_select",
    "constraint_violations",
    "rolling_window_stats",
    "sequence_packing",
    "value_decile_bands",
    "source_lang_pivot",
    "gap_fill_hourly",
    "props_map_stats",
    "corpus_shuffle_shard",
    "events_profile",
    "value_time_correlation",
    "value_mad_by_type",
    "ann_topk_rp_rerank",
    "approx_distinct_shingles",
    "zorder_locality",
    "pq_encode_codes",
    "pq_ann_adc_topk",
    "ann_topk_ivfpq",
    "ann_topk_ivfpq_rerank",
    "heavy_hitters_mg",
    "setjoin_prefix_jaccard",
    "setjoin_prefix_jaccard_capped",
    "bloom_decontamination",
    "vocab_encode_ids",
    "cm_count_estimates",
    "corpus_curation_pipeline",
    "multimodal_binary_near_dup",
    "graph_pagerank",
    "interval_attribution",
    "market_share",
    "product_type_profit",
    "returned_item_revenue",
    "priority_line_distribution",
    "promo_revenue_share",
    "top_supplier_revenue",
    "small_quantity_order_revenue",
    "disjunctive_predicate_revenue",
    "part_promotion_suppliers",
    "sole_return_blame_suppliers",
    "min_cost_supplier",
    "nation_trade_volume",
    "customer_order_distribution",
    "large_volume_orders",
    "word_entropy_quality",
    "unigram_logprob_score",
    "bigram_logprob_score",
    "random_projection_reduce",
    "source_mixing_sample",
    "segment_dedup",
    "pii_redaction",
    "chunk_overlap",
    "tfidf_top_terms",
    "bm25_topk",
    "bm25_topk_maintained",
    "phrase_match_maintained",
    "hybrid_rrf_retrieval",
    "price_quantity_regression",
    "editdist_near_pairs",
    "between_class_pca",
    "bpe_train_merges",
    "weighted_sample_topk",
    "ks_drift_by_source",
    "mmr_diverse_topk",
    "pmi_collocations",
    "tvd_drift_by_source",
    "scd2_user_state",
    "postings_index",
    "phrase_match",
    # r12: windowed co-occurrence over the positional index (same plan
    # family as phrase_match). The maintained twin
    # (proximity_match_maintained) stays out of HEADLINE this round —
    # it shares the probe path bm25_topk_maintained /
    # phrase_match_maintained already measure, and the cold budget
    # margin is thin; full correctness coverage rides the driver
    # window + registry.
    "proximity_match",
    "skipgram_pairs",
    "weighted_sample_per_source",
    "approx_percentile_pinned",
    "setjoin_prefix_jaccard_silver",
    "k_anonymity_audit",
    "grouping_sets_revenue",
    "ohlc_hourly",
    # round-7 additions: selection / survivor / encoding / profiling ops
    "dsir_importance_weights",
    "hard_negative_mining",
    "dedup_survivors",
    "ewma_hourly_close",
    "bpe_encode_stats",
    "knn_graph_triangles",
    "repeated_span_fraction",
    # round-8: exact blocked-GEMM scale path for the near-dup join,
    # learned-filter classifier + exact AUC calibration
    "embedding_near_dup_blocked",
    "nb_lang_classifier",
    "ann_recall_eval",
    "cluster_silhouette",
    "temperature_mix_allocation",
    "clustering_agreement_ari",
    "ann_ndcg_eval",
    # round-9: substring-dedup remediation (Lee et al. rewrite), fuzzy
    # decontamination, embedding-audit + margin-mining family
    "substring_dedup_rewrite",
    "fuzzy_decontamination",
    "knn_label_agreement",
    "margin_neighbor_mining",
    # round-9b: calibration, asymmetric containment, CCNet bucketing,
    # perceptual-hash media dedup
    "isotonic_calibration",
    "setjoin_containment",
    "ccnet_perplexity_buckets",
    "multimodal_phash_near_dup",
    "psi_drift_by_source",
    "bucketed_sequence_packing",
    "containment_incremental",
    "multimodal_resize",
    # round-10: cross-modal dedup consistency audit, CDC storage-dedup
    # estimator, classifier-agreement audits
    "cross_modal_dedup_audit",
    "cdc_chunk_dedup",
    # reference view library (Ekubo-shaped derivation + real view plan)
    "v01_pool_states",
    "v07_last_24h_pool_stats",
    "v11_market_depth",
    "v12_voting_weights",
    "v13_hourly_volume",
    "v16_hourly_tvl_delta",
]


def _plan_fps() -> dict[str, str]:
    """Per-query plan fingerprint parsed from the committed PLANS.md
    row (shuffles/broadcasts/scans/pushed_scans/codegen). PLANS.md is
    regenerated whenever a query's plan changes (tests/test_plans.py
    pins a row per registered query), so two bench runs with equal
    fingerprints executed the same plan shape — the signal the diff
    adjudicator uses to separate real regressions from session drift.
    Zero runtime cost: no plans are built at bench time."""
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "PLANS.md")
    fps: dict[str, str] = {}
    try:
        with open(path) as fh:
            for line in fh:
                cells = [c.strip() for c in line.strip().strip("|").split("|")]
                if (
                    len(cells) == 6
                    and re.fullmatch(r"[a-z0-9_]+", cells[0])
                    and cells[0] != "query"  # the markdown header row
                ):
                    fps[cells[0]] = "/".join(cells[1:])
    except OSError:
        pass
    return fps


#: idle gap (seconds) after which the ordinal counter resets: the
#: measured monotonic drift (BENCH_DIFF.md r7/r8) develops across
#: CLOSELY-SPACED runs — page cache pressure, thermal/cgroup state —
#: and decays when the machine sits idle. The build container never
#: reboots between rounds (uptime spans sessions), so a boot-keyed
#: counter would label a fresh session's first run "ordinal 6" and
#: tell the adjudicator to expect drift that is not there.
ORDINAL_SESSION_GAP_S = 3600


def _run_ordinal() -> int:
    """1-based position of this bench run within the current warm
    session (same boot AND less than ORDINAL_SESSION_GAP_S since the
    previous run).

    Round 7 measured a ~15% MONOTONIC wall-time drift across four
    same-code bench runs in one session (BENCH_DIFF.md r7) — the run's
    ordinal is the covariate an adjudicator needs to recognize that
    pattern mechanically."""
    try:
        with open("/proc/sys/kernel/random/boot_id") as fh:
            boot = fh.read().strip()
    except OSError:
        boot = "unknown"
    now = time.time()
    path = os.path.join(tempfile.gettempdir(), "spark_graft_bench_ordinal.json")
    state = {"boot_id": boot, "count": 0, "last_ts": now}
    try:
        with open(path) as fh:
            prev = json.load(fh)
        if (
            isinstance(prev, dict)
            and prev.get("boot_id") == boot
            and now - float(prev.get("last_ts", 0)) < ORDINAL_SESSION_GAP_S
        ):
            state["count"] = int(prev.get("count", 0))
    except (OSError, ValueError):
        pass
    state["count"] += 1
    try:
        with open(path, "w") as fh:
            json.dump(state, fh)
    except OSError:
        pass
    return state["count"]


def _cpu_times() -> list[int] | None:
    """Aggregate cpu jiffies from /proc/stat (user, nice, system, idle,
    iowait, irq, softirq, steal, ...), or None off-Linux."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        if parts and parts[0] == "cpu":
            return [int(x) for x in parts[1:]]
    except (OSError, ValueError):
        pass
    return None


def _steal_covariate(t0: list[int] | None, t1: list[int] | None) -> dict | None:
    """CPU-steal over the run, normalized by BUSY (demanded) time.

    This VM's host has a bursty neighbor; steal as a share of *total*
    CPU understates the damage badly when the bench is in single-task
    stages (1 of 32 vCPUs demanded), so the adjudication-relevant
    number is steal / (non-idle + steal): the fraction of CPU the run
    asked for and did not get. Measured contamination events: a run
    with ~40-50% of demanded CPU stolen inflated untouched trivial
    queries 2-5x (r12 session log)."""
    if not t0 or not t1 or len(t0) < 8 or len(t1) < 8:
        return None
    d = [b - a for a, b in zip(t0, t1)]
    steal = d[7]
    busy = sum(d) - d[3] - d[4]  # minus idle, iowait; includes steal
    if busy <= 0:
        return None
    hz = 100.0  # USER_HZ; fixed at 100 on linux-x86
    return {
        "steal_sec": round(steal / hz, 1),
        "busy_sec": round(busy / hz, 1),
        "steal_pct_of_busy": round(100.0 * steal / busy, 1),
    }


def main(diff_against: str | None = None) -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # capture BEFORE spark spins up: load reflects what else the
    # machine was doing, not this run's own JVM
    try:
        load1, load5, load15 = os.getloadavg()
    except OSError:
        load1 = load5 = load15 = -1.0
    cpu_t0 = _cpu_times()
    n_cpu = os.cpu_count() or 1
    run_ordinal = _run_ordinal()
    spark = get_spark("bench")
    # One-time process costs are paid outside the timed region so the
    # per-query numbers measure steady-state plan execution — the regime
    # a long-running service (the reference is one: the same views
    # recomputed every block / every 5 minutes, src/index.ts:71-102)
    # actually operates in: JVM/codegen spin-up, parquet footer+page
    # reads for every input table (OS page cache warm), noop-sink class
    # loading, and each query's generated-code compilation (pre-run at
    # sf0.001 — Spark's codegen cache is keyed on generated source, so
    # the timed sf run reuses the compiled classes exactly as the
    # daemon's second refresh would).
    spark.range(1000).selectExpr("sum(id)").collect()
    # Cold reproducibility (ADVICE r6): silver-backed queries must pay
    # their first-refresh materialization inside THIS run's cold
    # timing, never reuse a previous bench invocation's /tmp cache.
    from starknet_indexer_spark.silver import clear_cache

    clear_cache()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        spark.read.parquet(f"{sf_dir.rstrip('/')}/{t}.parquet").count()
    spark.range(10).write.format("noop").mode("overwrite").save()
    # Per-query fault isolation: one broken query must never sink the
    # whole run (round-1 lesson — a single AnalysisException left the
    # round with zero performance data). Failures land in `errors`.
    errors: dict[str, str] = {}
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir) and warm_dir != sf_dir.rstrip("/"):
        for name in HEADLINE:
            try:
                REGISTRY[name].fn(spark, warm_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception as exc:  # noqa: BLE001 — isolate per query
                errors[name] = f"warmup: {type(exc).__name__}: {exc}"[:500]

    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None

    # Two executions per query at the target SF: the first pays
    # one-time plan analysis + AQE stage compilation for this data
    # size ("cold"), the second is the steady-state regime the
    # reference service actually runs in (the same views recomputed
    # every block / 5 minutes — src/index.ts:71-102). The headline
    # metric is steady-state; cold timings ship alongside for the
    # first-refresh story.
    # Steady = MEDIAN of STEADY_RUNS executions: sub-second queries on
    # local[32] carry a ~0.1-0.4s JVM-contention noise floor, and
    # single-sample steady timings produced recurring false >1.5x
    # regression flags on untouched code in rounds 4 and 5. The median
    # of three is robust to one contended sample while keeping the
    # bench deterministic-length.
    STEADY_RUNS = 3
    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    steady_samples: dict[str, list[float]] = {}
    for name in HEADLINE:
        q = REGISTRY[name]
        try:
            t0 = time.perf_counter()
            q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            cold[name] = round(time.perf_counter() - t0, 3)
            samples = []
            for _ in range(STEADY_RUNS):
                t0 = time.perf_counter()
                q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                samples.append(round(time.perf_counter() - t0, 3))
            steady_samples[name] = samples
            timings[name] = sorted(samples)[len(samples) // 2]
        except Exception as exc:  # noqa: BLE001 — isolate per query
            errors.setdefault(name, f"{type(exc).__name__}: {exc}"[:500])
            # keep cold and steady totals over the SAME query set — a
            # cold success followed by a steady failure must not leave
            # an orphan cold sample skewing the comparison
            cold.pop(name, None)
            steady_samples.pop(name, None)
            continue

    out = {
        "metric": "headline_query_wall_time_total_steady",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "cold": {"total": round(sum(cold.values()), 3), "queries": cold},
        "steady_samples": steady_samples,
        "sf": sf,
        # drift-adjudication covariates (VERDICT r7 mandate #5): the
        # diff suppresses same-plan regressions inside the measured
        # session-drift band; ordinal + pre-run load are the context a
        # reader needs to recognize session drift in the raw numbers
        "run_ordinal": run_ordinal,
        "loadavg_start": [round(load1, 2), round(load5, 2), round(load15, 2)],
        "machine_idle": bool(0 <= load1 < 0.25 * n_cpu),
        "plan_fp": {n: fp for n, fp in _plan_fps().items() if n in set(HEADLINE)},
    }

    # Ingest throughput: synthesize a raw mixed-family feed (pure
    # column expressions over `events`) and push it through the full
    # decode -> flatten -> partitioned-write -> dimension-upsert path.
    # The batch is sized (~1M rows at sf0.1) to amortize fixed job
    # scheduling, like sizing a production micro-batch trigger. The
    # reference ingests block-at-a-time into Postgres (src/index.ts:
    # 195-257, "weeks" for a mainnet sync per its README:13); this
    # records the Spark path's rows/sec at the same logical work.
    try:
        import shutil
        import tempfile

        from starknet_indexer_spark.ingest import ingest_batch
        from starknet_indexer_spark.sources.feed import read_feed_batch
        from starknet_indexer_spark.sources.synth import synth_raw_feed

        feed_dir = tempfile.mkdtemp(prefix="ingest_feed_")
        tdir = tempfile.mkdtemp(prefix="ingest_bench_")
        try:
            # setup (untimed): land the feed as parquet the way a
            # stream buffer would, spread across the cores — the sf
            # corpus is one file, and a feed synthesized from a
            # 1-partition scan would serialize the decode
            synth_raw_feed(spark, sf_dir, copies=10).repartition(64).write.mode(
                "overwrite"
            ).parquet(feed_dir)
            raw = read_feed_batch(spark, feed_dir)
            n_rows = raw.count()
            t0 = time.perf_counter()
            ingest_batch(spark, raw, tdir)
            dt = time.perf_counter() - t0
        finally:
            shutil.rmtree(tdir, ignore_errors=True)
            shutil.rmtree(feed_dir, ignore_errors=True)
        out["ingest"] = {
            "rows": n_rows,
            "sec": round(dt, 3),
            "rows_per_sec": round(n_rows / dt),
        }
    except Exception as exc:  # noqa: BLE001 — isolate from query timings
        errors["ingest_batch"] = f"{type(exc).__name__}: {exc}"[:500]

    if errors:
        out["errors"] = errors

    # host-contention covariate (r12): steal measured over the whole
    # run window, demand-normalized — see _steal_covariate
    steal_cov = _steal_covariate(cpu_t0, _cpu_times())
    if steal_cov is not None:
        out["cpu_steal"] = steal_cov

    # Full detail (cold per-query map, ingest breakdown, error strings)
    # goes to BENCH_DETAIL.json next to this script; stdout carries ONE
    # compact JSON line so the driver's tail capture can always parse
    # it (round-2 lesson: the full map got truncated mid-stream and
    # BENCH_r02.json recorded "parsed": null).
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_DETAIL.json")
    # print-cutoff censoring fix (r13, VERDICT r12 item #8,
    # additions-only): queries whose steady moved >25% vs the PREVIOUS
    # committed official record must survive the fastest-first
    # omission below — improvements past the cutoff were vanishing
    # from the printed map, censoring the driver's round-over-round
    # geomean in the improving direction. Read the prior record before
    # this run overwrites it; best-effort (a missing/corrupt file just
    # protects nothing).
    protected = moved_vs_prior(detail_path, timings)
    try:
        with open(detail_path, "w") as fh:
            json.dump(out, fh, indent=1, sort_keys=True)
    except OSError:
        pass

    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cold_total": out["cold"]["total"],
    }
    if "ingest" in out:
        compact["ingest_rows_per_sec"] = out["ingest"]["rows_per_sec"]
    if steal_cov is not None:
        compact["cpu_steal_pct_of_busy"] = steal_cov["steal_pct_of_busy"]
    if errors:
        compact["error_count"] = len(errors)

    # Same-run diff artifact: BENCH_DIFF.md is generated from the
    # BENCH_DETAIL.json this very invocation just wrote, so the two
    # committed artifacts can never disagree (round-3 lesson: a diff
    # generated from a different run's detail file did not reproduce).
    diff_rc = 0
    if diff_against:
        diff_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                 "BENCH_DIFF.md")
        # a bad baseline path / corrupt JSON must not lose the compact
        # stdout line after a multi-minute bench run
        try:
            with open(diff_path, "w") as fh:
                diff_rc = compare(diff_against, detail_path, out=fh)
        except (SystemExit, OSError, ValueError) as exc:
            compact["diff_error"] = f"{type(exc).__name__}: {exc}"[:200]

    # The driver records only the last ~2000 bytes of stdout and
    # json-parses the final line; every BENCH_r01–r06 landed
    # "parsed": null because the full per-query map outgrew that
    # window (truncated at the FRONT, so the line never parses).
    # Budget the line: keep the SLOWEST queries (the informative
    # ones), drop the fastest until it fits, and say how many were
    # omitted — the full map is always in BENCH_DETAIL.json.
    print(compact_stdout_line(compact, timings, protected=protected))
    # propagate the regression gate (same contract as --compare)
    return diff_rc


def moved_vs_prior(detail_path: str, timings: dict) -> set:
    """Names in ``timings`` whose steady time moved by more than 25%
    against the ``queries`` map of the prior record at
    ``detail_path``. Best-effort: a missing or unparsable
    file, a ``queries`` that is not a map, and any prior entry that is
    not a positive number all protect nothing."""
    try:
        with open(detail_path) as fh:
            prev = json.load(fh)
    except (OSError, ValueError):
        return set()
    prev_q = prev.get("queries") if isinstance(prev, dict) else None
    if not isinstance(prev_q, dict):
        return set()
    moved = set()
    for name, now_s in timings.items():
        prev_s = prev_q.get(name)
        if isinstance(prev_s, bool) or not isinstance(prev_s, (int, float)):
            continue
        if prev_s > 0 and abs(now_s / prev_s - 1.0) > 0.25:
            moved.add(name)
    return moved


def compact_stdout_line(compact: dict, timings: dict, budget: int = 1800,
                        protected: set | None = None) -> str:
    """Render the one-line stdout JSON within ``budget`` bytes.

    The driver records only the last ~2000 bytes of stdout and
    json-parses the final line; every BENCH_r01–r06 landed
    "parsed": null because the full per-query map outgrew that window
    (truncated at the FRONT, so the line never parses). Keep the
    SLOWEST queries (the informative ones), drop the fastest until the
    line fits, and record how many were omitted — the full map is
    always in BENCH_DETAIL.json.

    ``protected`` (r13): names whose steady moved >25% vs the previous
    committed record — they stay in the printed map even if below the
    fastest-cutoff (the PERF comparison was losing the round's biggest
    wins when they improved past it), unless the budget cannot fit the
    fixed fields plus them at all (parseability still wins)."""
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) <= budget:
        return line
    protected = protected or set()
    ranked = sorted(timings, key=timings.get)  # fastest first
    # unprotected drop first; protected only if the budget forces it
    ranked = [n for n in ranked if n not in protected] + [
        n for n in ranked if n in protected
    ]
    q = dict(timings)
    compact = dict(compact)
    compact["detail"] = "BENCH_DETAIL.json"
    compact["n_queries"] = len(timings)
    for omitted, name in enumerate(ranked, start=1):
        q.pop(name)
        compact["queries"] = q
        compact["queries_omitted_fastest"] = omitted
        line = json.dumps(compact, separators=(",", ":"))
        if len(line) <= budget:
            return line
    # ADVICE r7: if the FIXED fields alone outgrow the budget (huge
    # diff_error, many error strings), the loop above exhausts the
    # queries map and would fall through with an oversized —
    # unparseable-at-the-driver — line. Shed the largest optional
    # fields until it fits; the full record is in BENCH_DETAIL.json.
    for key in ("diff_error", "errors", "error_count",
                "ingest_rows_per_sec", "queries_omitted_fastest", "queries"):
        if key not in compact:
            continue
        if key == "queries":
            compact[key] = {}  # keep the key: consumers index into it
        else:
            compact.pop(key)
        compact["truncated"] = True
        line = json.dumps(compact, separators=(",", ":"))
        if len(line) <= budget:
            return line
    return line


def compare(baseline_path: str, current_path: str | None = None,
            threshold: float = 1.5, out=None, hard_threshold: float = 2.0) -> int:
    """Diff per-query steady timings vs a prior round's bench record,
    with mechanical session-drift adjudication (VERDICT r7 mandate #5).

    ``baseline_path`` is a BENCH_r{N}.json driver record ({"parsed":
    {...}} or raw), a BENCH_DETAIL.json, or a compact stdout line saved
    to a file. Prints a markdown table of regressions (> threshold x)
    and improvements to ``out`` (default stdout); returns 1 if any
    regression survives adjudication.

    Adjudication: rounds 4-7 each produced >1.5x flags on UNTOUCHED
    queries from uniform session drift (r7 measured four same-code runs
    at 132.8->153.1s steady — ~15% monotonic). The drift factor is
    estimated as the MEDIAN per-query ratio (robust: a handful of real
    regressions can't move it), every ratio is drift-adjusted, and a
    flag survives only if
      - the adjusted ratio still exceeds ``threshold`` AND the query's
        plan fingerprint changed (or no fingerprints are available), OR
      - the adjusted ratio exceeds ``hard_threshold`` regardless of
        plan (a same-plan 2x is real even in a drifting session).
    The plan-unchanged escape hatch only arms when the session
    measurably drifted (drift > ``DRIFT_ARMED``): in a non-drifting
    session (drift ~ 1.0) a same-plan 1.5-2x slowdown is a genuine
    regression — constant/parameter changes and data skew do not alter
    the plan fingerprint — so it must fail the gate at ``threshold``,
    not ``hard_threshold`` (r8 ADVICE).
    Suppressed flags are listed with their reason — adjudication is
    visible, not silent.
    """
    import builtins
    import functools

    print = functools.partial(builtins.print, file=out) if out else builtins.print

    def load_queries(path: str) -> tuple[dict[str, float], dict[str, float], dict]:
        """(steady map, cold map, meta) — any may be partial/empty."""
        with open(path) as fh:
            doc = json.load(fh)
        # driver wrapper: {"parsed": {...}, "raw": "..."} — or raw dict
        if isinstance(doc.get("parsed"), dict):
            doc = doc["parsed"]
        meta = {
            k: doc.get(k)
            for k in ("plan_fp", "run_ordinal", "machine_idle",
                      "loadavg_start", "cpu_steal")
            if k in doc
        }
        steady = doc.get("queries")
        cold = (doc.get("cold") or {}).get("queries")
        if isinstance(steady, dict):
            return (
                {k: float(v) for k, v in steady.items()},
                {k: float(v) for k, v in cold.items()}
                if isinstance(cold, dict) else {},
                meta,
            )
        # Salvage a truncated driver record (BENCH_r02 regime: "parsed"
        # null, "tail" holds the cut line). Steady-state pairs sit
        # before the '"cold"' key (usually a partial suffix of the
        # map); the cold map after it usually survives whole.
        tail = doc.get("tail")
        if isinstance(tail, str):
            frag, _, rest = tail.partition('"cold"')
            drop = ("value", "sf", "total", "rows", "rows_per_sec", "sec")
            s_pairs = re.findall(r'"([a-z0-9_]+)":\s*([0-9.]+)', frag)
            c_pairs = re.findall(r'"([a-z0-9_]+)":\s*([0-9.]+)', rest)
            steady = {k: float(v) for k, v in s_pairs if k not in drop}
            cold = {k: float(v) for k, v in c_pairs if k not in drop}
            if steady or cold:
                print(f"(salvaged {len(steady)} steady + {len(cold)} cold "
                      f"timings from truncated {os.path.basename(path)})")
                return steady, cold, {}
        raise SystemExit(f"{path}: no parseable 'queries' map")

    base_s, base_c, base_meta = load_queries(baseline_path)
    if current_path is None:
        cur_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "BENCH_DETAIL.json")
    else:
        cur_path = current_path
    cur_s, cur_c, cur_meta = load_queries(cur_path)

    # prefer steady-vs-steady; fall back to cold-vs-cold when the
    # baseline's steady map is unusable (truncated-record salvage)
    mode = "steady"
    base, cur = base_s, cur_s
    if len(set(base_s) & set(cur_s)) < len(set(base_c) & set(cur_c)):
        mode = "cold"
        base, cur = base_c, cur_c
    shared = sorted(set(base) & set(cur))

    ratios = {n: cur[n] / base[n] for n in shared if base[n] > 0}
    # session-drift factor: the median per-query ratio. Uniform drift
    # moves every query by the same factor; a handful of genuine
    # regressions cannot move the median. Only trust it with enough
    # shared queries to be robust.
    drift = 1.0
    if len(ratios) >= 10:
        rs = sorted(ratios.values())
        drift = max(rs[len(rs) // 2], 1.0)  # never EXCUSE slowdowns via speedups
    # Minimum measured drift before the plan-unchanged suppression arms:
    # with drift ~ 1.0 the session is clean, so a same-plan regression
    # between threshold and hard_threshold is real and must flag.
    DRIFT_ARMED = 1.1
    base_fp = base_meta.get("plan_fp") or {}
    cur_fp = cur_meta.get("plan_fp") or {}
    have_fps = bool(base_fp) and bool(cur_fp)

    regressions, improvements, suppressed = [], [], []
    for name in shared:
        b, c = base[name], cur[name]
        if b <= 0:
            continue
        ratio = ratios[name]
        adj = ratio / drift
        if ratio > threshold:
            plan_same = (
                have_fps
                and name in base_fp
                and name in cur_fp
                and base_fp[name] == cur_fp[name]
            )
            if adj <= threshold:
                suppressed.append((name, b, c, ratio, adj, "within drift band"))
            elif plan_same and drift > DRIFT_ARMED and adj <= hard_threshold:
                suppressed.append(
                    (name, b, c, ratio, adj,
                     f"plan unchanged, drifting session ({drift:.2f}), "
                     "under hard limit")
                )
            else:
                regressions.append((name, b, c, ratio, adj))
        elif ratio < 1 / threshold:
            improvements.append((name, b, c, ratio))
    print(f"# bench diff: {os.path.basename(cur_path)} vs "
          f"{os.path.basename(baseline_path)} ({mode} timings)")
    ords = (base_meta.get("run_ordinal"), cur_meta.get("run_ordinal"))
    idles = (base_meta.get("machine_idle"), cur_meta.get("machine_idle"))
    steals = tuple(
        (m.get("cpu_steal") or {}).get("steal_pct_of_busy")
        for m in (base_meta, cur_meta)
    )
    print(f"session-drift factor (median ratio over {len(ratios)} shared): "
          f"{drift:.3f}; run ordinals {ords[0]}->{ords[1]}; "
          f"machine_idle {idles[0]}->{idles[1]}; "
          f"cpu steal %of-busy {steals[0]}->{steals[1]}; plan fingerprints "
          f"{'compared' if have_fps else 'unavailable (older baseline)'}")
    print(f"shared queries: {len(shared)}; surviving regressions: "
          f"{len(regressions)}; drift/plan-suppressed: {len(suppressed)}; "
          f"improvements <{1/threshold:.2f}x: {len(improvements)}")
    print()
    print("| query | baseline s | current s | ratio | drift-adj | verdict |")
    print("|---|---|---|---|---|---|")
    for name, b, c, r, a in sorted(regressions, key=lambda t: -t[4]):
        print(f"| {name} | {b:.3f} | {c:.3f} | {r:.2f}x | {a:.2f}x "
              f"| REGRESSION |")
    for name, b, c, r, a, why in sorted(suppressed, key=lambda t: -t[4]):
        print(f"| {name} | {b:.3f} | {c:.3f} | {r:.2f}x | {a:.2f}x "
              f"| suppressed: {why} |")
    for name, b, c, r in sorted(improvements, key=lambda t: t[3]):
        print(f"| {name} | {b:.3f} | {c:.3f} | {r:.2f}x | {r/drift:.2f}x | |")
    only_base = sorted(set(base) - set(cur))
    only_cur = sorted(set(cur) - set(base))
    if only_base:
        print(f"\nonly in baseline: {', '.join(only_base)}")
    if only_cur:
        print(f"\nnew this round: {', '.join(only_cur)}")
    return 1 if regressions else 0


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--compare":
        sys.exit(compare(sys.argv[2],
                         sys.argv[3] if len(sys.argv) > 3 else None))
    if len(sys.argv) > 2 and sys.argv[1] == "--diff-against":
        # run the bench AND write BENCH_DIFF.md from the same run's
        # BENCH_DETAIL.json (one-invocation artifacts)
        sys.exit(main(diff_against=sys.argv[2]))
    sys.exit(main())
