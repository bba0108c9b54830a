"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric", "value", "unit", "queries", "sf"}.

Headline set = the scale-relevant plans (wide agg, star join, flagship
search-doc build, dedup sketches, ANN) — quadratic verification operators
(all-pairs jaccard/cosine) are exercised by the correctness gate instead.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q1_pricing_summary",
    "q3_top_revenue",
    "q5_region_volume",
    "search_doc_flagship",
    "group_nest_columns",
    "usage_hash_count",
    "windowed_event_agg",
    "latest_execution_window",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_lsh_verified",
    "dedup_simhash",
    "quality_metrics",
    "doc_fingerprint",
    "ann_brute_force_topk",
    # temporal join, sessions, clustering, scrub/profile, skew-salted
    # plans, search docs
    "asof_view_before_purchase",
    "sessionize_batch",
    "dedup_clusters",
    "centroid_assignment",
    "pii_scrub",
    "repetition_metrics",
    "vocab_topk",
    "skew_salted_join",
    "search_doc_user",
    "search_doc_dashboard",
]

# Benched SEPARATELY so the 25-query HEADLINE total stays comparable
# across runs; their medians land in the same "queries" map plus an
# "extended_total". Timed only with SPARK_GRAFT_BENCH_EXTENDED=all.
EXTENDED = [
    "bm25_topk",
    "langid_nb",
    "lm_fluency",
    "strip_boilerplate",
    "dedup_embedding_cosine_bucketed",
    "dedup_simhash_hamming",
    "dedup_simhash64_hamming",
    "ann_rhp_topk",
    "ann_recall_report",
    "ivf_recall_report",
    "ann_ivf_topk",
    # HLL sketch (the COUNT-DISTINCT scale path) and the shortest-path
    # graph surface
    "hll_distinct_sketch",
    "graph_shortest_path",
    # frequency/membership sketches, substring-dedup spans, and the
    # graph-analytics pair
    "cms_heavy_hitters",
    "bloom_decontam_membership",
    "duplicate_substring_spans",
    "graph_pagerank",
    "triangle_cooccurrence",
    "funnel_stages",
    "jaccard_prefix_join",
    "inverted_index_postings",
    # all sub-second to ~3s at sf0.1
    "zorder_layout_stats",
    "scd2_intervals",
    "linear_touch_credit",
    "bloom_prejoin_reduction",
    "densify_daily",
    "rolling_trailing_sum",
    "bigram_pmi_topk",
    "multimodal_spectral_peak",
    "decayed_popularity",
    "stratified_fixed_k",
    "burst_windows",
    "mixture_epochs",
    "interval_overlap_join",
    "journey_trigrams",
    "active_users_rollup",
    "cumulative_active_users",
    "joinability_discovery",
    "k_anonymity_audit",
    "ri_violations",
    "numeric_corr_matrix",
    "class_keywords",
    "markov_transitions_ppm",
    "session_bounce_rate",
    # the capped production forms of the exact similarity joins
    # (collapse + token-DF cap + top-25 partners), their no-silent-caps
    # audit, and the mixed-direction graph pattern
    "jaccard_prefix_join_capped",
    "jaccard_prefix_join_frac_capped",
    "containment_join_capped",
    "similarity_cap_report",
    "similarity_frac_cap_report",
    "graph_match_mixed_direction",
    "budget_selection",
    "content_defined_chunks",
    "dedup_quality_winner",
    "cdc_chunk_dedup_rate",
    "fd_violations",
    "distribution_drift",
    "lateness_profile",
    "pipeline_end_to_end",
    "graph_match_varlen_undirected",
    "fuzzy_entity_match",
    "skew_report",
    "split_exact_counts",
    "equi_depth_histogram",
    # tokenizer training, hybrid retrieval, robust profiling,
    # communities, CDC compaction, data contracts, trends, corpus digests
    # (stream_static_enrich is gate-only like the other stream_* entries
    # — streaming drains measure trigger latency, not plan cost)
    "bpe_merge_training",
    "hybrid_rrf_fusion",
    "mad_outliers",
    "graph_label_propagation",
    "cdc_upsert_apply",
    "expectation_audit",
    "trend_slopes",
    "corpus_merkle_digest",
    "q7_nation_volume",
    "q10_returned_items",
    "grouping_sets_volume",
    "embedding_label_outliers",
    "embedding_covariance",
    "l_diversity_audit",
    "basket_association_rules",
    "graph_link_prediction",
    "feature_hashing",
    "graph_hash_walks",
    "dataset_card",
    "bpe_encode_counts",
    "interval_union_coverage",
    "histogram_quantile_sketch",
    "graph_feature_propagation",
    "temporal_reachability",
    "quality_decile_profile",
    "event_seasonality_heatmap",
    "q4_order_priority",
    "q6_forecast_revenue",
    "q12_shipmode_priority",
    "quality_decile_table",
    "equi_depth_boundaries",
    "equi_depth_boundaries_grouped",
    "dedup_incremental_lsh",
    # corpus curation (operators/curation.py)
    "leakage_safe_split",
    "epoch_shuffle_shards",
    "ngram_novelty",
    "filter_funnel_report",
    "hll_source_overlap",
    # TPC-H shape completion (all 22 classic shapes covered)
    "q2_min_acctbal_supplier", "q8_market_share", "q9_profit_by_nation_year",
    "q11_part_value_share", "q13_custdist", "q14_promo_revenue",
    "q15_top_supplier", "q16_supplier_count_by_part",
    "q17_small_quantity_revenue", "q18_large_volume_customers",
    "q19_disjunctive_revenue", "q20_excess_shippers",
    "q21_waiting_suppliers", "q22_idle_customer_balance",
    "weighted_sample_wor", "temperature_mixture_plan",
    "graph_k_core",
    "mixture_interleave_schedule",
    "embedding_decontam_audit",
    "dsir_importance_weights",
    "padding_waste_report",
    "ngram_diversity",
    "hard_negative_mining",
    "concat_window_packing",
    "split_leak_audit",
    "oov_rate_report",
    "zipf_alpha_report",
    "jl_distortion_audit",
    "quality_rank_blend",
    "winnowing_fingerprints",
    "embedding_dim_robust_stats",
    "heaps_law_fit",
    "token_js_divergence",
    "vocab_coverage_curve",
    "bootstrap_ci_quality",
    "benford_audit",
    "chi_square_independence",
    "ks_drift_stat",
    "gini_inequality",
    "cluster_label_nmi",
    "readability_report",
    "ngram_entropy_rate",
    "importance_ess",
    "spearman_correlation",
    "theil_decomposition",
    "hyperball_reach",
    "degree_assortativity",
    "hyperball_harmonic",
    "dup_affinity_matrix",
    "variance_decomposition",
    "missingness_matrix",
    "hapax_report",
    "similarity_histogram",
    "rank_auc",
    "classifier_kappa",
    "autocorrelation_report",
    "search_ndcg",
    "stream_benford_registers",
    "keyness_g2",
    "token_source_mi",
    "lsh_parameter_plan",
    "multimodal_phash_dedup",
    "ks_time_drift",
    "multimodal_audio_dedup",
    "pca_power_iteration",
    "pca_explained_variance",
    "stream_minhash_registers",
    "pca_top_components",
    "graph_effective_diameter",
    # IR eval triple, signature-space verify tier, curriculum
    # ordering, streaming as-of join
    "search_pr_at_k",
    "dedup_minhash_estimate",
    "curriculum_schedule",
    "stream_asof_join",
    "rank_rbo_lists",
    "mutual_nn_dedup",
    "logreg_quality_train",
    "logreg_quality_score",
    "score_calibration",
    "logreg_weight_explain",
    "mixture_reweight_quality",
    # the capped/collapsed production twins of the embedding pairwise
    # family, the cap audit, and the end-to-end classifier holdout loop
    "mutual_nn_dedup_capped",
    "rhp_cap_audit",
    "hard_negative_banded",
    "embedding_decontam_banded",
    "logreg_holdout_auc",
    "dedup_simhash_hamming_capped",
    "dedup_simhash64_capped",
    "dedup_embedding_bucketed_capped",
    "simhash_cap_audit",
    # community quality, label-noise screen, active-learning sampling
    "graph_modularity",
    "knn_label_disagreement",
    "uncertainty_sampling",
    "bpe_fertility_report",
    "stream_bottomk_sample",
    "skew_salting_plan",
    # recall audit of the production mutual-NN configuration vs the
    # uncapped pin
    "mutual_nn_recall_report",
]


# Quiet-box reading of the pinned calibration probe (BENCH_LOCAL_r12.json).
# Every headline line carries value * (CALIB_REF / calib_mean), so drift
# correction is mechanical. Re-base only with a probe-workload or
# driver-box change, per BENCH_INDEX.md's "CALIB_REF re-base protocol".
CALIB_REF = 0.509


def _extended_to_run(mode: str) -> "list[str]":
    """The EXTENDED entries a run times: ``all`` or ``none``. A typo
    raises rather than being recorded as a deliberate mode."""
    if mode == "all":
        return EXTENDED
    if mode == "none":
        return []
    raise ValueError(f"SPARK_GRAFT_BENCH_EXTENDED={mode!r} — expected "
                     "'all' or 'none'")


def _calib_df(spark):
    """The calibration probe's FIXED workload — a deterministic 32-way
    shuffle + two-level hash aggregate over 60M generated rows. Pinned
    by tests/test_bench_format.py (result is exactly 1024 register
    rows): any edit that changes this plan silently breaks every
    cross-round calib comparison, so the shape is load-bearing."""
    from pyspark.sql import functions as F
    return (spark.range(0, 60_000_000, 1, 32)
            .select((F.col("id") % 1_000_003).alias("k"),
                    (F.col("id") % 97).alias("g"))
            .groupBy("k").agg(F.count("*").alias("c"),
                              F.sum("g").alias("s"))
            .groupBy((F.col("k") % 1024).alias("b"))
            .agg(F.sum("c").alias("n"), F.sum("s").alias("t")))


def calibration_probe(spark) -> float:
    """Fixed machine-factor probe: a deterministic 32-way shuffle +
    hash-aggregate microbenchmark on generated data, identical every run,
    so cross-boot drift divides out mechanically. ~0.5-1s on the
    reference box. Median of 3 runs."""
    import statistics
    runs = []
    for _ in range(3):
        t0 = time.time()
        _calib_df(spark).count()
        runs.append(round(time.time() - t0, 3))
    return round(statistics.median(runs), 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    mode = os.environ.get("SPARK_GRAFT_BENCH_EXTENDED", "none")
    extended = _extended_to_run(mode)
    from amundsendatabuilder_spark.plans.oracle_suite import QUERIES
    from amundsendatabuilder_spark.session import get_spark

    spark = get_spark("bench")
    # timings go to the JSON line; executor WARN chatter (e.g. the
    # documented tiny-set unpartitioned windows) would drown the tail
    spark.sparkContext.setLogLevel("ERROR")
    # JVM+codegen warmup on the smallest scale so per-query timings measure
    # the plan, not first-call JIT/janino compile: one scan-agg shape and
    # the minhash shape (its 16-way modular-arithmetic aggregate is the
    # most expensive whole-stage-codegen compile in the suite, ~2s once
    # per JVM)
    QUERIES["q1_pricing_summary"](spark, "/root/testdata/sf0.001").collect()
    QUERIES["dedup_minhash_lsh"](spark, "/root/testdata/sf0.001").collect()

    # n runs per query, report the MEDIAN: single-run timings moved +-20-40%
    # on sub-2s queries round-over-round, making regressions undecidable.
    # clearCache() between runs keeps every run cold w.r.t. the .cache()
    # calls inside operators (CacheManager plan-matching would otherwise
    # hand runs 2..n the first run's materialized shingles — warm timings
    # measure nothing).
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_N", "3"))
    import statistics
    timings: dict[str, float] = {}

    def bench(name: str) -> float:
        runs: list[float] = []
        rows = 0
        for _ in range(n_runs):
            t0 = time.time()
            df = QUERIES[name](spark, sf_dir)
            rows = df.count() if name != "q3_top_revenue" else len(df.collect())
            runs.append(round(time.time() - t0, 3))
            spark.catalog.clearCache()
        med = round(statistics.median(runs), 3)
        print(f"# {name}: median={med}s runs={runs} rows={rows}",
              file=sys.stderr)
        return med

    # calibrate AFTER warmup, BEFORE the timed queries — and AGAIN after
    # the last query: the box can drift +-40% within a session, so
    # start/end pairs bound it. A third probe fires after the middle
    # headline query so a storm inside the headline window shows in the
    # record; it is reported only, never folded into the
    # value_calib_adjusted mean (the bracket-mean formula is pinned).
    calib = calibration_probe(spark)
    print(f"# calibration_probe: {calib}s", file=sys.stderr)

    calib_mid = 0.0
    for i, name in enumerate(HEADLINE + extended):
        timings[name] = bench(name)
        if i == len(HEADLINE) // 2:
            calib_mid = calibration_probe(spark)
            print(f"# calibration_probe_mid: {calib_mid}s", file=sys.stderr)

    calib_end = calibration_probe(spark)
    print(f"# calibration_probe_end: {calib_end}s", file=sys.stderr)

    for line in summary_lines(timings, sf_dir, n_runs, calib, calib_end,
                              extended_mode=mode, calib_mid=calib_mid):
        print(line)


def summary_lines(timings: "dict[str, float]", sf_dir: str,
                  n_runs: int, calib: float = 0.0,
                  calib_end: float = 0.0,
                  extended_mode: str = "all",
                  calib_mid: float = 0.0) -> "list[str]":
    """The machine-readable stdout contract, pinned by
    tests/test_bench_format.py: per-query detail first, then one
    ``headline_query_seconds`` line per headline query (extractable by
    any tail parser), compact headline LAST. The driver reads only the
    tail of stdout, which the detail dict can outgrow, so the final line
    is the short summary, parseable on its own.

    ``value_calib_adjusted`` = value * (CALIB_REF / calib_mean), where
    calib_mean averages the start and end probe readings when both ran:
    the bracket mean keeps one transient reading out of the cross-run
    number. Compare adjusted across runs, raw within one.
    ``calib_seconds_mid`` is reported only, never in the mean."""
    total = round(sum(timings[q] for q in HEADLINE), 3)
    calib_readings = [c for c in (calib, calib_end) if c > 0]
    calib_mean = (sum(calib_readings) / len(calib_readings)
                  if calib_readings else 0.0)
    ext_run = [q for q in EXTENDED if q in timings]
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    return [
        json.dumps({
            "metric": "headline_suite_seconds_detail",
            "queries": timings,
            "sf": sf_val,
        }),
    ] + [
        json.dumps({
            "metric": "headline_query_seconds",
            "query": q,
            "sec": timings[q],
            "sf": sf_val,
        })
        for q in HEADLINE if q in timings
    ] + [
        json.dumps({
            "metric": "headline_suite_seconds",
            "value": total,
            "value_calib_adjusted": (
                round(total * CALIB_REF / calib_mean, 3)
                if calib_mean > 0 else None),
            "calib_ref": CALIB_REF,
            "unit": "sec",
            "n": n_runs,
            "n_queries": len(HEADLINE),
            "extended_total": round(sum(timings[q] for q in ext_run), 3),
            "n_extended": len(ext_run),
            "extended_mode": extended_mode,
            "calib_seconds": calib,
            "calib_seconds_mid": calib_mid,
            "calib_seconds_end": calib_end,
            "sf": sf_val,
        }),
    ]


if __name__ == "__main__":
    main()
