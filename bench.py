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
    # round-1 additions: temporal join, sessions, clustering, scrub/profile,
    # skew-salted plans, search docs
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

# Round-3+ operators benched SEPARATELY so the 25-query HEADLINE total
# stays comparable round-over-round; their medians land in the same
# "queries" map plus an "extended_total".
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
    # round-6: HLL sketch (the COUNT-DISTINCT scale path) and the
    # shortest-path graph surface
    "hll_distinct_sketch",
    "graph_shortest_path",
    # round-6 second wave: frequency/membership sketches, substring-dedup
    # spans, and the graph-analytics pair
    "cms_heavy_hitters",
    "bloom_decontam_membership",
    "duplicate_substring_spans",
    "graph_pagerank",
    "triangle_cooccurrence",
    "funnel_stages",
    "jaccard_prefix_join",
    "inverted_index_postings",
    # round-6 third/fourth wave (all sub-second to ~3s at sf0.1)
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
    # round-7: the capped production forms of the exact similarity joins
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
    # round-7 continuation: tokenizer training, hybrid retrieval, robust
    # profiling, communities, CDC compaction, data contracts, trends,
    # corpus digests (stream_static_enrich is gate-only like the other
    # stream_* entries — streaming drains measure trigger latency, not
    # plan cost)
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
    # round-9: corpus curation (operators/curation.py)
    "leakage_safe_split",
    "epoch_shuffle_shards",
    "ngram_novelty",
    "filter_funnel_report",
    "hll_source_overlap",
    # round-9: TPC-H shape completion (all 22 classic shapes now covered)
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
    # round-10: IR eval triple, signature-space verify tier, curriculum
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
    # round-11: the capped/collapsed production twins of the embedding
    # pairwise family (r10 verdict items #1-2), the cap audit, and the
    # end-to-end classifier holdout loop
    "mutual_nn_dedup_capped",
    "rhp_cap_audit",
    "hard_negative_banded",
    "embedding_decontam_banded",
    "logreg_holdout_auc",
    "dedup_simhash_hamming_capped",
    "dedup_simhash64_capped",
    "dedup_embedding_bucketed_capped",
    "simhash_cap_audit",
    # round-11 late wave: community quality, label-noise screen,
    # active-learning margin sampling
    "graph_modularity",
    "knn_label_disagreement",
    "uncertainty_sampling",
    "bpe_fertility_report",
    "stream_bottomk_sample",
    "skew_salting_plan",
    # round-12: recall audit of the production mutual-NN configuration
    # vs the uncapped pin (r11 verdict item #4)
    "mutual_nn_recall_report",
]


# Quiet-box reference for the calibration probe (r12 verdict item #4):
# the r12 authoritative local record measured the pinned 60M-row probe at
# 0.509s on an idle box (BENCH_LOCAL_r12.json). Every headline line now
# carries value * (CALIB_REF / calib_seconds) so drift correction is
# mechanical, not prose — re-base ONLY alongside a probe-workload change
# (test_calibration_workload_pinned pins the workload itself) or a
# driver-box generation change, and then ONLY per the re-base protocol
# documented in BENCH_INDEX.md ("CALIB_REF re-base protocol"): quiet-box
# n>=5 probe medians committed alongside the new constant, never
# mid-round.
CALIB_REF = 0.509

# Extended entries whose plan or semantics changed THIS round (r12
# verdict item #6: the full 197-entry extended sweep costs ~350s/run and
# re-measures mostly-unchanged plans; the headline-25 plus the round's
# changed entries is the signal). Default bench mode re-times HEADLINE +
# these; SPARK_GRAFT_BENCH_EXTENDED=all runs the full extended set (the
# every-few-rounds full record and on-demand audits), =none headline only.
#
# FRESHNESS CONTRACT (r13 verdict item #3): CHANGED_ROUND must equal the
# round this list was rebuilt for. tests/test_bench_format.py derives the
# current round from VERDICT.md's header (round N's verdict exists while
# round N+1 builds) and fails if the marker is stale — a forgotten
# rebuild now breaks the suite instead of silently re-timing last
# round's entries. The marker is also emitted in the headline JSON as
# ``changed_round`` so the recorded artifact carries the provenance.
CHANGED_ROUND = 16
CHANGED_THIS_ROUND: "list[str]" = [
    # r16 is the second OPTIMIZATION round: entries are added here as
    # their plans change (outputs stay hash-identical — every optimized
    # query re-verifies against the DuckDB oracle before it lands).
    # Wave 1 (inherited commit a19bf0c, verified by this session) —
    # mutual_nn_pairs mutuality as a canonical-pair count (top1
    # self-join removed: the whole candidate+scoring+argmax pipeline
    # previously planned twice); PCA register rounds without per-round
    # jobs; covariance pair generator parallelized
    "embedding_covariance",
    "pca_power_iteration",
    "pca_explained_variance",
    "pca_top_components",
    "mutual_nn_dedup",
    "mutual_nn_dedup_capped",
    "mutual_nn_recall_report",
    # Wave 2 — mutual_nn candidate exchange pinned wide + keyed by src
    # (AQE byte-coalescing serialized the cosine scoring chain onto one
    # core; the src key makes the distinct AND the top-1 agg reuse the
    # one exchange) — covered by the mutual_nn entries above.
    # logreg_holdout_auc derives its split sides as corpus filters via
    # leakage_safe_split(keep=...) instead of two corpus-x-corpus
    # joins. Two logreg_train loop restructurings (label fuse;
    # persist co-partitioning) were built, measured WORSE in 6
    # interleaved fresh-JVM A/B rounds, and reverted — the r15 loop
    # body stands byte-identical, so the other logreg entries' plans
    # end the round unchanged and are not listed.
    "logreg_holdout_auc",
    # Wave 4 — jaccard_prefix_join verify exchange pinned wide + keyed
    # by doc_a (same AQE byte-coalescing disease as mutual_nn: 965k
    # array_intersect verifications serialized onto 1-2 tasks; ~10%
    # quiet win and removes a 7x contention cliff)
    "jaccard_prefix_join",
    "jaccard_prefix_join_capped",
    "jaccard_prefix_join_frac_capped",
    # Wave 5 — same disease, same fix: embedding_near_duplicates
    # candidate exchange pinned wide + keyed by id_a (6.2 -> 2.0 s);
    # triangle_counts' oriented-edge checkpoint pinned wide keyed by
    # (a, b) — the b-only first cut left the wedge stage skewed
    # (12.5 -> 7.3 s). dedup_embedding_cosine / _exhaustive_recall /
    # _clusters also changed but are not bench entries.
    "triangle_cooccurrence",
    "dedup_embedding_cosine_bucketed",
    "dedup_embedding_bucketed_capped",
]


def _extended_to_run() -> "list[str]":
    mode = os.environ.get("SPARK_GRAFT_BENCH_EXTENDED", "changed")
    if mode == "all":
        return EXTENDED
    if mode == "none":
        return []
    if mode != "changed":
        # fail loudly: a typo ("al", "ALL") silently falling back to the
        # pruned mode would get recorded as if deliberate (r13 ADVICE)
        raise ValueError(
            f"SPARK_GRAFT_BENCH_EXTENDED={mode!r} — expected one of "
            "'all', 'none', 'changed'")
    return [q for q in EXTENDED if q in CHANGED_THIS_ROUND]


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
    """Fixed machine-factor probe (r11 verdict item #2): a deterministic
    32-way shuffle + hash-aggregate microbenchmark on generated data,
    identical every run, so cross-boot/VM-drift comparisons divide out the
    environment mechanically instead of via git-stash A/B archaeology.
    ~0.5-1s on the reference box. Median of 3 runs."""
    import statistics
    runs = []
    for _ in range(3):
        t0 = time.time()
        _calib_df(spark).count()
        runs.append(round(time.time() - t0, 3))
    return round(statistics.median(runs), 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
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
    extended = _extended_to_run()
    for i, name in enumerate(HEADLINE + extended):
        timings[name] = bench(name)
        if i == len(HEADLINE) // 2:
            calib_mid = calibration_probe(spark)
            print(f"# calibration_probe_mid: {calib_mid}s", file=sys.stderr)

    calib_end = calibration_probe(spark)
    print(f"# calibration_probe_end: {calib_end}s", file=sys.stderr)

    mode = os.environ.get("SPARK_GRAFT_BENCH_EXTENDED", "changed")
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
    ``headline_query_seconds`` line PER headline query (r16, VERDICT r15
    item #1: PERF_r15 ended with an empty per_query map because the
    comparator could not extract rows from the detail dict — a one-line
    record per query is extractable by any tail parser), compact
    headline LAST. The driver reads the tail of stdout, and round 6
    proved the detail dict (68+ entries) can outgrow that window and
    truncate the headline mid-line — so the final line must be the short
    summary with metric/value/unit/sf, parseable on its own.

    ``value_calib_adjusted`` (r12 verdict item #4) = value *
    (CALIB_REF / calib_mean) where calib_mean averages the START and END
    probe readings when both ran (r13 ADVICE: the r13 record showed 44%
    within-run probe drift, so a single start reading can carry a
    transient into the "mechanical" cross-round number; the bracket mean
    is the robust estimator the run already pays for). Compare ADJUSTED
    across rounds, RAW within one. ``calib_seconds_mid`` (r16) is the
    mid-headline probe — detectability only, never in the mean."""
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
            "changed_round": CHANGED_ROUND,
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
