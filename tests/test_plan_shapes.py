"""Physical-plan regression guards for the headline plans: the scale
properties SURVEY.md promises (broadcast star joins, pushed-down scans)
asserted on the executed plan string, so a refactor that silently
degrades a plan fails CI rather than a 100 TB run."""

import os
import re


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q5_star_join_broadcasts_all_dimensions(spark):
    """TPC-H Q5 shape: every dimension joins as a broadcast — the only
    hash-partitioning exchanges allowed are the fact-side orders join and
    the final groupBy."""
    from amundsendatabuilder_spark.plans.oracle_suite import QUERIES
    plan = _plan(QUERIES["q5_region_volume"](spark, "/root/testdata/sf0.001"))
    assert plan.count("BroadcastHashJoin") >= 4
    assert plan.count("Exchange hashpartitioning") <= 2


def test_scan_filter_project_pushes_down(spark):
    """Filter and projection reach the parquet scan (PushedFilters +
    pruned ReadSchema), so a 100 TB scan reads only matching row groups
    and requested columns."""
    from amundsendatabuilder_spark.plans.oracle_suite import QUERIES
    plan = _plan(QUERIES["scan_filter_project"](spark, "/root/testdata/sf0.001"))
    assert "PushedFilters: [" in plan
    assert "PushedFilters: []" not in plan


def test_lsh_verified_shares_cached_shingles(spark):
    """The tokenize+shingle subtree is cached and read by all four
    consumers (minhash signatures, sizes, both verify-join sides) — the
    executed plan must show the InMemoryTableScans, not re-executed
    shingle pipelines (the round-2 plan had AQE-duplicated branches)."""
    from amundsendatabuilder_spark.plans.oracle_suite import QUERIES
    df = QUERIES["dedup_lsh_verified"](spark, "/root/testdata/sf0.001")
    df.count()  # materialize so the cache fills and AQE finalizes
    plan = _plan(df)
    try:
        assert plan.count("InMemoryTableScan") >= 4
    finally:
        spark.catalog.clearCache()


def test_embedding_bucketed_avoids_nested_loop(spark):
    """The default (bucketed) embedding near-dup path must candidate-join
    on band signatures — never the all-pairs nested loop that only the
    explicit all_pairs=True escape hatch is allowed to use. Since r11
    the RHP plane matrix rides in as a broadcast ONE-ROW frame (cheap
    plan analysis; band-major `_rhp_bands` groups so each exploded row
    folds only its own band's planes), so the only
    BroadcastNestedLoopJoins allowed are those against that
    `_rhp_bands` scan — one per signature pass, never data x data."""
    from amundsendatabuilder_spark.plans.oracle_suite import QUERIES
    plan = _plan(QUERIES["dedup_embedding_cosine_bucketed"](
        spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    n_bnlj = plan.count("BroadcastNestedLoopJoin")
    n_plane_scans = plan.count("_rhp_bands")
    assert n_bnlj > 0 and n_plane_scans >= n_bnlj, (n_bnlj, n_plane_scans)


def test_search_doc_flagship_no_cartesian_or_smj(spark):
    """The flagship search-document build stays broadcast+hash: no
    cartesian products, and the per-relation aggregates join back to the
    spine without sort-merge fallbacks at dimension size."""
    from amundsendatabuilder_spark.plans.oracle_suite import QUERIES
    plan = _plan(QUERIES["search_doc_flagship"](spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bloom_prefilter_broadcasts_words_no_prejoin_shuffle(spark):
    """The Bloom pre-filter's k word lookups run as broadcast joins —
    the fact side must reach its bit tests without any hash exchange
    (the whole point: filter BEFORE the shuffle)."""
    from pyspark.sql import functions as F

    from amundsendatabuilder_spark.operators import sketches
    fact = spark.range(10_000).select(
        F.col("id").alias("rowid"), (F.col("id") % 97).alias("key"))
    keys = spark.range(20).select((F.col("id") * 5).alias("key"))
    bloom = sketches.bloom_build(
        keys.select(F.col("key").cast("string").alias("k")), "k")
    pre = sketches.bloom_prefilter(fact, bloom, "key")
    pre.count()
    plan = _plan(pre)
    assert plan.count("BroadcastHashJoin") >= 4
    assert "Exchange hashpartitioning" not in plan


def test_cms_registers_bounded_rows(spark):
    """The sketch contract: register cardinality is depth*width no
    matter how many distinct values stream in."""
    from pyspark.sql import functions as F

    from amundsendatabuilder_spark.operators import sketches
    df = spark.range(200_000).select(F.col("id").cast("string").alias("v"))
    regs = sketches.cms_registers(df, "v", depth=4, width=64)
    assert regs.count() == 4 * 64


def test_pagerank_iteration_plan_is_truncated(spark):
    """Each PageRank iteration must start from the checkpointed previous
    state, not re-derive iteration 1..k-1 — the final plan may not
    contain the edge-derivation join more than once per iteration."""
    from amundsendatabuilder_spark.operators.graph_algo import pagerank
    e = spark.createDataFrame(
        [(i, (i * 3) % 50) for i in range(50)], "src long, dst long")
    out = pagerank(e, iters=4)
    plan = _plan(out)
    # state is a checkpointed RDD scan + one contribution join's worth of
    # operators; a lineage blow-up would show multiple nested joins
    assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") <= 3


def test_kmeans_has_no_sort_merge_join(spark):
    """Round-7 invariant: kmeans_fit's assignment pass carries vectors
    through (keep_vec), so no Lloyd iteration re-joins the corpus — the
    final plan must be SMJ-free (the removal was worth 3.2x at sf1)."""
    from amundsendatabuilder_spark.plans.oracle_suite import QUERIES
    plan = _plan(QUERIES["kmeans_centroids"](spark, "/root/testdata/sf0.001"))
    assert "SortMergeJoin" not in plan


def test_lineage_asof_diff_broadcasts_snapshot(spark):
    """The AS-OF-day-5 closure (bounded side) must broadcast into the
    anti-join, not shuffle both closures into an SMJ."""
    from amundsendatabuilder_spark.plans.oracle_suite import QUERIES
    plan = _plan(QUERIES["lineage_asof_diff"](spark, "/root/testdata/sf0.001"))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_budget_selection_prefix_sum_is_banded(spark):
    """The global running total must come from the banded decomposition:
    at most ONE single-partition exchange (the <=10^4-row band-offset
    table), never the whole corpus through one partition."""
    from amundsendatabuilder_spark.plans.oracle_suite import QUERIES
    plan = _plan(QUERIES["budget_selection"](spark, "/root/testdata/sf0.001"))
    assert plan.count("Exchange SinglePartition") <= 1


def test_capped_jaccard_keeps_prefix_shape(spark):
    """The capped exact join must stay candidate-driven: no cartesian
    product / nested-loop fallback, and the output cap's window adds no
    global ordering (rank partitions by doc_a)."""
    from amundsendatabuilder_spark.plans.oracle_suite import QUERIES
    plan = _plan(QUERIES["jaccard_prefix_join_capped"](
        spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Exchange SinglePartition" not in plan


def test_table_documents_fold_in_one_keyed_exchange(spark, tables_df,
                                                    fixtures_dir):
    """Table search documents are one keyed aggregation: the spine
    winner, usage, last-updated, badge and programmatic-description
    aggregates share ONE hash exchange on the table key. A window on the
    key or any per-relation groupBy + join adds a second."""
    from amundsendatabuilder_spark.plans.search_documents import (
        build_table_documents)
    from amundsendatabuilder_spark.sources.csv_source import read_csv

    def csv(name):
        return read_csv(spark, os.path.join(fixtures_dir, name))
    docs = build_table_documents(
        tables_df, usage=csv("sample_column_usage.csv"),
        last_updated=csv("sample_table_last_updated.csv"),
        schema_descriptions=csv("sample_schema_description.csv"),
        badges=csv("sample_badges.csv"))
    docs.collect()
    # after the action the string lists the final plan, then the initial one
    plan = _plan(docs).split("== Initial Plan ==")[0]
    assert "Window" not in plan
    assert len(re.findall(r"Exchange hashpartitioning\(key#", plan)) <= 1, plan
