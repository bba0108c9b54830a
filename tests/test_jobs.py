"""CatalogJob composition tests (the DefaultJob.launch analog)."""

import pytest


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_job_compose_stage_and_finalize(spark, tables_df, tmp_path):
    """The run caches one frame for both graph sides and drops it on
    return. On the fixture tables it starts 10 jobs: the one cache fill
    computes the sides' shared input once."""
    from amundsendatabuilder_spark.jobs import CatalogJob
    from amundsendatabuilder_spark.models.table_metadata import expand_tables
    from amundsendatabuilder_spark.session import jobs_started_by
    spark.catalog.clearCache()
    finalized = []
    job = (CatalogJob(spark, publish_tag="t1", epoch_ms=1700000000000)
           .add(expand_tables(tables_df))
           .on_success(lambda: finalized.append(True)))
    summary, jobs = jobs_started_by(
        spark, lambda: job.run(stage_dir=str(tmp_path / "g")))
    assert summary["status"] == "success"
    assert len(jobs) == 10
    assert _cache_is_empty(spark)
    assert summary["nodes"] > 0 and summary["rels"] > 0
    assert finalized == [True]
    phases = [summary[k] for k in ("graph_s", "count_s", "stage_s",
                                   "publish_s")]
    assert all(s >= 0 for s in phases) and summary["stage_s"] > 0
    assert sum(phases) <= summary["elapsed_sec"] + 0.05
    # every node carries the tag
    tagged = job.graph().nodes.where(
        "props['published_tag'] = 't1'").count()
    assert tagged == summary["nodes"]


def test_job_validation_failure_skips_finalizers(spark):
    from amundsendatabuilder_spark.jobs import CatalogJob
    from amundsendatabuilder_spark.models.base import GraphOutput, _empty_rels
    # lowercase label violates the reference's istitle() check
    bad_nodes = spark.createDataFrame(
        [("k1", "badlabel", {})], "KEY string, LABEL string, props map<string,string>")
    finalized = []
    job = (CatalogJob(spark, publish_tag="t2")
           .add(GraphOutput(bad_nodes, _empty_rels(spark)))
           .on_success(lambda: finalized.append(True)))
    spark.catalog.clearCache()
    with pytest.raises(ValueError, match="node_label_not_title"):
        job.run()
    assert finalized == []
    assert _cache_is_empty(spark)


NODE_SCHEMA = "KEY string, LABEL string, props map<string,string>"
REL_SCHEMA = ("START_KEY string, START_LABEL string, END_KEY string, "
              "END_LABEL string, TYPE string, REVERSE_TYPE string, "
              "props map<string,string>")


def test_job_validation_failure_writes_nothing(spark, tmp_path):
    """An invalid graph raises naming the check before any write: a staging
    run leaves no shard or staging directory and runs no finalizer, and the
    publish-only path, validated by the same profile, calls no writer."""
    from amundsendatabuilder_spark.jobs import CatalogJob
    from amundsendatabuilder_spark.models.base import GraphOutput
    nodes = spark.createDataFrame([("k1", "Table", {"name": "t"})],
                                  NODE_SCHEMA)
    rels = spark.createDataFrame(
        [("k1", "Table", "k2", "Column", "column", "COLUMN_OF", {})],
        REL_SCHEMA)
    calls = []
    job = (CatalogJob(spark, publish_tag="t4")
           .add(GraphOutput(nodes, rels))
           .on_success(lambda: calls.append("finalizer")))
    stage = tmp_path / "g"
    with pytest.raises(ValueError, match="rel_type_not_upper"):
        job.run(stage_dir=str(stage))
    assert not stage.exists()
    with pytest.raises(ValueError, match="rel_type_not_upper"):
        job.run(node_writer=lambda *a: calls.append("node"),
                rel_writer=lambda *a: calls.append("rel"))
    assert calls == []


def test_job_counts_match_count(spark, tmp_path):
    """The summary's node and rel counts come from the profile and equal
    count() of the graph: rows without props, rows with several props,
    null-valued props and duplicate rows (collapsed by the union)."""
    from amundsendatabuilder_spark.jobs import CatalogJob
    from amundsendatabuilder_spark.models.base import GraphOutput
    nodes = spark.createDataFrame(
        [("k0", "Thing", {}), ("k1", "Thing", {"a": "1", "b": "2", "c": "3"}),
         ("k1", "Thing", {"a": "1", "b": "2", "c": "3"}),
         ("k2", "Thing", {"a": None}), ("k3", "Other", {"a": "x", "b": "y"})],
        NODE_SCHEMA)
    rels = spark.createDataFrame(
        [("k0", "Thing", "k1", "Thing", "HAS", "HAS_OF", {}),
         ("k0", "Thing", "k1", "Thing", "HAS", "HAS_OF", {}),
         ("k1", "Thing", "k3", "Other", "HAS", "HAS_OF",
          {"w": "1", "v": "2"}),
         ("k2", "Thing", "k3", "Other", "HAS", "HAS_OF", {"w": None})],
        REL_SCHEMA)
    job = CatalogJob(spark, publish_tag="t5").add(GraphOutput(nodes, rels))
    summary = job.run(stage_dir=str(tmp_path / "g"))
    graph = job.graph()
    assert (summary["nodes"], summary["rels"]) == (4, 3)
    assert summary["nodes"] == graph.nodes.count()
    assert summary["rels"] == graph.rels.count()


def test_empty_job_raises_value_error(spark):
    from amundsendatabuilder_spark.jobs import CatalogJob
    from amundsendatabuilder_spark.models.base import union_graphs
    with pytest.raises(ValueError, match="at least one model expansion"):
        union_graphs()
    with pytest.raises(ValueError, match="at least one model expansion"):
        CatalogJob(spark, publish_tag="t3").run()


def test_chained_fanout_ordering(spark):
    """The reference's integration scenario (tests/integration/
    test_chained_trainsformers_task.py:48-80): a chain of fan-out ->
    noop -> duplicate transformers must emit, per input record,
    [table, table, owner, owner] in order. The pull loop's stream order
    becomes explicit position columns (SURVEY §7.4: reproduce 1->N
    ordering as flatMap with position indices)."""
    from pyspark.sql import functions as F
    data = spark.createDataFrame([(1, "db1"), (2, "db2")], "rec long, db string")
    fanout = data.select(
        "rec", "db",
        F.posexplode(F.array(F.lit("table"), F.lit("owner")))
        .alias("yield_idx", "kind"))
    noop = fanout
    duplicated = noop.select(
        "rec", "db", "yield_idx", "kind",
        F.explode(F.array(F.lit(0), F.lit(1))).alias("dup_idx"))
    rows = duplicated.orderBy("rec", "yield_idx", "dup_idx").collect()
    assert [(r.rec, r.kind) for r in rows] == [
        (1, "table"), (1, "table"), (1, "owner"), (1, "owner"),
        (2, "table"), (2, "table"), (2, "owner"), (2, "owner")]
    # filter stage (transform -> None) drops records without disturbing order
    filtered = duplicated.where(F.col("kind") != "owner")
    assert filtered.count() == 4


def test_job_first_added_model_wins_user_props(spark, tmp_path, fixtures_dir):
    """The directory users and the usage readers emit the same User keys:
    the model added first keeps its row, so the one staged User shard
    with ``first_name`` holds exactly the 4 directory users, full props."""
    import csv
    import glob
    import os

    from amundsendatabuilder_spark.jobs import CatalogJob
    from amundsendatabuilder_spark.models.misc import expand_column_usage, expand_users
    from amundsendatabuilder_spark.sources.csv_source import read_csv
    fx = os.path.join(fixtures_dir, "reference_sample_data")
    job = (CatalogJob(spark, publish_tag="first_wins")
           .add(expand_users(read_csv(spark, f"{fx}/sample_user.csv")))
           .add(expand_column_usage(read_csv(spark, f"{fx}/sample_column_usage.csv"))))
    out = tmp_path / "g"
    job.run(stage_dir=str(out))
    full = []
    for part in glob.glob(f"{out}/nodes/User_*/part*.csv"):
        with open(part) as fh:
            rows = list(csv.DictReader(fh))
        if rows and "first_name" in rows[0]:
            full.append(rows)
    assert len(full) == 1
    with open(f"{fx}/sample_user.csv") as fh:
        directory = {r["email"]: r["first_name"] for r in csv.DictReader(fh)}
    assert {r["KEY"]: r["first_name"] for r in full[0]} == directory


def test_golden_end_to_end_reference_sample_scenario(spark, tmp_path,
                                                     fixtures_dir):
    """The reference's golden scenario as ONE test (r9 verdict item #8):
    example/scripts/sample_data_loader.py:78-107 runs CSV -> model
    expansion -> staged graph publish -> search documents over the
    reference's own example/sample_data CSVs (copied verbatim to
    tests/fixtures/reference_sample_data). Every pinned count traces to
    those CSVs: 5 tables, 11 columns, 4 directory users, 13 distinct
    usage readers, 17 descriptions (5 table + 11 column + 1 schema),
    15 usage edges, and 5 DISTINCT lineage edges (the file carries a
    duplicate view1->table4 row the MERGE semantics must collapse)."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "sample_job", os.path.join(os.path.dirname(fixtures_dir),
                                   "..", "example", "sample_job.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    fx = os.path.join(fixtures_dir, "reference_sample_data")
    out = str(tmp_path / "golden")
    width = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        got = mod.main(out, fx)
    finally:
        # main's get_spark("sample_job") re-applies its default width to
        # the shared session; later test modules expect conftest's
        spark.conf.set("spark.sql.shuffle.partitions", width)
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    assert got["status"] == "success"
    assert got == {"nodes": 72, "rels": 79, "table_docs": 5,
                   "user_docs": 4, "status": "success"}

    def shard_rows(kind, prefix):
        import glob
        (d,) = [p for p in glob.glob(f"{out}/graph/{kind}/{prefix}_*")]
        rows = 0
        for f in glob.glob(f"{d}/part*.csv"):
            with open(f) as fh:
                rows += max(0, sum(1 for _ in fh) - 1)
        return rows

    assert shard_rows("nodes", "Table") == 5          # sample_table.csv
    assert shard_rows("nodes", "Column") == 11        # sample_col.csv
    assert shard_rows("nodes", "Description") == 17   # 5 + 11 + 1
    assert shard_rows("nodes", "Watermark") == 4      # sample_watermark
    assert shard_rows("rels", "Table_COLUMN_Column") == 11
    assert shard_rows("rels", "Table_READ_BY_User") == 15
    assert shard_rows("rels", "Table_HAS_DOWNSTREAM_Table") == 5  # dedup
    assert shard_rows("rels", "Schema_TABLE_Table") == 5


def test_golden_dashboard_family_reference_sample_data(spark, tmp_path,
                                                       fixtures_dir):
    """Golden scenario #2 over the reference's own sample_data CSVs:
    the dashboard family plus applications / source / table owners /
    column lineage — the sample_data_loader jobs the first golden test
    doesn't reach. Pinned counts trace to the CSVs: 4 dashboards in 3
    groups, 4 executions, 2 queries, 2 modified timestamps; 3
    DASHBOARD_WITH_TABLE edges (one row explodes a 2-table list), 3
    column-lineage edges, 2 owner edges per entity kind (the dynamo
    owner row is blank and must drop)."""
    import os

    from amundsendatabuilder_spark.jobs import CatalogJob
    from amundsendatabuilder_spark.models.dashboard import (
        expand_dashboard_executions, expand_dashboard_last_modified,
        expand_dashboard_owners, expand_dashboard_queries,
        expand_dashboard_tables, expand_dashboard_usage,
        expand_dashboards)
    from amundsendatabuilder_spark.models.misc import (
        expand_applications, expand_column_lineage, expand_table_owners,
        expand_table_source)
    from amundsendatabuilder_spark.sources.csv_source import read_csv
    fx = os.path.join(fixtures_dir, "reference_sample_data")
    job = CatalogJob(spark, publish_tag="golden2")
    job.add(expand_dashboards(
        read_csv(spark, f"{fx}/sample_dashboard_base.csv")))
    job.add(expand_dashboard_owners(
        read_csv(spark, f"{fx}/sample_dashboard_owner.csv")))
    job.add(expand_dashboard_usage(
        read_csv(spark, f"{fx}/sample_dashboard_usage.csv")))
    job.add(expand_dashboard_queries(
        read_csv(spark, f"{fx}/sample_dashboard_query.csv")))
    job.add(expand_dashboard_executions(
        read_csv(spark, f"{fx}/sample_dashboard_last_execution.csv")))
    job.add(expand_dashboard_last_modified(
        read_csv(spark, f"{fx}/sample_dashboard_last_modified.csv")))
    job.add(expand_dashboard_tables(
        read_csv(spark, f"{fx}/sample_dashboard_table.csv"), spark))
    job.add(expand_applications(
        read_csv(spark, f"{fx}/sample_application.csv")))
    job.add(expand_table_source(
        read_csv(spark, f"{fx}/sample_source.csv")))
    job.add(expand_table_owners(
        read_csv(spark, f"{fx}/sample_table_owner.csv")))
    job.add(expand_column_lineage(
        read_csv(spark, f"{fx}/sample_column_lineage.csv"), spark))
    out = str(tmp_path / "golden2")
    s = job.run(stage_dir=f"{out}/graph")
    assert (s["nodes"], s["rels"], s["status"]) == (27, 33, "success")

    def shard_rows(kind, prefix):
        import glob
        (d,) = glob.glob(f"{out}/graph/{kind}/{prefix}_*")
        rows = 0
        for f in glob.glob(f"{d}/part*.csv"):
            with open(f) as fh:
                rows += max(0, sum(1 for _ in fh) - 1)
        return rows

    assert shard_rows("nodes", "Dashboard") == 4
    assert shard_rows("nodes", "Dashboardgroup") == 3
    assert shard_rows("nodes", "Execution") == 4
    assert shard_rows("nodes", "Query") == 2
    assert shard_rows("rels", "Dashboard_DASHBOARD_WITH_TABLE_Table") == 3
    assert shard_rows("rels", "Column_HAS_DOWNSTREAM_Column") == 3
    assert shard_rows("rels", "User_OWNER_Table") == 2
    assert shard_rows("rels", "User_OWNER_Dashboard") == 2
