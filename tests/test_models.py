"""Model expansion tests — per-model expected node/relation assertions,
mirroring the reference's tests/unit/models/ strategy (SURVEY §5)."""

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import FIXTURES


def _nodes_by_label(out):
    rows = out.nodes.collect()
    by = {}
    for r in rows:
        by.setdefault(r["LABEL"], []).append(r)
    return by


def test_expand_tables_nodes(tables_df):
    from amundsendatabuilder_spark.models.table_metadata import expand_tables
    out = expand_tables(tables_df)
    by = _nodes_by_label(out)

    table_keys = sorted(n["KEY"] for n in by["Table"])
    assert table_keys == ["dynamo://gold.test_schema/test_table2",
                          "hive://gold.test_schema/test_table1"]
    # deduped parents: 2 databases, 2 clusters, 2 schemas (per database)
    assert sorted(n["KEY"] for n in by["Database"]) == [
        "database://dynamo", "database://hive"]
    assert sorted(n["KEY"] for n in by["Cluster"]) == [
        "dynamo://gold", "hive://gold"]
    assert sorted(n["KEY"] for n in by["Schema"]) == [
        "dynamo://gold.test_schema", "hive://gold.test_schema"]
    # default + programmatic description split (reference
    # models/table_metadata.py:143-150)
    desc_keys = sorted(n["KEY"] for n in by["Description"])
    assert "hive://gold.test_schema/test_table1/_description" in desc_keys
    prog = [n["KEY"] for n in by["Programmatic_Description"]]
    assert prog == ["hive://gold.test_schema/test_table1/_s3_crawler_description"]
    # columns + badge from the nested struct
    col_keys = sorted(n["KEY"] for n in by["Column"])
    assert col_keys == [
        "dynamo://gold.test_schema/test_table2/colA",
        "hive://gold.test_schema/test_table1/col1",
        "hive://gold.test_schema/test_table1/col2"]
    assert sorted(n["KEY"] for n in by["Badge"]) == ["partition column", "pk"]
    assert sorted(n["KEY"] for n in by["Tag"]) == ["tag1", "tag2"]


def test_expand_tables_rels(tables_df):
    from amundsendatabuilder_spark.models.table_metadata import expand_tables
    out = expand_tables(tables_df)
    rels = out.rels.collect()
    types = {(r["TYPE"], r["REVERSE_TYPE"]) for r in rels}
    assert ("TABLE", "TABLE_OF") in types
    assert ("COLUMN", "COLUMN_OF") in types
    assert ("TAGGED_BY", "TAG") in types
    assert ("HAS_BADGE", "BADGE_FOR") in types
    schema_table = [r for r in rels if r["TYPE"] == "TABLE"]
    assert {(r["START_KEY"], r["END_KEY"]) for r in schema_table} == {
        ("hive://gold.test_schema", "hive://gold.test_schema/test_table1"),
        ("dynamo://gold.test_schema", "dynamo://gold.test_schema/test_table2")}


def test_match_path_two_hop_and_optional(tables_df):
    """match_path walks Table→Column→Badge in one call; optional=True
    keeps badge-less columns with NULL tails (OPTIONAL MATCH)."""
    from amundsendatabuilder_spark.models.table_metadata import expand_tables
    from amundsendatabuilder_spark.sources.graph import match_path
    out = expand_tables(tables_df)
    hops = [("COLUMN", "Column"), ("HAS_BADGE", "Badge")]
    strict = match_path(out.nodes, out.rels, start_label="Table", hops=hops).collect()
    assert {r.n2_key for r in strict} == {"pk", "partition column"}
    assert all(r.n0_key and r.n1_key and r.n1_props["name"] for r in strict)
    opt = match_path(out.nodes, out.rels, start_label="Table", hops=hops,
                     optional=True).collect()
    # all 3 fixture columns survive; only badge-bearing ones have a tail
    assert {r.n1_key for r in opt if r.n1_key} == {
        "dynamo://gold.test_schema/test_table2/colA",
        "hive://gold.test_schema/test_table1/col1",
        "hive://gold.test_schema/test_table1/col2"}
    assert any(r.n2_key is None for r in opt)


def test_match_path_mixed_direction_and_inequality(tables_df):
    """(c:Column)<-[:COLUMN]-(t:Table)-[:COLUMN]->(s) WHERE
    s.sort_order > 1: the 'in' hop traverses COLUMN against its stored
    direction; the numeric '>' predicate compares the string prop
    numerically."""
    from amundsendatabuilder_spark.models.table_metadata import expand_tables
    from amundsendatabuilder_spark.sources.graph import match_path
    out = expand_tables(tables_df)
    got = match_path(
        out.nodes, out.rels, start_label="Column",
        hops=[("COLUMN", "Table", None, "in"),
              ("COLUMN", "Column", {"sort_order": (">", 1)}, "out")]
    ).collect()
    # table1 has col1 (sort 1) + col2 (sort 2): both columns reach the
    # table, only col2 qualifies as the end node; table2's single colA
    # (sort 1) yields nothing
    ends = {(r.n0_props["name"], r.n2_props["name"]) for r in got}
    assert ends == {("col1", "col2"), ("col2", "col2")}
    assert all(r.n1_key.endswith("test_table1") for r in got)


def test_match_path_string_inequality_and_bad_op(tables_df):
    from amundsendatabuilder_spark.models.table_metadata import expand_tables
    from amundsendatabuilder_spark.sources.graph import match_path
    import pytest
    out = expand_tables(tables_df)
    # string != predicate on the first hop's node set
    got = match_path(out.nodes, out.rels, start_label="Table",
                     hops=[("COLUMN", "Column", {"name": ("!=", "col1")})]
                     ).collect()
    assert {r.n1_props["name"] for r in got} == {"col2", "colA"}
    with pytest.raises(ValueError, match="unknown predicate op"):
        match_path(out.nodes, out.rels, start_label="Table",
                   hops=[("COLUMN", "Column", {"name": ("~", "x")})])


def test_match_var_path_undirected_and_type_alternation(tables_df):
    """-[:COLUMN|HAS_BADGE*1..2]- from a badge: 1 hop reaches its
    column (HAS_BADGE reversed), 2 hops its table (COLUMN reversed) and
    co-located badges; TABLE/DESCRIPTION edges are excluded by the type
    alternation, so nothing deeper leaks in. Cypher relationship-
    uniqueness: the badge does NOT reach itself at depth 2, because the
    only route back re-traverses the HAS_BADGE edge it arrived on."""
    from amundsendatabuilder_spark.models.table_metadata import expand_tables
    from amundsendatabuilder_spark.sources.graph import match_var_path
    out = expand_tables(tables_df)
    vp = match_var_path(out.nodes, out.rels, start_label="Badge",
                        rel_types=["COLUMN", "HAS_BADGE"],
                        direction="both", min_hops=1, max_hops=2)
    rows = {(r.n0_key, r.n_key, r.depth) for r in vp.collect()}
    # 'pk' badge sits on table1/col2 (fixture): column at depth 1,
    # its table at depth 2 — NOT itself (same-edge backtrack forbidden)
    col2 = "hive://gold.test_schema/test_table1/col2"
    assert ("pk", col2, 1) in rows
    assert ("pk", "hive://gold.test_schema/test_table1", 2) in rows
    assert ("pk", "pk", 2) not in rows
    # no schema nodes: TABLE edges are outside the alternation
    keys = {k for _, k, _ in rows}
    assert "hive://gold.test_schema" not in keys
    assert "dynamo://gold.test_schema" not in keys


def test_graph_validation(tables_df):
    from amundsendatabuilder_spark.models.base import validate_graph
    from amundsendatabuilder_spark.models.table_metadata import expand_tables
    out = expand_tables(tables_df)
    checks = validate_graph(out, strict=True)  # should not raise
    assert all(df.limit(1).count() == 0 for df in checks.values())


@pytest.mark.parametrize("check", ["node_key_null", "node_label_not_title",
                                   "rel_type_not_upper", "rel_key_null"])
def test_graph_validation_strict_raises(spark, check):
    from amundsendatabuilder_spark.models.base import GraphOutput, validate_graph
    node = ("k1", "Table", {})
    rel = ("k1", "Table", "k2", "Column", "COLUMN", "COLUMN_OF", {})
    bad = {"node_key_null": ([(None, "Table", {})], []),
           "node_label_not_title": ([("k3", "table", {})], []),
           "rel_type_not_upper": ([], [rel[:4] + ("column",) + rel[5:]]),
           "rel_key_null": ([], [(None,) + rel[1:]])}
    extra_nodes, extra_rels = bad[check]

    def graph(nodes, rels):
        return GraphOutput(
            spark.createDataFrame(
                nodes, "KEY string, LABEL string, props map<string,string>"),
            spark.createDataFrame(
                rels, "START_KEY string, START_LABEL string, END_KEY string, "
                      "END_LABEL string, TYPE string, REVERSE_TYPE string, "
                      "props map<string,string>"))

    validate_graph(graph([node], [rel]), strict=True)  # clean: no raise
    with pytest.raises(ValueError, match=check):
        validate_graph(graph([node] + extra_nodes, [rel] + extra_rels),
                       strict=True)


def test_graph_profile_counts_groups_and_props(spark):
    """graph_profile groups rows by the CSV sink's shard key (side, labels,
    type, props key-set hash) and counts each row once, whether it has no
    props, several props, only null-valued props or a duplicate."""
    from amundsendatabuilder_spark.models.base import GraphOutput, graph_profile
    nodes = spark.createDataFrame(
        [("k0", "Thing", {}), ("k1", "Thing", {}),
         ("k2", "Thing", {"a": "1", "b": "2", "c": "3"}),
         ("k2", "Thing", {"a": "1", "b": "2", "c": "3"}),
         ("k3", "Thing", {"a": None, "b": "x", "c": None}),
         ("k4", "Thing", {"n": None})],
        "KEY string, LABEL string, props map<string,string>")
    rels = spark.createDataFrame(
        [("k0", "Thing", "k1", "Thing", "HAS", "HAS_OF", {}),
         ("k1", "Thing", "k2", "Thing", "HAS", "HAS_OF", {"w": "1", "v": "2"}),
         ("k2", "Thing", "k3", "Thing", "OWNS", "OWNED_BY", {"w": "1"})],
        "START_KEY string, START_LABEL string, END_KEY string, "
        "END_LABEL string, TYPE string, REVERSE_TYPE string, "
        "props map<string,string>")
    profile = graph_profile(GraphOutput(nodes, rels))
    got = sorted((p.side, tuple(p.key.values()), tuple(p.props), p.rows)
                 for p in profile)
    assert got == [
        ("nodes", ("Thing",), (), 1),
        ("nodes", ("Thing",), (), 2),
        ("nodes", ("Thing",), ("a", "b", "c"), 3),
        ("rels", ("Thing", "Thing", "HAS"), (), 1),
        ("rels", ("Thing", "Thing", "HAS"), ("v", "w"), 1),
        ("rels", ("Thing", "Thing", "OWNS"), ("w",), 1)]
    assert sum(p.rows for p in profile if p.side == "nodes") == nodes.count()
    assert sum(p.rows for p in profile if p.side == "rels") == rels.count()
    assert graph_profile(GraphOutput(nodes.limit(0), rels.limit(0))) == []


def test_expand_users_manager_self_join(spark):
    from amundsendatabuilder_spark.models.misc import expand_users
    from amundsendatabuilder_spark.sources.csv_source import read_csv
    users = read_csv(spark, os.path.join(FIXTURES, "sample_user.csv"))
    out = expand_users(users)
    assert out.nodes.count() == 3
    mgr = [(r["START_KEY"], r["END_KEY"]) for r in out.rels.collect()]
    assert sorted(mgr) == [("alice@example.com", "carol@example.com"),
                           ("bob@example.com", "carol@example.com")]


def test_expand_watermarks(spark):
    from amundsendatabuilder_spark.models.misc import expand_watermarks
    from amundsendatabuilder_spark.sources.csv_source import read_csv
    wm = read_csv(spark, os.path.join(FIXTURES, "sample_watermark.csv"))
    out = expand_watermarks(wm)
    nodes = {r["KEY"]: r for r in out.nodes.collect()}
    low = nodes["hive://gold.test_schema/test_table1/low_watermark/"]
    assert low["props"]["partition_key"] == "ds"
    assert low["props"]["partition_value"] == "2020-01-01"
    rel = out.rels.collect()[0]
    assert rel["TYPE"] == "BELONG_TO_TABLE"
    assert rel["END_KEY"] == "hive://gold.test_schema/test_table1"


def test_expand_dashboard_executions_sentinels(spark):
    from amundsendatabuilder_spark.models.dashboard import expand_dashboard_executions
    from amundsendatabuilder_spark.sources.csv_source import read_csv
    ex = read_csv(spark, os.path.join(FIXTURES, "sample_dashboard_last_execution.csv"))
    out = expand_dashboard_executions(ex)
    keys = sorted(r["KEY"] for r in out.nodes.collect())
    assert keys == [
        "mode_dashboard://gold.grp1/d1/execution/_last_execution",
        "mode_dashboard://gold.grp1/d1/execution/_last_successful_execution"]


def test_expand_dashboard_charts(spark):
    # reference models/dashboard/dashboard_chart.py:25-28 key format +
    # :47 chart_id-falls-back-to-name rule + HAS_CHART/CHART_OF edges
    from amundsendatabuilder_spark.models.dashboard import expand_dashboard_charts
    df = spark.createDataFrame(
        [("mode", "gold", "grp1", "d1", "q1", "c1", "Revenue", "line",
          "https://m/c1"),
         ("mode", "gold", "grp1", "d1", "q1", "", "Orders", "bar", None)],
        "product string, cluster string, dashboard_group_id string, "
        "dashboard_id string, query_id string, chart_id string, "
        "chart_name string, chart_type string, chart_url string")
    out = expand_dashboard_charts(df)
    nodes = {r["KEY"]: r for r in out.nodes.collect()}
    assert set(nodes) == {
        "mode_dashboard://gold.grp1/d1/query/q1/chart/c1",
        "mode_dashboard://gold.grp1/d1/query/q1/chart/Orders"}  # id<-name fallback
    assert nodes["mode_dashboard://gold.grp1/d1/query/q1/chart/c1"][
        "props"]["name"] == "Revenue"
    rels = {(r["START_KEY"], r["END_KEY"], r["TYPE"], r["REVERSE_TYPE"])
            for r in out.rels.collect()}
    assert ("mode_dashboard://gold.grp1/d1/query/q1",
            "mode_dashboard://gold.grp1/d1/query/q1/chart/c1",
            "HAS_CHART", "CHART_OF") in rels
    assert all(r["START_LABEL"] == "Query" and r["END_LABEL"] == "Chart"
               for r in out.rels.collect())


# Each misc/dashboard expansion and its reference_sample_data CSV; the two
# with no CSV there read the inline CSVs below.
_STANDALONE_EXPANSIONS = [
    ("misc", "expand_watermarks", "sample_watermark.csv"),
    ("misc", "expand_column_stats", None),
    ("misc", "expand_last_updated", "sample_table_last_updated.csv"),
    ("misc", "expand_table_source", "sample_source.csv"),
    ("misc", "expand_table_owners", "sample_table_owner.csv"),
    ("misc", "expand_applications", "sample_application.csv"),
    ("misc", "expand_column_usage", "sample_column_usage.csv"),
    ("misc", "expand_table_lineage", "sample_table_lineage.csv"),
    ("misc", "expand_column_lineage", "sample_column_lineage.csv"),
    ("misc", "expand_schema_descriptions", "sample_schema_description.csv"),
    ("misc", "expand_badges", "sample_badges.csv"),
    ("misc", "expand_users", "sample_user.csv"),
    ("dashboard", "expand_dashboards", "sample_dashboard_base.csv"),
    ("dashboard", "expand_dashboard_owners", "sample_dashboard_owner.csv"),
    ("dashboard", "expand_dashboard_usage", "sample_dashboard_usage.csv"),
    ("dashboard", "expand_dashboard_queries", "sample_dashboard_query.csv"),
    ("dashboard", "expand_dashboard_charts", None),
    ("dashboard", "expand_dashboard_executions",
     "sample_dashboard_last_execution.csv"),
    ("dashboard", "expand_dashboard_last_modified",
     "sample_dashboard_last_modified.csv"),
    ("dashboard", "expand_dashboard_tables", "sample_dashboard_table.csv"),
]
_INLINE_CSVS = {
    "expand_column_stats":
        "db,cluster,schema,table_name,col_name,stat_name,stat_val,"
        "start_epoch,end_epoch\n"
        "hive,gold,core,orders,id,nulls,0,1,2\n"
        "hive,gold,core,orders,id,max,9,1,2\n",
    "expand_dashboard_charts":
        "product,cluster,dashboard_group_id,dashboard_id,query_id,chart_id,"
        "chart_name,chart_type,chart_url\n"
        "mode,gold,grp1,d1,q1,c1,Revenue,line,\n"
        "mode,gold,grp1,d1,q1,,Orders,bar,\n",
}


@pytest.mark.parametrize("module,name,csv", _STANDALONE_EXPANSIONS,
                         ids=[n for _, n, _ in _STANDALONE_EXPANSIONS])
def test_standalone_expansion_dedups(spark, tmp_path, module, name, csv):
    """An expansion called on its own returns a deduped graph: fed its
    input twice, it emits each node (KEY, LABEL) and each rel (START_KEY,
    END_KEY, TYPE) once, and the same key sets as one copy gives."""
    import importlib
    import inspect

    from amundsendatabuilder_spark.sources.csv_source import read_csv
    expand = getattr(importlib.import_module(
        f"amundsendatabuilder_spark.models.{module}"), name)
    if csv is None:
        path = tmp_path / "input.csv"
        path.write_text(_INLINE_CSVS[name])
    else:
        path = os.path.join(FIXTURES, "reference_sample_data", csv)
    df = read_csv(spark, str(path))
    extra = {"spark": spark} if "spark" in inspect.signature(expand).parameters else {}

    def side_keys(frame):
        out = expand(frame, **extra)
        return ([tuple(r) for r in out.nodes.select("KEY", "LABEL").collect()],
                [tuple(r) for r in out.rels.select(
                    "START_KEY", "END_KEY", "TYPE").collect()])

    once, twice = side_keys(df), side_keys(df.unionByName(df))
    assert once[0] or once[1]
    for one, two in zip(once, twice):
        assert len(two) == len(set(two))
        assert set(two) == set(one)


def test_badge_key_validation(spark):
    import pytest as _pytest
    from amundsendatabuilder_spark.models.misc import validate_badge_keys
    good = spark.createDataFrame(
        [("hive://gold.core/orders",)], "start_key string")
    bad = spark.createDataFrame(
        [("hive://gold.core/orders",), ("not-a-key",)], "start_key string")
    # strict: good rows flow through, bad plans raise on evaluation
    assert validate_badge_keys(good, "Table").count() == 1
    with _pytest.raises(Exception, match="does not match the key pattern"):
        validate_badge_keys(bad, "Table").collect()  # count() would prune the col
    # quarantine mode returns only violations
    assert [r.start_key for r in
            validate_badge_keys(bad, "Table", strict=False).collect()] == ["not-a-key"]
    with _pytest.raises(ValueError, match="not a valid start_label"):
        validate_badge_keys(good, "User")
    # dashboard pattern is distinct
    dash = spark.createDataFrame(
        [("mode_dashboard://gold.grp/d1",)], "start_key string")
    assert validate_badge_keys(dash, "Dashboard").count() == 1


def test_match_path_hop_predicate(tables_df):
    """A hop may carry an inline node-property predicate — Cypher's
    (c:Column {name: 'col1'}) — pruning that hop before the join; with
    optional=True the predicate narrows which tails survive, not which
    start rows appear."""
    from amundsendatabuilder_spark.models.table_metadata import expand_tables
    from amundsendatabuilder_spark.sources.graph import match_path
    out = expand_tables(tables_df)
    hops = [("COLUMN", "Column", {"name": "col1"}), ("HAS_BADGE", "Badge")]
    got = match_path(out.nodes, out.rels, start_label="Table",
                     hops=hops).collect()
    assert all(r.n1_props["name"] == "col1" for r in got)
    assert {r.n2_key for r in got} <= {"pk", "partition column"}
    # unfiltered superset sanity: predicate only removes rows
    all_rows = match_path(out.nodes, out.rels, start_label="Table",
                          hops=[("COLUMN", "Column"),
                                ("HAS_BADGE", "Badge")]).collect()
    assert len(got) <= len(all_rows)


def test_match_var_path_depths_and_dedup(tables_df):
    """match_var_path unions bounded fixed-depth expansions with DISTINCT
    endpoint semantics: depth-1 reaches columns/descriptions, depth-2 the
    badges; min_hops trims the shallow levels."""
    from amundsendatabuilder_spark.models.table_metadata import expand_tables
    from amundsendatabuilder_spark.sources.graph import match_var_path
    out = expand_tables(tables_df)
    both = match_var_path(out.nodes, out.rels, start_label="Table",
                          rel_type=None, min_hops=1, max_hops=2).collect()
    by_depth = {}
    for r in both:
        by_depth.setdefault(r.depth, set()).add(r.n_key)
    assert {"pk", "partition column"} <= by_depth.get(2, set())
    assert any("/col" in k for k in by_depth.get(1, set()))
    # endpoint rows are distinct per (start, end, depth)
    assert len(both) == len({(r.n0_key, r.n_key, r.depth) for r in both})
    deep_only = match_var_path(out.nodes, out.rels, start_label="Table",
                               rel_type=None, min_hops=2, max_hops=2).collect()
    assert {r.depth for r in deep_only} == {2}
    # typed restriction: only COLUMN edges -> badges unreachable
    typed = match_var_path(out.nodes, out.rels, start_label="Table",
                           rel_type="COLUMN", min_hops=1, max_hops=2).collect()
    assert all(r.n_label == "Column" for r in typed)


def test_match_shortest_collapses_multi_route(spark):
    """match_shortest = min hop distance per (start, endpoint): on a
    chain (k -> k+1) plus skip (k -> 2k) graph, node 4 is reachable from
    1 via 1->2->4 (2 hops) AND 1->2->3->4 (3 hops); only the min
    survives."""
    from pyspark.sql import functions as F

    from amundsendatabuilder_spark.sources.graph import match_shortest
    ks = spark.createDataFrame([(k,) for k in range(1, 9)], "k long")
    nodes = ks.select(F.col("k").cast("string").alias("KEY"),
                      F.lit("Node").alias("LABEL"),
                      F.create_map().cast("map<string,string>").alias("props"))
    a, b = ks.alias("a"), ks.alias("b")

    def edge(cond):
        return (a.join(b, cond)
                .select(F.col("a.k").cast("string").alias("START_KEY"),
                        F.lit("Node").alias("START_LABEL"),
                        F.col("b.k").cast("string").alias("END_KEY"),
                        F.lit("Node").alias("END_LABEL"),
                        F.lit("FLOWS").alias("TYPE"),
                        F.lit("FLOWED").alias("REVERSE_TYPE"),
                        F.create_map().cast("map<string,string>")
                        .alias("props")))
    rels = edge(F.col("b.k") == F.col("a.k") + 1).unionByName(
        edge(F.col("b.k") == F.col("a.k") * 2))
    got = {(r.n0_key, r.n_key): r.distance
           for r in match_shortest(nodes, rels, start_label="Node",
                                   rel_type="FLOWS", max_hops=4).collect()}
    assert got[("1", "2")] == 1      # chain and skip tie at 1
    assert got[("1", "4")] == 2      # 1->2->4 beats 1->2->3->4
    assert got[("1", "8")] == 3      # 1->2->4->8
    assert got[("1", "5")] == 3      # 1->2->4->5 beats the 4-hop chain
    assert got[("2", "8")] == 2      # 2->4->8
    assert ("1", "1") not in got     # no self rows (DAG, min_hops=1)
    # one row per pair — the min actually collapsed the routes
    rows = match_shortest(nodes, rels, start_label="Node",
                          rel_type="FLOWS", max_hops=4).collect()
    assert len(rows) == len({(r.n0_key, r.n_key) for r in rows})


def test_match_var_path_rels_paths_and_pruning(spark):
    """Path (not endpoint) semantics with in-expansion ALL-hops pruning:
    diamond graph a->b->d, a->c->d — two 2-hop paths to d with different
    weight lists; a predicate killing one edge removes exactly the paths
    through it."""
    from pyspark.sql import functions as F

    from amundsendatabuilder_spark.sources.graph import match_var_path_rels
    nodes = spark.createDataFrame(
        [(k, "N", {}) for k in "abcd"],
        "KEY string, LABEL string, props map<string,string>")
    rels = spark.createDataFrame(
        [("a", "N", "b", "N", "T", "R", {"weight": "1"}),
         ("a", "N", "c", "N", "T", "R", {"weight": "5"}),
         ("b", "N", "d", "N", "T", "R", {"weight": "2"}),
         ("c", "N", "d", "N", "T", "R", {"weight": "6"})],
        "START_KEY string, START_LABEL string, END_KEY string, "
        "END_LABEL string, TYPE string, REVERSE_TYPE string, "
        "props map<string,string>")
    out = match_var_path_rels(nodes, rels, start_label="N", rel_type="T",
                              min_hops=1, max_hops=2)
    got = {(r["n0_key"], r["n_key"], r["depth"], tuple(r["rel_props"]))
           for r in out.collect()}
    # both 2-hop a->d paths present, each with its ordered weight list
    assert ("a", "d", 2, ("1", "2")) in got
    assert ("a", "d", 2, ("5", "6")) in got
    pruned = match_var_path_rels(
        nodes, rels, start_label="N", rel_type="T", min_hops=1, max_hops=2,
        rel_pred=F.col("props").getItem("weight").cast("int") < 5)
    got_p = {(r["n0_key"], r["n_key"], r["depth"], tuple(r["rel_props"]))
             for r in pruned.collect()}
    assert ("a", "d", 2, ("1", "2")) in got_p
    assert all(all(int(w) < 5 for w in ws) for _, _, _, ws in got_p)


def test_match_path_rel_property_predicate(tables_df):
    """WHERE on relationship properties: HAS_BADGE rels carry no props
    in the fixture, but COLUMN-hop rel predicates on published_tag-like
    props must prune. Build a tiny graph with rel props directly."""
    from pyspark.sql import functions as F
    from amundsendatabuilder_spark.sources.graph import match_path
    spark = tables_df.sparkSession
    nodes = spark.createDataFrame(
        [("t1", "Table"), ("u1", "User"), ("u2", "User")],
        "KEY string, LABEL string").withColumn(
        "props", F.create_map().cast("map<string,string>"))
    rels = spark.createDataFrame(
        [("t1", "Table", "u1", "User", "READ_BY", "5"),
         ("t1", "Table", "u2", "User", "READ_BY", "50")],
        "START_KEY string, START_LABEL string, END_KEY string, "
        "END_LABEL string, TYPE string, n string").withColumn(
        "props", F.map_from_arrays(F.array(F.lit("read_count")),
                                   F.array(F.col("n")))).drop("n")
    got = match_path(nodes, rels, start_label="Table",
                     hops=[("READ_BY", "User", None, "out",
                            {"read_count": (">", 10)})]).collect()
    assert [r.n1_key for r in got] == ["u2"]
    assert got[0].r1_props["read_count"] == "50"


_NODE_SCHEMA = "KEY string, LABEL string, props map<string,string>"
_REL_SCHEMA = ("START_KEY string, START_LABEL string, END_KEY string, "
               "END_LABEL string, TYPE string, REVERSE_TYPE string, "
               "props map<string,string>")


def _winners(out):
    return ({r["KEY"]: r["props"] for r in out.nodes.collect()},
            {r["START_KEY"]: r["props"] for r in out.rels.collect()})


def test_union_graphs_winner_ignores_row_order_and_partitioning(spark):
    """Two rows with one key and different props: the same row wins
    whatever the input order and partitioning (least sorted props here,
    since neither frame carries an element position)."""
    from amundsendatabuilder_spark.models.base import GraphOutput, union_graphs
    node_rows = [("k", "User", {"email": "b@x", "name": "B"}),
                 ("k", "User", {"email": "a@x"})]
    rel_rows = [("k", "User", "t", "Table", "OWNER", "OWNER_OF", {"w": "2"}),
                ("k", "User", "t", "Table", "OWNER", "OWNER_OF", {"w": "1"})]
    got = set()
    for order in (1, -1):
        nodes = spark.createDataFrame(node_rows[::order], _NODE_SCHEMA)
        rels = spark.createDataFrame(rel_rows[::order], _REL_SCHEMA)
        for parts in (1, 8):
            n, r = _winners(union_graphs(GraphOutput(
                nodes.repartition(parts), rels.repartition(parts))))
            got.add((tuple(sorted(n["k"].items())), tuple(r["k"].items())))
    assert got == {((("email", "a@x"),), (("w", "1"),))}


def test_union_graphs_element_position_beats_props(spark):
    """Within one frame the least element position ``_pos`` wins; the
    column never leaves ``union_graphs``."""
    from amundsendatabuilder_spark.models.base import GraphOutput, union_graphs
    nodes = spark.createDataFrame(
        [(0, "k", "User", {"email": "b@x"}), (3, "k", "User", {"email": "a@x"})],
        "_pos int, " + _NODE_SCHEMA)
    rels = spark.createDataFrame(
        [(2, "k", "User", "t", "Table", "OWNER", "OWNER_OF", {"w": "1"}),
         (1, "k", "User", "t", "Table", "OWNER", "OWNER_OF", {"w": "2"})],
        "_pos int, " + _REL_SCHEMA)
    out = union_graphs(GraphOutput(nodes.repartition(8), rels.repartition(8)))
    assert out.nodes.columns == ["KEY", "LABEL", "props"]
    assert out.rels.columns == ["START_KEY", "START_LABEL", "END_KEY",
                                "END_LABEL", "TYPE", "REVERSE_TYPE", "props"]
    assert _winners(out) == ({"k": {"email": "b@x"}}, {"k": {"w": "2"}})


def test_union_graphs_first_input_wins(spark):
    """Across inputs the first one passed wins, for nodes and for rels,
    whatever its props."""
    from amundsendatabuilder_spark.models.base import GraphOutput, union_graphs

    def graph(email, w):
        return GraphOutput(
            spark.createDataFrame([("k", "User", {"email": email})],
                                  _NODE_SCHEMA),
            spark.createDataFrame(
                [("k", "User", "t", "Table", "OWNER", "OWNER_OF", {"w": w})],
                _REL_SCHEMA))

    first, second = graph("z@x", "9"), graph("a@x", "1")
    assert _winners(union_graphs(first, second)) == (
        {"k": {"email": "z@x"}}, {"k": {"w": "9"}})
    assert _winners(union_graphs(second, first)) == (
        {"k": {"email": "a@x"}}, {"k": {"w": "1"}})


def test_graph_from_drops_null_elements_and_keys(spark):
    """``graph_from`` explodes single elements and element arrays once per
    side; NULL elements, NULL arrays and NULL keys emit nothing, and an
    expansion with no nodes gets the standard empty node schema."""
    from amundsendatabuilder_spark.models.base import graph_from, node, rel
    df = spark.createDataFrame(
        [("t1", ["a", None]), ("t2", None), (None, ["b"])],
        "name string, tags array<string>")
    out = graph_from(
        df,
        [node(F.col("name"), "Table"),
         F.when(F.col("name") == "t1", node(F.lit("d1"), "Description")),
         F.transform("tags", lambda t: node(t, "Tag", {"n": F.col("name")}))],
        [F.transform("tags", lambda t: rel(F.col("name"), "Table", t, "Tag",
                                           "TAGGED_BY", "TAG"))])
    assert sorted((r["KEY"], r["LABEL"], dict(r["props"]))
                  for r in out.nodes.collect()) == [
        ("a", "Tag", {"n": "t1"}), ("b", "Tag", {}), ("d1", "Description", {}),
        ("t1", "Table", {}), ("t2", "Table", {})]
    assert [(r["START_KEY"], r["END_KEY"]) for r in out.rels.collect()] == [
        ("t1", "a")]
    rels_only = graph_from(df, [], [rel(F.col("name"), "Table", F.lit("x"),
                                        "Thing", "HAS", "HAS_OF")])
    assert rels_only.nodes.schema.simpleString() == (
        "struct<KEY:string,LABEL:string,props:map<string,string>>")
    assert rels_only.nodes.count() == 0
