"""API-walk source tests with injected fake clients (the reference mocks
the same boundaries — SURVEY §5)."""

import pytest
from pyspark.sql import functions as F


def test_glue_pagination_and_flatten(spark):
    from amundsendatabuilder_spark.sources.catalog_apis import glue_tables
    pages = {
        None: ([{"DatabaseName": "db1", "Name": "t1",
                 "StorageDescriptor": {"Columns": [
                     {"Name": "a", "Type": "string", "Comment": "col a"}]},
                 "PartitionKeys": [{"Name": "ds", "Type": "string"}]}], "tok1"),
        "tok1": ([{"DatabaseName": "db1", "Name": "t2",
                   "StorageDescriptor": {"Columns": [
                       {"Name": "b", "Type": "bigint"}]}}], None),
    }
    df = glue_tables(spark, lambda tok: pages[tok])
    rows = df.collect()
    assert len(rows) == 3  # a, ds (partition), b — across 2 pages
    t1 = [r for r in rows if r["name"] == "t1"]
    assert [r["col_name"] for r in t1] == ["a", "ds"]
    assert [r["col_sort_order"] for r in t1] == [0, 1]


def test_cassandra_walk_filters(spark):
    from amundsendatabuilder_spark.sources.catalog_apis import cassandra_tables
    ks = {"system_auth": {"users": [("u", "text")]},
          "app": {"events": [("id", "uuid"), ("ts", "timestamp")],
                  "skipme": [("x", "int")]}}
    df = cassandra_tables(spark, ks, table_filter=lambda k, t: t != "skipme")
    rows = df.collect()
    assert {r["name"] for r in rows} == {"events"}  # system + filtered out
    assert len(rows) == 2


def test_feast_entities_before_features(spark):
    from amundsendatabuilder_spark.sources.catalog_apis import feast_feature_tables
    df = feast_feature_tables(spark, [{
        "name": "driver_stats", "project": "feast",
        "entities": [("driver_id", "INT64")],
        "features": [("trips", "INT64"), ("rating", "FLOAT")]}])
    rows = sorted(df.collect(), key=lambda r: r["col_sort_order"])
    assert [r["col_name"] for r in rows] == ["driver_id", "trips", "rating"]


def test_atlas_field_mapping_spec(spark):
    from amundsendatabuilder_spark.sources.catalog_apis import apply_field_mapping
    entities = [{"attributes": {"name": "tbl1", "popularityScore": 4.2}},
                {"attributes": {"name": "tbl2"}}]
    spec = [("name", "attributes.name", None, None),
            ("popularity", "attributes.popularityScore", lambda v: int(v), 0)]
    rows = {r["name"]: r for r in apply_field_mapping(spark, entities, spec).collect()}
    assert rows["tbl1"]["popularity"] == 4
    assert rows["tbl2"]["popularity"] == 0  # default applied


def _atlas_fixture():
    """60 entities, search_chunk_size 25 -> offsets [0, 25, 50],
    details_chunk_size 10 -> 6 detail chunks."""
    guids = [f"g{i:03d}" for i in range(60)]
    details = {g: {"attributes": {"qualifiedName": f"db.t{i}@prod",
                                  "name": f"t{i}"},
                   "updateTime": 1000 * (i + 1)}
               for i, g in enumerate(guids)}
    spec = [("key", "attributes.qualifiedName", None, None),
            ("name", "attributes.name", None, None),
            ("cluster", "attributes.qualifiedName",
             lambda x: x.split("@")[-1], None),
            ("last_updated_timestamp", "updateTime",
             lambda x: int(x) // 1000, 0)]
    schema = ("key string, name string, cluster string, "
              "last_updated_timestamp long")
    return guids, details, spec, schema


def test_atlas_search_chain_pagination_and_chunking(spark):
    from amundsendatabuilder_spark.sources.catalog_apis import (
        atlas_search_chain)
    guids, details, spec, schema = _atlas_fixture()
    page_calls = []

    def guid_page(off, limit):
        page_calls.append((off, limit))
        return guids[off:off + limit]

    def entity_details(chunk):
        # runs on executors: assert the chunking contract in-place (a
        # violation raises, dropping rows and failing the count below)
        assert 0 < len(chunk) <= 10
        return [details[g] for g in chunk]

    df = atlas_search_chain(spark, lambda: 60, guid_page, entity_details,
                            spec, schema, search_chunk_size=25,
                            details_chunk_size=10)
    rows = sorted(df.collect(), key=lambda r: r.key)
    assert len(rows) == 60
    # reference pagination: count // chunk + 1 pages, even offsets
    assert page_calls == [(0, 25), (25, 25), (50, 25)]
    assert rows[0].cluster == "prod"
    assert rows[0].last_updated_timestamp == 1


def test_atlas_search_chain_failure_isolation(spark):
    """A failing guid page and a failing detail chunk each drop only
    their own slice (reference logs-and-continues at both stages)."""
    from amundsendatabuilder_spark.sources.catalog_apis import (
        atlas_search_chain)
    guids, details, spec, schema = _atlas_fixture()

    def guid_page(off, limit):
        if off == 25:
            raise RuntimeError("atlas 500")
        return guids[off:off + limit]

    def entity_details(chunk):
        if "g000" in chunk:
            raise RuntimeError("bulk fetch failed")
        return [details[g] for g in chunk]

    df = atlas_search_chain(spark, lambda: 60, guid_page, entity_details,
                            spec, schema, search_chunk_size=25,
                            details_chunk_size=10)
    keys = {r.name for r in df.collect()}
    # page [25,50) gone, chunk g000..g009 gone -> 60 - 25 - 10 = 25 left
    assert len(keys) == 25
    assert "t0" not in keys and "t30" not in keys and "t50" in keys


def test_atlas_search_chain_falsy_default_quirk_and_bad_entity(spark):
    """The reference replaces ANY falsy value (0, '', []) with the
    default via ``reduce(...) or default``; an entity whose transform
    raises is skipped whole."""
    from amundsendatabuilder_spark.sources.catalog_apis import (
        atlas_search_chain)
    spec = [("name", "attributes.name", None, "unnamed"),
            ("usage", "attributes.popularityScore", lambda x: int(x), 7)]
    schema = "name string, usage long"
    ents = [{"attributes": {"name": "", "popularityScore": 0}},
            {"attributes": {"name": "ok", "popularityScore": "boom"}},
            {"attributes": {"name": "good", "popularityScore": 3}}]
    df = atlas_search_chain(spark, lambda: 3, lambda o, l: ["a", "b", "c"],
                            lambda chunk: ents, spec, schema,
                            search_chunk_size=10, details_chunk_size=10)
    rows = {r.name: r.usage for r in df.collect()}
    # falsy '' -> 'unnamed', falsy 0 -> default 7; int('boom') skips row
    assert rows == {"unnamed": 7, "good": 3}


def test_atlas_search_chain_zero_count_is_empty(spark):
    from amundsendatabuilder_spark.sources.catalog_apis import (
        atlas_search_chain)
    df = atlas_search_chain(spark, lambda: 0,
                            lambda o, l: (_ for _ in ()).throw(
                                AssertionError("no pages expected")),
                            lambda c: [], [("k", "k", None, None)],
                            "k string")
    assert df.count() == 0


def _mode_responses():
    org = "org1"
    return {
        f"https://app.mode.com/api/{org}/spaces?filter=all": {
            "_embedded": {"spaces": [
                {"token": "sp1", "name": "Space One", "description": "d1"}]}},
        f"https://app.mode.com/api/{org}/spaces/sp1/reports": {
            "_embedded": {"reports": [
                {"token": "r1", "name": "Report 1", "description": None,
                 "created_at": "2021-02-05T10:00:00Z",
                 "edited_at": "2021-03-01T00:00:00Z",
                 "last_successfully_run_at": "2021-03-02T00:00:00Z",
                 "view_count": 42,
                 "_links": {"last_run": {"href": "/api/org1/reports/r1/runs/run9"},
                            "creator": {"href": "/api/org1/users/u7"}}}]}},
        f"https://app.mode.com/api/{org}/reports/r1/queries": {
            "_embedded": {"queries": [
                {"token": "q1", "name": "Q One",
                 "raw_query": "SELECT 1"}]}},
        f"https://app.mode.com/api/{org}/reports/r1/queries/q1/charts": {
            "_embedded": {"charts": [
                {"token": "c1", "_links": {"report_viz_web": {
                    "href": "https://app.mode.com/org1/reports/r1/viz/c1"}}}]}},
        "https://app.mode.com/api/org1/reports/r1/runs/run9": {
            "state": "succeeded", "completed_at": "2021-03-02T01:00:00Z"},
        "https://app.mode.com/api/org1/users/u7": {"email": "own@x.com"},
        f"https://app.mode.com/batch/{org}/charts": {
            "charts": [{"space_token": "sp1", "report_token": "r1",
                        "query_token": "q1", "token": "c1",
                        "chart_title": "Chart One", "chart_type": "bar"}]},
        f"https://app.mode.com/api/{org}/memberships": {
            "_embedded": {"memberships": [
                {"member_username": "u7",
                 "_links": {"user": {"href": "/api/org1/users/u7"}}},
                {"member_username": "gone",
                 "_links": {"user": {"href": "/api/org1/users/gone"}}}]}},
    }


def test_mode_variant_chains_cover_every_reference_class(spark):
    from amundsendatabuilder_spark.sources.dashboards import (
        MODE_CHAINS, mode_extract)
    responses = _mode_responses()

    def fetch(url):
        if url.endswith("/users/gone"):
            raise RuntimeError("404")
        return responses[url]

    assert set(MODE_CHAINS) == {
        "mode_dashboard", "mode_dashboard_chart", "mode_dashboard_execution",
        "mode_dashboard_last_modified",
        "mode_dashboard_last_successful_execution", "mode_dashboard_owner",
        "mode_dashboard_query", "mode_dashboard_usage",
        "mode_dashboard_user", "mode_dashboard_charts_batch"}

    got = {v: mode_extract(spark, fetch, "org1", v).collect()
           for v in MODE_CHAINS}
    chart = got["mode_dashboard_chart"][0]
    assert (chart.dashboard_id, chart.query_id, chart.chart_id) == \
        ("r1", "q1", "c1")
    assert chart.chart_url.endswith("/viz/c1")
    ex = got["mode_dashboard_execution"][0]
    assert (ex.execution_state, ex.execution_timestamp) == \
        ("succeeded", "2021-03-02T01:00:00Z")
    assert got["mode_dashboard_last_modified"][0].last_modified_timestamp \
        == "2021-03-01T00:00:00Z"
    assert got["mode_dashboard_last_successful_execution"][0] \
        .execution_timestamp == "2021-03-02T00:00:00Z"
    assert got["mode_dashboard_owner"][0].email == "own@x.com"
    q = got["mode_dashboard_query"][0]
    assert (q.query_name, q.query_text) == ("Q One", "SELECT 1")
    assert got["mode_dashboard_usage"][0].accumulated_view_count == "42"
    # user chain: failing user resource is skipped (404 handler), the
    # healthy one survives
    users = got["mode_dashboard_user"]
    assert [u.email for u in users] == ["own@x.com"]
    assert got["mode_dashboard"][0].dashboard_id == "r1"
    cb = got["mode_dashboard_charts_batch"][0]
    assert (cb.dashboard_group_id, cb.dashboard_id, cb.chart_id,
            cb.chart_type) == ("sp1", "r1", "c1", "bar")


def test_tableau_variants_reshape_like_reference(spark):
    from amundsendatabuilder_spark.sources.dashboards import (
        TABLEAU_QUERIES, tableau_extract)
    payloads = {
        TABLEAU_QUERIES["tableau_dashboard"]: {"data": {"workbooks": [
            {"name": "W/B's 1", "projectName": "Proj", "createdAt": "T1",
             "description": None, "projectVizportalUrlId": "p1",
             "vizportalUrlId": "w1"},
            {"name": None, "projectName": "Proj",
             "projectVizportalUrlId": "p1", "vizportalUrlId": "w2"},
            {"name": "Skip", "projectName": "Internal",
             "projectVizportalUrlId": "p2", "vizportalUrlId": "w3"}]}},
        TABLEAU_QUERIES["tableau_dashboard_last_modified"]: {
            "data": {"workbooks": [
                {"name": "WB", "projectName": "Proj", "updatedAt": "T9",
                 "projectVizportalUrlId": "p1", "vizportalUrlId": "w1"}]}},
        TABLEAU_QUERIES["tableau_dashboard_query"]: {
            "data": {"customSQLTables": [
                {"id": "q1", "name": "Custom", "query": "SELECT 2",
                 "downstreamWorkbooks": [
                     {"name": "WB", "projectName": "Proj"},
                     {"name": "X", "projectName": "Internal"}]}]}},
        TABLEAU_QUERIES["tableau_dashboard_table"]: {
            "data": {"workbooks": [
                {"name": "WB", "projectName": "Proj", "upstreamTables": [
                    {"name": "real_schema.real_table", "schema": "wrong",
                     "database": {"name": "db", "connectionType": "hive"}},
                    {"name": "Sheet 1", "schema": "",
                     "database": {"name": "My Sheet (v2)",
                                  "connectionType": "google-sheets"}}]}]}},
        TABLEAU_QUERIES["tableau_external_table"]: {
            "data": {"databases": [
                {"name": "Growth & Region", "connectionType": "google-sheets",
                 "description": "gs", "tables": [{"name": "FY19 Report"}]},
                {"name": "data.csv", "connectionType": "textfile",
                 "description": "csv", "tables": []}]}},
    }

    def post(q):
        return payloads[q]

    d = tableau_extract(spark, post, "tableau_dashboard",
                        base_url="https://tab", site_name="main",
                        excluded_projects=["Internal"]).collect()
    # permission-null and excluded-project workbooks are dropped; the
    # quote/slash sanitization applies to the workbook name
    assert len(d) == 1 and d[0].dashboard_name == "WBs 1"
    assert d[0].dashboard_url == "https://tab/#/site/main/workbooks/w1/views"

    lm = tableau_extract(spark, post,
                         "tableau_dashboard_last_modified").collect()
    assert lm[0].last_modified_timestamp == "T9"

    q = tableau_extract(spark, post, "tableau_dashboard_query",
                        excluded_projects=["Internal"]).collect()
    assert len(q) == 1 and q[0].query_text == "SELECT 2"

    t = tableau_extract(spark, post, "tableau_dashboard_table",
                        database="hive").collect()
    # inner-schema correction + external google-sheets table id
    assert t[0].table_ids == [
        "hive://gold.real_schema/real_table",
        "googlesheets://external.My_Sheet_v2/Sheet 1"]

    ext = tableau_extract(spark, post, "tableau_external_table").collect()
    by_name = {r.name: r for r in ext}
    assert by_name["FY19 Report"].schema == "Growth__Region"
    assert by_name["data.csv"].database == "textfile"
    assert by_name["data.csv"].schema == "external"


def test_redash_dashboards(spark):
    from amundsendatabuilder_spark.sources.dashboards import (
        redash_dashboards)
    # the injected transport unwraps redash's {"results": [...]} envelope
    # — paginated_fetch consumes bare record lists and stops on the
    # first partial page
    pages = {
        "https://redash.example/api/dashboards?page=1": [
            {"id": 7, "name": "Sales",
             "created_at": "2021-01-01T00:00:00"}],
    }

    def fetch(url):
        return pages.get(url, [])

    rows = redash_dashboards(spark, fetch, "https://redash.example").collect()
    assert len(rows) == 1
    assert rows[0].dashboard_id == "7"
    assert rows[0].dashboard_name == "Sales"
    assert rows[0].created_timestamp == 1609459200


def test_mode_dashboard_chain(spark):
    from amundsendatabuilder_spark.sources.dashboards import mode_dashboard_chain
    responses = {
        "https://app.mode.com/api/org1/spaces?filter=all": {
            "_embedded": {"spaces": [
                {"token": "sp1", "name": "Space One", "description": "d1"}]}},
        "https://app.mode.com/api/org1/spaces/sp1/reports": {
            "_embedded": {"reports": [
                {"token": "r1", "name": "Report 1", "description": None,
                 "created_at": "2021-02-05T10:00:00Z"}]}},
    }
    df = mode_dashboard_chain(spark, lambda u: responses[u], "org1")
    row = df.collect()[0]
    assert row["product"] == "mode"
    assert row["dashboard_group_id"] == "sp1"
    assert row["dashboard_id"] == "r1"
    assert row["created_timestamp"] == 1612519200
    assert row["dashboard_url"] == "https://app.mode.com/org1/reports/r1"


def test_relational_expansion_and_fk_publish(spark, tables_df, tmp_path):
    import json
    from amundsendatabuilder_spark.models.rds import expand_relational
    from amundsendatabuilder_spark.sinks.jdbc_sink import publish_relational
    tables = expand_relational(tables_df)
    assert set(tables) >= {"database", "cluster", "schema", "table", "column"}
    assert tables["table"].count() == 2
    assert tables["column"].count() == 3
    log = str(tmp_path / "order.jsonl")

    def upsert(name, rows):
        with open(log, "a") as f:
            f.write(json.dumps({"t": name, "n": len(rows)}) + "\n")

    publish_relational(tables, upsert, batch_size=100)
    written = [json.loads(l)["t"] for l in open(log)]
    # FK order: database before cluster before schema before table ...
    assert written.index("database") < written.index("cluster") \
        < written.index("schema") < written.index("table") \
        < written.index("column")


def test_staged_graph_roundtrip_and_match(spark, tables_df, tmp_path):
    from amundsendatabuilder_spark.models.table_metadata import expand_tables
    from amundsendatabuilder_spark.sinks.graph_csv import write_graph
    from amundsendatabuilder_spark.sources.graph import match, read_staged_graph
    out = expand_tables(tables_df)
    write_graph(out, str(tmp_path))
    g = read_staged_graph(spark, str(tmp_path))
    assert g.nodes.count() == out.nodes.count()
    assert g.rels.count() == out.rels.count()
    # MATCH (s:Schema)-[:TABLE]->(t:Table)
    m = match(g.nodes, g.rels, start_label="Schema", rel_type="TABLE",
              end_label="Table")
    pairs = {(r["a_key"], r["b_key"]) for r in m.collect()}
    assert ("hive://gold.test_schema",
            "hive://gold.test_schema/test_table1") in pairs
    # OPTIONAL MATCH keeps tag nodes without badges
    opt = match(g.nodes, g.rels, start_label="Table", rel_type="HAS_BADGE",
                end_label="Badge", optional=True)
    assert opt.count() >= 2


def test_delta_catalog_walk(spark):
    from amundsendatabuilder_spark.sources.catalog_apis import delta_lake_tables
    spark.sql("CREATE DATABASE IF NOT EXISTS cat_test")
    spark.sql("CREATE TABLE IF NOT EXISTS cat_test.t1 (id BIGINT, name STRING) USING parquet")
    try:
        df = delta_lake_tables(spark, ["cat_test"])
        rows = [r for r in df.collect() if r["name"] == "t1"]
        assert [r["col_name"] for r in rows] == ["id", "name"]
        assert rows[0]["col_type"] == "bigint"
    finally:
        spark.sql("DROP TABLE IF EXISTS cat_test.t1")
        spark.sql("DROP DATABASE IF EXISTS cat_test")


def test_hive_last_updated_split(spark, tmp_path):
    """HiveTableLastUpdated: partitioned tables take MAX(create_time);
    the rest (left_anti) take the newest file mtime under their location,
    in epoch seconds."""
    import os

    from amundsendatabuilder_spark.sources.hive import (
        last_updated_from_files, last_updated_from_partitions,
        non_partitioned_tables)
    parts = spark.createDataFrame(
        [("s", "p1", 10), ("s", "p1", 30), ("s", "p2", 20)],
        "schema string, table_name string, create_time long")
    assert sorted(tuple(r) for r in last_updated_from_partitions(parts).collect()) \
        == [("s", "p1", 30), ("s", "p2", 20)]

    locs = {}
    for name, mtimes in (("t1", [1_600_000_000, 1_600_000_500]),
                         ("t2", [1_700_000_000])):
        d = tmp_path / name
        d.mkdir()
        for i, m in enumerate(mtimes):
            f = d / f"part-{i}"
            f.write_text("x")
            os.utime(f, (m, m))
        locs[name] = str(d)
    tables = spark.createDataFrame(
        [("s", "p1", "unused"), ("s", "t1", locs["t1"]), ("s", "t2", locs["t2"])],
        "schema string, table_name string, location string")
    rest = non_partitioned_tables(tables, parts)
    assert sorted(r["table_name"] for r in rest.collect()) == ["t1", "t2"]
    got = {r["location"]: r["last_updated_time_epoch"]
           for r in last_updated_from_files(spark, rest).collect()}
    assert got == {locs["t1"]: 1_600_000_500, locs["t2"]: 1_700_000_000}
    empty = last_updated_from_files(spark, rest.limit(0))
    assert empty.columns == ["location", "last_updated_time_epoch"]
    assert empty.count() == 0


def test_bigquery_usage_counts_filters_and_counts(spark):
    from amundsendatabuilder_spark.sources.bigquery import usage_counts
    done = "jobservice.jobcompleted"
    logs = spark.createDataFrame(
        [("p", "d", "t", "a@x.com", done, "bigquery_resource", 1),
         ("p", "d", "t", "a@x.com", "google.cloud.bigquery.v2.JobService.InsertJob",
          "bigquery_resource", 2),
         ("p", "d", "t", "b@x.com", done, "bigquery_resource", 3),
         ("p", "d", "t", "not-an-email", done, "bigquery_resource", 4),
         ("p", "d", "t", "c@x.com", "tabledata.list", "bigquery_resource", 5),
         ("p", "d", "t", "c@x.com", done, "gce_instance", 6)],
        "project_id string, dataset_id string, table_id string, email string, "
        "method string, resource_type string, ts long")
    assert sorted(tuple(r) for r in usage_counts(logs).collect()) == [
        ("p", "d", "t", "a@x.com", 2), ("p", "d", "t", "b@x.com", 1)]


def test_tableau_metadata_query_flattens_payload(spark):
    from amundsendatabuilder_spark.sources.dashboards import tableau_metadata_query
    sent = []

    def post(query):
        sent.append(query)
        return {"data": {"workbooks": [{"id": "w1", "name": "A"},
                                       {"id": "w2", "name": "B"}, "skip"],
                         "count": 2}}

    df = tableau_metadata_query(spark, post, "{ workbooks { id name } }")
    assert sent == ["{ workbooks { id name } }"]
    assert sorted((r["id"], r["name"]) for r in df.collect()) == [
        ("w1", "A"), ("w2", "B")]
    for payload in ({}, {"data": {}}, None, {"data": None},
                    {"data": None, "errors": []}):
        empty = tableau_metadata_query(spark, lambda q: payload, "q")
        assert empty.columns == ["id"] and empty.count() == 0
    # a GraphQL error response with no data is a failure, not an empty
    # catalog — with data null or missing alike
    for payload in ({"data": None, "errors": [{"message": "Signed out"},
                                              {"message": "Retry"}]},
                    {"errors": [{"message": "Signed out"}, "Retry"]}):
        with pytest.raises(ValueError, match="Signed out; Retry"):
            tableau_metadata_query(spark, lambda q: payload, "q")
    # partial data alongside errors is still flattened
    partial = tableau_metadata_query(spark, lambda q: {
        "data": {"workbooks": [{"id": "w3"}]},
        "errors": [{"message": "field 'owner' denied"}]}, "q")
    assert [r["id"] for r in partial.collect()] == ["w3"]


def test_es_last_updated_single_record(spark):
    from amundsendatabuilder_spark.sources.catalog_apis import es_last_updated
    df = es_last_updated(spark, 1_700_000_000)
    assert df.schema.simpleString() == "struct<timestamp:bigint>"
    assert [tuple(r) for r in df.collect()] == [(1_700_000_000,)]
