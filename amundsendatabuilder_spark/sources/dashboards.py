"""Dashboard-platform source chains (reference:
extractor/dashboard/mode_analytics/*, tableau/*, redash/*): each platform
extractor is a RestApiQuery chain + ChainedTransformer. Here a chain is a
seed DataFrame piped through ``rest_api_join`` hops and column transforms
— the 1:N nested-loop join semantics live in sources/rest.py; this module
contributes the canonical chain compositions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from amundsendatabuilder_spark.functions.scalars import epoch_from_string
from amundsendatabuilder_spark.sources.rest import JsonFetch, rest_api_join


def mode_dashboard_chain(spark: SparkSession, fetch: JsonFetch,
                         organization: str) -> DataFrame:
    """Mode dashboards (reference:
    extractor/dashboard/mode_analytics/mode_dashboard_extractor.py:38-109):
    spaces -> reports per space, then the ChainedTransformer steps
    (timestamp->epoch, URL template, dict->model) as column transforms.

    Returns the models/dashboard.py DashboardMetadata input schema.
    """
    seeds = spark.createDataFrame([(organization,)], "organization string")
    spaces = rest_api_join(
        seeds, "https://app.mode.com/api/{organization}/spaces?filter=all",
        "_embedded.spaces.[*]", ["token", "name", "description"], fetch)
    spaces = (spaces.withColumnRenamed("token", "dashboard_group_id")
              .withColumnRenamed("name", "dashboard_group")
              .withColumnRenamed("description", "dashboard_group_description"))
    reports = rest_api_join(
        spaces,
        "https://app.mode.com/api/{organization}/spaces/{dashboard_group_id}/reports",
        "_embedded.reports.[*]",
        ["token", "name", "description", "created_at"], fetch)
    return reports.select(
        F.lit("mode").alias("product"),
        F.lit("gold").alias("cluster"),
        "dashboard_group", "dashboard_group_id",
        "dashboard_group_description",
        F.format_string("https://app.mode.com/%s/spaces/%s",
                        F.col("organization"), F.col("dashboard_group_id"))
        .alias("dashboard_group_url"),
        F.col("name").alias("dashboard_name"),
        F.col("token").alias("dashboard_id"),
        F.col("description"),
        # ChainedTransformer step: ISO timestamp -> epoch
        # (reference mode_dashboard_extractor.py:63-78)
        epoch_from_string(F.col("created_at"), "yyyy-MM-dd'T'HH:mm:ss'Z'")
        .alias("created_timestamp"),
        F.format_string("https://app.mode.com/%s/reports/%s",
                        F.col("organization"), F.col("token"))
        .alias("dashboard_url"),
    )


# --------------------------------------------------------------------------
# Mode variant breadth: every reference extractor class in
# extractor/dashboard/mode_analytics/ expressed as a declarative hop config
# over rest_api_join. Hop keys: url (format-template over accumulated
# columns), json_path, fields (list of item keys, or dict out-col ->
# dotted path inside the item), optional skip_on_error. All hops are
# skip_no_result=True, as in every reference variant.
# --------------------------------------------------------------------------

_SPACES_HOP = {
    # ModeDashboardUtils.get_spaces_query_api (mode_dashboard_utils.py:45)
    "url": "https://app.mode.com/api/{organization}/spaces?filter=all",
    "json_path": "_embedded.spaces.[*]",
    "fields": {"dashboard_group_id": "token"},
}

_REPORTS_URL = ("https://app.mode.com/api/{organization}/spaces/"
                "{dashboard_group_id}/reports")

MODE_CHAINS: "dict[str, list[dict]]" = {
    # mode_dashboard_extractor.py:38-109 — the flagship metadata chain
    # (mode_dashboard_chain keeps its richer reshaped form below)
    "mode_dashboard": [
        {"url": "https://app.mode.com/api/{organization}/spaces?filter=all",
         "json_path": "_embedded.spaces.[*]",
         "fields": {"dashboard_group_id": "token", "dashboard_group": "name",
                    "dashboard_group_description": "description"}},
        {"url": _REPORTS_URL, "json_path": "_embedded.reports.[*]",
         "fields": {"dashboard_id": "token", "dashboard_name": "name",
                    "description": "description",
                    "created_timestamp": "created_at"}},
    ],
    # mode_dashboard_charts_extractor.py:67-98: spaces -> reports ->
    # queries -> charts (chart url via the OR-path _links hop)
    "mode_dashboard_chart": [
        _SPACES_HOP,
        {"url": _REPORTS_URL, "json_path": "_embedded.reports.[*]",
         "fields": {"dashboard_id": "token"}},
        {"url": "https://app.mode.com/api/{organization}/reports/"
                "{dashboard_id}/queries",
         "json_path": "_embedded.queries.[*]",
         "fields": {"query_id": "token", "query_name": "name"}},
        {"url": "https://app.mode.com/api/{organization}/reports/"
                "{dashboard_id}/queries/{query_id}/charts",
         "json_path": "_embedded.charts.[*]",
         "fields": {"chart_id": "token",
                    "chart_url": "_links.report_viz_web.href"}},
    ],
    # mode_dashboard_executions_extractor.py:65-93: reports carry the
    # last_run resource path; second hop dereferences it (root-object
    # payload, json_path '[state,completed_at]')
    "mode_dashboard_execution": [
        _SPACES_HOP,
        {"url": _REPORTS_URL, "json_path": "_embedded.reports.[*]",
         "fields": {"dashboard_id": "token",
                    "last_run_resource_path": "_links.last_run.href"}},
        {"url": "https://app.mode.com{last_run_resource_path}",
         "json_path": ".",
         "fields": {"execution_state": "state",
                    "execution_timestamp": "completed_at"}},
    ],
    # mode_dashboard_last_modified_timestamp_extractor.py:45-62
    "mode_dashboard_last_modified": [
        _SPACES_HOP,
        {"url": _REPORTS_URL, "json_path": "_embedded.reports.[*]",
         "fields": {"dashboard_id": "token",
                    "last_modified_timestamp": "edited_at"}},
    ],
    # mode_dashboard_last_successful_executions_extractor.py:42-59
    "mode_dashboard_last_successful_execution": [
        _SPACES_HOP,
        {"url": _REPORTS_URL, "json_path": "_embedded.reports.[*]",
         "fields": {"dashboard_id": "token",
                    "execution_timestamp": "last_successfully_run_at"}},
    ],
    # mode_dashboard_owner_extractor.py:44-75: creator resource path,
    # then the user resource (404s skipped — HttpFailureSkipOnStatus)
    "mode_dashboard_owner": [
        _SPACES_HOP,
        {"url": _REPORTS_URL, "json_path": "_embedded.reports.[*]",
         "fields": {"dashboard_id": "token",
                    "creator_resource_path": "_links.creator.href"}},
        {"url": "https://app.mode.com{creator_resource_path}",
         "json_path": ".", "fields": {"email": "email"},
         "skip_on_error": True},
    ],
    # mode_dashboard_queries_extractor.py:80-104
    "mode_dashboard_query": [
        _SPACES_HOP,
        {"url": _REPORTS_URL, "json_path": "_embedded.reports.[*]",
         "fields": {"dashboard_id": "token"}},
        {"url": "https://app.mode.com/api/{organization}/reports/"
                "{dashboard_id}/queries",
         "json_path": "_embedded.queries.[*]",
         "fields": {"query_id": "token", "query_name": "name",
                    "query_text": "raw_query"}},
    ],
    # mode_dashboard_usage_extractor.py:35-55
    "mode_dashboard_usage": [
        _SPACES_HOP,
        {"url": _REPORTS_URL, "json_path": "_embedded.reports.[*]",
         "fields": {"dashboard_id": "token",
                    "accumulated_view_count": "view_count"}},
    ],
    # batch/mode_dashboard_charts_batch_extractor.py:55-86: the Mode
    # DISCOVERY endpoint — one paginated hop listing every chart in the
    # org (pagination belongs to the injected transport, as with the
    # Tableau GraphQL transport)
    "mode_dashboard_charts_batch": [
        {"url": "https://app.mode.com/batch/{organization}/charts",
         "json_path": "charts.[*]",
         "fields": {"dashboard_group_id": "space_token",
                    "dashboard_id": "report_token",
                    "query_id": "query_token",
                    "chart_id": "token",
                    "chart_name": "chart_title",
                    "chart_type": "chart_type"}},
    ],
    # mode_dashboard_user_extractor.py:69-107: org memberships -> user
    # resource (404s skipped)
    "mode_dashboard_user": [
        {"url": "https://app.mode.com/api/{organization}/memberships",
         "json_path": "_embedded.memberships.[*]",
         "fields": {"mode_user_id": "member_username",
                    "mode_user_resource_path": "_links.user.href"}},
        {"url": "https://app.mode.com{mode_user_resource_path}",
         "json_path": ".", "fields": {"email": "email"},
         "skip_on_error": True},
    ],
}


def mode_extract(spark: SparkSession, fetch: JsonFetch, organization: str,
                 variant: str) -> DataFrame:
    """Run any of the nine reference Mode extractor chains by name
    (keys of MODE_CHAINS — one per reference class). The chain is a seed
    row piped through rest_api_join hops; every accumulated column is
    available to later hops' URL templates, exactly the reference's
    RestApiQuery query_to_join composition."""
    chain = MODE_CHAINS[variant]
    df = spark.createDataFrame([(organization,)], "organization string")
    for hop in chain:
        df = rest_api_join(df, hop["url"], hop["json_path"], hop["fields"],
                           fetch, skip_no_result=True,
                           skip_on_error=hop.get("skip_on_error", False))
    return df


# --------------------------------------------------------------------------
# Tableau variant breadth: the six reference extractors over the Metadata
# (GraphQL) API — each is (query string, reshape) where reshape replicates
# the reference's execute() transform including project exclusion and the
# sanitization rules in tableau_dashboard_utils.py:24-66.
# --------------------------------------------------------------------------

def _sanitize_schema(s: str) -> str:
    import re
    return re.sub(r" ", "_", re.sub(r"\.", "_",
                  re.sub(r"(\[|\]|\(|\)|\-|\&|\?)", "", s)))


def _sanitize_database(s: str) -> str:
    import re
    return re.sub(r"-", "", s)


def _sanitize_name(s: str) -> str:
    import re
    return re.sub(r"(\/|\')", "", s)


TABLEAU_QUERIES: "dict[str, str]" = {
    # tableau_dashboard_extractor.py:88-98
    "tableau_dashboard": ("query { workbooks { id name createdAt description"
                          " projectName projectVizportalUrlId vizportalUrlId"
                          " } }"),
    # tableau_dashboard_last_modified_extractor.py:74-83
    "tableau_dashboard_last_modified": (
        "query { workbooks { id name updatedAt projectName"
        " projectVizportalUrlId vizportalUrlId } }"),
    # tableau_dashboard_query_extractor.py:72-81
    "tableau_dashboard_query": (
        "query { customSQLTables { id name query downstreamWorkbooks"
        " { name projectName } } }"),
    # tableau_dashboard_table_extractor.py:110-126
    "tableau_dashboard_table": (
        "query { workbooks { name projectName upstreamTables"
        " { name schema database { name connectionType } } } }"),
    # tableau_external_table_extractor.py:99-110
    "tableau_external_table": (
        "query externalTables($externalTableTypes: [String]) { databases"
        " (filter: {connectionTypeWithin: $externalTableTypes})"
        " { name connectionType description tables { name } } }"),
}


def tableau_extract(spark: SparkSession, graphql_post: "callable",
                    variant: str, *, cluster: str = "gold",
                    database: str = "hive",
                    external_cluster_name: str = "external",
                    external_schema_name: str = "external",
                    base_url: str = "", site_name: str = "",
                    excluded_projects: "list[str] | None" = None) -> DataFrame:
    """Run any of the reference Tableau extractor variants by name.

    ``graphql_post(query_string) -> {"data": {...}}`` is the injected
    Metadata-API transport (tableau_dashboard_utils.py:68-111 wraps the
    paginated POST; pagination belongs to the transport). Reshapes
    replicate each reference execute(): project exclusion, permission-
    null skips, the schema-inside-table-name correction, external-table
    connection-type split, and the sanitize_* rules."""
    excluded = set(excluded_projects or [])
    payload = graphql_post(TABLEAU_QUERIES[variant])
    data = payload.get("data", payload) if isinstance(payload, dict) else {}
    site_path = f"/site/{site_name}" if site_name else ""
    rows: list[dict] = []

    if variant == "tableau_dashboard":
        for wb in data.get("workbooks", []):
            if wb.get("projectName") in excluded:
                continue
            if wb.get("projectName") is None or wb.get("name") is None:
                continue  # permission-lacking workbook (reference :48-51)
            rows.append({
                "dashboard_group": wb["projectName"],
                "dashboard_name": _sanitize_name(wb["name"]),
                "description": wb.get("description") or "",
                "created_timestamp": wb.get("createdAt"),
                "dashboard_group_url":
                    f'{base_url}/#{site_path}/projects/'
                    f'{wb.get("projectVizportalUrlId")}',
                "dashboard_url":
                    f'{base_url}/#{site_path}/workbooks/'
                    f'{wb.get("vizportalUrlId")}/views',
                "cluster": cluster})
        ddl = ("dashboard_group string, dashboard_name string, "
               "description string, created_timestamp string, "
               "dashboard_group_url string, dashboard_url string, "
               "cluster string")
    elif variant == "tableau_dashboard_last_modified":
        for wb in data.get("workbooks", []):
            if wb.get("projectName") in excluded:
                continue
            if wb.get("projectName") is None or wb.get("name") is None:
                continue
            rows.append({
                "dashboard_group_id": wb["projectName"],
                "dashboard_id": _sanitize_name(wb["name"]),
                "last_modified_timestamp": wb.get("updatedAt"),
                "cluster": cluster})
        ddl = ("dashboard_group_id string, dashboard_id string, "
               "last_modified_timestamp string, cluster string")
    elif variant == "tableau_dashboard_query":
        for q in data.get("customSQLTables", []):
            for wb in q.get("downstreamWorkbooks", []):
                if wb.get("projectName") in excluded:
                    continue
                rows.append({
                    "dashboard_group_id": wb["projectName"],
                    "dashboard_id": _sanitize_name(wb["name"]),
                    "query_name": q.get("name"),
                    "query_id": q.get("id"),
                    "query_text": q.get("query"),
                    "cluster": cluster})
        ddl = ("dashboard_group_id string, dashboard_id string, "
               "query_name string, query_id string, query_text string, "
               "cluster string")
    elif variant == "tableau_dashboard_table":
        for wb in data.get("workbooks", []):
            if wb.get("projectName") in excluded:
                continue
            table_ids = []
            for t in wb.get("upstreamTables", []):
                if t.get("schema", "") != "":
                    db, cl = database, cluster
                    # Tableau sometimes hides the real schema inside the
                    # table name (reference :60-69) — the inner schema wins
                    if "." in t["name"]:
                        schema, name = t["name"].split(".")
                    else:
                        schema, name = t["schema"], t["name"]
                    schema, name = _sanitize_schema(schema), _sanitize_name(name)
                else:
                    cl = external_cluster_name
                    db = _sanitize_database(t["database"]["connectionType"])
                    schema = _sanitize_schema(t["database"]["name"])
                    name = _sanitize_name(t["name"])
                table_ids.append(f"{db}://{cl}.{schema}/{name}")
            rows.append({
                "dashboard_group_id": wb["projectName"],
                "dashboard_id": _sanitize_name(wb["name"]),
                "cluster": cluster, "table_ids": table_ids})
        ddl = ("dashboard_group_id string, dashboard_id string, "
               "cluster string, table_ids array<string>")
    elif variant == "tableau_external_table":
        sheetlike = {"google-sheets", "salesforce", "excel-direct"}
        for db_ent in data.get("databases", []):
            if db_ent.get("connectionType") in sheetlike:
                for t in db_ent.get("tables", []):
                    rows.append({
                        "cluster": external_cluster_name,
                        "database":
                            _sanitize_database(db_ent["connectionType"]),
                        "schema": _sanitize_schema(db_ent["name"]),
                        "name": _sanitize_name(t["name"]),
                        "description": db_ent.get("description")})
            else:
                rows.append({
                    "cluster": external_cluster_name,
                    "database": _sanitize_database(db_ent["connectionType"]),
                    "schema": external_schema_name,
                    "name": _sanitize_name(db_ent["name"]),
                    "description": db_ent.get("description")})
        ddl = ("cluster string, database string, schema string, "
               "name string, description string")
    else:
        raise KeyError(f"unknown tableau variant: {variant}")
    fields = [f.split(" ")[0] for f in ddl.split(", ")]
    return spark.createDataFrame(
        [tuple(r[f] for f in fields) for r in rows], ddl)


def tableau_metadata_query(spark: SparkSession,
                           graphql_post: "callable", query: str) -> DataFrame:
    """Tableau metadata-API GraphQL (reference:
    extractor/dashboard/tableau/tableau_dashboard_utils.py:68-111): POST a
    GraphQL query, iterate the JSON result into a DataFrame. The transport
    is injected; pagination loops live in the caller-provided function.

    A response with no ``data`` but with ``errors`` (e.g. an expired
    token) raises ``ValueError`` carrying the error messages, so a failed
    query never reads as an empty catalog; partial ``data`` that comes
    with ``errors`` is flattened like any other."""
    payload = graphql_post(query)
    if not isinstance(payload, dict):
        payload = {}
    data, errors = payload.get("data"), payload.get("errors") or []
    if data is None and errors:
        raise ValueError("Tableau metadata query failed: " + "; ".join(
            str(e.get("message", e)) if isinstance(e, dict) else str(e)
            for e in errors))
    records = []
    for _, items in (data or {}).items():
        if isinstance(items, list):
            records.extend(i for i in items if isinstance(i, dict))
    if not records:
        return spark.createDataFrame([], "id string")
    return spark.createDataFrame(records)  # type: ignore[arg-type]


def redash_dashboards(spark: SparkSession, fetch: JsonFetch,
                      base_url: str) -> DataFrame:
    """Redash dashboard list (reference:
    extractor/dashboard/redash/redash_dashboard_extractor.py): page-number
    pagination then model reshape."""
    from amundsendatabuilder_spark.sources.rest import paginated_fetch
    records = paginated_fetch(fetch, base_url + "/api/dashboards?page={page}",
                              max_record_size=25)
    if not records:
        return spark.createDataFrame(
            [], "dashboard_id string, dashboard_name string, created_timestamp long")
    df = spark.createDataFrame(records)  # type: ignore[arg-type]
    cols = set(df.columns)
    return df.select(
        F.col("id").cast("string").alias("dashboard_id"),
        (F.col("name") if "name" in cols else F.lit(None)).alias("dashboard_name"),
        (epoch_from_string(F.col("created_at"), "yyyy-MM-dd'T'HH:mm:ss")
         if "created_at" in cols else F.lit(0)).alias("created_timestamp"))
