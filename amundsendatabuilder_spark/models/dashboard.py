"""Dashboard model family (reference: databuilder/models/dashboard/*):
group/dashboard metadata, owner, usage, query, execution (with the
'_last_execution' / '_last_successful_execution' sentinel keys), last
modified timestamp, dashboard->table links. Each expansion states its
``node`` and ``rel`` elements per input row; ``graph_from`` explodes them
once per graph side and ends in ``union_graphs``, the one dedup per graph
side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from amundsendatabuilder_spark import keys
from amundsendatabuilder_spark.models.base import GraphOutput, graph_from, node, rel
from amundsendatabuilder_spark.models.misc import USER_LABEL
from amundsendatabuilder_spark.models.table_metadata import TABLE_LABEL

DASHBOARD_LABEL = "Dashboard"        # models/dashboard/dashboard_metadata.py:40
DASHBOARD_GROUP_LABEL = "Dashboardgroup"  # :55


def _dash_keys(df: DataFrame) -> DataFrame:
    return (
        df.withColumn("_group_key", keys.dashboard_group_key(
            F.col("product"), F.col("cluster"), F.col("dashboard_group_id")))
        .withColumn("_dash_key", keys.dashboard_key(
            F.col("product"), F.col("cluster"), F.col("dashboard_group_id"),
            F.col("dashboard_id")))
    )


def expand_dashboards(df: DataFrame) -> GraphOutput:
    """DashboardMetadata (reference:
    models/dashboard/dashboard_metadata.py:30-180). Input: product,
    cluster, dashboard_group, dashboard_group_id,
    dashboard_group_description, dashboard_group_url, dashboard_name,
    dashboard_id, description, created_timestamp, dashboard_url."""
    group_key, dash_key = F.col("_group_key"), F.col("_dash_key")
    has_desc = F.col("description").isNotNull() & (F.col("description") != "")
    desc_key = F.concat(dash_key, F.lit("/_description"))
    has_gdesc = (F.col("dashboard_group_description").isNotNull()
                 & (F.col("dashboard_group_description") != ""))
    gdesc_key = F.concat(group_key, F.lit("/_description"))
    return graph_from(
        _dash_keys(df),
        [node(group_key, DASHBOARD_GROUP_LABEL,
              {"name": F.col("dashboard_group"),
               "dashboard_group_url": F.col("dashboard_group_url")}),
         node(dash_key, DASHBOARD_LABEL,
              {"name": F.col("dashboard_name"),
               "dashboard_url": F.col("dashboard_url"),
               "created_timestamp": F.col("created_timestamp")}),
         F.when(has_desc, node(desc_key, "Description",
                               {"description": F.col("description")})),
         F.when(has_gdesc, node(
             gdesc_key, "Description",
             {"description": F.col("dashboard_group_description")}))],
        [rel(group_key, DASHBOARD_GROUP_LABEL, dash_key, DASHBOARD_LABEL,
             "DASHBOARD", "DASHBOARD_OF"),
         F.when(has_desc, rel(dash_key, DASHBOARD_LABEL, desc_key,
                              "Description", "DESCRIPTION", "DESCRIPTION_OF")),
         F.when(has_gdesc, rel(group_key, DASHBOARD_GROUP_LABEL, gdesc_key,
                               "Description", "DESCRIPTION", "DESCRIPTION_OF"))])


def expand_dashboard_owners(df: DataFrame) -> GraphOutput:
    """DashboardOwner (reference: models/dashboard/dashboard_owner.py).
    Input: product, cluster, dashboard_group_id, dashboard_id, email."""
    return graph_from(
        _dash_keys(df),
        [node(F.col("email"), USER_LABEL, {"email": F.col("email")})],
        [rel(F.col("email"), USER_LABEL, F.col("_dash_key"), DASHBOARD_LABEL,
             "OWNER", "OWNER_OF")])


def expand_dashboard_usage(df: DataFrame) -> GraphOutput:
    """DashboardUsage (reference: models/dashboard/dashboard_usage.py —
    READ_BY edges carrying view_count). Input: product, cluster,
    dashboard_group_id, dashboard_id, view_count, email."""
    return graph_from(
        _dash_keys(df),
        [node(F.col("email"), USER_LABEL, {"email": F.col("email")})],
        [rel(F.col("_dash_key"), DASHBOARD_LABEL, F.col("email"), USER_LABEL,
             "READ_BY", "READ", {"read_count": F.col("view_count")})])


def expand_dashboard_queries(df: DataFrame) -> GraphOutput:
    """DashboardQuery (reference: models/dashboard/dashboard_query.py).
    Input: product, cluster, dashboard_group_id, dashboard_id, query_name,
    query_id, url, query_text."""
    query_key = F.format_string("%s/query/%s", F.col("_dash_key"),
                                F.col("query_id"))
    return graph_from(
        _dash_keys(df),
        [node(query_key, "Query",
              {"name": F.col("query_name"), "id": F.col("query_id"),
               "url": F.col("url"), "query_text": F.col("query_text")})],
        [rel(F.col("_dash_key"), DASHBOARD_LABEL, query_key, "Query",
             "HAS_QUERY", "QUERY_OF")])


def expand_dashboard_charts(df: DataFrame) -> GraphOutput:
    """DashboardChart (reference: models/dashboard/dashboard_chart.py:21-120
    — Chart nodes keyed
    '{product}_dashboard://{cluster}.{group_id}/{dashboard_id}/query/{query_id}/chart/{chart_id}',
    HAS_CHART from the owning Query node, CHART_OF back). Input: product,
    cluster, dashboard_group_id, dashboard_id, query_id, chart_id,
    chart_name, chart_type, chart_url. The reference falls back to
    chart_name when chart_id is empty (:47); mirrored here. Optional
    attributes (name/type/url) are emitted as-is — the ragged-label CSV
    sink drops nulls per shard, matching the reference's conditional
    attribute dict (:63-75)."""
    chart_id = F.coalesce(F.when(F.col("chart_id") != "", F.col("chart_id")),
                          F.col("chart_name"))
    query_key = F.format_string("%s/query/%s", F.col("_dash_key"),
                                F.col("query_id"))
    chart_key = F.format_string("%s/chart/%s", query_key, chart_id)
    return graph_from(
        _dash_keys(df),
        [node(chart_key, "Chart",
              {"id": chart_id, "name": F.col("chart_name"),
               "type": F.col("chart_type"), "url": F.col("chart_url")})],
        [rel(query_key, "Query", chart_key, "Chart", "HAS_CHART", "CHART_OF")])


def expand_dashboard_executions(df: DataFrame) -> GraphOutput:
    """DashboardExecution (reference:
    models/dashboard/dashboard_execution.py:20-80; sentinel execution ids
    '_last_execution'/'_last_successful_execution' at :26-32). Input:
    product, cluster, dashboard_group_id, dashboard_id, execution_id,
    execution_timestamp, execution_state."""
    exec_key = keys.dashboard_execution_key(F.col("_dash_key"),
                                            F.col("execution_id"))
    return graph_from(
        _dash_keys(df),
        [node(exec_key, "Execution",
              {"timestamp": F.col("execution_timestamp"),
               "state": F.col("execution_state")})],
        [rel(F.col("_dash_key"), DASHBOARD_LABEL, exec_key, "Execution",
             "EXECUTED", "EXECUTION_OF")])


def expand_dashboard_last_modified(df: DataFrame) -> GraphOutput:
    """DashboardLastModifiedTimestamp (reference:
    models/dashboard/dashboard_last_modified.py). Input: product, cluster,
    dashboard_group_id, dashboard_id, last_modified_timestamp."""
    ts_key = F.concat(F.col("_dash_key"), F.lit("/_last_modified_timestamp"))
    return graph_from(
        _dash_keys(df),
        [node(ts_key, "Timestamp",
              {"timestamp": F.col("last_modified_timestamp"),
               "name": F.lit("last_updated_timestamp")})],
        [rel(F.col("_dash_key"), DASHBOARD_LABEL, ts_key, "Timestamp",
             "LAST_UPDATED_AT", "LAST_UPDATED_TIME_OF")])


def expand_dashboard_tables(df: DataFrame, spark) -> GraphOutput:
    """DashboardTable (reference: models/dashboard/dashboard_table.py —
    comma-separated full table keys fan out to DASHBOARD_WITH_TABLE
    edges). Input: product, cluster, dashboard_group_id, dashboard_id,
    table_ids."""
    tables = F.filter(F.transform(F.split(F.col("table_ids"), ","),
                                  lambda t: F.trim(t)),
                      lambda t: t != "")
    return graph_from(_dash_keys(df), [], [F.transform(tables, lambda t: rel(
        F.col("_dash_key"), DASHBOARD_LABEL, t, TABLE_LABEL,
        "DASHBOARD_WITH_TABLE", "TABLE_OF_DASHBOARD"))])
