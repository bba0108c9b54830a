"""Dashboard model family (reference: databuilder/models/dashboard/*):
group/dashboard metadata, owner, usage, query, execution (with the
'_last_execution' / '_last_successful_execution' sentinel keys), last
modified timestamp, dashboard->table links. Each expansion projects its rows
and ends in ``union_graphs``, the one dedup per graph side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from amundsendatabuilder_spark import keys
from amundsendatabuilder_spark.models.base import GraphOutput, make_nodes, make_rels, union_graphs
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
    d = _dash_keys(df)
    group_nodes = make_nodes(
        d, DASHBOARD_GROUP_LABEL, F.col("_group_key"),
        {"name": F.col("dashboard_group"),
         "dashboard_group_url": F.col("dashboard_group_url")})
    dash_nodes = make_nodes(
        d, DASHBOARD_LABEL, F.col("_dash_key"),
        {"name": F.col("dashboard_name"),
         "dashboard_url": F.col("dashboard_url"),
         "created_timestamp": F.col("created_timestamp")})
    desc = d.where(F.col("description").isNotNull() & (F.col("description") != ""))
    desc_key = F.concat(F.col("_dash_key"), F.lit("/_description"))
    desc_nodes = make_nodes(desc, "Description", desc_key,
                            {"description": F.col("description")})
    group_desc = d.where(F.col("dashboard_group_description").isNotNull()
                         & (F.col("dashboard_group_description") != ""))
    gdesc_key = F.concat(F.col("_group_key"), F.lit("/_description"))
    gdesc_nodes = make_nodes(group_desc, "Description", gdesc_key,
                             {"description": F.col("dashboard_group_description")})

    group_dash = make_rels(d, DASHBOARD_GROUP_LABEL, DASHBOARD_LABEL,
                           F.col("_group_key"), F.col("_dash_key"),
                           "DASHBOARD", "DASHBOARD_OF")
    dash_desc = make_rels(desc, DASHBOARD_LABEL, "Description",
                          F.col("_dash_key"), desc_key,
                          "DESCRIPTION", "DESCRIPTION_OF")
    group_desc_rel = make_rels(group_desc, DASHBOARD_GROUP_LABEL, "Description",
                               F.col("_group_key"), gdesc_key,
                               "DESCRIPTION", "DESCRIPTION_OF")
    nodes = group_nodes.unionByName(dash_nodes).unionByName(desc_nodes) \
        .unionByName(gdesc_nodes)
    rels = group_dash.unionByName(dash_desc).unionByName(group_desc_rel)
    return union_graphs(GraphOutput(nodes, rels))


def expand_dashboard_owners(df: DataFrame) -> GraphOutput:
    """DashboardOwner (reference: models/dashboard/dashboard_owner.py).
    Input: product, cluster, dashboard_group_id, dashboard_id, email."""
    d = _dash_keys(df)
    nodes = make_nodes(d, USER_LABEL, F.col("email"), {"email": F.col("email")})
    rels = make_rels(d, USER_LABEL, DASHBOARD_LABEL, F.col("email"),
                     F.col("_dash_key"), "OWNER", "OWNER_OF")
    return union_graphs(GraphOutput(nodes, rels))


def expand_dashboard_usage(df: DataFrame) -> GraphOutput:
    """DashboardUsage (reference: models/dashboard/dashboard_usage.py —
    READ_BY edges carrying view_count). Input: product, cluster,
    dashboard_group_id, dashboard_id, view_count, email."""
    d = _dash_keys(df)
    nodes = make_nodes(d, USER_LABEL, F.col("email"), {"email": F.col("email")})
    rels = make_rels(d, DASHBOARD_LABEL, USER_LABEL, F.col("_dash_key"),
                     F.col("email"), "READ_BY", "READ",
                     {"read_count": F.col("view_count")})
    return union_graphs(GraphOutput(nodes, rels))


def expand_dashboard_queries(df: DataFrame) -> GraphOutput:
    """DashboardQuery (reference: models/dashboard/dashboard_query.py).
    Input: product, cluster, dashboard_group_id, dashboard_id, query_name,
    query_id, url, query_text."""
    d = _dash_keys(df).withColumn(
        "_query_key", F.format_string("%s/query/%s", F.col("_dash_key"),
                                      F.col("query_id")))
    nodes = make_nodes(
        d, "Query", F.col("_query_key"),
        {"name": F.col("query_name"), "id": F.col("query_id"),
         "url": F.col("url"), "query_text": F.col("query_text")})
    rels = make_rels(d, DASHBOARD_LABEL, "Query", F.col("_dash_key"),
                     F.col("_query_key"), "HAS_QUERY", "QUERY_OF")
    return union_graphs(GraphOutput(nodes, rels))


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
    d = _dash_keys(df).withColumn(
        "_chart_id", F.coalesce(
            F.when(F.col("chart_id") != "", F.col("chart_id")),
            F.col("chart_name")))
    d = d.withColumn(
        "_query_key", F.format_string("%s/query/%s", F.col("_dash_key"),
                                      F.col("query_id"))
    ).withColumn(
        "_chart_key", F.format_string("%s/chart/%s", F.col("_query_key"),
                                      F.col("_chart_id")))
    nodes = make_nodes(
        d, "Chart", F.col("_chart_key"),
        {"id": F.col("_chart_id"), "name": F.col("chart_name"),
         "type": F.col("chart_type"), "url": F.col("chart_url")})
    rels = make_rels(d, "Query", "Chart", F.col("_query_key"),
                     F.col("_chart_key"), "HAS_CHART", "CHART_OF")
    return union_graphs(GraphOutput(nodes, rels))


def expand_dashboard_executions(df: DataFrame) -> GraphOutput:
    """DashboardExecution (reference:
    models/dashboard/dashboard_execution.py:20-80; sentinel execution ids
    '_last_execution'/'_last_successful_execution' at :26-32). Input:
    product, cluster, dashboard_group_id, dashboard_id, execution_id,
    execution_timestamp, execution_state."""
    d = _dash_keys(df).withColumn(
        "_exec_key", keys.dashboard_execution_key(F.col("_dash_key"),
                                                  F.col("execution_id")))
    nodes = make_nodes(
        d, "Execution", F.col("_exec_key"),
        {"timestamp": F.col("execution_timestamp"),
         "state": F.col("execution_state")})
    rels = make_rels(d, DASHBOARD_LABEL, "Execution", F.col("_dash_key"),
                     F.col("_exec_key"), "EXECUTED", "EXECUTION_OF")
    return union_graphs(GraphOutput(nodes, rels))


def expand_dashboard_last_modified(df: DataFrame) -> GraphOutput:
    """DashboardLastModifiedTimestamp (reference:
    models/dashboard/dashboard_last_modified.py). Input: product, cluster,
    dashboard_group_id, dashboard_id, last_modified_timestamp."""
    d = _dash_keys(df).withColumn(
        "_ts_key", F.concat(F.col("_dash_key"), F.lit("/_last_modified_timestamp")))
    nodes = make_nodes(
        d, "Timestamp", F.col("_ts_key"),
        {"timestamp": F.col("last_modified_timestamp"),
         "name": F.lit("last_updated_timestamp")})
    rels = make_rels(d, DASHBOARD_LABEL, "Timestamp", F.col("_dash_key"),
                     F.col("_ts_key"), "LAST_UPDATED_AT", "LAST_UPDATED_TIME_OF")
    return union_graphs(GraphOutput(nodes, rels))


def expand_dashboard_tables(df: DataFrame, spark) -> GraphOutput:
    """DashboardTable (reference: models/dashboard/dashboard_table.py —
    comma-separated full table keys fan out to DASHBOARD_WITH_TABLE
    edges). Input: product, cluster, dashboard_group_id, dashboard_id,
    table_ids."""
    from amundsendatabuilder_spark.models.base import _empty_nodes
    d = (_dash_keys(df)
         .select("_dash_key", F.explode(F.split(F.col("table_ids"), ",")).alias("tbl"))
         .select("_dash_key", F.trim("tbl").alias("tbl"))
         .where(F.col("tbl") != ""))
    rels = make_rels(d, DASHBOARD_LABEL, TABLE_LABEL, F.col("_dash_key"),
                     F.col("tbl"), "DASHBOARD_WITH_TABLE", "TABLE_OF_DASHBOARD")
    return union_graphs(GraphOutput(_empty_nodes(spark), rels))
