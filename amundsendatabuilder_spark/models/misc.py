"""Mechanical model expansions (SURVEY §7.3 phase 2): watermark, stats,
last-updated, owner, source, application, usage, lineage, schema
description, standalone badges/tags. Each mirrors one reference model's
node/relationship emission with the documented input schema, projects its
rows and ends in ``union_graphs``, the one dedup per graph side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from amundsendatabuilder_spark import keys
from amundsendatabuilder_spark.models.base import GraphOutput, make_nodes, make_rels, union_graphs
from amundsendatabuilder_spark.models.table_metadata import COLUMN_LABEL, TABLE_LABEL

USER_LABEL = "User"  # reference: models/user.py:22


def _table_key_col(df: DataFrame, db="database", cluster="cluster",
                   schema="schema", table="table_name"):
    return keys.table_key(F.col(db), F.col(cluster), F.col(schema), F.col(table))


def expand_watermarks(df: DataFrame) -> GraphOutput:
    """Watermark (reference: models/watermark.py:17-116). Input:
    database, cluster, schema, table_name, part_name ('col=value[/...]'),
    part_type ('low_watermark'|'high_watermark'), create_time string.
    Node key ends with '/{part_type}/'; props: partition_key (first name
    before '='), partition_value, create_time."""
    wk = keys.watermark_key(F.col("database"), F.col("cluster"),
                            F.col("schema"), F.col("table_name"),
                            F.col("part_type"))
    d = df.withColumn("_wm_key", wk).withColumn("_tbl_key", _table_key_col(df))
    nodes = make_nodes(
        d, "Watermark", F.col("_wm_key"),
        {"partition_key": F.split(F.col("part_name"), "=")[0],
         "partition_value": F.regexp_extract(F.col("part_name"), r"^[^=]+=(.*)$", 1),
         "create_time": F.col("create_time")})
    rels = make_rels(d, "Watermark", TABLE_LABEL, F.col("_wm_key"),
                     F.col("_tbl_key"), "BELONG_TO_TABLE", "WATERMARK")
    return union_graphs(GraphOutput(nodes, rels))


def expand_column_stats(df: DataFrame) -> GraphOutput:
    """TableColumnStats (reference: models/table_stats.py:22-96). Input:
    db, cluster, schema, table_name, col_name, stat_name, stat_val,
    start_epoch long, end_epoch long."""
    stat_key = keys.stat_key(F.col("db"), F.col("cluster"), F.col("schema"),
                             F.col("table_name"), F.col("col_name"),
                             F.col("stat_name"))
    col_key = keys.column_key(F.col("db"), F.col("cluster"), F.col("schema"),
                              F.col("table_name"), F.col("col_name"))
    d = df.withColumn("_stat_key", stat_key).withColumn("_col_key", col_key)
    nodes = make_nodes(
        d, "Stat", F.col("_stat_key"),
        {"stat_type": F.col("stat_name"), "stat_val": F.col("stat_val"),
         "start_epoch": F.col("start_epoch"), "end_epoch": F.col("end_epoch")})
    rels = make_rels(d, "Stat", COLUMN_LABEL, F.col("_stat_key"),
                     F.col("_col_key"), "STAT_OF", "STAT")
    return union_graphs(GraphOutput(nodes, rels))


def expand_last_updated(df: DataFrame) -> GraphOutput:
    """TableLastUpdated (reference: models/table_last_updated.py:18-100;
    timestamp constants models/timestamp/timestamp_constants.py). Input:
    db, cluster, schema, table_name, last_updated_time_epoch long."""
    ts_key = keys.timestamp_key(F.col("db"), F.col("cluster"),
                                F.col("schema"), F.col("table_name"))
    d = (df.withColumn("_ts_key", ts_key)
         .withColumn("_tbl_key", _table_key_col(df, db="db")))
    nodes = make_nodes(
        d, "Timestamp", F.col("_ts_key"),
        {"timestamp": F.col("last_updated_time_epoch"),
         "last_updated_timestamp": F.col("last_updated_time_epoch"),
         "name": F.lit("last_updated_timestamp")})
    rels = make_rels(d, TABLE_LABEL, "Timestamp", F.col("_tbl_key"),
                     F.col("_ts_key"), "LAST_UPDATED_AT", "LAST_UPDATED_TIME_OF")
    return union_graphs(GraphOutput(nodes, rels))


def expand_table_source(df: DataFrame) -> GraphOutput:
    """TableSource (reference: models/table_source.py:21-100). Input:
    db_name, cluster, schema, table_name, source, source_type."""
    src_key = F.format_string("%s://%s.%s/%s/_source", F.col("db_name"),
                              F.col("cluster"), F.col("schema"),
                              F.col("table_name"))
    tbl_key = keys.table_key(F.col("db_name"), F.col("cluster"),
                             F.col("schema"), F.col("table_name"))
    d = df.withColumn("_src_key", src_key).withColumn("_tbl_key", tbl_key)
    nodes = make_nodes(
        d, "Source", F.col("_src_key"),
        {"source": F.col("source"), "source_type": F.col("source_type")})
    rels = make_rels(d, "Source", TABLE_LABEL, F.col("_src_key"),
                     F.col("_tbl_key"), "SOURCE_OF", "SOURCE")
    return union_graphs(GraphOutput(nodes, rels))


def expand_table_owners(df: DataFrame) -> GraphOutput:
    """TableOwner (reference: models/table_owner.py:20-105 — comma-separated
    owner emails fan out to User nodes + OWNER rels). Input: db_name,
    schema, cluster, table_name, owners (comma-separated string)."""
    tbl_key = keys.table_key(F.col("db_name"), F.col("cluster"),
                             F.col("schema"), F.col("table_name"))
    d = (df.withColumn("_tbl_key", tbl_key)
         .select("_tbl_key", F.explode(F.split(F.col("owners"), ",")).alias("email"))
         .select("_tbl_key", F.lower(F.trim("email")).alias("email"))
         .where(F.col("email") != ""))
    nodes = make_nodes(d, USER_LABEL, keys.user_key(F.col("email")),
                       {"email": F.col("email")})
    rels = make_rels(d, USER_LABEL, TABLE_LABEL, F.col("email"),
                     F.col("_tbl_key"), "OWNER", "OWNER_OF")
    return union_graphs(GraphOutput(nodes, rels))


def expand_applications(df: DataFrame) -> GraphOutput:
    """Application (reference: models/application.py:20-130). Input:
    task_id, dag_id, exec_date, application_url_template (with {dag_id}),
    db_name, schema, table_name, cluster."""
    app_key = F.format_string("application://%s.airflow/%s/%s",
                              F.col("cluster"), F.col("dag_id"), F.col("task_id"))
    tbl_key = keys.table_key(F.col("db_name"), F.col("cluster"),
                             F.col("schema"), F.col("table_name"))
    url = F.replace(F.col("application_url_template"), F.lit("{dag_id}"),
                    F.col("dag_id"))
    d = df.withColumn("_app_key", app_key).withColumn("_tbl_key", tbl_key)
    nodes = make_nodes(
        d, "Application", F.col("_app_key"),
        {"application_url": url, "apache_airflow": F.lit(True),
         "id": F.format_string("%s/%s", F.col("dag_id"), F.col("task_id")),
         "name": F.lit("Airflow"), "description": F.lit("Airflow with id")})
    rels = make_rels(d, TABLE_LABEL, "Application", F.col("_tbl_key"),
                     F.col("_app_key"), "DERIVED_FROM", "GENERATES")
    return union_graphs(GraphOutput(nodes, rels))


def expand_column_usage(df: DataFrame, spark=None) -> GraphOutput:
    """ColumnUsageModel (reference: models/column_usage_model.py:22-115 —
    table-level usage edges Table-[READ_BY]->User with read_count; user
    node emitted too). Input: database, cluster, schema, table_name,
    column_name ('*'), user_email, read_count long."""
    d = df.withColumn("_tbl_key", _table_key_col(df))
    nodes = make_nodes(d, USER_LABEL, keys.user_key(F.col("user_email")),
                       {"email": F.col("user_email")})
    rels = make_rels(d, TABLE_LABEL, USER_LABEL, F.col("_tbl_key"),
                     F.col("user_email"), "READ_BY", "READ",
                     {"read_count": F.col("read_count")})
    return union_graphs(GraphOutput(nodes, rels))


def expand_table_lineage(df: DataFrame, spark) -> GraphOutput:
    """TableLineage (reference: models/table_lineage.py:18-90): pure edge
    model Table-[HAS_DOWNSTREAM]->Table. Input: source_table_key,
    target_table_key (full keys)."""
    from amundsendatabuilder_spark.models.base import _empty_nodes
    rels = make_rels(df, TABLE_LABEL, TABLE_LABEL,
                     F.col("source_table_key"), F.col("target_table_key"),
                     "HAS_DOWNSTREAM", "HAS_UPSTREAM")
    return union_graphs(GraphOutput(_empty_nodes(spark), rels))


def expand_column_lineage(df: DataFrame, spark) -> GraphOutput:
    """ColumnLineage (reference: models/table_lineage.py:93-130). Input:
    source_column_key, target_column_key."""
    from amundsendatabuilder_spark.models.base import _empty_nodes
    rels = make_rels(df, COLUMN_LABEL, COLUMN_LABEL,
                     F.col("source_column_key"), F.col("target_column_key"),
                     "HAS_DOWNSTREAM", "HAS_UPSTREAM")
    return union_graphs(GraphOutput(_empty_nodes(spark), rels))


def expand_schema_descriptions(df: DataFrame) -> GraphOutput:
    """SchemaModel (reference: models/schema/schema.py). Input: schema_key
    ('{db}://{cluster}.{schema}'), schema, description."""
    d = df.where(F.col("description").isNotNull() & (F.col("description") != ""))
    desc_key = F.concat(F.col("schema_key"), F.lit("/_description"))
    nodes = make_nodes(
        d, "Description", desc_key,
        {"description": F.col("description"),
         "description_source": F.lit("description")})
    schema_nodes = make_nodes(df, "Schema", F.col("schema_key"),
                              {"name": F.col("schema")})
    rels = make_rels(d, "Schema", "Description", F.col("schema_key"),
                     desc_key, "DESCRIPTION", "DESCRIPTION_OF")
    return union_graphs(GraphOutput(schema_nodes.unionByName(nodes), rels))


def expand_badges(df: DataFrame, spark) -> GraphOutput:
    """BadgeMetadata (reference: models/badge.py:30-120): badge list fans
    out to Badge nodes + HAS_BADGE rels on the table. Input: name
    (comma-separated badges), category, database, cluster, schema,
    table_name."""
    tbl_key = _table_key_col(df)
    d = (df.withColumn("_tbl_key", tbl_key)
         .select("_tbl_key", "category",
                 F.explode(F.split(F.col("name"), ",")).alias("badge"))
         .select("_tbl_key", "category", F.lower(F.trim("badge")).alias("badge"))
         .where(F.col("badge") != ""))
    nodes = make_nodes(d, "Badge", F.col("badge"),
                       {"category": F.col("category")})
    rels = make_rels(d, TABLE_LABEL, "Badge", F.col("_tbl_key"),
                     F.col("badge"), "HAS_BADGE", "BADGE_FOR")
    return union_graphs(GraphOutput(nodes, rels))


# Badge start-key patterns per start label (reference: models/badge.py:52-59
# — re.match, i.e. anchored at the start only)
BADGE_KEY_PATTERNS = {
    "Table": r"^[a-z]+://[a-zA-Z0-9_.-]+.[a-zA-Z0-9_.-]+/[a-zA-Z0-9_.-]+",
    "Dashboard": r"^[a-z]+_dashboard://[a-zA-Z0-9_.-]+.[a-zA-Z0-9_.-]+/[a-zA-Z0-9_.-]+",
    "Column": r"^[a-z]+://[a-zA-Z0-9_.-]+.[a-zA-Z0-9_.-]+/[a-zA-Z0-9_.-]+/[a-zA-Z0-9_.-]+",
}


def validate_badge_keys(df: DataFrame, start_label: str,
                        key_col: str = "start_key",
                        strict: bool = True) -> DataFrame:
    """Set-level version of the reference's per-record badge key check
    (models/badge.py:52-67: start label must be Table/Dashboard/Column and
    the start key must match that label's regex, else raise). strict=True
    raises on the first violation (via ``raise_error`` inside the plan —
    no driver-side collect of good rows); strict=False returns the
    violating rows for quarantine instead.

    Note: the strict check fires when the key column is EVALUATED — a
    downstream count() would prune it away. Sinks always materialize the
    key, so the write path is covered; for an eager standalone check use
    the quarantine form + isEmpty()."""
    if start_label not in BADGE_KEY_PATTERNS:
        raise ValueError(f"{start_label} is not a valid start_label for a Badge relation")
    ok = F.col(key_col).rlike(BADGE_KEY_PATTERNS[start_label])
    if not strict:
        return df.where(~ok)
    return df.withColumn(
        key_col,
        F.when(ok, F.col(key_col)).otherwise(F.raise_error(F.concat(
            F.col(key_col),
            F.lit(f" does not match the key pattern for a {start_label}")))))


def expand_users(df: DataFrame) -> GraphOutput:
    """User (reference: models/user.py:21-220) incl. the manager self-join
    edge (:207-212). Input: email, first_name, last_name, full_name,
    github_username, team_name, employee_type, manager_email, slack_id,
    role_name."""
    nodes = make_nodes(
        df, USER_LABEL, keys.user_key(F.col("email")),
        {"email": F.col("email"), "first_name": F.col("first_name"),
         "last_name": F.col("last_name"), "full_name": F.col("full_name"),
         "github_username": F.col("github_username"),
         "team_name": F.col("team_name"),
         "employee_type": F.col("employee_type"),
         "slack_id": F.col("slack_id"), "role_name": F.col("role_name"),
         "is_active": F.lit(True), "updated_at": F.lit(0)})
    managers = df.where(F.col("manager_email").isNotNull()
                        & (F.col("manager_email") != ""))
    rels = make_rels(managers, USER_LABEL, USER_LABEL, F.col("email"),
                     F.col("manager_email"), "MANAGE_BY", "MANAGE")
    return union_graphs(GraphOutput(nodes, rels))
