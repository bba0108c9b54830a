"""Mechanical model expansions (SURVEY §7.3 phase 2): watermark, stats,
last-updated, owner, source, application, usage, lineage, schema
description, standalone badges/tags. Each mirrors one reference model's
node/relationship emission with the documented input schema as ``node`` and
``rel`` elements per input row, which ``graph_from`` explodes once per graph
side and ends in ``union_graphs``, the one dedup per graph side. Their
``spark`` parameters are unused, kept for callers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from amundsendatabuilder_spark import keys
from amundsendatabuilder_spark.models.base import GraphOutput, graph_from, node, rel
from amundsendatabuilder_spark.models.table_metadata import COLUMN_LABEL, TABLE_LABEL

USER_LABEL = "User"  # reference: models/user.py:22


def _table_key_col(db="database", cluster="cluster", schema="schema",
                   table="table_name"):
    return keys.table_key(F.col(db), F.col(cluster), F.col(schema), F.col(table))


def _listed(csv: Column) -> Column:
    """A comma-separated list, trimmed and lower-cased, blanks dropped."""
    return F.filter(F.transform(F.split(csv, ","), lambda x: F.lower(F.trim(x))),
                    lambda x: x != "")


def expand_watermarks(df: DataFrame) -> GraphOutput:
    """Watermark (reference: models/watermark.py:17-116). Input:
    database, cluster, schema, table_name, part_name ('col=value[/...]'),
    part_type ('low_watermark'|'high_watermark'), create_time string.
    Node key ends with '/{part_type}/'; props: partition_key (first name
    before '='), partition_value, create_time."""
    wk = keys.watermark_key(F.col("database"), F.col("cluster"),
                            F.col("schema"), F.col("table_name"),
                            F.col("part_type"))
    return graph_from(
        df,
        [node(wk, "Watermark",
              {"partition_key": F.split(F.col("part_name"), "=")[0],
               "partition_value": F.regexp_extract(F.col("part_name"), r"^[^=]+=(.*)$", 1),
               "create_time": F.col("create_time")})],
        [rel(wk, "Watermark", _table_key_col(), TABLE_LABEL,
             "BELONG_TO_TABLE", "WATERMARK")])


def expand_column_stats(df: DataFrame) -> GraphOutput:
    """TableColumnStats (reference: models/table_stats.py:22-96). Input:
    db, cluster, schema, table_name, col_name, stat_name, stat_val,
    start_epoch long, end_epoch long."""
    stat_key = keys.stat_key(F.col("db"), F.col("cluster"), F.col("schema"),
                             F.col("table_name"), F.col("col_name"),
                             F.col("stat_name"))
    col_key = keys.column_key(F.col("db"), F.col("cluster"), F.col("schema"),
                              F.col("table_name"), F.col("col_name"))
    return graph_from(
        df,
        [node(stat_key, "Stat",
              {"stat_type": F.col("stat_name"), "stat_val": F.col("stat_val"),
               "start_epoch": F.col("start_epoch"), "end_epoch": F.col("end_epoch")})],
        [rel(stat_key, "Stat", col_key, COLUMN_LABEL, "STAT_OF", "STAT")])


def expand_last_updated(df: DataFrame) -> GraphOutput:
    """TableLastUpdated (reference: models/table_last_updated.py:18-100;
    timestamp constants models/timestamp/timestamp_constants.py). Input:
    db, cluster, schema, table_name, last_updated_time_epoch long."""
    ts_key = keys.timestamp_key(F.col("db"), F.col("cluster"),
                                F.col("schema"), F.col("table_name"))
    return graph_from(
        df,
        [node(ts_key, "Timestamp",
              {"timestamp": F.col("last_updated_time_epoch"),
               "last_updated_timestamp": F.col("last_updated_time_epoch"),
               "name": F.lit("last_updated_timestamp")})],
        [rel(_table_key_col(db="db"), TABLE_LABEL, ts_key, "Timestamp",
             "LAST_UPDATED_AT", "LAST_UPDATED_TIME_OF")])


def expand_table_source(df: DataFrame) -> GraphOutput:
    """TableSource (reference: models/table_source.py:21-100). Input:
    db_name, cluster, schema, table_name, source, source_type."""
    src_key = F.format_string("%s://%s.%s/%s/_source", F.col("db_name"),
                              F.col("cluster"), F.col("schema"),
                              F.col("table_name"))
    tbl_key = _table_key_col(db="db_name")
    return graph_from(
        df,
        [node(src_key, "Source",
              {"source": F.col("source"), "source_type": F.col("source_type")})],
        [rel(src_key, "Source", tbl_key, TABLE_LABEL, "SOURCE_OF", "SOURCE")])


def expand_table_owners(df: DataFrame) -> GraphOutput:
    """TableOwner (reference: models/table_owner.py:20-105 — comma-separated
    owner emails fan out to User nodes + OWNER rels). Input: db_name,
    schema, cluster, table_name, owners (comma-separated string)."""
    tbl_key = _table_key_col(db="db_name")
    emails = _listed(F.col("owners"))
    return graph_from(
        df,
        [F.transform(emails, lambda e: node(keys.user_key(e), USER_LABEL,
                                            {"email": e}))],
        [F.transform(emails, lambda e: rel(e, USER_LABEL, tbl_key, TABLE_LABEL,
                                           "OWNER", "OWNER_OF"))])


def expand_applications(df: DataFrame) -> GraphOutput:
    """Application (reference: models/application.py:20-130). Input:
    task_id, dag_id, exec_date, application_url_template (with {dag_id}),
    db_name, schema, table_name, cluster."""
    app_key = F.format_string("application://%s.airflow/%s/%s",
                              F.col("cluster"), F.col("dag_id"), F.col("task_id"))
    tbl_key = _table_key_col(db="db_name")
    url = F.replace(F.col("application_url_template"), F.lit("{dag_id}"),
                    F.col("dag_id"))
    return graph_from(
        df,
        [node(app_key, "Application",
              {"application_url": url, "apache_airflow": F.lit(True),
               "id": F.format_string("%s/%s", F.col("dag_id"), F.col("task_id")),
               "name": F.lit("Airflow"), "description": F.lit("Airflow with id")})],
        [rel(tbl_key, TABLE_LABEL, app_key, "Application",
             "DERIVED_FROM", "GENERATES")])


def expand_column_usage(df: DataFrame, spark=None) -> GraphOutput:
    """ColumnUsageModel (reference: models/column_usage_model.py:22-115 —
    table-level usage edges Table-[READ_BY]->User with read_count; user
    node emitted too). Input: database, cluster, schema, table_name,
    column_name ('*'), user_email, read_count long."""
    return graph_from(
        df,
        [node(keys.user_key(F.col("user_email")), USER_LABEL,
              {"email": F.col("user_email")})],
        [rel(_table_key_col(), TABLE_LABEL, F.col("user_email"), USER_LABEL,
             "READ_BY", "READ", {"read_count": F.col("read_count")})])


def expand_table_lineage(df: DataFrame, spark) -> GraphOutput:
    """TableLineage (reference: models/table_lineage.py:18-90): pure edge
    model Table-[HAS_DOWNSTREAM]->Table. Input: source_table_key,
    target_table_key (full keys)."""
    return graph_from(df, [], [rel(
        F.col("source_table_key"), TABLE_LABEL, F.col("target_table_key"),
        TABLE_LABEL, "HAS_DOWNSTREAM", "HAS_UPSTREAM")])


def expand_column_lineage(df: DataFrame, spark) -> GraphOutput:
    """ColumnLineage (reference: models/table_lineage.py:93-130). Input:
    source_column_key, target_column_key."""
    return graph_from(df, [], [rel(
        F.col("source_column_key"), COLUMN_LABEL, F.col("target_column_key"),
        COLUMN_LABEL, "HAS_DOWNSTREAM", "HAS_UPSTREAM")])


def expand_schema_descriptions(df: DataFrame) -> GraphOutput:
    """SchemaModel (reference: models/schema/schema.py). Input: schema_key
    ('{db}://{cluster}.{schema}'), schema, description."""
    has_desc = F.col("description").isNotNull() & (F.col("description") != "")
    desc_key = F.concat(F.col("schema_key"), F.lit("/_description"))
    return graph_from(
        df,
        [node(F.col("schema_key"), "Schema", {"name": F.col("schema")}),
         F.when(has_desc, node(desc_key, "Description",
                               {"description": F.col("description"),
                                "description_source": F.lit("description")}))],
        [F.when(has_desc, rel(F.col("schema_key"), "Schema", desc_key,
                              "Description", "DESCRIPTION", "DESCRIPTION_OF"))])


def expand_badges(df: DataFrame, spark) -> GraphOutput:
    """BadgeMetadata (reference: models/badge.py:30-120): badge list fans
    out to Badge nodes + HAS_BADGE rels on the table. Input: name
    (comma-separated badges), category, database, cluster, schema,
    table_name."""
    badges = _listed(F.col("name"))
    return graph_from(
        df,
        [F.transform(badges, lambda b: node(b, "Badge",
                                            {"category": F.col("category")}))],
        [F.transform(badges, lambda b: rel(_table_key_col(), TABLE_LABEL, b,
                                           "Badge", "HAS_BADGE", "BADGE_FOR"))])


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
    has_manager = (F.col("manager_email").isNotNull()
                   & (F.col("manager_email") != ""))
    return graph_from(
        df,
        [node(keys.user_key(F.col("email")), USER_LABEL,
              {"email": F.col("email"), "first_name": F.col("first_name"),
               "last_name": F.col("last_name"), "full_name": F.col("full_name"),
               "github_username": F.col("github_username"),
               "team_name": F.col("team_name"),
               "employee_type": F.col("employee_type"),
               "slack_id": F.col("slack_id"), "role_name": F.col("role_name"),
               "is_active": F.lit(True), "updated_at": F.lit(0)})],
        [F.when(has_manager, rel(F.col("email"), USER_LABEL,
                                 F.col("manager_email"), USER_LABEL,
                                 "MANAGE_BY", "MANAGE"))])
