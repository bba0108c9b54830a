"""Search-document builds — the reference's flagship aggregation queries
(extractor/neo4j_search_data_extractor.py:23-115; SQL twins
extractor/mysql_search_data_extractor.py:35-176,320-390) over the engine's
model-input DataFrames.

Output schemas match the ES document models
(models/table_elasticsearch_document.py:14-49,
user_elasticsearch_document.py, dashboard_elasticsearch_document.py).

Plan shape (holds at 100 TB), no row explosion in either form: table
documents are one keyed aggregation — the spine and every 1:N relation
share one shuffle on the table key. User and dashboard documents, whose
spines are not deduplicated, pre-aggregate each relation to one row per
entity key and LEFT-join it to the spine, dimension-sized aggregates
broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from amundsendatabuilder_spark import keys


def build_table_documents(tables: DataFrame,
                          usage: DataFrame | None = None,
                          last_updated: DataFrame | None = None,
                          schema_descriptions: DataFrame | None = None,
                          badges: DataFrame | None = None,
                          publish_tag: str | None = None) -> DataFrame:
    """Table search documents (reference neo4j query :23-62) as one keyed
    aggregation.

    ``tables``: models/table_metadata.py input (nested columns, tags).
    ``usage``: column_usage rows (table key parts, user_email, read_count).
    ``last_updated``: db, cluster, schema, table_name,
    last_updated_time_epoch. ``schema_descriptions``: schema_key, schema,
    description. ``badges``: badge rows (table key parts, name).
    ``publish_tag`` filters tables to one publish generation — the
    reference's {publish_tag_filter} (:161-175) as a plain predicate.

    The spine rows and the usage, last-updated and badge rows are unioned
    on the table key and folded by one ``groupBy("key")``: one shuffle for
    every 1:N relation. Keys without a spine row get no document (the
    reference's LEFT joins hang off the Table node). Schema descriptions
    are keyed by schema, so they broadcast-join after the fold.
    """
    t = tables
    if publish_tag is not None and "published_tag" in t.columns:
        t = t.where(F.col("published_tag") == publish_tag)
    src = F.col("description_source")
    is_default = src.isNull() | (src == "") | (src == "description")
    cols = F.coalesce(F.col("columns"), F.array().cast(
        "array<struct<name:string,description:string,col_type:string,"
        "sort_order:int,badges:array<string>>>"))
    description = F.when(is_default, F.col("description"))
    prog_desc = F.when(~is_default, F.col("description"))

    def key(db="database", table="table_name"):
        return keys.table_key(F.col(db), F.col("cluster"), F.col("schema"),
                              F.col(table)).alias("key")

    # Deterministic spine winner per key: the reference always takes the
    # default Description node (neo4j_search_data_extractor.py:28-30) and
    # collects programmatic descriptions separately (:31-33), so the
    # struct's min prefers the default-description row over programmatic
    # rows, then rows with a non-null description, then the lexicographic
    # description; the payload breaks exact ties. Columns and their
    # descriptions come free from the nested struct — the reference
    # re-joins Column/Description nodes (:43-47).
    rows = [t.select(
        key(table="name"),
        F.struct(
            prog_desc.isNotNull().alias("_programmatic"),
            description.isNull().alias("_no_description"),
            description.alias("description"),
            "database", "cluster", "schema", "name", "tags",
            F.transform(cols, lambda c: c["name"]).alias("column_names"),
            F.filter(F.transform(cols, lambda c: c["description"]),
                     lambda d: d.isNotNull()).alias("column_descriptions"),
        ).alias("_w"),
        prog_desc.alias("_prog_desc"))]
    if usage is not None:
        rows.append(usage.select(key(), "read_count", "user_email"))
    if last_updated is not None:
        rows.append(last_updated.select(
            key(db="db"), F.col("last_updated_time_epoch").alias("_last_updated")))
    if badges is not None:
        rows.append(badges.select(key(), F.explode(F.transform(
            F.split(F.col("name"), ","), lambda b: F.lower(F.trim(b))))
            .alias("_badge")).where(F.col("_badge") != ""))
    u = rows[0]
    for r in rows[1:]:
        u = u.unionByName(r, allowMissingColumns=True)
    for c, dtype in (("read_count", "long"), ("user_email", "string"),
                     ("_last_updated", "long"), ("_badge", "string")):
        if c not in u.columns:
            u = u.withColumn(c, F.lit(None).cast(dtype))
    docs = (u.groupBy("key").agg(
        F.min("_w").alias("_w"),
        F.array_sort(F.collect_list("_prog_desc")).alias("programmatic_descriptions"),
        F.sum("read_count").cast("long").alias("total_usage"),
        F.size(F.collect_set("user_email")).cast("long").alias("unique_usage"),
        F.max("_last_updated").alias("last_updated_timestamp"),
        F.array_sort(F.collect_set("_badge")).alias("badges"))
        .where(F.col("_w").isNotNull())
        .select("*", "_w.*"))

    if schema_descriptions is not None:
        sd = schema_descriptions.select(
            F.col("schema_key"), F.col("description").alias("schema_description"))
        docs = docs.withColumn("_schema_key", keys.schema_key(
            F.col("database"), F.col("cluster"), F.col("schema"))) \
            .join(F.broadcast(sd), F.col("_schema_key") == F.col("schema_key"),
                  "left").drop("schema_key", "_schema_key")
    else:
        docs = docs.withColumn("schema_description", F.lit(None).cast("string"))

    # the winner's fields come out of a min, so they are nullable: recompute
    # display_name and coalesce the arrays to keep the document schema
    empty = F.array().cast("array<string>")
    return docs.select(
        "database", "cluster", "schema", "name", "key",
        F.format_string("%s.%s", F.col("schema"), F.col("name")).alias("display_name"),
        "description", "schema_description", "last_updated_timestamp",
        F.coalesce("column_names", empty).alias("column_names"),
        F.coalesce("column_descriptions", empty).alias("column_descriptions"),
        F.coalesce("total_usage", F.lit(0)).alias("total_usage"),
        "unique_usage",
        *[F.coalesce(c, empty).alias(c)
          for c in ("tags", "badges", "programmatic_descriptions")],
    ).orderBy("name")


def build_user_documents(users: DataFrame,
                         table_usage: DataFrame | None = None,
                         owned_tables: DataFrame | None = None,
                         followed: DataFrame | None = None) -> DataFrame:
    """User search documents (reference :64-83; the 6-grouped-subquery SQL
    twin mysql_search_data_extractor.py:320-390): per-relation grouped
    aggregates LEFT-joined back to the user spine.

    total_read = SUM(read_count) over READ relations (reference's REDUCE
    over COLLECT(DISTINCT read)). total_own = COUNT(DISTINCT owned table)
    over OWNER_OF relations — ``owned_tables`` carries either a
    ``table_key`` column (one row per (table, owner), distinct-counted) or
    the raw comma-separated ``owners`` string per table row, which is
    exploded; rows are per-table so the count is distinct tables either
    way. total_follow = COUNT(DISTINCT followed entity) over FOLLOWED_BY
    relations (``followed``: email + entity_key)
    (models/user_elasticsearch_document.py:40-41).

    Field parity with the reference document
    (models/user_elasticsearch_document.py:16-38): ``full_name`` keeps
    the reference's name (not renamed), ``is_active`` is carried from
    the spine when present and defaults to true otherwise (the
    reference cypher reads ``user.is_active``,
    neo4j_search_data_extractor.py:77), and users with a null
    ``full_name`` are dropped per the reference's
    ``where user.full_name is not null`` (:73).
    """
    is_active = (F.col("is_active").cast("boolean")
                 if "is_active" in users.columns
                 else F.lit(True))
    spine = users.where(F.col("full_name").isNotNull()).select(
        F.col("email"), F.col("first_name"), F.col("last_name"),
        F.col("full_name"),
        F.col("github_username"), F.col("team_name"), F.col("employee_type"),
        F.col("manager_email"), F.col("slack_id"),
        is_active.alias("is_active"), F.col("role_name"),
    )
    if table_usage is not None:
        u = (table_usage.groupBy("user_email")
             .agg(F.sum("read_count").cast("long").alias("total_read")))
        spine = spine.join(
            u.select(F.col("user_email").alias("email"), "total_read"),
            "email", "left")
    else:
        spine = spine.withColumn("total_read", F.lit(None).cast("long"))
    if owned_tables is not None:
        if "table_key" in owned_tables.columns:
            pairs = owned_tables.select(
                F.lower(F.trim(F.col("email"))).alias("email"), "table_key")
        else:
            pairs = (owned_tables
                     .withColumn("table_key",
                                 F.monotonically_increasing_id().cast("string"))
                     .select(F.explode(F.split(F.col("owners"), ",")).alias("email"),
                             "table_key")
                     .select(F.lower(F.trim("email")).alias("email"), "table_key"))
        o = (pairs.where(F.col("email") != "")
             .groupBy("email")
             .agg(F.countDistinct("table_key").cast("long").alias("total_own")))
        spine = spine.join(F.broadcast(o), "email", "left")
    else:
        spine = spine.withColumn("total_own", F.lit(None).cast("long"))
    if followed is not None:
        fo = (followed
              .select(F.lower(F.trim(F.col("email"))).alias("email"), "entity_key")
              .where(F.col("email") != "")
              .groupBy("email")
              .agg(F.countDistinct("entity_key").cast("long").alias("total_follow")))
        spine = spine.join(F.broadcast(fo), "email", "left")
    else:
        spine = spine.withColumn("total_follow", F.lit(None).cast("long"))
    return (spine
            .withColumn("total_read", F.coalesce("total_read", F.lit(0)))
            .withColumn("total_own", F.coalesce("total_own", F.lit(0)))
            .withColumn("total_follow", F.coalesce("total_follow", F.lit(0)))
            .orderBy("email"))


def build_dashboard_documents(dashboards: DataFrame,
                              usage: DataFrame | None = None,
                              queries: DataFrame | None = None,
                              last_exec: DataFrame | None = None,
                              charts: DataFrame | None = None,
                              tags: DataFrame | None = None,
                              badges: DataFrame | None = None) -> DataFrame:
    """Dashboard search documents (reference :85-115,
    models/dashboard_elasticsearch_document.py:16-47): group/dashboard
    names + aggregated usage + query names + last successful run, with the
    '_last_successful_execution' first-match rule
    (mysql_search_data_extractor.py:284-286); plus the reference's
    chart_names (via HAS_QUERY->HAS_CHART, neo4j query :97-99), tags
    (tag_type='default' filter, :101-103), badges (:104-106),
    group_description and uri (:107-115).

    ``charts``: dashboard key parts + chart_name. ``tags``: dashboard key
    parts + tag (+ optional tag_type, filtered to 'default' as the
    reference does). ``badges``: dashboard key parts + badge. Each 1:N
    relation pre-aggregates to one sorted-distinct array per dashboard
    key before the broadcast LEFT join — no row explosion on the spine.
    """
    def keyed(df: DataFrame) -> DataFrame:
        return df.withColumn("key", keys.dashboard_key(
            F.col("product"), F.col("cluster"), F.col("dashboard_group_id"),
            F.col("dashboard_id")))

    group_desc = (F.col("dashboard_group_description")
                  if "dashboard_group_description" in dashboards.columns
                  else F.lit(None).cast("string"))
    spine = keyed(dashboards).select(
        "key", "product", "cluster",
        F.col("dashboard_group").alias("group_name"),
        F.col("dashboard_name").alias("name"),
        F.col("description"),
        F.coalesce(group_desc, F.lit("")).alias("group_description"),
        F.col("dashboard_group_url").alias("group_url"),
        F.col("dashboard_url").alias("url"),
        F.col("key").alias("uri"))
    if usage is not None:
        spine = spine.join(
            keyed(usage).groupBy("key").agg(
                F.sum("view_count").cast("long").alias("total_usage")),
            "key", "left")
    else:
        spine = spine.withColumn("total_usage", F.lit(None).cast("long"))
    if tags is not None and "tag_type" in tags.columns:
        # reference: WHERE tags.tag_type='default'
        tags = tags.where(F.col("tag_type") == "default")
    arrays = {"query_names": (queries, "query_name"),
              "chart_names": (charts, "chart_name"),
              "tags": (tags, "tag"),
              "badges": (badges, "badge")}
    for name, (rel, value) in arrays.items():
        if rel is None:
            spine = spine.withColumn(name, F.lit(None).cast("array<string>"))
        else:
            spine = spine.join(
                F.broadcast(keyed(rel).groupBy("key").agg(
                    F.array_sort(F.collect_set(value)).alias(name))),
                "key", "left")
    if last_exec is not None:
        le = keyed(last_exec.where(
            F.col("execution_id") == "_last_successful_execution"))
        spine = spine.join(
            F.broadcast(le.select("key", F.col("execution_timestamp")
                                  .alias("last_successful_run_timestamp"))),
            "key", "left")
    else:
        spine = spine.withColumn("last_successful_run_timestamp",
                                 F.lit(None).cast("long"))
    empty = F.array().cast("array<string>")
    return (spine
            .withColumn("total_usage", F.coalesce("total_usage", F.lit(0)))
            .withColumns({name: F.coalesce(name, empty) for name in arrays})
            .orderBy("name"))
