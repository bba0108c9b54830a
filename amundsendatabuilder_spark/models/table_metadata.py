"""TableMetadata expansion — the richest model in the reference
(databuilder/models/table_metadata.py:427-598: per record it yields table /
description / tag / column / column-description / badge nodes plus deduped
database / cluster / schema parents, and the relationship web between them).

Input DataFrame schema (one row per table; the CSV sources in
sources/csv_source.py produce exactly this):

    database string, cluster string, schema string, name string,
    description string, description_source string,
    tags array<string> (pre-normalized) | string (comma-separated),
    is_view boolean,
    columns array<struct<name string, description string, col_type string,
                         sort_order int, badges array<string>>>

The expansion is pure column algebra: key templates from keys.py, one
``explode`` for columns, one for tags/badges. It only projects rows: the
low-cardinality parents repeat once per table until the closing
``union_graphs``, the one dedup per graph side (set-level replacement for
the reference's class-level serialized-key set, table_metadata.py:323-326 —
SURVEY §7.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from amundsendatabuilder_spark import keys
from amundsendatabuilder_spark.functions.scalars import normalize_tags
from amundsendatabuilder_spark.models.base import GraphOutput, make_nodes, make_rels, union_graphs

# labels / relation types — reference: databuilder/models/table_metadata.py
TABLE_LABEL = "Table"                       # :295
DATABASE_LABEL = "Database"                 # :302
CLUSTER_LABEL = "Cluster"                   # models/cluster/cluster_constants.py
SCHEMA_LABEL = "Schema"                     # models/schema/schema_constant.py:4
DESCRIPTION_LABEL = "Description"           # :30
PROG_DESCRIPTION_LABEL = "Programmatic_Description"  # :122
COLUMN_LABEL = "Column"                     # :248
TAG_LABEL = "Tag"                           # :45
BADGE_LABEL = "Badge"                       # models/badge.py:37

COLUMNS_FIELD_SCHEMA = T.ArrayType(T.StructType([
    T.StructField("name", T.StringType()),
    T.StructField("description", T.StringType()),
    T.StructField("col_type", T.StringType()),
    T.StructField("sort_order", T.IntegerType()),
    T.StructField("badges", T.ArrayType(T.StringType())),
]))


def _with_keys(tables: DataFrame) -> DataFrame:
    db, cl, sc, tb = (F.col(c) for c in ("database", "cluster", "schema", "name"))
    out = (
        tables
        .withColumn("_db_key", keys.database_key(db))
        .withColumn("_cluster_key", keys.cluster_key(db, cl))
        .withColumn("_schema_key", keys.schema_key(db, cl, sc))
        .withColumn("_table_key", keys.table_key(db, cl, sc, tb))
    )
    if dict(tables.dtypes).get("tags", "").startswith("string"):
        out = out.withColumn("tags", normalize_tags(F.col("tags")))
    return out


def expand_tables(tables: DataFrame) -> GraphOutput:
    """TableMetadata DataFrame -> (nodes, rels), semantics of
    databuilder/models/table_metadata.py:427-598."""
    t = _with_keys(tables)

    # --- nodes ------------------------------------------------------------
    table_nodes = make_nodes(
        t, TABLE_LABEL, F.col("_table_key"),
        {"name": F.col("name"),
         "is_view": F.coalesce(F.col("is_view"), F.lit(False))})
    # low-cardinality parents (reference :490-509)
    db_nodes = make_nodes(t, DATABASE_LABEL, F.col("_db_key"),
                          {"name": F.col("database")})
    cluster_nodes = make_nodes(t, CLUSTER_LABEL, F.col("_cluster_key"),
                               {"name": F.col("cluster")})
    schema_nodes = make_nodes(t, SCHEMA_LABEL, F.col("_schema_key"),
                              {"name": F.col("schema")})

    # description node: default source -> Description; other source ->
    # Programmatic_Description (reference :143-150,176-183)
    desc = t.where(F.col("description").isNotNull() & (F.col("description") != ""))
    is_default_src = (F.col("description_source").isNull()
                      | (F.col("description_source") == "")
                      | (F.col("description_source") == "description"))
    desc_nodes = desc.select(
        keys.description_key(F.col("_table_key"), F.col("description_source"))
        .alias("KEY"),
        F.when(is_default_src, F.lit(DESCRIPTION_LABEL))
        .otherwise(F.lit(PROG_DESCRIPTION_LABEL)).alias("LABEL"),
        F.map_filter(
            F.create_map(
                F.lit("description"), F.col("description"),
                F.lit("description_source"),
                F.coalesce(F.col("description_source"), F.lit("description"))),
            lambda _, v: v.isNotNull()).alias("props"))

    tag_rows = t.select("_table_key", F.explode("tags").alias("tag"))
    tag_nodes = make_nodes(tag_rows, TAG_LABEL, keys.tag_key(F.col("tag")),
                           {"tag_type": F.lit("default")})

    cols = t.select(
        "_db_key", "_cluster_key", "_schema_key", "_table_key",
        "database", "cluster", "schema", "name",
        F.explode("columns").alias("c"))
    cols = cols.withColumn(
        "_col_key",
        keys.column_key(F.col("database"), F.col("cluster"), F.col("schema"),
                        F.col("name"), F.col("c.name")))
    col_nodes = make_nodes(
        cols, COLUMN_LABEL, F.col("_col_key"),
        {"name": F.col("c.name"), "col_type": F.col("c.col_type"),
         "sort_order": F.col("c.sort_order")})
    col_desc = cols.where(F.col("c.description").isNotNull()
                          & (F.col("c.description") != ""))
    col_desc_nodes = make_nodes(
        col_desc, DESCRIPTION_LABEL,
        keys.description_key(F.col("_col_key")),
        {"description": F.col("c.description"),
         "description_source": F.lit("description")})

    badge_rows = cols.select(
        "_col_key", F.explode(F.coalesce(F.col("c.badges"),
                                         F.array().cast("array<string>"))).alias("badge"))
    badge_rows = badge_rows.select(
        "_col_key", F.lower(F.trim("badge")).alias("badge")).where(F.col("badge") != "")
    badge_nodes = make_nodes(badge_rows, BADGE_LABEL, F.col("badge"),
                             {"category": F.lit("column")})

    # --- relationships (reference :517-598) --------------------------------
    db_cluster = make_rels(t, DATABASE_LABEL, CLUSTER_LABEL,
                           F.col("_db_key"), F.col("_cluster_key"),
                           "CLUSTER", "CLUSTER_OF")
    cluster_schema = make_rels(t, CLUSTER_LABEL, SCHEMA_LABEL,
                               F.col("_cluster_key"), F.col("_schema_key"),
                               "SCHEMA", "SCHEMA_OF")
    schema_table = make_rels(t, SCHEMA_LABEL, TABLE_LABEL,
                             F.col("_schema_key"), F.col("_table_key"),
                             "TABLE", "TABLE_OF")
    table_desc = desc.select(
        F.col("_table_key").alias("START_KEY"),
        F.lit(TABLE_LABEL).alias("START_LABEL"),
        keys.description_key(F.col("_table_key"), F.col("description_source"))
        .alias("END_KEY"),
        F.when(is_default_src, F.lit(DESCRIPTION_LABEL))
        .otherwise(F.lit(PROG_DESCRIPTION_LABEL)).alias("END_LABEL"),
        F.lit("DESCRIPTION").alias("TYPE"),
        F.lit("DESCRIPTION_OF").alias("REVERSE_TYPE"),
        F.create_map().cast("map<string,string>").alias("props"))
    # reference :534-543: Table-[TAGGED_BY]->Tag, reverse TAG
    table_tag = make_rels(tag_rows, TABLE_LABEL, TAG_LABEL,
                          F.col("_table_key"), F.col("tag"),
                          "TAGGED_BY", "TAG")
    table_col = make_rels(cols, TABLE_LABEL, COLUMN_LABEL,
                          F.col("_table_key"), F.col("_col_key"),
                          "COLUMN", "COLUMN_OF")
    col_desc_rel = make_rels(col_desc, COLUMN_LABEL, DESCRIPTION_LABEL,
                             F.col("_col_key"),
                             keys.description_key(F.col("_col_key")),
                             "DESCRIPTION", "DESCRIPTION_OF")
    col_badge = make_rels(badge_rows, COLUMN_LABEL, BADGE_LABEL,
                          F.col("_col_key"), F.col("badge"),
                          "HAS_BADGE", "BADGE_FOR")

    all_nodes = [table_nodes, db_nodes, cluster_nodes, schema_nodes,
                 desc_nodes, tag_nodes, col_nodes, col_desc_nodes, badge_nodes]
    all_rels = [db_cluster, cluster_schema, schema_table, table_desc,
                table_tag, table_col, col_desc_rel, col_badge]
    nodes = all_nodes[0]
    for n in all_nodes[1:]:
        nodes = nodes.unionByName(n)
    rels = all_rels[0]
    for r in all_rels[1:]:
        rels = rels.unionByName(r)
    return union_graphs(GraphOutput(nodes, rels))
