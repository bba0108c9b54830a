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

The expansion is pure column algebra: key templates from keys.py and, per
table row, the reference's emission as ``node``/``rel`` elements (the
table, its description, ``transform`` over tags, and over columns with
their descriptions and badges, then the parents), which ``graph_from``
explodes once per graph side. The low-cardinality parents repeat once per
table until the closing ``union_graphs``, the one dedup per graph side
(set-level replacement for the reference's class-level serialized-key set,
table_metadata.py:323-326 — SURVEY §7.4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from amundsendatabuilder_spark import keys
from amundsendatabuilder_spark.functions.scalars import normalize_tags
from amundsendatabuilder_spark.models.base import GraphOutput, graph_from, node, rel

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


def _badges(c: Column) -> Column:
    """A column's badges, trimmed and lower-cased, blanks dropped."""
    badges = F.coalesce(c["badges"], F.array().cast("array<string>"))
    return F.filter(F.transform(badges, lambda b: F.lower(F.trim(b))),
                    lambda b: b != "")


def expand_tables(tables: DataFrame) -> GraphOutput:
    """TableMetadata DataFrame -> (nodes, rels), semantics of
    databuilder/models/table_metadata.py:427-598."""
    t = _with_keys(tables)
    table_key = F.col("_table_key")

    # description node: default source -> Description; other source ->
    # Programmatic_Description (reference :143-150,176-183)
    has_desc = F.col("description").isNotNull() & (F.col("description") != "")
    desc_key = keys.description_key(table_key, F.col("description_source"))
    desc_label = F.when(
        F.col("description_source").isNull()
        | F.col("description_source").isin("", "description"),
        F.lit(DESCRIPTION_LABEL)).otherwise(F.lit(PROG_DESCRIPTION_LABEL))

    def col_key(c: Column) -> Column:
        return keys.column_key(F.col("database"), F.col("cluster"),
                               F.col("schema"), F.col("name"), c["name"])

    def col_has_desc(c: Column) -> Column:
        return c["description"].isNotNull() & (c["description"] != "")

    def per_column(elements) -> Column:
        """Every column's elements, in column order."""
        return F.flatten(F.transform("columns", elements))

    nodes = [
        node(table_key, TABLE_LABEL,
             {"name": F.col("name"),
              "is_view": F.coalesce(F.col("is_view"), F.lit(False))}),
        F.when(has_desc, node(desc_key, desc_label, {
            "description": F.col("description"),
            "description_source": F.coalesce(F.col("description_source"),
                                             F.lit("description"))})),
        F.transform("tags", lambda tag: node(keys.tag_key(tag), TAG_LABEL,
                                             {"tag_type": F.lit("default")})),
        per_column(lambda c: F.concat(
            F.array(
                node(col_key(c), COLUMN_LABEL,
                     {"name": c["name"], "col_type": c["col_type"],
                      "sort_order": c["sort_order"]}),
                F.when(col_has_desc(c), node(
                    keys.description_key(col_key(c)), DESCRIPTION_LABEL,
                    {"description": c["description"],
                     "description_source": F.lit("description")}))),
            F.transform(_badges(c), lambda b: node(
                b, BADGE_LABEL, {"category": F.lit("column")})))),
        # low-cardinality parents (reference :490-509)
        node(F.col("_db_key"), DATABASE_LABEL, {"name": F.col("database")}),
        node(F.col("_cluster_key"), CLUSTER_LABEL, {"name": F.col("cluster")}),
        node(F.col("_schema_key"), SCHEMA_LABEL, {"name": F.col("schema")}),
    ]
    # relationships (reference :517-598)
    rels = [
        rel(F.col("_schema_key"), SCHEMA_LABEL, table_key, TABLE_LABEL,
            "TABLE", "TABLE_OF"),
        F.when(has_desc, rel(table_key, TABLE_LABEL, desc_key, desc_label,
                             "DESCRIPTION", "DESCRIPTION_OF")),
        # reference :534-543: Table-[TAGGED_BY]->Tag, reverse TAG
        F.transform("tags", lambda tag: rel(table_key, TABLE_LABEL, tag,
                                            TAG_LABEL, "TAGGED_BY", "TAG")),
        per_column(lambda c: F.concat(
            F.array(
                rel(table_key, TABLE_LABEL, col_key(c), COLUMN_LABEL,
                    "COLUMN", "COLUMN_OF"),
                F.when(col_has_desc(c), rel(
                    col_key(c), COLUMN_LABEL,
                    keys.description_key(col_key(c)), DESCRIPTION_LABEL,
                    "DESCRIPTION", "DESCRIPTION_OF"))),
            F.transform(_badges(c), lambda b: rel(
                col_key(c), COLUMN_LABEL, b, BADGE_LABEL,
                "HAS_BADGE", "BADGE_FOR")))),
        rel(F.col("_db_key"), DATABASE_LABEL, F.col("_cluster_key"),
            CLUSTER_LABEL, "CLUSTER", "CLUSTER_OF"),
        rel(F.col("_cluster_key"), CLUSTER_LABEL, F.col("_schema_key"),
            SCHEMA_LABEL, "SCHEMA", "SCHEMA_OF"),
    ]
    return graph_from(t, nodes, rels)
