"""Relational (RDS/MySQL) expansion — the TableSerializable path
(reference: databuilder/models/table_serializable.py:10-37: each model also
emits normalized relational rows, staged as one CSV per model table and
published in FK-topological order by
publisher/mysql_csv_publisher.py:94-160).

Spark shape: ``expand_relational`` turns the nested TableMetadata input
into one DataFrame per normalized table; ``FK_ORDER`` is the static
dependency order (the reference derives it from
``Base.metadata.sorted_tables``); sinks/jdbc_sink writes them in order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from amundsendatabuilder_spark import keys
from amundsendatabuilder_spark.models.table_metadata import _with_keys

# parents before children — mirrors Base.metadata.sorted_tables semantics
FK_ORDER = ["database", "cluster", "schema", "table", "table_description",
            "column", "column_description", "tag", "table_tag"]


def expand_relational(tables: DataFrame) -> dict[str, DataFrame]:
    """TableMetadata input -> {table_name: normalized rows} with the key
    scheme of §1.4 as primary/foreign keys."""
    t = _with_keys(tables)

    out: dict[str, DataFrame] = {}
    out["database"] = t.select(F.col("_db_key").alias("rk"),
                               F.col("database").alias("name")).distinct()
    out["cluster"] = t.select(F.col("_cluster_key").alias("rk"),
                              F.col("cluster").alias("name"),
                              F.col("_db_key").alias("database_rk")).distinct()
    out["schema"] = t.select(F.col("_schema_key").alias("rk"),
                             F.col("schema").alias("name"),
                             F.col("_cluster_key").alias("cluster_rk")).distinct()
    out["table"] = t.select(F.col("_table_key").alias("rk"),
                            F.col("name"),
                            F.coalesce("is_view", F.lit(False)).alias("is_view"),
                            F.col("_schema_key").alias("schema_rk")).distinct()
    desc = t.where(F.col("description").isNotNull() & (F.col("description") != ""))
    out["table_description"] = desc.select(
        F.concat("_table_key", F.lit("/_description")).alias("rk"),
        F.col("description"),
        F.col("_table_key").alias("table_rk")).dropDuplicates(["rk"])

    cols = t.select("database", "cluster", "schema", "name", "_table_key",
                    F.explode(F.coalesce("columns", F.array())).alias("c"))
    cols = cols.withColumn("_col_key", keys.column_key(
        F.col("database"), F.col("cluster"), F.col("schema"), F.col("name"),
        F.col("c.name")))
    out["column"] = cols.select(
        F.col("_col_key").alias("rk"), F.col("c.name").alias("name"),
        F.col("c.col_type").alias("col_type"),
        F.col("c.sort_order").alias("sort_order"),
        F.col("_table_key").alias("table_rk")).distinct()
    cdesc = cols.where(F.col("c.description").isNotNull())
    out["column_description"] = cdesc.select(
        F.concat("_col_key", F.lit("/_description")).alias("rk"),
        F.col("c.description").alias("description"),
        F.col("_col_key").alias("column_rk")).dropDuplicates(["rk"])

    tags = t.select("_table_key", F.explode(F.coalesce("tags", F.array())).alias("tag"))
    out["tag"] = tags.select(F.col("tag").alias("rk"),
                             F.lit("default").alias("tag_type")).distinct()
    out["table_tag"] = tags.select(F.col("_table_key").alias("table_rk"),
                                   F.col("tag").alias("tag_rk")).distinct()
    return out
