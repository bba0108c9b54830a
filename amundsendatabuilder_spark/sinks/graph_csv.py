"""Neo4j-shape CSV staging writer (reference:
loader/file_system_neo4j_csv_loader.py + serializers/neo4_serializer.py).

Reference behaviors reproduced set-level:
- node CSVs sharded by (label, attribute-key-set); rel CSVs by
  (start_label, end_label, type, attribute-key-set) — the 'ragged
  attribute sets' trap (loader :111-139,189-191; SURVEY §7.4). The key
  set is fingerprinted as md5 of the sorted map keys. One aggregation
  over (shard columns, fingerprint) finds every shard and the properties
  that are non-null in at least one of its rows; each shard is then
  written as one CSV whose columns are exactly those properties;
- ``:UNQUOTED`` header suffix for int/bool attributes
  (serializers/neo4_serializer.py:52-58) via a per-label property-type
  registry (the reference infers from Python value types; a registry is
  the schema-first equivalent);
- output ordering is canonical (sorted), an intentional semantics-
  preserving difference from the reference's extraction-order files
  (SURVEY §7.4).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from amundsendatabuilder_spark.models.base import GraphOutput

# property-name -> neo4j-unquoted type, per the models in models/*.py
# (reference derives this from Python int/bool values at serialize time,
# serializers/neo4_serializer.py:52-58)
UNQUOTED_PROPS = {
    "is_view": "bool", "sort_order": "int", "read_count": "int",
    "timestamp": "int", "last_updated_timestamp": "int",
    "start_epoch": "int", "end_epoch": "int", "created_timestamp": "int",
    "view_count": "int", "is_active": "bool", "updated_at": "int",
    "apache_airflow": "bool",
}


def _header_name(prop: str) -> str:
    if prop in UNQUOTED_PROPS:
        return f"{prop}:UNQUOTED"
    return prop


def _write_shards(df: DataFrame, out_dir: str, fixed_cols: list[str],
                  shard_cols: list[str], name_cols: list[str],
                  sort_cols: list[str]) -> list[str]:
    """Write one CSV shard directory per (shard_cols, key-set hash) group
    under ``out_dir``; a property gets a column when it is non-null in at
    least one row of the shard. Returns the shard paths, sorted by
    (shard_cols, hash)."""
    keyed = df.withColumn("_schema_hash", F.md5(F.concat_ws(
        ",", F.array_sort(F.map_keys("props")))))
    present = F.map_keys(F.map_filter("props", lambda _, v: v.isNotNull()))
    shards = (keyed.select(*shard_cols, "_schema_hash",
                           F.explode_outer(present).alias("_prop"))
              .groupBy(*shard_cols, "_schema_hash")
              .agg(F.array_sort(F.collect_set("_prop")).alias("_props"))
              .collect())
    paths: list[str] = []
    for row in sorted(shards, key=lambda r: tuple(r)[:-1]):
        cond = F.col("_schema_hash") == row["_schema_hash"]
        for c in shard_cols:
            cond &= F.col(c) == row[c]
        out = keyed.where(cond).select(
            *fixed_cols,
            *[F.col("props")[p].alias(_header_name(p)) for p in row["_props"]],
        ).orderBy(*sort_cols)
        name = "_".join([*(row[c] for c in name_cols), row["_schema_hash"][:8]])
        path = os.path.join(out_dir, name)
        out.coalesce(1).write.mode("overwrite").option("header", True).csv(path)
        paths.append(path)
    return paths


def write_nodes_csv(nodes: DataFrame, out_dir: str) -> list[str]:
    """Write per-(label, column-set) node CSV shard directories under
    ``out_dir/nodes``. Returns the shard paths written."""
    return _write_shards(nodes, os.path.join(out_dir, "nodes"),
                         ["KEY", "LABEL"], ["LABEL"], ["LABEL"], ["KEY"])


def write_rels_csv(rels: DataFrame, out_dir: str) -> list[str]:
    """Write per-(start,end,type,column-set) relationship CSV shards under
    ``out_dir/rels`` (reference loader :141-177)."""
    return _write_shards(
        rels, os.path.join(out_dir, "rels"),
        ["START_KEY", "START_LABEL", "END_KEY", "END_LABEL", "TYPE",
         "REVERSE_TYPE"],
        ["START_LABEL", "END_LABEL", "TYPE"],
        ["START_LABEL", "TYPE", "END_LABEL"],
        ["START_KEY", "END_KEY"])


def write_graph(out: GraphOutput, out_dir: str) -> dict[str, list[str]]:
    return {"nodes": write_nodes_csv(out.nodes, out_dir),
            "rels": write_rels_csv(out.rels, out_dir)}
