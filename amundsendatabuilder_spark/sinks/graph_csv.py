"""Neo4j-shape CSV staging writer (reference:
loader/file_system_neo4j_csv_loader.py + serializers/neo4_serializer.py).

Reference behaviors reproduced set-level:
- node CSVs sharded by (label, attribute-key-set); rel CSVs by
  (start_label, end_label, type, attribute-key-set) — the 'ragged
  attribute sets' trap (loader :111-139,189-191; SURVEY §7.4). The key
  set is fingerprinted as md5 of the sorted map keys;
- ``:UNQUOTED`` header suffix for int/bool attributes
  (serializers/neo4_serializer.py:52-58) via a per-label property-type
  registry (the reference infers from Python value types; a registry is
  the schema-first equivalent);
- output ordering is canonical (sorted), an intentional semantics-
  preserving difference from the reference's extraction-order files
  (SURVEY §7.4).

The whole graph is staged with two Spark actions:
1. ``models.base.graph_profile``, one aggregation over nodes and rels
   together, validates the graph and finds every shard, its row count and
   the properties that are non-null in at least one of its rows.
   ``CatalogJob.run`` computes it once and passes it in; ``write_graph``
   computes it when it is not given, so an invalid graph raises before
   anything is written;
2. one write. Each row becomes its shard's CSV line via ``to_csv`` over
   exactly that shard's columns (the CSV writer's own generator and
   defaults, so quoting matches it byte for byte); one header line per
   shard is added; the lines are partitioned by (kind, shard), sorted
   within each partition and written as text. The local staging tree is
   then moved into ``out_dir/{nodes,rels}/{shard}/part-*.csv``, one part
   file per shard.
"""

from __future__ import annotations

import glob
import os
import shutil
from functools import reduce
from typing import NamedTuple
from urllib.parse import unquote

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from amundsendatabuilder_spark.models.base import (
    GraphOutput, ShardProfile, graph_profile, props_key_hash)

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


class _Kind(NamedTuple):
    """How one side of the graph is staged: ``fixed`` columns lead every
    row, shards (keyed by ``models.base.SHARD_KEY[name]`` plus the props
    key-set hash) are named by ``dir_name`` columns plus the hash's first 8
    hex digits, and rows are sorted by ``sort`` columns."""
    name: str
    fixed: list[str]
    dir_name: list[str]
    sort: list[str]


_NODES = _Kind("nodes", ["KEY", "LABEL"], ["LABEL"], ["KEY"])
_RELS = _Kind("rels",
              ["START_KEY", "START_LABEL", "END_KEY", "END_LABEL", "TYPE",
               "REVERSE_TYPE"],
              ["START_LABEL", "TYPE", "END_LABEL"],
              ["START_KEY", "END_KEY"])


def _dir(kind: _Kind, shard: ShardProfile) -> str:
    """A profiled shard's directory name; ``_tag`` derives the same name
    per row (``concat_ws`` skips nulls, as this does)."""
    parts = [shard.key[c] for c in kind.dir_name] + [shard.key_hash[:8]]
    return "_".join(p for p in parts if p is not None)


def _tag(df: DataFrame, kind: _Kind) -> DataFrame:
    """Add each row's kind, shard directory name and sort key."""
    return df.select(
        *kind.fixed, "props", F.lit(kind.name).alias("_kind"),
        F.concat_ws("_", *kind.dir_name,
                    F.substring(props_key_hash(), 1, 8)).alias("_dir"),
        F.array(*kind.sort).alias("_sort"))


def write_graph(out: GraphOutput, out_dir: str,
                profile: list[ShardProfile] | None = None
                ) -> dict[str, list[str]]:
    """Stage nodes and rels as ragged CSV shards under
    ``out_dir/{nodes,rels}`` with one write, replacing shard directories of
    the same name. ``profile`` is ``graph_profile(out)``; it is computed
    here when not given, which raises on an invalid graph before anything
    is written. Returns each side's shard paths, sorted by (shard key,
    key-set hash)."""
    if profile is None:
        profile = graph_profile(out)
    shards = sorted(profile, key=lambda p: [*(v or "" for v in p.key.values()),
                                            p.key_hash])
    sides = [(_NODES, out.nodes), (_RELS, out.rels)]
    staged = {kind.name: [os.path.join(out_dir, kind.name, _dir(kind, p))
                          for p in shards if p.side == kind.name]
              for kind, _ in sides}
    if not shards:
        return staged

    lines, headers = [], []
    for kind, df in sides:
        groups: dict[tuple[str, ...], list[str]] = {}
        for p in shards:
            if p.side == kind.name:
                d = _dir(kind, p)
                groups.setdefault(tuple(p.props), []).append(d)
                headers.append((kind.name, d, 0, None, ",".join(
                    [*kind.fixed, *map(_header_name, p.props)])))
        if not groups:  # an empty side has no shard and no when() branch
            continue
        value = None
        for props, dirs in groups.items():
            line = F.to_csv(F.struct(
                *kind.fixed,
                *[F.col("props")[p].alias(_header_name(p)) for p in props]))
            cond = F.col("_dir").isin(dirs)
            value = (F.when(cond, line) if value is None
                     else value.when(cond, line))
        lines.append(_tag(df, kind).select(
            "_kind", "_dir", F.lit(1).alias("_h"), "_sort",
            value.alias("value")))
    lines.append(out.nodes.sparkSession.createDataFrame(
        headers, "_kind string, _dir string, _h int, _sort array<string>, "
                 "value string"))
    tmp = os.path.join(out_dir, "_staging")
    (reduce(DataFrame.unionByName, lines)
     .repartition("_kind", "_dir")
     .sortWithinPartitions("_kind", "_dir", "_h", "_sort")
     .select("_kind", "_dir", "value")
     .write.mode("overwrite").partitionBy("_kind", "_dir").text(tmp))

    # tmp/_kind=K/_dir=D/part-*.txt -> out_dir/K/D/part-*.csv
    for src in glob.glob(os.path.join(glob.escape(tmp), "_kind=*",
                                       "_dir=*")):
        kind_part, dir_part = src.split(os.sep)[-2:]
        dst = os.path.join(out_dir, kind_part[len("_kind="):],
                           unquote(dir_part[len("_dir="):]))
        shutil.rmtree(dst, ignore_errors=True)
        os.makedirs(dst)
        for part in glob.glob(os.path.join(glob.escape(src), "part-*")):
            os.replace(part, os.path.join(
                dst, os.path.splitext(os.path.basename(part))[0] + ".csv"))
    shutil.rmtree(tmp)
    return staged
