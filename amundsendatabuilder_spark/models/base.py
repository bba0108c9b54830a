"""Graph primitives: standardized node/relationship DataFrames.

Reference shapes (databuilder/models/graph_node.py:6-13,
graph_relationship.py:6-17; serialized column names
graph_serializable.py:10-17): a node is (KEY, LABEL, attributes...), a
relationship is (START_KEY, START_LABEL, END_KEY, END_LABEL, TYPE,
REVERSE_TYPE, attributes...). Attributes ride in a map<string,string>
column; sinks pivot the map to per-label columns (ragged attribute sets are
a write-time concern — SURVEY §7.4).

Validation mirrors graph_serializable.py:68-91: node key non-null, label
Title-cased, relation type UPPER-cased, relation endpoints non-null. The
four checks are written once, in ``_CHECKS``. ``graph_profile`` is the one
aggregation every consumer of a finished graph reads: grouped by the CSV
sink's shard key, it validates (raising on the first failing check), counts
rows and finds each shard's columns in one pass over the graph.
``validate_graph`` returns the violating rows as DataFrames, or raises
through the profile in strict mode, keeping the check set-level instead of
per-record asserts.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

NODE_KEY, NODE_LABEL = "KEY", "LABEL"
REL_START_KEY, REL_START_LABEL = "START_KEY", "START_LABEL"
REL_END_KEY, REL_END_LABEL = "END_KEY", "END_LABEL"
REL_TYPE, REL_REVERSE_TYPE = "TYPE", "REVERSE_TYPE"


class GraphOutput(NamedTuple):
    nodes: DataFrame
    rels: DataFrame


def _props_map(props: dict[str, Column]) -> Column:
    if not props:
        return F.create_map().cast("map<string,string>")
    pairs: list[Column] = []
    for name, col in props.items():
        pairs.append(F.lit(name))
        pairs.append(col.cast("string"))
    return F.map_filter(F.create_map(*pairs), lambda _, v: v.isNotNull())


def make_nodes(df: DataFrame, label: str, key: Column,
               props: dict[str, Column] | None = None) -> DataFrame:
    """Project a model DataFrame into standardized node rows, dropping
    null keys. Rows are not deduped here: ``union_graphs`` is the one
    dedup, once per graph side."""
    return df.select(
        key.alias(NODE_KEY),
        F.lit(label).alias(NODE_LABEL),
        _props_map(props or {}).alias("props"),
    ).where(F.col(NODE_KEY).isNotNull())


def make_rels(df: DataFrame, start_label: str, end_label: str,
              start_key: Column, end_key: Column,
              rel_type: str, reverse_type: str,
              props: dict[str, Column] | None = None) -> DataFrame:
    """Project a model DataFrame into standardized relationship rows,
    dropping null endpoints; ``union_graphs`` dedups them (the
    bidirectional pair is materialized by the sink, reference:
    publisher/neo4j_csv_publisher.py:235-287)."""
    return df.select(
        start_key.alias(REL_START_KEY),
        F.lit(start_label).alias(REL_START_LABEL),
        end_key.alias(REL_END_KEY),
        F.lit(end_label).alias(REL_END_LABEL),
        F.lit(rel_type).alias(REL_TYPE),
        F.lit(reverse_type).alias(REL_REVERSE_TYPE),
        _props_map(props or {}).alias("props"),
    ).where(F.col(REL_START_KEY).isNotNull() & F.col(REL_END_KEY).isNotNull())


def _empty_nodes(spark) -> DataFrame:
    return spark.createDataFrame(
        [], "KEY string, LABEL string, props map<string,string>")


def _empty_rels(spark) -> DataFrame:
    return spark.createDataFrame(
        [], "START_KEY string, START_LABEL string, END_KEY string, "
            "END_LABEL string, TYPE string, REVERSE_TYPE string, "
            "props map<string,string>")


def union_graphs(*outputs: GraphOutput) -> GraphOutput:
    """Union model expansions into one graph and dedup it: the one dedup of
    the model layer, once per side on (KEY, LABEL) and (START_KEY, END_KEY,
    TYPE). It is the set-level form of the reference's class-level
    serialized-key set (databuilder/models/table_metadata.py:323-326), so it
    also collapses cross-model repeats (e.g. the same User emitted by users
    and usage). Differing props for one key resolve to one arbitrary row.
    unionByName keeps this safe as models evolve."""
    if not outputs:
        raise ValueError("union_graphs needs at least one model expansion")
    nodes = functools.reduce(DataFrame.unionByName, (o.nodes for o in outputs))
    rels = functools.reduce(DataFrame.unionByName, (o.rels for o in outputs))
    return GraphOutput(nodes.dropDuplicates([NODE_KEY, NODE_LABEL]),
                       rels.dropDuplicates([REL_START_KEY, REL_END_KEY, REL_TYPE]))


def _label_not_title() -> Column:
    first_char = F.substring(F.col(NODE_LABEL), 1, 1)
    return (first_char != F.upper(first_char)) | (F.col(NODE_LABEL) == "")


# check -> (side, predicate on that side's rows that marks a violation), in
# the order strict validation reports them (graph_serializable.py:68-91)
_CHECKS: dict[str, tuple[str, Callable[[], Column]]] = {
    "node_key_null": ("nodes", lambda: F.col(NODE_KEY).isNull()),
    "node_label_not_title": ("nodes", _label_not_title),
    "rel_type_not_upper": ("rels",
                           lambda: F.col(REL_TYPE) != F.upper(REL_TYPE)),
    "rel_key_null": ("rels", lambda: (
        F.col(REL_START_KEY).isNull() | F.col(REL_END_KEY).isNull())),
}

# the CSV sink's shard key per side; the md5 of the sorted props keys
# (``props_key_hash``) completes it
SHARD_KEY = {"nodes": [NODE_LABEL],
             "rels": [REL_START_LABEL, REL_END_LABEL, REL_TYPE]}


def props_key_hash() -> Column:
    """md5 of a row's sorted props keys, null-valued entries included."""
    return F.md5(F.concat_ws(",", F.array_sort(F.map_keys("props"))))


class ShardProfile(NamedTuple):
    """One group of ``graph_profile``: a CSV shard and what it holds."""
    side: str                # "nodes" or "rels"
    key: dict[str, str]      # SHARD_KEY[side] column -> value
    key_hash: str            # props_key_hash() of the shard's rows
    props: list[str]         # sorted props non-null in at least one row
    rows: int


def graph_profile(out: GraphOutput) -> list[ShardProfile]:
    """Validate, count and shard a graph with one aggregation over nodes and
    rels together, grouped by the CSV sink's shard key. Raises
    ``ValueError("graph validation failed: <check>")`` naming the first
    failing check in ``_CHECKS`` order (the per-shard violation counts the
    aggregation returns decide it); otherwise returns one ``ShardProfile``
    per shard, unsorted.

    Each row is exploded to its non-null props so the group can collect
    them; only its first exploded position (or its one row, when it has no
    such props) counts toward ``rows`` and the violations."""
    sides = []
    for side, df in (("nodes", out.nodes), ("rels", out.rels)):
        flags = [(pred() if s == side else F.lit(False)).alias(name)
                 for name, (s, pred) in _CHECKS.items()]
        sides.append(df.select(
            F.lit(side).alias("_side"),
            F.array(*SHARD_KEY[side]).alias("_key"),
            props_key_hash().alias("_hash"),
            F.map_keys(F.map_filter("props", lambda _, v: v.isNotNull()))
            .alias("_present"), *flags))
    first = F.coalesce("_pos", F.lit(0)) == 0
    rows = (functools.reduce(DataFrame.unionByName, sides)
            .select("*", F.posexplode_outer("_present").alias("_pos", "_prop"))
            .groupBy("_side", "_key", "_hash")
            .agg(F.array_sort(F.collect_set("_prop")).alias("_props"),
                 F.count(F.when(first, 1)).alias("_rows"),
                 *[F.count(F.when(first & F.col(name), 1)).alias(name)
                   for name in _CHECKS])
            .collect())
    for name in _CHECKS:
        if any(r[name] for r in rows):
            raise ValueError(f"graph validation failed: {name}")
    return [ShardProfile(r["_side"],
                         dict(zip(SHARD_KEY[r["_side"]], r["_key"])),
                         r["_hash"], r["_props"], r["_rows"])
            for r in rows]


def validate_graph(out: GraphOutput, strict: bool = False) -> dict[str, DataFrame]:
    """Set-level CHECK constraints (reference:
    graph_serializable.py:68-91): returns {check: violating rows}, built
    from ``_CHECKS``. strict=True first runs ``graph_profile``, which
    raises naming the first failing check: one aggregation, not a probe per
    check."""
    if strict:
        graph_profile(out)
    return {name: getattr(out, side).where(pred())
            for name, (side, pred) in _CHECKS.items()}
