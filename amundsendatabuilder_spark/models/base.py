"""Graph primitives: standardized node/relationship DataFrames.

Reference shapes (databuilder/models/graph_node.py:6-13,
graph_relationship.py:6-17; serialized column names
graph_serializable.py:10-17): a node is (KEY, LABEL, attributes...), a
relationship is (START_KEY, START_LABEL, END_KEY, END_LABEL, TYPE,
REVERSE_TYPE, attributes...). Attributes ride in a map<string,string>
column; sinks pivot the map to per-label columns (ragged attribute sets are
a write-time concern — SURVEY §7.4).

Expansions state each input row's ``node`` and ``rel`` elements (struct
Columns); ``graph_from`` explodes them once per graph side, the per-record
iterator of graph_serializable.py:21-66 as one generator. ``union_graphs``
is the one dedup, keeping the first-emitted row per key.

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
from pyspark.sql import types as T

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


def node(key: Column, label: str | Column,
         props: dict[str, Column] | None = None) -> Column:
    """One node element: a (KEY, LABEL, props) struct. A label may be a
    Column, picked per row."""
    return F.struct(key.alias(NODE_KEY),
                    F.lit(label).alias(NODE_LABEL),
                    _props_map(props or {}).alias("props"))


def rel(start_key: Column, start_label: str | Column,
        end_key: Column, end_label: str | Column,
        rel_type: str, reverse_type: str,
        props: dict[str, Column] | None = None) -> Column:
    """One relationship element (the bidirectional pair is materialized by
    the sink, reference: publisher/neo4j_csv_publisher.py:235-287)."""
    return F.struct(start_key.alias(REL_START_KEY),
                    F.lit(start_label).alias(REL_START_LABEL),
                    end_key.alias(REL_END_KEY),
                    F.lit(end_label).alias(REL_END_LABEL),
                    F.lit(rel_type).alias(REL_TYPE),
                    F.lit(reverse_type).alias(REL_REVERSE_TYPE),
                    _props_map(props or {}).alias("props"))


def _empty_nodes(spark) -> DataFrame:
    return spark.createDataFrame(
        [], "KEY string, LABEL string, props map<string,string>")


def _empty_rels(spark) -> DataFrame:
    return spark.createDataFrame(
        [], "START_KEY string, START_LABEL string, END_KEY string, "
            "END_LABEL string, TYPE string, REVERSE_TYPE string, "
            "props map<string,string>")


def _generate(df: DataFrame, entries: list[Column], empty: Callable,
              keys: list[str]) -> DataFrame:
    """One side of ``graph_from``: a row's entries concatenated and
    exploded once, ``_pos`` being each element's position; NULL elements
    and NULL keys are dropped."""
    if not entries:
        return empty(df.sparkSession)
    # the schema tells single elements from arrays; a NULL array would null
    # the whole concat, so it counts as empty
    types = [f.dataType for f in df.select(*entries).schema]
    arrays = [F.coalesce(e, F.array().cast(t)) if isinstance(t, T.ArrayType)
              else F.array(e) for e, t in zip(entries, types)]
    return (df.select(F.posexplode(F.concat(*arrays)).alias("_pos", "_e"))
            .where(F.col("_e").isNotNull())
            .select("_pos", "_e.*")
            .dropna(subset=keys))


def graph_from(df: DataFrame, nodes: list[Column],
               rels: list[Column]) -> GraphOutput:
    """Expand each row of ``df`` into its graph elements, one generator per
    side. Each entry is one ``node``/``rel`` element (NULL when
    conditional: ``F.when(cond, node(...))``) or an array of them
    (``F.transform`` over tags, columns or badges); a row emits them in
    entry order. Ends in ``union_graphs``: the first-emitted element wins
    per key."""
    return union_graphs(GraphOutput(
        _generate(df, nodes, _empty_nodes, [NODE_KEY]),
        _generate(df, rels, _empty_rels, [REL_START_KEY, REL_END_KEY])))


def _first_per_key(frames: list[DataFrame], key: list[str]) -> DataFrame:
    """The least-ranked row per ``key`` over ``frames``, ranked by (frame
    index, ``_pos`` or 0, sorted props entries, the other columns)."""
    cols = [c for c in frames[0].columns if c != "_pos"]
    rest = [c for c in cols if c not in key]
    ranked = []
    for i, df in enumerate(frames):
        pos = F.col("_pos") if "_pos" in df.columns else F.lit(0)
        ranked.append(df.select(*cols, F.struct(
            F.lit(i).alias("input"), pos.alias("pos"),
            F.array_sort(F.map_entries("props")).alias("props"),
            *[c for c in rest if c != "props"]).alias("_rank")))
    return (functools.reduce(DataFrame.unionByName, ranked)
            .groupBy(*key)
            .agg(F.min_by(F.struct(*rest), "_rank").alias("_row"))
            .select(*key, "_row.*")
            .select(*cols))


def union_graphs(*outputs: GraphOutput) -> GraphOutput:
    """Union model expansions into one graph and dedup it: the one dedup of
    the model layer, once per side on (KEY, LABEL) and (START_KEY, END_KEY,
    TYPE). It is the set-level form of the reference's class-level
    serialized-key set (databuilder/models/table_metadata.py:323-326), so it
    also collapses cross-model repeats (e.g. the same User emitted by users
    and usage). Per key the first-emitted row wins, whatever the
    partitioning: least output index, then element position ``_pos`` (0
    when absent), then sorted props entries. unionByName keeps this safe
    as models evolve."""
    if not outputs:
        raise ValueError("union_graphs needs at least one model expansion")
    return GraphOutput(
        _first_per_key([o.nodes for o in outputs], [NODE_KEY, NODE_LABEL]),
        _first_per_key([o.rels for o in outputs],
                       [REL_START_KEY, REL_END_KEY, REL_TYPE]))


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
