"""Graph primitives: standardized node/relationship DataFrames.

Reference shapes (databuilder/models/graph_node.py:6-13,
graph_relationship.py:6-17; serialized column names
graph_serializable.py:10-17): a node is (KEY, LABEL, attributes...), a
relationship is (START_KEY, START_LABEL, END_KEY, END_LABEL, TYPE,
REVERSE_TYPE, attributes...). Attributes ride in a map<string,string>
column; sinks pivot the map to per-label columns (ragged attribute sets are
a write-time concern — SURVEY §7.4).

Validation mirrors graph_serializable.py:68-91: node key/label non-null,
label Title-cased, relation type UPPER-cased. ``validate_graph`` returns the
violating rows as DataFrames (strict mode raises), keeping the check
set-level instead of per-record asserts.
"""

from __future__ import annotations

import functools
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


def validate_graph(out: GraphOutput, strict: bool = False) -> dict[str, DataFrame]:
    """Set-level CHECK constraints (reference:
    graph_serializable.py:68-91): returns {check: violating rows}.
    strict=True raises on the first non-empty violation set."""
    first_char = F.substring(F.col(NODE_LABEL), 1, 1)
    checks = {
        "node_key_null": out.nodes.where(F.col(NODE_KEY).isNull()),
        "node_label_not_title": out.nodes.where(
            (first_char != F.upper(first_char)) | (F.col(NODE_LABEL) == "")),
        "rel_type_not_upper": out.rels.where(
            F.col(REL_TYPE) != F.upper(F.col(REL_TYPE))),
        "rel_key_null": out.rels.where(
            F.col(REL_START_KEY).isNull() | F.col(REL_END_KEY).isNull()),
    }
    if strict:
        for name, df in checks.items():
            bad = df.limit(1).count()
            if bad:
                raise ValueError(f"graph validation failed: {name}")
    return checks
