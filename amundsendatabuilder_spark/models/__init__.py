"""Entity models: each reference model class (databuilder/models/*) becomes
a documented input schema plus a pure set-level ``expand_*`` function
producing standardized (nodes_df, rels_df) graph DataFrames. Each states
its per-record ``node``/``rel`` elements and ``graph_from`` explodes them
once per graph side — the DataFrame equivalent of
GraphSerializable.create_next_node()/create_next_relation() iterators
(reference: databuilder/models/graph_serializable.py:21-66).
"""

from amundsendatabuilder_spark.models.base import (  # noqa: F401
    GraphOutput, graph_from, graph_profile, node, rel, union_graphs,
    validate_graph,
)
