"""Job composition — the engine's equivalent of DefaultJob/DefaultTask
(reference: databuilder/job/job.py:53-89, task/task.py:49-77).

The reference's volcano pull loop (extract one record -> transform -> load)
disappears: a job here is a declarative composition
``sources -> model expansions -> union -> stamp -> profile -> stage/publish``
whose execution Spark schedules lazily; the profile is the one aggregation
that validates, counts and shards the graph before any write. The
reference's LIFO closer and statsd counters map to a try/finally summary;
publisher on-success callbacks map to 'finalize runs only after every
write action completed' (reference publisher/base_publisher.py:35-41).
"""

from __future__ import annotations

import logging
import time
from collections.abc import Callable

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from amundsendatabuilder_spark.models.base import GraphOutput, graph_profile, union_graphs
from amundsendatabuilder_spark.plans.publish import stamp_publish_tag

log = logging.getLogger(__name__)


class CatalogJob:
    """Compose model expansions into one graph publish.

    >>> job = CatalogJob(spark, publish_tag="daily_2024_01_01")
    >>> job.add(expand_tables(tables_df))
    >>> job.add(expand_users(users_df))
    >>> result = job.run(stage_dir="/stage/graph")
    """

    def __init__(self, spark: SparkSession, publish_tag: str,
                 epoch_ms: int | None = None):
        self.spark = spark
        self.publish_tag = publish_tag
        self.epoch_ms = epoch_ms if epoch_ms is not None else int(time.time() * 1000)
        self._outputs: list[GraphOutput] = []
        self._finalizers: list[Callable[[], None]] = []

    def add(self, output: GraphOutput) -> "CatalogJob":
        self._outputs.append(output)
        return self

    def on_success(self, fn: Callable[[], None]) -> "CatalogJob":
        """Finalizers run only after every write completed — the
        commit-on-success callback contract (reference:
        callback/call_back.py:34-62)."""
        self._finalizers.append(fn)
        return self

    def graph(self) -> GraphOutput:
        """The union of every added expansion, stamped with the publish tag
        (lazy; ``run`` validates it)."""
        out = union_graphs(*self._outputs)
        return stamp_publish_tag(out, self.publish_tag, self.epoch_ms)

    def run(self, stage_dir: str | None = None,
            node_writer: Callable | None = None,
            rel_writer: Callable | None = None,
            batch_size: int = 500,
            create_only_labels: frozenset[str] = frozenset()) -> dict:
        """Stage and/or publish; returns a summary dict (the statsd
        success/fail counter analog, reference job/job.py:78-86) with the
        seconds of each phase: ``graph_s`` (union, stamp), ``count_s``
        (cache and ``graph_profile``), ``stage_s`` and ``publish_s``
        (writers and finalizers); a phase with nothing to do records ~0.

        Both sides are cached as one frame, ``nodes`` and ``rels`` unioned
        with a ``_side`` tag, so one cache fill computes the sides' shared
        input (sources, nest, join) once. It is read through per-side
        projections twice: once by ``graph_profile``, whose one aggregation
        validates it (raising before any write, publish or finalizer),
        gives the ``nodes``/``rels`` counts and finds the shards
        ``write_graph`` stages; and once by the writers."""
        t0 = time.time()
        summary: dict = {"publish_tag": self.publish_tag}
        last = t0
        cached = None

        def lap(phase: str) -> None:
            nonlocal last
            now = time.time()
            summary[phase] = round(now - last, 2)
            last = now

        try:
            graph = self.graph()
            lap("graph_s")
            cached = (graph.nodes.withColumn("_side", F.lit("nodes"))
                      .unionByName(graph.rels.withColumn("_side", F.lit("rels")),
                                   allowMissingColumns=True)
                      .cache())
            graph = GraphOutput(*(
                cached.where(F.col("_side") == side).select(*df.columns)
                for side, df in zip(GraphOutput._fields, graph)))
            profile = graph_profile(graph)
            for side in ("nodes", "rels"):
                summary[side] = sum(p.rows for p in profile if p.side == side)
            lap("count_s")
            if stage_dir is not None:
                from amundsendatabuilder_spark.sinks.graph_csv import write_graph
                summary["staged"] = write_graph(graph, stage_dir, profile)
            lap("stage_s")
            if node_writer is not None:
                from amundsendatabuilder_spark.plans.publish import publish_nodes
                publish_nodes(graph.nodes, node_writer, batch_size,
                              create_only_labels)
            if rel_writer is not None:
                from amundsendatabuilder_spark.plans.publish import publish_rels
                publish_rels(graph.rels, rel_writer, batch_size)
            for fn in self._finalizers:
                fn()
            lap("publish_s")
            summary["status"] = "success"
            return summary
        except Exception:
            summary["status"] = "failed"
            log.exception("catalog job failed")
            raise
        finally:
            if cached is not None:
                cached.unpersist(blocking=False)
            summary["elapsed_sec"] = round(time.time() - t0, 2)
            log.info("job summary: %s", summary)
