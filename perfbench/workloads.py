"""The benchmark's workloads. Each one generates or locates its inputs,
warms a session up, runs one timed pass, and returns what the pass
produced for the output checks.

A pass is a root span ``pass`` whose direct children are the pass's
operations: job stages or queries.
"""

from __future__ import annotations

import os
import random
import shutil
import traceback

import catalog_gen
import checks

HERE = os.path.dirname(os.path.abspath(__file__))

# catalog_refresh input size; the staged output it gives is recorded in
# expected.json and described in BENCHMARK.json
CATALOG_TABLES = 1000
PUBLISH_TAG = "perfbench"
EPOCH_MS = 1_700_000_000_000  # fixed publish stamp, so staged bytes repeat

# analytics_session: the data and the pinned query list. The data is a copy
# of the deterministic TPC-H-style test tables at scale factor 0.01 (seed 42).
ANALYTICS_DATA = os.path.join(HERE, "data", "sf0.01")
# headline queries: scan-agg and a six-table star join. The list is short
# because a run must fit an untimed priming pass and a timed one in about
# a minute; the other headline and driver-loop queries did not fit.
HEADLINE_QUERIES = (
    "q1_pricing_summary",
    "q5_region_volume",
)
# driver-loop query: eager register iterations on the driver (57 small
# jobs). It runs last, so the seed never moves it.
DRIVER_LOOP_QUERIES = ("hyperball_reach",)
ANALYTICS_QUERIES = HEADLINE_QUERIES + DRIVER_LOOP_QUERIES
ANALYTICS_WARMUP = ("q1_pricing_summary",)


class CatalogRefresh:
    """Sources -> model expansion -> CatalogJob (validate, stamp, stage
    Neo4j CSV shards) -> table search documents -> ES newline JSON, over a
    generated catalog."""

    name = "catalog_refresh"
    n_ops = 5  # the direct children of the pass span

    def __init__(self, work: str, seed: int):
        self.fx = os.path.join(work, "catalog")
        self.out = os.path.join(work, "catalog_out")
        catalog_gen.write_catalog(self.fx, seed, CATALOG_TABLES)

    def warmup(self, spark) -> None:
        from amundsendatabuilder_spark.sources.csv_source import (
            read_tables_with_columns)
        read_tables_with_columns(spark, f"{self.fx}/sample_table.csv",
                                 f"{self.fx}/sample_col.csv").count()

    def prime(self, spark, tr) -> None:
        """Only the warmup: the timed pass stays the first run of the job
        in the process, as a nightly refresh is."""
        self.warmup(spark)

    def trace_points(self) -> list[tuple[object, str, str]]:
        from amundsendatabuilder_spark.jobs import CatalogJob
        from amundsendatabuilder_spark.sinks import graph_csv
        return [(CatalogJob, "graph", "jobs.graph"),
                (graph_csv, "write_graph", "sinks.graph_csv")]

    def run_pass(self, spark, tr) -> tuple[int, dict]:
        from amundsendatabuilder_spark.jobs import CatalogJob
        from amundsendatabuilder_spark.models.table_metadata import (
            expand_tables)
        from amundsendatabuilder_spark.plans.search_documents import (
            build_table_documents)
        from amundsendatabuilder_spark.sinks.es_json import write_documents
        from amundsendatabuilder_spark.sources.csv_source import (
            read_csv, read_tables_with_columns)

        shutil.rmtree(self.out, ignore_errors=True)
        fx, graph_dir = self.fx, os.path.join(self.out, "graph")
        es_dir = os.path.join(self.out, "es", "table_docs")
        with tr.span("pass"):
            with tr.span("sources"):
                tables = read_tables_with_columns(
                    spark, f"{fx}/sample_table.csv", f"{fx}/sample_col.csv")
                usage = read_csv(spark, f"{fx}/sample_column_usage.csv")
                last_updated = read_csv(
                    spark, f"{fx}/sample_table_last_updated.csv")
                schema_desc = read_csv(
                    spark, f"{fx}/sample_schema_description.csv")
                badges = read_csv(spark, f"{fx}/sample_badges.csv")
            with tr.span("models"):
                graph = expand_tables(tables)
            with tr.span("jobs.run"):
                job = CatalogJob(spark, publish_tag=PUBLISH_TAG,
                                 epoch_ms=EPOCH_MS)
                summary = job.add(graph).run(stage_dir=graph_dir)
            with tr.span("plans.search_documents"):
                docs = build_table_documents(
                    tables, usage=usage, last_updated=last_updated,
                    schema_descriptions=schema_desc, badges=badges)
            with tr.span("sinks.es_json"):
                write_documents(docs, es_dir)
            n_docs = docs.count()
        shards = checks.shard_digests(graph_dir)
        observed = {"nodes": summary["nodes"], "rels": summary["rels"],
                    "docs": n_docs, "shards": shards,
                    "es_docs": checks.lines_digest(es_dir)}
        items = summary["nodes"] + summary["rels"] + n_docs
        return items, observed

    def layer_counts(self, observed: dict) -> dict:
        return {"shards": len(observed["shards"]),
                "graph_mb": _mb(os.path.join(self.out, "graph")),
                "es_mb": _mb(os.path.join(self.out, "es"))}

    def failed_ops(self, bad: list[str]) -> set[str]:
        """Which operation produced each mismatching output."""
        return {"sinks.es_json" if b.startswith("es_docs") else "jobs.run"
                for b in bad}


class AnalyticsSession:
    """The pinned query list, built through the ``QUERIES`` registry and
    executed with ``collect()`` in a warm session, with ``clearCache()``
    after each query. The seed permutes the headline queries' order."""

    name = "analytics_session"

    def __init__(self, work: str, seed: int):
        headline = random.Random(seed).sample(HEADLINE_QUERIES,
                                              len(HEADLINE_QUERIES))
        self.order = headline + list(DRIVER_LOOP_QUERIES)
        self.n_ops = len(self.order)

    def warmup(self, spark) -> None:
        from amundsendatabuilder_spark.plans.oracle_suite import QUERIES
        for q in ANALYTICS_WARMUP:
            QUERIES[q](spark, ANALYTICS_DATA).collect()
        spark.catalog.clearCache()

    def prime(self, spark, tr) -> None:
        """Run every query once, untimed, so the timed pass meets compiled
        code: the first run of the list spent about twice the CPU of later
        ones, mostly on JIT and code generation."""
        from amundsendatabuilder_spark.plans.oracle_suite import QUERIES
        for q in self.order:
            try:
                with tr.span(f"prime.{q}"):
                    QUERIES[q](spark, ANALYTICS_DATA).collect()
            except Exception:  # the timed pass counts the failure
                traceback.print_exc()
            spark.catalog.clearCache()

    def trace_points(self) -> list[tuple[object, str, str]]:
        from amundsendatabuilder_spark.plans import oracle_suite
        return [(oracle_suite, "load_tables", "session.load_tables")]

    def run_pass(self, spark, tr) -> tuple[int, dict]:
        from amundsendatabuilder_spark.plans.oracle_suite import QUERIES
        observed = {}
        with tr.span("pass"):
            for q in self.order:
                try:
                    with tr.span(f"q.{q}"):
                        with tr.span("plans.build"):
                            df = QUERIES[q](spark, ANALYTICS_DATA)
                        with tr.span("operators.exec"):
                            rows = df.collect()
                    observed[q] = checks.rows_digest(rows)
                except Exception:  # counted as a failed query by the caller
                    traceback.print_exc()
                spark.catalog.clearCache()
        return len(observed), observed

    def layer_counts(self, observed: dict) -> dict:
        return {}

    def failed_ops(self, bad: list[str]) -> set[str]:
        return {f"q.{b}" for b in bad}


WORKLOADS = {w.name: w for w in (CatalogRefresh, AnalyticsSession)}


def _mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / 1e6
