"""End-to-end example — the engine's analog of the reference's
example/scripts/sample_data_loader.py:78-107 (CSV fixtures -> graph CSVs +
Elasticsearch search documents), runnable offline:

    python example/sample_job.py /tmp/catalog_out

Flow: CSV sources -> model expansions -> CatalogJob (validate + stamp +
stage) -> search documents -> newline-JSON. A live deployment swaps the
staged writers for plans/publish.publish_nodes (bolt MERGE batches) and
sinks/es_json.publish (bulk + alias swap) without touching the plan.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from amundsendatabuilder_spark.models.misc import (
    expand_badges, expand_column_usage, expand_last_updated,
    expand_schema_descriptions, expand_table_lineage, expand_users,
    expand_watermarks,
)
from amundsendatabuilder_spark.models.table_metadata import expand_tables
from amundsendatabuilder_spark.jobs import CatalogJob
from amundsendatabuilder_spark.plans.search_documents import (
    build_table_documents, build_user_documents,
)
from amundsendatabuilder_spark.session import get_spark
from amundsendatabuilder_spark.sinks.es_json import write_documents
from amundsendatabuilder_spark.sources.csv_source import read_csv, read_tables_with_columns

FIXTURES = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "tests", "fixtures")


def main(out_dir: str, fixtures_dir: str = FIXTURES) -> dict:
    spark = get_spark("sample_job")
    fx = fixtures_dir
    tables = read_tables_with_columns(spark, f"{fx}/sample_table.csv",
                                      f"{fx}/sample_col.csv")
    users = read_csv(spark, f"{fx}/sample_user.csv")
    usage = read_csv(spark, f"{fx}/sample_column_usage.csv")
    last_updated = read_csv(spark, f"{fx}/sample_table_last_updated.csv")
    schema_desc = read_csv(spark, f"{fx}/sample_schema_description.csv")
    badges = read_csv(spark, f"{fx}/sample_badges.csv")
    watermarks = read_csv(spark, f"{fx}/sample_watermark.csv")
    lineage = read_csv(spark, f"{fx}/sample_table_lineage.csv")

    job = CatalogJob(spark, publish_tag="sample_job_tag")
    job.add(expand_tables(tables))
    job.add(expand_users(users))
    job.add(expand_column_usage(usage))
    job.add(expand_last_updated(last_updated))
    job.add(expand_schema_descriptions(schema_desc))
    job.add(expand_badges(badges, spark))
    job.add(expand_watermarks(watermarks))
    job.add(expand_table_lineage(lineage, spark))
    summary = job.run(stage_dir=os.path.join(out_dir, "graph"))

    table_docs = build_table_documents(tables, usage=usage,
                                       last_updated=last_updated,
                                       schema_descriptions=schema_desc,
                                       badges=badges)
    write_documents(table_docs, os.path.join(out_dir, "es", "table_docs"))
    user_docs = build_user_documents(users, table_usage=usage)
    write_documents(user_docs, os.path.join(out_dir, "es", "user_docs"))

    def written(name: str) -> int:
        # count the staged lines: counting the DataFrame re-runs its plan
        return spark.read.text(os.path.join(out_dir, "es", name)).count()

    result = {"nodes": summary["nodes"], "rels": summary["rels"],
              "table_docs": written("table_docs"),
              "user_docs": written("user_docs"),
              "status": summary["status"]}
    print(result)
    return result


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/tmp/catalog_out",
         *(sys.argv[2:3]))
