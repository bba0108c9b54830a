"""Relational publish in FK-topological order (reference:
publisher/mysql_csv_publisher.py:94-160 — tables written in
``Base.metadata.sorted_tables`` order, ORM merge per row, commit every
500). Spark shape: per-table batched upsert through an injected writer
(staging + MERGE or INSERT ... ON DUPLICATE KEY UPDATE), parents first so
FK constraints hold mid-publish."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from amundsendatabuilder_spark.models.rds import FK_ORDER


def publish_relational(tables: dict[str, DataFrame],
                       upsert_batch: Callable[[str, list[dict]], None],
                       batch_size: int = 500,
                       order: list[str] = FK_ORDER) -> None:
    """Write every model table in dependency order.

    ``upsert_batch(table_name, rows)`` performs the idempotent merge —
    rows carry 'rk' as the merge key (§1.4). Each table completes fully
    before the next starts (the FK contract); within a table, partitions
    write concurrently with per-batch commits (the reference's
    transaction_size=500)."""
    for name in order:
        df = tables.get(name)
        if df is None:
            continue

        def send(partition, _name=name) -> None:
            batch: list[dict] = []
            for row in partition:
                batch.append(row.asDict())
                if len(batch) >= batch_size:
                    upsert_batch(_name, batch)
                    batch = []
            if batch:
                upsert_batch(_name, batch)

        df.foreachPartition(send)
