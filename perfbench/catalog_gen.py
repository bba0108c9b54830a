"""Seeded catalog generator for the ``catalog_refresh`` workload.

Writes the nine ``sample_*.csv`` files that ``example/sample_job.py`` reads,
in the schemas of ``tests/fixtures/sample_*.csv``, using only the standard
library (no Spark), so it runs before any timing starts.

The catalog's content is a pure function of its size; the seed only
permutes the order of the data rows in every file. The same seed therefore
gives byte-identical files, a different seed gives different files, and
the staged graph (sorted within each shard) must come out byte-identical
for every seed, which is what lets one recorded digest check any seed.

    python3 perfbench/catalog_gen.py OUT_DIR [--seed N] [--tables N]
"""

from __future__ import annotations

import argparse
import csv
import os
import random

DATABASES = ("hive", "dynamo", "bigquery", "presto")
CLUSTERS = ("gold", "silver", "bronze")
COL_TYPES = ("string", "bigint", "double", "boolean", "timestamp", "date",
             "int", "decimal(18,2)")
TAGS = tuple(f"tag{i:02d}" for i in range(20))
TEAMS = ("Data", "Infra", "Growth", "Search", "Ads", "Payments")

HEADERS = {
    "sample_table.csv": ["database", "cluster", "schema", "name",
                         "description", "tags", "is_view",
                         "description_source"],
    "sample_col.csv": ["name", "description", "col_type", "sort_order",
                       "database", "cluster", "schema", "table_name",
                       "badges"],
    "sample_user.csv": ["email", "first_name", "last_name", "full_name",
                        "github_username", "team_name", "employee_type",
                        "manager_email", "slack_id", "role_name"],
    "sample_column_usage.csv": ["database", "cluster", "schema",
                                "table_name", "column_name", "user_email",
                                "read_count"],
    "sample_table_last_updated.csv": ["cluster", "db", "schema",
                                      "table_name",
                                      "last_updated_time_epoch"],
    "sample_schema_description.csv": ["schema_key", "schema",
                                      "description"],
    "sample_badges.csv": ["name", "category", "database", "cluster",
                          "schema", "table_name"],
    "sample_watermark.csv": ["create_time", "database", "schema",
                             "table_name", "part_name", "part_type",
                             "cluster"],
    "sample_table_lineage.csv": ["source_table_key", "target_table_key"],
}


def _mix(i: int, salt: int) -> int:
    """Cheap deterministic integer hash (content must not depend on the
    run's seed, only on the row index)."""
    x = (i * 0x9E3779B1 + salt * 0x85EBCA77) & 0xFFFFFFFF
    x ^= x >> 15
    x = (x * 0x2C1B3C6D) & 0xFFFFFFFF
    return x ^ (x >> 12)


def catalog_rows(tables: int, schemas_per_cluster: int = 10,
                 users: int | None = None) -> dict[str, list[list[str]]]:
    """Every file's data rows, in canonical order."""
    users = users if users is not None else max(8, tables // 10)
    rows: dict[str, list[list[str]]] = {name: [] for name in HEADERS}
    locations = [(db, cl, f"schema_{s:03d}") for db in DATABASES
                 for cl in CLUSTERS for s in range(schemas_per_cluster)]
    table_ids = []
    for t in range(tables):
        db, cl, sc = locations[t % len(locations)]
        name = f"table_{t:05d}"
        table_ids.append((db, cl, sc, name))
        h = _mix(t, 1)
        tags = ",".join(sorted({TAGS[h % 20], TAGS[(h >> 5) % 20]})) \
            if h % 3 == 0 else ""
        rows["sample_table.csv"].append(
            [db, cl, sc, name, f"{name} holds facts, keyed by id {t}",
             tags, "true" if h % 10 == 0 else "false", ""])
        if h % 10 == 1:
            rows["sample_table.csv"].append(
                [db, cl, sc, name, f"{name} crawled from s3", tags,
                 "false", "s3_crawler"])
        for c in range(10 + (h >> 8) % 21):
            ch = _mix(t * 64 + c, 2)
            badges = ("pk" if c == 0 else
                      "partition column" if ch % 20 == 0 else "")
            rows["sample_col.csv"].append(
                [f"col_{c:02d}", f"column {c} of {name}" if ch % 2 else "",
                 COL_TYPES[ch % len(COL_TYPES)], str(c), db, cl, sc, name,
                 badges])
        if h % 2 == 0:
            rows["sample_table_last_updated.csv"].append(
                [cl, db, sc, name, str(1_600_000_000 + h % 10_000_000)])
        if h % 10 == 2:
            rows["sample_badges.csv"].append(
                ["beta,deprecated" if h % 20 == 2 else "beta",
                 "table_status", db, cl, sc, name])
        if h % 5 == 3:
            day = 1 + h % 28
            rows["sample_watermark.csv"] += [
                [f"2020-01-{day:02d}T00:00:00", db, sc, name,
                 f"ds=2020-01-{day:02d}", "low_watermark", cl],
                [f"2020-01-{day:02d}T00:00:00", db, sc, name,
                 f"ds=2020-06-{day:02d}", "high_watermark", cl]]
        readers = sorted({_mix(t * 16 + k, 3) % users
                          for k in range(1 + h % 15)})
        for u in readers:
            rows["sample_column_usage.csv"].append(
                [db, cl, sc, name, "*", f"user{u:05d}@example.com",
                 str(1 + _mix(t * users + u, 4) % 100)])
    for i, (db, cl, sc) in enumerate(locations):
        if i % 3 == 0:
            rows["sample_schema_description.csv"].append(
                [f"{db}://{cl}.{sc}", sc, f"{sc} in {db}/{cl}"])
    for u in range(users):
        manager = f"user{(u - 1) // 8:05d}@example.com" if u else ""
        rows["sample_user.csv"].append(
            [f"user{u:05d}@example.com", f"First{u}", f"Last{u}",
             f"First{u} Last{u}", f"gh{u}", TEAMS[u % len(TEAMS)],
             "fte" if u % 7 else "contractor", manager, f"U{u:05d}",
             "manager" if u * 8 + 1 < users else "engineer"])
    for t, (db, cl, sc, name) in enumerate(table_ids):
        src = f"{db}://{cl}.{sc}/{name}"
        for step in (1, 7):
            d = table_ids[(t + step) % tables]
            rows["sample_table_lineage.csv"].append(
                [src, f"{d[0]}://{d[1]}.{d[2]}/{d[3]}"])
    return rows


def write_catalog(out_dir: str, seed: int, tables: int) -> dict[str, int]:
    """Write the nine CSVs under ``out_dir`` with rows permuted by ``seed``;
    returns data rows per file."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    counts = {}
    for name, body in catalog_rows(tables).items():
        rng.shuffle(body)
        with open(os.path.join(out_dir, name), "w", newline="") as f:
            w = csv.writer(f, lineterminator="\n")
            w.writerow(HEADERS[name])
            w.writerows(body)
        counts[name] = len(body)
    return counts


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--tables", type=int, default=1000)
    a = ap.parse_args()
    print(write_catalog(a.out_dir, a.seed, a.tables))
