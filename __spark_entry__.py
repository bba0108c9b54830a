"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship search-document build (SURVEY §2.6,
reference: databuilder/extractor/neo4j_search_data_extractor.py:23-62) on
sf0.001. ``queries()``/``oracle_sql()`` expose the full oracle-verified
suite from amundsendatabuilder_spark.plans.oracle_suite — one entry per
operator class of SURVEY §2 plus the training-data pipeline operators.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _ROOT)

from amundsendatabuilder_spark.plans.oracle_suite import ORACLES, QUERIES  # noqa: E402


def newest_green_certs(root: str = _ROOT) -> dict[str, int]:
    """Each query's newest round in ``root``'s ``CORRECTNESS_r<N>.json``
    files in which it passed (``err`` is None and ``rows_match``).
    Unreadable files are skipped."""
    newest: dict[str, int] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        try:
            with open(path, encoding="utf-8") as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        rnd = int(m.group(1))
        for name, row in rows.items():
            if (isinstance(row, dict) and row.get("err") is None
                    and row.get("rows_match")):
                newest[name] = max(newest.get(name, 0), rnd)
    return newest


def _ordered(mapping: dict, root: str = _ROOT) -> dict:
    """``mapping`` ordered oldest newest-cert first (never certified =
    round 0), registry order breaking ties. The driver certifies the
    first 50, so every new CORRECTNESS file rotates the window."""
    newest = newest_green_certs(root)
    return {k: mapping[k]
            for k in sorted(mapping, key=lambda k: newest.get(k, 0))}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["search_doc_flagship"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented query/operator from SURVEY.md §2."""
    return _ordered(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI-SQL twin for each query (keys without an entry
    get the driver's weaker rows-only check)."""
    return _ordered(ORACLES)
