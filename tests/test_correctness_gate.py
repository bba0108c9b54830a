"""The local correctness gate must be dtype-aware.

Round-6 lesson: four DuckDB oracle twins shipped a HUGEINT column (DuckDB
``sum()`` / ``//``-on-sum silently widen to int128) where Spark returns
BIGINT. The driver's value hash is dtype-sensitive, so the rows were red
on the driver while the old string-canonicalizing local gate said green.
These tests pin the gate's type mapping so that class of miss can never
ship again.
"""

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

import check_correctness  # noqa: E402
from check_correctness import dtype_problems, duck_type_to_spark  # noqa: E402


def test_gate_checks_its_own_tree():
    """The gate and the package it imports are the ones in the tree this
    test sits in, so a copy of the repo checks the copy."""
    gate = os.path.realpath(check_correctness.__file__)
    assert gate == os.path.realpath(
        os.path.join(ROOT, "tools", "check_correctness.py"))
    assert os.path.realpath(check_correctness.ROOT) == os.path.realpath(ROOT)


def test_uncast_sum_fixture_is_rejected():
    import duckdb
    rel = duckdb.connect().sql(
        "SELECT sum(x) AS s FROM (VALUES (1), (2)) t(x)")
    types = [str(t) for t in rel.types]
    assert types == ["HUGEINT"]
    problems = dtype_problems(["s"], ["bigint"], list(rel.columns), types)
    assert problems and "widened" in problems[0]


def test_cast_sum_fixture_passes():
    import duckdb
    rel = duckdb.connect().sql(
        "SELECT CAST(sum(x) AS BIGINT) AS s FROM (VALUES (1), (2)) t(x)")
    assert dtype_problems(["s"], ["bigint"], list(rel.columns),
                          [str(t) for t in rel.types]) == []


def test_int_width_mismatch_is_flagged():
    problems = dtype_problems(["a"], ["bigint"], ["a"], ["INTEGER"])
    assert problems and "dtype" in problems[0]


def test_mapping_covers_core_types():
    assert duck_type_to_spark("BIGINT") == "bigint"
    assert duck_type_to_spark("INTEGER") == "int"
    assert duck_type_to_spark("VARCHAR") == "string"
    assert duck_type_to_spark("DOUBLE") == "double"
    assert duck_type_to_spark("DATE") == "date"
    assert duck_type_to_spark("BIGINT[]") == "array<bigint>"
    assert duck_type_to_spark("DECIMAL(38,0)").startswith("REJECT")
    assert duck_type_to_spark("HUGEINT").startswith("REJECT")
    assert duck_type_to_spark("HUGEINT[]").startswith("REJECT")


def test_unknown_duck_type_is_flagged_not_silently_passed():
    problems = dtype_problems(["a"], ["string"], ["a"], ["ENUM('x')"])
    assert problems and "unmapped" in problems[0]
