"""Tests for the benchmark's own code (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import catalog_gen  # noqa: E402
import checks  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def _read_all(path: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            out[name] = f.read()
    return out


def test_generator_is_deterministic_per_seed(tmp_path):
    for d, seed in (("a", 7), ("b", 7), ("c", 8)):
        catalog_gen.write_catalog(str(tmp_path / d), seed, tables=60)
    a, b, c = (_read_all(str(tmp_path / d)) for d in "abc")
    assert sorted(a) == sorted(catalog_gen.HEADERS)
    assert a == b
    assert a != c
    # a seed only permutes rows: same header, same multiset of rows
    for name in a:
        la, lc = a[name].splitlines(), c[name].splitlines()
        assert la[0] == lc[0]
        assert sorted(la[1:]) == sorted(lc[1:])


def test_generator_matches_fixture_headers():
    fixtures = os.path.join(os.path.dirname(BENCH), "tests", "fixtures")
    for name, header in catalog_gen.HEADERS.items():
        with open(os.path.join(fixtures, name)) as f:
            assert f.readline().strip().split(",") == header


def _benchmark_json() -> dict:
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        return json.load(f)


def test_names_are_valid_and_match_the_code():
    spec = _benchmark_json()
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert all(NAME.fullmatch(n) for n in names), names
    assert len(names) == len(set(names))
    assert sorted(w["name"] for w in spec["workloads"]) == \
        sorted(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == \
        run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == \
        run.per_layer_units(workloads.ANALYTICS_QUERIES)


def _staged_graph(root) -> str:
    for kind, shard, body in (
            ("nodes", "Table_0123abcd", b"KEY,LABEL,name\nhive://t,Table,t\n"),
            ("rels", "Schema_TABLE_Table_89ab", b"START_KEY,END_KEY\ns,t\n")):
        d = root / "graph" / kind / shard
        d.mkdir(parents=True)
        (d / "part-00000-x-c000.csv").write_bytes(body)
        (d / "_SUCCESS").write_bytes(b"")
    return str(root / "graph")


def test_checker_rejects_one_changed_byte_in_a_shard(tmp_path):
    graph = _staged_graph(tmp_path)
    expected = {"shards": checks.shard_digests(graph)}
    assert checks.mismatches(expected,
                             {"shards": checks.shard_digests(graph)}) == []
    part = os.path.join(graph, "nodes", "Table_0123abcd",
                        "part-00000-x-c000.csv")
    with open(part, "rb") as f:
        body = bytearray(f.read())
    body[-2] ^= 1
    with open(part, "wb") as f:
        f.write(bytes(body))
    assert checks.mismatches(expected,
                             {"shards": checks.shard_digests(graph)}) == \
        ["shards.nodes/Table_0123abcd"]


def test_checker_rejects_a_missing_result_row():
    rows = [(1, "a", 0.1 + 0.2), (2, "b", None), (3, "c", [1.5, 2.0])]
    expected = {"q": checks.rows_digest(rows)}
    assert checks.mismatches(expected,
                             {"q": checks.rows_digest(rows[::-1])}) == []
    assert checks.mismatches(expected,
                             {"q": checks.rows_digest(rows[:-1])}) == ["q"]
    assert checks.mismatches(expected, {}) == ["q"]
