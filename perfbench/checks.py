"""Output checks (pure Python, no Spark): digests of staged files and
query results, and their comparison with the recorded values in
``expected.json``."""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
import os

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "expected.json")


def _part_files(path: str) -> list[str]:
    return sorted(f for f in os.listdir(path) if f.startswith("part-"))


def shard_digests(graph_dir: str) -> dict[str, str]:
    """``{"nodes/<shard>": sha256, "rels/<shard>": sha256}``: each shard's
    part files (header + rows) hashed in file order, byte for byte."""
    out = {}
    for kind in ("nodes", "rels"):
        base = os.path.join(graph_dir, kind)
        for shard in sorted(os.listdir(base)):
            h = hashlib.sha256()
            for part in _part_files(os.path.join(base, shard)):
                with open(os.path.join(base, shard, part), "rb") as f:
                    h.update(f.read())
            out[f"{kind}/{shard}"] = h.hexdigest()
    return out


def lines_digest(path: str) -> list:
    """``[line count, sha256]`` of the lines of every part file under
    ``path``, sorted: a search index holds a set of documents, so the
    order Spark wrote them in does not matter."""
    lines: list[bytes] = []
    for part in _part_files(path):
        with open(os.path.join(path, part), "rb") as f:
            lines += f.read().splitlines()
    lines.sort()
    return [len(lines), hashlib.sha256(b"\n".join(lines)).hexdigest()]


def canon(v) -> str:
    """Canonical text of one result value. Doubles keep 12 significant
    digits, so a sum whose last bits depend on merge order still matches."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.12g}"
    if isinstance(v, decimal.Decimal):
        return f"{v.normalize():f}"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, dict):
        return "{" + ",".join(f"{canon(k)}:{canon(v[k])}"
                              for k in sorted(v, key=canon)) + "}"
    if isinstance(v, (list, tuple)):  # pyspark Row is a tuple
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def rows_digest(rows) -> list:
    """``[row count, sha256]`` of a query result, insensitive to row order."""
    lines = sorted(canon(tuple(r)) for r in rows)
    return [len(lines), hashlib.sha256("\n".join(lines).encode()).hexdigest()]


def mismatches(expected: dict, observed: dict) -> list[str]:
    """Names of the observed values that differ from the recorded ones
    (nested dicts are compared key by key; a missing key is a mismatch)."""
    bad = []
    for key in sorted(set(expected) | set(observed)):
        e, o = expected.get(key), observed.get(key)
        if isinstance(e, dict) and isinstance(o, dict):
            bad += [f"{key}.{k}" for k in mismatches(e, o)]
        elif e != o:
            bad.append(key)
    return bad


def load_expected(workload: str) -> dict:
    with open(EXPECTED_PATH) as f:
        return json.load(f).get(workload, {})


def record_expected(workload: str, observed: dict) -> None:
    data = {}
    if os.path.exists(EXPECTED_PATH):
        with open(EXPECTED_PATH) as f:
            data = json.load(f)
    data[workload] = observed
    with open(EXPECTED_PATH, "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)
        f.write("\n")
