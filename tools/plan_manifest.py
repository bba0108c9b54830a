"""Regenerate plans/manifest.json: the Spark job count and the plan
fingerprints of every registry query.

Every ``QUERIES`` entry runs in registry order in one fresh process
(``local[4]``, 4 shuffle partitions, sf0.001), twice. Per query the
manifest keeps ``jobs``, the ``[min, max]`` of the Spark jobs the query
started over the two runs, and ``plans``, the md5 of each SQL
execution's normalized initial physical plan, in execution order.

Nothing is written, and the tool exits 1, when a query raises, when the
two runs' fingerprints differ, or when a streaming entry's state-store
shape differs from ``STREAM_EXPECT`` or its last stateful batch holds no
state rows. ``tests/test_plan_manifest.py`` re-measures a registry
prefix against the manifest; ``git diff plans/manifest.json`` names the
queries a commit changed.

Run: python tools/plan_manifest.py
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import subprocess
import sys

TOOLS = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(TOOLS)
sys.path.insert(0, ROOT)

MANIFEST = os.path.join(ROOT, "plans", "manifest.json")
SF_DIR = "/root/testdata/sf0.001"
# fixed, so counts and fingerprints do not follow the host's CPU count
MASTER = "local[4]"
SHUFFLE_PARTITIONS = 4

# The state-store shape of every streaming entry: the stateful operator
# names of its last stateful micro-batch (from query progress). A
# windowed-register stream regressing from stateStoreSave to a
# flatMapGroups, or a join sprouting a second state store, is the silent
# re-plan this pins.
STREAM_EXPECT = {
    # custom stateful operators (Arrow applyInPandasWithState)
    "stream_dedup_first_seen": ["applyInPandasWithState"],
    "stream_near_dup": ["applyInPandasWithState"],
    "stream_asof_join": ["applyInPandasWithState"],
    "stream_bottomk_sample": ["applyInPandasWithState"],
    "stream_last_writer_upsert": ["applyInPandasWithState"],
    # watermarked windowed aggregations (one state store each; the
    # register families keep (window, register-key) rows)
    "stream_windowed_counts": ["stateStoreSave"],
    "stream_windowed_distinct": ["stateStoreSave"],
    "stream_windowed_heavy_hitters": ["stateStoreSave"],
    "stream_histogram_registers": ["stateStoreSave"],
    "stream_benford_registers": ["stateStoreSave"],
    "stream_minhash_registers": ["stateStoreSave"],
    # session windows have their own save exec
    "stream_sessionize": ["sessionWindowStateStoreSaveExec"],
    # stream-stream interval joins: ONE symmetric hash join, two
    # sides in one operator — a second operator appearing means the
    # plan grew an unintended stateful stage
    "stream_attribution": ["symmetricHashJoin"],
    "stream_attribution_outer": ["symmetricHashJoin"],
    # stream-static enrich: the static side is a plain batch join
    # (no state); the downstream windowed agg is the only store
    "stream_static_enrich": ["stateStoreSave"],
}

# what differs between runs of one plan: expression, exchange, codegen,
# query stage and RDD ids, an RDD's creation call site (``at <unknown>:0``
# or ``at NativeMethodAccessorImpl.java:0``, depending on what ran earlier
# in the process), node ordinals and what points at them, AQE statistics
# and progress, object hashes, streaming run ids, and every path but a
# table's file name under SF_DIR
_RUN_IDENTITY = re.compile(
    r"#\d+L?|\[plan_id=\d+\]|Statistics\([^)]*\)|\(\d+\)|\[\d+\]"
    r"|\s*\[codegen id : \d+\]|operator id[ :=]+\d+|^Arguments: \d+$"
    r"|isFinalPlan=\w+|@[0-9a-f]{4,}\b| at [^\s,]+:\d+\b"
    r"|[0-9a-f]{8}(?:-[0-9a-f]{4}){3}-[0-9a-f]{12}|file:[^\s,\]]*")
_TABLE_PATH = re.compile(r"file:" + re.escape(SF_DIR) + r"/")
_TREE_NODE = re.compile(r" \((\d+)\)(?:, Statistics\(.*\))?$")
_BLOCK = re.compile(r"^\((\d+)\) ")
_TOKEN = re.compile(r"\w+|[^\w\s]")


def normalize(description: str) -> str:
    """A formatted plan description with run identity stripped.

    Of an adaptive plan only the ``== Initial Plan ==`` tree is kept: AQE
    may not have finished re-planning when the description was taken.
    Each node's detail block (output, pushed filters, read schema, join
    keys, conditions, aggregates, ...) follows the tree in the tree's
    order; blocks of nodes only the final or current plan shows are
    dropped. A detail line keeps its tokens, sorted: Spark orders some
    lists by expression-id hashes, which are random per JVM (the Expand
    of several distinct aggregates lists its columns either way round),
    so a reordering within one line is not seen."""
    tree, order, blocks, block, in_final = [], [], {}, None, False
    for raw in description.splitlines():
        line = _RUN_IDENTITY.sub("", _TABLE_PATH.sub("", raw)).rstrip()
        if not raw.strip():
            block = None
        elif (m := _BLOCK.match(raw)):
            block = blocks[m.group(1)] = [line]
        elif block is not None:
            block.append(line)
        elif "== Final Plan ==" in raw or "== Current Plan ==" in raw:
            in_final = True
        elif not in_final or "== Initial Plan ==" in raw:
            in_final = False
            if (m := _TREE_NODE.search(raw)):
                order.append(m.group(1))
            tree.append(line)
    details = [" ".join(sorted(_TOKEN.findall(ln)))
               for n in order for ln in blocks.get(n, []) if ln]
    return "\n".join(tree + details)


def measure(names: list[str]) -> dict:
    """Run ``names`` in order in this process's session and return, per
    query, its Spark job count, its executions' plan md5s, and (for a
    streaming entry) the state operators and state rows of its last
    stateful batch, or the error it raised."""
    from amundsendatabuilder_spark.plans.oracle_suite import QUERIES
    from amundsendatabuilder_spark.session import get_spark, jobs_started_by
    from amundsendatabuilder_spark.streaming import events

    spark = get_spark("plan_manifest", master=MASTER,
                      shuffle_partitions=SHUFFLE_PARTITIONS)
    store = spark._jsparkSession.sharedState().statusStore()
    last_id = -1
    out = {}
    for name in names:
        events.LAST_STREAM_AUDIT.clear()
        try:
            _, jobs = jobs_started_by(
                spark, lambda: QUERIES[name](spark, SF_DIR).collect())
        except Exception as e:
            out[name] = {"error": f"{type(e).__name__}: {e}"[:2000]}
            continue
        # the fence in jobs_started_by orders these reads after every SQL
        # event of the query; ids, not list positions, because the store
        # drops its oldest executions past spark.sql.ui.retainedExecutions
        new, it = [], store.executionsList().reverseIterator()
        while it.hasNext():
            e = it.next()
            if e.executionId() <= last_id:
                break
            new.append((e.executionId(), e.physicalPlanDescription()))
        last_id = max([last_id] + [i for i, _ in new])
        # a streaming entry's memory sink is a view named at random
        view = events.LAST_STREAM_AUDIT.get("name") or "\0"
        rec = {"jobs": len(jobs),
               "plans": [hashlib.md5(normalize(d.replace(view, "")).encode())
                         .hexdigest() for _, d in sorted(new)]}
        if name.startswith("stream_"):
            progress = events.LAST_STREAM_AUDIT.get("progress", [])
            last = next((p for p in reversed(progress)
                         if p.get("stateOperators")), {})
            ops = last.get("stateOperators", [])
            rec["state_ops"] = sorted({o.get("operatorName", "?")
                                       for o in ops})
            rec["state_rows"] = sum(o.get("numRowsTotal", 0) for o in ops)
        out[name] = rec
    return out


def measure_in_fresh_process(names: list[str]) -> dict:
    """``measure(names)`` in a new Python process, so the session state
    the counts depend on is that of a fresh process running ``names``.
    Its hash seed is fixed: some plans list columns in Python-set order."""
    code = (f"import json, sys; sys.path.insert(0, {TOOLS!r}); "
            "from plan_manifest import measure; "
            f"print('MEASURED ' + json.dumps(measure({list(names)!r})))")
    res = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, cwd=ROOT, timeout=3600,
                         env={**os.environ, "PYTHONHASHSEED": "0"})
    lines = [ln for ln in res.stdout.splitlines()
             if ln.startswith("MEASURED ")]
    if res.returncode or not lines:
        raise RuntimeError(f"measuring process failed ({res.returncode}):\n"
                           + res.stderr[-3000:])
    return json.loads(lines[-1][len("MEASURED "):])


def problems(name: str, runs: list[dict]) -> list[str]:
    """Why ``name``'s measurements over ``runs`` cannot enter the
    manifest (empty when they can)."""
    recs = [r[name] for r in runs]
    if errors := [r["error"] for r in recs if "error" in r]:
        return [f"{name}: {errors[0]}"]
    out = [f"{name}: plan fingerprints differ between runs"
           for r in recs[1:] if r["plans"] != recs[0]["plans"]]
    expect = STREAM_EXPECT.get(name)
    for r in recs if name.startswith("stream_") else []:
        if r["state_ops"] != sorted(expect or []):
            out.append(f"{name}: state operators {r['state_ops']}, "
                       f"STREAM_EXPECT {expect}")
        elif not r["state_rows"]:
            out.append(f"{name}: the last stateful batch reports 0 state rows")
    return out


def main() -> None:
    from amundsendatabuilder_spark.plans.oracle_suite import QUERIES
    names, runs = list(QUERIES), []
    for run in (1, 2):
        runs.append(measure_in_fresh_process(names))
        if bad := sorted({p for n in names for p in problems(n, runs)}):
            sys.exit(f"run {run}: manifest NOT written:\n  "
                     + "\n  ".join(bad))
    queries = {n: {"jobs": [min(r[n]["jobs"] for r in runs),
                            max(r[n]["jobs"] for r in runs)],
                   "plans": runs[0][n]["plans"]} for n in names}
    # one line per query, so a diff names the queries whose count or
    # plans moved
    head = json.dumps({"sf_dir": SF_DIR, "master": MASTER,
                       "shuffle_partitions": SHUFFLE_PARTITIONS})[1:-1]
    rows = ",\n".join(f"  {json.dumps(n)}: {json.dumps(q)}"
                      for n, q in queries.items())
    with open(MANIFEST, "w") as f:
        f.write(f'{{{head},\n "queries": {{\n{rows}\n }}\n}}\n')
    moved = [f"{n} {q['jobs']}" for n, q in queries.items()
             if q["jobs"][0] != q["jobs"][1]]
    print(f"wrote {MANIFEST}: {len(names)} queries, "
          f"{sum(q['jobs'][0] for q in queries.values())} jobs (min), "
          f"{sum(len(q['plans']) for q in queries.values())} executions; "
          f"counts that moved between runs: {moved or 'none'}")


if __name__ == "__main__":
    main()
