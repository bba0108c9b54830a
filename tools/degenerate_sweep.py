"""Degenerate-corpus sweep (r14 verdict item #2): run every queries()
entry against a corpus whose documents are all EMPTY STRINGS (and,
optionally, a zero-row documents table) and record which plans abort.

Under Spark 4's ANSI default, any corpus-level aggregate used as a
denominator (total tokens, vocab size, total n-grams, ...) is 0 on such
a corpus and `DIV`/`/` abort the job — the class the r13 round fixed for
mixture_sampling_rates / distribution_drift and the short-doc bigram
crash. This tool finds the remaining members empirically instead of by
grep: the plan that *runs* is the ground truth.

Variants:
  allempty  — documents.text = '' for every row
  nulltext  — documents.text = NULL for every row
  zerorows  — documents has 0 rows
  onedoc    — documents has exactly 1 row (n=1 trips the stat/window
              logic empty corpora never reach: stddev NULL, ntile of 1,
              train/holdout splits with an empty side)
  emptyvecs — embeddings.embedding = [] for every row
  zeroembrows — embeddings has 0 rows
  oneemb    — embeddings has exactly 1 row (k > n clustering, top-k of
              1, covariance n=1)
  zeroevents — events has 0 rows (windowed aggs, sessionization,
              attribution, drift over nothing)
  oneevent  — events has exactly 1 row (single-session bounds, lag/lead
              NULLs, one-point seasonality)
  nullevents — events.value and events.props NULL for every row (ts and
              keys intact: NULL-value aggregation/JSON-extraction paths)

Usage: python tools/degenerate_sweep.py [variant] [query ...]
Writes DEGENERATE_SWEEP_<variant>.json next to the repo root unless
SPARK_GRAFT_SWEEP_JSON overrides the path.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

BASE_SF = "/root/testdata/sf0.001"
DEG_ROOT = os.path.join(ROOT, ".degenerate")
TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")


def build_dir(variant: str) -> str:
    """Materialize the degenerate sf dir: every table not under test is
    a symlink to sf0.001; the degenerate table is rewritten per
    variant."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    mutated = ("embeddings"
               if variant in ("emptyvecs", "zeroembrows", "oneemb")
               else "events"
               if variant in ("zeroevents", "oneevent", "nullevents")
               else "documents")
    out = os.path.join(DEG_ROOT, variant)
    os.makedirs(out, exist_ok=True)
    for t in TABLES:
        if t == mutated:
            continue
        dst = os.path.join(out, f"{t}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(BASE_SF, f"{t}.parquet"), dst)
    src = pq.read_table(os.path.join(BASE_SF, f"{mutated}.parquet"))
    n = src.num_rows
    if variant == "allempty":
        tbl = pa.table({
            "doc_id": src.column("doc_id"),
            "text": pa.array([""] * n, pa.string()),
            "lang": src.column("lang"),
            "source": src.column("source"),
            "n_chars": pa.array([0] * n, pa.int64()),
        })
    elif variant == "nulltext":
        tbl = pa.table({
            "doc_id": src.column("doc_id"),
            "text": pa.array([None] * n, pa.string()),
            "lang": src.column("lang"),
            "source": src.column("source"),
            "n_chars": pa.array([None] * n, pa.int64()),
        })
    elif variant in ("zerorows", "zeroembrows", "zeroevents"):
        tbl = src.slice(0, 0)
    elif variant in ("onedoc", "oneemb", "oneevent"):
        tbl = src.slice(0, 1)
    elif variant == "nullevents":
        tbl = pa.table({
            "event_id": src.column("event_id"),
            "ts": src.column("ts"),
            "user_id": src.column("user_id"),
            "event_type": src.column("event_type"),
            "value": pa.array([None] * n, pa.float64()),
            "props": pa.array([None] * n, pa.string()),
        })
    elif variant == "emptyvecs":
        tbl = pa.table({
            "vec_id": src.column("vec_id"),
            "embedding": pa.array([[]] * n, pa.list_(pa.float32())),
            "label": src.column("label"),
        })
    else:
        raise ValueError(f"unknown variant {variant!r}")
    pq.write_table(tbl, os.path.join(out, f"{mutated}.parquet"))
    return out


def main() -> int:
    variant = "allempty"
    only = []
    for a in sys.argv[1:]:
        if a in ("allempty", "nulltext", "zerorows", "onedoc",
                 "emptyvecs", "zeroembrows", "oneemb",
                 "zeroevents", "oneevent", "nullevents"):
            variant = a
        else:
            only.append(a)
    sf_dir = build_dir(variant)

    # the engine's own session settings (UTC, Arrow, broadcast threshold)
    from amundsendatabuilder_spark.session import get_spark
    spark = get_spark(f"degenerate-sweep-{variant}", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry
    queries = entry.queries()
    names = only or list(queries)
    results: dict[str, dict] = {}
    for i, name in enumerate(names, 1):
        fn = queries[name]
        t0 = time.time()
        try:
            # collect(), NOT count(): count lets Catalyst column-prune
            # the very projections under test — quality_decile_table's
            # DIV tok_n abort is invisible to a count but fatal to any
            # consumer that reads the values
            n = len(fn(spark, sf_dir).collect())
            results[name] = {"status": "ok", "rows": n,
                             "sec": round(time.time() - t0, 2)}
        except Exception as exc:  # noqa: BLE001 — the sweep's whole point
            msg = str(exc).split("\n")[0][:300]
            results[name] = {"status": "ABORT", "error": msg,
                             "sec": round(time.time() - t0, 2)}
            print(f"[{i}/{len(names)}] ABORT {name}: {msg}", flush=True)
            traceback.print_exc(limit=3)
        if i % 25 == 0:
            print(f"[{i}/{len(names)}] ...", flush=True)

    aborts = sorted(k for k, v in results.items() if v["status"] == "ABORT")
    out_path = os.environ.get(
        "SPARK_GRAFT_SWEEP_JSON",
        os.path.join(ROOT, f"DEGENERATE_SWEEP_{variant}.json"))
    with open(out_path, "w") as f:
        json.dump({"variant": variant, "sf_base": BASE_SF,
                   "n": len(results), "n_abort": len(aborts),
                   "aborts": aborts, "results": results}, f, indent=1,
                  sort_keys=True)
    print(f"\n{len(results)} queries, {len(aborts)} aborts -> {out_path}")
    for a in aborts:
        print(" ", a, "--", results[a]["error"][:160])
    spark.stop()
    # non-zero on any abort so shell pipelines / CI can gate on the sweep
    # (r14 ADVICE: `sweep && next` must not pass a regression silently)
    return min(len(aborts), 125)


if __name__ == "__main__":
    sys.exit(main())
