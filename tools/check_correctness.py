"""Local stand-in for the driver's correctness gate: runs every queries()
entry on Spark and its oracle_sql() twin on DuckDB over the same parquet,
compares row count, column names, and exact canonicalized values.

Usage: python tools/check_correctness.py [sf_dir] [query ...]

Set SPARK_GRAFT_GATE_JSON=<path> to also write a machine-readable record
(per-query pass/fail + row counts + elapsed) — the committed local-gate
evidence the round reviews ask for (CORRECTNESS_LOCAL_r{N}.json).
"""

from __future__ import annotations

import os
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 and "/" in sys.argv[1] else "/root/testdata/sf0.01"
ONLY = [a for a in sys.argv[1:] if "/" not in a]

_DUCK_TO_SPARK = {
    "TINYINT": "tinyint", "SMALLINT": "smallint", "INTEGER": "int",
    "BIGINT": "bigint", "DOUBLE": "double", "FLOAT": "float",
    "VARCHAR": "string", "BOOLEAN": "boolean", "DATE": "date",
    "TIMESTAMP": "timestamp", "TIMESTAMP WITH TIME ZONE": "timestamp",
    "TIMESTAMP_NS": "timestamp", "BLOB": "binary",
}
# Types DuckDB widens to silently (sum() -> HUGEINT, '/' -> DOUBLE is fine,
# '//'-on-sum -> HUGEINT, avg of decimals -> DECIMAL). The driver's value
# hash is dtype-sensitive, so any of these leaving an oracle is a shipped
# red row even when the values are identical (round-6 lesson).
_DUCK_REJECT = ("HUGEINT", "UHUGEINT", "DECIMAL", "UBIGINT", "UINTEGER")


def duck_type_to_spark(duck: str) -> str:
    """Map a DuckDB column type string to the Spark simpleString it must
    pair with, or 'REJECT:<t>' for types the oracle must never emit."""
    duck = duck.strip()
    if duck.endswith("[]"):
        inner = duck_type_to_spark(duck[:-2])
        if inner.startswith("REJECT"):
            return inner
        return f"array<{inner}>"
    for bad in _DUCK_REJECT:
        if duck.upper().startswith(bad):
            return f"REJECT:{duck}"
    return _DUCK_TO_SPARK.get(duck.upper(), f"UNKNOWN:{duck}")


def dtype_problems(scols, sdtypes, dcols, dtypes_duck):
    """Compare Spark dtypes to mapped DuckDB types after name-sort.
    Returns a list of human-readable problems (empty == compatible)."""
    out = []
    smap = dict(zip(scols, sdtypes))
    for col, dt in sorted(zip(dcols, dtypes_duck)):
        want = duck_type_to_spark(str(dt))
        if want.startswith("REJECT"):
            out.append(f"oracle col '{col}' has widened DuckDB type {dt} "
                       "(cast it in the oracle SQL)")
            continue
        got = smap.get(col)
        if got is None:
            continue  # column-name mismatch reported separately
        got_n = "timestamp" if got.startswith("timestamp") else got
        if want.startswith("UNKNOWN"):
            out.append(f"col '{col}': unmapped DuckDB type {dt} "
                       f"(spark={got}) — extend _DUCK_TO_SPARK")
        elif got_n != want:
            out.append(f"col '{col}': dtype spark={got} vs duck={dt}->{want}")
    return out


def canon(v):
    import datetime
    import math
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return f"{int(v)}.0"
        return repr(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def rows_to_canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(canon(r[i]) for i in order) for r in rows)


def main():
    import duckdb

    from __spark_entry__ import oracle_sql, queries
    from amundsendatabuilder_spark.session import TPCH_TABLES, get_spark

    spark = get_spark("correctness_check")
    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs, oracles = queries(), oracle_sql()
    names = [n for n in qs if not ONLY or n in ONLY]
    failures = []
    record: dict[str, dict] = {}
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, SF_DIR)
            scols = sdf.columns
            sdtypes = [t for _, t in sdf.dtypes]
            srows = [tuple(r) for r in sdf.collect()]
        except Exception:
            print(f"FAIL {name}: spark error\n{traceback.format_exc()}")
            failures.append(name)
            record[name] = {"status": "fail", "err": "spark error"}
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows-only (no oracle) rows={len(srows)} "
                  f"[{time.time()-t0:.1f}s]")
            record[name] = {"status": "rows_only", "rows": len(srows),
                            "sec": round(time.time() - t0, 2)}
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = list(rel.columns)
            dtypes_duck = [str(t) for t in rel.types]
            drows = rel.fetchall()
        except Exception:
            print(f"FAIL {name}: duckdb error\n{traceback.format_exc()}")
            failures.append(name)
            record[name] = {"status": "fail", "err": "duckdb error"}
            continue
        problems = []
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
        problems += dtype_problems(scols, sdtypes, dcols, dtypes_duck)
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if not problems:
            sc = rows_to_canon(scols, srows)
            dc = rows_to_canon(dcols, drows)
            if sc != dc:
                diff = [(a, b) for a, b in zip(sc, dc) if a != b][:3]
                extra_s = [x for x in sc if x not in set(dc)][:3]
                extra_d = [x for x in dc if x not in set(sc)][:3]
                problems.append(f"values differ, e.g. {diff or (extra_s, extra_d)}")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failures.append(name)
            record[name] = {"status": "fail",
                            "problems": problems[:3],
                            "rows": len(srows)}
        else:
            print(f"PASS {name}: rows={len(srows)} [{time.time()-t0:.1f}s]")
            record[name] = {"status": "pass", "rows": len(srows),
                            "sec": round(time.time() - t0, 2)}
    print(f"\n{len(names)-len(failures)}/{len(names)} passed"
          + (f"; FAILED: {failures}" if failures else ""))
    gate_json = os.environ.get("SPARK_GRAFT_GATE_JSON")
    if gate_json:
        import json
        with open(gate_json, "w") as f:
            json.dump({"sf_dir": SF_DIR, "n": len(names),
                       "n_passed": len(names) - len(failures),
                       "failed": failures, "queries": record}, f, indent=1)
        print(f"wrote {gate_json}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
