"""Generate BENCH_INDEX.md (r11 verdict item #8): one table mapping
round -> authoritative bench artifact -> environment note -> headline,
so a reviewer reads one file instead of 30. Superseded mid-round
artifacts live in bench_archive/ (kept for provenance, out of the
top-level listing).

Run: python tools/gen_bench_index.py   (from the repo root)
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# round -> (driver artifact, authoritative local artifact or None,
#           environment note)
NOTES = {
    14: "consolidation #3 (degenerate-corpus hardening + cert-rotation "
        "retirement); CHANGED-mode local record only — the full "
        "extended sweep cadence says r15 (r13 did one), which should "
        "also re-read the TPC-H block inline (r13 item #5). Local "
        "headline FLAT: 19.97s raw vs r13's 19.68s at healthy calib "
        "0.464/0.507. NOTE the adjusted-value SEAM: from r14 the "
        "adjustment divides by the MEAN of the start/end probe "
        "bracket (r13 ADVICE), so adjusted values compare cleanly "
        "only from r14 on (r14 adjusted 20.94s; r13's start-only "
        "convention would read 19.90s). All 9 changed-plan entries "
        "(covariance-family empty-escape + 7 denominator/subscript "
        "guards) cost sub-second except the PCA family, whose "
        "apparent 1.2x is closed as environment by BENCH_PCA_r14.json "
        "(same-box r12-commit A/B: HEAD faster than r12 code). The "
        "two KS entries changed after the healthy-box record; their "
        "final-code supplement line (with a 2-pair commit A/B - "
        "deltas swap sign, guard free within noise) is appended to "
        "the artifact. The host flapped repeatedly this session "
        "(calib 0.46-3.1 with zero local load) - every recorded "
        "number names its bracket",
    1: "first full suite; baseline for the 2x gate",
    2: "coverage wave; headline flat",
    3: "plan-tuning round (broadcast + partial aggs)",
    4: "driver run truncated mid-output (rc=1) - no parseable headline; "
       "the round-6 stdout contract (headline LAST) exists because of "
       "this",
    5: "uniform ~20-30% inflation vs r03 on identical plans - "
       "adjudicated as environment (BENCH_EXONERATION.md, round-6 "
       "quiet-session re-run)",
    6: "headline embedded mid-tail (pre-contract format): 19.911s/25q",
    7: "suite grew to 88 extended entries",
    8: "like-for-like faster; 90 extended",
    9: "166 extended; headline 15.8s",
    10: "best driver headline (14.47s); 177 extended",
    11: "mid-round VM reboot inflated unchanged queries ~1.36-1.6x "
        "(BENCH_EXONERATION.md round-11 section); authoritative "
        "like-for-like local medians: BENCH_LOCAL_r11g 15.85s vs r10 "
        "local 16.25s. bench.py carries calib_seconds from r12 on so "
        "this class of adjudication is mechanical",
    13: "consolidation + corrupt-row hardening round. The full record "
        "predates the late hardening; the artifact's "
        "changed_mode_posthardening_supplement line re-times every "
        "changed entry on final code (hardening 0.92-1.09x = free; "
        "quiet n=5 isolation shows the recall audit's enforced-guard "
        "count costs 0.21s). Main note: "
        "flat round-over-round on a near-reference "
        "box (local 19.68s raw / 19.34s ADJUSTED, calib 0.518/0.359 vs "
        "r12's 19.86s at 0.509/0.623). Every r13 changed-plan entry "
        "(logreg family + recall audits + bottom-k) reads <=1.12x r12 "
        "(most faster - the new runtime guards are free); the r12 "
        "simhash outliers read 0.66x/0.74x, confirming the commit A/B's "
        "environment adjudication. Median ratio over 196 shared >0.3s "
        "entries: 1.036x. One mid-run transient inflated the "
        "consecutive TPC-H block 2.4-3.4x inside the sweep; an idle n=5 "
        "re-read (tpch_block_recheck line in the artifact) returns it "
        "to r12 levels. An earlier full run whose START calib read "
        "3.62s is archived as bench_archive/BENCH_LOCAL_r13a.json",
    12: "first calib-instrumented record: 19.86s with calib "
        "BRACKETING 0.509s start / 0.623s end (the within-run drift "
        "the r12 probe pair now makes visible). Median per-query "
        "ratio vs r11g is 1.155x on UNCHANGED queries - a persistent "
        "box offset, adjudicated by same-box commit A/B: the r11 "
        "COMMIT re-run on this box reads the same as HEAD (flagship "
        "0.89 vs 0.95s, minhash_lsh 1.70 vs 1.64s, n=5 medians), so "
        "zero code regression; an earlier run under load-avg ~5-6 "
        "read 21.1s and is archived as BENCH_LOCAL_r12a",
}


def headline(path: str):
    """Extract the headline record from any of the three formats the
    artifacts use: whole-file JSON (driver), JSON-lines (local), or a
    driver record whose 'tail' embeds the stdout."""
    try:
        with open(path) as f:
            txt = f.read()
    except OSError:
        return None
    try:
        d = json.loads(txt)
        if isinstance(d, dict) and d.get("metric") == "headline_suite_seconds":
            return d
        if isinstance(d, dict) and "tail" in d:
            for ln in str(d["tail"]).splitlines():
                i = ln.find('{"metric": "headline_suite_seconds"')
                if i >= 0:
                    try:
                        return json.loads(ln[i:])
                    except json.JSONDecodeError:
                        continue
            return {"rc": d.get("rc")}
        return d
    except json.JSONDecodeError:
        pass
    for ln in txt.splitlines():
        try:
            d = json.loads(ln)
        except json.JSONDecodeError:
            continue
        if d.get("metric") == "headline_suite_seconds":
            return d
    return None


def fmt(rec) -> str:
    if not rec:
        return "-"
    if rec.get("metric") == "headline_suite_seconds":
        ext = (f" (+{rec['extended_total']}s/{rec.get('n_extended', '?')} "
               "ext)" if "extended_total" in rec else "")
        cal = (f", calib {rec['calib_seconds']}s"
               if "calib_seconds" in rec else "")
        # r12 verdict item #4: raw AND drift-adjusted, side by side —
        # adjusted is the cross-round comparable
        adj = (f", adj {rec['value_calib_adjusted']}s"
               if rec.get("value_calib_adjusted") else "")
        return f"{rec['value']}s/25q{adj}{ext}{cal}"
    return "unparseable (rc=%s)" % rec.get("rc")


def main() -> None:
    lines = [
        "# BENCH_INDEX — per-round benchmark evidence",
        "",
        "Generated by `tools/gen_bench_index.py`. One row per round:",
        "the DRIVER artifact is the official record (sf0.1, driver box);",
        "the LOCAL artifact (when present) is the builder's quiet-box",
        "n>=3-median run — authoritative for round-over-round comparison",
        "when the driver box drifted (see notes). Superseded mid-round",
        "artifacts are in `bench_archive/`. From round 12 every headline",
        "carries `calib_seconds` — a fixed 60M-row shuffle+agg probe —",
        "so environment drift divides out mechanically; from round 13 the",
        "line also carries `value_calib_adjusted` = value x (0.509 /",
        "calib_seconds), the cross-round comparable (raw compares within",
        "a run, adjusted across boxes). Also from round 13, the default",
        "bench mode re-times HEADLINE + the round's CHANGED extended",
        "entries only (a hand-kept list in bench.py); the full extended",
        "record runs with SPARK_GRAFT_BENCH_EXTENDED=all (the builder's",
        "local records and every-few-rounds full sweeps), so an",
        "`extended_total` is only round-comparable at equal",
        "`extended_mode`. From round 14 the adjustment divides by the",
        "MEAN of the start/end probe bracket when both ran (one",
        "transient reading cannot skew it), and the headline carries",
        "`changed_round`, the round that list was built for.",
        "After round 16 the `changed` mode and `changed_round` are gone:",
        "the default mode (`none`) re-times HEADLINE only, so",
        "`extended_total` compares only at equal `extended_mode`.",
        "",
        "## CALIB_REF re-base protocol (r13 verdict item #6)",
        "",
        "`bench.CALIB_REF` (0.509s) is the pinned probe's quiet-box",
        "reading from the r12 authoritative local record — every",
        "`value_calib_adjusted` across every round divides by it, so",
        "changing it rewrites history. Re-base ONLY when (a) the probe",
        "workload itself must change (then",
        "`test_calibration_workload_pinned` changes with it and NO",
        "adjusted number compares across the seam), or (b) the driver",
        "box generation visibly changes (sustained shift in",
        "`calib_seconds` across >=2 rounds, not one noisy run). To",
        "re-base: measure the pinned probe on an idle box, n>=5,",
        "take the median, commit the new constant in the SAME commit as",
        "the measurement evidence (a BENCH_* sidecar with the 5 raw",
        "readings), and note the seam in this file's round table —",
        "never mid-round, never from a single reading, never from a",
        "run that also timed queries.",
        "",
        "| round | driver artifact | driver headline | local artifact |"
        " local headline | environment note |",
        "|---|---|---|---|---|---|",
    ]
    rounds = sorted(
        {int(m.group(1)) for f in os.listdir(ROOT)
         for m in [__import__("re").match(
             r"BENCH_(?:LOCAL_)?r(\d+)[a-z]?\.json$", f)] if m})
    for r in rounds:
        drv = f"BENCH_r{r:02d}.json"
        loc = f"BENCH_LOCAL_r{r:02d}.json"
        loc_g = f"BENCH_LOCAL_r{r:02d}g.json"
        loc_name = (loc_g if os.path.exists(os.path.join(ROOT, loc_g))
                    else loc if os.path.exists(os.path.join(ROOT, loc))
                    else None)
        lines.append("| r%02d | %s | %s | %s | %s | %s |" % (
            r, drv, fmt(headline(os.path.join(ROOT, drv))),
            loc_name or "-",
            fmt(headline(os.path.join(ROOT, loc_name))) if loc_name else "-",
            NOTES.get(r, "")))
    lines += [
        "",
        "## Sidecar evidence (latest per family)",
        "",
        "| family | artifact | what it proves |",
        "|---|---|---|",
        "| headroom | BENCH_HEADROOM_r11c.json + BENCH_HEADROOM_r12.json | "
        "sf0.1->sf1 growth sub-linear for every banded/iterative family; "
        "r12: the recall AUDIT inherits the uncapped pin's dup-clique "
        "super-linearity (19x at 10x - sample it at scale), production "
        "twins stay flat |",
        "| classifier width | BENCH_LOGREG_r12.json | 2^16/2^18/2^20 "
        "unigram+bigram ladder: register rows sub-linear, wall flat, "
        "default guard raises at 2^20 |",
        "| BPE scale | BENCH_BPE_r10.json | batched trainer at "
        "production vocab |",
        "| skew plan->action | BENCH_SKEW_r12.json | salted_join under "
        "salting_plan factors vs plain SMJ with AQE skew on/off |",
        "| simhash outlier A/B | BENCH_AB_SIMHASH_r13.json + "
        "BENCH_AB_SIMHASH_r14.json | r12 item #2 closed: same-box n=5 "
        "r11-commit-vs-HEAD medians for the two unadjudicated "
        "quiet-box outliers differ <=7% (1.07x/0.99x) - environment "
        "variance on 1-2s shuffle-heavy queries, zero code "
        "regression. r14 re-ran the A/B with the FIXED loader (r13 "
        "ADVICE: worktree imports no longer shadowed by HEAD): same "
        "conclusion, 0.98x/1.05x with anchors matched to 1ms |",
        "| TPC-H block recheck (r14) | BENCH_TPCH_r14.json | r13 item "
        "#5 pre-confirmed ahead of the r15 full record: on a settled "
        "box (flagship anchor 0.59x r12) the 7 transient-inflated "
        "rows read 1.00-1.43x r12, within the established short-query "
        "noise band - code unchanged; a host-contended first attempt "
        "(calib 3.1s, zero local load) is kept in the artifact as "
        "evidence of the disturbance class |",
        "| PCA trio recheck + commit A/B | BENCH_PCA_r14.json | r13 "
        "item #4 closed: idle n=5 re-read PLUS same-box "
        "r12-commit-vs-HEAD A/B - HEAD reads FASTER than the r12 "
        "commit on every family member (top_components 10.09s vs "
        "11.96s) at healthy calib, so the r13 sweep's 1.20-1.28x was "
        "a favorable r12 box-day, not code; the family's per-job "
        "scheduler overhead is under-weighted by the 60M-row calib "
        "probe, which is why equal-calib rounds can disagree ~1.2x "
        "on it |",
        "| drift narratives | BENCH_EXONERATION.md, BENCH_HEADROOM.md | "
        "the r05 and r11 environment adjudications |",
        "",
    ]
    out = os.path.join(ROOT, "BENCH_INDEX.md")
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out} ({len(rounds)} rounds)", file=sys.stderr)


if __name__ == "__main__":
    main()
