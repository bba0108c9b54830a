"""Pins bench.py's machine-readable stdout contract (the driver parses
the LAST stdout line as the headline JSON record; a silent format drift
would drop the run's benchmark evidence without any visible failure)
and the driver's computed certification window."""

import glob
import json
import os
import shutil
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402


def _fake_timings():
    return {q: 0.1 for q in bench.HEADLINE + bench.EXTENDED}


def test_headline_is_last_line_and_parses_standalone():
    lines = bench.summary_lines(_fake_timings(), "/root/testdata/sf0.1", 3)
    # detail line + one headline_query_seconds line per headline query +
    # the compact headline summary LAST
    assert len(lines) == 2 + len(bench.HEADLINE)
    head = json.loads(lines[-1])  # the driver's tail-of-stdout read
    assert head["metric"] == "headline_suite_seconds"
    assert isinstance(head["value"], (int, float))
    assert head["unit"] == "sec"
    assert head["sf"] == 0.1
    assert head["n_queries"] == len(bench.HEADLINE)
    # the machine-factor probe and the drift-corrected value ride in the
    # same line, so adjusted ratios need no same-box A/B runs
    assert "calib_seconds" in head
    assert head["calib_ref"] == bench.CALIB_REF
    assert "value_calib_adjusted" in head
    # the headline must never outgrow a tail-read window: it carries no
    # per-query dict (that is the first line's job)
    assert "queries" not in head
    assert len(lines[-1]) < 600
    # every headline query gets a standalone one-line record a tail
    # parser can extract without parsing the detail dict
    per_query = [json.loads(ln) for ln in lines[1:-1]]
    assert [p["query"] for p in per_query] == bench.HEADLINE
    for p in per_query:
        assert p["metric"] == "headline_query_seconds"
        assert isinstance(p["sec"], (int, float))
        assert p["sf"] == 0.1
    # the mid-headline probe is carried in the record and must NOT change
    # the pinned bracket-mean adjustment
    assert "calib_seconds_mid" in head
    adj_with_mid = json.loads(bench.summary_lines(
        _fake_timings(), "/root/testdata/sf0.1", 3, calib=1.018,
        calib_end=0.509, calib_mid=99.0)[-1])
    assert abs(adj_with_mid["value_calib_adjusted"]
               - adj_with_mid["value"] * bench.CALIB_REF / 0.7635) < 5e-4


def test_calib_adjusted_value_formula():
    lines = bench.summary_lines(_fake_timings(), "/root/testdata/sf0.1",
                                3, calib=1.018, calib_end=0.509)
    head = json.loads(lines[-1])
    # the adjustment divides by the MEAN of the start/end bracket
    # readings, so one transient probe reading cannot skew it
    assert abs(head["value_calib_adjusted"]
               - head["value"] * bench.CALIB_REF / 0.7635) < 5e-4
    # end probe missing (crash-truncated run) -> fall back to start alone
    start_only = json.loads(bench.summary_lines(
        _fake_timings(), "/root/testdata/sf0.1", 3, calib=1.018)[-1])
    assert abs(start_only["value_calib_adjusted"]
               - start_only["value"] * bench.CALIB_REF / 1.018) < 5e-4
    # no probe (calib=0, e.g. a unit test) -> adjusted is null, not bogus
    no_probe = json.loads(bench.summary_lines(
        _fake_timings(), "/root/testdata/sf0.1", 3)[-1])
    assert no_probe["value_calib_adjusted"] is None


def test_extended_pruning_modes():
    """=all times every EXTENDED entry, =none the headline only; a typo
    fails loudly; summary_lines sums whatever subset actually ran."""
    assert bench._extended_to_run("all") == bench.EXTENDED
    assert bench._extended_to_run("none") == []
    with pytest.raises(ValueError, match="'al'"):
        bench._extended_to_run("al")
    timings = {q: 0.1 for q in bench.HEADLINE}
    head = json.loads(bench.summary_lines(
        timings, "/root/testdata/sf0.1", 3, calib=0.5,
        extended_mode="none")[-1])
    assert head["n_extended"] == 0
    assert head["extended_mode"] == "none"
    assert head["extended_total"] == 0
    assert head["value"] == round(0.1 * len(bench.HEADLINE), 3)


def test_detail_line_carries_every_query():
    lines = bench.summary_lines(_fake_timings(), "/root/testdata/sf0.01", 1)
    detail = json.loads(lines[0])
    assert detail["metric"] == "headline_suite_seconds_detail"
    assert set(detail["queries"]) == set(bench.HEADLINE + bench.EXTENDED)
    assert detail["sf"] == 0.01


def test_each_line_is_single_line_json():
    for line in bench.summary_lines(_fake_timings(), "/root/testdata/sf1", 3):
        assert "\n" not in line
        json.loads(line)  # must round-trip


def test_calibration_workload_pinned(spark):
    """The calib probe's workload is the unit cross-run comparisons
    divide by — pin its result set (exactly 1024 register rows over a
    32-way source) so a silent plan edit cannot re-base the metric."""
    assert bench._calib_df(spark).count() == 1024


def _certs(root, rnd, rows):
    with open(os.path.join(root, f"CORRECTNESS_r{rnd:02d}.json"), "w") as f:
        json.dump(rows, f)


def test_window_orders_oldest_certs_first(tmp_path):
    """The driver certifies the first 50 of queries(): rows go oldest
    newest-green-cert first, never-certified first of all, registry
    order breaking ties."""
    import __spark_entry__ as entry
    green = {"err": None, "rows_match": True}
    registry = dict.fromkeys(["a", "b", "c", "d", "e"], None)
    _certs(tmp_path, 1, {q: green for q in "abcd"})
    _certs(tmp_path, 2, {"b": green, "zz": green,
                         "c": {"err": "boom", "rows_match": True},
                         "d": {"err": None, "rows_match": False}})
    (tmp_path / "CORRECTNESS_r03.json").write_text("{not json")
    assert entry.newest_green_certs(str(tmp_path)) == {
        "a": 1, "b": 2, "c": 1, "d": 1, "zz": 2}
    assert list(entry._ordered(registry, str(tmp_path))) == [
        "e", "a", "c", "d", "b"]


def test_window_on_the_real_tree(tmp_path):
    """queries() and oracle_sql() list every registered name once, in
    the computed order; a new CORRECTNESS file that certifies the
    current window moves those rows behind every other row."""
    import __spark_entry__ as entry
    from amundsendatabuilder_spark.plans.oracle_suite import ORACLES, QUERIES
    newest = entry.newest_green_certs()
    for got, registry in ((entry.queries(), QUERIES),
                          (entry.oracle_sql(), ORACLES)):
        assert sorted(got) == sorted(registry)
        index = {k: i for i, k in enumerate(registry)}
        keys = [(newest.get(k, 0), index[k]) for k in got]
        assert keys == sorted(keys)

    for path in glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json")):
        shutil.copy(path, tmp_path)
    window = list(entry._ordered(QUERIES, str(tmp_path)))[:50]
    latest = max(entry.newest_green_certs(str(tmp_path)).values())
    _certs(tmp_path, latest + 1,
           {q: {"err": None, "rows_match": True} for q in window})
    after = list(entry._ordered(QUERIES, str(tmp_path)))
    assert set(after[-50:]) == set(window)
