"""plans/manifest.json against the code: the manifest names every registry
query, and a fresh process running a registry prefix reproduces the
prefix's job counts and plan fingerprints. Regenerate the manifest with
``python tools/plan_manifest.py`` when a change moves either."""

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

import plan_manifest  # noqa: E402

# the first registry queries; run first in a fresh process, they see the
# session state the full run gave them
PREFIX = 25


def _manifest() -> dict:
    with open(plan_manifest.MANIFEST) as f:
        return json.load(f)["queries"]


def test_manifest_names_are_the_registry():
    from amundsendatabuilder_spark.plans.oracle_suite import QUERIES
    assert list(_manifest()) == list(QUERIES)


def test_normalize_strips_rdd_call_site():
    """An RDD scan's call site depends on what ran earlier in the process,
    not on the query, so it is no part of the fingerprint."""
    desc = ("* Scan ExistingRDD (1)\n\n(1) Scan ExistingRDD\n"
            "Output [1]: [a#{i}]\n"
            "Arguments: [a#{i}], MapPartitionsRDD[{i}] at "
            "applySchemaToPythonRDD at {site}, ExistingRDD, "
            "UnknownPartitioning(0)\n")
    unknown = plan_manifest.normalize(desc.format(i=13, site="<unknown>:0"))
    native = plan_manifest.normalize(
        desc.format(i=1217, site="NativeMethodAccessorImpl.java:0"))
    assert unknown == native
    assert "applySchemaToPythonRDD" in unknown and "ExistingRDD" in unknown


@pytest.mark.skipif(not os.path.isdir(plan_manifest.SF_DIR),
                    reason="sf0.001 testdata not present")
def test_registry_prefix_matches_manifest():
    manifest = _manifest()
    names = list(manifest)[:PREFIX]
    got = plan_manifest.measure_in_fresh_process(names)
    moved = []
    for name in names:
        rec, (lo, hi) = got[name], manifest[name]["jobs"]
        if "error" in rec:
            moved.append(f"{name}: {rec['error']}")
            continue
        if not lo <= rec["jobs"] <= hi:
            moved.append(f"{name}: {rec['jobs']} jobs, manifest [{lo}, {hi}]")
        if rec["plans"] != manifest[name]["plans"]:
            moved.append(f"{name}: plan fingerprints changed")
    assert not moved, ("regenerate plans/manifest.json "
                       "(python tools/plan_manifest.py):\n" + "\n".join(moved))
