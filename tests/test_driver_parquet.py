"""Smoke tests over the DRIVER-GENERATED parquet at /root/testdata.

Round-4 lesson: the testdata's on-disk timestamp encoding has silently
changed twice (TIMESTAMP(NANOS) -> bigint-with-workaround, then
TIMESTAMP(micros, isAdjustedToUTC=false) -> TIMESTAMP_NTZ in Spark 4),
and createDataFrame-built fixtures can't catch that. These tests read the
real files through ``load_tables`` and exercise the *epoch-math* temporal
path (``unix_micros``), which is the strictest consumer of the timestamp
type — NTZ columns pass ``date_trunc``/``window`` but fail ``unix_micros``
with DATATYPE_MISMATCH.
"""

import os

import pytest

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="driver testdata not present")


def test_load_tables_normalizes_timestamps(spark):
    from amundsendatabuilder_spark.session import load_tables
    tables = load_tables(spark, SF_DIR)
    dtypes = dict(tables["events"].dtypes)
    # the contract every temporal operator relies on: a plain TIMESTAMP
    # (tz-bound under the UTC session), never TIMESTAMP_NTZ or raw bigint
    assert dtypes["ts"] == "timestamp", dtypes
    for name, df in tables.items():
        assert "timestamp_ntz" not in {t for _, t in df.dtypes}, name


def test_unix_micros_temporal_query_runs_on_driver_parquet(spark):
    """sessionize_batch is the canonical unix_micros consumer: gaps-and-
    islands over lag(ts) epoch deltas. If the driver's parquet encoding
    drifts again, this fails in pytest instead of in CORRECTNESS_r{N}."""
    from amundsendatabuilder_spark.session import load_tables
    from amundsendatabuilder_spark.streaming.events import sessionize_batch
    events = load_tables(spark, SF_DIR, ("events",))["events"]
    sessions = sessionize_batch(events, gap_minutes=30)
    assert sessions.count() > 0
    # schema sanity: session bounds are real timestamps
    dtypes = dict(sessions.dtypes)
    assert "session_id" in dtypes or "session_start" in dtypes, dtypes


def test_attribution_and_asof_run_on_driver_parquet(spark):
    """The other three round-4 casualties, end-to-end at sf0.001."""
    import __spark_entry__ as entry
    qs = entry.queries()
    for name in ("asof_view_before_purchase", "conversion_attribution",
                 "event_interarrival"):
        assert qs[name](spark, SF_DIR).count() >= 0, name


def test_t_with_no_names_loads_every_table(spark):
    """``_t(spark, sf_dir)`` with no table names resolves every table of
    ``TPCH_TABLES``, in that order."""
    from amundsendatabuilder_spark.plans.oracle_suite import _t
    from amundsendatabuilder_spark.session import TPCH_TABLES
    dfs = _t(spark, SF_DIR)
    assert len(dfs) == len(TPCH_TABLES)
    assert [df.columns[0] for df in dfs[:2]] == ["r_regionkey", "n_nationkey"]
    assert dfs[TPCH_TABLES.index("events")].count() > 0
