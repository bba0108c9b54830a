"""Structured-Streaming tests: windowed counts and sessionization over a
file-source stream (AvailableNow drain -> memory sink)."""

import os

import pytest


def test_windowed_counts_stream(spark, tmp_path):
    from amundsendatabuilder_spark.session import load_tables
    from amundsendatabuilder_spark.streaming.events import (
        read_event_stream, run_to_memory, windowed_counts)
    # stage events as a stream-source directory
    events = load_tables(spark, "/root/testdata/sf0.001", ("events",))["events"]
    src = str(tmp_path / "events_src")
    events.write.mode("overwrite").parquet(src)

    stream = read_event_stream(spark, src)
    agg = windowed_counts(stream, window="1 hour", watermark="2 hours")
    got = run_to_memory(agg)
    # batch equivalent for comparison (watermark drops nothing in a
    # bounded replay ordered within one batch)
    from pyspark.sql import functions as F
    want = (events.groupBy(F.date_trunc("hour", "ts").alias("window_start"),
                           "event_type")
            .agg(F.count("*").alias("n_events")))
    got_c = {(str(r["window_start"]), r["event_type"]): r["n_events"]
             for r in got.collect()}
    want_c = {(str(r["window_start"]), r["event_type"]): r["n_events"]
              for r in want.collect()}
    # append mode emits only windows older than the watermark; every
    # emitted window must match the batch result exactly
    assert got_c
    assert all(want_c[k] == v for k, v in got_c.items())


def test_sessionize_stream(spark, tmp_path):
    from amundsendatabuilder_spark.streaming.events import (
        read_event_stream, run_to_memory, sessionize)
    import datetime
    rows = [
        (1, datetime.datetime(2024, 1, 1, 0, 0), 1, "click", 1.0, "{}"),
        (2, datetime.datetime(2024, 1, 1, 0, 10), 1, "click", 1.0, "{}"),
        (3, datetime.datetime(2024, 1, 1, 2, 0), 1, "click", 1.0, "{}"),
        (4, datetime.datetime(2024, 1, 1, 0, 5), 2, "view", 2.0, "{}"),
        # late sentinel far in the future closes the earlier sessions
        (5, datetime.datetime(2024, 1, 2, 0, 0), 9, "view", 0.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string,"
              " value double, props string")
    src = str(tmp_path / "sess_src")
    df.write.mode("overwrite").parquet(src)
    stream = read_event_stream(spark, src)
    got = run_to_memory(sessionize(stream, gap="30 minutes"))
    sessions = {(r["user_id"], str(r["window_start"])): r["n_events"]
                for r in got.collect()}
    # user 1: events at 0:00+0:10 merge (gap<30m), 2:00 separate
    assert sessions[(1, "2024-01-01 00:00:00")] == 2
    assert sessions[(1, "2024-01-01 02:00:00")] == 1
    assert sessions[(2, "2024-01-01 00:05:00")] == 1


def test_registry_stream_leaves_no_checkpoint_behind(spark, tmp_path,
                                                     monkeypatch):
    """A registry streaming entry's drain removes its checkpoint: with the
    temp directory pointed at an empty folder, the folder is still empty
    once the entry's rows are collected."""
    import tempfile

    from amundsendatabuilder_spark.plans.oracle_suite import QUERIES
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    rows = QUERIES["stream_windowed_counts"](
        spark, "/root/testdata/sf0.001").collect()
    assert rows
    assert list(tmp_path.iterdir()) == []


@pytest.mark.parametrize("encoding", ["int64_nanos", "int64_micros_ntz",
                                      "int96"])
def test_read_table_stream_matches_load_tables(spark, tmp_path, encoding):
    """Whatever the events file's ``ts`` encoding, the stream reader gives
    the rows and the ``timestamp`` type that ``load_tables`` gives."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from amundsendatabuilder_spark.session import (
        load_tables, read_table_stream)
    from amundsendatabuilder_spark.streaming.events import run_to_memory
    times = [dt.datetime(2024, 1, 1, 0, 0), dt.datetime(2024, 1, 1, 1, 30),
             dt.datetime(2024, 3, 5, 12, 0, 0, 123456)]
    unit = "us" if encoding == "int64_micros_ntz" else "ns"
    table = pa.table({
        "event_id": pa.array([1, 2, 3], pa.int64()),
        "ts": pa.array(times, pa.timestamp(unit)),
        "user_id": pa.array([7, 8, 9], pa.int64()),
        "event_type": ["view", "click", "purchase"],
        "value": [1.0, 2.0, 3.0],
        "props": ["{}", "{}", "{}"]})
    pq.write_table(table, str(tmp_path / "events.parquet"),
                   use_deprecated_int96_timestamps=encoding == "int96")
    sf_dir = str(tmp_path)

    batch = load_tables(spark, sf_dir, ("events",))["events"]
    stream = run_to_memory(read_table_stream(spark, sf_dir, "events"))
    assert dict(batch.dtypes)["ts"] == "timestamp"
    assert dict(stream.dtypes)["ts"] == "timestamp"
    got = sorted(tuple(r) for r in stream.select("event_id", "ts").collect())
    want = sorted(tuple(r) for r in batch.select("event_id", "ts").collect())
    assert got == want == list(zip([1, 2, 3], times))


def test_stream_first_seen_dedup(spark, tmp_path):
    """Duplicates across micro-batches are dropped: the second run re-sends
    fingerprints from the first and contributes nothing new (state store
    survives via the checkpoint)."""
    from amundsendatabuilder_spark.streaming.dedup_stream import first_seen_filter

    src = tmp_path / "docs_in"
    src.mkdir()
    chk = str(tmp_path / "chk")
    b1 = spark.createDataFrame(
        [(1, "aa"), (2, "bb"), (3, "aa")], "doc_id long, fingerprint string")
    b1.coalesce(1).write.parquet(str(src / "b1"))

    stream = (spark.readStream.schema("doc_id long, fingerprint string")
              .option("pathGlobFilter", "*.parquet")
              .parquet(str(src) + "/*"))
    out = first_seen_filter(stream)
    emitted = []

    def run_once():
        batch_rows = []
        q = (out.writeStream
             .foreachBatch(lambda df, _: batch_rows.extend(df.collect()))
             .outputMode("update").option("checkpointLocation", chk)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        return batch_rows

    rows1 = {r.fingerprint: r for r in run_once()}
    assert set(rows1) == {"aa", "bb"}
    assert rows1["aa"].doc_id == 1  # min doc_id within the first batch
    emitted.extend(rows1)

    # second micro-batch: all dups + one new fingerprint
    b2 = spark.createDataFrame(
        [(4, "aa"), (5, "cc")], "doc_id long, fingerprint string")
    b2.coalesce(1).write.parquet(str(src / "b2"))
    rows2 = {r.fingerprint: r.doc_id for r in run_once()}
    assert rows2 == {"cc": 5}  # 'aa' suppressed by state from batch 1


def test_minhash_projected_matches_aggregated(spark):
    """The per-row (streaming-safe) MinHash form returns bit-identical
    signatures to the batch explode+groupBy form on the fixture corpus."""
    from amundsendatabuilder_spark.operators.dedup import (
        minhash_signatures, minhash_signatures_projected)
    from amundsendatabuilder_spark.session import load_tables
    docs = load_tables(spark, "/root/testdata/sf0.001", ("documents",))["documents"]
    agg = {tuple(r) for r in minhash_signatures(docs, num_hashes=16).collect()}
    proj = {tuple(r) for r in
            minhash_signatures_projected(docs, num_hashes=16).collect()}
    assert proj == agg and len(agg) > 0


def test_stream_near_dup_candidates(spark, tmp_path):
    """Near-dups are caught ACROSS micro-batches: a doc arriving in batch 2
    pairs with the bucket keeper persisted from batch 1."""
    from amundsendatabuilder_spark.streaming.dedup_stream import (
        near_dup_candidates)

    text_a = "the quick brown fox jumps over the lazy dog again and again"
    text_b = "completely different content about spark adaptive execution plans"
    src = tmp_path / "nd_in"
    src.mkdir()
    chk = str(tmp_path / "nd_chk")
    spark.createDataFrame([(1, text_a), (2, text_b)],
                          "doc_id long, text string") \
        .coalesce(1).write.parquet(str(src / "b1"))

    stream = (spark.readStream.schema("doc_id long, text string")
              .option("pathGlobFilter", "*.parquet")
              .parquet(str(src) + "/*"))
    out = near_dup_candidates(stream)

    def run_once():
        rows = []
        q = (out.writeStream
             .foreachBatch(lambda df, _: rows.extend(df.collect()))
             .outputMode("update").option("checkpointLocation", chk)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        return rows

    assert run_once() == []  # two dissimilar docs: no shared bucket
    # batch 2: an exact copy of doc 1 -> pairs with the batch-1 keeper
    spark.createDataFrame([(7, text_a)], "doc_id long, text string") \
        .coalesce(1).write.parquet(str(src / "b2"))
    pairs = {(r.doc_a, r.doc_b) for r in run_once()}
    assert pairs == {(1, 7)}  # all 4 bands collapse to the one distinct pair


def test_commit_on_success_contract(spark, tmp_path):
    """The reference's Kafka contract (offsets committed ONLY after the
    downstream publish succeeds, kafka_source_extractor.py:116-130) mapped
    to checkpointing: a sink that fails leaves offsets uncommitted, so the
    next run REPLAYS the batch; after a successful run the data is not
    redelivered."""
    from amundsendatabuilder_spark.streaming.kafka_job import run_available_now

    src = tmp_path / "in"
    src.mkdir()
    chk = str(tmp_path / "chk")
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string") \
        .coalesce(1).write.parquet(str(src / "f1"))
    stream = (spark.readStream.schema("id long, v string")
              .option("pathGlobFilter", "*.parquet").parquet(str(src) + "/*"))

    delivered = []

    def failing_sink(df, epoch):
        raise RuntimeError("publish failed")

    import pytest as _pytest
    q = run_available_now(stream, chk, failing_sink)
    with _pytest.raises(Exception):
        q.awaitTermination(120)

    def good_sink(df, epoch):
        delivered.extend(r.id for r in df.collect())

    run_available_now(stream, chk, good_sink).awaitTermination(120)
    assert sorted(delivered) == [1, 2]  # replayed after failure

    delivered.clear()
    run_available_now(stream, chk, good_sink).awaitTermination(120)
    assert delivered == []  # committed: no redelivery


def test_sessionize_stream_matches_batch(spark, tmp_path):
    """Cross-check the two sessionization implementations: with a second
    micro-batch advancing the watermark past every real session, the
    stream (append mode) must emit EXACTLY the sessions the batch
    gaps-and-islands computation produces."""
    import datetime as dt

    from amundsendatabuilder_spark.streaming.events import (
        run_to_memory, sessionize, sessionize_batch)

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for user in range(1, 6):
        for s in range(3):  # 3 sessions/user, >30-min gaps between them
            base = t0 + dt.timedelta(minutes=s * 60 + user)
            for k in range(4):
                rows.append((eid, base + dt.timedelta(minutes=5 * k),
                             user, "view", 1.0, "{}"))
                eid += 1
    schema = ("event_id long, ts timestamp, user_id long, event_type string,"
              " value double, props string")
    events = spark.createDataFrame(rows, schema)
    pusher = spark.createDataFrame(
        [(99999, t0 + dt.timedelta(hours=10), 99, "view", 1.0, "{}")], schema)
    src = tmp_path / "ev"
    src.mkdir()
    events.coalesce(1).write.parquet(str(src / "f1"))
    pusher.coalesce(1).write.parquet(str(src / "f2"))

    batch = {(r.user_id, r.session_start_us, r.n_events)
             for r in sessionize_batch(events).collect()}

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1)  # f2's batch advances the watermark
              .option("pathGlobFilter", "*.parquet")
              .parquet(str(src) + "/*"))
    out = run_to_memory(sessionize(stream, gap="30 minutes"))
    streamed = {(r.user_id, int(r.window_start.timestamp() * 1_000_000),
                 r.n_events) for r in out.collect() if r.user_id != 99}
    assert streamed == batch


def test_stream_stream_attribution_interval_join(spark, tmp_path):
    """Watermarked stream-stream interval join: purchases match same-user
    views within the lookback only; out-of-window and wrong-user views
    never emit."""
    import datetime
    from amundsendatabuilder_spark.streaming.events import (
        read_event_stream, run_to_memory, stream_stream_attribution)
    t0 = datetime.datetime(2024, 1, 1, 12, 0)
    m = datetime.timedelta(minutes=1)
    rows = [
        (1, t0 - 10 * m, 1, "view", 1.0, "{}"),      # in window
        (2, t0 - 90 * m, 1, "view", 1.0, "{}"),      # too old
        (3, t0 + 1 * m, 1, "view", 1.0, "{}"),       # after purchase
        (4, t0 - 5 * m, 2, "view", 1.0, "{}"),       # other user
        (10, t0, 1, "purchase", 9.0, "{}"),
        (11, t0, 3, "purchase", 9.0, "{}"),          # no views -> no emit
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string,"
              " value double, props string")
    src = str(tmp_path / "attr_src")
    df.write.mode("overwrite").parquet(src)
    stream = read_event_stream(spark, src)
    joined = stream_stream_attribution(
        stream.where("event_type = 'view'"),
        stream.where("event_type = 'purchase'"),
        lookback_minutes=60)
    got = run_to_memory(joined)
    pairs = sorted((r["event_id"], str(r["view_ts"])) for r in got.collect())
    assert pairs == [(10, "2024-01-01 11:50:00")]


def test_stream_stream_attribution_outer_emits_null_rows(spark, tmp_path):
    """Left-outer twin: a purchase with zero in-window views emits a
    NULL-view row once the watermark passes it; matches emit identically
    to the inner variant; purchases above the frontier stay in state."""
    import datetime
    from amundsendatabuilder_spark.streaming.events import (
        read_event_stream, run_to_memory, stream_stream_attribution_outer)
    t0 = datetime.datetime(2024, 1, 1, 12, 0)
    m = datetime.timedelta(minutes=1)
    rows = [
        (1, t0 - 10 * m, 1, "view", 1.0, "{}"),        # in window
        (4, t0 - 5 * m, 2, "view", 1.0, "{}"),         # other user
        (10, t0, 1, "purchase", 9.0, "{}"),            # matched
        (11, t0, 3, "purchase", 9.0, "{}"),            # no views -> NULL row
        # sentinels push both watermarks (min policy) past t0 + 2h
        (90, t0 + 150 * m, 9, "view", 1.0, "{}"),
        (91, t0 + 150 * m, 9, "purchase", 1.0, "{}"),  # above frontier: held
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string,"
              " value double, props string")
    src = str(tmp_path / "attro_src")
    df.write.mode("overwrite").parquet(src)
    stream = read_event_stream(spark, src)
    joined = stream_stream_attribution_outer(
        stream.where("event_type = 'view'"),
        stream.where("event_type = 'purchase'"),
        lookback_minutes=60)
    got = run_to_memory(joined)
    pairs = sorted((r["event_id"], str(r["view_ts"])) for r in got.collect())
    # 10 matched, 11 null-extended; 91 held in state (watermark frontier),
    # sentinel 90's view matches purchase 91 only if within window — it is
    # (same ts), but 91 itself is above the frontier so the match DOES emit
    # (matches never wait for the watermark)
    assert pairs == [(10, "2024-01-01 11:50:00"), (11, "None"),
                     (91, "2024-01-01 14:30:00")]


def test_sessionize_merges_across_micro_batches(spark, tmp_path):
    """Session-window STATE must merge fragments that arrive in different
    micro-batches: user 1's three events straddle two files processed as
    separate batches (maxFilesPerTrigger=1), yet append-mode emission
    after the watermark passes shows ONE merged session of 3 events —
    the cross-batch semantics the single-batch drain oracles can't pin."""
    import datetime as dt

    from amundsendatabuilder_spark.streaming.events import (
        run_to_memory, sessionize)
    schema = ("event_id long, ts timestamp, user_id long, event_type string,"
              " value double, props string")
    src = tmp_path / "sess_src"
    src.mkdir()
    b1 = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 0, 0), 1, "click", 1.0, "{}"),
         (2, dt.datetime(2024, 1, 1, 0, 10), 1, "click", 1.0, "{}")], schema)
    b1.coalesce(1).write.parquet(str(src / "a_batch1"))
    b2 = spark.createDataFrame(
        [(3, dt.datetime(2024, 1, 1, 0, 20), 1, "click", 1.0, "{}"),
         # far-future sentinel advances the watermark past the session
         (4, dt.datetime(2024, 1, 2, 0, 0), 9, "view", 0.0, "{}")], schema)
    b2.coalesce(1).write.parquet(str(src / "b_batch2"))

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1)
              .option("latestFirst", "false")
              .parquet(str(src) + "/*"))
    got = run_to_memory(sessionize(stream, gap="30 minutes"))
    user1 = [(str(r["window_start"]), r["n_events"])
             for r in got.collect() if r["user_id"] == 1]
    # one MERGED session: fragments from batch 1 and batch 2 fused in state
    assert user1 == [("2024-01-01 00:00:00", 3)]


def test_windowed_counts_accumulate_across_micro_batches(spark, tmp_path):
    """Tumbling-window state accumulates across micro-batches: the same
    hour arriving in two files sums to one row once emitted."""
    import datetime as dt

    from amundsendatabuilder_spark.streaming.events import (
        run_to_memory, windowed_counts)
    schema = ("event_id long, ts timestamp, user_id long, event_type string,"
              " value double, props string")
    src = tmp_path / "win_src"
    src.mkdir()
    spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 5, 1), 1, "click", 1.0, "{}"),
         (2, dt.datetime(2024, 1, 1, 5, 2), 2, "click", 2.0, "{}")],
        schema).coalesce(1).write.parquet(str(src / "a_b1"))
    spark.createDataFrame(
        [(3, dt.datetime(2024, 1, 1, 5, 50), 3, "click", 4.0, "{}"),
         (4, dt.datetime(2024, 1, 2, 0, 0), 9, "view", 0.0, "{}")],
        schema).coalesce(1).write.parquet(str(src / "b_b2"))
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1)
              .option("latestFirst", "false")
              .parquet(str(src) + "/*"))
    got = run_to_memory(windowed_counts(stream, window="1 hour",
                                        watermark="2 hours"))
    clicks = {str(r["window_start"]): (r["n_events"], r["total_value"])
              for r in got.collect() if r["event_type"] == "click"}
    assert clicks["2024-01-01 05:00:00"] == (3, 7.0)


def test_windowed_distinct_registers_match_batch_sketch(spark, tmp_path):
    """Streaming HLL registers drained append-mode must equal the batch
    sketch of the same events restricted to emitted windows — including
    when the stream arrives as TWO files (cross-batch max-merge in the
    state store)."""
    from pyspark.sql import functions as F

    from amundsendatabuilder_spark.operators import sketches
    from amundsendatabuilder_spark.session import load_tables
    from amundsendatabuilder_spark.streaming.events import (
        read_event_stream, run_to_memory, windowed_distinct_registers)
    events = load_tables(spark, "/root/testdata/sf0.001", ("events",))["events"]
    src = str(tmp_path / "events_src")
    # two files: maxFilesPerTrigger=1 forces two micro-batches, so
    # same-window registers must merge across batches
    events.where(F.col("event_id") % 2 == 0).coalesce(1) \
        .write.mode("overwrite").parquet(src)
    events.where(F.col("event_id") % 2 == 1).coalesce(1) \
        .write.mode("append").parquet(src)

    stream = (spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string")
        .option("maxFilesPerTrigger", "1").parquet(src))
    regs = windowed_distinct_registers(stream)
    got = run_to_memory(regs)
    got_m = {(str(r["window_start"]), r["event_type"], r["bucket"]): r["r"]
             for r in got.collect()}
    assert got_m, "no windows emitted"

    batch = sketches.hll_registers(
        events.select(F.date_trunc("hour", "ts").alias("window_start"),
                      "event_type", "user_id"),
        "user_id", ("window_start", "event_type"))
    want_m = {(str(r["window_start"]), r["event_type"], r["bucket"]): r["r"]
              for r in batch.collect()}
    # every emitted register matches the batch register exactly
    assert all(want_m[k] == v for k, v in got_m.items())


def test_windowed_frequency_registers_match_batch_sketch(spark, tmp_path):
    """Streaming CMS registers drained append-mode must equal the batch
    count-min sketch of the same events per window — including when the
    stream arrives as TWO files (cross-batch SUM-merge in the state
    store)."""
    from pyspark.sql import functions as F

    from amundsendatabuilder_spark.operators import sketches
    from amundsendatabuilder_spark.session import load_tables
    from amundsendatabuilder_spark.streaming.events import (
        run_to_memory, windowed_frequency_registers)
    events = load_tables(spark, "/root/testdata/sf0.001",
                         ("events",))["events"]
    src = str(tmp_path / "events_src")
    events.where(F.col("event_id") % 2 == 0).coalesce(1) \
        .write.mode("overwrite").parquet(src)
    events.where(F.col("event_id") % 2 == 1).coalesce(1) \
        .write.mode("append").parquet(src)

    stream = (spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string")
        .option("maxFilesPerTrigger", "1").parquet(src))
    regs = windowed_frequency_registers(stream)
    got = run_to_memory(regs)
    got_m = {(str(r["window_start"]), r["j"], r["bucket"]): r["cnt"]
             for r in got.collect()}
    assert got_m, "no windows emitted"

    batch = sketches.cms_registers(
        events.select(F.date_trunc("hour", "ts").alias("window_start"),
                      F.col("user_id").cast("string").alias("v")),
        "v", ("window_start",))
    want_m = {(str(r["window_start"]), r["j"], r["bucket"]): r["cnt"]
              for r in batch.collect()}
    # every emitted register must carry the full cross-batch-merged count
    assert all(want_m[k] == v for k, v in got_m.items())


def test_lateness_profile_counts_thresholds(spark):
    from pyspark.sql import functions as F
    from amundsendatabuilder_spark.streaming.events import lateness_profile
    # arrival order 1..4; event 3 is 90s behind the running max, event 4
    # in order
    rows = [(1, "a", 1000), (2, "a", 1100), (3, "a", 1010), (4, "a", 1200)]
    df = (spark.createDataFrame(rows, "event_id long, event_type string, sec long")
          .select("event_id", "event_type",
                  F.col("sec").cast("timestamp").alias("ts")))
    got = lateness_profile(df, thresholds_us=(1_000_000, 60_000_000)).collect()
    r = got[0]
    assert r.n_events == 4
    assert r.n_late_1000000us == 1     # the 90s-late event
    assert r.n_late_60000000us == 1
    assert r.max_lateness_us == 90_000_000


def test_stream_static_enrich_join_is_stateless_and_exact(spark, tmp_path):
    from pyspark.sql import functions as F
    from amundsendatabuilder_spark.session import load_tables
    from amundsendatabuilder_spark.streaming.events import (
        read_event_stream, run_to_memory, stream_static_enrich)
    tbls = load_tables(spark, "/root/testdata/sf0.001",
                       ("events", "customer"))
    events, cust = tbls["events"], tbls["customer"]
    src = str(tmp_path / "events_src")
    events.write.mode("overwrite").parquet(src)

    stream = read_event_stream(spark, src)
    got = run_to_memory(stream_static_enrich(stream, cust))
    want = (events.join(
        cust.select(F.col("c_custkey").alias("user_id"),
                    F.col("c_mktsegment").alias("segment")), "user_id")
        .groupBy(F.date_trunc("hour", "ts").alias("window_start"), "segment")
        .agg(F.count("*").alias("n_events"),
             F.sum(F.floor(F.col("value") * 100).cast("long"))
             .alias("value_cents")))
    got_m = {(str(r["window_start"]), r["segment"]):
             (r["n_events"], r["value_cents"]) for r in got.collect()}
    want_m = {(str(r["window_start"]), r["segment"]):
              (r["n_events"], r["value_cents"]) for r in want.collect()}
    assert got_m  # append frontier emitted something
    assert all(want_m[k] == v for k, v in got_m.items())


def test_last_writer_advances_across_micro_batches(spark, tmp_path):
    from amundsendatabuilder_spark.streaming.dedup_stream import (
        last_writer_filter)
    src = tmp_path / "cdc_src"
    src.mkdir()
    chk = str(tmp_path / "ckpt")
    spark.createDataFrame([(1, 5, 50.0), (2, 3, 30.0)],
                          "k long, seq long, val double") \
        .coalesce(1).write.parquet(str(src / "b1"))
    stream = (spark.readStream.schema("k long, seq long, val double")
              .option("pathGlobFilter", "*.parquet")
              .parquet(str(src) + "/*"))
    out = last_writer_filter(stream)

    def run_once():
        rows = []
        q = (out.writeStream
             .foreachBatch(lambda df, _: rows.extend(df.collect()))
             .outputMode("update").option("checkpointLocation", chk)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        return {r.k: (r.seq, r.val) for r in rows}

    assert run_once() == {1: (5, 50.0), 2: (3, 30.0)}
    # batch 2: key 1 regresses (seq 4 -> absorbed), key 2 advances (seq 7)
    spark.createDataFrame([(1, 4, 40.0), (2, 7, 70.0)],
                          "k long, seq long, val double") \
        .coalesce(1).write.parquet(str(src / "b2"))
    assert run_once() == {2: (7, 70.0)}


def test_windowed_histogram_registers_match_batch(spark, tmp_path):
    from pyspark.sql import functions as F
    from amundsendatabuilder_spark.session import load_tables
    from amundsendatabuilder_spark.streaming.events import (
        read_event_stream, run_to_memory, windowed_histogram_registers)
    events = load_tables(spark, "/root/testdata/sf0.001", ("events",))["events"]
    src = str(tmp_path / "events_src")
    events.write.mode("overwrite").parquet(src)
    got = run_to_memory(
        windowed_histogram_registers(read_event_stream(spark, src)))
    cents = F.floor(F.col("value") * 100).cast("long")
    b = F.least(F.lit(63).cast("long"),
                F.greatest(F.lit(0).cast("long"), cents)
                .cast("long") / F.lit(200)).cast("long")
    want = (events.select(F.date_trunc("hour", "ts").alias("window_start"),
                          F.floor(b).cast("long").alias("bucket"))
            .groupBy("window_start", "bucket")
            .agg(F.count(F.lit(1)).alias("cnt")))
    got_m = {(str(r.window_start), r.bucket): r.cnt for r in got.collect()}
    want_m = {(str(r.window_start), r.bucket): r.cnt for r in want.collect()}
    assert got_m
    assert all(want_m[k] == v for k, v in got_m.items())


def test_stream_asof_join_cross_batch_state_and_frontier(spark, tmp_path):
    """Custom stateful as-of join (streaming/asof_stream.stream_asof_join):

    - MOST-RECENT-prior semantics improve across micro-batches: user 1's
      purchase arrives in batch 1, a closer prior view arrives in batch 2,
      and the emitted row must carry the batch-2 view — proof the purchase
      HELD in state until the frontier passed instead of emitting eagerly.
    - Emission frontier: only purchases with ts strictly behind the final
      watermark (max event ts - delay) emit; later ones stay in state.
    - Left-outer: a purchase with no view in the lookback emits NULL.
    """
    import datetime as dt

    from amundsendatabuilder_spark.streaming.asof_stream import (
        stream_asof_join)
    from amundsendatabuilder_spark.streaming.events import run_to_memory
    schema = ("event_id long, ts timestamp, user_id long, event_type string,"
              " value double, props string")
    src = tmp_path / "asof_src"
    src.mkdir()
    t = lambda m: dt.datetime(2024, 1, 1, 10, 0) + dt.timedelta(minutes=m)
    b1 = spark.createDataFrame(
        [(1, t(0), 1, "view", 0.0, "{}"),
         (2, t(20), 1, "view", 0.0, "{}"),
         (100, t(30), 1, "purchase", 9.0, "{}"),    # best prior arrives later
         (101, t(45), 2, "purchase", 9.0, "{}")],   # no views at all -> NULL
        schema)
    b1.coalesce(1).write.parquet(str(src / "a_b1"))
    b2 = spark.createDataFrame(
        # batch-2 view BEFORE purchase 100's ts: must become its answer
        [(3, t(25), 1, "view", 0.0, "{}"),
         # beyond the final frontier (wm = 13:00 - 2h = 11:00): held back
         (102, t(125), 1, "purchase", 9.0, "{}"),
         # sentinel advances the watermark to 11:00
         (4, t(180), 9, "view", 0.0, "{}")],
        schema)
    b2.coalesce(1).write.parquet(str(src / "b_b2"))

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1)
              .option("latestFirst", "false")
              .parquet(str(src) + "/*"))
    out = run_to_memory(
        stream_asof_join(stream.where("event_type = 'view'"),
                         stream.where("event_type = 'purchase'"),
                         horizon_minutes=60))
    rows = {r.event_id: r for r in out.collect()}
    # purchase 100: answer is the CROSS-BATCH view at 10:25, not 10:20
    assert set(rows) == {100, 101}
    assert rows[100].asof_view_ts == t(25)
    assert rows[100].purchase_ts == t(30)
    # purchase 101: no prior view -> NULL survives (left-outer)
    assert rows[101].asof_view_ts is None
    # purchase 102 (12:05 >= 11:00 frontier) stayed in state


def test_stream_asof_join_horizon_excludes_stale_views(spark, tmp_path):
    """A view OLDER than the lookback horizon must not answer (the
    bounded-state contract: pruned views are also semantically out)."""
    import datetime as dt

    from amundsendatabuilder_spark.streaming.asof_stream import (
        stream_asof_join)
    from amundsendatabuilder_spark.streaming.events import run_to_memory
    schema = ("event_id long, ts timestamp, user_id long, event_type string,"
              " value double, props string")
    src = tmp_path / "asof_src2"
    src.mkdir()
    t = lambda m: dt.datetime(2024, 1, 1, 10, 0) + dt.timedelta(minutes=m)
    spark.createDataFrame(
        [(1, t(0), 1, "view", 0.0, "{}"),          # 70 min before: stale
         (100, t(70), 1, "purchase", 9.0, "{}"),
         (2, t(75), 1, "view", 0.0, "{}"),         # tie ts: <= matches
         (101, t(75), 1, "purchase", 9.0, "{}"),
         (4, t(300), 9, "view", 0.0, "{}")],       # watermark sentinel
        schema).coalesce(1).write.parquet(str(src / "one"))
    stream = (spark.readStream.schema(schema)
              .parquet(str(src) + "/*"))
    out = run_to_memory(
        stream_asof_join(stream.where("event_type = 'view'"),
                         stream.where("event_type = 'purchase'"),
                         horizon_minutes=60))
    rows = {r.event_id: r for r in out.collect()}
    assert rows[100].asof_view_ts is None          # only view is > horizon
    assert rows[101].asof_view_ts == t(75)         # tie at purchase ts OK


def test_stream_asof_join_evicts_view_only_state(spark, tmp_path):
    """A user who views but never purchases must not leak state forever:
    once the watermark passes max(views) + horizon their entry is
    removed on timeout (r10 advice — previously only pending purchases
    armed a timeout, so view-only users accumulated unboundedly)."""
    import datetime as dt
    import json

    from amundsendatabuilder_spark.streaming.asof_stream import (
        stream_asof_join)
    schema = ("event_id long, ts timestamp, user_id long, event_type string,"
              " value double, props string")
    src = tmp_path / "asof_src3"
    src.mkdir()
    t = lambda m: dt.datetime(2024, 1, 1, 10, 0) + dt.timedelta(minutes=m)
    # user 1: views only. user 9's late view advances the final watermark
    # to t(500) - 2h = t(380), far past t(10) + 60min, so user 1's state
    # must be gone; user 9's own eviction deadline (t(560)) is still
    # ahead of the watermark, so exactly ONE state row remains.
    spark.createDataFrame(
        [(1, t(0), 1, "view", 0.0, "{}"),
         (2, t(10), 1, "view", 0.0, "{}")],
        schema).coalesce(1).write.parquet(str(src / "a_b1"))
    spark.createDataFrame(
        [(4, t(500), 9, "view", 0.0, "{}")],
        schema).coalesce(1).write.parquet(str(src / "b_b2"))
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1)
              .option("latestFirst", "false")
              .parquet(str(src) + "/*"))
    q = (stream_asof_join(stream.where("event_type = 'view'"),
                          stream.where("event_type = 'purchase'"),
                          horizon_minutes=60)
         .writeStream.format("memory").queryName("asof_evict_test")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt_asof3"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    state_rows = [json.loads(p.json)["stateOperators"][0]["numRowsTotal"]
                  for p in q.recentProgress
                  if json.loads(p.json).get("stateOperators")]
    assert state_rows, "no state-operator progress recorded"
    assert state_rows[-1] == 1  # user 9 only; user 1 evicted on timeout


def test_stream_bottomk_sample_register_and_frontier(spark, tmp_path):
    """Bottom-k hash sample (streaming/events.windowed_bottomk_sample):

    - the register holds the k (hv, id)-smallest items of a CLOSED
      window, merged across micro-batches (items arrive in two files);
    - duplicates of an id occupy one slot;
    - an OPEN window (end not strictly behind the final watermark)
      emits nothing — the asof_stream frontier convention.
    """
    import datetime as dt

    from pyspark.sql import functions as F

    from amundsendatabuilder_spark.streaming.events import (
        run_to_memory, windowed_bottomk_sample)
    schema = ("event_id long, ts timestamp, user_id long, event_type string,"
              " value double, props string")
    src = tmp_path / "bk_src"
    src.mkdir()
    t = lambda m: dt.datetime(2024, 1, 1, 10, 0) + dt.timedelta(minutes=m)
    # closed window 10:00-11:00 gets ids 1..10 split across two batches
    # (id 7 twice); sentinel at 14:00 pushes the watermark to 12:00
    b1 = [(i, t(i), 1, "view", 0.0, "{}") for i in range(1, 6)] + \
         [(7, t(6), 1, "view", 0.0, "{}")]
    b2 = [(i, t(i), 1, "view", 0.0, "{}") for i in range(6, 11)] + \
         [(7, t(7), 1, "view", 0.0, "{}"),
          (999, t(240), 9, "view", 0.0, "{}")]
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(
        str(src / "a_b1"))
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(
        str(src / "b_b2"))
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1)
              .option("latestFirst", "false")
              .parquet(str(src) + "/*"))
    out = run_to_memory(windowed_bottomk_sample(stream, k=3))
    rows = out.orderBy("window_start", "rank").collect()
    # expected: the 3 (hv, id)-smallest of ids 1..10 by the same hash
    exp = (spark.createDataFrame([(i,) for i in range(1, 11)], "id long")
           .select("id", F.conv(F.substring(
               F.md5(F.col("id").cast("string")), 1, 8), 16, 10)
               .cast("long").alias("hv"))
           .orderBy("hv", "id").limit(3).collect())
    assert [r.event_id for r in rows] == [e.id for e in exp]
    assert [r.hv for r in rows] == [e.hv for e in exp]
    assert [r.rank for r in rows] == [1, 2, 3]
    # every emitted row belongs to the closed 10:00 window; the 14:00
    # window (open at the final frontier) emitted nothing
    assert all(r.window_start == t(0) for r in rows)


def test_stream_bottomk_sample_drops_late_stragglers(spark, tmp_path):
    """A row for a window whose frontier already passed is a late
    straggler: it must neither re-open the window (double emission) nor
    enter the emitted register — even when its hash would rank first."""
    import datetime as dt

    from pyspark.sql import functions as F

    from amundsendatabuilder_spark.streaming.events import (
        run_to_memory, windowed_bottomk_sample)
    schema = ("event_id long, ts timestamp, user_id long, event_type string,"
              " value double, props string")
    t = lambda m: dt.datetime(2024, 1, 1, 10, 0) + dt.timedelta(minutes=m)
    # find a candidate id (not in 1..10) whose hv beats ALL of 1..10 —
    # so a wrongly-merged straggler would definitely change rank 1
    hv_expr = F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 8),
                     16, 10).cast("long")
    hv = {r.id: r.hv for r in spark.createDataFrame(
        [(i,) for i in range(1, 3000)], "id long")
        .select("id", hv_expr.alias("hv")).collect()}
    floor10 = min(hv[i] for i in range(1, 11))
    late_id = next(i for i in range(11, 3000) if hv[i] < floor10)
    src = tmp_path / "bk_late_src"
    src.mkdir()
    b1 = [(i, t(i), 1, "view", 0.0, "{}") for i in range(1, 11)] + \
         [(999, t(240), 9, "view", 0.0, "{}")]   # wm -> 12:00 after b1
    b2 = [(late_id, t(30), 1, "view", 0.0, "{}")]  # late for 10:00 window
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(
        str(src / "a_b1"))
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(
        str(src / "b_b2"))
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1)
              .option("latestFirst", "false")
              .parquet(str(src) + "/*"))
    out = run_to_memory(windowed_bottomk_sample(stream, k=3))
    rows = out.orderBy("window_start", "rank").collect()
    # exactly one emission of the 10:00 window; the straggler is absent
    assert [r.rank for r in rows] == [1, 2, 3]
    assert late_id not in {r.event_id for r in rows}
    exp = sorted((hv[i], i) for i in range(1, 11))[:3]
    assert [r.event_id for r in rows] == [i for _, i in exp]


def test_last_writer_seq_tie_breaks_to_larger_value(spark, tmp_path):
    """Two rows at the winning sequence in ONE batch: the emitted value
    must be the larger one, whatever order the chunks arrive in."""
    from amundsendatabuilder_spark.streaming.dedup_stream import (
        last_writer_filter)
    from amundsendatabuilder_spark.streaming.events import run_to_memory
    src = tmp_path / "lw_tie_src"
    src.mkdir()
    spark.createDataFrame(
        [(1, 5, 1.0), (1, 5, 9.0), (1, 3, 4.0)],
        "k long, seq long, val double").coalesce(1).write.parquet(
        str(src / "b1"))
    stream = (spark.readStream.schema("k long, seq long, val double")
              .parquet(str(src) + "/*"))
    out = run_to_memory(last_writer_filter(stream), output_mode="update")
    rows = out.collect()
    assert len(rows) == 1
    assert (rows[0].k, rows[0].seq, rows[0].val) == (1, 5, 9.0)


# ---------------------------------------------------------------------------
# Checkpoint-recovery tests for the four custom applyInPandasWithState
# operators (r11 verdict item #3): kill the query mid-stream AFTER >=1
# committed micro-batch, restart from the same checkpoint, and assert the
# union of outputs equals the batch oracle exactly — the exactly-once /
# state-store-recovery claim at 100 TB rests on this (reference contract
# analog: commit-on-success, kafka_source_extractor.py:116-130).
# ---------------------------------------------------------------------------


def _kill_restart_drain(stream_out, chk, crash_epoch=1,
                        output_mode="update", timeout=180):
    """Run the stream twice against ONE checkpoint: run 1's foreachBatch
    raises BEFORE touching ``crash_epoch`` (so that epoch's offsets are
    never committed — a mid-stream kill); run 2 restarts from the
    checkpoint and drains. Asserts >=1 committed batch before the kill
    and that recovery resumes at exactly the failed epoch (no re-delivery
    of committed epochs, no skipped batch). Returns (rows_run1,
    rows_run2)."""
    committed = []

    def crashing(df, epoch):
        if epoch >= crash_epoch:
            raise RuntimeError("injected mid-stream kill")
        committed.append((epoch, df.collect()))

    q = (stream_out.writeStream.foreachBatch(crashing)
         .outputMode(output_mode).option("checkpointLocation", chk)
         .trigger(availableNow=True).start())
    died = False
    try:
        q.awaitTermination(timeout)
        q.stop()
    except Exception:
        died = True
    assert died, "injected kill did not terminate run 1"
    assert len(committed) >= 1, "no committed micro-batch before the kill"

    resumed = []

    def ok(df, epoch):
        resumed.append((epoch, df.collect()))

    q2 = (stream_out.writeStream.foreachBatch(ok)
          .outputMode(output_mode).option("checkpointLocation", chk)
          .trigger(availableNow=True).start())
    q2.awaitTermination(timeout)
    assert resumed, "restart produced no micro-batches"
    assert resumed[0][0] == crash_epoch, (
        f"recovery resumed at epoch {resumed[0][0]}, not the failed "
        f"epoch {crash_epoch}")
    return ([r for _, rows in committed for r in rows],
            [r for _, rows in resumed for r in rows])


def _fresh_drain(stream_out, chk, output_mode="update", timeout=180):
    """Single uninterrupted AvailableNow drain with its own checkpoint —
    the same-batching baseline the kill/restart union must equal."""
    rows = []
    q = (stream_out.writeStream
         .foreachBatch(lambda df, _e: rows.extend(df.collect()))
         .outputMode(output_mode).option("checkpointLocation", chk)
         .trigger(availableNow=True).start())
    q.awaitTermination(timeout)
    return rows


def _canon(rows):
    return sorted(tuple(r) for r in rows)


def test_last_writer_recovers_from_checkpoint_kill(spark, tmp_path):
    """stream_last_writer_upsert: the winning-seq state recovered from the
    checkpoint must keep absorbing stale rows in the replayed epoch, and
    the final snapshot equals the batch max-(seq, val) oracle."""
    from pyspark.sql import functions as F

    from amundsendatabuilder_spark.streaming.dedup_stream import (
        last_writer_filter)
    schema = "k long, seq long, val double"
    src = tmp_path / "lw_src"
    src.mkdir()
    batches = [
        [(1, 1, 10.0), (1, 3, 30.0), (2, 1, 5.0)],   # emits (1,3),(2,1)
        [(1, 2, 99.0), (2, 4, 8.0)],                 # seq 2 stale: absorbed
        [(1, 5, 50.0)],                              # advances key 1
    ]
    for i, b in enumerate(batches):
        spark.createDataFrame(b, schema).coalesce(1).write.parquet(
            str(src / f"{chr(97 + i)}_b{i}"))
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1)
              .option("latestFirst", "false")
              .parquet(str(src) + "/*"))
    out = last_writer_filter(stream)
    r1, r2 = _kill_restart_drain(out, str(tmp_path / "lw_chk"))
    union = _canon(r1 + r2)
    # the replayed epoch must absorb (1, 2, 99.0) against RECOVERED state
    # (seq 3 from the committed epoch) — a lost state store would emit it
    assert (1, 2, 99.0) not in union
    assert union == _canon(_fresh_drain(out, str(tmp_path / "lw_chk_base")))
    # final snapshot (last change per key) == batch oracle
    batch = spark.createDataFrame(
        [r for b in batches for r in b], schema)
    oracle = {(r.k, r.seq, r.val) for r in
              (batch.groupBy("k")
               .agg(F.max(F.struct("seq", "val")).alias("w"))
               .select("k", "w.seq", "w.val")).collect()}
    final = {}
    for k, seq, val in union:
        if k not in final or seq > final[k][1]:
            final[k] = (k, seq, val)
    assert set(final.values()) == oracle


def test_near_dup_recovers_from_checkpoint_kill(spark, tmp_path):
    """stream_near_dup: bucket keepers recovered from the checkpoint must
    pair the replayed epoch's docs with the ORIGINAL batch-0 keeper, and
    the union's distinct pairs equal the whole-corpus expectation."""
    from amundsendatabuilder_spark.streaming.dedup_stream import (
        near_dup_candidates)
    text_a = "the quick brown fox jumps over the lazy dog again and again"
    text_b = "completely different content about spark adaptive plans"
    schema = "doc_id long, text string"
    src = tmp_path / "ndr_src"
    src.mkdir()
    batches = [
        [(1, text_a), (2, text_b)],      # keepers: 1 and 2
        [(7, text_a)],                   # replayed epoch: pairs with 1
        [(9, text_a), (8, text_b)],      # pairs with 1 and 2
    ]
    for i, b in enumerate(batches):
        spark.createDataFrame(b, schema).coalesce(1).write.parquet(
            str(src / f"{chr(97 + i)}_b{i}"))
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1)
              .option("latestFirst", "false")
              .parquet(str(src) + "/*"))
    out = near_dup_candidates(stream)
    r1, r2 = _kill_restart_drain(out, str(tmp_path / "ndr_chk"))
    union = r1 + r2
    # keeper state survived the kill: doc 7 pairs with doc 1, not itself
    assert {(r.doc_a, r.doc_b) for r in union} == {(1, 7), (1, 9), (2, 8)}
    assert _canon(union) == _canon(
        _fresh_drain(out, str(tmp_path / "ndr_chk_base")))


def test_asof_join_recovers_from_checkpoint_kill(spark, tmp_path):
    """stream_asof_join: pending purchases and view registers recovered
    from the checkpoint must answer with the cross-kill best prior view;
    the union equals the uninterrupted drain and the known as-of rows."""
    import datetime as dt

    from amundsendatabuilder_spark.streaming.asof_stream import (
        stream_asof_join)
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    src = tmp_path / "asr_src"
    src.mkdir()
    t = lambda m: dt.datetime(2024, 1, 1, 10, 0) + dt.timedelta(minutes=m)
    batches = [
        # committed epoch: two views + two pending purchases
        [(1, t(0), 1, "view", 0.0, "{}"),
         (2, t(20), 1, "view", 0.0, "{}"),
         (100, t(30), 1, "purchase", 9.0, "{}"),
         (101, t(45), 2, "purchase", 9.0, "{}")],
        # killed/replayed epoch: the closer prior view for purchase 100
        # (must merge into RECOVERED state) + a later purchase
        [(3, t(25), 1, "view", 0.0, "{}"),
         (103, t(70), 1, "purchase", 9.0, "{}")],
        # watermark sentinel: 2h delay -> frontier t(480), all emit
        [(4, t(600), 9, "view", 0.0, "{}")],
    ]
    for i, b in enumerate(batches):
        spark.createDataFrame(b, schema).coalesce(1).write.parquet(
            str(src / f"{chr(97 + i)}_b{i}"))
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1)
              .option("latestFirst", "false")
              .parquet(str(src) + "/*"))
    out = stream_asof_join(stream.where("event_type = 'view'"),
                           stream.where("event_type = 'purchase'"),
                           horizon_minutes=60)
    r1, r2 = _kill_restart_drain(out, str(tmp_path / "asr_chk"),
                                 output_mode="append")
    union = {r.event_id: r for r in r1 + r2}
    assert set(union) == {100, 101, 103}
    # purchase 100 held in state across the kill and answered with the
    # POST-RECOVERY view at t(25), not the pre-kill best at t(20)
    assert union[100].asof_view_ts == t(25)
    assert union[101].asof_view_ts is None        # left-outer survives
    assert union[103].asof_view_ts == t(25)       # horizon: t(10) <= t(25)
    base = {r.event_id: r for r in _fresh_drain(
        out, str(tmp_path / "asr_chk_base"), output_mode="append")}
    assert {k: (v.asof_view_ts, v.purchase_ts) for k, v in union.items()} \
        == {k: (v.asof_view_ts, v.purchase_ts) for k, v in base.items()}


def test_bottomk_recovers_from_checkpoint_kill(spark, tmp_path):
    """stream_bottomk_sample: the k-bounded per-window register recovered
    from the checkpoint must merge the replayed epoch's items and emit
    exactly the batch rank-window oracle on window close."""
    from pyspark.sql import functions as F

    import datetime as dt

    from amundsendatabuilder_spark.streaming.events import (
        windowed_bottomk_sample)
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    src = tmp_path / "bkr_src"
    src.mkdir()
    t = lambda m: dt.datetime(2024, 1, 1, 10, 0) + dt.timedelta(minutes=m)
    batches = [
        [(i, t(i), 1, "view", 0.0, "{}") for i in range(1, 6)],
        # killed/replayed epoch merges into the recovered register
        [(i, t(i), 1, "view", 0.0, "{}") for i in range(6, 11)]
        + [(7, t(7), 1, "view", 0.0, "{}")],       # dup id: one slot
        [(999, t(240), 9, "view", 0.0, "{}")],     # sentinel closes window
    ]
    for i, b in enumerate(batches):
        spark.createDataFrame(b, schema).coalesce(1).write.parquet(
            str(src / f"{chr(97 + i)}_b{i}"))
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1)
              .option("latestFirst", "false")
              .parquet(str(src) + "/*"))
    out = windowed_bottomk_sample(stream, k=3)
    r1, r2 = _kill_restart_drain(out, str(tmp_path / "bkr_chk"),
                                 output_mode="append")
    got = sorted(r1 + r2, key=lambda r: (r.window_start, r.rank))
    # batch oracle: the 3 (hv, id)-smallest of ids 1..10 by the same hash
    exp = (spark.createDataFrame([(i,) for i in range(1, 11)], "id long")
           .select("id", F.conv(F.substring(
               F.md5(F.col("id").cast("string")), 1, 8), 16, 10)
               .cast("long").alias("hv"))
           .orderBy("hv", "id").limit(3).collect())
    assert [(r.event_id, r.hv, r.rank) for r in got] \
        == [(e.id, e.hv, i + 1) for i, e in enumerate(exp)]
    assert all(r.window_start == t(0) for r in got)
    assert _canon(got) == _canon(_fresh_drain(
        out, str(tmp_path / "bkr_chk_base"), output_mode="append"))


def test_bottomk_emit_retrim_when_k_lowered_across_restart(spark, tmp_path):
    """r11 ADVICE: the emit path re-trims to [:k], so lowering k across
    a checkpoint restart emits the NEW bound even though the persisted
    register still holds the old k rows."""
    import datetime as dt

    from amundsendatabuilder_spark.streaming.events import (
        windowed_bottomk_sample)
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    src = tmp_path / "bkk_src"
    src.mkdir()
    chk = str(tmp_path / "bkk_chk")
    t = lambda m: dt.datetime(2024, 1, 1, 10, 0) + dt.timedelta(minutes=m)
    spark.createDataFrame(
        [(i, t(i), 1, "view", 0.0, "{}") for i in range(1, 9)], schema
    ).coalesce(1).write.parquet(str(src / "a_b1"))

    def stream():
        return (spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .option("latestFirst", "false")
                .parquet(str(src) + "/*"))

    # run 1 at k=4: window still open (no sentinel) -> register persisted
    # with 4 rows, nothing emitted (foreachBatch: the memory sink cannot
    # restart from a checkpoint)
    rows1 = _fresh_drain(windowed_bottomk_sample(stream(), k=4), chk,
                         output_mode="append")
    assert rows1 == []
    # sentinel closes the window; restart from the SAME checkpoint with
    # k=2 — the recovered 4-row register must emit only 2 rows
    spark.createDataFrame(
        [(999, t(240), 9, "view", 0.0, "{}")], schema
    ).coalesce(1).write.parquet(str(src / "b_b2"))
    rows2 = _fresh_drain(windowed_bottomk_sample(stream(), k=2), chk,
                         output_mode="append")
    assert sorted(r.rank for r in rows2) == [1, 2]  # old-k state, new bound


def test_last_writer_recovery_on_rocksdb_state_store(spark, tmp_path):
    """The 100 TB state claim names the RocksDB state backend; this
    re-runs the kill/restart recovery scenario with
    RocksDBStateStoreProvider active, proving the custom stateful
    operator's state schema round-trips through RocksDB snapshots, not
    just the default HDFS-backed in-memory map."""
    from amundsendatabuilder_spark.streaming.dedup_stream import (
        last_writer_filter)
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming."
                        "state.RocksDBStateStoreProvider")
    try:
        schema = "k long, seq long, val double"
        src = tmp_path / "lwr_src"
        src.mkdir()
        batches = [
            [(1, 3, 30.0), (2, 1, 5.0)],
            [(1, 2, 99.0), (2, 4, 8.0)],   # stale row must be absorbed
            [(1, 5, 50.0)],
        ]
        for i, b in enumerate(batches):
            spark.createDataFrame(b, schema).coalesce(1).write.parquet(
                str(src / f"{chr(97 + i)}_b{i}"))
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1)
                  .option("latestFirst", "false")
                  .parquet(str(src) + "/*"))
        out = last_writer_filter(stream)
        r1, r2 = _kill_restart_drain(out, str(tmp_path / "lwr_chk"))
        union = _canon(r1 + r2)
        assert (1, 2, 99.0) not in union   # recovered RocksDB state absorbs
        assert union == [(1, 3, 30.0), (1, 5, 50.0),
                         (2, 1, 5.0), (2, 4, 8.0)]
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_bottomk_register_is_arrival_order_invariant(spark, tmp_path):
    """The docstring claims bottom-k is merge-associative; pin it: two
    drains of the SAME row set split into micro-batches in different
    orders (all rows inside the watermark delay, sentinel last) must
    emit identical closed-window registers."""
    import datetime as dt

    from amundsendatabuilder_spark.streaming.events import (
        windowed_bottomk_sample)
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    t = lambda m: dt.datetime(2024, 1, 1, 10, 0) + dt.timedelta(minutes=m)
    rows = [(i, t(i % 50), 1, "view", 0.0, "{}") for i in range(1, 13)]
    sentinel = (999, t(240), 9, "view", 0.0, "{}")
    splits = {
        "fwd": [rows[:6], rows[6:] + [sentinel]],
        "rev": [rows[6:], rows[:6] + [sentinel]],
    }
    got = {}
    for name, batches in splits.items():
        src = tmp_path / f"bko_{name}"
        src.mkdir()
        for i, b in enumerate(batches):
            spark.createDataFrame(b, schema).coalesce(1).write.parquet(
                str(src / f"{chr(97 + i)}_b{i}"))
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1)
                  .option("latestFirst", "false")
                  .parquet(str(src) + "/*"))
        got[name] = _canon(_fresh_drain(
            windowed_bottomk_sample(stream, k=4),
            str(tmp_path / f"bko_chk_{name}"), output_mode="append"))
    assert got["fwd"] == got["rev"] and len(got["fwd"]) == 4


def test_bottomk_timed_out_open_degrades_to_closed_path():
    """r12 advice: a timeout firing while the window still looks open
    (possible only if Spark's internal timeout-vs-watermark boundary
    comparison ever becomes inclusive) must NOT assert-kill the query —
    the state function warns and takes the closed path: emit the
    register's bottom-k, remove the state."""
    import warnings

    from amundsendatabuilder_spark.streaming.events import _bottomk_fn

    class FakeState:
        exists = True
        hasTimedOut = True
        get = ([7, 3, 9], [70, 30, 90])   # ids, hvs
        removed = False

        def getCurrentWatermarkMs(self):
            return 1_000  # watermark == window end: NOT strictly past

        def remove(self):
            self.removed = True

        def update(self, *_):
            raise AssertionError("open-path update on a timed-out window")

        def setTimeoutTimestamp(self, *_):
            raise AssertionError("re-armed timeout on a timed-out window")

    fn = _bottomk_fn(k=2, window_us=1_000_000)
    state = FakeState()
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = list(fn((0,), iter([]), state))
    assert any("looks open" in str(w.message) for w in caught)
    assert state.removed
    assert len(out) == 1
    pdf = out[0]
    # bottom-2 by hash value, rank ascending
    assert list(pdf["event_id"]) == [3, 7]
    assert list(pdf["rank"]) == [1, 2]
