"""Streaming event analytics — file-source Structured Streaming jobs over
the events table shape (event_id, ts, user_id, event_type, value, props).

The reference has no windowed/stateful streaming (SURVEY §2.8); these are
the pipeline-native extensions, built on watermarks + windowed aggregation
so late data is handled and state is bounded:

- ``windowed_counts``: tumbling-window counts/sums per event_type with a
  late-data watermark;
- ``sessionize``: session windows per user (gap-based) via
  ``F.session_window``;
- ``run_to_memory``: the one drain of every streaming registry entry and
  test — AvailableNow into an in-memory table, with a checkpoint that is
  removed on return.

The registry entries read their input with ``session.read_table_stream``,
the stream twin of ``load_tables``; ``read_event_stream`` reads a
directory of event files with a declared schema.
"""

from __future__ import annotations

import json
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENTS_SCHEMA = ("event_id long, ts timestamp, user_id long, "
                 "event_type string, value double, props string")


def read_event_stream(spark: SparkSession, path: str,
                      schema: str = EVENTS_SCHEMA) -> DataFrame:
    """File-source stream (new files under ``path`` become micro-batches —
    the production job swaps this for read_kafka_stream unchanged)."""
    return spark.readStream.schema(schema).parquet(path)


def windowed_counts(events: DataFrame, window: str = "1 hour",
                    watermark: str = "2 hours") -> DataFrame:
    """Tumbling event-time window with late-data watermark: the state
    store retains only ``watermark`` of history regardless of input size —
    the property that keeps this runnable forever on a real stream."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"),
             F.sum("value").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type",
                "n_events", "total_value")
    )


def sessionize(events: DataFrame, gap: str = "30 minutes",
               watermark: str = "2 hours") -> DataFrame:
    """Gap-based session windows per user — the custom stateful operator
    the reference lacks; session_window keeps it declarative (no
    applyInPandasWithState needed for gap sessions)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("s"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"),
             F.sum("value").alias("total_value"),
             F.min("ts").alias("session_start"),
             F.max("ts").alias("session_end"))
        .select("user_id", F.col("s.start").alias("window_start"),
                "n_events", "total_value")
    )


def windowed_distinct_registers(events: DataFrame, window: str = "1 hour",
                                watermark: str = "2 hours",
                                p: int = 8) -> DataFrame:
    """Streaming approximate COUNT(DISTINCT user_id) per tumbling window,
    as HLL registers: (window_start, event_type, bucket, r).

    Exact streaming distinct would hold every distinct user per open
    window in the state store — unbounded. The sketch caps state at 2^p
    registers per (window, type) group, and ``max`` is idempotent under
    replay, so the aggregation is also exactly-once-friendly. Registers
    (not estimates) are the streaming product: they append to a sink,
    merge across days/jobs with another max, and fold to an estimate at
    read time (sketches.hll_estimate) — chaining the estimate fold into
    the stream itself would need a second stateful aggregation, which
    append-mode streaming rightly refuses."""
    from amundsendatabuilder_spark.operators.sketches import hll_terms
    terms = hll_terms(events.select("ts", "event_type", "user_id"),
                      "user_id", p)
    return (
        terms.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"),
                 F.col("bucket"))
        .agg(F.max("rho").alias("r"))
        .select(F.col("w.start").alias("window_start"), "event_type",
                "bucket", "r")
    )


# the progress of the last ``run_to_memory`` drain (its only writer) and
# its sink's view name, for the state-store shape check of
# tools/plan_manifest.py — overwritten per drain, read right after the
# suite callable returns
LAST_STREAM_AUDIT: dict = {}


def run_to_memory(stream_df: DataFrame,
                  output_mode: str = "append") -> DataFrame:
    """Drain ``stream_df`` with AvailableNow into a memory sink and return
    the sink's rows as a batch DataFrame.

    The sink's view gets a fresh name per drain. Its checkpoint lives in
    a temporary directory that is removed on return: a memory sink holds
    its rows on the driver and is not durable, so there is nothing to
    resume from (``kafka_job.run_available_now`` keeps its caller's
    checkpoint, which is its offset commit). The drain's progress
    (micro-batches, state operators, state rows) goes to
    ``LAST_STREAM_AUDIT``."""
    name = f"stream_{uuid.uuid4().hex}"
    with tempfile.TemporaryDirectory() as checkpoint_dir:
        q = (stream_df.writeStream.format("memory")
             .queryName(name)
             .outputMode(output_mode)
             .option("checkpointLocation", checkpoint_dir)
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()
    LAST_STREAM_AUDIT.clear()
    LAST_STREAM_AUDIT.update({
        "name": name,
        "progress": [json.loads(p.json) for p in q.recentProgress]})
    return stream_df.sparkSession.table(name)


def sessionize_batch(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Batch twin of ``sessionize`` via gaps-and-islands: a new session
    starts where the gap from the user's previous event exceeds
    ``gap_minutes``; session id = running count of session starts. Output
    matches what session_window produces, but is ANSI-window expressible,
    so the oracle can verify the session semantics exactly (the streaming
    variant then only needs the weaker rows-only check).

    Two window passes over one (user_id, ts)-sorted shuffle partition-
    pruning-friendly layout; no UDF, no explosion."""
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = gap_minutes * 60 * 1_000_000
    prev_us = F.lag(F.unix_micros("ts")).over(w)
    new_sess = (prev_us.isNull()
                | ((F.unix_micros("ts") - prev_us) > gap_us)).cast("int")
    run = Window.partitionBy("user_id").orderBy("ts", "event_id") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    with_sess = (events
                 .withColumn("_new", new_sess)
                 .withColumn("session_id", F.sum("_new").over(run)))
    return (with_sess.groupBy("user_id", "session_id")
            .agg(F.count("*").alias("n_events"),
                 F.unix_micros(F.min("ts")).alias("session_start_us"),
                 F.unix_micros(F.max("ts")).alias("session_end_us")))


def stream_stream_attribution(views: DataFrame, purchases: DataFrame,
                              lookback_minutes: int = 60,
                              watermark: str = "2 hours") -> DataFrame:
    """Stream-stream interval join: each purchase joined to the same
    user's view events in the preceding ``lookback_minutes`` — the
    streaming twin of operators/attribution.conversion_attribution.

    Both sides carry watermarks and the join condition bounds the event-
    time distance, so Spark can expire buffered state on both sides (the
    requirement for an unbounded stream-stream join to run forever with
    bounded memory). Inner join: purchases with zero prior views don't
    emit (streaming left-outer would hold them until watermark passes; the
    batch twin keeps them via its left join).
    """
    v = (views.withWatermark("ts", watermark)
         .select(F.col("user_id").alias("v_user"),
                 F.col("ts").alias("view_ts")))
    p = (purchases.withWatermark("ts", watermark)
         .select("event_id", "user_id", F.col("ts").alias("purchase_ts")))
    cond = ((p["user_id"] == v["v_user"])
            & (v["view_ts"] <= p["purchase_ts"])
            & (v["view_ts"] > p["purchase_ts"]
               - F.expr(f"INTERVAL {lookback_minutes} MINUTES")))
    return (p.join(v, cond, "inner")
            .select("event_id", "user_id", "purchase_ts", "view_ts"))


def stream_stream_attribution_outer(views: DataFrame, purchases: DataFrame,
                                    lookback_minutes: int = 60,
                                    watermark: str = "2 hours") -> DataFrame:
    """Left-outer twin of ``stream_stream_attribution``: purchases with
    ZERO prior views emit too (NULL view_ts), completing parity with the
    batch twin's left join (operators/attribution.conversion_attribution).

    Matched pairs emit as soon as both sides are buffered, exactly like
    the inner variant. A null-extended row for an unmatched purchase is
    held back until the watermark proves no matching view can still
    arrive (view_ts <= purchase_ts and late views are bounded by the
    watermark), then emitted by the engine's no-data micro-batch on state
    eviction — so on a drained bounded source the output is the batch
    left join restricted to purchases whose holdback has expired; later
    purchases stay in state, never silently dropped."""
    v = (views.withWatermark("ts", watermark)
         .select(F.col("user_id").alias("v_user"),
                 F.col("ts").alias("view_ts")))
    p = (purchases.withWatermark("ts", watermark)
         .select("event_id", "user_id", F.col("ts").alias("purchase_ts")))
    cond = ((p["user_id"] == v["v_user"])
            & (v["view_ts"] <= p["purchase_ts"])
            & (v["view_ts"] > p["purchase_ts"]
               - F.expr(f"INTERVAL {lookback_minutes} MINUTES")))
    return (p.join(v, cond, "leftOuter")
            .select("event_id", "user_id", "purchase_ts", "view_ts"))


def windowed_frequency_registers(events: DataFrame, col: str = "user_id",
                                 window: str = "1 hour",
                                 watermark: str = "2 hours",
                                 depth: int = 4,
                                 width: int = 512) -> DataFrame:
    """Streaming per-window count-min sketch over ``col`` — heavy-hitter
    registers (window_start, j, bucket, cnt) as the streaming product.

    Exact per-value streaming counts hold every distinct value per open
    window in the state store — unbounded under adversarial cardinality
    (the exact failure HLL solves for distinct). The CMS caps state at
    depth*width counter rows per window, COUNT partial-aggregates
    map-side, and register tables from different jobs/days merge with a
    further SUM. Point estimates (min over depth rows) are folded
    batch-side via sketches.cms_lookup — chaining the fold in-stream
    would need a second stateful aggregation, which append mode rightly
    refuses."""
    from amundsendatabuilder_spark.operators.sketches import cms_terms
    terms = cms_terms(
        events.select("ts", F.col(col).cast("string").alias("v")),
        "v", depth, width)
    return (
        terms.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "j", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("window_start"), "j", "bucket",
                "cnt")
    )


def lateness_profile(events: DataFrame,
                     thresholds_us: "tuple[int, ...]" = (
                         1_000_000, 60_000_000, 3_600_000_000,
                         7_200_000_000),
                     order_col: str = "event_id",
                     ts_col: str = "ts") -> DataFrame:
    """Watermark-sizing audit: how late do events actually arrive?

    Lateness of an event = (max event time seen so far in arrival order)
    - (its own event time); a streaming job with watermark delay D
    silently DROPS every event whose lateness exceeds D, so this batch
    profile — per event_type: total events, counts later than each
    candidate threshold, and the max observed lateness — is how you
    choose D before the stream ever runs, and the re-audit you run when
    `numDroppedRows` starts climbing. Arrival order is ``order_col``
    (ingestion ids here; substitute a kafka offset column in
    production). Exact integer microseconds throughout.

    One global-ordering window computes the running max: at scale,
    partition this by the stream's actual parallel unit (kafka
    partition) — lateness is only defined within an ordered stream, and
    a partitioned stream bounds each partition's window the same way.
    """
    from pyspark.sql import Window
    ep = F.unix_micros(F.col(ts_col))
    w = (Window.orderBy(order_col)
         .rowsBetween(Window.unboundedPreceding, 0))
    lat = (events
           .select(F.col("event_type"), ep.alias("_ep"),
                   F.col(order_col))
           .withColumn("_lateness", F.max("_ep").over(w) - F.col("_ep")))
    aggs = [F.count(F.lit(1)).alias("n_events")]
    for t in thresholds_us:
        aggs.append(F.sum(F.when(F.col("_lateness") > t, 1).otherwise(0))
                    .alias(f"n_late_{t}us"))
    aggs.append(F.max("_lateness").alias("max_lateness_us"))
    return lat.groupBy("event_type").agg(*aggs)


def stream_static_enrich(events: DataFrame, dim: DataFrame,
                         key_col: str = "user_id",
                         dim_key: str = "c_custkey",
                         attr_col: str = "c_mktsegment",
                         window: str = "1 hour",
                         watermark: str = "2 hours") -> DataFrame:
    """Stream-static enrichment join + windowed rollup — the standard
    "enrich events with a dimension, aggregate by its attribute" shape.
    The static side is broadcast (stream-static equi-joins are STATELESS
    in Structured Streaming: each micro-batch probes the dimension,
    nothing accumulates in the state store), so at 100 TB/day of events
    the only stateful operator remains the windowed aggregation, whose
    state is bounded by the watermark as usual.

    Output per (window_start, segment): n_events and value_cents —
    Σ floor(value·100) as exact integers, so the rollup is order-free
    under shuffle and micro-batch replay (a float Σ value would not be).
    """
    d = dim.select(F.col(dim_key).alias(key_col),
                   F.col(attr_col).alias("segment"))
    return (
        events.withWatermark("ts", watermark)
        .join(F.broadcast(d), key_col)
        .groupBy(F.window("ts", window).alias("w"), F.col("segment"))
        .agg(F.count("*").alias("n_events"),
             F.sum(F.floor(F.col("value") * 100).cast("long"))
             .alias("value_cents"))
        .select(F.col("w.start").alias("window_start"), "segment",
                "n_events", "value_cents")
    )


def windowed_histogram_registers(events: DataFrame, window: str = "1 hour",
                                 watermark: str = "2 hours", lo: int = 0,
                                 width: int = 200,
                                 n_buckets: int = 64) -> DataFrame:
    """Streaming quantile registers per tumbling window: the histogram
    member of the streaming sketch family (HLL distinct / CMS frequency
    already stream) — (window_start, bucket, cnt) rows whose state is at
    most n_buckets counters per open window, SUM-mergeable downstream
    exactly like the batch registers (sketches.histogram_registers), so
    per-window p50/p90/p99 fold at read time via histogram_quantile.
    Exact per-window quantiles would hold every value in state; the
    register grid caps state at n_buckets longs per window."""
    if width < 1:
        raise ValueError(
            f"histogram width must be >= 1 (got {width}): the bucket "
            "edge is an integer DIV, and width 0 aborts under ANSI")
    cents = F.floor(F.col("value") * 100).cast("long")
    b = F.least(F.lit(n_buckets - 1).cast("long"),
                F.expr(f"GREATEST(CAST(0 AS BIGINT), _c - {lo})"
                       f" DIV {width}"))
    return (
        events.select("ts", cents.alias("_c"))
        .select("ts", b.alias("bucket"))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("window_start"), "bucket", "cnt")
    )


def windowed_benford_registers(events: DataFrame, window: str = "1 hour",
                               watermark: str = "2 hours") -> DataFrame:
    """Streaming Benford first-digit registers per tumbling window:
    (window_start, digit, cnt) with at most 9 counters per open window
    — the fraud/synthetic-data tripwire (profiling.benford_audit) as a
    continuously-maintained register stream, SUM-mergeable downstream
    exactly like the histogram/HLL/CMS register streams; a monitor
    folds chi-square against the baked Benford expectations at read
    time without touching state. The digit comes from the 1e6-quantized
    integer's string form (benford_audit's engine-exact digit path);
    zero/NULL/sub-1e-5 values carry no leading digit and are dropped.
    """
    from amundsendatabuilder_spark.functions.scalars import round_half_away
    m = round_half_away(F.abs(F.col("value")) * 1e6, 0).cast("long")
    d = F.substring(m.cast("string"), 1, 1).cast("int")
    return (
        events.select("ts", F.when(m > 0, d).alias("digit"))
        .where(F.col("digit").isNotNull())
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("digit"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("window_start"), "digit", "cnt")
    )


def windowed_minhash_registers(events: DataFrame, window: str = "1 hour",
                               watermark: str = "2 hours",
                               num_hashes: int = 16,
                               item_col: str = "user_id") -> DataFrame:
    """Streaming MinHash signature per tumbling window: for each of
    ``num_hashes`` universal-hash permutations, the window's MIN hash
    over its item set — the RESEMBLANCE member of the streaming sketch
    family (HLL counts distinct, CMS counts frequency, the histogram
    bins values; MinHash estimates the Jaccard overlap between two
    windows' audiences at read time by comparing signatures
    position-wise). State is ``num_hashes`` longs per open window, and
    MIN is merge-associative, so signatures from two pipelines union
    and re-min exactly like batch registers
    (dedup.minhash_signatures' contract).

    Returns (window_start, hash_idx, min_hash). Same hash family as
    the batch LSH path: h_j(x) = (chunk_{j%4}(md5(x)) * A_j + B_j)
    mod 2^32 with functions.hashing.minhash_constants' literals.
    """
    from amundsendatabuilder_spark.functions.hashing import (
        minhash_constants)
    a_tab, b_tab = minhash_constants(num_hashes)
    h = F.md5(F.col(item_col).cast("string"))
    chunks = [F.conv(F.substring(h, 1 + 8 * i, 8), 16, 10).cast("long")
              for i in range(4)]
    hashes = F.array(*[
        F.struct(F.lit(j).alias("hash_idx"),
                 ((chunks[j % 4] * F.lit(a_tab[j]) + F.lit(b_tab[j]))
                  % F.lit(4294967296)).alias("hv"))
        for j in range(num_hashes)])
    return (
        events.select("ts", F.explode(hashes).alias("e"))
        .select("ts", F.col("e.hash_idx").alias("hash_idx"),
                F.col("e.hv").alias("hv"))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("hash_idx"))
        .agg(F.min("hv").alias("min_hash"))
        .select(F.col("w.start").alias("window_start"), "hash_idx",
                "min_hash")
    )


BOTTOMK_OUTPUT = "window_start timestamp, rank int, event_id long, hv long"
_BK_STATE = "ids array<long>, hvs array<long>"


def _bottomk_fn(k: int, window_us: int):
    """Per-window bottom-k state function (closure over k and the
    window length): state is two k-bounded arrays; emission follows the
    asof_stream frontier convention (emit once the watermark strictly
    passes the window end, whichever invocation observes it)."""

    def fn(key, pdf_iter, state):
        import pandas as pd
        existed = state.exists
        ids, hvs = ((list(state.get[0]), list(state.get[1]))
                    if existed else ([], []))
        ws_us = int(key[0])
        win_end_us = ws_us + window_us
        wm_us = state.getCurrentWatermarkMs() * 1000
        # timed-out-while-open "cannot happen" by construction — the
        # timeout is always set to max(window_end_ms, watermark_ms + 1),
        # so a firing timeout implies the watermark strictly passed the
        # window end. But that invariant leans on Spark's INTERNAL
        # strict-< comparison of timeoutTimestamp vs the eviction
        # watermark; if a version ever makes the boundary inclusive, a
        # hard assert would kill the production query.
        # Degrade gracefully instead: warn (the invariant check stays,
        # non-fatal) and take the closed path — emit what the register
        # holds and drop the state, exactly what the next watermark tick
        # would have done anyway.
        timed_out_open = state.hasTimedOut and win_end_us >= wm_us
        if timed_out_open:
            import warnings
            warnings.warn(
                "bottom-k register: timeout fired while the window still "
                "looks open (window_end >= watermark) — treating as "
                "closed; Spark's timeout/watermark boundary comparison "
                "may have become inclusive", RuntimeWarning)
        if win_end_us < wm_us or timed_out_open:
            # frontier already passed. Any rows in THIS batch are late
            # stragglers (the watermark is computed from prior batches)
            # — drop them per watermark semantics; merging them would
            # also double-emit the window whenever a straggler arrives
            # after the register emitted and state was removed.
            for _ in pdf_iter:
                pass
            if existed or state.hasTimedOut:
                state.remove()
            if existed:
                # re-trim on emit: the merge path keeps state at <=k, but
                # if k is ever lowered across a checkpoint restart the
                # persisted register may hold more — the output bound must
                # not depend on historical state
                pairs = sorted(zip(hvs, ids))[:k]
                yield pd.DataFrame({
                    "window_start": pd.Series(
                        [pd.Timestamp(ws_us * 1000)] * len(pairs),
                        dtype="datetime64[ns]"),
                    "rank": pd.Series(range(1, len(pairs) + 1),
                                      dtype="int32"),
                    "event_id": [i for _, i in pairs],
                    "hv": [h for h, _ in pairs]})
            return
        # open window: merge the batch into the k-bounded register.
        # (hasTimedOut cannot reach here — the timed_out_open branch
        # above routes any boundary-semantics surprise to the closed
        # path, so this invocation always carries batch rows.)
        have = set(ids)
        for pdf in pdf_iter:
            for i, h in zip(pdf["event_id"].to_numpy(),
                            pdf["hv"].to_numpy()):
                i, h = int(i), int(h)
                if i in have:
                    continue
                have.add(i)
                ids.append(i)
                hvs.append(h)
        pairs = sorted(zip(hvs, ids))[:k]
        hvs = [h for h, _ in pairs]
        ids = [i for _, i in pairs]
        state.update((ids, hvs))
        # guarantee a future invocation once the frontier passes
        state.setTimeoutTimestamp(
            max(win_end_us // 1000, wm_us // 1000 + 1))

    return fn


def windowed_bottomk_sample(events: DataFrame, window_seconds: int = 3600,
                            watermark: str = "2 hours", k: int = 8,
                            id_col: str = "event_id") -> DataFrame:
    """Streaming bottom-k hash sample per tumbling window: the ``k``
    items with the smallest md5-derived 32-bit hash — the UNIFORM-SAMPLE
    member of the streaming sketch family (HLL counts distinct, CMS
    counts frequency, MinHash compares audiences; bottom-k/KMV holds a
    deterministic without-replacement sample you can actually look at,
    and its k-th hash doubles as the classic KMV distinct estimator at
    read time). State is exactly k (id, hash) pairs per open window —
    bounded however hot the window — and bottom-k is merge-associative,
    so registers from two pipelines union and re-trim like every other
    register here.

    A built-in windowed agg cannot express this in append mode (a
    bounded top-k needs an order statistic, not an algebraic aggregate,
    and collect_list state is unbounded), so this is the third
    applyInPandasWithState operator beside stream_asof_join and
    dedup_stream. Emission frontier pinned exactly like asof_stream:
    a window emits once the watermark strictly passes its end, so an
    AvailableNow drain equals the batch rank-window restricted to
    window_end < max(ts) − delay — the oracle in SQL, verbatim.

    Returns (window_start, rank, event_id, hv) — all-integer payload,
    rank 1 = smallest (hv, id). Duplicate ids within a window occupy
    one register slot (hash sampling is per distinct item)."""
    hv = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8),
                16, 10).cast("long")
    win_us = int(window_seconds) * 1_000_000
    ev = (events.withWatermark("ts", watermark)
          .select("ts", F.col(id_col).alias("event_id"), hv.alias("hv"),
                  (F.expr(f"unix_micros(ts) div {win_us}") * win_us)
                  .cast("long").alias("ws_us")))
    from pyspark.sql.streaming.state import GroupStateTimeout
    return (ev.groupBy("ws_us")
            .applyInPandasWithState(
                _bottomk_fn(int(k), win_us), BOTTOMK_OUTPUT, _BK_STATE,
                "append", GroupStateTimeout.EventTimeTimeout))
