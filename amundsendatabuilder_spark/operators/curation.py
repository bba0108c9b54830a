"""Corpus-curation operators a large-scale training-data pipeline runs
between dedup and shard-writing: leakage-safe split assignment, epoch
shuffle planning, n-gram novelty scoring, and filter-funnel accounting.

These extend the reference's data-building surface (the reference stops
at metadata extraction/publish — databuilder/ has no corpus curation) in
the same Spark-first style as operators/textops.py: deterministic
hash-based decisions (never ``rand()``), map-side-combinable
aggregations, and no corpus-wide windows or driver loops.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from amundsendatabuilder_spark.functions.scalars import round_half_away
from amundsendatabuilder_spark.functions.text import tokens


def _md5_bucket16(col) -> F.Column:
    """First 4 hex chars of md5 -> integer in [0, 65536): the same
    16-bit hash bucket textops.split_assign cuts, DuckDB-reproducible
    (``CAST('0x' || substr(md5(x), 1, 4) AS BIGINT)``)."""
    return F.conv(F.substring(F.md5(col), 1, 4), 16, 10).cast("long")


def leakage_safe_split(docs: DataFrame, pairs: DataFrame,
                       weights: tuple[tuple[str, float], ...] = (
                           ("train", 0.8), ("val", 0.1), ("test", 0.1)),
                       id_col: str = "doc_id",
                       pair_cols: tuple[str, str] = ("doc_a", "doc_b"),
                       keep: tuple[str, ...] = ()) -> DataFrame:
    """Cluster-atomic train/val/test assignment: near-duplicate groups
    never straddle a split boundary.

    A per-document hash split (textops.split_assign) leaks evaluation
    data when near-duplicates of a test doc land in train — the standard
    contamination path dedup pipelines exist to close. Here the verified
    near-dup ``pairs`` are fused into connected components and the split
    is decided by the md5 bucket of the GROUP key (component min-id for
    clustered docs, own id for singletons), so every member of a
    duplicate cluster lands in the same split. Returns
    (doc_id, group_key, split).

    Scale shape: components run on the pair set only (tiny relative to
    the corpus — it contains actual near-duplicates, not all docs); the
    membership map joins back broadcast, so the corpus side never
    shuffles and the assignment itself is a map-side projection. The
    expected split RATE is preserved because group keys hash uniformly,
    though realized sizes now move in whole clusters.

    ``keep`` (r16, guide §2.4): extra ``docs`` columns carried through
    the map-side projection, appended after (doc_id, group_key, split).
    A consumer that needs the split AND doc payload columns (e.g. the
    holdout evaluation loop) previously re-joined this output against
    the corpus by doc_id — a corpus-x-corpus shuffle join per split
    side, even though the assignment is a projection OF docs. Keeping
    the columns here makes "train slice of the corpus" a filter, not a
    join. Default () keeps the certified mapping-table output exactly.
    ``keep`` must not name an output or join column (``id_col``,
    group_key, split, component): that raises ValueError.
    """
    from amundsendatabuilder_spark.operators.graph_algo import (
        connected_components)
    assert abs(sum(w for _n, w in weights) - 1.0) < 1e-9
    clash = set(keep) & {id_col, "group_key", "split", "component"}
    if clash:
        raise ValueError(f"leakage_safe_split keep= overlaps its own "
                         f"columns: {sorted(clash)}")
    comps = connected_components(pairs, src_col=pair_cols[0],
                                 dst_col=pair_cols[1])
    joined = docs.select(F.col(id_col), *[F.col(c) for c in keep]).join(
        F.broadcast(comps.withColumnRenamed("node", id_col)), id_col, "left")
    group_key = F.coalesce(F.col("component"), F.col(id_col))
    bucket = _md5_bucket16(F.concat(F.lit("grp:"), group_key.cast("string")))
    expr = F.lit(weights[-1][0])
    acc, cuts = 0.0, []
    for name, w in weights[:-1]:
        acc += w
        cuts.append((name, int(acc * 65536)))
    for name, cut in reversed(cuts):
        expr = F.when(bucket < cut, name).otherwise(expr)
    return joined.select(F.col(id_col), group_key.alias("group_key"),
                         expr.alias("split"),
                         *[F.col(c) for c in keep])


def epoch_shuffle_shards(docs: DataFrame, epochs: int = 2,
                         n_shards: int = 16,
                         id_col: str = "doc_id") -> DataFrame:
    """Deterministic per-epoch shuffle plan: for each epoch, every doc
    gets a shard and a position inside it, as if the corpus had been
    globally permuted by md5('ep{e}:{id}') — without ever sorting the
    corpus globally.

    The trick that makes this scale: the 16-bit hash space is
    range-partitioned into ``n_shards`` contiguous shards (shard =
    bucket * n_shards DIV 65536, integer arithmetic), so shard
    assignment is a pure map-side
    projection and the only ordering work is a row_number window
    PARTITIONED by (epoch, shard) — bounded by corpus/n_shards rows, the
    unit a training loader consumes, never a corpus-wide sort. Different
    epochs use different hash salts, so each epoch is an independent
    permutation (the "reshuffle every epoch" contract), yet the whole
    plan is seedless and reproducible across runs/engines/cluster sizes.
    Returns (epoch, shard_id, doc_id, pos_in_shard).
    """
    assert epochs >= 1 and n_shards >= 1
    e = docs.select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(0), F.lit(epochs - 1))).alias("epoch"))
    h = F.md5(F.concat(F.lit("ep"), F.col("epoch").cast("string"),
                       F.lit(":"), F.col(id_col).cast("string")))
    bucket = F.conv(F.substring(h, 1, 4), 16, 10).cast("long")
    # integer DIV (shift by 16 = divide by 65536), not float /: exact
    # either way for a power-of-two divisor, but the integer form keeps
    # the repo's cross-engine determinism argument uniform (no float in
    # any bucketing path)
    shard = F.shiftright((bucket * n_shards).cast("long"), 16).cast("int")
    w = Window.partitionBy("epoch", "shard_id").orderBy("h", id_col)
    return (e.select("epoch", F.col(id_col), h.alias("h"),
                     shard.alias("shard_id"))
            .withColumn("pos_in_shard", F.row_number().over(w))
            .select("epoch", "shard_id", id_col, "pos_in_shard"))


def ngram_novelty(docs: DataFrame, n: int = 3, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's distinct
    word n-grams whose FIRST corpus occurrence (min doc_id) is this doc.

    The memorization/curation signal dedup thresholds miss: a doc can be
    under every pairwise-similarity threshold yet contribute almost no
    n-grams the corpus hasn't already seen (novelty -> 0 flags it for
    down-weighting; novelty 1.0 = entirely fresh text). Docs with fewer
    than ``n`` tokens have no shingles and are absent from the output.

    Scale shape: ONE shuffle of (doc_id, shingle) rows — an unbounded
    min() window partitioned by shingle annotates every row with its
    shingle's first doc in the same exchange a groupBy+join-back would
    need twice (and without re-exploding the shingle side for the join)
    — then one map-side-combinable count aggregation by doc. Text never
    shuffles; per-shingle partitions are bounded by document frequency.
    Returns (doc_id, n_shingles, n_novel, novelty).
    """
    from amundsendatabuilder_spark.functions.text import exploded_shingles
    sh = exploded_shingles(docs, id_col, text_col, n=n)
    first_doc = F.min("doc_id").over(Window.partitionBy("shingle"))
    return (sh.withColumn("first_doc", first_doc)
            .groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_shingles"),
                 F.sum((F.col("first_doc") == F.col("doc_id")).cast("long"))
                 .cast("long").alias("n_novel"))
            .withColumn("novelty", round_half_away(
                F.col("n_novel") / F.col("n_shingles"), 6)))


def weighted_sample_wor(docs: DataFrame, k: int = 100,
                        weight_col: str = "n_chars",
                        id_col: str = "doc_id") -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis–
    Spirakis A-ES): select ``k`` docs where each doc's inclusion odds are
    proportional to ``weight_col`` — the quality-weighted subcorpus draw
    ("sample 10M docs, favoring high quality") that uniform hash
    sampling (textops.hash_sample) cannot express.

    A-ES reduces WOR sampling to a top-k: give every row the key
    u^(1/w) (equivalently ln(u)/w, monotone) with u uniform in (0,1),
    and the k largest keys ARE a weighted sample without replacement.
    u derives from md5 of the id (seedless, engine-reproducible): the
    first 52 hash bits v give u = (v + 0.5) / 2^52, never 0 or 1. The
    key is rounded to 12 decimals with HALF_UP and ties broken by id so
    last-ulp ``ln`` differences across engines cannot flip membership
    at the boundary.

    Scale shape: one map-side projection computes the key, then
    ``ORDER BY key LIMIT k`` — Catalyst's TakeOrderedAndProject keeps a
    k-row heap per partition and merges k×partitions rows, never a
    global sort. Contract: k must be driver-small (≲10^6); for
    shard-sized samples run per-stratum (stratified_fixed_k's shape)
    instead. Rows with weight <= 0 are excluded (zero odds).
    Returns (id, weight, skey) — skey kept so the draw is auditable.
    """
    w = F.col(weight_col).cast("double")
    v = F.conv(F.substring(
        F.md5(F.concat(F.lit("wsw:"), F.col(id_col).cast("string"))),
        1, 13), 16, 10).cast("long")
    u = (v.cast("double") + F.lit(0.5)) / F.lit(float(1 << 52))
    skey = round_half_away(F.log(u) / w, 12)
    return (docs.where(w > 0)
            .select(F.col(id_col), w.alias("weight"), skey.alias("skey"))
            .orderBy(F.desc("skey"), id_col).limit(k))


def temperature_mixture(docs: DataFrame, domain_col: str = "lang",
                        alpha: float = 0.5,
                        budget: int = 200) -> DataFrame:
    """Temperature-scaled domain-mixture plan: apportion a ``budget`` of
    training slots across domains proportionally to n_d^alpha — the
    standard multilingual/domain rebalancing knob (alpha = 1 keeps the
    natural distribution, alpha -> 0 approaches uniform, 0.3–0.7 is the
    usual up-sampling band for low-resource domains).

    Seats are integer and exact: the real weight n_d^alpha is quantized
    ONCE to a 1e6-scaled integer (the only float step, HALF_UP-rounded
    so both engines quantize identically), after which the largest-
    remainder apportionment runs in pure BIGINT arithmetic — quota =
    (budget * w) DIV W, remainder seats to the largest (budget * w) %
    W, ties by domain name. No float accumulates, so partition
    summation order cannot perturb a seat. Targets are then capped at
    the domain's actual supply (sampling is without replacement
    downstream); the shortfall is reported as ``deficit`` rather than
    silently redistributed — re-apportioning would change every other
    domain's target, a decision the pipeline owner makes.

    Scale shape: one map-side-combinable count per domain; everything
    after runs on the <= #domains-row table (bounded windows + one
    1-row total broadcast). Returns (domain, n_docs, weight_ppm,
    target, capped_target, deficit) ordered only by the gate's sort.
    """
    counts = (docs.groupBy(F.col(domain_col).alias("domain"))
              .agg(F.count(F.lit(1)).cast("long").alias("n_docs")))
    wd = round_half_away(
        F.pow(F.col("n_docs").cast("double"), F.lit(float(alpha)))
        * F.lit(1e6), 0).cast("long")
    weighted = counts.withColumn("_w", wd)
    tot = weighted.agg(F.sum("_w").alias("_tw"))
    d = weighted.crossJoin(F.broadcast(tot))
    d = (d.withColumn("_q", F.expr(f"{budget} * _w DIV _tw"))
         .withColumn("_rem", F.expr(f"({budget} * _w) % _tw")))
    wsum = Window.rowsBetween(Window.unboundedPreceding,
                              Window.unboundedFollowing)
    wrank = Window.orderBy(F.desc("_rem"), "domain")
    d = (d.withColumn("_left", F.lit(budget) - F.sum("_q").over(wsum))
         .withColumn("_pos", F.row_number().over(wrank)))
    target = F.col("_q") + F.when(F.col("_pos") <= F.col("_left"),
                                  1).otherwise(0)
    return (d.select(
        "domain", "n_docs",
        round_half_away(F.lit(1e6) * F.col("_w") / F.col("_tw"), 0)
        .cast("long").alias("weight_ppm"),
        target.cast("long").alias("target"),
        F.least(target, F.col("n_docs")).cast("long")
        .alias("capped_target"),
        F.greatest(target - F.col("n_docs"), F.lit(0)).cast("long")
        .alias("deficit")))


FUNNEL_RULES = (
    # (stage, rule name) — evaluation order IS the funnel order
    (1, "min_chars"), (2, "lang_allowed"), (3, "min_tokens"),
    (4, "max_repetition"),
)


def filter_funnel(docs: DataFrame, min_chars: int = 100,
                  allowed_langs: tuple[str, ...] = ("en", "de", "fr", "es"),
                  min_tokens: int = 20,
                  min_distinct_ratio: float = 0.45) -> DataFrame:
    """Sequential quality-filter cascade with per-rule drop accounting —
    the report a curation run publishes so "we dropped 38% of src7" is
    attributable to a specific rule, not a diff.

    Each doc is charged to the FIRST rule it fails (the cascade
    semantics of a real pipeline, where later filters never see earlier
    drops): (1) n_chars >= min_chars, (2) lang in allowed set,
    (3) token count >= min_tokens, (4) distinct-token ratio >=
    min_distinct_ratio (the cheap repetition screen). Returns one row
    per rule — (stage, rule, n_in, n_dropped, n_out) — with n_in/n_out
    chaining so the funnel reads top-to-bottom; rules that drop nothing
    still appear (n_dropped = 0).

    Scale shape: the verdict is a single map-side CASE projection (the
    token array is computed once per row), the shuffle carries only
    (first_fail_stage, partial count) pairs, and the funnel arithmetic
    runs on the <= len(rules)-row stage table (a bounded cumulative
    window, never the corpus).
    """
    toks = tokens(F.col("text"))
    # try_divide: a zero-token doc's ratio is NULL (0/0) instead of an
    # ANSI divide-by-zero error; NULL then counts as a rule-4 failure
    # (the expectation_audit "false OR null = fail" convention) so
    # min_tokens=0 callers don't silently pass degenerate docs — with
    # the default min_tokens, rule 3 still charges them first
    distinct_ratio = F.try_divide(F.size(F.array_distinct(toks)),
                                  F.size(toks))
    first_fail = (
        F.when(F.col("n_chars") < min_chars, 1)
        .when(~F.col("lang").isin(*allowed_langs), 2)
        .when(F.size(toks) < min_tokens, 3)
        .when(distinct_ratio.isNull()
              | (distinct_ratio < min_distinct_ratio), 4)
        .otherwise(0))
    drops = (docs.select(first_fail.alias("stage"))
             .where(F.col("stage") > 0)
             .groupBy("stage").agg(F.count("*").alias("n_dropped")))
    total = docs.select(F.count("*").alias("n_total"))
    rules = docs.sparkSession.createDataFrame(
        list(FUNNEL_RULES), "stage INT, rule STRING")
    w = (Window.orderBy("stage")
         .rowsBetween(Window.unboundedPreceding, -1))
    return (rules.join(drops, "stage", "left")
            .withColumn("n_dropped",
                        F.coalesce(F.col("n_dropped"), F.lit(0)).cast("long"))
            .crossJoin(F.broadcast(total))
            .withColumn("n_in", (F.col("n_total") - F.coalesce(
                F.sum("n_dropped").over(w), F.lit(0))).cast("long"))
            .withColumn("n_out",
                        (F.col("n_in") - F.col("n_dropped")).cast("long"))
            .select("stage", "rule", "n_in", "n_dropped", "n_out"))


def mixture_interleave(docs: DataFrame, domain_col: str = "lang",
                       alpha: float = 0.5,
                       id_col: str = "doc_id") -> DataFrame:
    """Stride-scheduled domain interleave: the deterministic READ ORDER
    that realizes a temperature mixture — reading rows by ascending
    ``vt`` yields domains interleaved proportionally to n_d^alpha at
    every prefix (a 10%-weight domain appears ~once per 10 docs, not in
    a block), which is what a training loader actually needs from a
    mixture: proportional at every step, not just in aggregate.

    Classic stride scheduling (deficit round-robin): doc r of domain d
    gets virtual time vt = r * STRIDE / w_d with w_d the 1e6-quantized
    n_d^alpha weight of ``temperature_mixture`` and STRIDE = 1e12 —
    pure BIGINT arithmetic (no float ever accumulates), ties broken by
    (domain, id) at read time. Per-domain ranks come from the md5 order
    (seedless; independent of the mixture, so truncating the schedule
    at any budget is itself an unbiased weighted sample of each
    domain).

    Scale shape: one combinable count per domain, per-DOMAIN rank
    windows (bounded by domain size — the epoch_shuffle_shards trick of
    sub-sharding applies if one domain dominates), then map-side
    arithmetic against the broadcast ≤#domains-row weight table; no
    global sort — consumers merge shards by vt streamingly. Returns
    (doc_id, domain, rk, vt).
    """
    counts = (docs.groupBy(F.col(domain_col).alias("domain"))
              .agg(F.count(F.lit(1)).cast("long").alias("n_docs")))
    wv = round_half_away(
        F.pow(F.col("n_docs").cast("double"), F.lit(float(alpha)))
        * F.lit(1e6), 0).cast("long")
    weights = counts.select("domain", wv.alias("_w"))
    rk = F.row_number().over(
        Window.partitionBy(domain_col).orderBy(
            F.md5(F.concat(F.lit("ilv:"), F.col(id_col).cast("string"))),
            id_col))
    ranked = docs.select(F.col(id_col),
                         F.col(domain_col).alias("domain"),
                         rk.alias("rk"))
    return (ranked.join(F.broadcast(weights), "domain")
            .select(id_col, "domain", F.col("rk").cast("long").alias("rk"),
                    F.expr("rk * CAST(1000000000000 AS BIGINT) DIV _w")
                    .alias("vt")))


def dsir_importance_weights(docs: DataFrame, target: DataFrame,
                            n_buckets: int = 1024,
                            id_col: str = "doc_id",
                            text_col: str = "text") -> DataFrame:
    """DSIR-style importance weights (Data Selection via Importance
    Resampling, Xie et al. 2023): score every raw-pool document by the
    log-likelihood ratio of its hashed n-gram features (unigrams +
    adjacent bigrams, md5-hashed into ``n_buckets`` buckets) under
    add-1-smoothed bag-of-buckets models of the TARGET domain vs the raw
    pool:

        logw(d) = sum_b c_db * ( ln (tc_b+1)/(T+B) - ln (rc_b+1)/(R+B) )

    High ``logw`` means "looks like the target domain"; the resampling
    step is a downstream compose — feed logw into
    ``weighted_sample_wor`` with exp(logw/tau) weights. Docs with no
    tokens score 0 with n_feats 0 (every doc is scored). Returns
    (doc_id, n_feats, logw).

    Scale shape: the bucket LLR table is at most ``n_buckets`` rows
    REGARDLESS of corpus size — it broadcasts; per-doc bucket counts are
    one map-side-combinable shuffle of (id, bucket) ints (never text);
    raw-pool bucket totals are derived from the per-doc counts (no
    second corpus scan), and the target pass aggregates the small target
    sample. Doubles follow the repo's fixed-point contract: per-bucket
    LLR rounds to 9dp, per-doc sums ride int64 nano-units
    (order-independent), final logw rounds to 6dp.
    """
    B = float(n_buckets)

    def feat_buckets(df: DataFrame) -> DataFrame:
        # unigrams + adjacent bigrams from ONE tokens() array: bigrams
        # are zip_with(toks[0..n-2], toks[1..n-1]) over the array itself,
        # so the former posexplode self-join on (_rid, pos) — a shuffled
        # join per corpus pass, plus a corpus-token-sized localCheckpoint
        # feeding it — disappears outright (guide §2.4); a single explode
        # emits the 2n-1 features per doc straight into the map-side
        # bucket aggregation
        toks = tokens(F.lower(F.col(text_col)))
        n_1 = F.greatest(F.size(toks) - 1, F.lit(0))
        bigrams = F.zip_with(F.slice(toks, 1, n_1), F.slice(toks, 2, n_1),
                             lambda w1, w2: F.concat_ws(" ", w1, w2))
        feats = df.select(F.col(id_col).alias("_rid"),
                          F.explode(F.concat(toks, bigrams)).alias("feat"))
        bucket = (F.conv(F.substring(
            F.md5(F.concat(F.lit("dsir:"), F.col("feat"))), 1, 15), 16, 10)
            .cast("long") % n_buckets)
        return feats.select("_rid", bucket.alias("bucket"))

    from amundsendatabuilder_spark.session import ensure_parallelism
    doc_b = (feat_buckets(ensure_parallelism(docs))
             .groupBy("_rid", "bucket")
             .agg(F.count(F.lit(1)).cast("long").alias("c"))
             .localCheckpoint())
    raw_b = doc_b.groupBy("bucket").agg(F.sum("c").alias("rc"))
    tgt_b = (feat_buckets(target).groupBy("bucket")
             .agg(F.count(F.lit(1)).cast("long").alias("tc")))
    tot = (raw_b.agg(F.sum("rc").cast("double").alias("R"))
           .crossJoin(tgt_b.agg(
               F.coalesce(F.sum("tc"), F.lit(0)).cast("double").alias("T"))))
    llr = (raw_b.join(tgt_b, "bucket", "left")
           .crossJoin(F.broadcast(tot))
           .select("bucket", round_half_away(
               F.log((F.coalesce(F.col("tc"), F.lit(0)) + F.lit(1.0))
                     / (F.col("T") + F.lit(B)))
               - F.log((F.col("rc") + F.lit(1.0))
                       / (F.col("R") + F.lit(B))), 9).alias("llr")))
    scored = (doc_b.join(F.broadcast(llr), "bucket")
              # 2^53 scoping (the mixture_reweight lesson): c*llr*1e9
              # stays on the exact double-integer grid while
              # |c*llr| < ~9e6 — c is a PER-DOCUMENT bucket count (not a
              # corpus count) and |llr| <= log(corpus), so the product
              # is ~1e5 at worst for a 10M-token document; a corpus-
              # level count here would need the DECIMAL tilt instead
              .select("_rid", "c",
                      F.round(round_half_away(
                          F.col("c") * F.col("llr"), 9) * 1e9)
                      .cast("long").alias("part_fp"))
              .groupBy("_rid")
              .agg(F.sum("c").cast("long").alias("n_feats"),
                   round_half_away(F.sum("part_fp") / F.lit(1e9), 6)
                   .alias("logw")))
    return (docs.select(F.col(id_col))
            .join(scored.withColumnRenamed("_rid", id_col), id_col, "left")
            .select(id_col,
                    F.coalesce(F.col("n_feats"), F.lit(0).cast("long"))
                    .alias("n_feats"),
                    F.coalesce(F.col("logw"), F.lit(0.0)).alias("logw")))


def padding_waste_report(docs: DataFrame, batch_size: int = 8,
                         n_shards: int = 16, id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Batch-planning diagnostic: how many padding tokens a fixed-size
    training batcher wastes under (a) 'naive' md5-shuffled order vs (b)
    'bucketed' length-sorted order, batching WITHIN md5 shards the way a
    real loader does (shard -> shuffle/sort -> consecutive batches of
    ``batch_size``; every sequence in a batch pads to the batch max).

    One row per strategy: (strategy, n_batches, real_tokens,
    slot_tokens, waste_tokens, waste_ppm) — slot_tokens = sum over
    batches of max_len x rows, waste = slot - real, ppm in exact BIGINT
    arithmetic (no floats anywhere, so the report is hash-stable by
    construction). Length-bucketed batching is the standard padding-
    efficiency trick; this measures the win on YOUR corpus before you
    commit to it.

    Scale shape: the ranking windows partition by (strategy, shard) —
    bounded by shard size, never corpus-wide (shards are how loaders
    consume corpora; ``n_shards`` scales with data volume like
    epoch_shuffle_shards). The windowed frame carries only
    (id, n_tok, shard, keys) ints; both aggregations are map-side
    combinable.
    """
    rnd = F.md5(F.concat(F.lit("pad:"), F.col(id_col).cast("string")))
    base = docs.select(
        F.col(id_col).alias("_id"),
        F.size(tokens(F.lower(F.col(text_col)))).cast("long").alias("n_tok"),
        (_md5_bucket16(F.concat(F.lit("shard:"),
                                F.col(id_col).cast("string")))
         % n_shards).alias("shard"),
        rnd.alias("rnd"))
    stacked = (base.withColumn("strategy", F.lit("naive"))
               .withColumn("key0", F.lit(0).cast("long"))
               .unionByName(
                   base.withColumn("strategy", F.lit("bucketed"))
                   .withColumn("key0", F.col("n_tok"))))
    w = Window.partitionBy("strategy", "shard").orderBy(
        "key0", "rnd", "_id")
    batched = (stacked.withColumn("_rn", F.row_number().over(w))
               .withColumn("batch",
                           F.expr(f"(_rn - 1) DIV {int(batch_size)}")))
    per_batch = (batched.groupBy("strategy", "shard", "batch")
                 .agg(F.max("n_tok").alias("mx"),
                      F.sum("n_tok").alias("real"),
                      F.count(F.lit(1)).cast("long").alias("rows")))
    return (per_batch.groupBy("strategy")
            .agg(F.count(F.lit(1)).cast("long").alias("n_batches"),
                 F.sum("real").cast("long").alias("real_tokens"),
                 F.sum(F.col("mx") * F.col("rows")).cast("long")
                 .alias("slot_tokens"))
            .withColumn("waste_tokens",
                        F.col("slot_tokens") - F.col("real_tokens"))
            # corpus-level-empty denominator (ANSI aborts on DIV 0): an
            # all-empty-docs corpus still batches (rows exist) but every
            # batch max is 0, so slot_tokens = 0 — 0 wasted of 0 slots
            # is 0 ppm (r14 degenerate-corpus sweep)
            .withColumn("waste_ppm", F.expr(
                "CASE WHEN slot_tokens > 0 THEN "
                "waste_tokens * CAST(1000000 AS BIGINT) DIV slot_tokens "
                "ELSE CAST(0 AS BIGINT) END"))
            .select("strategy", "n_batches", "real_tokens", "slot_tokens",
                    "waste_tokens", "waste_ppm"))


def concat_window_packing(docs: DataFrame, window_tokens: int = 256,
                          n_shards: int = 16, id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Concat-and-chunk packing audit (the GPT-style loader: concatenate
    documents in deterministic md5 order within each shard, cut fixed
    ``window_tokens`` windows): one summary row with exact BIGINT
    accounting of what that loader would produce —

      (total_docs, total_tokens, n_windows, docs_split, split_ppm,
       tail_tokens, fill_ppm)

    where docs_split counts documents cut by a window boundary (the
    attention-contamination cost of concat packing), tail_tokens is the
    unfilled remainder of each shard's last window, and fill_ppm =
    total_tokens / (n_windows x window_tokens). Pairs with
    ``padding_waste_report``: concat packing wastes ~0 slots but splits
    documents; padded batching never splits but wastes slots — these two
    reports quantify the trade on YOUR corpus.

    Scale shape: cumulative token offsets come from a window partitioned
    by shard (bounded — shards are the loader's consumption unit, as in
    ``epoch_shuffle_shards``), carrying only (id, n_tok, shard, rnd)
    ints; everything downstream is one map-side-combinable aggregation.
    """
    W = int(window_tokens)
    base = docs.select(
        F.col(id_col).alias("_id"),
        F.size(tokens(F.lower(F.col(text_col)))).cast("long").alias("n_tok"),
        (_md5_bucket16(F.concat(F.lit("shard:"),
                                F.col(id_col).cast("string")))
         % n_shards).alias("shard"),
        F.md5(F.concat(F.lit("pack:"), F.col(id_col).cast("string")))
        .alias("rnd"))
    w = (Window.partitionBy("shard").orderBy("rnd", "_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = (base.withColumn("cum_end", F.sum("n_tok").over(w))
           .withColumn("start", F.col("cum_end") - F.col("n_tok"))
           .withColumn("split", (F.col("n_tok") > 0)
                       & (F.expr(f"start DIV {W}")
                          != F.expr(f"(cum_end - 1) DIV {W}"))))
    per_shard = (cum.groupBy("shard")
                 .agg(F.count(F.lit(1)).cast("long").alias("docs"),
                      F.max("cum_end").alias("tot"),
                      F.sum(F.col("split").cast("long")).alias("nsplit"))
                 .withColumn("n_win", F.expr(f"(tot + {W} - 1) DIV {W}")))
    return (per_shard.agg(
        F.sum("docs").cast("long").alias("total_docs"),
        F.sum("tot").cast("long").alias("total_tokens"),
        F.sum("n_win").cast("long").alias("n_windows"),
        F.sum("nsplit").cast("long").alias("docs_split"))
        .withColumn("split_ppm", F.expr(
            "docs_split * CAST(1000000 AS BIGINT) DIV total_docs"))
        .withColumn("tail_tokens", F.expr(
            f"n_windows * CAST({W} AS BIGINT) - total_tokens"))
        # corpus-level-empty denominator (ANSI aborts on DIV 0): an
        # all-empty-docs corpus concatenates to 0 tokens, so every
        # shard cuts 0 windows — 0 tokens in 0 windows reads fill 0
        # rather than killing the audit (r14 degenerate-corpus sweep)
        .withColumn("fill_ppm", F.expr(
            f"CASE WHEN n_windows > 0 THEN "
            f"total_tokens * CAST(1000000 AS BIGINT) "
            f"DIV (n_windows * CAST({W} AS BIGINT)) "
            f"ELSE CAST(0 AS BIGINT) END")))


def split_leak_audit(pairs: DataFrame, splits: DataFrame,
                     id_col: str = "doc_id",
                     pair_cols: tuple[str, str] = ("doc_a", "doc_b"),
                     ) -> DataFrame:
    """Contamination matrix of a per-document split: joins a verified
    near-duplicate pair set against a split assignment and counts pairs
    per unordered split-class — every cross-split row is leaked
    evaluation data (a test doc whose near-duplicate trains). This is
    the measurement that motivates ``leakage_safe_split``: run it on the
    naive ``textops.split_assign`` output to see the leak, and on the
    cluster-atomic assignment to verify it reads zero. Returns
    (split_a, split_b, n_pairs, leak) with split_a <= split_b
    lexicographically and leak = split_a <> split_b.

    Scale shape: the pair set is tiny relative to the corpus (it holds
    actual near-duplicates, not all docs), so it BROADCASTS through two
    map-side joins against the corpus-sized split map — the corpus side
    never shuffles; the final count groups <= |splits|^2 classes,
    map-side combinable.
    """
    pa, pb = pair_cols
    sa = splits.select(F.col(id_col).alias(pa), F.col("split").alias("_sa"))
    sb = splits.select(F.col(id_col).alias(pb), F.col("split").alias("_sb"))
    # each join broadcasts the pair-sized side; the corpus-sized split
    # map is only ever scanned, never shuffled
    half = sa.join(F.broadcast(pairs.select(pa, pb)), pa)
    tagged = sb.join(F.broadcast(half), pb)
    return (tagged.groupBy(
        F.least("_sa", "_sb").alias("split_a"),
        F.greatest("_sa", "_sb").alias("split_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .withColumn("leak", F.col("split_a") != F.col("split_b")))


def quality_rank_blend(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Ensemble quality ranking: each document's corpus-rank under THREE
    independent signals — the composite heuristic ``quality_score``,
    token count, and token diversity — blended by rank average, the
    standard way to fuse filter signals whose scales don't compare
    (rank fusion makes a 0-100 score and a 0-1 ratio commensurable).
    rank_ppm = (#docs with a strictly smaller signal value) x 1e6 / N;
    blend_ppm = the integer mean of the three. Returns (doc_id,
    quality_rank_ppm, length_rank_ppm, diversity_rank_ppm, blend_ppm).

    Scale shape (the quality_decile_table register discipline): signals
    quantize map-side to integers, ranks come from CUMULATIVE REGISTER
    tables — one bounded window per signal over (signal, value) counts
    (<= 10001 rows for the 1e4-quantized ratios; distinct lengths for
    the count signal), never a corpus-wide sort — then broadcast-join
    back. Every number after quantization is an exact integer, so the
    result is hash-stable by construction.
    """
    from amundsendatabuilder_spark.functions.text import quality_score
    from amundsendatabuilder_spark.session import ensure_parallelism
    toks = tokens(F.col(text_col))
    n_tok = F.size(toks).cast("long")
    diversity = F.when(
        n_tok > 0,
        F.size(F.array_distinct(toks)).cast("double") / n_tok
    ).otherwise(F.lit(0.0))
    base = ensure_parallelism(docs).select(
        F.col(id_col),
        round_half_away(quality_score(F.col(text_col)) * 1e4, 0)
        .cast("long").alias("_q"),
        n_tok.alias("_len"),
        round_half_away(diversity * 1e4, 0).cast("long").alias("_div"))
    stacked = (base.select(
        F.col(id_col),
        F.explode(F.array(
            F.struct(F.lit("quality").alias("signal"),
                     F.col("_q").alias("v")),
            F.struct(F.lit("length").alias("signal"),
                     F.col("_len").alias("v")),
            F.struct(F.lit("diversity").alias("signal"),
                     F.col("_div").alias("v")))).alias("s"))
        .select(id_col, F.col("s.signal").alias("signal"),
                F.col("s.v").alias("v")))
    reg = (stacked.groupBy("signal", "v")
           .agg(F.count(F.lit(1)).cast("long").alias("c")))
    w = (Window.partitionBy("signal").orderBy("v")
         .rowsBetween(Window.unboundedPreceding, -1))
    cum = reg.select("signal", "v",
                     F.coalesce(F.sum("c").over(w), F.lit(0))
                     .cast("long").alias("cum_lt"))
    n = docs.agg(F.count(F.lit(1)).cast("long").alias("_N"))
    ranks = (stacked.join(F.broadcast(cum), ["signal", "v"])
             .crossJoin(F.broadcast(n))
             .select(id_col, "signal", F.expr(
                 "cum_lt * CAST(1000000 AS BIGINT) DIV _N")
                 .alias("rank_ppm")))

    def pick(sig: str) -> F.Column:
        return F.max(F.when(F.col("signal") == sig,
                            F.col("rank_ppm"))).cast("long")

    return (ranks.groupBy(id_col)
            .agg(pick("quality").alias("quality_rank_ppm"),
                 pick("length").alias("length_rank_ppm"),
                 pick("diversity").alias("diversity_rank_ppm"))
            .withColumn("blend_ppm", F.expr(
                "(quality_rank_ppm + length_rank_ppm + diversity_rank_ppm)"
                " DIV 3")))


def _poisson1_thresholds_52bit(max_k: int = 8) -> list[int]:
    """Integer CDF thresholds for a Poisson(1) draw from a 52-bit
    uniform: t_k = floor(P(X <= k) * 2^52). A hash value v in [0, 2^52)
    maps to weight w = #{k : v >= t_k} (truncated at max_k + 1; the
    discarded tail mass is < 1.2e-7). Plain doubles -> exact integer
    literals, identical in the Spark plan and the DuckDB twin."""
    import math
    cdf, term, out = 0.0, math.exp(-1.0), []
    for k in range(max_k + 1):
        cdf += term
        out.append(min(int(cdf * (1 << 52)), (1 << 52) - 1))
        term /= (k + 1)
    return out


def bootstrap_ci_quality(docs: DataFrame, n_boot: int = 40,
                         group_col: str = "source",
                         id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Poisson-bootstrap confidence interval for each group's mean
    quality score: ``n_boot`` deterministic resamples where every doc's
    multiplicity in resample b is a Poisson(1) draw derived from
    md5(id, b) — the streaming-friendly bootstrap (Chamandy et al.,
    "Estimating Uncertainty for Massive Data Streams", Google 2012)
    that never materializes a resampled corpus. Answers "is source A's
    quality REALLY above source B's, or is that noise?" before
    temperature_mixture_plan upweights it.

    Returns (source, n_docs, mean_quality, ci_lo, ci_hi) — the exact
    mean plus nearest-rank 2.5%/97.5% bootstrap percentiles, 6dp.

    Determinism/scale shape: one doc pass fans out x n_boot map-side
    (no corpus shuffle beyond the (group, b) aggregation, which is
    map-side combinable to groups x n_boot rows); quality quantizes to
    1e6-scaled BIGINT so every weighted sum is an exact, order-free
    integer; Poisson draws compare 52-bit hash integers against baked
    integer CDF thresholds (zero float randomness); the percentile
    window orders the groups x n_boot REGISTER table, never corpus
    rows. Weights cap at 9 (tail mass < 1.2e-7, identically truncated
    in both engines).
    """
    from amundsendatabuilder_spark.functions.text import quality_score
    from amundsendatabuilder_spark.session import ensure_parallelism
    ts = _poisson1_thresholds_52bit()
    base = ensure_parallelism(docs).select(
        F.col(group_col).alias("grp"), F.col(id_col).alias("did"),
        round_half_away(quality_score(F.col(text_col)) * 1e6, 0)
        .cast("long").alias("qi"))
    bs = F.explode(F.sequence(F.lit(1), F.lit(int(n_boot)))).alias("b")
    fan = base.select("grp", "did", "qi", bs)
    v = F.conv(F.substring(
        F.md5(F.concat(F.lit("boot:"), F.col("did").cast("string"),
                       F.lit(":"), F.col("b").cast("string"))),
        1, 13), 16, 10).cast("long")
    w = sum(F.when(v >= F.lit(t), 1).otherwise(0) for t in ts)
    drawn = fan.select("grp", "b", "qi", w.cast("long").alias("w"))
    per_b = (drawn.groupBy("grp", "b")
             .agg(F.sum(F.col("w") * F.col("qi")).alias("wq"),
                  F.sum("w").alias("sw")))
    mean_b = (per_b.where(F.col("sw") > 0)
              .select("grp", "b",
                      (F.col("wq").cast("double")
                       / F.col("sw").cast("double")).alias("mb")))
    wnd = Window.partitionBy("grp").orderBy("mb", "b")
    ranked = (mean_b
              .withColumn("rn", F.row_number().over(wnd))
              .withColumn("nb", F.count(F.lit(1)).over(
                  Window.partitionBy("grp"))))
    lo_rank = F.greatest(F.ceil(F.col("nb") * 0.025), F.lit(1))
    hi_rank = F.ceil(F.col("nb") * 0.975)
    ci = (ranked.groupBy("grp")
          .agg(F.max(F.when(F.col("rn") == lo_rank, F.col("mb")))
               .alias("lo"),
               F.max(F.when(F.col("rn") == hi_rank, F.col("mb")))
               .alias("hi")))
    overall = base.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("qi").alias("sq"))
    return (overall.join(ci, "grp")
            .select(F.col("grp").alias(group_col), "n_docs",
                    round_half_away(F.col("sq").cast("double")
                                    / F.col("n_docs").cast("double")
                                    / 1e6, 6).alias("mean_quality"),
                    round_half_away(F.col("lo") / 1e6, 6).alias("ci_lo"),
                    round_half_away(F.col("hi") / 1e6, 6)
                    .alias("ci_hi")))


def effective_sample_size(df: DataFrame, weight_col: str,
                          group_col: str | None = None) -> DataFrame:
    """Kish effective sample size of a weighting scheme per group:
    ESS = (sum w)^2 / sum w^2 — the diagnostic a pipeline runs on
    importance weights (dsir_importance_weights) or mixture rates
    before resampling: ESS/n near 1 means the weights barely matter;
    near 0 means a handful of rows dominate and the resampled corpus
    will be tiny in effect. Pairs with ``gini_inequality`` (inequality
    of the weights) by answering the sampling-variance question
    directly.

    Returns (group?, n, sum_w, ess, ess_ratio) — ess/ess_ratio 4dp;
    NULL when all weights are 0. Rows with NULL or negative weights
    are excluded.

    Determinism/scale shape: one map-side-combinable aggregation;
    sum w and sum w^2 accumulate as exact BIGINTs (domain: integer
    weights with sum w^2 inside int64 — at larger magnitudes pre-scale
    the weights down; the squaring to (sum w)^2 happens once, in a
    double, after the exact sums).
    """
    gcols = [group_col] if group_col else []
    w = F.col(weight_col).cast("long")
    base = (df.where(F.col(weight_col).isNotNull() & (w >= 0))
            .select(*gcols, w.alias("w")))
    s = base.groupBy(*gcols).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("w").cast("long").alias("sum_w"),
        F.sum(F.col("w") * F.col("w")).cast("long").alias("sum_w2"))
    sw = F.col("sum_w").cast("double")
    ess = sw * sw / F.col("sum_w2").cast("double")
    return s.select(
        *gcols, "n", "sum_w",
        F.when(F.col("sum_w2") > 0, round_half_away(ess, 4)).alias("ess"),
        F.when(F.col("sum_w2") > 0,
               round_half_away(ess / F.col("n").cast("double"), 4))
        .alias("ess_ratio"))


def dup_affinity_matrix(pairs: DataFrame, docs: DataFrame,
                        id_col: str = "doc_id",
                        group_col: str = "source") -> DataFrame:
    """Cross-source duplicate affinity: near-dup pairs (from
    minhash_lsh_pairs / lsh_verified_pairs) tagged with BOTH endpoints'
    groups and counted per unordered group pair — the mirror-site /
    cross-source-plagiarism detector (a heavy off-diagonal cell means
    source B substantially republishes source A; drop one side before
    mixture weighting). The cross-source complement of
    ``dedup_rate_by_source`` (within-source rates) and the
    source-level view of ``split_leak_audit``'s split matrix.

    Returns (source_a, source_b, n_pairs, cross_source) with
    source_a <= source_b (unordered pair canonicalized by name).

    Determinism/scale shape: the pair set (bounded by near-dup count,
    not corpus size) joins the corpus id->group map on each endpoint —
    two hash joins shipping only (id, group); the final count
    aggregates a pair-set-sized table. No corpus self-join anywhere.
    """
    m = docs.select(F.col(id_col).alias("_id"),
                    F.col(group_col).alias("_g"))
    tagged = (pairs
              .join(m.withColumnRenamed("_id", "doc_a")
                    .withColumnRenamed("_g", "ga"), "doc_a")
              .join(m.withColumnRenamed("_id", "doc_b")
                    .withColumnRenamed("_g", "gb"), "doc_b"))
    return (tagged.select(F.least("ga", "gb").alias("source_a"),
                          F.greatest("ga", "gb").alias("source_b"))
            .groupBy("source_a", "source_b")
            .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
            .withColumn("cross_source",
                        F.col("source_a") != F.col("source_b")))


def curriculum_schedule(docs: DataFrame, n_phases: int = 4,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Curriculum data ordering (Bengio et al. 2009): stage the corpus
    into ``n_phases`` equal-depth difficulty phases (easy -> hard, here
    difficulty = token count — the standard length-as-difficulty proxy;
    swap the measure upstream by pre-projecting a ``text`` of the same
    name) with a deterministic md5 shuffle WITHIN each phase — the read
    order a curriculum loader consumes: phase 1 first, shuffled inside,
    no global sort anywhere.

    Phase boundaries come from the register form (the
    profiling.equi_depth_boundaries derivation): phase k's cut is the
    smallest difficulty whose cumulative count reaches ⌈k·N/n_phases⌉,
    so phases are equal-depth to the quantum and the assignment join is
    a broadcast against ≤n_phases rows. Position-in-phase is a
    row_number window PARTITIONED by phase ordered by
    (md5('cur:'||id), id) — corpus/n_phases-bounded, seedless,
    engine-reproducible (the epoch_shuffle_shards discipline).

    Returns (doc_id, difficulty, phase, pos_in_phase).
    """
    from amundsendatabuilder_spark.operators.profiling import (
        equi_depth_boundaries)
    d = docs.select(F.col(id_col),
                    F.size(tokens(F.col(text_col))).cast("long")
                    .alias("difficulty"))
    bounds = (equi_depth_boundaries(d, "difficulty", n_buckets=n_phases)
              .select("bucket", "cut_value"))
    assigned = (d.join(F.broadcast(bounds),
                       F.col("difficulty") <= F.col("cut_value"))
                .groupBy(id_col, "difficulty")
                .agg(F.min("bucket").cast("int").alias("phase")))
    h = F.md5(F.concat(F.lit("cur:"), F.col(id_col).cast("string")))
    w = Window.partitionBy("phase").orderBy(h, id_col)
    return (assigned
            .select(id_col, "difficulty", "phase",
                    F.row_number().over(w).alias("pos_in_phase")))


def logreg_train(docs: DataFrame, iters: int = 4, lr: float = 0.5,
                 label=None, id_col: str = "doc_id",
                 text_col: str = "text", hex_chars: int = 2,
                 featurizer=None, n_buckets: "int | None" = None
                 ) -> DataFrame:
    """In-engine quality-classifier training: full-batch logistic
    regression by gradient descent over hashing-trick text features
    (textops.feature_hashing's 256 signed md5 buckets) — the
    fastText-style linear filter modern corpus pipelines train on
    curated-vs-crawl labels and then sweep across 100 TB, here trained
    WITHOUT collecting anything to the driver: the weight vector is a
    256-row register and each GD round is two shuffles (per-doc
    margins, per-bucket gradients).

    ``label``: a boolean Column (default: lang == 'en'); y in {0, 1}.

    Determinism contract (cross-engine replayable, like the PCA loop):
    weights live as 1e9-scaled BIGINTs starting at 0; margins are exact
    integer sums of w_e9 * count; sigmoids quantize to 9dp; per-row
    gradient terms round to exact integers BEFORE the (order-free)
    per-bucket sum; the update w -= round(lr * g / n) is one identical
    double expression in both engines. Buckets no token ever hashes to
    stay absent (their gradient is identically 0). Docs with zero
    tokens have no feature rows — margin undefined, gradient
    contribution none, consistently in both engines.

    Returns (bucket, weight, n_iters) — weight 6dp.

    100 TB shape: the corpus-sized work per round is one broadcast join
    (256-row weights) + two map-side-combinable aggregations; iteration
    state localCheckpoints so lineage stays flat; n_rounds is a small
    constant (full-batch GD on a convex loss — each round is one pass,
    and the pass count does not grow with data).
    """
    from amundsendatabuilder_spark.operators.profiling import (
        guard_register_domain, require_register_width)
    from amundsendatabuilder_spark.operators.textops import feature_hashing
    # the weight vector is a bucket-space-row register broadcast every
    # round — the raise-not-degrade width contract applies (r11 verdict
    # item #5: 2^16 buckets today, 2^20 tomorrow; past the limit, raise
    # at plan time instead of silently broadcasting a corpus-sized
    # table). ``featurizer`` swaps the feature map (e.g. the
    # power-of-two-width bigram form, textops.feature_hashing_bits) —
    # it MUST declare its bucket space via ``n_buckets``: without it the
    # plan-time check would validate the irrelevant hex_chars default
    # and an over-wide custom featurizer would bypass the contract
    # (r12 advice), so that combination raises instead of guessing.
    if featurizer is not None and n_buckets is None:
        raise ValueError(
            "logreg_train: a custom featurizer must declare its bucket "
            "space via n_buckets — the register-width contract cannot "
            "be checked against the hex_chars default")
    declared = int(n_buckets) if n_buckets is not None else 16 ** hex_chars
    require_register_width(declared,
                           "logreg weight register (bucket space)")
    y_expr = (F.col("lang") == "en") if label is None else label
    # r16 MEASURED REJECTIONS (the simhash-revert discipline; 6
    # interleaved fresh-JVM A/B rounds, flagship anchor matched): two
    # restructurings of this loop were built, measured WORSE at sf0.1,
    # and reverted. (1) Label fused onto the feature rows (the margin
    # agg carrying max(y) instead of the per-round m ⋈ y join): the
    # extra build-side join + wider checkpoint rows cost 0.3-0.5 s
    # while the per-round y joins it removed were already
    # AQE-coalesced-tiny; at 100 TB it is a wash (4 bytes x token-count
    # per doc of extra checkpoint vs 4 thin scans saved). (2) The full
    # co-partitioning shape (fused table persist()ed hash-partitioned
    # by doc_id so margin agg + gradient join plan exchange-free), at
    # BOTH pinned shuffle width and a docs-count-derived width: the
    # build repartition + cache write cost more than every removed
    # exchange. The r15 loop shape below stands.
    feats = (featurizer(docs) if featurizer is not None
             else feature_hashing(docs, id_col, text_col,
                                  hex_chars=hex_chars)).localCheckpoint()
    y = docs.select(F.col(id_col).alias("doc_id"),
                    y_expr.cast("int").alias("y"))
    # materialize the 1-row corpus count ONCE — it is broadcast into
    # every GD round's update, and an unmaterialized agg re-counts the
    # corpus per round (iters extra corpus scans for one long)
    n1 = docs.agg(F.count(F.lit(1)).cast("long").alias("n")).localCheckpoint()
    # runtime half of the contract (r12 verdict item #5): the plan-time
    # check trusts the DECLARED width, but the register row count is
    # data-dependent (a featurizer emitting buckets outside its declared
    # space, or a degenerate feature config, blows the register below the
    # declared limit's radar) — so the register build itself counts its
    # rows and raises past the declared width. The rank window is
    # single-partition BY DESIGN: it runs over the register (<= declared
    # rows by contract), never the corpus, and the localCheckpoint
    # materializes it exactly once.
    w = (feats.select("bucket").distinct()
         .select("bucket", guard_register_domain(
             F.lit(0).cast("long"),
             F.row_number().over(Window.orderBy("bucket")),
             "logreg weight register (distinct buckets)",
             limit=declared).alias("w_e9"))
         .localCheckpoint())
    for _ in range(int(iters)):
        m = (feats.join(F.broadcast(w), "bucket")
             .groupBy("doc_id")
             .agg(F.sum(F.col("w_e9") * F.col("val")).cast("long")
                  .alias("m_e9")))
        p = round_half_away(
            F.lit(1.0) / (F.lit(1.0)
                          + F.exp(-F.col("m_e9").cast("double") / 1e9)), 9)
        r = (m.join(y, "doc_id")
             .select("doc_id", (p - F.col("y").cast("double"))
                     .alias("resid")))
        # 2^53 scoping (the mixture_reweight lesson): resid is on the
        # 1e-9 grid with |resid| <= 1, so resid*val*1e9 is exact while
        # the PER-DOC signed bucket count |val| < ~9000 (a document
        # repeating one bucket 9e3+ times leaves the grid — pathological
        # for natural text; collapse such docs upstream). The bucket
        # gradient then sums exact longs; the update divides by n as
        # double, exact while |g_e9| < 2^53 (~9e6 docs x avg |val| per
        # bucket) — past that scale, tilt through DECIMAL(38,0) like
        # mixture_reweight
        g = (feats.join(r, "doc_id")
             .groupBy("bucket")
             .agg(F.sum(round_half_away(
                 F.col("resid") * F.col("val").cast("double") * 1e9, 0)
                 .cast("long")).cast("long").alias("g_e9")))
        w = (w.join(g, "bucket", "left").crossJoin(F.broadcast(n1))
             .select("bucket", (F.col("w_e9") - round_half_away(
                 F.coalesce(F.col("g_e9"), F.lit(0)).cast("double")
                 * lr / F.col("n").cast("double"), 0).cast("long"))
                 .cast("long").alias("w_e9"))
             .localCheckpoint())
    return w.select(
        "bucket",
        round_half_away(F.col("w_e9").cast("double") / 1e9, 6)
        .alias("weight"),
        F.lit(int(iters)).alias("n_iters"))


def logreg_score(docs: DataFrame, weights: DataFrame,
                 id_col: str = "doc_id",
                 text_col: str = "text", hex_chars: int = 2,
                 featurizer=None, n_buckets: "int | None" = None
                 ) -> DataFrame:
    """Score documents with a ``logreg_train`` weight table: the sweep
    half of the classifier-filter loop — one feature pass + one
    broadcast join, embarrassingly parallel at any corpus size. Docs
    whose tokens hit no weighted bucket (or with zero tokens) score the
    0.5 prior. Returns (doc_id, score) — sigmoid of the margin, 6dp."""
    from amundsendatabuilder_spark.operators.profiling import (
        guard_register_domain, require_register_width)
    from amundsendatabuilder_spark.operators.textops import feature_hashing
    # the scoring side broadcasts the weight register — same width
    # contract, featurizer declaration rule, and runtime register guard
    # as logreg_train (the weight table is caller-supplied here, so the
    # runtime count is the only check that sees its TRUE row count)
    if featurizer is not None and n_buckets is None:
        raise ValueError(
            "logreg_score: a custom featurizer must declare its bucket "
            "space via n_buckets — the register-width contract cannot "
            "be checked against the hex_chars default")
    declared = int(n_buckets) if n_buckets is not None else 16 ** hex_chars
    require_register_width(declared,
                           "logreg weight register (bucket space)")
    feats = (featurizer(docs) if featurizer is not None
             else feature_hashing(docs, id_col, text_col,
                                  hex_chars=hex_chars))
    # weights are on the 1e-6 grid, so weight*1e6 is an exact integer:
    # the margin accumulates as an order-free BIGINT sum (a double sum
    # would be partition-order dependent). The guard adds +0 when
    # healthy and raises if the broadcast register outgrows the declared
    # width — single-partition rank over register-sized rows only.
    w6 = weights.select(
        "bucket",
        guard_register_domain(
            round_half_away(F.col("weight") * 1e6, 0).cast("long"),
            F.row_number().over(Window.orderBy("bucket")),
            "logreg weight register (scoring broadcast)",
            limit=declared).alias("w_e6"))
    m = (feats.join(F.broadcast(w6), "bucket")
         .groupBy("doc_id")
         .agg(F.sum(F.col("w_e6") * F.col("val")).cast("long")
              .alias("m_e6")))
    return (docs.select(F.col(id_col).alias("doc_id"))
            .join(m, "doc_id", "left")
            .select("doc_id", round_half_away(
                F.lit(1.0) / (F.lit(1.0) + F.exp(
                    -F.coalesce(F.col("m_e6"), F.lit(0)).cast("double")
                    / 1e6)), 6).alias("score")))


def logreg_explain(docs: DataFrame, weights: DataFrame, top_buckets: int = 5,
                   tokens_per_bucket: int = 3, id_col: str = "doc_id",
                   text_col: str = "text", hex_chars: int = 2) -> DataFrame:
    """Interpretability for the hashed-feature classifier: the
    ``top_buckets`` largest-|weight| buckets from ``logreg_train``,
    each mapped BACK to the corpus tokens that hash into it (top
    ``tokens_per_bucket`` by document frequency) — the "why does the
    filter score this up/down" table a curation run publishes next to
    the weights, and the collision audit in the same pass (a strong
    weight shared by two unrelated frequent tokens is the
    hashing-trick's known failure mode; this table is where it shows).

    Returns (bucket, weight, top_tokens, n_tokens_in_bucket) with
    top_tokens a comma-joined (df DESC, token ASC)-ranked list; df is
    TRUE document frequency — count(DISTINCT doc) per (bucket, token) —
    so a token repeated many times inside one document cannot outrank a
    token appearing once in many (r10 advice: occurrence counting
    inverted exactly the ranking a collision audit needs). Scale
    shape: the (doc, token) pairs dedup map-side inside the distinct
    aggregate; the per-bucket rank window partitions by bucket; the
    weight join broadcasts the register; the final top-|weight| cut is
    a distributed TakeOrderedAndProject, never a global sort.
    """
    from amundsendatabuilder_spark.functions.text import tokens as _toks
    tok = (docs.select(F.col(id_col).alias("_doc"),
                       F.explode(_toks(F.lower(F.col(text_col))))
                       .alias("tok"))
           .select("_doc", "tok",
                   F.substring(F.md5(F.col("tok").cast("binary")),
                               1, hex_chars).alias("bucket")))
    df_ = (tok.groupBy("bucket", "tok")
           .agg(F.countDistinct("_doc").cast("long").alias("df")))
    w_rk = Window.partitionBy("bucket").orderBy(F.col("df").desc(),
                                                F.col("tok").asc())
    per_bucket = (df_.withColumn("_rk", F.row_number().over(w_rk))
                  .groupBy("bucket")
                  .agg(F.count(F.lit(1)).cast("long")
                       .alias("n_tokens_in_bucket"),
                       F.concat_ws(",", F.transform(
                           F.array_sort(F.collect_list(F.when(
                               F.col("_rk") <= tokens_per_bucket,
                               F.struct("_rk", "tok")))),
                           lambda s: s["tok"])).alias("top_tokens")))
    ranked = (weights.join(F.broadcast(per_bucket), "bucket", "left")
              .select("bucket", "weight",
                      F.coalesce(F.col("top_tokens"), F.lit(""))
                      .alias("top_tokens"),
                      F.coalesce(F.col("n_tokens_in_bucket"), F.lit(0))
                      .cast("long").alias("n_tokens_in_bucket")))
    return (ranked.orderBy(F.abs(F.col("weight")).desc(),
                           F.col("bucket").asc())
            .limit(int(top_buckets)))


def mixture_reweight(docs: DataFrame, domain_col: str = "source",
                     eta: float = 2.0,
                     text_col: str = "text") -> DataFrame:
    """DoReMi-flavored mixture reweighting (Xie et al. 2023, reduced to
    its one-shot exponential-tilt step): starting from the size-
    proportional mixture, each domain's weight tilts by
    exp(eta * (domain mean quality - corpus mean quality)) and
    renormalizes — domains whose documents score above the corpus
    average gain share, below-average domains lose it. The multiplier
    update a mixture-optimization loop applies per round, exposed as a
    register operator so the loop (re-score -> retilt) composes outside.

    Determinism contract: per-doc quality is the 4dp
    functions.text.quality_score, so the per-domain sum is an exact
    integer on the 1e4 grid; means quantize to integer ppm; the single
    transcendental (exp) rounds to 9dp and then quantizes ONCE to the
    1e9-scaled integer e9 = round(exp9 * 1e9) (exact while exp9 < ~9e6,
    i.e. any sane tilt); the tilted mass is the DECIMAL(38,0) integer
    product n_d * e9 — exact for ANY domain size, unlike the previous
    double product which left the 2^53 integer grid at ~1.2e6 docs/
    domain (r10 advice) — and the final weights are integer ppm of
    their DECIMAL sum. One identical arithmetic path in both engines
    (the logreg_train discipline).

    Returns (domain, n_docs, mean_quality_ppm, base_ppm, weight_ppm).
    Scale shape: one corpus scan into a per-domain register; everything
    after is arithmetic on <=|domains| rows with 1-row broadcasts.
    """
    from amundsendatabuilder_spark.functions.text import quality_score
    per = (docs.select(F.col(domain_col).alias("domain"),
                       round_half_away(quality_score(F.col(text_col))
                                       * 1e4, 0).cast("long").alias("q4"))
           .groupBy("domain")
           .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("q4").cast("long").alias("s4")))
    tot = per.agg(F.sum("n_docs").cast("long").alias("n"),
                  F.sum("s4").cast("long").alias("s"))
    j = per.crossJoin(F.broadcast(tot))
    mean_d = F.expr("s4 * 100 DIV n_docs")        # ppm, exact integer
    mean_c = F.expr("s * 100 DIV n")
    exp9 = round_half_away(
        F.exp(F.lit(eta) * (mean_d - mean_c).cast("double") / 1e6), 9)
    # quantize the transcendental ONCE (round(exp9 * 1e9) is an exact
    # double while exp9 < ~9e6), then keep the tilt as a pure DECIMAL
    # integer product so t_e9 is exact for any n_docs — never back
    # through double where n_docs * exp9 * 1e9 leaves the 2^53 grid
    e9 = (round_half_away(exp9 * F.lit(1e9), 0)
          .cast("decimal(19,0)"))
    tilted = (j.select("domain", "n_docs", mean_d.alias("mean_quality_ppm"),
                       F.expr("n_docs * 1000000 DIV n").alias("base_ppm"),
                       (F.col("n_docs").cast("decimal(19,0)") * e9)
                       .cast("decimal(38,0)").alias("t_e9")))
    z = tilted.agg(F.sum("t_e9").cast("decimal(38,0)").alias("z"))
    # DECIMAL(38) throughout the ppm scale-up; the integral divide is
    # positive-operand, so DIV (truncate) == // (floor)
    return (tilted.crossJoin(F.broadcast(z))
            .select("domain", "n_docs", "mean_quality_ppm", "base_ppm",
                    F.expr("CAST((t_e9 * 1000000) DIV z AS BIGINT)")
                    .alias("weight_ppm")))


def uncertainty_sampling(docs: DataFrame, weights: DataFrame, k: int = 5,
                         group_col: str = "source",
                         id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Active-learning selection: the ``k`` documents per group whose
    ``logreg_score`` sits closest to the 0.5 decision boundary — the
    margin-sampling batch a labeling loop sends for human annotation,
    where a boundary example buys the most classifier improvement per
    label. Returns (group, rank, doc_id, score, margin), rank 1 = most
    uncertain, ties broken by doc_id.

    Determinism: scores live on the 6dp grid, so the margin is the
    exact integer |round(score·1e6) − 500000| — ranking compares
    integers, never raw doubles. Scale shape: scoring is one feature
    pass + a broadcast weight join (logreg_score's contract); the
    per-group top-k is a rank window with group-limit pushdown, so
    only ~k rows per group survive the shuffle."""
    from pyspark.sql import Window
    scored = logreg_score(docs, weights, id_col, text_col)
    m6 = F.abs(round_half_away(F.col("score") * 1e6, 0).cast("long")
               - F.lit(500_000))
    s = (docs.select(F.col(id_col).alias("doc_id"),
                     F.col(group_col).alias("_grp"))
         .join(scored, "doc_id")
         .withColumn("margin_e6", m6))
    w = Window.partitionBy("_grp").orderBy(F.col("margin_e6").asc(),
                                           F.col("doc_id").asc())
    return (s.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(F.col("_grp").alias(group_col), "rank", "doc_id",
                    "score",
                    round_half_away(
                        F.col("margin_e6").cast("double") / 1e6, 6)
                    .alias("margin")))
