"""Distributed cardinality sketches (HyperLogLog) — JVM-side, mergeable,
oracle-reproducible.

At 100 TB, ``COUNT(DISTINCT x)`` is the canonical scale killer: exact
distinct forces a full shuffle of every distinct value. The HLL sketch
replaces it with bounded state — ``m`` 6-bit registers per group — that
partial-aggregates map-side (``max`` per register is commutative and
idempotent), merges across partitions/days/sources with another ``max``,
and answers within ~1.04/sqrt(m) relative error. Spark ships
``approx_count_distinct`` (HLL++); this operator exists for the cases
that built-in cannot cover:

- **persistable/mergeable registers**: ``hll_registers`` materializes the
  (group, bucket, register) table so daily sketches can be stored and
  merged later without re-reading raw data (the built-in's sketch never
  leaves the aggregation buffer);
- **engine-independent determinism**: registers derive from ``md5`` (a
  cross-engine primitive), so a DuckDB/Trino/any-ANSI twin reproduces the
  exact registers AND the exact estimate — which is also what makes the
  operator hash-verifiable by this repo's oracle gate, where
  ``approx_count_distinct`` is a JVM-internal black box.

Everything is built-in expression algebra (md5, substring, trim, CASE,
shiftleft, max/sum) — no UDFs, fully inside whole-stage codegen; the only
shuffles are the two tiny groupBys (per-group register space is m rows).

Hash layout (64-bit prefix of md5 of the value's string form):
  - first p/4 hex chars  -> bucket key (kept AS TEXT: no hex->int cast
    needed, which keeps the SQL twin portable);
  - next (16 - p/4) hex chars -> rho = leading-zero count + 1, computed
    from the hex string itself: 4 bits per leading '0' char, plus a
    4-way CASE on the first non-zero hex digit.

Estimator: standard HLL (Flajolet et al. 2007): alpha_m * m^2 / sum(2^-R),
with linear counting (m * ln(m/V)) when the raw estimate <= 2.5m and
empty registers exist. The 2^-R sum is scaled to an exact BIGINT
(sum of 1 << (50 - R), registers > 50 clamp to 0 — beyond any real
cardinality) so no float accumulation order can perturb the result.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F


def _rho_expr(hex_col: str, rest: int) -> str:
    """SQL for rho = leading zero bits + 1 over ``rest`` hex chars held in
    column ``hex_col`` (Spark and DuckDB agree on every function used)."""
    maxrho = 4 * rest + 1
    return f"""CASE WHEN {hex_col} = '' THEN {maxrho}
ELSE {4 * rest} - 4 * length({hex_col})
     + CASE substring({hex_col}, 1, 1)
            WHEN '1' THEN 3
            WHEN '2' THEN 2 WHEN '3' THEN 2
            WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1 WHEN '7' THEN 1
            ELSE 0 END + 1 END"""


def hll_terms(df: DataFrame, col: str, p: int = 8) -> DataFrame:
    """Append the per-row sketch terms (bucket, rho) for ``col`` — the
    stateless stage shared by batch ``hll_registers`` and the streaming
    windowed sketch (it composes with any watermark/window grouping)."""
    if not (p % 4 == 0 and 4 <= p <= 16):
        raise ValueError("p must be a multiple of 4 in [4,16]")
    from amundsendatabuilder_spark.operators.profiling import (
        require_register_width)
    require_register_width(1 << p, f"hll registers (2^p, p={p})")
    nbhex = p // 4
    rest = 16 - nbhex
    d = df.withColumn(
        "_h", F.md5(F.col(col).cast("string").cast("binary")))
    d = d.withColumn("bucket", F.substring("_h", 1, nbhex)).withColumn(
        "_s2",
        F.expr(f"trim(LEADING '0' FROM substring(_h, {nbhex + 1}, {rest}))"))
    return (d.withColumn("rho", F.expr(_rho_expr("_s2", rest)).cast("int"))
            .drop("_h", "_s2"))


def hll_registers(df: DataFrame, col: str, group_cols: tuple[str, ...] = (),
                  p: int = 8) -> DataFrame:
    """(group..., bucket, r): the sketch itself — at most 2^p rows per
    group, partial-aggregated map-side. Store it, union it with another
    day's registers and ``max`` again, or feed it to ``hll_estimate``."""
    d = hll_terms(df.select(*group_cols, col), col, p)
    return d.groupBy(*group_cols, "bucket").agg(F.max("rho").alias("r"))


def hll_estimate(registers: DataFrame, group_cols: tuple[str, ...] = (),
                 p: int = 8) -> DataFrame:
    """Fold a register table into (group..., approx_distinct). Constants
    are precomputed in Python and inlined so an oracle twin using the
    identical literals reproduces the float math bit-for-bit.

    Runtime register-domain guard (r10 verdict item #4): a register
    table whose per-group bucket count exceeds 2^p can only come from a
    mismatched-width merge (unioning p=8 with p=10 registers — THE
    operational hazard of mergeable sketches), and the estimator
    constants would then be silently wrong; the fold already counts
    buckets per group, so the check is free and the job raises instead
    of shipping a garbage estimate."""
    from amundsendatabuilder_spark.operators.profiling import (
        guard_register_domain)
    m = 1 << p
    alpha = 0.7213 / (1 + 1.079 / m)
    num = alpha * m * m * float(1 << 50)  # alpha * m^2 / (S / 2^50)
    fold = registers.groupBy(*group_cols).agg(
        F.sum(F.expr(
            "CASE WHEN r <= 50 THEN shiftleft(CAST(1 AS BIGINT), 50 - r) "
            "ELSE CAST(0 AS BIGINT) END")).alias("s_present"),
        F.count(F.lit(1)).alias("n_present"))
    s_total = (F.col("s_present")
               + (F.lit(m) - F.col("n_present")) * F.lit(1 << 50))
    v_empty = F.lit(m) - F.col("n_present")
    raw = F.lit(num) / s_total.cast("double")
    est = F.when((raw <= F.lit(2.5 * m)) & (v_empty > 0),
                 F.lit(float(m)) * F.log(F.lit(float(m)) / v_empty.cast("double"))
                 ).otherwise(raw)
    est = guard_register_domain(
        est, F.col("n_present"), f"hll register fold (p={p})", limit=m)
    return fold.select(*group_cols, est.alias("approx_distinct"))


def hll_distinct(df: DataFrame, col: str, group_cols: tuple[str, ...] = (),
                 p: int = 8) -> DataFrame:
    """End-to-end approximate COUNT(DISTINCT col) per group."""
    return hll_estimate(hll_registers(df, col, group_cols, p), group_cols, p)


def hll_oracle_sql(source_sql: str, col: str,
                   group_cols: tuple[str, ...] = ("grp",),
                   p: int = 8) -> str:
    """DuckDB twin of ``hll_distinct`` over ``source_sql`` (a FROM-able
    subquery aliased internally) — identical hash layout, register fold,
    scaled-integer sum, and inlined estimator literals. ``group_cols``
    are passed through by name (alias them in ``source_sql``)."""
    m = 1 << p
    nbhex = p // 4
    rest = 16 - nbhex
    alpha = 0.7213 / (1 + 1.079 / m)
    num = alpha * m * m * float(1 << 50)
    gc = ", ".join(group_cols)
    gsel = f"{gc}, " if gc else ""
    gby = f"GROUP BY {gc}" if gc else ""
    return f"""
WITH src AS ({source_sql}),
hx AS (SELECT {gsel}md5(CAST({col} AS VARCHAR)) AS h FROM src),
st AS (SELECT {gsel}substring(h, 1, {nbhex}) AS bucket,
              trim(LEADING '0' FROM substring(h, {nbhex + 1}, {rest})) AS s2
       FROM hx),
rh AS (SELECT {gsel}bucket, CAST({_rho_expr('s2', rest)} AS INT) AS rho FROM st),
regs AS (SELECT {gsel}bucket, max(rho) AS r FROM rh GROUP BY {gsel}bucket),
fold AS (SELECT {gsel}
                sum(CASE WHEN r <= 50 THEN CAST(1 AS BIGINT) << (50 - r)
                         ELSE CAST(0 AS BIGINT) END) AS s_present,
                count(*) AS n_present
         FROM regs {gby})
SELECT {gsel}
       CASE WHEN ({num!r} / CAST(s_present + ({m} - n_present)
                                 * (CAST(1 AS BIGINT) << 50) AS DOUBLE))
                 <= {2.5 * m!r}
             AND ({m} - n_present) > 0
            THEN {float(m)!r} * ln({float(m)!r}
                                   / CAST({m} - n_present AS DOUBLE))
            ELSE {num!r} / CAST(s_present + ({m} - n_present)
                                * (CAST(1 AS BIGINT) << 50) AS DOUBLE)
       END AS approx_distinct
FROM fold"""


def hll_pairwise_overlap(df: DataFrame, col: str,
                         group_col: str = "source",
                         p: int = 8) -> DataFrame:
    """Pairwise distinct-overlap estimates between groups via HLL set
    algebra: |A ∩ B| ≈ est(A) + est(B) − est(A ∪ B), where est(A ∪ B)
    comes from max-MERGING the two groups' register tables — the sketch
    operation exact COUNT(DISTINCT) joins cannot match at scale.

    The sketch-scale twin of the exact ``cross_source_overlap``: at
    100 TB the exact version shuffles every (source, shingle) pair,
    while this one reduces each source to 2^p registers ONCE (one pass
    over the data), after which all O(k²) pairwise union/intersection
    estimates are register-table arithmetic — k·2^p rows total,
    broadcastable, zero further corpus scans. Inclusion-exclusion
    amplifies the base estimator's error (clamped at 0 below), so this
    ranks overlaps rather than certifying small ones — the screening
    pass before an exact join on the few pairs that matter.

    Returns (source_a, source_b, approx_a, approx_b, approx_union,
    approx_intersection, overlap) with overlap = intersection /
    min(approx_a, approx_b), i.e. estimated containment of the smaller
    set. Deterministic (md5-based) and engine-reproducible.
    """
    g = F.col(group_col)
    # one corpus pass -> k*2^p register rows; localCheckpoint so the
    # three downstream consumers (single estimates, both pair joins)
    # reread the tiny materialized table, not the token scan
    regs = hll_registers(df, col, (group_col,), p).localCheckpoint()
    singles = hll_estimate(regs, (group_col,), p)
    srcs = regs.select(group_col).distinct()
    pairs = (srcs.select(g.alias("source_a"))
             .join(srcs.select(g.alias("source_b")),
                   F.col("source_a") < F.col("source_b")))
    ra = (F.broadcast(pairs)
          .join(regs, g == F.col("source_a"))
          .select("source_a", "source_b", "bucket", "r"))
    rb = (F.broadcast(pairs)
          .join(regs, g == F.col("source_b"))
          .select("source_a", "source_b", "bucket", "r"))
    merged = (ra.unionByName(rb)
              .groupBy("source_a", "source_b", "bucket")
              .agg(F.max("r").alias("r")))
    est_ab = hll_estimate(merged, ("source_a", "source_b"), p) \
        .withColumnRenamed("approx_distinct", "est_ab")
    ea = singles.select(g.alias("source_a"),
                        F.col("approx_distinct").alias("est_a"))
    eb = singles.select(g.alias("source_b"),
                        F.col("approx_distinct").alias("est_b"))
    inter = F.greatest(F.col("est_a") + F.col("est_b") - F.col("est_ab"),
                       F.lit(0.0))
    from amundsendatabuilder_spark.functions.scalars import round_half_away
    return (est_ab.join(F.broadcast(ea), "source_a")
            .join(F.broadcast(eb), "source_b")
            .select("source_a", "source_b",
                    round_half_away(F.col("est_a"), 3).alias("approx_a"),
                    round_half_away(F.col("est_b"), 3).alias("approx_b"),
                    round_half_away(F.col("est_ab"), 3).alias("approx_union"),
                    round_half_away(inter, 3).alias("approx_intersection"),
                    round_half_away(
                        inter / F.least(F.col("est_a"), F.col("est_b")),
                        6).alias("overlap")))


def hll_pairwise_overlap_oracle_sql(source_sql: str, col: str,
                                    group_col: str = "source",
                                    p: int = 8) -> str:
    """DuckDB twin of ``hll_pairwise_overlap`` — identical hash layout,
    register fold, pair-union max-merge, and inlined estimator
    literals, so the inclusion-exclusion floats match bit-for-bit."""
    m = 1 << p
    nbhex = p // 4
    rest = 16 - nbhex
    alpha = 0.7213 / (1 + 1.079 / m)
    num = alpha * m * m * float(1 << 50)
    gc = group_col
    est = f"""CASE WHEN ({num!r} / CAST(s_present + ({m} - n_present)
                                 * (CAST(1 AS BIGINT) << 50) AS DOUBLE))
                 <= {2.5 * m!r}
             AND ({m} - n_present) > 0
            THEN {float(m)!r} * ln({float(m)!r}
                                   / CAST({m} - n_present AS DOUBLE))
            ELSE {num!r} / CAST(s_present + ({m} - n_present)
                                * (CAST(1 AS BIGINT) << 50) AS DOUBLE)
       END"""
    fold = ("sum(CASE WHEN r <= 50 THEN CAST(1 AS BIGINT) << (50 - r) "
            "ELSE CAST(0 AS BIGINT) END) AS s_present, "
            "count(*) AS n_present")
    return f"""
WITH src AS ({source_sql}),
hx AS (SELECT {gc}, md5(CAST({col} AS VARCHAR)) AS h FROM src),
st AS (SELECT {gc}, substring(h, 1, {nbhex}) AS bucket,
              trim(LEADING '0' FROM substring(h, {nbhex + 1}, {rest})) AS s2
       FROM hx),
rh AS (SELECT {gc}, bucket, CAST({_rho_expr('s2', rest)} AS INT) AS rho
       FROM st),
regs AS (SELECT {gc}, bucket, max(rho) AS r FROM rh GROUP BY {gc}, bucket),
srcs AS (SELECT DISTINCT {gc} FROM regs),
prs AS (SELECT a.{gc} AS source_a, b.{gc} AS source_b
        FROM srcs a JOIN srcs b ON a.{gc} < b.{gc}),
pregs AS (SELECT source_a, source_b, bucket, max(r) AS r FROM (
            SELECT pr.source_a, pr.source_b, rg.bucket, rg.r
            FROM prs pr JOIN regs rg ON rg.{gc} = pr.source_a
            UNION ALL
            SELECT pr.source_a, pr.source_b, rg.bucket, rg.r
            FROM prs pr JOIN regs rg ON rg.{gc} = pr.source_b)
          GROUP BY 1, 2, 3),
foldp AS (SELECT source_a, source_b, {fold} FROM pregs GROUP BY 1, 2),
estp AS (SELECT source_a, source_b, {est} AS est_ab FROM foldp),
folds AS (SELECT {gc}, {fold} FROM regs GROUP BY {gc}),
ests AS (SELECT {gc}, {est} AS est FROM folds)
SELECT p.source_a, p.source_b,
       round(a.est, 3) AS approx_a,
       round(b.est, 3) AS approx_b,
       round(p.est_ab, 3) AS approx_union,
       round(greatest(a.est + b.est - p.est_ab, 0), 3)
           AS approx_intersection,
       round(greatest(a.est + b.est - p.est_ab, 0)
             / least(a.est, b.est), 6) AS overlap
FROM estp p JOIN ests a ON a.{gc} = p.source_a
JOIN ests b ON b.{gc} = p.source_b
"""


# ---------------------------------------------------------------------------
# Count-min sketch — mergeable frequency registers
# ---------------------------------------------------------------------------
#
# The frequency twin of the HLL above: exact per-token counts over 100 TB
# of text shuffle one row per distinct token; the count-min sketch replaces
# that with a fixed depth x width counter grid that partial-aggregates
# map-side (SUM is commutative), merges across shards/days with another
# SUM, and answers point queries with one-sided error
# (est >= true, est <= true + eps*N w.h.p.). Register state per group is
# at most depth*width rows, so the shuffle payload is bounded by the
# sketch size times the partition count — never by the token stream.
#
# Hashing: ONE md5 per value; row j draws from md5 chunk j%4 through a
# prime-modulus universal hash (hashing.udh_positions — the prime keeps
# power-of-two widths from collapsing every row to the same low bits) —
# exact signed-64-bit integer math that an ANSI twin reproduces
# term-for-term.

def cms_terms(df: DataFrame, col: str, depth: int = 4,
              width: int = 512) -> DataFrame:
    """Append the per-row sketch coordinates (j, bucket) for ``col`` —
    the stateless stage shared by batch ``cms_registers`` and the
    streaming windowed sketch (it composes with any watermark/window
    grouping). Fans each row out depth ways."""
    from amundsendatabuilder_spark.functions.hashing import udh_positions
    pos = udh_positions(F.col(col), depth, width)
    hb = F.explode(F.array(*[
        F.struct(F.lit(j).alias("j"), pos[j].alias("bucket"))
        for j in range(depth)])).alias("hb")
    return df.select("*", hb).select(*df.columns, "hb.j", "hb.bucket")


def cms_registers(df: DataFrame, col: str, group_cols: tuple[str, ...] = (),
                  depth: int = 4, width: int = 512) -> DataFrame:
    """(group..., j, bucket, cnt): the sketch — at most depth*width rows
    per group, partial-aggregated map-side. Store it, UNION another
    shard's registers and SUM again, or feed it to ``cms_lookup``."""
    from amundsendatabuilder_spark.operators.profiling import (
        require_register_width)
    require_register_width(depth * width,
                           f"cms registers ({depth}x{width})")
    d = cms_terms(df.select(*group_cols, col), col, depth, width)
    return d.groupBy(*group_cols, "j", "bucket").agg(
        F.count(F.lit(1)).alias("cnt"))


def cms_lookup(registers: DataFrame, probes: DataFrame, col: str,
               group_cols: tuple[str, ...] = (), depth: int = 4,
               width: int = 512) -> DataFrame:
    """Point-query the sketch for every row of ``probes``: recompute the
    depth (j, bucket) coordinates for ``col``, join the register grid,
    and take the min count across rows. Missing buckets count 0 (value
    never seen). An UNGROUPED grid is depth*width rows and broadcasts;
    a grouped grid (e.g. one sketch per window) grows with the group
    count, so it joins hash-partitioned on (group, j, bucket) — both
    sides shuffle only coordinate rows."""
    from amundsendatabuilder_spark.functions.hashing import udh_positions
    pos = udh_positions(F.col(col), depth, width)
    hb = F.explode(F.array(*[
        F.struct(F.lit(j).alias("j"), pos[j].alias("bucket"))
        for j in range(depth)])).alias("hb")
    p = probes.select(*group_cols, col, hb).select(
        *group_cols, col, "hb.j", "hb.bucket")
    reg = F.broadcast(registers) if not group_cols else registers
    joined = p.join(reg, [*group_cols, "j", "bucket"], "left")
    return joined.groupBy(*group_cols, col).agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_cnt"))


def cms_oracle_fragment(tok_cte: str, col: str, depth: int = 4,
                        width: int = 512) -> str:
    """DuckDB CTE text replaying ``cms_registers`` over ``tok_cte`` (a CTE
    name holding one row per occurrence with column ``col``): produces
    CTEs ``cms_hb`` (exploded coordinates) and ``cms_regs``."""
    from amundsendatabuilder_spark.functions.hashing import (
        udh_positions_sql)
    pos = udh_positions_sql(col, depth, width)
    branches = "\nUNION ALL\n".join(
        f"SELECT {col}, {j} AS j, {pos[j]} AS bucket FROM {tok_cte}"
        for j in range(depth))
    return (f"cms_hb AS ({branches}),\n"
            f"cms_regs AS (SELECT j, bucket, count(*) AS cnt "
            f"FROM cms_hb GROUP BY j, bucket)")


# ---------------------------------------------------------------------------
# Bloom filter — mergeable membership bitmap
# ---------------------------------------------------------------------------
#
# Membership at corpus scale (decontamination: "was this fingerprint /
# n-gram seen in the benchmark set?") without shipping the reference set
# to every executor as raw values. The filter is m bits stored as
# ceil(m/63) BIGINT words of 63 bits each (the sign bit stays clear so
# checked ANSI left-shifts never overflow) built with bit_or aggregation
# (commutative -> map-side partial, mergeable across builds with another
# bit_or). Probing
# broadcasts the word table (m/64 rows — a few KiB) and checks the k bit
# positions per probe; no false negatives, false-positive rate
# ~ (1 - e^{-kn/m})^k. Same one-md5 universal-hash family as the CMS.

def bloom_build(df: DataFrame, col: str, m_bits: int = 8192,
                k: int = 4) -> DataFrame:
    """(word_idx, bits): the filter packed 63 bits per BIGINT word; at
    most ceil(m_bits/63) rows, one map-side-combined bit_or aggregation."""
    from amundsendatabuilder_spark.functions.hashing import udh_positions
    from amundsendatabuilder_spark.operators.profiling import (
        require_register_width)
    require_register_width((m_bits + 62) // 63,
                           f"bloom filter words ({m_bits} bits)")
    pos = F.explode(F.array(
        *udh_positions(F.col(col), k, m_bits))).alias("pos")
    d = df.select(pos)
    return (d.select((F.col("pos") / 63).cast("long").alias("word_idx"),
                     F.expr("shiftleft(CAST(1 AS BIGINT), "
                            "CAST(pos % 63 AS INT))").alias("w"))
            .groupBy("word_idx").agg(F.bit_or("w").alias("bits")))


def bloom_probe(probes: DataFrame, bloom: DataFrame, col: str,
                m_bits: int = 8192, k: int = 4) -> DataFrame:
    """Append ``maybe_member`` (true iff all k bits set — no false
    negatives) to ``probes``. The filter word table is broadcast; the
    probe side never shuffles."""
    from amundsendatabuilder_spark.functions.hashing import udh_positions
    pos = F.explode(F.array(
        *udh_positions(F.col(col), k, m_bits))).alias("pos")
    p = probes.select("*", pos).withColumn(
        "word_idx", (F.col("pos") / 63).cast("long")).withColumn(
        "mask", F.expr("shiftleft(CAST(1 AS BIGINT), "
                       "CAST(pos % 63 AS INT))"))
    j = p.join(F.broadcast(bloom), "word_idx", "left")
    hit = F.when((F.col("bits").isNotNull())
                 & (F.col("bits").bitwiseAND(F.col("mask")) == F.col("mask")),
                 F.lit(1)).otherwise(F.lit(0))
    keys = [c for c in probes.columns]
    return (j.groupBy(*keys).agg(
        (F.min(hit) == 1).alias("maybe_member")))


def bloom_prefilter(df: DataFrame, bloom: DataFrame, col: str,
                    m_bits: int = 8192, k: int = 4) -> DataFrame:
    """Row-preserving Bloom pre-filter: keep only rows whose ``col``
    MIGHT be in the filter — the semi-join reduction that shrinks a
    fact-table shuffle before an equi-join when the dim side's raw key
    set is too large to broadcast but its bit filter (m/63 BIGINT words)
    is a few KB.

    No explode/regroup (that would merge duplicate fact rows): the k bit
    tests run as k broadcast word-lookups appended per row; survivors
    are exactly the true matches plus the filter's false positives,
    which the real join then discards — the reduction is lossless by the
    no-false-negative guarantee. Probe column is hashed via its string
    form (cast once here)."""
    from amundsendatabuilder_spark.functions.hashing import udh_positions
    pos = udh_positions(F.col(col).cast("string"), k, m_bits)
    # the word table is referenced k times — materialize once or every
    # broadcast branch re-runs the build aggregation
    bloom = bloom.localCheckpoint()
    out = df
    keep = None
    for j in range(k):
        w = bloom.select(F.col("word_idx").alias(f"_wi{j}"),
                         F.col("bits").alias(f"_bits{j}"))
        out = (out.withColumn(f"_p{j}", pos[j])
               .join(F.broadcast(w),
                     (F.col(f"_p{j}") / 63).cast("long")
                     == F.col(f"_wi{j}"), "left"))
        hit = (F.col(f"_bits{j}").isNotNull()
               & (F.col(f"_bits{j}").bitwiseAND(
                   F.expr(f"shiftleft(CAST(1 AS BIGINT), "
                          f"CAST(_p{j} % 63 AS INT))"))
                  != 0))
        keep = hit if keep is None else (keep & hit)
    return (out.where(keep)
            .drop(*[c for j in range(k)
                    for c in (f"_p{j}", f"_wi{j}", f"_bits{j}")]))


def histogram_registers(df: DataFrame, col, lo: int, width: int,
                        n_buckets: int) -> DataFrame:
    """Mergeable equi-width histogram registers over an integer column:
    (bucket, cnt) with bucket = clamp((v − lo) DIV width, 0,
    n_buckets−1). SUM-mergeable across shards/days like the HLL/CMS
    registers — the quantile-sketch register family: store these, merge
    with another SUM, and answer any quantile at read time via
    ``histogram_quantile``. Deterministic by construction (exact counts,
    integer bucket edges), unlike t-digest/GK whose state depends on
    arrival order."""
    from pyspark.sql import functions as F
    from amundsendatabuilder_spark.operators.profiling import (
        require_register_width)
    require_register_width(n_buckets,
                           f"histogram registers ({n_buckets} buckets)")
    if width < 1:
        raise ValueError(
            f"histogram width must be >= 1 (got {width}): the bucket "
            "edge is an integer DIV, and width 0 aborts under ANSI")
    v = (F.col(col) if isinstance(col, str) else col).cast("long")
    # integer DIV (not float '/'): bucket edges must be exact at any
    # magnitude; negatives clamp to bucket 0 before the division matters
    q = F.expr(f"GREATEST(CAST(0 AS BIGINT), v_ - {lo}) DIV {width}")
    b = F.least(F.lit(n_buckets - 1).cast("long"), q)
    return (df.select(v.alias("v_")).select(b.alias("bucket"))
            .groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt")))


def histogram_quantile(regs: DataFrame, qs: "list[int]", lo: int,
                       width: int) -> DataFrame:
    """Quantile estimates from histogram registers, in exact integer
    arithmetic: for each q (ppm), find the first bucket where the
    cumulative count reaches ceil(q·N/1e6) and return the bucket's
    upper edge — a deterministic, conservative (≤ one bucket width
    high) estimate any engine reproduces bit-for-bit. Error is bounded
    by the bucket width; at 100 TB the register table is n_buckets rows
    regardless of input size."""
    from pyspark.sql import functions as F
    from pyspark.sql import Window
    total = regs.agg(F.sum("cnt").alias("n"))
    cum = regs.withColumn(
        "cum", F.sum("cnt").over(
            Window.orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, 0)))
    out = None
    for q in qs:
        need = F.expr(f"CAST(-((-{q} * n) DIV 1000000) AS BIGINT)")  # ceil
        row = (cum.crossJoin(F.broadcast(total))
               .where(F.col("cum") >= need)
               .orderBy("bucket").limit(1)
               .select(F.lit(q).alias("q_ppm"),
                       (F.lit(lo) + (F.col("bucket") + 1) * F.lit(width))
                       .cast("long").alias("upper_edge"),
                       F.col("cum").cast("long").alias("cum_count")))
        out = row if out is None else out.unionByName(row)
    return out
