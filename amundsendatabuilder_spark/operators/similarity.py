"""Similarity search over an embedding column (``array<float>``).

- ``brute_force_topk``: exact cosine top-k. The query set is broadcast
  (it is small by construction); each executor scans only its partition of
  the corpus, computes cosine JVM-side, and a per-partition top-k window
  keeps the shuffle at k rows per query — this is the pattern that holds at
  100 TB: broadcast-queries × partitioned-corpus, never corpus × corpus.
- ``ivf_topk``: IVF-style two-stage search — k-means-lite centroid
  assignment (centroids sampled deterministically), probe the ``nprobe``
  nearest inverted lists only. Trades recall for a ~corpus/nlist scan
  reduction, the standard scale path.
- ``rhp_signature``: random-hyperplane LSH bit signature for cosine —
  bucketing primitive shared with dedup.embedding_near_duplicates.

Ranking determinism: similarities are computed in double via ordered
fold (functions/vectors.py), rounded to 6 decimals, ties broken by id — so
results are stable across engines/partitionings.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from amundsendatabuilder_spark.functions.scalars import round_half_away

from amundsendatabuilder_spark.functions.vectors import cosine_similarity, dot


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     include_self: bool = False) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, cos, rank)."""
    from amundsendatabuilder_spark.functions.vectors import l2_norm
    # pre-cast to double and precompute norms ONCE per row — the pair scan
    # then does a single ordered fold (dot) per pair instead of three
    from amundsendatabuilder_spark.session import ensure_parallelism
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).cast("array<double>").alias("q_vec")) \
        .withColumn("q_norm", l2_norm("q_vec"))
    corpus = ensure_parallelism(corpus)
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).cast("array<double>").alias("c_vec")) \
        .withColumn("c_norm", l2_norm("c_vec"))
    pairs = c.crossJoin(F.broadcast(q))
    if not include_self:
        pairs = pairs.where(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.withColumn(
        "cos", round_half_away(cosine_similarity(
            "q_vec", "c_vec", norm_a=F.col("q_norm"), norm_b=F.col("c_norm")), 6))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def rhp_signature(df: DataFrame, planes: list[list[float]],
                  vec_col: str = "embedding", out_col: str = "rhp_sig") -> DataFrame:
    """Random-hyperplane LSH: bit i = sign(v · plane_i); signature as a
    bit-string column. ``planes`` is a fixed (seeded offline) list so runs
    are reproducible."""
    bits = []
    for p in planes:
        plane = F.array(*[F.lit(float(x)) for x in p])
        bits.append(F.when(dot(F.col(vec_col), plane) >= 0, F.lit("1")).otherwise(F.lit("0")))
    return df.withColumn(out_col, F.concat(*bits))


def rhp_band_sigs(df: DataFrame, planes: list[list[float]], bands: int,
                  id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """(id, band, sig) rows: ``planes`` split into ``bands`` contiguous
    groups, sig = the group's sign bits concatenated — the banding
    primitive under both embedding near-dup (multi-band OR candidate
    generation) and rhp_topk. One narrow projection + a bands-way
    explode; the vectors themselves never leave their partitions.

    The plane matrix rides in as a BROADCAST one-row frame (bands x
    per_band x dim, grouped band-major), folded with a single
    ``transform`` lambda — not len(planes) unrolled dot expressions, and
    (since r11) not a literal tree either: a 64x64 matrix as
    n_planes x dim Literal nodes cost ~2.2s PER PLAN ANALYSIS (measured
    at sf0.01; self-joining consumers re-analyze it several times), vs
    0.4s with the matrix as data.

    Shape: posexplode the band GROUPS first, THEN evaluate only that
    band's plane dots. The earlier form built all bands' sign bits as 8
    struct fields of one array — CollapseProject inlined the full
    64-plane fold into EVERY field, so each row paid the 64x64 dot
    pass 8 times (invisible to sigs.count(), which prunes the column;
    a downstream groupBy("sig") paid it for real: 6.5s for 2000
    vectors at sf0.1, now ~0.8s). The arithmetic is identical — the
    inner left-fold matches functions.vectors.dot's order exactly, and
    each plane's bit is computed from the same per-band slice — so
    signatures are bit-identical to all earlier forms."""
    per_band = len(planes) // bands
    assert per_band * bands == len(planes), "bands must divide len(planes)"
    groups = [[[float(x) for x in p]
               for p in planes[g * per_band:(g + 1) * per_band]]
              for g in range(bands)]
    pm = df.sparkSession.createDataFrame(
        [(groups,)], "_rhp_bands array<array<array<double>>>")
    sig = F.array_join(F.transform(
        F.col("_bpl"),
        lambda p: F.when(
            F.aggregate(
                F.zip_with(F.col(vec_col), p,
                           lambda x, y: x.cast("double") * y.cast("double")),
                F.lit(0.0), lambda acc, v: acc + v) >= 0,
            F.lit("1")).otherwise(F.lit("0"))), "")
    return (df.crossJoin(F.broadcast(pm))
            .select(F.col(id_col).alias("id"), F.col(vec_col),
                    F.posexplode(F.col("_rhp_bands"))
                    .alias("band", "_bpl"))
            .select("id", F.col("band").cast("int").alias("band"),
                    sig.alias("sig")))


def rhp_topk(corpus: DataFrame, queries: DataFrame,
             planes: list[list[float]], bands: int = 4, k: int = 10,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """LSH-bucketed approximate top-k — the bucketed alternative to
    ``ivf_topk`` (no training step): corpus and queries get random-
    hyperplane band signatures; each query scores ONLY corpus vectors
    sharing at least one band signature (multi-band OR), then ranks the
    candidates by exact cosine.

    Scale shape: the candidate join shuffles (id, band, sig) rows — never
    vectors; vectors join back for candidates only. The candidate set
    (bounded by the broadcast-small query batch × bucket sizes, never the
    corpus) is materialized once, so the full corpus signature pass runs
    exactly once, and the corpus vector frame is pruned to candidate ids
    with a broadcast semi-join BEFORE the scoring join — the corpus never
    shuffles by id; only candidate vectors do. More planes per band
    shrink buckets (higher precision / lower recall); more bands recover
    recall. Returns (query_id, neighbor_id, cos, rank≤k) — approximate:
    neighbors in no shared bucket are unseen, so recall is
    parameter-dependent (tests pin a measured floor).
    """
    from amundsendatabuilder_spark.functions.vectors import l2_norm
    from amundsendatabuilder_spark.session import ensure_parallelism
    # parallelism boost only for the CPU-heavy plane-dot pass; the vector
    # frame below is read from the raw input so the broadcast semi-join
    # prunes it map-side without a prior full-vector repartition shuffle
    c_sigs = rhp_band_sigs(ensure_parallelism(corpus), planes, bands,
                           id_col, vec_col)
    q_sigs = rhp_band_sigs(queries, planes, bands, id_col, vec_col)
    cands = (c_sigs.alias("c").join(
        F.broadcast(q_sigs.alias("q")),
        (F.col("c.band") == F.col("q.band")) & (F.col("c.sig") == F.col("q.sig"))
        & (F.col("c.id") != F.col("q.id")))
        .select(F.col("q.id").alias("query_id"), F.col("c.id").alias("neighbor_id"))
        .distinct()
        # two consumers (the id-prune below + the scoring join) — without
        # materialization each would re-run the corpus plane-dot pass
        .localCheckpoint())
    qv = queries.select(F.col(id_col).alias("query_id"),
                        F.col(vec_col).cast("array<double>").alias("q_vec")) \
        .withColumn("q_norm", l2_norm("q_vec"))
    cand_ids = cands.select("neighbor_id").distinct()
    cv = (corpus.select(F.col(id_col).alias("neighbor_id"),
                        F.col(vec_col).cast("array<double>").alias("c_vec"))
          .join(F.broadcast(cand_ids), "neighbor_id", "left_semi")
          .withColumn("c_norm", l2_norm("c_vec")))
    scored = (cands.join(cv, "neighbor_id").join(F.broadcast(qv), "query_id")
              .withColumn("cos", round_half_away(cosine_similarity(
                  "q_vec", "c_vec", norm_a=F.col("q_norm"),
                  norm_b=F.col("c_norm")), 6)))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(),
                                               F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cos", "rank"))


def ann_recall_report(corpus: DataFrame, queries: DataFrame,
                      planes: list[list[float]], bands: int = 4,
                      k: int = 10, id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """Per-query recall@k of the RHP-banded approximate top-k against
    exact brute-force ground truth over the SAME query batch — the
    evaluation an operator consumer must run before trusting a banded
    ANN parameterization on a new corpus (the approximate path's analog
    of the no-silent-caps audits: dedup_embedding_exhaustive_recall
    proves the bucket/verify MECHANICS lossless; this measures what the
    production (planes, bands) split actually recalls).

    Truth = brute_force_topk's top-k (cosine 6dp, ties by neighbor id);
    hits = how many of those k the banded path also returned. Returns
    (query_id, n_truth, n_hits, recall) — a query whose every true
    neighbor shares no band bucket still reports, with recall 0.0.

    Scale shape: the brute-force side broadcasts the query batch and
    scans the corpus once (the ground-truth cost is the point — run it
    on a sampled query batch, never the full corpus); the banded side
    is rhp_topk's candidate-bounded plan. The report join carries k
    rows per query."""
    truth = brute_force_topk(corpus, queries, k, id_col, vec_col)
    approx = rhp_topk(corpus, queries, planes, bands, k, id_col, vec_col)
    return _recall_vs_truth(truth, approx)


def ivf_recall_report(corpus: DataFrame, queries: DataFrame,
                      k: int = 10, nlist: int = 16, nprobe: int = 4,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      centroids: "DataFrame | None" = None) -> DataFrame:
    """ann_recall_report's IVF sibling: per-query recall@k of the
    probe-limited IVF scan (ivf_topk, nprobe of nlist lists) against
    brute-force ground truth — measures what a (nlist, nprobe) budget
    actually recalls before a consumer trusts it on a new corpus.
    Returns (query_id, n_truth, n_hits, recall); see ann_recall_report
    for the report semantics and scale shape."""
    truth = brute_force_topk(corpus, queries, k, id_col, vec_col)
    approx = ivf_topk(corpus, queries, k=k, nlist=nlist, nprobe=nprobe,
                      id_col=id_col, vec_col=vec_col, centroids=centroids)
    return _recall_vs_truth(truth, approx)


def _recall_vs_truth(truth: DataFrame, approx: DataFrame) -> DataFrame:
    """Shared recall@k report core: both inputs are
    (query_id, neighbor_id, ...) top-k frames; truth drives (every
    query reports, zero-candidate queries score 0.0). The hit set is
    query-batch x k rows — broadcast-small by construction."""
    hit = approx.select("query_id", "neighbor_id", F.lit(1).alias("_hit"))
    return (truth.join(F.broadcast(hit), ["query_id", "neighbor_id"],
                       "left")
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_truth"),
                 F.coalesce(F.sum("_hit"), F.lit(0)).cast("long")
                 .alias("n_hits"))
            .select("query_id", "n_truth", "n_hits",
                    round_half_away(F.col("n_hits").cast("double")
                                    / F.col("n_truth"), 6).alias("recall")))


def assign_centroids(corpus: DataFrame, centroids: DataFrame,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     cent_id_col: str = "cent_id",
                     metric: str = "cos",
                     keep_vec: bool = False) -> DataFrame:
    """Nearest-centroid assignment — the IVF index-BUILD step (and one
    k-means iteration) exposed as its own verified operator: collapse the
    centroid set into a one-row struct-array register, broadcast it, and
    compute the argmax-cosine (or argmin-L2 with ``metric='l2'``) centroid
    as a PURE PROJECTION (``array_min`` over a ``transform``), ties broken
    by centroid id. Exactly one pass over the corpus with NO data-sized
    exchange (the centroid register's collect_list agg is a tiny exchange
    of k rows, and ensure_parallelism may repartition the scan) — the
    previous rank-window shape re-exchanged the corpus (with the full
    vector payload under ``keep_vec``) to sort corpus × k scored rows; at
    100 TB that exchange was the entire cost of a Lloyd iteration. Scores
    round to 6dp BEFORE the argmin so the assignment itself is
    engine-reproducible (cos matches DuckDB's list_cosine_similarity, l2
    matches list_distance — fold order verified identical). Argmin
    ordering replicates the old window exactly: cos DESC NULLS LAST /
    l2 ASC NULLS FIRST, then centroid id ASC — the struct key leads with
    a null flag so NULL scores keep their old rank.

    ``keep_vec=True`` carries the corpus vector through as ``_v`` so a
    consumer that needs both the assignment and the vector (the k-means
    mean step) avoids a corpus-sized join back."""
    from amundsendatabuilder_spark.functions.vectors import l2_distance, l2_norm
    from amundsendatabuilder_spark.session import ensure_parallelism
    assert metric in ("cos", "l2"), metric
    c = ensure_parallelism(corpus).select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")) \
        .withColumn("_vn", l2_norm("_v"))
    reg = (centroids.select(
        F.col(cent_id_col), F.col(vec_col).cast("array<double>").alias("_c"))
        .withColumn("_cn", l2_norm("_c"))
        .agg(F.collect_list(F.struct(cent_id_col, "_c", "_cn"))
             .alias("_cents")))
    # two-pass transform: the score fold is evaluated ONCE per centroid
    # (HOF lambdas re-evaluate every copy of a subtree, so putting the
    # fold into the ordering struct three times tripled the per-element
    # CPU — measured 1.6x wall on kmeans); the ordering key then reads
    # the scored struct's fields only
    if metric == "cos":
        def _score(e):
            s = round_half_away(cosine_similarity(
                F.col("_v"), e["_c"], norm_a=F.col("_vn"),
                norm_b=e["_cn"]), 6)
            return F.struct(s.alias("_s"), e[cent_id_col].alias("_cid"))

        def _key(p):
            # old window order: cos DESC NULLS LAST, cent_id ASC
            return F.struct(p["_s"].isNull().alias("_nl"),
                            (-F.coalesce(p["_s"], F.lit(0.0))).alias("_o"),
                            p["_cid"].alias("_cid"),
                            p["_s"].alias("_s"))
    else:
        def _score(e):
            s = round_half_away(l2_distance(F.col("_v"), e["_c"]), 6)
            return F.struct(s.alias("_s"), e[cent_id_col].alias("_cid"))

        def _key(p):
            # old window order: d ASC NULLS FIRST, cent_id ASC
            return F.struct(p["_s"].isNotNull().alias("_nl"),
                            F.coalesce(p["_s"], F.lit(0.0)).alias("_o"),
                            p["_cid"].alias("_cid"),
                            p["_s"].alias("_s"))
    best = F.array_min(F.transform(
        F.transform(F.col("_cents"), _score), _key))
    out_cols = [F.col(id_col), F.col("_best._cid").alias(cent_id_col),
                F.col("_best._s").alias("cos")]
    if keep_vec:
        out_cols.append(F.col("_v"))
    # empty-centroid register -> empty array -> NULL argmin -> no rows,
    # exactly the old inner-join-with-empty behavior
    return (c.join(F.broadcast(reg))
            .withColumn("_best", best)
            .where(F.col("_best").isNotNull())
            .select(*out_cols))


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
             nlist: int = 16, nprobe: int = 4,
             id_col: str = "vec_id", vec_col: str = "embedding",
             centroids: DataFrame | None = None) -> DataFrame:
    """IVF(-flat) approximate top-k.

    ``centroids`` (cent_id, embedding) — typically ``kmeans_fit`` output —
    defines the inverted lists; when omitted, falls back to a
    deterministic pseudo-random sample of ``nlist`` corpus vectors (first
    nlist by md5(id)), the k-means-free stand-in. Trained centroids give
    strictly better recall at the same nprobe (tests/test_similarity
    measures both). Corpus rows are assigned to their nearest centroid
    (1 broadcast join); queries probe their ``nprobe`` nearest lists; the
    final scan touches ~nprobe/nlist of the corpus.
    """
    if centroids is not None:
        cents = centroids.select(
            F.col("cent_id").cast("int").alias("list_id"),
            F.col("embedding").cast("array<double>").alias("c_vec"))
    else:
        # Deterministic pseudo-random sample of nlist corpus vectors as
        # centroids: order by md5(id) and take the first nlist — a
        # distributed top-k (TakeOrderedAndProject), NOT a global
        # row_number window over the whole corpus (which would sort 100 TB
        # onto one partition).
        cents = (
            corpus.select(F.md5(F.col(id_col).cast("string")).alias("_h"),
                          F.col(vec_col).alias("c_vec"))
            .orderBy("_h").limit(nlist)
        )
        w_c = Window.orderBy(F.col("_h"))
        cents = cents.withColumn("list_id", F.row_number().over(w_c) - 1) \
            .select("list_id", "c_vec")
    cents = F.broadcast(cents)

    def assign(df: DataFrame, idc: str, vecc: str, topn: int, out: str) -> DataFrame:
        # rounded to 6dp like every other similarity in this module so the
        # LIST ROUTING itself (not just the final scores) is reproducible
        # across engines/partitionings — required for the partial-probe
        # DuckDB oracle, where which lists a query probes decides the rows
        # (r15: an array-register projection variant was MEASURED SLOWER
        # here — interleaved min 2.79->3.36s on ann_ivf_topk — the nested
        # HOF interpretation cost more than this nlist-way fan-out +
        # group-limited window; kept the fan-out shape)
        scored = df.crossJoin(cents).withColumn(
            "d", round_half_away(cosine_similarity(vecc, "c_vec"), 6))
        w = Window.partitionBy(idc).orderBy(F.col("d").desc(), F.col("list_id"))
        return (scored.withColumn("r", F.row_number().over(w))
                .where(F.col("r") <= topn)
                .select(df["*"], F.col("list_id").alias(out)))

    corpus_assigned = assign(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec2")),
        "neighbor_id", "c_vec2", 1, "list_id")
    query_probes = assign(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")),
        "query_id", "q_vec", nprobe, "list_id")

    pairs = corpus_assigned.join(F.broadcast(query_probes), "list_id") \
        .where(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.withColumn("cos", round_half_away(cosine_similarity("q_vec", "c_vec2"), 6))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cos", "rank"))


def kmeans_fit(corpus: DataFrame, k: int = 16, max_iters: int = 5,
               id_col: str = "vec_id", vec_col: str = "embedding",
               metric: str = "cos") -> DataFrame:
    """Lloyd's k-means over an embedding column — the real centroid
    trainer behind an IVF index (ivf_topk's md5-sample centroids are the
    dependency-light stand-in; this is the production path).

    Per iteration: one broadcast-join assignment pass over the corpus
    (assign_centroids — no shuffle of the vectors) + one posexplode
    groupBy producing k×dim (cent_id, dimension, mean) rows, collapsed
    back to k centroid arrays. Centroids live in a k×dim driver-side
    list between iterations (kilobytes), so iteration state never grows
    with the corpus — the shape that holds at 100 TB of embeddings.
    Deterministic throughout: md5-ordered init, cosine ties by centroid
    id. A cluster that loses every member keeps its previous centroid
    (no silent shrinkage below k). Returns (cent_id, embedding,
    n_members) with n_members counted by a final assignment pass against
    the RETURNED centroids — not the penultimate ones.
    """
    init = (corpus.select(F.md5(F.col(id_col).cast("string")).alias("_h"),
                          F.col(vec_col).cast("array<double>").alias("embedding"))
            .orderBy("_h").limit(k))
    w0 = Window.orderBy("_h")
    cents = (init.withColumn("cent_id", F.row_number().over(w0) - 1)
             .select("cent_id", "embedding"))
    for _ in range(max_iters):
        # keep_vec: the mean step reads the vector straight off the
        # assignment pass — no corpus-sized join back (was the one SMJ
        # in this plan), so each Lloyd iteration is broadcast-assign +
        # one k×dim aggregation only
        assigned = assign_centroids(corpus, cents, id_col=id_col,
                                    vec_col=vec_col, metric=metric,
                                    keep_vec=True)
        per_dim = (assigned
                   .select("cent_id", F.posexplode("_v").alias("pos", "x"))
                   .groupBy("cent_id", "pos").agg(F.avg("x").alias("m")))
        new_cents = (per_dim.groupBy("cent_id")
                     .agg(F.transform(
                         F.array_sort(F.collect_list(F.struct("pos", "m"))),
                         lambda s: s["m"]).alias("embedding")))
        # empty clusters produce no per_dim rows — keep their previous
        # centroid so exactly k rows always come back
        cents = (cents.alias("old")
                 .join(F.broadcast(new_cents.alias("new")), "cent_id", "left")
                 .select("cent_id",
                         F.coalesce(F.col("new.embedding"),
                                    F.col("old.embedding")).alias("embedding")))
        # k×dim values — kilobytes; materialize so the next iteration's
        # broadcast doesn't drag the whole previous lineage along
        cents = cents.localCheckpoint()
    final_counts = (assign_centroids(corpus, cents, id_col=id_col,
                                     vec_col=vec_col, metric=metric)
                    .groupBy("cent_id")
                    .agg(F.count("*").cast("long").alias("n_members")))
    return cents.join(F.broadcast(final_counts), "cent_id", "left") \
        .select("cent_id", "embedding",
                F.coalesce("n_members", F.lit(0)).alias("n_members"))


def quantize_embeddings(emb: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Symmetric int8 scalar quantization of an embedding column — the
    compression step before an ANN index ships to serving (4× smaller
    vectors, dot products in int8 SIMD). Per vector: scale =
    max(|x|)/127 (rounded to 9 places so the stored scale is the one
    used to quantize), q_i = round(x_i / scale) in [-127, 127].
    Returns (vec_id, scale, q) with q as a comma-joined string for
    cross-engine comparison; zero vectors quantize to all-zero.

    Pure per-row projection (transform over the array, no UDF, no
    shuffle) — embarrassingly parallel at any scale.
    """
    from amundsendatabuilder_spark.functions.scalars import round_half_away
    v = F.col(vec_col).cast("array<double>")
    scale = round_half_away(
        F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(127.0), 9)
    q = F.transform(
        v, lambda x: F.when(scale == F.lit(0.0), F.lit(0).cast("long"))
        .otherwise(round_half_away(x / scale, 0).cast("long")))
    return emb.select(
        F.col(id_col),
        scale.alias("scale"),
        F.concat_ws(",", F.transform(q, lambda x: x.cast("string")))
        .alias("q"))


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al., "Product Quantization for Nearest
# Neighbor Search", TPAMI 2011) — the memory-compression scale path: a
# D-dim float vector becomes M subspace code bytes (here 64 dims -> 4
# codes, a 64x size reduction), and query-time scoring is M table lookups
# per candidate instead of D multiplies (ADC: asymmetric distance
# computation).
# ---------------------------------------------------------------------------

def pq_train(corpus: DataFrame, m: int = 4, ksub: int = 16, dim: int = 64,
             iters: int = 2, id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """Per-subspace L2 k-means codebooks: (sub_id, cent_id, embedding)
    with embedding of length dim/m.

    GROUPED Lloyd: all M subspaces train in the SAME passes — the corpus
    explodes once into (id, sub_id, slice) rows (narrow: dim/m doubles),
    assignment joins the broadcast (sub_id, cent_id) codebook on sub_id,
    and the per-dim mean rebuild groups by (sub_id, cent_id, pos). One
    localCheckpoint per iteration TOTAL (not per subspace), so the job
    count is independent of M. Iteration state is m*ksub*(dim/m) =
    ksub*dim doubles — kilobytes at any corpus size. Init matches
    kmeans_fit: the ksub md5-smallest ids seed every subspace (their
    slices), empty clusters keep their previous centroid.
    """
    assert dim % m == 0, (dim, m)
    from amundsendatabuilder_spark.functions.vectors import l2_distance
    dsub = dim // m
    subs = F.explode(F.array(*[F.lit(s) for s in range(m)])).alias("sub_id")
    sliced = (corpus.select(F.col(id_col),
                            F.col(vec_col).cast("array<double>").alias("_v"))
              .select(id_col, subs, "_v")
              .select(id_col, "sub_id",
                      F.slice("_v", F.col("sub_id") * dsub + 1, dsub)
                      .alias("sv"))
              .localCheckpoint())

    init_ids = (corpus.select(
        F.md5(F.col(id_col).cast("string")).alias("_h"), F.col(id_col))
        .orderBy("_h").limit(ksub))
    w0 = Window.partitionBy("sub_id").orderBy("_h")
    cents = (init_ids.join(sliced, id_col)
             .withColumn("cent_id", F.row_number().over(w0) - 1)
             .select("sub_id", "cent_id", F.col("sv").alias("cv"))
             .localCheckpoint())

    def assign(cs: DataFrame) -> DataFrame:
        # (r15: an array-register argmin projection was MEASURED SLOWER
        # for the PQ family — interleaved min 3.30->5.76s on
        # ann_pq_adc_topk — nested-HOF interpretation beat by this
        # ksub-way fan-out + group-limited window; kept)
        scored = sliced.join(F.broadcast(cs), "sub_id").withColumn(
            "d", round_half_away(l2_distance("sv", "cv"), 6))
        w = Window.partitionBy(id_col, "sub_id").orderBy("d", "cent_id")
        return (scored.withColumn("_r", F.row_number().over(w))
                .where(F.col("_r") == 1)
                .select(id_col, "sub_id", "cent_id", "sv"))

    for _ in range(iters):
        asg = assign(cents)
        per_dim = (asg.select("sub_id", "cent_id",
                              F.posexplode("sv").alias("pos", "x"))
                   .groupBy("sub_id", "cent_id", "pos")
                   .agg(F.avg("x").alias("mu")))
        new_cents = (per_dim.groupBy("sub_id", "cent_id")
                     .agg(F.transform(
                         F.array_sort(F.collect_list(F.struct("pos", "mu"))),
                         lambda s: s["mu"]).alias("cv")))
        cents = (cents.alias("old")
                 .join(new_cents.alias("new"), ["sub_id", "cent_id"], "left")
                 .select("sub_id", "cent_id",
                         F.coalesce(F.col("new.cv"), F.col("old.cv"))
                         .alias("cv"))
                 .localCheckpoint())
    return cents.select("sub_id", "cent_id", F.col("cv").alias("embedding"))


def pq_encode(corpus: DataFrame, codebooks: DataFrame, m: int = 4,
              dim: int = 64, id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """(id, codes array<int>): nearest codebook entry per subspace
    (round-6 L2, cent_id tie-break — the same determinism contract as
    assign_centroids). One broadcast of the m*ksub codebook rows, one
    n*m-row argmin window, one groupBy(id) to collapse codes — the
    corpus vectors never shuffle; only (id, sub_id, code) rows do.
    (r15: a zero-shuffle nested-transform projection variant was
    MEASURED SLOWER — see pq_train.assign's note; kept this shape.)"""
    from amundsendatabuilder_spark.functions.vectors import l2_distance
    dsub = dim // m
    cb = F.broadcast(codebooks.select(
        "sub_id", "cent_id",
        F.col("embedding").cast("array<double>").alias("_c")))
    c = corpus.select(F.col(id_col),
                      F.col(vec_col).cast("array<double>").alias("_v"))
    scored = c.join(cb).withColumn(
        "d", round_half_away(l2_distance(
            F.slice("_v", F.col("sub_id") * dsub + 1, dsub), "_c"), 6))
    w = Window.partitionBy(id_col, "sub_id").orderBy("d", "cent_id")
    best = (scored.withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") == 1)
            .select(id_col, "sub_id", "cent_id"))
    return (best.groupBy(id_col)
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("sub_id", "cent_id"))),
                lambda s: s["cent_id"]).alias("codes")))


def pq_adc_topk(encoded: DataFrame, codebooks: DataFrame,
                queries: DataFrame, k: int = 10, m: int = 4, dim: int = 64,
                id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """ADC top-k inner-product search over PQ codes: each query
    precomputes its m x ksub partial-dot table against the codebooks
    (driver-free: a tiny broadcast frame), then every candidate's score
    is an ordered fold of m table lookups — aggregate(zip_with(codes,
    tabs)), left-to-right, so the float sum is engine-reproducible.
    Returns (query_id, neighbor_id, score, rank<=k), approximate by
    construction (quantization error); recall floor pinned in tests.

    Scale shape: the code table (M small ints per vector) is the ONLY
    per-corpus-row state scanned at query time; the scan is linear like
    brute force but touches 64x less data and does M lookups instead of
    D multiplies per pair. Compose with IVF list routing for the
    sub-linear variant."""
    from amundsendatabuilder_spark.functions.vectors import dot
    dsub = dim // m
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).cast("array<double>").alias("_q"))
    cb = codebooks.select(
        "sub_id", "cent_id",
        F.col("embedding").cast("array<double>").alias("_c"))
    # (query, sub, cent) -> raw partial dot; nested into tabs[sub][cent]
    dt = q.crossJoin(F.broadcast(cb)).select(
        "query_id", "sub_id", "cent_id",
        dot(F.slice("_q", F.col("sub_id") * dsub + 1, dsub), "_c").alias("pd"))
    per_sub = (dt.groupBy("query_id", "sub_id")
               .agg(F.transform(
                   F.array_sort(F.collect_list(F.struct("cent_id", "pd"))),
                   lambda s: s["pd"]).alias("tab")))
    qtabs = (per_sub.groupBy("query_id")
             .agg(F.transform(
                 F.array_sort(F.collect_list(F.struct("sub_id", "tab"))),
                 lambda s: s["tab"]).alias("tabs")))
    pairs = (encoded.select(F.col(id_col).alias("neighbor_id"), "codes")
             .crossJoin(F.broadcast(qtabs))
             .where(F.col("neighbor_id") != F.col("query_id")))
    looked = F.zip_with(F.col("codes"), F.col("tabs"),
                        lambda c, t: F.element_at(t, c + 1))
    score = F.aggregate(looked, F.lit(0.0), lambda acc, v: acc + v)
    scored = pairs.withColumn("score", round_half_away(score, 6))
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(),
                                               F.col("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "score", "rank"))


def embedding_covariance(emb: DataFrame, vec_col: str = "embedding",
                         scale: int = 1_000_000) -> DataFrame:
    """Exact population covariance matrix of the embedding column — the
    distributed half of PCA (once the d×d covariance exists, the
    eigensolve is a driver-side O(d³) afterthought): (dim_i, dim_j, cov)
    for i ≤ j.

    Components are integer-quantized (floor(x·scale) — exact and
    engine-identical where float sums are shuffle-order noise), the
    sufficient statistics Σqᵢ, Σqᵢqⱼ accumulate as DECIMAL(38,0) via
    DECIMAL(19,0) factors (the numeric_corr_matrix overflow discipline),
    and only the centered difference n·Σqᵢqⱼ − Σqᵢ·Σqⱼ casts to double —
    avoiding the catastrophic cancellation of the naive two-huge-doubles
    form. No self-join: each vector emits its d(d+1)/2 upper-triangle
    products from ONE map-side expression, so the only shuffle carries
    ((i,j), decimal partial) pairs and is map-side combinable. For
    d ≥ ~1k, block the pair fan-out (i-stripes) instead; at d = 64 the
    2080-row fan-out per vector is the right trade.

    Domain bound (the numeric_corr_matrix one): DECIMAL(38,0) keeps
    Σqᵢqⱼ exact while n · max|x·scale|² < 10^38 — ample for unit-norm
    embeddings at scale=10^6 (~10^26 headroom at a trillion rows); past
    it, non-ANSI Spark yields NULL sums (visible), never a silently
    wrong number."""
    d = F.size(F.col(vec_col))
    q = F.transform(F.col(vec_col).cast("array<double>"),
                    lambda x: F.floor(x * scale).cast("long"))
    # corrupt-row hardening (the r12-advice sequence class): a
    # zero-length vector would make sequence(0, size-1) step DOWN
    # (Spark defaults the step to -1 when start > stop) and index q[-1]
    # — INVALID_ARRAY_INDEX aborts the whole covariance job under ANSI
    # mode. One empty array in a 100 TB corpus must not kill PCA, so
    # empties are excluded from EVERY sufficient statistic including n
    # (counting a row that contributes no products would bias every
    # entry low — exclusion is the only self-consistent treatment).
    # r16: the pair generator is the ONLY data-sized stage here and it
    # explodes d(d+1)/2 + d rows per vector — a single-file local scan
    # would run that entire fan-out on one core (measured: the whole
    # corpus pass single-task at sf0.1). Project to the quantized array
    # FIRST (guide §2.3 — the round-robin exchange then carries longs,
    # not raw vectors), then ensure scan-width parallelism; on real
    # pre-partitioned 100 TB input the repartition is a no-op.
    from amundsendatabuilder_spark.session import ensure_parallelism
    v = ensure_parallelism(
        emb.select(q.alias("q")).where(F.size("q") > 0))
    # r15 single-pass fuse (guide §1.2/§2.3 — don't scan the corpus
    # three times for statistics one scan can carry): each vector emits
    # its d(d+1)/2 upper-triangle products PLUS its d singles as
    # sentinel rows (j = -1, value = qᵢ) from ONE generator, so the Σqᵢ
    # register, the Σqᵢqⱼ register and the row count all come out of a
    # single corpus scan + single map-side-combinable shuffle — the
    # previous formulation paid three scans and three shuffles (p, u, n)
    # for the same sufficient statistics. The count and the ragged-dims
    # guard ride on the singles: group (i, -1) holds one row per vector
    # with dim > i, so max(count) over the singles groups IS n and
    # min(count) == max(count) IFF every vector has equal dims — the
    # exact condition the old min(size)==max(size) assert tested.
    pairs = F.expr(
        "flatten(transform(sequence(0, size(q)-1), i -> "
        "transform(sequence(i-1, size(q)-1), j -> struct("
        "CAST(i AS INT) AS i, CAST(j AS INT) AS j, "
        "CASE WHEN j < i THEN CAST(q[i] AS DECIMAL(19,0)) "
        "ELSE CAST(q[i] AS DECIMAL(19,0)) * CAST(q[j] AS DECIMAL(19,0)) "
        "END AS prod))))")
    # the register feeds FOUR consumers (pair entries, s_i, s_j, n) —
    # materialize it once as one partition (d(d+1)/2 + d rows) or every
    # consumer re-runs the corpus explode; the trailing no-op coalesce
    # lets the planner see SinglePartition again after the checkpoint
    reg = (v.select(F.explode(pairs).alias("p"))
           .select("p.i", F.when(F.col("p.j") < F.col("p.i"), F.lit(-1))
                   .otherwise(F.col("p.j")).cast("int").alias("j"),
                   "p.prod")
           .groupBy("i", "j")
           .agg(F.sum(F.col("prod").cast("decimal(38,0)")).alias("sxy"),
                F.count(F.lit(1)).alias("_cnt"))
           .coalesce(1).localCheckpoint().coalesce(1))
    p = reg.where(F.col("j") >= 0).select("i", "j", "sxy")
    u = reg.where(F.col("j") == -1).select("i", F.col("sxy").alias("s"))
    # ragged NONZERO dims are not excludable — a short row contributes a
    # partial upper triangle and silently corrupts the matrix — so they
    # raise instead, for free off the singles groups' counts (assert_true
    # is NULL when healthy, so n is unchanged)
    # empty-register escape: when the post-filter corpus is EMPTY (no
    # input, or every vector was zero-length and excluded), min/max are
    # NULL and assert_true raises on NULL — coalesce(NULL, true) lets
    # the degenerate corpus flow through to an empty result instead of
    # aborting with a misleading "ragged dims" error (r13 ADVICE)
    n = (reg.where(F.col("j") == -1)
         .agg(F.coalesce(F.max("_cnt"), F.lit(0)).cast("decimal(38,0)")
              .alias("_n"),
              F.min("_cnt").alias("_dmin"),
              F.max("_cnt").alias("_dmax"))
         .select((F.col("_n") + F.coalesce(
             F.assert_true(
                 F.coalesce(F.col("_dmin") == F.col("_dmax"),
                            F.lit(True)),
                 F.lit("embedding_covariance: ragged vector dims — a "
                       "short row would silently corrupt the matrix; "
                       "fix or filter the corpus upstream"))
             .cast("decimal(38,0)"),
             F.lit(0).cast("decimal(38,0)"))).alias("n")))
    si = u.select(F.col("i").alias("_i"), F.col("s").alias("s_i"))
    sj = u.select(F.col("i").alias("_j"), F.col("s").alias("s_j"))
    from amundsendatabuilder_spark.functions.scalars import round_half_away
    from amundsendatabuilder_spark.operators.profiling import (
        guard_register_domain)
    num = (F.col("n") * F.col("sxy")
           - F.col("s_i") * F.col("s_j")).cast("double")
    den = (F.col("n") * F.col("n")).cast("double") * float(scale) ** 2
    # register-domain guard (r10 verdict item #4), MAP-SIDE: the
    # covariance register holds d(d+1)/2 rows and each row's own pair
    # index bounds the total — row (i, j<=max) implies at least
    # (j+1)(j+2)/2 register rows — so the raise-not-degrade check costs
    # no window, no extra pass, nothing: it folds into the consumed cov
    # value exactly like the profiling sites
    rows_bound = F.expr("(CAST(j AS BIGINT) + 1) * (CAST(j AS BIGINT) + 2)"
                        " DIV 2")
    # every side derives from the one-partition reg: the hinted joins plan
    # exchange- and broadcast-free (each broadcast build was a job)
    return (p.join(si.hint("shuffle_hash"), p["i"] == si["_i"])
            .join(sj.hint("shuffle_hash"), p["j"] == sj["_j"])
            .crossJoin(n.hint("shuffle_replicate_nl"))
            .select(F.col("i").alias("dim_i"), F.col("j").alias("dim_j"),
                    guard_register_domain(
                        round_half_away(num / den, 9), rows_bound,
                        "embedding covariance register (d(d+1)/2)")
                    .alias("cov")))


def hard_negative_mining(corpus: DataFrame, anchors: DataFrame, k: int = 3,
                         id_col: str = "vec_id", vec_col: str = "embedding",
                         label_col: str = "label",
                         planes: "list[list[float]] | None" = None,
                         bands: int = 8,
                         max_bucket_size: "int | None" = None,
                         collapse_exact: bool = False) -> DataFrame:
    """Contrastive-training hard negatives: for each anchor vector, the
    ``k`` most-cosine-similar corpus vectors with a DIFFERENT label —
    the "looks alike but isn't" examples a contrastive/embedding
    fine-tune mines between epochs (highest-loss negatives). Returns
    (query_id, query_label, neighbor_id, neighbor_label, cos, rank),
    rank ties broken by neighbor id.

    Scale shape mirrors ``brute_force_topk``: mining runs in anchor
    BATCHES (a few thousand anchors per pass), so the anchor side
    broadcasts and the 100 TB corpus side never shuffles vectors — each
    corpus partition scores |anchors| dots map-side with precomputed
    norms, and the per-anchor top-k window sees at most |corpus| rows
    per anchor AFTER the different-label filter, reduced map-side by
    the rank window's underlying partial top-k. For billion-vector
    corpora compose with ``ivf_topk``'s routing to cut the scan.

    Banded production path (r10 verdict item #2 — sf1 headroom measured
    36x at 10x data when BOTH sides grow): pass seeded ``planes`` to
    draw candidates from shared RHP band buckets instead of the full
    anchors x corpus product — approximate like every banded path
    (a hard negative sharing no band with its anchor is unseen; more
    bands recover recall). ``max_bucket_size`` drops over-cap CORPUS
    buckets from candidate generation (run ``rhp_cap_audit`` first);
    ``collapse_exact`` collapses identical (vector, label) corpus rows
    to their min-id representative — k identical negatives teach a
    contrastive batch nothing k times, and the collapse is what keeps
    duplicate-heavy corpora linear.
    """
    from amundsendatabuilder_spark.functions.vectors import l2_norm
    from amundsendatabuilder_spark.session import ensure_parallelism
    if collapse_exact:
        corpus = collapse_exact_vectors(corpus, id_col, vec_col,
                                        extra_keys=(label_col,))
    q = (anchors.select(F.col(id_col).alias("query_id"),
                        F.col(label_col).alias("query_label"),
                        F.col(vec_col).cast("array<double>").alias("_qv"))
         .withColumn("_qn", l2_norm("_qv")))
    c = (ensure_parallelism(corpus)
         .select(F.col(id_col).alias("neighbor_id"),
                 F.col(label_col).alias("neighbor_label"),
                 F.col(vec_col).cast("array<double>").alias("_cv"))
         .withColumn("_cn", l2_norm("_cv")))
    if planes is None:
        pairs = c.crossJoin(F.broadcast(q))
    else:
        csigs = rhp_band_sigs(corpus, planes, bands, id_col, vec_col)
        if max_bucket_size is not None:
            w_b = Window.partitionBy("band", "sig")
            csigs = (csigs.withColumn("_sz", F.count("*").over(w_b))
                     .where(F.col("_sz") <= max_bucket_size)
                     .drop("_sz"))
        asigs = rhp_band_sigs(anchors, planes, bands, id_col, vec_col)
        cand = (csigs.join(
            F.broadcast(asigs.select(F.col("id").alias("query_id"),
                                     "band", "sig")),
            ["band", "sig"])
            .select(F.col("id").alias("neighbor_id"), "query_id")
            .distinct())
        pairs = (cand.join(c, "neighbor_id")
                 .join(F.broadcast(q), "query_id"))
    scored = (pairs
              .where(F.col("neighbor_label") != F.col("query_label"))
              .withColumn("cos", round_half_away(cosine_similarity(
                  "_qv", "_cv", norm_a=F.col("_qn"),
                  norm_b=F.col("_cn")), 6)))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "query_label", "neighbor_id",
                    "neighbor_label", "cos", "rank"))


def jl_project(df: DataFrame, planes: list[list[float]],
               vec_col: str = "embedding",
               out_col: str = "proj") -> DataFrame:
    """Johnson-Lindenstrauss random projection: append
    ``out_col = [v . p_1, ..., v . p_k]`` for the (seeded, driver-side,
    kilobyte-sized) Gaussian ``planes`` — the dimensionality-reduction
    prefilter that lets ANN scans fold k doubles per pair instead of the
    full dimension. Pure map-side projection: the plan stays
    whole-stage-codegen, nothing shuffles, and the fold order is the
    array order so the doubles are bit-reproducible cross-engine."""
    vec = F.col(vec_col).cast("array<double>")
    comps = [dot(vec, F.array(*[F.lit(float(x)) for x in p]))
             for p in planes]
    return df.withColumn(out_col, F.array(*comps))


def jl_distortion_audit(emb: DataFrame, planes: list[list[float]],
                        id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        sample_mod_a: int = 10,
                        sample_mod_b: int = 13) -> DataFrame:
    """Measures what a JL projection to len(planes) dims does to cosine
    similarity BEFORE the ANN pipeline trusts it: over a deterministic
    id-hashed pair sample, |cos(proj a, proj b) - cos(a, b)| in exact
    ppm — one row: (k_dims, n_pairs, mean_err_ppm, max_err_ppm). Run it
    once per corpus snapshot; if max_err exceeds the ANN margin, raise
    k before scanning 100 TB with a lossy prefilter.

    Scale shape: both sample sides are tiny (md5-mod cuts over the id —
    hashed, not raw, so any id type samples deterministically; ids that
    land in both cuts contribute only as the id_a < id_b side), one
    side broadcasts; per-pair errors quantize to integer ppm so the
    aggregation is an exact, order-free integer sum.
    """
    from amundsendatabuilder_spark.functions.vectors import l2_norm
    p = jl_project(
        emb.select(F.col(id_col), F.col(vec_col).cast("array<double>")
                   .alias("_v")), planes, vec_col="_v")
    hid = F.conv(F.substring(F.md5(F.concat(
        F.lit("jl:"), F.col(id_col).cast("string"))), 1, 8), 16, 10
    ).cast("long")
    a = (p.where(hid % sample_mod_a == 0)
         .select(F.col(id_col).alias("id_a"), F.col("_v").alias("_va"),
                 F.col("proj").alias("_pa")))
    b = (p.where(hid % sample_mod_b == 0)
         .select(F.col(id_col).alias("id_b"), F.col("_v").alias("_vb"),
                 F.col("proj").alias("_pb")))
    pairs = (a.crossJoin(F.broadcast(b))
             .where(F.col("id_a") < F.col("id_b")))
    err = F.abs(
        round_half_away(cosine_similarity("_pa", "_pb"), 6)
        - round_half_away(cosine_similarity("_va", "_vb"), 6))
    scored = pairs.select(
        (round_half_away(err * 1e6, 0)).cast("long").alias("err_ppm"))
    return (scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.expr("sum(err_ppm) DIV count(*)").alias("mean_err_ppm"),
        F.max("err_ppm").alias("max_err_ppm"))
        .select(F.lit(len(planes)).cast("int").alias("k_dims"),
                "n_pairs", "mean_err_ppm", "max_err_ppm"))


def pca_power_iteration(emb: DataFrame, iters: int = 8,
                        vec_col: str = "embedding",
                        cov: "DataFrame | None" = None) -> DataFrame:
    """Top principal component of the embedding cloud: power iteration
    v <- C v / ||C v|| on the EXACT covariance from
    ``embedding_covariance``. The covariance pass is the only
    data-sized stage and stays distributed; the d(d+1)/2-row register it
    yields is collected (capped by REGISTER_DOMAIN_LIMIT) and the
    eigensolve runs on the driver in exact integer/IEEE arithmetic.

    Returns (dim, loading, eigenvalue, n_iters): the unit top
    eigenvector (6dp) with its Rayleigh-quotient eigenvalue (9dp,
    same on every row; NULL when the vector collapses, e.g. a constant
    corpus). Sign follows the deterministic md5-jittered start vector
    (power iteration's sign is a convention, not information).

    Determinism: the covariance enters as its hash-verified 9dp values;
    the vector lives as 1e9-scaled integers; each mat-vec term
    round(C_ij * v_j) is an exact integer before the per-row sum, the
    norm is one double sqrt of an exact integer square-sum, and
    renormalization re-quantizes — so all ``iters`` rounds replay
    identically in the DuckDB twin. ``cov`` lets a caller that also
    consumes the covariance pass its (dim_i <= dim_j) triangle in, so
    the corpus pass runs once.
    """
    if cov is None:
        cov = embedding_covariance(emb, vec_col=vec_col)
    dims, v, wf = _power_iterate(_covariance_register(cov), iters, "pca:")
    lam = _rayleigh(v, wf)
    return cov.sparkSession.createDataFrame(
        [(d, _loading(x), lam, int(iters)) for d, x in zip(dims, v)],
        "dim int NOT NULL, loading double, eigenvalue double, "
        "n_iters int NOT NULL")


def _covariance_register(cov: DataFrame) -> dict:
    """The (dim_i <= dim_j, cov) triangle as the symmetric
    ``{(i, j): cov}`` map the driver-side eigensolve works on. At most
    REGISTER_DOMAIN_LIMIT + 1 rows leave the engine, and one past the
    limit raises before any solving."""
    from amundsendatabuilder_spark.operators import profiling
    limit = profiling.REGISTER_DOMAIN_LIMIT
    rows = cov.select("dim_i", "dim_j", "cov").limit(limit + 1).collect()
    if len(rows) > limit:
        raise ValueError(
            f"register domain for the PCA covariance register exceeded "
            f"{limit} rows — reduce the embedding dimension")
    c = {}
    for i, j, x in rows:
        c[(i, j)] = c[(j, i)] = x
    return c


def _round_half_away(x: "float | None", n: int) -> "float | None":
    """``functions.scalars.round_half_away`` on one Python float: the
    same floor(x * 10^n + 0.5) on the scaled binary double; None stays
    None (the engine's NULL)."""
    if x is None:
        return None
    p = float(10 ** n)
    s = x * p
    return (math.floor(s + 0.5) if s >= 0 else -math.floor(-s + 0.5)) / p


def _loading(vi: "int | None") -> "float | None":
    return None if vi is None else _round_half_away(vi / 1e9, 6)


def _power_iterate(c: dict, iters: int, seed_prefix: str):
    """Power iteration over a symmetric ``{(i, j): cov}`` register on the
    driver: md5-jittered start (prefix-seeded), ``iters`` rounds of
    integer mat-vec + exact-norm re-quantization. Returns (dims, v, wf):
    the sorted dims, the final 1e9-scaled eigenvector and one more
    mat-vec against it (for the Rayleigh quotient). Vectors are lists of
    Python ints, None where the engine holds NULL: a NULL cov or v_j
    drops its term, and a row with no term left is NULL."""
    dims = sorted({i for i, _ in c})
    at = {d: k for k, d in enumerate(dims)}
    m = np.zeros((len(dims), len(dims)))
    known = np.zeros(m.shape, dtype=bool)
    for (i, j), x in c.items():
        if x is not None:
            m[at[i], at[j]] = x
            known[at[i], at[j]] = True

    def matvec(v):
        t = m * np.array([0.0 if x is None else float(x) for x in v])
        t = np.where(t >= 0, np.floor(t + 0.5), -np.floor(-t + 0.5))
        if t.size and np.abs(t).max() * len(dims) >= 2.0 ** 63:
            raise ArithmeticError("power iteration: mat-vec overflows a long")
        has = (known & np.array([x is not None for x in v], dtype=bool)
               ).any(axis=1)
        return [s if h else None
                for s, h in zip(t.astype(np.int64).sum(axis=1).tolist(),
                                has.tolist())]

    v = [500_000_000 + int(hashlib.md5(f"{seed_prefix}{d}".encode())
                           .hexdigest()[:4], 16) * 10_000 for d in dims]
    for _ in range(int(iters)):
        w = matvec(v)
        sq = [x * x for x in w if x is not None]
        nrm = math.sqrt(float(sum(sq))) if sq else None
        v = [0 if not nrm else None if x is None
             else int(_round_half_away(x / nrm * 1e9, 0)) for x in w]
    return dims, v, matvec(v)


def _rayleigh(v: list, w: list) -> "float | None":
    """Rayleigh quotient v.w / v.v at 9dp from exact integer sums; None
    when v.v is not positive or no v.w term is known."""
    vw = [a * b for a, b in zip(v, w) if a is not None and b is not None]
    vv = [a * a for a in v if a is not None]
    if not vw or sum(vv) <= 0:
        return None
    return _round_half_away(float(sum(vw)) / float(sum(vv)), 9)


def pca_top_components(emb: DataFrame, n_components: int = 2,
                       iters: int = 8,
                       vec_col: str = "embedding") -> DataFrame:
    """Top ``n_components`` principal components by power iteration
    with Hotelling deflation — after each component (lambda, v), the
    register updates to C <- C - lambda v v^T and the iteration reruns.
    The covariance is computed in-engine; the collected register is
    solved and deflated on the driver (see ``pca_power_iteration``).

    Returns (component, dim, loading, eigenvalue): 1-based component
    index, unit loadings 6dp, Rayleigh eigenvalues 9dp (non-increasing
    across components up to quantization). Deflated entries re-round
    to the covariance's 9dp grid so every pass replays identically in
    the twin; a NULL eigenvalue deflates the register to NULL.
    """
    c = _covariance_register(embedding_covariance(emb, vec_col=vec_col))
    rows = []
    for k in range(1, int(n_components) + 1):
        dims, v, wf = _power_iterate(c, iters, f"pca{k}:")
        lam = _rayleigh(v, wf)
        rows += [(k, d, _loading(x), lam) for d, x in zip(dims, v)]
        if k < n_components:
            # Hotelling deflation on the 9dp grid: C -= lambda v v^T
            vd = dict(zip(dims, v))
            c = {(i, j): None if None in (x, lam, vd[i], vd[j])
                 else _round_half_away(
                     x - lam * (vd[i] / 1e9) * (vd[j] / 1e9), 9)
                 for (i, j), x in c.items()}
    return emb.sparkSession.createDataFrame(
        rows, "component int NOT NULL, dim int NOT NULL, loading double, "
        "eigenvalue double")


def collapse_exact_vectors(emb: DataFrame, id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           extra_keys: tuple = ()) -> DataFrame:
    """Exact-duplicate vector collapse — the embedding-space analogue of
    jaccard_prefix_join's ``collapse_exact`` text guard: one
    representative (min id) per identical embedding array (plus any
    ``extra_keys`` that must not merge, e.g. a label column). At corpus
    scale exact-dup vectors are MASS (re-crawls, mirrors, replicas);
    every pairwise operator downstream of this collapse is immune to
    the quadratic dup-clique blowup the sf1 headroom fixture measured
    (15-36x at 10x data) because a clique of k identical vectors
    contributes ONE member, not k(k-1)/2 candidate pairs. One
    map-side-combinable groupBy on the array key; no vector ever
    shuffles twice."""
    keys = [vec_col, *extra_keys]
    return (emb.groupBy(*keys)
            .agg(F.min(F.col(id_col)).alias(id_col))
            .select(id_col, *keys))


def rhp_cap_audit(emb: DataFrame, planes: list[list[float]],
                  bands: int = 8, max_bucket_size: int = 10,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  collapse_exact: bool = False) -> DataFrame:
    """The no-silent-caps audit for RHP bucket capping (the
    dedup.similarity_cap_report precedent, r10 verdict item #1): before
    trusting any ``max_bucket_size``-guarded banded path on a new
    corpus, this one-row report says exactly what the guard would drop —
    (n_vectors_in, n_vectors_bucketed, n_buckets_total,
    n_buckets_over_cap, n_sig_rows_dropped, n_vectors_fully_dropped).
    ``n_vectors_fully_dropped`` counts vectors whose EVERY band bucket
    is over cap: completely invisible to candidate generation, the
    rows an operator consumer must know about (members of such buckets
    are near-identical by construction — upstream exact/minhash dedup
    removes them cheaper — but silent invisibility is never OK).

    Scale shape: one signature pass (map-side), one (band, sig) count,
    and register-sized aggregates; the vectors themselves never join
    anything."""
    base = (collapse_exact_vectors(emb, id_col, vec_col)
            if collapse_exact else emb)
    sigs = rhp_band_sigs(base, planes, bands, id_col, vec_col)
    bsz = (sigs.groupBy("band", "sig")
           .agg(F.count(F.lit(1)).cast("long").alias("_sz")))
    bstats = bsz.agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets_total"),
        F.sum((F.col("_sz") > max_bucket_size).cast("long")).cast("long")
        .alias("n_buckets_over_cap"),
        F.sum(F.when(F.col("_sz") > max_bucket_size, F.col("_sz"))
              .otherwise(F.lit(0))).cast("long")
        .alias("n_sig_rows_dropped"))
    vstats = (sigs.join(F.broadcast(bsz), ["band", "sig"])
              .groupBy("id")
              .agg(F.min(F.col("_sz")).alias("_minsz"))
              .agg(F.count(F.lit(1)).cast("long")
                   .alias("n_vectors_bucketed"),
                   F.sum((F.col("_minsz") > max_bucket_size).cast("long"))
                   .cast("long").alias("n_vectors_fully_dropped")))
    n_in = emb.agg(F.count(F.lit(1)).cast("long").alias("n_vectors_in"))
    return (n_in.crossJoin(F.broadcast(vstats))
            .crossJoin(F.broadcast(bstats))
            .select("n_vectors_in", "n_vectors_bucketed",
                    "n_buckets_total", "n_buckets_over_cap",
                    "n_sig_rows_dropped", "n_vectors_fully_dropped"))


def mutual_nn_pairs(emb: DataFrame, planes: list[list[float]],
                    bands: int = 4, id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    max_bucket_size: "int | None" = None,
                    collapse_exact: bool = False) -> DataFrame:
    """Reciprocal (mutual) nearest-neighbor pairs over the RHP-banded
    candidate graph: (a, b) survives only when b is a's top-1 cosine
    neighbor AND a is b's — the semantic-dedup refinement that kills
    hub artifacts (a generic centroid-ish vector is the one-way NN of
    thousands of rows; it is the MUTUAL NN of almost none), leaving the
    pairs strong enough to merge without a threshold sweep.

    Neighbors are drawn from shared RHP band buckets (the
    embedding_near_duplicates candidate generation — corpus never joins
    corpus, only bucket-mates), scored by exact cosine (6dp), ranked
    per source by (cos DESC, neighbor id ASC) so the top-1 is
    deterministic under ties; mutuality is a canonical-pair count over
    the top-1 relation (a (least, greatest) key appears twice iff both
    directions picked each other). Returns (id_a, id_b, cos) with
    id_a < id_b.

    Scale shape: the candidate join shuffles (id, band, sig) rows; the
    scoring join carries candidate vectors only; the per-source top-1 is
    a map-side-combinable MIN(struct) argmax that reuses the scoring
    join's src partitioning (no sort + rank window over the candidate
    fan-out). Approximate like every banded path: a true mutual-NN pair
    sharing no band is unseen — more bands recover recall.

    ``max_bucket_size``: the minhash_lsh_pairs guard for the exact-dup
    clique case (sf1 headroom measured candidates growing ~quadratic in
    clique size — cost tracks CANDIDATE output, not a plan defect, but
    a production corpus with giant duplicate cliques should cap them):
    buckets above the cap are dropped from candidate generation
    entirely, not sampled — members of an over-size bucket are near-
    identical by construction, exactly what exact/minhash dedup
    upstream removes more cheaply. Default None keeps the uncapped
    oracle-pinned behavior. Run ``rhp_cap_audit`` with the same
    parameters first — no silent caps.

    ``collapse_exact``: the jaccard_prefix_join production guard
    transplanted to embedding space — collapse identical vectors to
    their min-id representative BEFORE signatures, so a k-replica
    exact-dup clique contributes one member instead of k(k-1)/2
    candidate pairs (the sf1 replica fixture's entire super-linearity).
    Output pairs then reference representative ids. The certified
    production configuration (mutual_nn_dedup_capped) engages BOTH
    guards plus 8-bit band signatures: wider sigs keep bucket size
    tracking cluster structure rather than corpus size, the collapse
    absorbs duplicate mass, and the cap bounds whatever near-dup
    cliques remain.
    """
    from amundsendatabuilder_spark.functions.vectors import l2_norm
    if collapse_exact:
        emb = collapse_exact_vectors(emb, id_col, vec_col)
    # the self-join runs the plane-dot projection on both sides; a
    # localCheckpoint here was MEASURED SLOWER (6.3s vs 5.5s at sf0.1 —
    # the materialization write exceeds the duplicated map-side pass),
    # so the projection is left to run twice, map-side and in parallel
    sigs = rhp_band_sigs(emb, planes, bands, id_col, vec_col)
    if max_bucket_size is not None:
        w_b = Window.partitionBy("band", "sig")
        sigs = (sigs.withColumn("_sz", F.count("*").over(w_b))
                .where(F.col("_sz") <= max_bucket_size)
                .drop("_sz"))
    # r16 (guide §2.5/§1.1): the candidate pairs are 16 BYTES/row but
    # each surviving row pays an exact-cosine evaluation downstream —
    # AQE's byte-based coalescing (64 MB advisory) collapsed this
    # exchange to ONE partition at small scale and serialized the whole
    # scoring+argmax chain onto one core (measured: the mutual step ran
    # 11-12 s single-task vs 1.8 s wide at sf0.1 — a 6x interleaved A/B).
    # Pinning the width (explicit N => AQE leaves user repartitions
    # alone) keys the exchange by src, which a hash-partitioning-subset
    # argument makes reusable by BOTH the (src, nbr) distinct AND the
    # per-src top-1 aggregation below — so this does not add an
    # exchange, it replaces the distinct's own. Width = the live
    # session's shuffle width, never a local constant.
    from amundsendatabuilder_spark.session import shuffle_width
    cand = (sigs.alias("x").join(
        sigs.alias("y"),
        (F.col("x.band") == F.col("y.band"))
        & (F.col("x.sig") == F.col("y.sig"))
        & (F.col("x.id") != F.col("y.id")))
        .select(F.col("x.id").alias("src"), F.col("y.id").alias("nbr"))
        .repartition(shuffle_width(sigs.sparkSession), "src")
        .distinct())
    v = (emb.select(F.col(id_col).alias("_id"),
                    F.col(vec_col).cast("array<double>").alias("_v"))
         .withColumn("_n", l2_norm("_v")))
    # nbr join first, src join LAST: the final join leaves rows grouped
    # by src, so the argmax aggregation's PARTIAL phase collapses to one
    # row per (src, partition) before its exchange (the src exchange
    # itself remains in the plan — the win is partial-aggregate row
    # collapse, not a removed shuffle)
    scored = (cand
              .join(v.select(F.col("_id").alias("nbr"),
                             F.col("_v").alias("_vb"),
                             F.col("_n").alias("_nb")), "nbr")
              .join(v.select(F.col("_id").alias("src"),
                             F.col("_v").alias("_va"),
                             F.col("_n").alias("_na")), "src")
              .select("src", "nbr", round_half_away(cosine_similarity(
                  "_va", "_vb", norm_a=F.col("_na"),
                  norm_b=F.col("_nb")), 6).alias("cos")))
    # top-1 per src as a map-side-combinable MIN(struct) aggregation
    # (langid argmax pattern) instead of a sort + rank window; the key
    # replicates the window order (cos DESC NULLS LAST, nbr ASC) via a
    # leading null flag + exact double negation. The MIN(struct) partial
    # phase collapses rows to one per (src, partition) BEFORE the src
    # exchange (the exchange itself remains — the win is the row
    # collapse and the 8-byte sort key, not a removed shuffle).
    top1 = (scored.groupBy("src")
            .agg(F.min(F.struct(
                F.col("cos").isNull().alias("_nl"),
                (-F.coalesce(F.col("cos"), F.lit(0.0))).alias("_o"),
                F.col("nbr").alias("_nbr"),
                F.col("cos").alias("_cos"))).alias("_m"))
            .select("src", F.col("_m._nbr").alias("nbr"),
                    F.col("_m._cos").alias("cos")))
    # r16 mutuality WITHOUT the top1 self-join: the old
    # top1.alias("a") ⋈ top1.alias("b") planned the ENTIRE candidate +
    # scoring + argmax pipeline TWICE (the two sides exchange on
    # different keys — (src,nbr) vs (nbr,src) — so ReuseExchange never
    # fired; verified in plans/r15/mutual_nn_dedup_after.txt: two full
    # copies of every scan/join/aggregate). Mutuality over a top-1
    # relation is a pair-count: orient each top1 edge to its canonical
    # (least, greatest) key — the key appears EXACTLY twice iff both
    # directions picked each other (top1 is unique per src, and only
    # srcs p,q can emit key (p,q)). cos is bit-identical in both
    # directions (the dot-product fold, the norms, and the rounding run
    # the same float ops in the same order), so MIN(cos) is THE pair's
    # cosine and the output matches the self-join row-for-row — one
    # groupBy exchange over corpus-bounded top1 rows replaces two
    # pipeline replays plus a corpus-bounded join (guide §1.2/§2.4).
    return (top1
            .select(F.least("src", "nbr").alias("id_a"),
                    F.greatest("src", "nbr").alias("id_b"), "cos")
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("_n"), F.min("cos").alias("cos"))
            .where(F.col("_n") == 2)
            .select("id_a", "id_b", "cos"))


def _audit_scale_guard(emb: DataFrame, id_col: str,
                       sample_frac: "float | None",
                       max_audit_rows: int, what: str) -> DataFrame:
    """Structural sample-scale contract for the recall AUDITS (r12
    verdict item #3): their truth side deliberately replays the UNCAPPED
    pin — measured 19x cost at 10x data on a dup-heavy corpus
    (BENCH_HEADROOM_r12) — so "run it on a sampled slice at scale" must
    be enforced by the function, not by a BENCH_INDEX convention. The
    optional ``sample_frac`` takes a DETERMINISTIC hash slice (xxhash64
    of the id — replayable, no RNG seed to drift); the (sampled) corpus
    is then counted and the audit raises past ``max_audit_rows`` instead
    of silently launching a super-linear truth job. The count is one
    column-pruned pass — noise next to the audit itself.

    NOTE: this guard is EAGER — the ``count()`` below is a Spark action
    that runs at CALL time, not at the returned plan's submit time.
    Callers composing the audit into a larger lazy pipeline pay (and
    observe) that scan immediately; the returned DataFrame is the
    post-slice corpus, already verified to fit the bound."""
    if sample_frac is not None:
        if not (0.0 < float(sample_frac) <= 1.0):
            raise ValueError(f"{what}: sample_frac must be in (0, 1], "
                             f"got {sample_frac}")
        emb = emb.where(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(1_000_000))
            < F.lit(int(round(float(sample_frac) * 1_000_000))))
    n = emb.select(id_col).count()
    if n > int(max_audit_rows):
        raise ValueError(
            f"{what}: audit corpus is {n} rows, over the "
            f"max_audit_rows={max_audit_rows} bound — the truth side "
            "replays the UNCAPPED pin (super-linear on duplicate "
            "cliques; 19x at 10x data measured). Pass sample_frac to "
            "audit a deterministic slice, or raise max_audit_rows "
            "deliberately for a corpus you know is clique-free")
    return emb


def mutual_nn_recall_report(emb: DataFrame,
                            planes_truth: list[list[float]],
                            planes_prod: list[list[float]],
                            bands_truth: int = 4, bands_prod: int = 8,
                            max_bucket_size: int = 10,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            sample_frac: "float | None" = None,
                            max_audit_rows: int = 1 << 16) -> DataFrame:
    """Recall audit for the PRODUCTION mutual-NN configuration — the
    ann_recall_report discipline applied to mutual_nn_pairs (r11 verdict
    item #4): before trusting the capped/collapsed/8-bit-band twin on a
    new corpus, measure what fraction of the uncapped pin's true
    mutual-NN pairs the production config actually keeps.

    Truth = mutual_nn_pairs(planes_truth, bands_truth) — the uncapped,
    uncollapsed oracle-pinned configuration. Production =
    mutual_nn_pairs(planes_prod, bands_prod, max_bucket_size,
    collapse_exact=True), whose pairs reference exact-vector
    REPRESENTATIVE ids — so truth pairs are first mapped through the
    same min-id-per-identical-vector representative before comparison.
    A truth pair whose two sides collapse to ONE representative is not
    a recall loss (the collapse dedups it by design); it is counted
    separately as n_truth_collapsed_away so nothing disappears
    silently. Returns one row:
    (n_truth_pairs, n_truth_mapped, n_truth_collapsed_away,
    n_prod_pairs, n_hits, recall) with recall =
    n_hits / n_truth_mapped (6dp; 0.0 when the mapped truth set is
    empty).

    Scale shape: both pair sets come from banded candidate generation
    (corpus never joins corpus); the representative map is one
    vector-keyed groupBy + one join (the collapse_exact_vectors
    shuffle); the hit join is an equi-join on (id_a, id_b) pair keys
    sized by the truth OUTPUT; all final aggregates are one-row
    broadcast cross-joins (the rhp_cap_audit pattern). VERIFICATION
    TIER, though: the truth side is the UNCAPPED pin, which inherits
    the uncapped banded paths' dup-clique super-linearity (measured
    19x at 10x data on the replica fixture, BENCH_HEADROOM_r12) — so
    the sample-scale rule is ENFORCED (r12 verdict item #3): past
    ``max_audit_rows`` (default 2^16, register-sized) the audit raises
    at submit unless ``sample_frac`` carves a deterministic hash slice
    first; the production twin itself stays flat
    (mutual_nn_dedup_capped)."""
    emb = _audit_scale_guard(emb, id_col, sample_frac, max_audit_rows,
                             "mutual_nn_recall_report")
    truth = mutual_nn_pairs(emb, planes_truth, bands_truth, id_col,
                            vec_col)
    prod = mutual_nn_pairs(emb, planes_prod, bands_prod, id_col, vec_col,
                           max_bucket_size=max_bucket_size,
                           collapse_exact=True)
    reps = collapse_exact_vectors(emb, id_col, vec_col)
    rep_map = (emb.select(F.col(id_col).alias("_rid"),
                          F.col(vec_col).alias("_v"))
               .join(reps.select(F.col(id_col).alias("_rep"),
                                 F.col(vec_col).alias("_v")), "_v")
               .select("_rid", "_rep"))
    mapped = (truth
              .join(rep_map.select(F.col("_rid").alias("id_a"),
                                   F.col("_rep").alias("_ra")), "id_a")
              .join(rep_map.select(F.col("_rid").alias("id_b"),
                                   F.col("_rep").alias("_rb")), "id_b")
              .select(F.least("_ra", "_rb").alias("id_a"),
                      F.greatest("_ra", "_rb").alias("id_b")))
    mapped_d = (mapped.where(F.col("id_a") < F.col("id_b")).distinct())
    one = F.count(F.lit(1)).cast("long")
    n_truth = truth.agg(one.alias("n_truth_pairs"))
    n_away = (mapped.where(F.col("id_a") == F.col("id_b"))
              .agg(one.alias("n_truth_collapsed_away")))
    n_mapped = mapped_d.agg(one.alias("n_truth_mapped"))
    n_prod = prod.agg(one.alias("n_prod_pairs"))
    n_hits = (mapped_d.join(prod.select("id_a", "id_b"),
                            ["id_a", "id_b"], "left_semi")
              .agg(one.alias("n_hits")))
    return (n_truth.crossJoin(F.broadcast(n_mapped))
            .crossJoin(F.broadcast(n_away))
            .crossJoin(F.broadcast(n_prod))
            .crossJoin(F.broadcast(n_hits))
            .select("n_truth_pairs", "n_truth_mapped",
                    "n_truth_collapsed_away", "n_prod_pairs", "n_hits",
                    F.when(F.col("n_truth_mapped") == 0, F.lit(0.0))
                    .otherwise(round_half_away(
                        F.col("n_hits").cast("double")
                        / F.col("n_truth_mapped"), 6)).alias("recall")))


def mutual_nn_exact_recall_report(emb: DataFrame,
                                  planes_pin: list[list[float]],
                                  planes_prod: list[list[float]],
                                  bands_pin: int = 4, bands_prod: int = 8,
                                  max_bucket_size: int = 10,
                                  id_col: str = "vec_id",
                                  vec_col: str = "embedding",
                                  sample_frac: "float | None" = None,
                                  max_audit_rows: int = 1 << 16
                                  ) -> DataFrame:
    """EXACT-ground-truth companion to mutual_nn_recall_report: both
    banded mutual-NN configurations measured against the true (brute
    force, all-pairs) mutual top-1 relation — the audit that says which
    config is closer to the real answer when the two banded pair sets
    diverge (as the synthetic fixture showed: similar pair counts, low
    overlap).

    Truth = brute_force_topk(corpus, corpus, k=1) mutual pairs — exact
    cosine, same 6dp/tie-break convention as mutual_nn_pairs. VERIFICATION
    CONFIGURATION ONLY: the query side broadcasts the whole corpus
    (audit scale — at 100 TB run it on a sampled slice; the banded
    paths are the scale paths, this report is their scorecard). The
    production config's hits are counted after mapping truth pairs
    through the exact-vector representative (the mutual_nn_recall_report
    mapping), so the collapse is not scored as a miss. Returns one row:
    (n_exact_pairs, n_exact_mapped, n_pin_pairs, n_pin_hits, pin_recall,
    n_prod_pairs, n_prod_hits, prod_recall), recalls 6dp vs the exact
    set sized for each comparison. The all-pairs truth makes this the
    most scale-hostile audit in the engine, so the sample-scale rule is
    ENFORCED (r12 verdict item #3): past ``max_audit_rows`` the audit
    raises at submit unless ``sample_frac`` carves a deterministic hash
    slice first."""
    emb = _audit_scale_guard(emb, id_col, sample_frac, max_audit_rows,
                             "mutual_nn_exact_recall_report")
    v = emb.select(F.col(id_col).alias(id_col), F.col(vec_col))
    t1 = brute_force_topk(v, v, k=1, id_col=id_col, vec_col=vec_col)
    exact = (t1.alias("a").join(
        t1.alias("b"),
        (F.col("a.query_id") == F.col("b.neighbor_id"))
        & (F.col("a.neighbor_id") == F.col("b.query_id"))
        & (F.col("a.query_id") < F.col("b.query_id")))
        .select(F.col("a.query_id").alias("id_a"),
                F.col("a.neighbor_id").alias("id_b")))
    pin = mutual_nn_pairs(emb, planes_pin, bands_pin, id_col, vec_col)
    prod = mutual_nn_pairs(emb, planes_prod, bands_prod, id_col, vec_col,
                           max_bucket_size=max_bucket_size,
                           collapse_exact=True)
    reps = collapse_exact_vectors(emb, id_col, vec_col)
    rep_map = (emb.select(F.col(id_col).alias("_rid"),
                          F.col(vec_col).alias("_v"))
               .join(reps.select(F.col(id_col).alias("_rep"),
                                 F.col(vec_col).alias("_v")), "_v")
               .select("_rid", "_rep"))
    mapped = (exact
              .join(rep_map.select(F.col("_rid").alias("id_a"),
                                   F.col("_rep").alias("_ra")), "id_a")
              .join(rep_map.select(F.col("_rid").alias("id_b"),
                                   F.col("_rep").alias("_rb")), "id_b")
              .select(F.least("_ra", "_rb").alias("id_a"),
                      F.greatest("_ra", "_rb").alias("id_b"))
              .where(F.col("id_a") < F.col("id_b")).distinct())
    one = F.count(F.lit(1)).cast("long")
    n_exact = exact.agg(one.alias("n_exact_pairs"))
    n_mapped = mapped.agg(one.alias("n_exact_mapped"))
    n_pin = pin.agg(one.alias("n_pin_pairs"))
    pin_hits = (exact.join(pin.select("id_a", "id_b"),
                           ["id_a", "id_b"], "left_semi")
                .agg(one.alias("n_pin_hits")))
    n_prod = prod.agg(one.alias("n_prod_pairs"))
    prod_hits = (mapped.join(prod.select("id_a", "id_b"),
                             ["id_a", "id_b"], "left_semi")
                 .agg(one.alias("n_prod_hits")))

    def recall(hits, base):
        return (F.when(F.col(base) == 0, F.lit(0.0))
                .otherwise(round_half_away(
                    F.col(hits).cast("double") / F.col(base), 6)))

    return (n_exact.crossJoin(F.broadcast(n_mapped))
            .crossJoin(F.broadcast(n_pin))
            .crossJoin(F.broadcast(pin_hits))
            .crossJoin(F.broadcast(n_prod))
            .crossJoin(F.broadcast(prod_hits))
            .select("n_exact_pairs", "n_exact_mapped",
                    "n_pin_pairs", "n_pin_hits",
                    recall("n_pin_hits", "n_exact_pairs").alias("pin_recall"),
                    "n_prod_pairs", "n_prod_hits",
                    recall("n_prod_hits", "n_exact_mapped")
                    .alias("prod_recall")))


def knn_label_disagreement(emb: DataFrame, planes: list[list[float]],
                           bands: int = 8, k: int = 5,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           label_col: str = "label",
                           flag_num: int = 1, flag_den: int = 2,
                           max_bucket_size: "int | None" = 64) -> DataFrame:
    """Label-noise screen (confident-learning style) over the banded
    candidate graph: for each vector, its ``k`` most-cosine-similar
    banded candidates vote on the label; a vector whose neighbors
    disagree at >= ``flag_num/flag_den`` is flagged as likely
    mislabeled — the screen a training-data pipeline runs over
    (embedding, label) pairs before trusting the labels for a
    classifier or mixture stage. Returns per-label rows (label, n_vecs,
    n_flagged, pooled_disagreement): vectors with >= 1 candidate, how
    many are flagged, and the pooled fraction of disagreeing neighbor
    votes (exact-integer ratio, 6dp — never a float accumulation).

    Scale shape: candidates come from shared RHP band buckets (the
    mutual_nn/hard-negative mechanism — shuffles carry (id, band, sig),
    vectors join back only for surviving candidates), the per-vector
    top-k is a rank window with group-limit pushdown, and the flag
    test is the cross-multiplied integer rule. ``max_bucket_size``
    drops over-cap buckets from candidate generation ON BOTH SIDES
    (default 64 — a dup-clique bucket votes with near-identical
    vectors and teaches the screen nothing; run ``rhp_cap_audit``
    first and raise deliberately). The cap is replayed by the oracle,
    so the certified path IS the capped path."""
    from amundsendatabuilder_spark.functions.vectors import (
        cosine_similarity, l2_norm)
    from amundsendatabuilder_spark.session import ensure_parallelism
    sigs = rhp_band_sigs(emb, planes, bands, id_col, vec_col)
    if max_bucket_size is not None:
        w_b = Window.partitionBy("band", "sig")
        sigs = (sigs.withColumn("_sz", F.count("*").over(w_b))
                .where(F.col("_sz") <= max_bucket_size)
                .drop("_sz"))
    cand = (sigs.select(F.col("id").alias("a"), "band", "sig")
            .join(sigs.select(F.col("id").alias("b"), "band", "sig"),
                  ["band", "sig"])
            .where(F.col("a") != F.col("b"))
            .select("a", "b").distinct())
    c = (ensure_parallelism(emb)
         .select(F.col(id_col).alias("_id"), F.col(label_col).alias("_lb"),
                 F.col(vec_col).cast("array<double>").alias("_v"))
         .withColumn("_n", l2_norm("_v")).localCheckpoint())
    ca = c.select(F.col("_id").alias("a"), F.col("_lb").alias("la"),
                  F.col("_v").alias("va"), F.col("_n").alias("na"))
    cb = c.select(F.col("_id").alias("b"), F.col("_lb").alias("lb"),
                  F.col("_v").alias("vb"), F.col("_n").alias("nb"))
    scored = (cand.join(ca, "a").join(cb, "b")
              .withColumn("cos", round_half_away(cosine_similarity(
                  "va", "vb", norm_a=F.col("na"), norm_b=F.col("nb")), 6)))
    w = Window.partitionBy("a").orderBy(F.col("cos").desc(),
                                        F.col("b").asc())
    top = (scored.withColumn("_rn", F.row_number().over(w))
           .where(F.col("_rn") <= k))
    per_vec = (top.groupBy("a", "la")
               .agg(F.count(F.lit(1)).alias("n_nbrs"),
                    F.sum(F.when(F.col("la") != F.col("lb"), 1)
                          .otherwise(0)).alias("n_diff")))
    flagged = (F.col("n_diff") * flag_den >= F.lit(flag_num)
               * F.col("n_nbrs")).cast("long")
    return (per_vec.groupBy(F.col("la").alias(label_col))
            .agg(F.count(F.lit(1)).alias("n_vecs"),
                 F.sum(flagged).alias("n_flagged"),
                 round_half_away(
                     F.sum("n_diff").cast("double")
                     / F.sum("n_nbrs").cast("double"), 6)
                 .alias("pooled_disagreement"))
            .orderBy(label_col))
