"""Iterative graph algorithms over edge DataFrames.

The reference models table/column lineage as edge records
(databuilder/extractor/csv_extractor.py:261-362 CsvTableLineageExtractor /
CsvColumnLineageExtractor; models/table_lineage.py) but can only emit the
direct edges — any multi-hop question (all downstream consumers of a root
table) is left to the graph database. Here the traversal itself is a Spark
operator: frontier-expansion BFS with one equi-join per hop.

Scale shape: each iteration joins the current frontier (small, broadcast
when < threshold) against the edge table partitioned by src; visited-set
dedup keeps the frontier minimal. Depth is bounded (lineage DAGs are
shallow); for unbounded closure, loop until the frontier is empty and
checkpoint every few hops to cut the lineage of the growing plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from amundsendatabuilder_spark.session import shuffle_width


def _undirected(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """The undirected simple graph under ``edges``: distinct (u, v) pairs
    with u < v — self-loops dropped, orientation and parallel edges
    folded."""
    return (edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
            .where(F.col("u") != F.col("v"))
            .select(F.least("u", "v").alias("u"),
                    F.greatest("u", "v").alias("v"))
            .distinct())


def _symmetric(und: DataFrame) -> DataFrame:
    """Both orientations of ``_undirected`` pairs. The two halves are
    disjoint (u < v against u > v), so the union needs no distinct."""
    return und.unionByName(und.select(F.col("v").alias("u"),
                                      F.col("u").alias("v")))


def reachability(edges: DataFrame, sources: DataFrame,
                 max_depth: int = 4,
                 src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """All nodes reachable from ``sources`` within ``max_depth`` hops.

    ``edges``: (src, dst) rows. ``sources``: one column named like
    ``src_col`` holding root ids. Returns (root, node, depth) with the
    minimum hop count per (root, node); roots themselves are not emitted.

    BFS keeps per-(root, node) minimum depth by construction: a node first
    reached at depth d is excluded from later frontiers via the
    left_anti against the visited set.
    """
    edges = edges.cache()  # re-joined every hop — pin it once
    frontier = sources.select(F.col(src_col).alias("root"),
                              F.col(src_col).alias("node"))
    visited = frontier.withColumn("depth", F.lit(0))
    out: DataFrame | None = None
    for depth in range(1, max_depth + 1):
        step = (frontier.join(edges, frontier["node"] == edges[src_col])
                .select("root", F.col(dst_col).alias("node"))
                .distinct())
        fresh = step.join(visited, ["root", "node"], "left_anti") \
                    .withColumn("depth", F.lit(depth))
        # localCheckpoint (not cache): visited/out re-reference every
        # earlier frontier, and cache() keeps the full logical subtree
        # under each reference — at depth d the union plan carries O(d²)
        # copies (audited at 10k plan nodes when two BFS snapshots met
        # in a diff). Checkpointing truncates each frontier to an RDD
        # scan; execution cost is identical (one materialization).
        fresh = fresh.localCheckpoint()
        if fresh.isEmpty():
            break
        visited = visited.unionByName(fresh)
        out = fresh if out is None else out.unionByName(fresh)
        frontier = fresh.select("root", "node")
    if out is None:
        return visited.where(F.lit(False)).select("root", "node", "depth")
    return out.select("root", "node", "depth")


def connected_components(edges: DataFrame,
                         src_col: str = "src",
                         dst_col: str = "dst",
                         driver_threshold: int = 200_000,
                         max_iters: int = 10) -> DataFrame:
    """Adaptive connected components: union-find on the driver when the
    edge set is small, distributed min-label propagation otherwise.

    Dedup pipelines produce a verified-pair set that is almost always
    orders of magnitude smaller than the corpus (it only contains actual
    near-duplicates), so even at 100 TB corpus scale the pair graph
    frequently fits a single machine — and a driver union-find is one
    collect + zero shuffle versus ~diameter× (join + groupBy + probe)
    jobs. The decision uses the runtime edge count, the same
    stats-at-runtime strategy choice AQE applies to joins. Above the
    threshold (default 200k edges — collected Rows are Python objects at
    ~100s of bytes each, so this bounds driver heap at tens of MB, not
    the row count × 16 bytes a C layout would suggest) it falls back to
    ``connected_components_small``. Returns (node, component), component =
    min node id in the component, identical for both strategies.
    """
    edges = edges.cache()
    # ONE job decides the strategy AND delivers the edge list: take() with
    # a threshold+1 limit both proves the graph is small enough for the
    # driver and returns it — versus a count job followed by a collect job
    # (2× the scheduling and 2× the cache reads of the same pipeline).
    head = edges.select(src_col, dst_col).take(driver_threshold + 1)
    if len(head) > driver_threshold:
        # materialize the propagation result (bounded by the pair-graph
        # node count) BEFORE releasing the cache — unpersisting first
        # would make the lazy fallback plan recompute the edge pipeline
        # it just paid to cache
        out = connected_components_small(
            edges, src_col=src_col, dst_col=dst_col,
            max_iters=max_iters).localCheckpoint()
        edges.unpersist()
        return out
    pairs = [(r[0], r[1]) for r in head]
    edges.unpersist()
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo  # min-id root => component = min node id
    node_type = dict(edges.dtypes)[src_col]
    rows = sorted((n, find(n)) for n in parent)
    return edges.sparkSession.createDataFrame(
        rows, f"node {node_type}, component {node_type}")


def connected_components_small(edges: DataFrame,
                               src_col: str = "src",
                               dst_col: str = "dst",
                               max_iters: int = 10) -> DataFrame:
    """Connected components by iterative min-label propagation — the
    dedup-cluster builder that turns near-duplicate PAIRS into GROUPS
    (pick min doc_id per component as the keeper).

    Label propagation: every node adopts the minimum label among itself
    and its neighbors until fixpoint. Iterations ≈ graph diameter; dup
    clusters are near-cliques (diameter ≤ ~3), so this converges in a few
    map-side-combinable groupBys. Returns (node, component).
    """
    # cache the INPUT edges, not just the symmetrized union: sym references
    # edges twice, and an uncached upstream (e.g. the LSH candidate
    # pipeline) would execute once per branch, then once more per loop
    # action — the dominant cost by far (measured 8.9s -> 2.6s sym fill at
    # sf0.1). sym itself is cached because every iteration joins it.
    edges = edges.cache()
    sym = (edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
           .unionByName(edges.select(F.col(dst_col).alias("a"),
                                     F.col(src_col).alias("b")))).cache()
    sym.count()  # fill sym's cache before the input cache is released
    edges.unpersist()
    labels = (sym.select("a").distinct()
              .select(F.col("a").alias("node"), F.col("a").alias("component")))
    for _ in range(max_iters):
        neighbor_min = (sym.join(labels, sym["b"] == labels["node"])
                        .groupBy("a").agg(F.min("component").alias("nmin")))
        # localCheckpoint truncates the per-iteration lineage growth that
        # would otherwise make iteration k re-plan (and with any cache miss
        # re-run) all k-1 predecessors
        new_comp = F.least(F.col("component"),
                           F.coalesce("nmin", F.col("component")))
        # the convergence flag rides INSIDE the checkpointed rows, so the
        # "did anything change" probe scans the materialized state, not a
        # second join/recompute
        updated = (labels.join(neighbor_min,
                               labels["node"] == neighbor_min["a"], "left")
                   .select("node", new_comp.alias("component"),
                           (new_comp != F.col("component")).alias("_changed"))
                   .localCheckpoint())
        converged = updated.where(F.col("_changed")).isEmpty()
        labels = updated.drop("_changed")
        if converged:
            break
    sym.unpersist()  # labels is checkpoint-materialized; sym is done
    return labels.select("node", "component")


def pagerank(edges: DataFrame, iters: int = 3,
             damping_num: int = 17, damping_den: int = 20,
             unit: int = 10 ** 15,
             src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """PageRank over an edge DataFrame in EXACT integer arithmetic —
    (node, r) where r is the rank in fixed-point units (total mass
    ``unit`` truncated to N * (unit DIV N)).

    Why integers: float PageRank sums contributions in whatever order the
    shuffle delivers them, so two runs (or two engines) disagree in the
    last bits and a value-hash oracle can never pin it. Here damping is
    the rational damping_num/damping_den (default 17/20 = 0.85), every
    per-edge contribution is floor(r * num / (den * outdeg)), and the
    dangling + teleport mass is floored per node — all closed under
    signed 64-bit (r <= unit = 10^15, * 17 < 2^63), so any ANSI engine
    reproduces the result bit-for-bit.

    Scale shape per iteration: one join of the rank table against edges
    partitioned by src (rank rows are (node, long) — 16 bytes), one
    map-side-combinable sum by dst, and a 1-row dangling aggregate
    crossJoin-broadcast back (no driver collect). localCheckpoint per
    iteration truncates the growing lineage exactly like kmeans_fit.
    Dangling nodes (outdeg 0) donate their damped mass uniformly, so
    total mass is conserved up to the deterministic floor losses."""
    edges = edges.select(F.col(src_col).alias("src"),
                         F.col(dst_col).alias("dst")).cache()
    nodes = (edges.select(F.col("src").alias("node"))
             .unionByName(edges.select(F.col("dst").alias("node")))
             .distinct().localCheckpoint())
    n = nodes.count()
    # over edges already partitioned by src this groupBy runs no exchange
    # and keeps their width: narrow it to the AQE-sized nodes checkpoint
    outdeg = (edges.groupBy(F.col("src").alias("node"))
              .agg(F.count(F.lit(1)).alias("outdeg"))
              .coalesce(nodes.rdd.getNumPartitions()).localCheckpoint())
    r0 = unit // n
    total = n * r0
    base = (total * (damping_den - damping_num)) // (damping_den * n)
    state = nodes.select("node", F.lit(r0).cast("long").alias("r"))
    for _ in range(iters):
        ranked = state.join(outdeg, "node", "left")
        contribs = (ranked.where(F.col("outdeg").isNotNull())
                    .join(edges, ranked["node"] == edges["src"])
                    .select(F.col("dst").alias("node"),
                            F.expr(f"(r * {damping_num}) DIV "
                                   f"({damping_den} * outdeg)").alias("c"))
                    .groupBy("node").agg(F.sum("c").alias("in_mass")))
        dangling = (ranked.where(F.col("outdeg").isNull())
                    .agg(F.coalesce(F.sum("r"), F.lit(0)).alias("dsum")))
        share = F.expr(f"(dsum * {damping_num}) DIV ({damping_den} * {n})")
        state = (nodes.join(contribs, "node", "left")
                 .crossJoin(F.broadcast(dangling))
                 .select("node",
                         (F.lit(base) + share
                          + F.coalesce(F.col("in_mass"), F.lit(0)))
                         .cast("long").alias("r"))
                 .localCheckpoint())
    edges.unpersist()
    return state


def triangle_counts(edges: DataFrame,
                    src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """Per-node triangle participation counts over an undirected graph —
    (node, n_triangles) for every node in at least one triangle.

    Compact-forward orientation: every undirected edge is directed from
    its (degree, id)-smaller endpoint to the larger, so each triangle
    materializes exactly once and the candidate-wedge join is bounded by
    sum_e min(deg(u), deg(v)) — the classic bound that keeps one
    celebrity node with 10^6 neighbors from generating 10^12 wedges (its
    edges all point INTO it, so it never fans out). Wedges (a->b->c)
    are closed by a semi-join against the oriented edge set; shuffle
    payload is id pairs throughout."""
    # localCheckpoint (not cache): und/o are each referenced 2-3 times,
    # and a cache leaves the full self-join lineage in every branch of the
    # first-run plan (audited at 79 exchanges); checkpointing materializes
    # once and every consumer reads the RDD — the kmeans/pagerank pattern
    und = _undirected(edges, src_col, dst_col).localCheckpoint()
    deg = (und.select(F.col("u").alias("n"))
           .unionByName(und.select(F.col("v").alias("n")))
           .groupBy("n").agg(F.count(F.lit(1)).alias("d")))
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    lab = und.join(du, "u").join(dv, "v")
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    o = lab.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("b"))
    # the 16-byte oriented rows would byte-coalesce to a few partitions
    # and run the wedge join on one core, so the checkpoint is pinned at
    # the shuffle width — keyed by both endpoints, since hot wedge
    # centers b would skew a b-keyed spread
    o = (o.repartition(shuffle_width(o.sparkSession), "a", "b")
         .localCheckpoint())
    w = (o.alias("e1")
         .join(o.alias("e2"), F.col("e1.b") == F.col("e2.a"))
         .select(F.col("e1.a").alias("a"), F.col("e1.b").alias("b"),
                 F.col("e2.b").alias("c")))
    closing = o.select(F.col("a").alias("x"), F.col("b").alias("y"))
    tri = w.join(closing, (F.col("a") == F.col("x")) &
                 (F.col("c") == F.col("y")), "left_semi")
    per_node = (tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
                .groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles")))
    return per_node


def label_propagation(edges: DataFrame, iters: int = 3,
                      src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) — community
    detection over an undirected graph, returning (node, label) after
    ``iters`` full-graph sweeps. Deterministic variant: every node starts
    labeled with its own id; each sweep relabels every node with its
    neighbors' most frequent label, ties broken toward the SMALLEST
    label — so unlike the randomized textbook version, two runs (and two
    engines) produce identical labelings and the result is
    hash-verifiable.

    Per sweep: one (node, long) join of labels against the symmetrized
    edge list partitioned by src, then a (node, label) count whose argmax
    is a min-of-struct aggregate ((−cnt, label) — map-side combinable,
    no rank window over the full adjacency). Shuffle payload is id pairs
    throughout; label state is 16 bytes/node. localCheckpoint per sweep
    truncates the iterative lineage (the pagerank/kmeans pattern).
    """
    sym = _symmetric(_undirected(edges, src_col, dst_col)).localCheckpoint()
    labels = (sym.select(F.col("u").alias("node")).distinct()
              .select("node", F.col("node").alias("label")))
    for _ in range(iters):
        nbr = (sym.join(labels, sym["v"] == labels["node"])
               .select(F.col("u").alias("n"), "label"))
        counts = (nbr.groupBy("n", "label")
                  .agg(F.count(F.lit(1)).alias("cnt")))
        labels = (counts.groupBy("n")
                  .agg(F.min(F.struct((-F.col("cnt")).alias("nc"),
                                      F.col("label"))).alias("m"))
                  .select(F.col("n").alias("node"),
                          F.col("m.label").alias("label"))
                  .localCheckpoint())
    sym.unpersist()
    return labels


def link_prediction_scores(edges: DataFrame, min_common: int = 2,
                           k: int = 50, src_col: str = "src",
                           dst_col: str = "dst") -> DataFrame:
    """Common-neighbor link prediction over an undirected graph: for
    every NON-adjacent pair (u, v) sharing ≥ min_common neighbors,
    the common-neighbor count and neighborhood-Jaccard in exact ppm —
    the "you may also want to join these tables" / "related datasets"
    signal a catalog derives from its co-usage graph. Top-k by
    (common desc, jaccard_ppm desc, u, v).

    Scale shape: candidate pairs come from the SAME wedge join that
    bounds triangle counting — neighbors grouped by the wedge center,
    each center emitting its ordered neighbor pairs — so fan-out is
    Σ deg(c)², the standard bound, prunable upstream by a max-degree cap
    for celebrity nodes (drop hubs ≥ cap from wedge centers: a node
    adjacent to everything predicts nothing). The existing-edge
    anti-join and degree joins shuffle id pairs only; Jaccard is integer
    cross-multiplied (|∩|·1e6 DIV (deg_u + deg_v − |∩|)).
    """
    sym = _symmetric(_undirected(edges, src_col, dst_col)).localCheckpoint()
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    # wedges: center c with neighbors a < b -> candidate pair (a, b)
    n1 = sym.select(F.col("u").alias("c"), F.col("v").alias("a"))
    n2 = sym.select(F.col("u").alias("c"), F.col("v").alias("b"))
    cand = (n1.join(n2, "c")
            .where(F.col("a") < F.col("b"))
            .groupBy("a", "b").agg(F.count(F.lit(1)).alias("common"))
            .where(F.col("common") >= min_common))
    # drop already-adjacent pairs (predicting an existing edge is vacuous)
    existing = sym.select(F.col("u").alias("a"), F.col("v").alias("b"))
    cand = cand.join(existing, ["a", "b"], "left_anti")
    da = deg.select(F.col("u").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("u").alias("b"), F.col("deg").alias("deg_b"))
    scored = (cand.join(da, "a").join(db, "b")
              .select("a", "b", "common", "deg_a", "deg_b",
                      F.expr("common * 1000000 DIV "
                             "(deg_a + deg_b - common)")
                      .alias("jaccard_ppm")))
    return (scored.orderBy(F.col("common").desc(),
                           F.col("jaccard_ppm").desc(), "a", "b")
            .limit(k))


def hash_walks(edges: DataFrame, walk_len: int = 3,
               walks_per_node: int = 2, starts: DataFrame | None = None,
               src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """Deterministic random-walk sampling over an undirected graph — the
    corpus-generation pass of DeepWalk/node2vec-style graph embedding,
    with the RNG replaced by a seeded hash so walks are REPRODUCIBLE
    across runs, engines, and partitionings (a property the sampled-walk
    literature gives up, and the one that makes the operator
    oracle-verifiable): step t of walk w from node v moves to
    neighbors(cur)[ md5(cur:w:t) mod deg(cur) ], neighbors sorted.

    Output: (start, walk, step, node) rows, steps 0..walk_len.

    Scale shape: the adjacency table holds each node's SORTED neighbor
    array once; each of the walk_len steps is ONE equi-join of the
    (start, walk, cur) frontier — 24 bytes/row — against adjacency on
    cur, map-side hash arithmetic picking the successor. Total work is
    O(walks · walk_len) frontier rows regardless of graph size; hub
    nodes cost nothing extra (their array is large but the lookup is
    O(1)). ``starts`` defaults to every node.
    """
    sym = _symmetric(_undirected(edges, src_col, dst_col))
    adj = (sym.groupBy("u")
           .agg(F.sort_array(F.collect_list("v")).alias("nbrs"),
                F.count(F.lit(1)).alias("deg")).localCheckpoint())
    start_df = (starts if starts is not None
                else adj.select(F.col("u").alias("start")))
    # the frontier keeps its input's width (no exchange above it): narrow
    # it to the AQE-sized adj checkpoint
    frontier = (start_df.select(
        "start",
        F.explode(F.sequence(F.lit(0), F.lit(walks_per_node - 1)))
        .alias("walk"))
        .select("start", F.col("walk").cast("long").alias("walk"),
                F.col("start").alias("cur"))
        .coalesce(adj.rdd.getNumPartitions()).localCheckpoint())
    out = frontier.select("start", "walk", F.lit(0).alias("step"),
                          F.col("cur").alias("node"))
    for t in range(1, walk_len + 1):
        h = F.conv(F.substring(F.md5(F.concat(
            F.col("cur").cast("string"), F.lit(":"),
            F.col("walk").cast("string"), F.lit(":"), F.lit(str(t)))),
            1, 8), 16, 10).cast("long")
        frontier = (frontier.join(adj, frontier["cur"] == adj["u"])
                    .select("start", "walk",
                            F.element_at(F.col("nbrs"),
                                         ((h % F.col("deg")) + 1)
                                         .cast("int")).alias("cur"))
                    # materialize each level: the final union otherwise
                    # re-evaluates every prefix of the join chain
                    # (O(len²) joins — the match_var_path lesson)
                    .localCheckpoint())
        out = out.unionByName(frontier.select(
            "start", "walk", F.lit(t).alias("step"),
            F.col("cur").alias("node")))
    return out.withColumn("step", F.col("step").cast("int"))


def feature_propagation(edges: DataFrame, feats: DataFrame,
                        iters: int = 2, feat_col: str = "f",
                        node_col: str = "node",
                        src_col: str = "src", dst_col: str = "dst"
                        ) -> DataFrame:
    """Neighborhood feature smoothing — the message-passing aggregation
    at the heart of GraphSAGE/GCN-style pipelines, run as exact integer
    DataFrame algebra: per sweep, f(v) ← (f(v) + Σ_{u∈N(v)} f(u)) DIV
    (1 + deg(v)) over the symmetrized graph (mean aggregate with a
    self-loop, truncating division so every engine agrees bit-for-bit).
    After k sweeps each node's feature summarizes its k-hop
    neighborhood — the classic "propagate labels/features to sparsely
    labeled nodes" primitive. Features must be NON-NEGATIVE (truncating
    integer division differs between engines below zero — the
    trend_slopes sign lesson).

    Per sweep: ONE join of the (node, long) feature table against edges
    partitioned by src + one map-side-combinable sum — identical scale
    shape to pagerank (16-byte state rows, localCheckpoint truncating
    the iterative lineage)."""
    sym = _symmetric(_undirected(edges, src_col, dst_col)).localCheckpoint()
    deg = sym.groupBy(F.col("u").alias(node_col)).agg(
        F.count(F.lit(1)).alias("deg")).localCheckpoint()
    # the state keeps feats' width through broadcast joins: narrow it to
    # the AQE-sized deg checkpoint
    state = (feats.select(F.col(node_col),
                          F.col(feat_col).cast("long").alias("f"))
             .coalesce(deg.rdd.getNumPartitions()))
    for _ in range(iters):
        nbr_sum = (sym.join(state, sym["v"] == state[node_col])
                   .groupBy(F.col("u").alias(node_col))
                   .agg(F.sum("f").alias("nsum")))
        # deg joins WITHOUT a broadcast hint: the degree table is
        # node-count-sized, so at graph scale it must shuffle-join (AQE
        # still broadcasts it when it fits)
        state = (state.join(nbr_sum, node_col, "left")
                 .join(deg, node_col, "left")
                 .select(node_col,
                         F.expr("(f + coalesce(nsum, CAST(0 AS BIGINT)))"
                                " DIV (1 + coalesce(deg,"
                                " CAST(0 AS BIGINT)))").alias("f"))
                 .localCheckpoint())
    return state


def temporal_reachability(edges: DataFrame, sources: DataFrame,
                          rounds: int = 3, src_col: str = "src",
                          dst_col: str = "dst",
                          ts_col: str = "t") -> DataFrame:
    """Time-respecting reachability over a temporal graph: node v is
    reachable from a source iff a path exists whose edge timestamps are
    NON-DECREASING (you cannot ride an edge that departed before you
    arrived) — the semantics of information/contagion flow, incident
    forensics ("what could this leaked credential have touched, given
    WHEN each system talked"), and event-driven lineage, where plain
    reachability over-approximates badly.

    Bellman-Ford-style relaxation on earliest-arrival times:
    arrival(v) = min over edges (u→v, t ≥ arrival(u)) of t, sources at
    −∞ (represented as 0 with timestamps > 0), ``rounds`` sweeps
    (earliest-arrival paths need ≤ |V| sweeps; bounded hops is the
    catalog-practical form, like match_var_path). Output: (node,
    arrival) for every reached node, arrival = 0 for the sources.

    Per sweep: one (node, long) join against the edge list + one min
    aggregate — min is idempotent/commutative, so sweeps are also
    replay-safe. The pagerank scale shape: 16-byte state rows, edges
    cached once, localCheckpoint per sweep."""
    e = edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"),
                     F.col(ts_col).cast("long").alias("t")).localCheckpoint()
    state = sources.select(F.col("node"),
                           F.lit(0).cast("long").alias("arrival"))
    for _ in range(rounds):
        relaxed = (e.join(state, e["u"] == state["node"])
                   .where(F.col("t") >= F.col("arrival"))
                   .select(F.col("v").alias("node"),
                           F.col("t").alias("arrival")))
        state = (state.unionByName(relaxed)
                 .groupBy("node").agg(F.min("arrival").alias("arrival"))
                 .localCheckpoint())
    return state


def k_core(edges: DataFrame, k: int = 3, rounds: int = 5,
           src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """k-core by simultaneous peeling: repeatedly delete every node
    whose degree (in the surviving subgraph) is below ``k``; what
    survives a fixpoint is the classic k-core — the densely-knit
    backbone that degree thresholds on the RAW graph cannot find (a
    degree-100 spam hub whose neighbors are all leaves has 2-core
    membership of exactly nothing).

    Catalog/curation uses: trimming crawl/link graphs to their cohesive
    nucleus before community detection, and separating structurally-
    embedded catalog entities from incidental spokes in a co-usage
    graph (pagerank ranks them; k-core MEMBERSHIP thresholds them).

    Semantics contract: the output is the subgraph after exactly
    ``rounds`` SIMULTANEOUS peel sweeps (every sub-k node of a sweep
    leaves at once), which equals the true k-core whenever peeling has
    converged by then — peeling cascades (removing leaves exposes new
    sub-k nodes), and a pathological chain can need ~|V| sweeps, so
    callers wanting the certified fixpoint check that one more round is
    a no-op (the unit test does; bounded-rounds is the same
    catalog-practical form as match_var_path / temporal_reachability).
    Input edges are undirected pairs; both orientations are
    symmetrized, self-loops dropped, parallel edges deduped (degree =
    distinct neighbors). Returns (node, core_degree) for survivors.

    Scale shape per sweep: one map-side-combinable degree count + two
    semi-joins of the edge list against the (node)-only survivor set —
    edge payloads never widen, survivor state is one id per node, and
    localCheckpoint truncates the per-sweep lineage like every
    iterative operator here. No windows, no driver collect.
    """
    sym = _symmetric(_undirected(edges, src_col, dst_col)).localCheckpoint()
    for _ in range(rounds):
        keep = (sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
                .where(F.col("deg") >= k).select("u"))
        sym = (sym.join(keep, "u", "left_semi")
               .join(keep.withColumnRenamed("u", "v"), "v", "left_semi")
               .select("u", "v").localCheckpoint())
    return (sym.groupBy(F.col("u").alias("node"))
            .agg(F.count(F.lit(1)).cast("long").alias("core_degree")))


def _hyperball_estimates(edges: DataFrame, iters: int, p: int,
                         src_col: str, dst_col: str) -> DataFrame:
    """The HyperBall register loop shared by hyperball_neighborhood and
    hyperball_harmonic: (radius, node, e6) for radius 0..iters, e6 the
    node's ball-size estimate quantized to 1e6-scaled BIGINT.

    Registers derive from md5(node) (the sketches.py layout — seedless,
    engine-reproducible) and merge by MAX along edges, one edge join per
    round; each round localCheckpoints the nodes x 2^p register table so
    lineage stays flat, and the join shuffles (node, bucket, rho) tuples
    only — never neighbor lists. The edge list is checkpointed once (the
    loop reads it 1 + iters times), and every round's registers are
    folded by ONE hll_estimate keyed by (radius, node), whose inlined
    constants let the DuckDB twin replay the float math bit-for-bit.
    """
    from amundsendatabuilder_spark.functions.scalars import round_half_away
    from amundsendatabuilder_spark.operators.profiling import (
        require_register_width)
    from amundsendatabuilder_spark.operators.sketches import (
        hll_estimate, hll_terms)
    # every round shuffles |edges| x 2^p rows, so an over-wide p raises
    # at plan time, before round one
    require_register_width(1 << p, f"hyperball registers per node (p={p})")
    e = edges.select(F.col(src_col).alias("e_src"),
                     F.col(dst_col).alias("e_dst")).localCheckpoint()
    nodes = (e.select(F.col("e_src").alias("node"))
             .unionByName(e.select(F.col("e_dst").alias("node")))
             .distinct())
    regs = (hll_terms(nodes, "node", p)
            .groupBy("node", "bucket").agg(F.max("rho").alias("r"))
            .localCheckpoint())
    allr = regs.withColumn("radius", F.lit(0))
    for radius in range(1, iters + 1):
        nbr = (e.join(regs.withColumnRenamed("node", "e_dst"), "e_dst")
               .select(F.col("e_src").alias("node"), "bucket", "r"))
        regs = (regs.unionByName(nbr)
                .groupBy("node", "bucket").agg(F.max("r").alias("r"))
                .localCheckpoint())
        allr = allr.unionByName(regs.withColumn("radius", F.lit(radius)))
    return (hll_estimate(allr, ("radius", "node"), p)
            .select("radius", "node",
                    round_half_away(F.col("approx_distinct") * 1e6, 0)
                    .cast("long").alias("e6")))


def hyperball_neighborhood(edges: DataFrame, iters: int = 3, p: int = 4,
                           src_col: str = "src",
                           dst_col: str = "dst") -> DataFrame:
    """HyperBall (Boldi & Vigna, "In-Core Computation of Geometric
    Centralities with HyperBall", 2013): the neighborhood function
    N(v, r) = |{u : dist(v, u) <= r}| for every node simultaneously,
    approximated with per-node HyperLogLog registers that merge by MAX
    — THE mergeable-register shape for graph analytics at 100 TB:
    exact BFS keeps per-node visited SETS (quadratic blowup on dense
    balls); HyperBall's state is exactly nodes x 2^p single-byte
    registers per radius, and each round is one edge join + register
    max-merge, the same bit_or/max-merge discipline as
    sketches.hll_registers (whose hash layout and estimator it reuses
    verbatim).

    Returns one row per radius 0..iters, in radius order: (radius,
    n_nodes, total_reach, avg_reach) — the corpus neighborhood function
    (sum / mean of per-node ball-size estimates, 6dp). Per-node
    estimates quantize to 1e6-scaled BIGINT before the cross-node sum
    (order-free); radius 0 is exactly n_nodes by construction (each
    register set sketches {v}). The registers and estimates come from
    _hyperball_estimates.
    """
    from amundsendatabuilder_spark.functions.scalars import round_half_away
    est = _hyperball_estimates(edges, iters, p, src_col, dst_col)
    # one node-less row per radius: an edgeless graph still gets every
    # radius row (n_nodes 0, NULL reach)
    radii = edges.sparkSession.createDataFrame(
        [(r,) for r in range(iters + 1)], "radius int")
    return (est.unionByName(radii, allowMissingColumns=True)
            .groupBy("radius")
            .agg(F.count("node").cast("long").alias("n_nodes"),
                 F.sum("e6").alias("s_e6"))
            .select(
                "radius", "n_nodes",
                round_half_away(F.col("s_e6").cast("double") / 1e6, 6)
                .alias("total_reach"),
                round_half_away(F.col("s_e6").cast("double")
                                / F.col("n_nodes").cast("double") / 1e6, 6)
                .alias("avg_reach"))
            .orderBy("radius"))


def degree_assortativity(edges: DataFrame, src_col: str = "src",
                         dst_col: str = "dst") -> DataFrame:
    """Directed degree assortativity: the Pearson correlation between
    source OUT-degree and target IN-degree over all edges (Newman
    2002) — positive means hubs link to hubs (scale-free cores),
    negative means hubs fan out to leaves (star/lineage shapes); the
    one-number structure summary a catalog reports about its lineage
    graph before choosing traversal strategies.

    Returns one row: (n_edges, assortativity) — 6dp, NULL when either
    endpoint degree is constant.

    Determinism/scale shape: two map-side-combinable degree
    aggregations (node-sized registers) hash-join back onto the edge
    list; the five Pearson sufficient statistics accumulate as
    DECIMAL(38,0) over exact integer degrees with the centered
    subtraction in decimal (numeric_corr_matrix's contract) and one
    closing double sqrt/divide. Domain: n_edges * max_degree^2 < 10^38.
    """
    from amundsendatabuilder_spark.functions.scalars import round_half_away
    out_deg = (edges.groupBy(F.col(src_col).alias("node"))
               .agg(F.count(F.lit(1)).cast("long").alias("outd")))
    in_deg = (edges.groupBy(F.col(dst_col).alias("node"))
              .agg(F.count(F.lit(1)).cast("long").alias("ind")))
    e = (edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d"))
         .join(out_deg.withColumnRenamed("node", "s"), "s")
         .join(in_deg.withColumnRenamed("node", "d"), "d"))
    x = F.col("outd").cast("decimal(19,0)")
    y = F.col("ind").cast("decimal(19,0)")
    s = e.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(F.col("outd").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("ind").cast("decimal(38,0)")).alias("sy"),
        F.sum((x * y).cast("decimal(38,0)")).alias("sxy"),
        F.sum((x * x).cast("decimal(38,0)")).alias("sxx"),
        F.sum((y * y).cast("decimal(38,0)")).alias("syy"))
    cov = (F.col("n") * F.col("sxy")
           - F.col("sx") * F.col("sy")).cast("double")
    vx = (F.col("n") * F.col("sxx")
          - F.col("sx") * F.col("sx")).cast("double")
    vy = (F.col("n") * F.col("syy")
          - F.col("sy") * F.col("sy")).cast("double")
    return s.select(
        F.col("n").cast("long").alias("n_edges"),
        F.when((vx > 0) & (vy > 0),
               round_half_away(cov / F.sqrt(vx * vy), 6))
        .alias("assortativity"))


def hyperball_harmonic(edges: DataFrame, iters: int = 3, p: int = 4,
                       k: int = 10, src_col: str = "src",
                       dst_col: str = "dst") -> DataFrame:
    """Harmonic centrality for every node from HyperBall registers:
    H(v) = sum_r (N(v,r) - N(v,r-1)) / r over radii 1..iters (Boldi &
    Vigna 2013, §3) — the centrality a catalog ranks lineage hubs by
    without ever materializing shortest paths. Returns the top ``k``
    nodes: (node, harmonic_centrality), 6dp, ties broken by node id.
    ``iters`` must be at least 1 (H sums over radii 1..iters).

    Determinism/scale shape: the per-(radius, node) estimates are
    _hyperball_estimates' (the registers hyperball_neighborhood sums);
    the telescoped radius weights are folded to EXACT integer
    coefficients on the 1e6-quantized per-node estimates — for
    iters=3: 6 H = 3 N1 + N2 + 2 N3 - 6 N0 — so the centrality is a
    conditional integer sum per node, one division at the end, and the
    top-k runs as TakeOrderedAndProject on the (rounded value, node)
    key, never a global sort.
    """
    import math
    from amundsendatabuilder_spark.functions.scalars import round_half_away
    if iters < 1:
        raise ValueError(f"hyperball_harmonic needs iters >= 1, got {iters}")
    lcm = math.lcm(*range(1, iters + 1))
    # telescoped coefficient of N_r in lcm * H
    coef = {0: -lcm}
    for r in range(1, iters):
        coef[r] = lcm // r - lcm // (r + 1)
    coef[iters] = lcm // iters
    allr = _hyperball_estimates(edges, iters, p, src_col, dst_col)
    w = F.col("e6") * F.when(
        F.col("radius") == 0, F.lit(coef[0])).otherwise(
        F.coalesce(*[F.when(F.col("radius") == r, F.lit(c))
                     for r, c in coef.items() if r > 0]))
    scored = (allr.groupBy("node")
              .agg(F.sum(w).cast("long").alias("h6")))
    cent = round_half_away(
        F.col("h6").cast("double") / (lcm * 1e6), 6)
    return (scored.select("node", cent.alias("harmonic_centrality"))
            .orderBy(F.col("harmonic_centrality").desc(), "node")
            .limit(k))


def hyperball_effective_diameter(edges: DataFrame, iters: int = 3,
                                 p: int = 4, q: float = 0.9,
                                 src_col: str = "src",
                                 dst_col: str = "dst") -> DataFrame:
    """Effective diameter from the HyperBall neighborhood function:
    the (interpolated) smallest radius r where the summed reach N(r)
    covers a ``q`` fraction of N(R_max) — the one-number answer to
    "how many hops apart is this graph, really" (Boldi-Vigna's
    headline statistic), robust where the true diameter is a
    pathological tail. Reuses hyperball_neighborhood's per-radius
    totals verbatim.

    Returns one row: (n_nodes, max_radius, reach_at_max,
    effective_diameter) — 6dp; the diameter is exact-linear
    interpolation between the bracketing radii on the 1e6-quantized
    reach sums, so both engines replay it bit-for-bit. If even radius
    0 covers q (degenerate edgeless input) the diameter is 0.
    """
    from amundsendatabuilder_spark.functions.scalars import round_half_away
    nf = hyperball_neighborhood(edges, iters=iters, p=p,
                                src_col=src_col, dst_col=dst_col)
    # work on the exact 1e6-scaled totals to keep interpolation replayable
    reg = nf.select("radius", "n_nodes",
                    round_half_away(F.col("total_reach") * 1e6, 0)
                    .cast("long").alias("t6"))
    from pyspark.sql import Window
    w = Window.orderBy("radius")
    mx = reg.agg(F.max("t6").alias("tmax"),
                 F.max("radius").alias("rmax"),
                 F.max("n_nodes").alias("nn_total"))
    j = (reg.withColumn("prev_t6", F.lag("t6").over(w))
         .crossJoin(F.broadcast(mx)))
    # target in the same 1e6 units; threshold row = first radius
    # whose reach crosses q * tmax
    target = F.col("tmax").cast("double") * F.lit(float(q))
    crossed = (j.where(F.col("t6").cast("double") >= target)
               .orderBy("radius").limit(1))
    interp = F.when(
        F.col("radius") == 0, F.lit(0.0)).otherwise(
        (F.col("radius") - 1).cast("double")
        + (target - F.col("prev_t6").cast("double"))
        / (F.col("t6") - F.col("prev_t6")).cast("double"))
    return crossed.select(
        F.col("nn_total").alias("n_nodes"),
        F.col("rmax").alias("max_radius"),
        round_half_away(F.col("tmax").cast("double") / 1e6, 6)
        .alias("reach_at_max"),
        round_half_away(interp, 6).alias("effective_diameter"))


def modularity(edges: DataFrame, labels: DataFrame,
               src_col: str = "src", dst_col: str = "dst",
               node_col: str = "node", label_col: str = "label",
               top_n: int = 10) -> DataFrame:
    """Newman modularity of a community labeling over an undirected
    simple graph — the "are these communities denser than chance"
    score a curation pipeline reads after label propagation (the
    reference stores graph entities and leaves community QUALITY to the
    graph DB; here it is one aggregation pass). Q = Σ_c [e_c/m −
    (d_c/2m)²] computed as ONE exact integer ratio

        Q = Σ_c (4·m·e_c − d_c²) / (4·m²)

    so both engines divide the same DECIMAL(38,0) numerator by the same
    denominator — no float accumulation anywhere (d_c² alone overflows
    BIGINT once a community holds ~2³² half-edges; DECIMAL(38,0) is the
    register discipline every sketch here uses).

    Returns the ``top_n`` communities by size: (community, n_nodes,
    degree_sum, intra_edges, contribution, q_modularity) — contribution
    is the community's own term (9dp), q_modularity the global score
    (same on every row). Scale shape: one distinct pass over edges, two
    (node, long) label joins, then label-keyed map-side-combinable
    sums — shuffle payload never exceeds id/label pairs; the
    per-community register is guarded like every register table.
    ``m`` is counted on the canonicalized edge set BEFORE any label
    join, so an endpoint missing from ``labels`` still contributes its
    edges to the null model while the inner joins exclude them from
    every community's e_c/d_c — unlabeled nodes depress Q rather than
    silently shrinking the graph; pass a total labeling
    (label_propagation emits one) for the standard definition."""
    from pyspark.sql import Window

    from amundsendatabuilder_spark.functions.scalars import round_half_away
    from amundsendatabuilder_spark.operators.profiling import (
        guard_register_domain)
    und = _undirected(edges, src_col, dst_col).localCheckpoint()
    lab_u = labels.select(F.col(node_col).alias("u"),
                          F.col(label_col).alias("cu"))
    lab_v = labels.select(F.col(node_col).alias("v"),
                          F.col(label_col).alias("cv"))
    m = und.agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("m"))
    both = und.join(lab_u, "u").join(lab_v, "v")
    intra = (both.where(F.col("cu") == F.col("cv"))
             .groupBy(F.col("cu").alias("community"))
             .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("e_c")))
    deg = (und.select(F.col("u").alias("n"))
           .unionByName(und.select(F.col("v").alias("n")))
           .join(labels.select(F.col(node_col).alias("n"),
                               F.col(label_col).alias("community")), "n")
           .groupBy("community")
           .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("d_c")))
    nodes_per = (labels.groupBy(F.col(label_col).alias("community"))
                 .agg(F.count(F.lit(1)).alias("n_nodes")))
    per = (deg.join(intra, "community", "left")
           .na.fill({"e_c": 0})
           .join(nodes_per, "community")
           .crossJoin(F.broadcast(m)))
    num = (F.lit(4).cast("decimal(38,0)") * F.col("m") * F.col("e_c")
           - F.col("d_c") * F.col("d_c")).cast("decimal(38,0)")
    den = (F.lit(4).cast("decimal(38,0)") * F.col("m") * F.col("m")
           ).cast("double")
    per = per.select(
        "community", "n_nodes",
        F.col("d_c").cast("long").alias("degree_sum"),
        F.col("e_c").cast("long").alias("intra_edges"),
        num.alias("_num"), den.alias("_den")).localCheckpoint()
    tot = per.agg(
        F.sum("_num").cast("decimal(38,0)").alias("_tnum"),
        F.min("_den").alias("_tden"),
        F.count(F.lit(1)).alias("_ncomm"))
    q = (per.crossJoin(F.broadcast(tot))
         .select("community",
                 guard_register_domain(
                     F.col("n_nodes"), F.col("_ncomm"),
                     "modularity community register").alias("n_nodes"),
                 "degree_sum", "intra_edges",
                 round_half_away(
                     F.col("_num").cast("double") / F.col("_den"), 9)
                 .alias("contribution"),
                 round_half_away(
                     F.col("_tnum").cast("double") / F.col("_tden"), 9)
                 .alias("q_modularity")))
    # top-n as a distributed TakeOrderedAndProject (the vocab_topk
    # discipline) — identical rows to a rank window (the total order is
    # unique per community) without a single-task sort over the
    # register; the register guard above still bounds the worst case
    return q.orderBy(F.col("n_nodes").desc(), F.col("community").asc()) \
            .limit(top_n)
