"""Connected components over an edge list — iterative min-label
propagation (the clustering step of near-dup deduplication: LSH/Jaccard
pairs -> duplicate *groups* -> one canonical doc per group).

Algorithm: every node starts labeled with itself; each round takes the
min label across neighbors; converges in O(graph diameter) rounds.
Near-dup graphs are unions of small dense cliques, so the diameter — and
the round count — is tiny regardless of corpus size.

Scale notes (100 TB posture):
- each round is ONE shuffled join + ONE aggregation on the edge list —
  no per-node driver loops; the edge list never leaves executors;
- ``localCheckpoint`` truncates lineage each round (iterative plans
  otherwise grow exponentially and overwhelm the optimizer); on a real
  cluster prefer ``checkpoint()`` with a reliable checkpoint dir so
  recomputation-on-failure doesn't cascade;
- the convergence check piggybacks on the same pass (max label change),
  costing one scalar aggregate per round;
- for pathological diameters (chains), switch to the large-star/
  small-star variant — same primitives, O(log n) rounds.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def _persistent_rdd_ids(spark) -> set:
    """Ids of all currently persisted RDDs (includes localCheckpoint
    blocks, which Spark exposes no public unpersist handle for)."""
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    ids = set()
    while it.hasNext():
        ids.add(it.next()._1())
    return ids


def _unpersist_rdds(spark, ids) -> None:
    """Drop the checkpoint blocks behind ``ids`` (non-blocking)."""
    if not ids:
        return
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    while it.hasNext():
        kv = it.next()
        if kv._1() in ids:
            kv._2().unpersist(False)


def _eager_checkpoint(df: DataFrame):
    """``localCheckpoint(eager=True)`` plus the ids of the blocks it
    pinned, so iterative callers can free superseded rounds' checkpoints.
    Without this, a long-lived session accumulates O(rounds) stale
    blocks per call (the round-2 suite-order pytest red). Id tracking is
    a before/after diff, so concurrent persists from other threads would
    be misattributed — fine for per-query iterative use."""
    spark = df.sparkSession
    before = _persistent_rdd_ids(spark)
    out = df.localCheckpoint(eager=True)
    return out, _persistent_rdd_ids(spark) - before


def connected_components(edges: DataFrame, src: str = "src",
                         dst: str = "dst",
                         max_rounds: int = 25) -> DataFrame:
    """(node, component) for every node in ``edges``; component = min
    node id in its connected component. Raises if not converged within
    ``max_rounds`` (deterministic output matters more than best-effort).

    Superseded rounds' checkpoint blocks are unpersisted as soon as the
    next round materializes; the returned DataFrame keeps exactly ONE
    pinned checkpoint (its own data), so a long-lived session leaks
    O(1), not O(rounds), per call."""
    spark = edges.sparkSession
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = e.unionByName(e.select(F.col("b").alias("a"),
                                 F.col("a").alias("b")))
    sym, sym_ids = _eager_checkpoint(sym)

    # Round 14 (guide §1.2 "remove passes"): FUSED INIT — the node-list
    # distinct is replaced by one groupBy that already applies the first
    # propagation step, label0 = min(node, min neighbor). Same shuffle
    # as the old distinct, one whole round saved: a dense near-dup
    # clique converges at init and the loop only confirms (n_changed=0)
    # — 3 materializations total where the old init+2-rounds took 4.
    labels, labels_ids = _eager_checkpoint(
        sym.groupBy("a").agg(F.least(F.col("a"), F.min("b")).alias("label"))
        .select(F.col("a").alias("node"), "label"))

    from pyspark.sql import Observation

    for _ in range(max_rounds):
        # Round 14 (guide §2.4): ONE-JOIN round. min over (own label
        # UNION neighbors' labels) == least(own, min neighbor labels),
        # so the old shape's second join (labels LEFT JOIN neighbor_min)
        # collapses into the aggregation itself: the self branch rides
        # the union and doubles as the old-label carrier for the
        # convergence count. One join + one groupBy per round (was
        # join + groupBy + join), one exchange fewer.
        prop = (sym.join(labels, sym.b == labels.node)
                .select(sym.a.alias("n"), "label",
                        F.lit(False).alias("own"))
                .unionByName(labels.select(F.col("node").alias("n"),
                                           "label",
                                           F.lit(True).alias("own"))))
        new_labels = (prop.groupBy("n")
                      .agg(F.min("label").alias("label"),
                           F.min(F.when(F.col("own"), F.col("label")))
                           .alias("__old"))
                      .select(F.col("n").alias("node"), "label",
                              (F.col("label") != F.col("__old"))
                              .alias("changed")))
        # Round 13 (guide §1.2 "don't compute things twice"): the
        # convergence count rides the checkpoint materialization as an
        # Observation metric — ONE job per round where a separate
        # .filter("changed").count() was a second job over the
        # checkpointed data every round (verified: localCheckpoint
        # (eager=True) fires CollectMetrics; coalesce because sum over
        # an empty label frame is NULL where count() was 0).
        obs = Observation()
        new_labels, new_ids = _eager_checkpoint(
            new_labels.observe(
                obs, F.coalesce(
                    F.sum(F.when(F.col("changed"), 1).otherwise(0)),
                    F.lit(0)).cast("long").alias("n_changed")))
        n_changed = obs.get["n_changed"]
        _unpersist_rdds(spark, labels_ids)  # superseded by new_labels
        labels, labels_ids = new_labels.drop("changed"), new_ids
        if n_changed == 0:
            _unpersist_rdds(spark, sym_ids)
            return labels.select("node", F.col("label").alias("component"))
    _unpersist_rdds(spark, sym_ids | labels_ids)
    raise RuntimeError(
        f"connected_components did not converge in {max_rounds} rounds — "
        "graph diameter too large; use the large-star/small-star variant")


def connected_components_star(edges: DataFrame, src: str = "src",
                              dst: str = "dst",
                              max_rounds: int = 40) -> DataFrame:
    """(node, component) via alternating large-star / small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    O(log n) rounds regardless of graph diameter, vs O(diameter) for
    :func:`connected_components`. Use this for chain-like graphs; the
    simple propagation wins on the small dense cliques of near-dup data.

    Each round is two groupBy(min)+join passes over the edge list — no
    collect_list, so hub nodes cost a shuffle skew (AQE-splittable), not
    executor memory.
    """
    spark = edges.sparkSession
    # orient every edge both ways; drop self-loops
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    e, e_ids = _eager_checkpoint(
        e.unionByName(e.select(F.col("v").alias("u"),
                               F.col("u").alias("v")))
        .filter(F.col("u") != F.col("v")).distinct())

    for _ in range(max_rounds):
        # large-star: m(u) = min(u, min neighbors); for v > u: (v, m)
        mins = e.groupBy("u").agg(F.min("v").alias("mv"))
        m = mins.select("u", F.least("u", "mv").alias("m"))
        ls = (e.join(m, "u").filter(F.col("v") > F.col("u"))
              .select(F.col("v").alias("u"), F.col("m").alias("v")))
        # small-star over edges oriented to the smaller endpoint:
        # for u with neighbors v <= u: m = min(neighbors); emit (v, m), (u, m)
        oriented = e.filter(F.col("v") < F.col("u"))
        smins = oriented.groupBy("u").agg(F.min("v").alias("m"))
        ss = (oriented.join(smins, "u")
              .select(F.col("v").alias("u"), F.col("m").alias("v"))
              .unionByName(smins.select("u", F.col("m").alias("v"))))
        new_e = (ls.unionByName(ss)
                 .filter(F.col("u") != F.col("v")).distinct())
        new_sym, new_ids = _eager_checkpoint(
            new_e.unionByName(
                new_e.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .distinct())
        # converged when the canonical (undirected) edge set is stable
        # (check against the OLD e before freeing its checkpoint blocks)
        converged = (new_sym.exceptAll(e).limit(1).count() == 0
                     and e.exceptAll(new_sym).limit(1).count() == 0)
        _unpersist_rdds(spark, e_ids)  # superseded by new_sym
        e, e_ids = new_sym, new_ids
        if converged:
            break
    else:
        _unpersist_rdds(spark, e_ids)
        raise RuntimeError(
            f"star components did not converge in {max_rounds} rounds")

    # at fixpoint every node is directly connected to its component min
    labels = (e.groupBy("u").agg(F.min("v").alias("mv"))
              .select(F.col("u").alias("node"),
                      F.least("u", "mv").alias("component")))
    return labels


def dedup_clusters(docs: DataFrame, pairs: DataFrame,
                   id_col: str = "doc_id") -> DataFrame:
    """Assign every document a cluster id: its component's min doc id for
    near-dup members, itself for singletons. ``min(cluster)`` doubles as
    the canonical-document choice (keep-lowest-id policy)."""
    comp = connected_components(pairs, src="id_a", dst="id_b")
    return (docs.select(id_col)
            .join(comp, docs[id_col] == comp.node, "left")
            .select(F.col(id_col),
                    F.coalesce("component", F.col(id_col))
                    .alias("cluster_id")))


def triangle_count(edges: DataFrame, src: str = "src",
                   dst: str = "dst") -> DataFrame:
    """Global triangle count of an undirected graph — 1-row (n_triangles).

    Canonicalizes to a < b and counts each triangle once (a < b < c)
    via adjacency-list intersection: each vertex's HIGHER-id neighbour
    list N+(v) is built once (one groupBy), and for every edge (a, b)
    the triangle closers are |N+(a) n N+(b)| — every common neighbour
    c is > b > a, so triangle (a,b,c) is counted exactly at its lowest
    edge and nowhere else (c < b never appears in N+(b); b < c edges
    (a,c),(b,c) contribute nothing). Round 13 (guide §2.3/§2.4): the
    previous ordered two-path + closing-edge join MATERIALIZED AND
    SHUFFLED every two-path — 49.3M rows for the 1.2M-edge sf0.1
    co-occurrence graph — where the intersection form shuffles only
    the edge list itself plus one adjacency relation keyed twice
    (measured 5.4 s -> 1.2 s, identical count). Skew note: hub
    vertices now concentrate into one adjacency ARRAY instead of
    blowing up the join — at 100 TB degree-cap or sample hubs first
    (the standard Cohen-style mitigation) exactly as before; the
    array form additionally bounds the per-hub cost to O(deg) rows
    ONCE rather than O(deg^2) join rows."""
    a, b = F.col(src), F.col(dst)
    e = (edges.select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
         .filter(F.col("a") < F.col("b")).distinct())
    adj = e.groupBy("a").agg(F.collect_list("b").alias("nbrs"))
    na = adj.select(F.col("a").alias("x"), F.col("nbrs").alias("__na"))
    nb = adj.select(F.col("a").alias("y"), F.col("nbrs").alias("__nb"))
    closers = (e.select(F.col("a").alias("x"), F.col("b").alias("y"))
               .join(na, "x").join(nb, "y")
               .select(F.size(F.array_intersect("__na", "__nb"))
                       .alias("__c")))
    # sum() is NULL on zero rows where the old count(*) was 0 — an
    # edgeless (or closer-less) graph must still report 0 triangles.
    return closers.agg(
        F.coalesce(F.sum("__c").cast("long"), F.lit(0).cast("long"))
        .alias("n_triangles"))


def bfs_levels(edges: DataFrame, sources: DataFrame, iterations: int,
               src: str = "src", dst: str = "dst",
               node: str = "node") -> DataFrame:
    """Multi-source BFS distance, fixed ``iterations`` rounds: (node,
    dist) for every node within `iterations` hops of any source —
    exactly the frontier-expansion levels, all-integer so an unrolled
    SQL CTE reproduces it bit-for-bit (same exact-check pattern as
    :func:`pagerank`).

    ``sources`` is a one-column DataFrame of seed node ids (dist 0).
    Each round is one join of the edge list against the current distance
    vector + one min-groupBy — O(E) per round, no driver loops; fixed
    rounds (not to-convergence) keeps the plan finite and the oracle
    expressible.

    The result is one pure lazy plan (oracle-comparable, no pinned
    state); the unrolled tree re-derives ``edges`` once per round per
    union branch (the registered demo's plan audit shows 16 scans for 2
    rounds)."""
    dist = sources.select(F.col(sources.columns[0]).alias(node),
                          F.lit(0).cast("long").alias("dist"))
    for _ in range(iterations):
        hop = (edges.join(dist, F.col(src) == F.col(node))
               .select(F.col(dst).alias(node),
                       (F.col("dist") + F.lit(1)).alias("dist")))
        dist = (dist.unionByName(hop)
                .groupBy(node).agg(F.min("dist").alias("dist")))
    return dist


def pagerank(edges: DataFrame, iterations: int = 3, damping: float = 0.85,
             src: str = "src", dst: str = "dst") -> DataFrame:
    """Fixed-iteration PageRank (power iteration), rank mass scaled so the
    initial rank is 1.0 per node. Returns (node, rank).

    `edges` is the DIRECTED edge list; pass both directions for
    undirected semantics. Every node must have out-degree >= 1 (true by
    construction for symmetrized graphs) — dangling-mass redistribution
    is deliberately out of contract so each iteration stays a single
    join + aggregation.

    Determinism: the per-node contribution sum uses the engine's exact
    quantized dsum (functions/numeric.py), so each iteration's ranks are
    bit-identical regardless of shuffle order — and an unrolled-CTE SQL
    oracle reproduces the whole recurrence exactly. Scale shape: each
    iteration is one join of the edge list against the current rank
    vector (both partitioned by src) + one groupBy(dst) shuffle; rank
    state is 2 columns per node, never collected to the driver. For
    10+ iterations at 100 TB, localCheckpoint the rank vector every few
    rounds like connected_components to cap lineage depth."""
    from data_services_spark.functions.numeric import dsum_expr
    deg = edges.groupBy(src).agg(F.count(F.lit(1)).alias("__deg"))
    ranks = deg.select(F.col(src).alias("node"), F.lit(1.0).alias("rank"))
    for _ in range(iterations):
        contrib = (edges.join(deg, src)
                   .join(ranks, F.col(src) == F.col("node"))
                   .select(F.col(dst).alias("__dst"),
                           (F.col("rank") / F.col("__deg")).alias("__c")))
        ranks = (contrib.groupBy("__dst")
                 .agg((F.lit(1.0 - damping)
                       + F.lit(damping) * dsum_expr(F.col("__c")))
                      .alias("rank"))
                 .select(F.col("__dst").alias("node"), "rank"))
    return ranks
