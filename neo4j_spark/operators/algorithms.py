"""Iterative graph algorithms as Pregel-style DataFrame loops.

Parity targets from the reference's graph-algo module
(``community/graph-algo/src/main/java/org/neo4j/graphalgo/impl/``):
Dijkstra.java / ShortestPath.java (weighted/unweighted SSSP),
plus the standard analytics the north star mandates (PageRank,
connected components).

Design for scale (SURVEY §4.2 "iterative operators"):
- each iteration is a hash join on node ids + a map-side-combinable
  aggregation — the same shuffle key every round, so AQE reuses the
  partitioning;
- ``localCheckpoint`` per iteration truncates the lineage (otherwise the
  plan doubles every round and the driver OOMs planning iteration 20);
- convergence checks are capped counts, frontier-only relaxation keeps
  per-round work proportional to the changing set (delta iteration), not
  the full graph;
- the physical plan follows the real input size, as Pregelix (VLDB 2014)
  picks each iteration's plan from its active set: an edge list whose
  driver-side labelling fits the broadcast bound
  (``spark.sql.autoBroadcastJoinThreshold``) gets its connected
  components on the driver, shipped as a broadcast label table, and only
  a larger edge list pays the distributed round structure.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F

from ..session import local_frame

# Driver memory ``_driver_components`` may spend per collected edge, in
# bytes: the collected batches (16), their Arrow copies (32), the numpy
# id, index and root arrays (96 when every edge brings two new ids) and
# the collect's own overhead, measured at 147 and rounded up.
# ``test_driver_plan_memory_per_edge`` pins it.
DRIVER_EDGE_BYTES = 160


def undirected_edges(rels: DataFrame) -> DataFrame:
    fwd = rels.select("src", "dst")
    rev = rels.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return fwd.unionByName(rev).dropDuplicates()


def components_cap(spark) -> int:
    """Most edges ``connected_components`` labels on the driver: the
    session's parsed ``autoBroadcastJoinThreshold`` over
    ``DRIVER_EDGE_BYTES`` (0 when the threshold is <= 0)."""
    threshold = (spark._jsparkSession.sessionState().conf()
                 .autoBroadcastJoinThreshold())
    return max(threshold, 0) // DRIVER_EDGE_BYTES


def connected_components(nodes: Optional[DataFrame], rels: DataFrame,
                         max_iter: int = 25) -> DataFrame:
    """Connected components of the undirected graph ``rels`` (src, dst).
    Returns (id, comp) for every id of ``nodes`` — or, with ``nodes``
    None, for every endpoint of ``rels`` — where comp is the smallest id
    in the component (a null id keeps a null comp).

    The plan is chosen from the size of the edge list (Pregelix's
    size-chosen iteration plans).  The edges are cached and read once
    through Arrow, at most ``components_cap`` + 1 of them.  A list within
    the cap is labelled on the driver (``_driver_components``) and the
    labels are broadcast-joined to ``nodes``: a handful of Spark jobs
    instead of two checkpointed shuffle rounds per iteration, which
    dominated the dedup tail (24 to 35 jobs for about 100 pairs).  The
    cap keeps that path inside ``autoBroadcastJoinThreshold``, the driver
    memory a session already grants a broadcast table: the driver spends
    at most the threshold on it (``DRIVER_EDGE_BYTES`` per edge), and the
    label table, at most two (id, comp) rows per edge, fits it too.
    Measured on TPC-H key graphs, the driver plan was faster than star
    contraction at every size up to 600k edges, so the cap bounds memory,
    not time.  Above it, or with the threshold <= 0,
    ``_star_contraction`` runs on the cached edges, so the probe costs no
    second evaluation of ``rels``."""
    cap = components_cap(rels.sparkSession)
    edges = rels.select("src", "dst").persist()
    try:
        if cap > 0:
            probe = edges.limit(cap + 1).toArrow()
            if probe.num_rows <= cap:
                return _driver_components(nodes, probe, edges)
        if nodes is None:
            nodes = (edges.select(F.col("src").alias("id"))
                     .union(edges.select("dst")).dropDuplicates()
                     .localCheckpoint(eager=True))
        return _star_contraction(nodes, edges, max_iter)
    finally:
        edges.unpersist()


def _driver_components(nodes: Optional[DataFrame], pairs: pa.Table,
                       edges: DataFrame) -> DataFrame:
    """Label the collected ``pairs`` on the driver and broadcast-join the
    labels to ``nodes`` (or return them, with ``nodes`` None)."""
    # an Arrow-built LocalRelation, as ``session.local_frame`` builds
    labels = edges.sparkSession.createDataFrame(
        _min_labels(pairs), edges.toDF("id", "comp").schema)
    if nodes is None:
        return labels
    return (nodes.select("id").join(F.broadcast(labels), "id", "left")
            .select("id", F.coalesce("comp", "id").alias("comp")))


def _min_labels(pairs: pa.Table) -> pa.Table:
    """(id, comp) for every endpoint of the (src, dst) ``pairs``, comp
    being the smallest id of its component: union-find in numpy arrays.
    The ids are sorted, so a root that is always hooked to the smaller of
    an edge's two roots ends as its component's smallest id.  Every round
    hooks, then jumps pointers until each id points at a root, and stops
    when no edge spans two roots.
    Duplicate, reversed and self pairs are harmless; a null endpoint links
    nothing and labels itself null."""
    src, dst = (pairs.column(c).combine_chunks() for c in ("src", "dst"))
    ids = np.unique(pa.concat_arrays([src.drop_null(), dst.drop_null()])
                    .to_numpy(zero_copy_only=False))
    linked = pc.and_(src.is_valid(), dst.is_valid())
    a, b = (np.searchsorted(ids, pc.filter(c, linked)
                            .to_numpy(zero_copy_only=False))
            for c in (src, dst))
    root = np.arange(len(ids))
    while True:
        ra, rb = root[a], root[b]
        if (ra == rb).all():
            break
        low = np.minimum(ra, rb)
        np.minimum.at(root, ra, low)
        np.minimum.at(root, rb, low)
        del ra, rb, low
        while True:
            up = root[root]
            if (up == root).all():
                break
            root = up
    cols = [pa.array(ids, type=src.type), pa.array(ids[root], type=src.type)]
    if src.null_count or dst.null_count:
        cols = [pa.concat_arrays([c, pa.nulls(1, src.type)]) for c in cols]
    return pa.table(cols, names=["id", "comp"])


def _star_contraction(nodes: DataFrame, rels: DataFrame,
                      max_iter: int) -> DataFrame:
    """Alternating large-star/small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14).

    Label propagation needs O(graph diameter) rounds — a 100 TB chain
    graph never finishes; star contraction converges in O(log^2 n) rounds
    regardless of diameter.  Each half-round is one groupBy (min neighbor)
    plus one join back on the grouping key, so AQE reuses the hash
    partitioning across rounds.  Returns (id, comp) where comp = smallest
    node id in the component."""
    edges = (rels.select("src", "dst")
             .filter(F.col("src") != F.col("dst"))
             .select(F.greatest("src", "dst").alias("src"),
                     F.least("src", "dst").alias("dst"))
             .dropDuplicates()
             .localCheckpoint(eager=True))
    for _ in range(max_iter):
        # large-star: every neighbor larger than u links to u's min nbr
        sym = edges.unionByName(edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst")))
        mins = sym.groupBy("src").agg(F.min("dst").alias("__mn")) \
                  .select("src", F.least("__mn", "src").alias("m"))
        large = (sym.join(mins, "src")
                 .filter(F.col("dst") > F.col("src"))
                 .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
                 .unionByName(mins.select("src", F.col("m").alias("dst")))
                 .filter(F.col("src") != F.col("dst"))
                 .dropDuplicates())
        # small-star: orient (big, small); all smaller nbrs + u link to min
        ordered = large.select(F.greatest("src", "dst").alias("src"),
                               F.least("src", "dst").alias("dst")) \
                       .dropDuplicates()
        mins2 = ordered.groupBy("src").agg(F.min("dst").alias("m"))
        small = (ordered.join(mins2, "src")
                 .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
                 .unionByName(mins2.select("src", F.col("m").alias("dst")))
                 .filter(F.col("src") != F.col("dst"))
                 .dropDuplicates()
                 .select(F.greatest("src", "dst").alias("src"),
                         F.least("src", "dst").alias("dst"))
                 .dropDuplicates()
                 .localCheckpoint(eager=True))
        changed = small.exceptAll(edges).limit(1).count()
        edges = small
        if changed == 0:
            break
    parent = edges.groupBy("src").agg(F.min("dst").alias("comp")) \
                  .withColumnRenamed("src", "id")
    return (nodes.select("id").join(parent, "id", "left")
            .select("id", F.coalesce("comp", "id").alias("comp")))


def pagerank(nodes: DataFrame, rels: DataFrame, iterations: int = 10,
             damping: float = 0.85) -> DataFrame:
    """Classic PageRank with dangling-mass redistribution, fixed-iteration
    (deterministic).  Returns (id, rank); ranks sum to ~1."""
    n = nodes.count()
    edges = rels.select("src", "dst")
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ranks = nodes.select("id", F.lit(1.0 / n).alias("rank")) \
                 .localCheckpoint(eager=True)
    for _ in range(iterations):
        # dangling mass folded in as a 1-row broadcast crossJoin — the
        # whole iteration is ONE job (no extra driver action per round)
        dangling = (ranks.join(outdeg, ranks["id"] == outdeg["src"],
                               "left_anti")
                    .agg(F.coalesce(F.sum("rank"), F.lit(0.0))
                         .alias("__dm")))
        contribs = (edges.join(outdeg, "src")
                    .join(ranks, edges["src"] == ranks["id"])
                    .select(F.col("dst").alias("id"),
                            (F.col("rank") / F.col("outdeg")).alias("c")))
        sums = contribs.groupBy("id").agg(F.sum("c").alias("s"))
        ranks = (nodes.select("id").join(sums, "id", "left")
                 .crossJoin(F.broadcast(dangling))
                 .select("id",
                         (F.lit((1.0 - damping) / n) + F.lit(damping)
                          * (F.coalesce(F.col("s"), F.lit(0.0))
                             + F.col("__dm") / n)).alias("rank"))
                 .localCheckpoint(eager=True))
    return ranks


def sssp(rels: DataFrame, sources: DataFrame,
         weight_col: Optional[str] = None, directed: bool = True,
         max_iter: int = 30, per_source: bool = False) -> DataFrame:
    """Single/multi-source shortest path lengths (Dijkstra.java parity,
    rendered as delta-iteration Bellman-Ford: only improved nodes join the
    next round's frontier).

    ``sources``: frame with column id.  Returns (id, dist) — the minimum
    over all sources — or, with ``per_source``, (source, id, dist): ONE
    relaxation loop over (source x node) keys instead of a per-source
    driver loop (the set-oriented rendering of a correlated
    ``CALL algo.shortestPathLengths(n.id)``)."""
    if weight_col:
        edges = rels.select("src", "dst",
                            F.col(weight_col).cast("double").alias("w"))
    else:
        edges = rels.select("src", "dst", F.lit(1.0).alias("w"))
    if not directed:
        edges = edges.unionByName(
            rels.select(F.col("dst").alias("src"), F.col("src").alias("dst"),
                        (F.col(weight_col).cast("double") if weight_col
                         else F.lit(1.0)).alias("w")))
    if weight_col:
        # an edge without the weight property is not traversable (it would
        # otherwise propagate null distances through the relaxation)
        edges = edges.filter(F.col("w").isNotNull())
    keys = ["source", "id"] if per_source else ["id"]
    if per_source:
        seed = sources.select(F.col("id").alias("source"),
                              F.col("id"), F.lit(0.0).alias("dist"))
    else:
        seed = sources.select("id", F.lit(0.0).alias("dist"))
    dist = seed.localCheckpoint(eager=True)
    frontier = dist
    for _ in range(max_iter):
        cand = (frontier.join(edges, frontier["id"] == edges["src"])
                .select(*[F.col(k) for k in keys if k != "id"],
                        F.col("dst").alias("id"),
                        (F.col("dist") + F.col("w")).alias("dist"))
                .groupBy(*keys).agg(F.min("dist").alias("dist")))
        improved = (cand.alias("c")
                    .join(dist.alias("d"), keys, "left")
                    .filter(F.col("d.dist").isNull()
                            | (F.col("c.dist") < F.col("d.dist")))
                    .select(*keys, F.col("c.dist").alias("dist"))
                    .localCheckpoint(eager=True))
        if improved.isEmpty():
            break
        dist = (dist.unionByName(improved)
                .groupBy(*keys).agg(F.min("dist").alias("dist"))
                .localCheckpoint(eager=True))
        frontier = improved
    return dist


def degree_centrality(nodes: DataFrame, rels: DataFrame) -> DataFrame:
    """(id, out_degree, in_degree, degree) for every node.

    One shuffle per direction (map-side-combined counts on src / dst),
    left-joined onto the node set — nodes with no incident edges report 0
    (Node.getDegree semantics, graphdb-api/Node.java:236-263)."""
    outd = rels.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("out_degree"))
    ind = rels.groupBy(F.col("dst").alias("id")).agg(
        F.count(F.lit(1)).alias("in_degree"))
    return (nodes.select("id")
            .join(outd, "id", "left").join(ind, "id", "left")
            .select(
                "id",
                F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
                F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
                (F.coalesce("out_degree", F.lit(0))
                 + F.coalesce("in_degree", F.lit(0))).alias("degree")))


def triangle_count(rels: DataFrame) -> DataFrame:
    """Per-node triangle participation count over the undirected simple
    graph (self-loops and parallel edges collapsed).

    Standard two-join formulation with the lexicographic-ordering trick:
    each triangle {a<b<c} is materialized exactly once as wedge a-b, b-c
    closed by edge a-c, then credited to all three corners.  Both joins
    shuffle on a node id — the natural partitioning — and the ordered edge
    list halves the join input."""
    und = undirected_edges(rels).filter(F.col("src") != F.col("dst"))
    e = und.filter(F.col("src") < F.col("dst"))  # each edge once, ordered
    ab = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    bc = e.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    wedges = ab.join(bc, "b")
    closing = e.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tri = wedges.join(closing, ["a", "c"])  # a<b<c triangles, once each
    per_node = (tri.select(F.col("a").alias("id"))
                .unionAll(tri.select(F.col("b").alias("id")))
                .unionAll(tri.select(F.col("c").alias("id"))))
    return per_node.groupBy("id").agg(
        F.count(F.lit(1)).alias("triangles"))


def all_pairs_shortest(rels: DataFrame, weight_col: Optional[str] = None,
                       max_hops: int = 16,
                       directed: bool = True) -> DataFrame:
    """All-pairs shortest path distances by min-plus repeated squaring —
    the Spark-first rendering of FloydWarshall.java (reference:
    ``community/graph-algo/.../impl/shortestpath/FloydWarshall.java``).

    FW's in-place O(V^3) triple loop assumes a mutable adjacency matrix
    in one memory space; on a cluster the same closure is computed as
    log2(max_hops) rounds of ``dist ⊗ dist`` (join on the middle node +
    min-combine), each round a plain shuffle join that doubles the path
    length covered.  Returns (src, dst, dist).  Intended for bounded
    subgraphs (APSP output is O(V^2) rows at any engine)."""
    w = (F.col(weight_col).cast("double") if weight_col
         else F.lit(1.0))
    base = rels.select("src", "dst", w.alias("dist"))
    if not directed:
        base = base.unionByName(
            rels.select(F.col("dst").alias("src"),
                        F.col("src").alias("dst"), w.alias("dist")))
    dist = base.groupBy("src", "dst").agg(F.min("dist").alias("dist")) \
               .localCheckpoint(eager=True)
    hops = 1
    while hops < max_hops:
        left = dist.select(F.col("src"), F.col("dst").alias("mid"),
                           F.col("dist").alias("d1"))
        right = dist.select(F.col("src").alias("mid"), F.col("dst"),
                            F.col("dist").alias("d2"))
        two = left.join(right, "mid").select(
            "src", "dst", (F.col("d1") + F.col("d2")).alias("dist"))
        new = (dist.unionByName(two)
               .groupBy("src", "dst").agg(F.min("dist").alias("dist"))
               .localCheckpoint(eager=True))
        changed = (new.alias("n")
                   .join(dist.alias("o"), ["src", "dst"], "left")
                   .filter(F.col("o.dist").isNull()
                           | (F.col("n.dist") < F.col("o.dist")))
                   .limit(1).count())
        dist = new
        hops *= 2
        if changed == 0:
            break  # fixpoint: min-plus closure reached
    return dist.filter(F.col("src") != F.col("dst"))


def astar(rels: DataFrame, nodes: DataFrame, source_id: int, target_id: int,
          weight_col: Optional[str] = None,
          x_col: Optional[str] = None, y_col: Optional[str] = None,
          directed: bool = True, max_iter: int = 30, geo: bool = False):
    """Point-to-point shortest path length with admissible-heuristic
    pruning (AStar.java parity, ``community/graph-algo/.../path/AStar.java``).

    A*'s priority queue has no BSP equivalent; its effect — never expand a
    node whose f = g + h exceeds the best known route — is reproduced per
    round: the frontier drops entries with g + h(n) >= best_target_g.
    h(n) = straight-line distance to the target from (x_col, y_col), the
    admissible heuristic the reference uses (EstimateEvaluator); without
    coordinates h = 0 and this is target-pruned Dijkstra.  Returns the
    scalar distance (None when unreachable)."""
    if weight_col:
        edges = rels.select("src", "dst",
                            F.col(weight_col).cast("double").alias("w"))
    else:
        edges = rels.select("src", "dst", F.lit(1.0).alias("w"))
    if not directed:
        edges = edges.unionByName(
            edges.select(F.col("dst").alias("src"),
                         F.col("src").alias("dst"), "w"))
    edges = edges.filter(F.col("w").isNotNull())

    if x_col and y_col:
        trow = nodes.filter(F.col("id") == target_id) \
                    .select(x_col, y_col).head()
        tx, ty = (trow[0], trow[1]) if trow else (None, None)
        if geo:
            # GeoEstimateEvaluator.distance (graph-algo/.../util/
            # GeoEstimateEvaluator.java): CHORD distance through the
            # Earth — 3D Euclidean between surface points at
            # R = 6371 km; x_col = latitude, y_col = longitude, meters
            R = 6371.0 * 1000

            def xyz(lat, lon):
                la, lo = F.radians(lat), F.radians(lon)
                return (F.lit(R) * F.cos(la) * F.cos(lo),
                        F.lit(R) * F.cos(la) * F.sin(lo),
                        F.lit(R) * F.sin(la))

            xa, ya, za = xyz(F.col(x_col), F.col(y_col))
            xb, yb, zb = xyz(F.lit(tx), F.lit(ty))
            h = nodes.select(
                "id", F.sqrt(F.pow(xa - xb, 2) + F.pow(ya - yb, 2)
                             + F.pow(za - zb, 2)).alias("h"))
        else:
            h = nodes.select(
                "id",
                (F.sqrt(F.pow(F.col(x_col) - F.lit(tx), 2)
                        + F.pow(F.col(y_col) - F.lit(ty), 2))).alias("h"))
    else:
        h = nodes.select("id", F.lit(0.0).alias("h"))

    spark = rels.sparkSession
    dist = local_frame(spark, [(source_id, 0.0)], "id long, dist double")
    frontier = dist
    for _ in range(max_iter):
        # prune: g + h >= best known g(target) cannot improve the route
        # (h admissible).  The bound is a broadcast 1-row aggregate over
        # the checkpointed dist table — it folds into the frontier job
        # (PageRank's dangling-mass pattern) instead of a driver .head()
        # per iteration; the only per-iteration action is the emptiness
        # check.
        bound = dist.filter(F.col("id") == target_id) \
                    .agg(F.min("dist").alias("__bound"))
        frontier = (frontier.join(h, "id", "left")
                    .crossJoin(F.broadcast(bound))
                    .filter(F.col("dist")
                            + F.coalesce(F.col("h"), F.lit(0.0))
                            < F.coalesce(F.col("__bound"),
                                         F.lit(float("inf"))))
                    .select("id", "dist"))
        cand = (frontier.join(edges, frontier["id"] == edges["src"])
                .select(F.col("dst").alias("id"),
                        (F.col("dist") + F.col("w")).alias("dist"))
                .groupBy("id").agg(F.min("dist").alias("dist")))
        improved = (cand.alias("c")
                    .join(dist.alias("d"), "id", "left")
                    .filter(F.col("d.dist").isNull()
                            | (F.col("c.dist") < F.col("d.dist")))
                    .select("id", F.col("c.dist").alias("dist"))
                    .localCheckpoint(eager=True))
        if improved.isEmpty():
            break
        dist = (dist.unionByName(improved)
                .groupBy("id").agg(F.min("dist").alias("dist"))
                .localCheckpoint(eager=True))
        frontier = improved
    row = dist.filter(F.col("id") == target_id).head()
    return None if row is None else row["dist"]


def node_similarity(rels: DataFrame, min_similarity: float = 0.0
                    ) -> DataFrame:
    """Jaccard similarity of out-neighbor sets for node pairs sharing at
    least one neighbor (the neighborhood-similarity algorithm of graph
    analytics suites; candidate pairs come from co-occurrence, never the
    full n^2).

    Shuffle profile: the wedge self-join shuffles on the shared neighbor
    id; intersection counts combine map-side on (a, b); degree joins key
    on the node id.  Hub neighbors (high in-degree) are the skew risk at
    scale — AQE skew-join splits them, and a degree-cap pre-filter is the
    documented mitigation.  Returns (a, b, intersection, similarity) with
    a < b, one row per qualifying pair."""
    e = rels.select("src", "dst").dropDuplicates()
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    wedges = (e.select(F.col("src").alias("a"), "dst")
              .join(e.select(F.col("src").alias("b"), "dst"), "dst")
              .filter(F.col("a") < F.col("b")))
    inter = wedges.groupBy("a", "b").agg(
        F.count(F.lit(1)).alias("intersection"))
    out = (inter
           .join(deg.select(F.col("src").alias("a"),
                            F.col("deg").alias("__da")), "a")
           .join(deg.select(F.col("src").alias("b"),
                            F.col("deg").alias("__db")), "b")
           .withColumn(
               "similarity",
               F.round(F.col("intersection")
                       / (F.col("__da") + F.col("__db")
                          - F.col("intersection")), 6))
           .drop("__da", "__db"))
    if min_similarity > 0.0:
        out = out.filter(F.col("similarity") >= min_similarity)
    return out


def all_paths(rels: DataFrame, source_id: int, target_id: int,
              max_depth: int, directed: bool = True,
              node_unique: bool = False) -> DataFrame:
    """All paths between two nodes up to ``max_depth``: the DataFrame
    rendering of the reference's traversal-based finders
    (``community/graph-algo/.../path/AllPaths.java:42`` —
    RELATIONSHIP_PATH uniqueness / trails — and ``AllSimplePaths.java:32``
    — NODE_PATH uniqueness / simple paths, via ``node_unique=True``).

    Each level is one hash join of the frontier with the edge frame on the
    path's tail node; the uniqueness predicate is an array membership test
    on the carried id array, and levels localCheckpoint so analysis cost
    stays linear in depth.  Output size IS the path count (inherently
    exponential in dense graphs) — the depth bound is the contract, as in
    the reference.  Returns (nodeIds: array<long>, relIds: array<long>,
    length: long)."""
    spark = rels.sparkSession
    edges = rels.select(F.col("id").alias("__eid"),
                        F.col("src").alias("__a"), F.col("dst").alias("__b"))
    if not directed:
        edges = edges.unionByName(
            rels.filter(F.col("src") != F.col("dst"))
            .select(F.col("id").alias("__eid"), F.col("dst").alias("__a"),
                    F.col("src").alias("__b")))
    edges = edges.localCheckpoint(eager=False)
    frontier = local_frame(
        spark, [([int(source_id)], [], 0)],
        "nodeIds array<long>, relIds array<long>, length long")
    results = [frontier.filter(
        F.lit(int(source_id)) == F.lit(int(target_id)))]
    for _ in range(max_depth):
        # stop extending paths that reached the target: a node-unique path
        # cannot return, and trail continuations through the target are
        # recorded only when they END there (same rows either way)
        live = frontier.filter(
            F.element_at("nodeIds", -1) != F.lit(int(target_id)))
        step = live.join(
            edges, F.element_at("nodeIds", -1) == F.col("__a"))
        if node_unique:
            step = step.filter(~F.array_contains("nodeIds", F.col("__b")))
        else:
            step = step.filter(~F.array_contains("relIds", F.col("__eid")))
        frontier = step.select(
            F.array_append("nodeIds", F.col("__b")).alias("nodeIds"),
            F.array_append("relIds", F.col("__eid")).alias("relIds"),
            (F.col("length") + 1).alias("length")) \
            .localCheckpoint(eager=True)
        if frontier.isEmpty():
            break
        results.append(frontier.filter(
            F.element_at("nodeIds", -1) == F.lit(int(target_id))))
    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    return out


def k_shortest_paths(rels: DataFrame, source_id: int, target_id: int,
                     k: int, weight_col: Optional[str] = None,
                     directed: bool = True,
                     max_depth: int = 15) -> DataFrame:
    """K cheapest simple paths between two nodes (the reference's
    Dijkstra with ``PathInterestFactory.numberOfShortest(k)`` drained
    through ``TopFetchingWeightedPathIterator`` —
    ``community/graph-algo/.../shortestpath/Dijkstra.java`` +
    ``TopFetchingWeightedPathIterator.java``).

    Rendering: level-synchronous simple-path enumeration (as
    ``all_paths``) with the reference's interest-based branch-and-bound:
    once k complete paths exist, any partial path costing more than the
    k-th best cannot improve the answer and is pruned — computed as a
    one-row broadcast aggregate joined onto the frontier, never a
    driver-side action (the A* bound-maintenance lesson).  Exact for
    NON-NEGATIVE weights (pruning assumes extensions cannot reduce
    cost), which is the reference's Dijkstra contract too.  Missing
    ``weight_col`` values make an edge non-traversable; without
    ``weight_col`` every hop costs 1.

    Returns (nodeIds, relIds, cost) — the k cheapest, ties broken by the
    rel-id sequence for determinism."""
    spark = rels.sparkSession
    w = (F.col(weight_col).cast("double") if weight_col
         else F.lit(1.0)).alias("__w")
    edges = rels.select(F.col("id").alias("__eid"),
                        F.col("src").alias("__a"),
                        F.col("dst").alias("__b"), w)
    if not directed:
        edges = edges.unionByName(
            rels.filter(F.col("src") != F.col("dst"))
            .select(F.col("id").alias("__eid"), F.col("dst").alias("__a"),
                    F.col("src").alias("__b"), w))
    if weight_col:
        edges = edges.filter(F.col("__w").isNotNull())
    edges = edges.localCheckpoint(eager=False)

    cols = "nodeIds array<long>, relIds array<long>, cost double"
    frontier = local_frame(spark, [([int(source_id)], [], 0.0)], cols)
    done = frontier.filter(F.lit(int(source_id)) == F.lit(int(target_id)))
    exhausted = True
    for _ in range(max_depth):
        live = frontier.filter(
            F.element_at("nodeIds", -1) != F.lit(int(target_id)))
        step = (live.join(edges,
                          F.element_at("nodeIds", -1) == F.col("__a"))
                .filter(~F.array_contains("nodeIds", F.col("__b")))
                .select(F.array_append("nodeIds", F.col("__b"))
                        .alias("nodeIds"),
                        F.array_append("relIds", F.col("__eid"))
                        .alias("relIds"),
                        (F.col("cost") + F.col("__w")).alias("cost")))
        # branch & bound: the k-th best COMPLETE cost (when k are known)
        # as a broadcast 1-row frame — partials above it cannot win
        bound = (done.orderBy("cost").limit(k)
                 .agg(F.max("cost").alias("__kth"),
                      F.count(F.lit(1)).alias("__ndone")))
        frontier = (step.crossJoin(F.broadcast(bound))
                    .filter((F.col("__ndone") < k)
                            | (F.col("cost") <= F.col("__kth")))
                    .drop("__kth", "__ndone")
                    .localCheckpoint(eager=True))
        if frontier.isEmpty():
            exhausted = False
            break
        done = done.unionByName(frontier.filter(
            F.element_at("nodeIds", -1) == F.lit(int(target_id)))) \
            .localCheckpoint(eager=False)
    if exhausted:
        # the search ran out of depth with live partials: the answer is
        # only confirmed-optimal if k complete paths exist and the k-th
        # best costs no more than the cheapest live partial (non-negative
        # weights: extensions cannot reduce cost).  Otherwise refuse to
        # silently truncate, matching the NFA search's maxDepth contract.
        probe = (frontier.agg(F.min("cost").alias("__minlive"))
                 .crossJoin(done.orderBy("cost").limit(k)
                            .agg(F.max("cost").alias("__kth"),
                                 F.count(F.lit(1)).alias("__n")))
                 .head())
        if probe["__minlive"] is not None and (
                probe["__n"] < k or probe["__kth"] > probe["__minlive"]):
            raise ValueError(
                f"k_shortest_paths still has live partial paths at "
                f"max_depth={max_depth} and only {probe['__n']} of "
                f"{k} requested paths are confirmed optimal; raise "
                f"max_depth (refusing to silently truncate)")
    return (done
            .withColumn("__tie", F.concat_ws(
                ",", F.transform("relIds",
                                 lambda x: F.format_string("%019d", x))))
            .orderBy("cost", "__tie").limit(k).drop("__tie"))
