"""Iterative path operators: VarExpand and shortest paths.

These are the operators that cannot be a single Catalyst plan because their
shape depends on the data (SURVEY §4.2): the reference implements them as
pipes (``pipes/VarLengthExpandPipe.scala:83``,
``pipes/ShortestPathPipe.scala:39``, ``pipes/StatefulShortestPathPipe``;
the bidirectional BFS is ``ShortestPath.java:81``).  Here they are
driver-side loops over DataFrame joins.

Entry points:

- ``var_expand``: one trail level loop (``_trail_levels``), run forward
  from the bound rows or backward from a small labeled target set.
- ``shortest_path``: shortestPath / allShortestPaths over a single
  var-length relationship, a meet-in-the-middle bidirectional BFS.
- ``nfa_shortest`` / ``nfa_shortest_tracked``: SHORTEST selectors over
  unbounded quantified patterns, one product-graph BFS (``_nfa_search``)
  carrying a ``count`` payload (walk counts, length-only use) or a
  ``track`` payload (the paths themselves, for path and group variables).

Scale design:
- Every level is a hash join on node ids; the frontier stays partitioned by
  the join key and AQE handles the shrinking/skewed frontier.
- **Direction choice** (the Spark analog of the reference's bidirectional
  BFS seeding from the cheaper side): when the far endpoint is a small
  labeled set and the near side is large, ``var_expand`` runs *backward*
  from the far endpoint over reversed edges and joins the (start, end)
  results back to the rowstream.  A `(c:Customer)-[*..3]->(r:Region)` BFS
  forward walks every order/lineitem edge (O(|E|) rows per level, each
  carrying a path array); backward from 5 regions the frontier never
  exceeds the customer count.  Decided by two cheap capped counts, the
  local stand-in for catalog statistics (GraphStatistics.scala:27-65).
- Var-length levels are pinned (each level is consumed by both the next
  frontier join and the final level union); shallow shortest-path BFS
  stays one lazy plan, deep BFS pins levels and stops early on an empty
  frontier.  The NFA search truncates lineage per level with
  localCheckpoint.
"""

from __future__ import annotations

import dataclasses
from typing import Callable, List, Optional, Tuple

from pyspark.sql import Column, DataFrame, functions as F, Window as W
from pyspark.storagelevel import StorageLevel

from ..cypher import ast as A


def _pin(df: DataFrame) -> DataFrame:
    """Persist an iterative-loop level (MEMORY_AND_DISK, spill-safe).

    Without this, a lazy level-k plan contains levels 1..k-1 as subtrees, so
    a depth-d loop re-executes O(d^2/2) joins in one action (each level is
    referenced by both the next frontier join and the final level union).
    Persisting makes each level compute once; blocks are LRU-evicted /
    cleared by the session, matching the reference's per-level frontier
    materialization (ShortestPath.java keeps frontier sets in memory)."""
    return df.persist(StorageLevel.MEMORY_AND_DISK)

REL_CORE_T = "array<struct<_id:bigint,_src:bigint,_dst:bigint,_type:string>>"


def _rel_ids(col: Column) -> Column:
    return F.transform(col, lambda x: x.getField("_id"))


def _union(frames: List[DataFrame]) -> DataFrame:
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def _reverse_scan(scan: DataFrame) -> DataFrame:
    """Swap the traversal endpoints of a rel scan (edge reversal)."""
    cols = [c for c in scan.columns if c not in ("__from", "__to")]
    return scan.select(F.col("__to").alias("__from"),
                       F.col("__from").alias("__to"), *cols)


def _prefer_backward(df: DataFrame, prev_var: str, tscan: Optional[DataFrame],
                     factor: int = 8, cap: int = 200_000) -> bool:
    """True when the target node set is >= ``factor``x smaller than the
    bound start set.  Capped counts so the decision never scans more than
    ``cap`` rows of either side."""
    if tscan is None:
        return False
    t = tscan.limit(cap).count()
    if t == 0 or t >= cap:
        return False
    s = df.select(F.col(prev_var).getField("_id")).limit(factor * t + 1).count()
    return s > factor * t


def var_expand(tr, df: DataFrame, prev_var: str, rp: A.RelPat, np: A.NodePat,
               rvar: str, nvar: str, slim: bool = False,
               start_labels: Optional[List[str]] = None) -> DataFrame:
    """VarLengthExpand (LP:2057): ``-[r:T*min..max]->``.

    Returns df with ``rvar`` = array<rel-struct> and ``nvar`` bound.
    ``slim``: the rel list is only uniqueness bookkeeping — carry id-only
    structs so property columns prune at the scan.  ``start_labels``: the
    label constraint on the expansion's start node (from the pattern; its
    predicate is enforced on the rowstream independently, so using it to
    prune edge types can only drop rows the label filter would drop
    anyway) — feeds schema-reachability pruning (schema_prune.py)."""
    from .schema_prune import flipped, level_all_sets, restricted_scans

    min_len = rp.min_len if rp.min_len is not None else 1
    max_len = rp.max_len if rp.max_len is not None else tr.max_var_length
    dynamic_stop = rp.max_len is None

    scan = tr._rel_scan(rp, "__r", slim=slim)
    rel_type = scan.schema["__r"].dataType.simpleString()

    def _filtered(s: DataFrame) -> DataFrame:
        # per-step predicate from the rel pattern's inline props
        if rp.props is not None:
            cc = tr._compiler(s)
            for k, v in rp.props.items:
                s = s.filter(F.col("__r").getField(k) == cc.compile(v))
        return s

    scan = _filtered(scan)

    def level_scans(rpat: A.RelPat, left, right, reverse: bool = False
                    ) -> List[DataFrame]:
        sets, lefts, rights = (level_all_sets(tr.graph, rpat, left, right,
                                              max_len)
                               or (None, None, None))
        scans = restricted_scans(tr, rp, sets, "__r", slim, max_len,
                                 reverse=reverse, lefts=lefts, rights=rights)
        if scans is None:
            return [_reverse_scan(scan) if reverse else scan] * max_len
        return [_filtered(s) for s in scans]

    nvar_bound = nvar in df.columns
    tgt_labels = (list(np.labels) if np.labels
                  else tr.labels_of(nvar) if nvar_bound else None)
    tscan = None
    if not nvar_bound and (np.labels or np.props is not None):
        tscan = tr._node_scan(np, nvar)
    if not dynamic_stop and _prefer_backward(df, prev_var, tscan):
        # backward from the target labels over reversed edges (the distance
        # budget runs toward the start labels), carrying only ids and the
        # rel array; the rowstream joins back on the reached start id and
        # the rel array is reversed to read start->target
        base = tscan.select(
            F.col(nvar).getField("_id").alias("__tgt"),
            F.col(nvar).getField("_id").alias("__end"),
            F.array().cast(f"array<{rel_type}>").alias(rvar))
        matched, _ = _trail_levels(
            base, level_scans(flipped(rp), tgt_labels, start_labels,
                              reverse=True),
            rvar, min_len, max_len)
        matched = matched.withColumn(rvar, F.reverse(F.col(rvar)))
        out = df.join(matched,
                      F.col(prev_var).getField("_id") == F.col("__end"))
        out = out.join(tscan, F.col("__tgt") == F.col(nvar).getField("_id"))
        return out.drop("__end", "__tgt")

    base = df.withColumn("__end", F.col(prev_var).getField("_id")) \
             .withColumn(rvar, F.array().cast(f"array<{rel_type}>"))
    out, last = _trail_levels(
        base, level_scans(rp, start_labels, tgt_labels), rvar, min_len,
        max_len, dynamic_stop)
    # the frontier was never observed empty within max_len levels — probe
    # one more extension; refusing to silently truncate an unbounded -[*]->
    # enumeration (trail uniqueness guarantees the probe is exact: no
    # k+1-trail exists without a k-trail prefix)
    if dynamic_stop and last is not None \
            and not _trail_join(last, scan, rvar).isEmpty():
        from ..cypher.translate import TranslateError

        raise TranslateError(
            f"unbounded var-length expansion still has matches at "
            f"{max_len} hops; set a bound or raise the translator's "
            f"max_var_length (refusing to silently truncate)")

    if nvar_bound:
        out = out.filter(F.col("__end") == F.col(nvar).getField("_id"))
    else:
        nscan = tscan if tscan is not None else tr._node_scan(np, nvar)
        out = out.join(nscan, F.col("__end") == F.col(nvar).getField("_id"))
    return out.drop("__end")


def _trail_join(frontier: DataFrame, scan: DataFrame, rvar: str
                ) -> DataFrame:
    """Frontier rows joined to their next relationship ``__r``, dropping
    relationships already on the row's trail ``rvar``."""
    return frontier.join(scan, F.col("__end") == F.col("__from")).filter(
        ~F.array_contains(_rel_ids(F.col(rvar)), F.col("__r").getField("_id")))


def _trail_levels(base: DataFrame, scans: List[DataFrame], rvar: str,
                  min_len: int, max_len: int, dynamic_stop: bool = False
                  ) -> Tuple[DataFrame, Optional[DataFrame]]:
    """Trail level loop: extend ``base`` rows (``__end`` = current node
    id, ``rvar`` = rel array) one relationship per level over level k's
    scan ``scans[k-1]``.  Returns the union of levels min_len..max_len and
    the last frontier.  ``dynamic_stop`` ends the loop at the first empty
    level past min_len; the last frontier is then None."""
    levels = [base] if min_len == 0 else []
    frontier = base
    for k in range(1, max_len + 1):
        step = (_trail_join(frontier, scans[k - 1], rvar)
                .withColumn(rvar, F.array_append(F.col(rvar), F.col("__r")))
                .withColumn("__end", F.col("__to"))
                .drop("__from", "__to", "__r"))
        if k < max_len:  # last level has a single consumer — no reuse
            step = _pin(step)
        if dynamic_stop and k > min_len and step.isEmpty():
            return _union(levels), None
        if k >= min_len:
            levels.append(step)
        frontier = step
    return _union(levels), frontier


def _bfs_levels(roots: DataFrame, scan: DataFrame, depth: int,
                track_path, scans: Optional[List[DataFrame]] = None
                ) -> List[DataFrame]:
    """Frontier BFS from ``roots`` (column __root) over ``scan``.
    ``scans``: optional per-level schema-pruned scans (schema_prune.py),
    orientation-matched to ``scan``; level k uses ``scans[k-1]``.

    Returns levels[0..depth]; level k has columns (__root, __node, __depth
    [, __rels, __nodes]) holding ALL shortest (root -> node) walks of
    length exactly k — (root, node) pairs reached at an earlier level are
    pruned with a visited anti-join, equal-depth alternatives are kept.

    ``track_path``: False = no path state; "ids" = __rels is an array of
    rel ids (path identity only — 4x lighter frontier rows, no __nodes);
    True/"full" = rel-core structs + node id array."""
    full = track_path is True or track_path == "full"
    cols = [F.col("__root"), F.col("__root").alias("__node"),
            F.lit(0).alias("__depth")]
    if full:
        cols += [F.array().cast(REL_CORE_T).alias("__rels"),
                 F.array(F.col("__root")).alias("__nodes")]
    elif track_path == "ids":
        cols += [F.array().cast("array<bigint>").alias("__rels")]
    # shallow searches stay fully lazy: measured A/B (sf0.1, depth<=3)
    # puts the lazy plan ~2x ahead of per-level persistence — the replayed
    # prefix is cheaper than the InMemoryRelation materialization barriers.
    # Deep searches persist each level and stop early on a dead frontier.
    frontier = roots.select(*cols)
    # level-0 pairs are exactly (root, root): their anti-join contribution
    # is the predicate __node != __root, so `visited` starts EMPTY (None)
    # and level k only anti-joins the level 1..k-1 pair sets — one fewer
    # join per level, and level 1 needs no join at all.  On the lazy
    # (shallow) path each avoided anti-join also avoids replaying the
    # frontier lineage it would reference.
    visited: Optional[DataFrame] = None
    levels: List[DataFrame] = [frontier]
    eager = depth > 3
    for k in range(1, depth + 1):
        sc = scans[k - 1] if scans is not None else scan
        step = frontier.join(sc, F.col("__node") == F.col("__from"))
        out_cols = ["__root", F.col("__to").alias("__node"),
                    F.lit(k).alias("__depth")]
        if full:
            core = F.struct(
                F.col("__r").getField("_id").alias("_id"),
                F.col("__r").getField("_src").alias("_src"),
                F.col("__r").getField("_dst").alias("_dst"),
                F.col("__r").getField("_type").alias("_type"))
            out_cols += [F.array_append(F.col("__rels"), core).alias("__rels"),
                         F.array_append(F.col("__nodes"),
                                        F.col("__to")).alias("__nodes")]
        elif track_path == "ids":
            out_cols += [F.array_append(
                F.col("__rels"),
                F.col("__r").getField("_id")).alias("__rels")]
        step = step.select(*out_cols)
        # prune: drop (root, node) already reached at a shorter depth —
        # depth 0 via the root-equality predicate, deeper levels via the
        # accumulated pair set
        step = step.filter(F.col("__node") != F.col("__root"))
        if visited is not None:
            step = step.join(visited, ["__root", "__node"], "left_anti")
        if not track_path:
            step = step.dropDuplicates(["__root", "__node"])
        if eager:
            step = _pin(step)
            if step.isEmpty():
                step.unpersist()
                break
        levels.append(step)
        reached = step.select("__root", "__node").dropDuplicates()
        visited = (reached if visited is None
                   else visited.unionByName(reached))
        frontier = step
    return levels


def _length_only_use(root, pvar: str) -> bool:
    """True when every use of path var ``pvar`` in the statement is
    ``length(p)`` — the usage test behind the reference's
    pruningVarExpander/bfsAggregationRemover rewrites
    (compiler/planner/logical/plans/rewriter/pruningVarExpander.scala):
    when no one consumes the path's contents, the search need not carry
    them."""
    def length_of_p(node) -> bool:
        return (isinstance(node, A.Func) and node.name == "length"
                and len(node.args) == 1 and isinstance(node.args[0], A.Var)
                and node.args[0].name == pvar)

    return not any(isinstance(n, A.Var) and n.name == pvar
                   for n in A.walk(root, skip=length_of_p))


def shortest_path(tr, df: Optional[DataFrame], part: A.PatternPart,
                  pending: List[A.Expr],
                  force_full_paths: bool = False) -> DataFrame:
    """FindShortestPaths (LP:2178): shortestPath / allShortestPaths.

    Meet-in-the-middle bidirectional BFS, the DataFrame rendering of the
    reference's algorithm (``community/graph-algo/.../ShortestPath.java:81``
    expands both endpoints and intersects frontiers): forward BFS from the
    start ids to depth ``fb``, backward BFS from the target ids over
    reversed edges to depth ``bb`` (fb + bb = max_len, deeper half to the
    smaller endpoint set), then one hash join on the meeting node.  Each
    side's frontier is bounded by its own fanout-to-half-depth instead of
    the full-depth fanout — the asymptotic win that makes depth-k search
    feasible on a 100 TB edge set.  Subpath optimality (shortest walks
    decompose into shortest halves at every split node) guarantees the
    min-depth filter over met pairs yields exactly the shortest paths."""
    els = part.elements
    assert len(els) == 3, "shortestPath expects a single relationship pattern"
    a_pat, rp, b_pat = els
    assert isinstance(rp, A.RelPat)
    all_shortest = part.selector == "allShortest"
    max_len = rp.max_len if rp.max_len is not None else tr.max_var_length
    min_len = rp.min_len if rp.min_len is not None else 1
    # length-only paths don't need their contents carried through the BFS;
    # allShortestPaths still needs path IDENTITY (counting paths), but when
    # only lengths are consumed, identity = the rel-id array — 4x lighter
    # frontier rows than rel-core structs + node arrays ("ids" mode)
    shape_only = not force_full_paths and (
        part.path_var is None
        or _length_only_use(getattr(tr, "query_ast", None) or part,
                            part.path_var))
    if all_shortest:
        track_path = "ids" if shape_only else "full"
    else:
        track_path = False if shape_only else "full"

    df, avar = tr._bind_first_node(df, a_pat, pending)
    df, bvar = tr._bind_first_node(df, b_pat, pending)

    scan = tr._rel_scan(rp, "__r", slim=(track_path != "full"))

    # endpoint-set sizes drive only the depth split, so magnitude suffices:
    # label-bound endpoints read the O(1) count store
    # (countStorePlanner.scala analog) instead of running a counting job
    # over the rowstream
    def _side_label(pat, var):
        if len(pat.labels) == 1 and pat.props is None:
            return pat.labels[0]
        if not pat.labels and pat.props is None:
            # an already-bound endpoint: var-label tracking knows its
            # label without a counting job (Translator.var_labels)
            known = tr.labels_of(var)
            if known and len(known) == 1:
                return known[0]
        return None

    al, bl = _side_label(a_pat, avar), _side_label(b_pat, bvar)
    if al is not None and bl is not None:
        n_start = tr.graph.count_nodes(al)
        n_tgt = tr.graph.count_nodes(bl)
    else:
        sizes = df.agg(
            F.approx_count_distinct(F.col(avar).getField("_id")).alias("s"),
            F.approx_count_distinct(F.col(bvar).getField("_id")).alias("t")
        ).head()
        n_start, n_tgt = sizes["s"], sizes["t"]
    # deeper half of the search to the smaller endpoint set.  (Giving ALL
    # depth to the much-smaller side was tried and backfires: depth
    # allocation must bound by FANOUT, not endpoint count — e.g. a
    # backward frontier that reaches a high-in-degree label explodes on
    # its extra level, while the balanced split caps both sides at their
    # half-depth fanout.)
    fb = max_len // 2
    bb = max_len - fb
    if n_start <= n_tgt:
        fb, bb = bb, fb

    starts = df.select(
        F.col(avar).getField("_id").alias("__root")).dropDuplicates()
    tgts = df.select(
        F.col(bvar).getField("_id").alias("__root")).dropDuplicates()
    pairs = df.select(
        F.col(avar).getField("_id").alias("__s"),
        F.col(bvar).getField("_id").alias("__t")).dropDuplicates()

    # schema-reachability pruning (schema_prune.py): each side's level-k
    # scan is restricted to the types the label topology allows, with the
    # distance budget running toward the OTHER endpoint's labels (the meet
    # can happen anywhere, so the budget at level k is max_len - k for
    # both sides)
    from .schema_prune import flipped, level_all_sets, restricted_scans

    a_labels = (list(a_pat.labels) if a_pat.labels
                else tr.labels_of(avar))
    b_labels = (list(b_pat.labels) if b_pat.labels
                else tr.labels_of(bvar))
    slim_scan = track_path != "full"
    f_sets, f_lefts, f_rights = (
        level_all_sets(tr.graph, rp, a_labels, b_labels, max_len)
        or (None, None, None))
    b_sets, b_lefts, b_rights = (
        level_all_sets(tr.graph, flipped(rp), b_labels, a_labels, max_len)
        or (None, None, None))
    f_scans = restricted_scans(tr, rp, f_sets, "__r", slim_scan, fb,
                               lefts=f_lefts, rights=f_rights)
    b_scans = restricted_scans(tr, rp, b_sets, "__r", slim_scan, bb,
                               reverse=True, lefts=b_lefts,
                               rights=b_rights)

    f_levels = _bfs_levels(starts, scan, fb, track_path, scans=f_scans)
    b_levels = _bfs_levels(tgts, _reverse_scan(scan), bb, track_path,
                           scans=b_scans)

    def _cat(levels: List[DataFrame], side: str) -> DataFrame:
        renames = {"__root": f"__{side}root", "__node": f"__{side}node",
                   "__depth": f"__{side}d", "__rels": f"__{side}rels",
                   "__nodes": f"__{side}nodes"}
        return _union([
            lvl.select(*[F.col(c).alias(renames[c]) for c in lvl.columns])
            for lvl in levels])

    pf = _cat(f_levels, "f")
    pb = _cat(b_levels, "b")
    met = pf.join(pb, F.col("__fnode") == F.col("__bnode"))
    met = met.withColumn("__len", F.col("__fd") + F.col("__bd")) \
             .filter((F.col("__len") >= min_len) & (F.col("__len") <= max_len))
    met = met.join(pairs, (F.col("__froot") == F.col("__s"))
                   & (F.col("__broot") == F.col("__t")), "left_semi")
    sel = [F.col("__froot").alias("__s"), F.col("__broot").alias("__t"),
           F.col("__len")]
    if track_path:
        sel += [
            F.concat(F.col("__frels"), F.reverse("__brels")).alias("__rels")]
        if track_path == "full":
            sel += [F.concat(
                F.col("__fnodes"),
                F.slice(F.reverse("__bnodes"), 2, max_len + 1)
            ).alias("__nodes")]
    met = met.select(*sel)
    if not all_shortest:
        if not track_path:
            # length-only: min() is a plain aggregate — partial (map-side)
            # combine shrinks each partition to one row per (s,t) before
            # the shuffle, where a window must shuffle every met row
            met = met.groupBy("__s", "__t").agg(F.min("__len").alias("__len"))
        else:
            # single shortest with path contents: ONE window pass picks the
            # min-length path per (s,t) — duplicate meet-splits of the same
            # path are harmless because only one row survives (vs. dedup +
            # min-agg join + window: three shuffles on path-array keys)
            order = [F.col("__len").asc(), F.col("__rels").cast("string").asc()]
            met = met.withColumn(
                "__rn", F.row_number().over(
                    W.partitionBy("__s", "__t").orderBy(*order))
            ).filter(F.col("__rn") == 1).drop("__rn")
    else:
        # the same path splits at every meet node with fdepth <= fb — dedup
        if track_path:
            met = met.dropDuplicates(["__s", "__t", "__rels"])
        else:
            met = met.dropDuplicates(["__s", "__t", "__len"])
        # keep only min-length per pair (subpath optimality => these are
        # exactly the shortest paths, which never repeat a relationship)
        depths = met.groupBy("__s", "__t").agg(F.min("__len").alias("__mind"))
        met = met.join(depths, ["__s", "__t"]) \
                 .filter(F.col("__len") == F.col("__mind")).drop("__mind")

    out = df.join(
        met,
        (F.col(avar).getField("_id") == F.col("__s"))
        & (F.col(bvar).getField("_id") == F.col("__t")))
    if part.path_var:
        pvar = part.path_var
        if track_path == "full":
            nodes_arr = F.transform(F.col("__nodes"),
                                    lambda x: F.struct(x.alias("_id")))
            out = out.withColumn(
                pvar, F.struct(nodes_arr.alias("nodes"),
                               F.col("__rels").alias("rels")))
        else:
            # length-only path: a {len} stub — length() reads it directly
            out = out.withColumn(
                pvar, F.struct(F.col("__len").cast("long").alias("len")))
        tr.kinds[pvar] = "path"
    drop = ["__s", "__t", "__len"]
    if track_path:
        drop.append("__rels")
        if track_path == "full":
            drop.append("__nodes")
    out = out.drop(*drop)
    if part.path_var and track_path == "full":
        node_rich, rel_rich = tr._path_use_kinds(part.path_var)
        if rel_rich:
            out = tr._resolve_path_rels(out, part.path_var)
        if node_rich:
            out = tr._resolve_path_nodes(out, part.path_var)
    if max(fb, bb) > 3:
        # deep search: the BFS already pinned each level eagerly, and the
        # met-join result is the (small) answer set — checkpoint it so
        # downstream self-referencing plans (pattern comprehensions,
        # rollups) start from a materialized scan instead of re-printing
        # the whole search tree per reference (a `*0..100` search feeding
        # a pattern comprehension otherwise OOMs the driver in
        # QueryExecution.explainString alone)
        out = tr._stats_safe_ckpt(out)
    return out


# ---------------------------------------------------------------------------
# StatefulShortestPath: NFA product-graph BFS
# ---------------------------------------------------------------------------


class _NFA:
    """Pattern-element NFA: integer states, relationship transitions, and
    epsilon edges for QPP repetition (reference:
    ``cypher-logical-plans/.../NFA.scala:37,157``).  Node predicates attach
    to the state the node occupies (``state_sets``: state -> DataFrame of
    qualifying node ids, None = unconstrained)."""

    def __init__(self):
        self.n_states = 1  # state 0 = at the start node
        self.trans: List[dict] = []   # {frm, to, edges: DataFrame}
        self.eps: List[Tuple[int, int]] = []
        self.state_sets: dict = {}    # state -> DataFrame(nid) | None

    def new_state(self) -> int:
        self.n_states += 1
        return self.n_states - 1

    def closure_pairs(self) -> List[Tuple[int, int]]:
        """Transitive epsilon closure as (src, dst) pairs, src != dst."""
        reach = {s: {s} for s in range(self.n_states)}
        changed = True
        while changed:
            changed = False
            for a, b in self.eps:
                for s in range(self.n_states):
                    if a in reach[s] and b not in reach[s]:
                        reach[s].add(b)
                        changed = True
        return [(s, d) for s, ds in reach.items() for d in ds if d != s]


def _nfa_node_set(tr, np: A.NodePat):
    """DataFrame(nid) of nodes satisfying a node pattern, or None when the
    pattern is unconstrained (no scan needed)."""
    if (not np.labels and not np.neg_labels and np.props is None
            and np.where is None and not np.req_any_label
            and not np.req_no_label
            and getattr(np, "label_tree", None) is None):
        return None
    var = np.var or "__nf"
    scan = tr._node_scan(np, var)
    old_kind = tr.kinds.get(var)
    tr.kinds[var] = "node"
    scan = tr._filter_node_bound(scan, A.NodePat(
        var, labels=(), props=np.props, where=np.where), var)
    if old_kind is None:
        tr.kinds.pop(var, None)
    else:
        tr.kinds[var] = old_kind
    return scan.select(
        F.col(var).getField("_id").alias("nid")).dropDuplicates()


def _nfa_edges(tr, rp: A.RelPat, src_set, dst_set,
               core: bool = False) -> DataFrame:
    """(__from, __to [, __r]) edge frame for one NFA transition, with the
    adjacent node predicates pushed into the scan as semi-joins.
    ``core``: also carry the rel-core struct (id/src/dst/type) as ``__r``
    for the ``track`` payload."""
    need_full = (core or rp.where is not None
                 or (rp.props is not None and rp.props.items))
    if not need_full:
        e = tr._rel_scan(rp, "__nr", slim=True).select("__from", "__to")
    else:
        full = tr._rel_scan(rp, "__nr")
        cc = tr._compiler(full)
        old = tr.kinds.get("__nr")
        tr.kinds["__nr"] = "rel"
        if rp.props is not None:
            for k, v in rp.props.items:
                full = full.filter(
                    F.col("__nr").getField(k) == cc.compile(v))
        if rp.where is not None:
            uname = rp.var
            if uname and uname != "__nr":
                full = full.withColumn(uname, F.col("__nr"))
                tr.kinds[uname] = "rel"
            full = full.filter(tr._compiler(full).compile(rp.where))
            if uname and uname != "__nr":
                full = full.drop(uname)
                tr.kinds.pop(uname, None)
        if old is None:
            tr.kinds.pop("__nr", None)
        else:
            tr.kinds["__nr"] = old
        cols = ["__from", "__to"]
        if core:
            cols.append(F.struct(
                F.col("__nr").getField("_id").alias("_id"),
                F.col("__nr").getField("_src").alias("_src"),
                F.col("__nr").getField("_dst").alias("_dst"),
                F.col("__nr").getField("_type").alias("_type")).alias("__r"))
        e = full.select(*cols)
    if src_set is not None:
        e = e.join(src_set.withColumnRenamed("nid", "__from"), "__from",
                   "left_semi")
    if dst_set is not None:
        e = e.join(dst_set.withColumnRenamed("nid", "__to"), "__to",
                   "left_semi")
    return e


def nfa_compile(tr, els: List, core: bool = False) -> _NFA:
    """Compile a [Node, (Rel | QPP)..., Node] element sequence to an NFA.

    QPP{m,} becomes: m-1 unrolled mandatory iterations, then a looping
    iteration whose exit has an epsilon back-edge to its entry; {0,} adds
    an epsilon skipping the loop entirely.  Node patterns constrain the
    state they occupy via state_sets.  ``core``: edge frames carry the
    rel-core struct for the ``track`` payload; transitions record
    src/dst/rel variable names so group variables can be re-derived from
    a path's per-step transition ids."""
    nfa = _NFA()
    cur = 0
    start_np = els[0]
    nfa.state_sets[0] = None  # start filtered by the rowstream binding

    def one_rel(frm: int, rp: A.RelPat, dst_np: A.NodePat,
                src_np: A.NodePat = None) -> int:
        to = nfa.new_state()
        dst_set = _nfa_node_set(tr, dst_np)
        src_set = nfa.state_sets.get(frm)
        nfa.state_sets[to] = dst_set
        nfa.trans.append({"frm": frm, "to": to,
                          "edges": _nfa_edges(tr, rp, src_set, dst_set,
                                              core=core),
                          "src_var": src_np.var if src_np else None,
                          "dst_var": dst_np.var,
                          "rel_var": rp.var})
        return to

    def one_iteration(frm: int, inner: List) -> int:
        # inner = [n1, r1, n2, r2, ... nk]; n1's constraint applies to the
        # iteration-entry state (it must already hold there)
        entry_set = _nfa_node_set(tr, inner[0])
        if entry_set is not None:
            prev = nfa.state_sets.get(frm)
            nfa.state_sets[frm] = (entry_set if prev is None else
                                   prev.join(entry_set, "nid", "left_semi"))
        s = frm
        j = 1
        while j < len(inner):
            s = one_rel(s, inner[j], inner[j + 1], src_np=inner[j - 1])
            j += 2
        return s

    i = 1
    while i < len(els):
        el = els[i]
        if isinstance(el, A.QPP):
            min_r = el.min_reps
            entry = cur
            for _ in range(max(min_r - 1, 0)):
                cur = one_iteration(cur, list(el.elements))
            # the looping iteration gets a FRESH entry state (eps from the
            # pre-QPP state) so its first-inner-node constraint does not
            # leak onto paths that take zero repetitions, and a FRESH
            # unconstrained exit state so the last-inner-node constraint
            # does not filter the zero-repetition bypass (the eps skip
            # previously pointed entry->exit, wrongly applying inner
            # predicates to the zero-rep match)
            it_entry = nfa.new_state()
            nfa.state_sets[it_entry] = None
            nfa.eps.append((cur, it_entry))
            exit_s = one_iteration(it_entry, list(el.elements))
            nfa.eps.append((exit_s, it_entry))
            qexit = nfa.new_state()
            nfa.state_sets[qexit] = None
            nfa.eps.append((exit_s, qexit))
            if min_r == 0:
                nfa.eps.append((entry, qexit))
            cur = qexit
            i += 1
            # the NodePat following the QPP constrains the exit state
            if i < len(els) and isinstance(els[i], A.NodePat) \
                    and (i == len(els) - 1):
                break  # final node handled by the caller's end binding
            if i < len(els) and isinstance(els[i], A.NodePat):
                ns = _nfa_node_set(tr, els[i])
                if ns is not None:
                    prev = nfa.state_sets.get(cur)
                    nfa.state_sets[cur] = (ns if prev is None else
                                           prev.join(ns, "nid", "left_semi"))
                i += 1
        elif isinstance(el, A.RelPat):
            dst_np = els[i + 1] if i + 1 < len(els) - 1 else A.NodePat(None)
            src_np = els[i - 1] if isinstance(els[i - 1], A.NodePat) else None
            cur = one_rel(cur, el, dst_np, src_np=src_np)
            i += 2
        else:  # bare intermediate NodePat (shouldn't occur mid-sequence)
            i += 1
    nfa.final = cur
    return nfa


_KEY = ["__s", "__n", "__st"]
_PATH = ["__rels", "__ns", "__trs", "__pid"]


@dataclasses.dataclass
class _Payload:
    """What an NFA frontier row carries besides its (start, node, state)
    key, and how the search treats it."""
    cols: List[str]                            # payload column names
    seed: List[Column]                         # their level-0 values
    step: Callable[[int], List[Column]]        # values after transition i
    reduce: Callable[[DataFrame], DataFrame]   # merge rows per level
    core: bool = False     # edge frames carry the rel-core struct __r
    trail: bool = False    # reject reused rels, no visited-set pruning
    budget: Optional[int] = None  # max live rows per level


def _count_payload() -> _Payload:
    """``count``: ``__c`` = the number of shortest walks reaching the
    product state, summed per state (ALL SHORTEST multiplicity).  Rows
    carry no arrays, so each level is a join and a map-side-combinable
    sum."""
    return _Payload(
        cols=["__c"],
        seed=[F.lit(1).cast("long").alias("__c")],
        step=lambda ti: [F.col("__c")],
        reduce=lambda rows: rows.groupBy(*_KEY).agg(
            F.sum("__c").alias("__c")))


def _track_payload(tr, part: A.PatternPart) -> _Payload:
    """``track``: the path itself — rel-core structs, node ids, transition
    ids and a path id (the zero-padded rel-id sequence, which orders
    paths deterministically).

    At k == 1 one min-path-id representative survives per product state
    (ANY / SHORTEST), or every min-depth path does (ALL SHORTEST).  At
    k > 1 per-state pruning is unsound under relationship uniqueness (a
    suffix valid for one admitted prefix may share an edge with another,
    and a 2-cycle would admit [e1, e2, e1]), so the search enumerates
    trails: the step join rejects relationships already on the path and
    every distinct trail per state survives.  Enumeration is checked
    against ``neo4j_spark.nfa.maxFrontierPaths`` per level so a
    combinatorial path set fails loudly instead of exhausting memory."""
    k = part.selector_k or 1
    enumerate_ = k > 1 or part.selector in ("allShortest", "shortestGroups")

    def step(ti: int) -> List[Column]:
        return [
            F.array_append(F.col("__rels"), F.col("__r")).alias("__rels"),
            F.array_append(F.col("__ns"), F.col("__to")).alias("__ns"),
            F.array_append(F.col("__trs"), F.lit(ti)).alias("__trs"),
            F.concat(F.col("__pid"), F.lit(","), F.format_string(
                "%019d", F.col("__r").getField("_id"))).alias("__pid")]

    def reduce(rows: DataFrame) -> DataFrame:
        if enumerate_:
            # eps copies of the same path dedup here
            return rows.dropDuplicates([*_KEY, "__pid"])
        # min_by is a plain aggregate: partial (map-side) combine
        return (rows.groupBy(*_KEY)
                .agg(F.min_by(F.struct(*_PATH), F.col("__pid")).alias("__p"))
                .select(*_KEY, *[F.col(f"__p.{c}").alias(c) for c in _PATH]))

    return _Payload(
        cols=_PATH,
        seed=[F.array().cast(REL_CORE_T).alias("__rels"),
              F.array().cast("array<bigint>").alias("__ns"),
              F.array().cast("array<int>").alias("__trs"),
              F.lit("").alias("__pid")],
        step=step, reduce=reduce, core=True, trail=k > 1,
        budget=(int(tr.spark.conf.get("neo4j_spark.nfa.maxFrontierPaths",
                                      "1000000"))
                if enumerate_ else None))


def _nfa_search(tr, df: Optional[DataFrame], part: A.PatternPart,
                pending: List[A.Expr], payload: _Payload,
                rank: Callable[[DataFrame], DataFrame]):
    """StatefulShortestPath (LP:2290): BFS over the (node x NFA-state)
    product graph (reference ``runtime-util .../PGPathPropagatingBFS``)
    from the bound start nodes, carrying ``payload`` on every frontier
    row.

    Termination does not depend on a repetition cap: the visited set over
    (start, node, state) is finite, so ``((x)-[:R]->(y))+`` explores to
    the graph's true reach.  Each level is one hash join per transition,
    partitioned on the node id.  Exactness of the visited-set pruning
    rests on the eligibility guard (translate._nfa_eligible): with every
    transition directed, type sets pairwise disjoint and no mandatory QPP
    unrolls, an edge belongs to exactly one transition whose source
    product state is admitted once per start, so no admitted walk repeats
    a relationship.

    ``rank`` maps the (__s, __e, __len, *payload) hits to the rows to
    keep; they are then joined back onto the rowstream with the end node
    bound.  Returns (rows, start var, end var, nfa)."""
    from ..cypher.translate import TranslateError

    els = list(part.elements)
    a_pat, b_pat = els[0], els[-1]
    df, avar = tr._bind_first_node(df, a_pat, pending)
    nfa = nfa_compile(tr, els, core=payload.core)
    closure = nfa.closure_pairs()
    max_depth = int(tr.spark.conf.get("neo4j_spark.nfa.maxDepth", "32"))
    states = sorted({t["to"] for t in nfa.trans} | {0}
                    | {d for _, d in closure} | {nfa.final})

    # every level joins the transition edge frames and state sets
    for t in nfa.trans:
        t["edges"] = t["edges"].localCheckpoint(eager=False)
    for st, ss in list(nfa.state_sets.items()):
        if ss is not None:
            nfa.state_sets[st] = ss.localCheckpoint(eager=False)
    end_set = _nfa_node_set(tr, b_pat)
    if end_set is not None:
        end_set = end_set.localCheckpoint(eager=False)

    def advance(rows: DataFrame) -> DataFrame:
        # epsilon closure, per-level reduce, then each state's node
        # predicate (a filter on key columns, so it commutes with the
        # reduce)
        rows = _union([rows] + [
            rows.filter(F.col("__st") == a).withColumn("__st", F.lit(b))
            for a, b in closure])
        rows = payload.reduce(rows)
        parts = []
        for s in states:
            sub = rows.filter(F.col("__st") == s)
            ss = nfa.state_sets.get(s)
            if ss is not None:
                sub = sub.join(ss.withColumnRenamed("nid", "__n"), "__n",
                               "left_semi")
            parts.append(sub)
        return _union(parts)

    def record(rows: DataFrame, depth: int) -> DataFrame:
        hit = rows.filter(F.col("__st") == nfa.final)
        if end_set is not None:
            hit = hit.join(end_set.withColumnRenamed("nid", "__n"), "__n",
                           "left_semi")
        return hit.select("__s", F.col("__n").alias("__e"),
                          F.lit(depth).alias("__len"), *payload.cols)

    # inline start-node predicates ((a:X {p: v} WHERE ...)) seed the BFS
    # with the filtered set — they are ALSO applied to the rowstream via
    # pending (idempotent), but seeding small saves every BFS level
    starts = df.select(avar)
    if a_pat.props is not None or a_pat.where is not None:
        starts = tr._filter_node_bound(starts, a_pat, avar)
    seed = (starts.select(F.col(avar).getField("_id").alias("__s"))
            .dropDuplicates()
            .select("__s", F.col("__s").alias("__n"),
                    F.lit(0).alias("__st"), *payload.seed))
    # localCheckpoint (not persist): the per-level plan references the
    # previous level several times (per transition + eps copies + the
    # visited anti-join), so lineage must be TRUNCATED or analysis cost
    # grows exponentially with depth (same rationale as algorithms.py)
    frontier = advance(seed).localCheckpoint(eager=True)
    visited = frontier.select(*_KEY).dropDuplicates() \
        .localCheckpoint(eager=True)

    results = [record(frontier, 0)]
    for depth in range(1, max_depth + 1):
        steps = []
        for ti, t in enumerate(nfa.trans):
            part_f = frontier.filter(F.col("__st") == t["frm"]) \
                             .select("__s", "__n", *payload.cols)
            e = t["edges"]
            cond = part_f["__n"] == e["__from"]
            if payload.trail:
                cond = cond & ~F.array_contains(
                    _rel_ids(part_f["__rels"]), e["__r"].getField("_id"))
            steps.append(part_f.join(e, cond).select(
                "__s", F.col("__to").alias("__n"),
                F.lit(t["to"]).alias("__st"), *payload.step(ti)))
        nxt = advance(_union(steps))
        if not payload.trail:
            nxt = nxt.join(visited, _KEY, "left_anti")
        nxt = nxt.localCheckpoint(eager=True)
        if payload.budget is None:
            if nxt.isEmpty():
                break
        else:
            n_live = nxt.count()
            if n_live == 0:
                break
            if n_live > payload.budget:
                raise TranslateError(
                    f"path enumeration admitted {n_live} live paths at "
                    f"depth {depth} (> neo4j_spark.nfa.maxFrontierPaths="
                    f"{payload.budget}); the selector requires enumerating "
                    f"a combinatorial path set — raise the budget or "
                    f"bound the pattern (refusing to risk OOM)")
        if depth == max_depth:
            raise TranslateError(
                f"NFA shortest-path search still has an active frontier "
                f"at depth {max_depth}; raise neo4j_spark.nfa.maxDepth "
                f"(refusing to silently truncate)")
        results.append(record(nxt, depth))
        if not payload.trail:
            # lazy checkpoint: lineage still truncates, but the union
            # computes inside the NEXT level's job instead of its own
            visited = visited.unionByName(
                nxt.select(*_KEY)).localCheckpoint(eager=False)
        frontier = nxt

    out = df.join(
        rank(_union(results)).withColumnRenamed("__s", "__nfs"),
        F.col(avar).getField("_id") == F.col("__nfs")).drop("__nfs")
    bvar = b_pat.var or tr._anon_var("ne")
    if bvar in df.columns:
        out = out.filter(
            F.col(bvar).getField("_id") == F.col("__e")).drop("__e")
    else:
        # build the end scan from the FULL node pattern (any_labels,
        # neg_labels, label_tree survive) — props/where re-applied on the
        # rowstream via _queue_node_filters below
        end_scan = tr._node_scan(
            dataclasses.replace(b_pat, var=bvar, props=None, where=None),
            bvar)
        out = out.join(
            end_scan,
            F.col("__e") == F.col(bvar).getField("_id")).drop("__e")
        tr.kinds[bvar] = "node"
        tr._note_labels(bvar, b_pat.labels)
        tr._queue_node_filters(b_pat, bvar, pending, bound=False)
    return out, avar, bvar, nfa


def nfa_shortest(tr, df: Optional[DataFrame], part: A.PatternPart,
                 pending: List[A.Expr]) -> DataFrame:
    """NFA shortest search with the ``count`` payload: only lengths are
    consumed, so ALL SHORTEST multiplicity is the per-pair walk count and
    a path variable is a {len} stub."""
    def rank(res: DataFrame) -> DataFrame:
        if part.selector in ("allShortest", "shortestGroups"):
            # one output row per shortest path (multiplicity = walk count)
            res = res.withColumn(
                "__dup", F.explode(F.sequence(F.lit(1), F.col("__c")))) \
                .drop("__dup")
        return res.drop("__c")

    out, _, _, _ = _nfa_search(tr, df, part, pending, _count_payload(),
                               rank)
    if part.path_var:
        out = out.withColumn(
            part.path_var,
            F.struct(F.col("__len").cast("long").alias("len")))
        tr.kinds[part.path_var] = "path"
    return out.drop("__len")


def nfa_shortest_tracked(tr, df: Optional[DataFrame], part: A.PatternPart,
                         pending: List[A.Expr]) -> DataFrame:
    """NFA shortest search with the ``track`` payload: path variables,
    group variables and ALL SHORTEST multiplicity project real paths
    (reference ``pipes/StatefulShortestPathPipe.scala:41``).

    Group variables are re-derived after the search from the
    transition-id array: a QPP inner variable's occurrences are exactly
    the steps taken through its transition, so ``x`` in
    ``(a)((x)-[:R]->(y))+(b)`` is the per-step source node list and ``y``
    the destination list."""
    sel, k = part.selector, part.selector_k or 1

    def rank(res: DataFrame) -> DataFrame:
        if sel in ("allShortest", "shortestGroups"):
            if k == 1:
                # the visited set already kept only min-depth paths
                return res
            # SHORTEST k GROUPS: every path in the k shortest length
            # groups per (start, end)
            wg = W.partitionBy("__s", "__e").orderBy("__len")
            return (res.withColumn("__rk", F.dense_rank().over(wg))
                    .filter(F.col("__rk") <= k).drop("__rk"))
        if k == 1:
            # ONE deterministic representative per (start, end)
            return (res.groupBy("__s", "__e")
                    .agg(F.min_by(F.struct("__len", *_PATH),
                                  F.col("__pid")).alias("__p"))
                    .select("__s", "__e", F.col("__p.__len").alias("__len"),
                            *[F.col(f"__p.{c}").alias(c) for c in _PATH]))
        # SHORTEST k / ANY k: the k shortest trails, by (len, pid)
        wk = W.partitionBy("__s", "__e").orderBy("__len", "__pid")
        return (res.withColumn("__rk", F.row_number().over(wk))
                .filter(F.col("__rk") <= k).drop("__rk"))

    out, avar, bvar, nfa = _nfa_search(tr, df, part, pending,
                                       _track_payload(tr, part), rank)

    dstmap, srcmap, relmap = {}, {}, {}
    for ti, t in enumerate(nfa.trans):
        for m, key in ((dstmap, "dst_var"), (srcmap, "src_var"),
                       (relmap, "rel_var")):
            if t.get(key):
                m.setdefault(t[key], []).append(ti)

    allns = F.concat(F.array(F.col(avar).getField("_id")), F.col("__ns"))
    idxs = F.when(F.size(F.col("__trs")) == 0,
                  F.array().cast("array<integer>")) \
            .otherwise(F.sequence(F.lit(0), F.size(F.col("__trs")) - 1))

    def steps_for(tis) -> Column:
        return F.filter(
            idxs, lambda i: F.element_at(F.col("__trs"), i + 1).isin(tis))

    def node_stubs(arr: Column, tis) -> Column:
        return F.transform(steps_for(tis), lambda i: F.struct(
            F.element_at(arr, i + 1).alias("_id")))

    bound_vars = {avar, bvar}
    for v in list(dstmap) + list(srcmap) + list(relmap):
        if v in bound_vars or v in out.columns or tr._var_single_use(v):
            continue  # bound already, or a pattern-only variable
        bound_vars.add(v)
        if v in relmap:
            ids = F.transform(steps_for(relmap[v]),
                              lambda i: F.element_at(F.col("__rels"), i + 1))
            scan = tr._rel_scan(A.RelPat(None), "__gv").drop("__from", "__to")
            tr.kinds[v] = "rellist"
        else:
            # a destination variable, or the iteration's entry node
            ids = (node_stubs(F.col("__ns"), dstmap[v]) if v in dstmap
                   else node_stubs(allns, srcmap[v]))
            scan = tr._node_scan(A.NodePat(None), "__gv")
            tr.kinds[v] = "nodelist"
        out = hydrate(tr, out, ids, scan, "__gv", v)
        out = out.withColumn(v, F.filter(F.col(v), lambda x: x.isNotNull()))

    if part.path_var:
        pvar = part.path_var
        nodes_arr = F.transform(allns, lambda x: F.struct(x.alias("_id")))
        out = out.withColumn(
            pvar, F.struct(nodes_arr.alias("nodes"),
                           F.col("__rels").alias("rels")))
        tr.kinds[pvar] = "path"
    out = out.drop(*_PATH, "__len")
    if part.path_var:
        node_rich, rel_rich = tr._path_use_kinds(part.path_var)
        if rel_rich:
            out = tr._resolve_path_rels(out, part.path_var)
        if node_rich:
            out = tr._resolve_path_nodes(out, part.path_var)
    return out


def hydrate(tr, df: DataFrame, ids: Column, scan: DataFrame, var: str,
            out: str) -> DataFrame:
    """Add array column ``out``: the entries of ``ids`` (structs carrying
    ``_id``) replaced, in order, by the ``var`` struct of ``scan`` with
    the same id — null where ``scan`` has none.  Empty or null ``ids``
    give an empty list.

    One pass for the whole column: pin a row id (both sides of the
    self-join must see the same nondeterministic assignment), posexplode,
    left-join ``scan``, regroup by position."""
    rid = tr._anon_var("hrow")
    df = _pin(df.withColumn(rid, F.monotonically_increasing_id()))
    ex = df.select(rid, F.posexplode_outer(ids).alias("__hpos", "__hid"))
    joined = ex.join(
        scan, F.col("__hid").getField("_id") == F.col(var).getField("_id"),
        "left")
    # collect_list skips the null entry an empty array explodes to
    agg = joined.groupBy(rid).agg(F.transform(
        F.array_sort(F.collect_list(F.when(
            F.col("__hpos").isNotNull(),
            F.struct(F.col("__hpos").alias("o"), F.col(var).alias("v"))))),
        lambda x: x.getField("v")).alias(out))
    return df.join(agg, rid).drop(rid)
