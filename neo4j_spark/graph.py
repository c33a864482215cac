"""Property-graph data model on Spark DataFrames.

The reference (neo4j/neo4j) models a directed multigraph of nodes (labels +
properties) and relationships (one type + properties); see
``community/graphdb-api/src/main/java/org/neo4j/graphdb/Node.java`` and
``.../store/record/RelationshipRecord.java:29-39`` (direction = firstNode ->
secondNode).  We represent the same model columnar-first (SURVEY §1.3):

- per-label node frames  ``{label: DataFrame(id, labels, <props...>)}``
- per-type  rel  frames  ``{type:  DataFrame(id, src, dst, type, <props...>)}``

Keeping the frames sharded by label/type is the scale-critical choice: a
``NodeByLabelScan`` (LogicalPlan.scala:2703) reads exactly one parquet
dataset and Catalyst pushes filters into that scan, instead of filtering a
unified union.  The unified views (``nodes`` / ``rels``) are built lazily by
name-union with null-padding, only for label-less scans.
"""

from __future__ import annotations

from functools import reduce
from typing import Any, Dict, Iterable, List, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from .session import local_frame

NODE_META = ("id", "labels")
REL_META = ("id", "src", "dst", "type")

# User properties may legally carry the same names as the shard meta
# columns (the reference allows any property key — e.g. ``[:R {id: 1}]``,
# CREATE (:A {labels: 'x'})).  Such properties are stored ESCAPED with a
# ``__p_`` prefix so the shard schema stays unambiguous; scans alias them
# back to the user-visible name when building entity structs (the struct
# layer uses ``_id``/``_labels``/... for meta, so no collision there).
# A property that itself starts with ``__p_`` is escaped once more, making
# the mapping invertible.
_PROP_ESC = "__p_"


def esc_prop(name: str, meta: Sequence[str]) -> str:
    """Storage column name for property ``name`` on a shard with ``meta``
    columns."""
    if name in meta or name.startswith(_PROP_ESC):
        return _PROP_ESC + name
    return name


def unesc_prop(col: str) -> str:
    """User-visible property name for stored column ``col``."""
    if col.startswith(_PROP_ESC):
        return col[len(_PROP_ESC):]
    return col


EMPTY_NODE_SCHEMA = "id long, labels array<string>"
EMPTY_REL_SCHEMA = "id long, src long, dst long, type string"


def _empty_frame(schema: str) -> DataFrame:
    spark = SparkSession.getActiveSession()
    return local_frame(spark, [], schema)


def _union_by_name(frames: Sequence[DataFrame],
                   empty_schema: str = EMPTY_NODE_SCHEMA) -> DataFrame:
    if not frames:
        return _empty_frame(empty_schema)
    if len(frames) == 1:
        return frames[0]
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), frames)


class PropertyGraph:
    """A property graph = sharded node frames + sharded relationship frames.

    Node frame schema: ``id: long, labels: array<string>, <prop cols...>``
    Rel  frame schema: ``id: long, src: long, dst: long, type: string, <prop cols...>``
    """

    def __init__(
        self,
        node_frames: Dict[str, DataFrame],
        rel_frames: Dict[str, DataFrame],
        rel_endpoint_labels: Optional[Dict[str, tuple]] = None,
        rel_shards: Optional[Dict[str, list]] = None,
        node_key_props: Optional[Dict[str, tuple]] = None,
    ) -> None:
        self.node_frames = dict(node_frames)
        self.rel_frames = dict(rel_frames)
        # Shard decomposition of a multi-source rel frame:
        #   type -> [(src_label, dst_label, frame), ...]
        # declared by the source builder when rel_frames[type] is a union
        # of per-endpoint-label shards AND every endpoint node carries
        # EXACTLY its declared label (single-label world).  A typed scan
        # whose pattern binds an endpoint label then reads only the
        # matching shards (half the FROM_NATION bytes at any scale)
        # instead of the whole union + an endpoint-node filter join.
        # Soundness guards: pruning is skipped as soon as (a) any label
        # mutation is recorded (_extra_labels — a node could then carry a
        # label its shard does not declare) or (b) a write replaced the
        # whole-type frame (identity check against _rel_shard_whole —
        # the shard list would be stale).
        self.rel_shards = dict(rel_shards or {})
        self._rel_shard_whole = {
            t: self.rel_frames[t] for t in self.rel_shards
            if t in self.rel_frames
        }
        # optional schema declaration: rel type -> (src_label, dst_label)
        # guarantees (None = unconstrained end).  The translator uses it to
        # elide node-frame scans for label-implied endpoints — the Spark
        # analog of the reference's relationship-type constraints
        # (ConstraintType.RELATIONSHIP_PROPERTY_TYPE family) feeding the
        # planner.  At 100 TB this turns a 3-table hop into a single rel
        # scan when the node frames aren't otherwise referenced.
        self.rel_endpoint_labels = dict(rel_endpoint_labels or {})
        # optional key-property declaration: label -> (prop, id_offset)
        # guaranteeing node[prop] == id - id_offset (BIGINT) for every
        # node of that label in the DECLARED frame.  The translator uses
        # it to derive key-property reads on elided endpoints from the
        # edge-end id instead of joining the node frame — at 100 TB a
        # ``count(DISTINCT o.orderkey)`` over a rel scan then never
        # touches the orders table.  Declared by the source builder
        # (which mints the ids), never inferred.  Validity is checked
        # through :meth:`key_prop_of`: voided per label by any label
        # mutation or by a write replacing the declared frame (the same
        # object-identity guard as rel_shards — created nodes get
        # engine-minted ids for which the bijection does not hold).
        self.node_key_props = dict(node_key_props or {})
        self._node_key_whole = {
            l: self.node_frames[l] for l in self.node_key_props
            if l in self.node_frames}
        # labels added by SET/CREATE that are not shard keys: scans for them
        # must fall back to a full union filter instead of shard pruning
        self._extra_labels: set = set()
        # token-creation procedures (BuiltInProcedures.java db.createLabel /
        # db.createProperty / db.createRelationshipType): tokens exist in
        # the catalog before any entity uses them
        self._token_labels: set = set()
        self._token_rel_types: set = set()
        self._token_props: set = set()
        # tx.setMetaData / tx.getMetaData (TransactionProcedures): a
        # session-scoped attachment, surfaced verbatim
        self._tx_metadata: Dict[str, Any] = {}
        self._write_epoch = 0
        # count store (NodeCountFromCountStore LP:2748 /
        # RelationshipCountFromCountStore LP:3466): the reference maintains
        # label/type cardinalities transactionally; here they are computed
        # lazily from the (immutable) snapshot frames and memoized per
        # write epoch — repeated count queries become O(1) driver lookups
        self._count_memo: Dict = {}
        # fulltext inverted-index registry (FulltextProcedures.java):
        # index name -> {"path": parquet dir, "prop": property key}.
        # Built by db.index.fulltext.createNodeIndex, consulted by
        # queryNodes — term-sorted parquet so the term filter prunes row
        # groups (the 100 TB path; un-indexed queries fall back to a scan)
        self.fulltext_indexes: Dict[str, Dict] = {}

    def key_prop_of(self, label: str):
        """(prop, id_offset) when ``node[prop] == id - id_offset`` still
        holds for every node carrying ``label``; None otherwise.  The
        declaration is voided per label by a recorded label mutation
        (a foreign node could now carry the label) or by a write that
        replaced the declared frame (created/updated nodes do not mint
        ids through the source's bijection)."""
        kp = self.node_key_props.get(label)
        if kp is None or label in self._extra_labels:
            return None
        if self.node_frames.get(label) is not self._node_key_whole.get(label):
            return None
        return kp

    def note_extra_label(self, label: str) -> None:
        """Mark ``label`` as stored outside its own shard (secondary label
        of a CREATE, or added by SET).  Scans for it must fall back to the
        full union filter — even when a shard with that name exists, since
        the shard is no longer complete for the label."""
        self._extra_labels.add(label)

    def derive_extra_labels(self) -> "PropertyGraph":
        """Register every label carried by a node OUTSIDE its own shard.

        Loaders that build frames from external data (CSV import, a
        stored graph) cannot know whether a shard's rows carry secondary
        labels; without registration a scan for such a label would trust
        the (incomplete or missing) same-named shard and drop nodes.
        One small distinct-labels job per frame at load time — the data
        itself is the ground truth, so labels added by SET before a
        save/load round-trip are recovered too.  Single-label frames
        contribute nothing, keeping shard pruning / key elision armed."""
        for lbl, df in self.node_frames.items():
            found = [r[0] for r in df.select(
                F.explode(F.col("labels")).alias("__l")).distinct().collect()]
            for x in found:
                if x != lbl and x != "_none":
                    self.note_extra_label(x)
        return self

    def copy(self) -> "PropertyGraph":
        """Cheap snapshot: shares the (immutable) frames, isolates writes."""
        g = PropertyGraph(self.node_frames, self.rel_frames,
                          self.rel_endpoint_labels, self.rel_shards,
                          node_key_props=self.node_key_props)
        # preserve the ORIGINAL shard-union/key-frame identities:
        # recomputing them from the current frames would re-bless a
        # write-replaced frame as "the declared one" and re-enable
        # pruning/derivation against stale data
        g._rel_shard_whole = dict(self._rel_shard_whole)
        g._node_key_whole = dict(self._node_key_whole)
        g._extra_labels = set(self._extra_labels)
        g._write_epoch = self._write_epoch
        # entries valid for the shared snapshot; dicts diverge after writes
        g._count_memo = dict(self._count_memo)
        g.fulltext_indexes = dict(self.fulltext_indexes)
        g._token_labels = set(self._token_labels)
        g._token_rel_types = set(self._token_rel_types)
        g._token_props = set(self._token_props)
        g._tx_metadata = dict(self._tx_metadata)
        return g

    def state_snapshot(self) -> tuple:
        """Capture the mutable write state.  Shard frames are immutable
        values — a write replaces dict entries, never mutates a frame —
        so a shallow dict/set copy is a complete transactional snapshot.
        Used by CALL {} IN TRANSACTIONS to roll a failed batch back
        (TransactionApply LP:4039 ON ERROR semantics,
        CallInTransactionsErrorHandling.feature)."""
        return (dict(self.node_frames), dict(self.rel_frames),
                dict(self.rel_endpoint_labels), set(self._extra_labels),
                self._write_epoch, dict(self._count_memo),
                set(self._token_labels), set(self._token_rel_types),
                set(self._token_props), dict(self.fulltext_indexes),
                dict(self._tx_metadata))

    def restore_state(self, snap: tuple) -> None:
        """Roll back to a :meth:`state_snapshot` (same graph object, so
        every holder of the reference sees the rollback)."""
        (self.node_frames, self.rel_frames, self.rel_endpoint_labels,
         self._extra_labels, self._write_epoch, self._count_memo,
         self._token_labels, self._token_rel_types, self._token_props,
         self.fulltext_indexes, self._tx_metadata) = (
            dict(snap[0]), dict(snap[1]), dict(snap[2]), set(snap[3]),
            snap[4], dict(snap[5]), set(snap[6]), set(snap[7]),
            set(snap[8]), dict(snap[9]), dict(snap[10]))

    # ---- scans (leaf operators, SURVEY §2.1) ----------------------------

    @property
    def nodes(self) -> DataFrame:
        """AllNodesScan (LogicalPlan.scala:767): union of every label shard."""
        return _union_by_name(list(self.node_frames.values()))

    @property
    def rels(self) -> DataFrame:
        """DirectedAllRelationshipsScan (LogicalPlan.scala:1331)."""
        return _union_by_name(list(self.rel_frames.values()),
                              EMPTY_REL_SCHEMA)

    def nodes_for_labels(self, labels: Sequence[str]) -> DataFrame:
        """NodeByLabelScan / IntersectionNodeByLabelsScan: nodes having ALL
        of ``labels``.  Prunes to the shards whose label set matches, so the
        scan touches only the relevant parquet."""
        if not labels:
            return self.nodes
        if any(l in self._extra_labels for l in labels):
            # mutated label: shard keys no longer cover it — full union filter
            cands = [self.nodes]
        else:
            cands = [
                df for lbl, df in self.node_frames.items() if lbl in labels
            ]
        if not cands:
            # label unknown to the catalog -> empty frame with unified schema
            return self.nodes.limit(0)
        df = _union_by_name(cands)
        cond = reduce(
            lambda a, b: a & b, [F.array_contains(F.col("labels"), l) for l in labels]
        )
        return df.filter(cond)

    def nodes_for_any_labels(self, labels: Sequence[str]) -> DataFrame:
        """UnionNodeByLabelsScan (LP:4748): nodes having ANY of ``labels``.

        No per-id dedup: the storage invariant is that every node lives in
        exactly ONE shard (its first-label frame; secondary labels are
        recorded in ``_extra_labels`` and force the full-union fallback
        here), so the selected frames are disjoint by construction — the
        same invariant AllNodesScan (``nodes``) and ``nodes_for_labels``
        already rely on for correct cardinality.  The old
        ``dropDuplicates(["id"])`` compiled to a sort-based aggregate
        (``first()`` over the array-typed labels column cannot hash-agg)
        costing a full exchange of the scan for rows that were already
        unique."""
        if any(l in self._extra_labels for l in labels):
            cands = [self.nodes]
        else:
            cands = [df for lbl, df in self.node_frames.items() if lbl in labels]
        if not cands:
            return self.nodes.limit(0)
        df = _union_by_name(cands)
        cond = reduce(
            lambda a, b: a | b, [F.array_contains(F.col("labels"), l) for l in labels]
        )
        return df.filter(cond)

    def rels_for_types(self, types: Sequence[str],
                       src_labels: Optional[Sequence[str]] = None,
                       dst_labels: Optional[Sequence[str]] = None) -> DataFrame:
        """DirectedRelationshipTypeScan (LP:1732) / Union variant (LP:1841).

        ``src_labels`` / ``dst_labels``: alternative-label knowledge for the
        edge endpoints (None = unknown).  Types declared in ``rel_shards``
        prune to the shards whose endpoint label is among the
        alternatives — the label predicate is enforced on the rowstream
        independently, so pruning only removes rows that could never
        survive it (see __init__ for the soundness guards)."""
        if not types:
            return self.rels
        cands = [self._pruned_rel_frame(t, df, src_labels, dst_labels)
                 for t, df in self.rel_frames.items() if t in types]
        if not cands:
            return self.rels.limit(0)
        return _union_by_name(cands, EMPTY_REL_SCHEMA)

    def _shard_pruning_ok(self, t: str) -> bool:
        """True when shard-label pruning of type ``t`` is sound: shards
        declared, no label mutations anywhere, and the whole-type frame
        is still the declared union (writes replace dict entries, which
        breaks the identity on purpose)."""
        return (t in self.rel_shards and not self._extra_labels
                and self.rel_frames.get(t) is self._rel_shard_whole.get(t))

    def _pruned_rel_frame(self, t, df, src_labels, dst_labels):
        """The scan frame for type ``t`` given endpoint-label knowledge;
        ``df.limit(0)`` when no shard can match (keeps the type's exact
        schema so downstream struct fields are unchanged)."""
        if (src_labels is None and dst_labels is None) \
                or not self._shard_pruning_ok(t):
            return df
        kept = [
            f for (s, d, f) in self.rel_shards[t]
            if (src_labels is None or s is None or s in src_labels)
            and (dst_labels is None or d is None or d in dst_labels)
        ]
        if len(kept) == len(self.rel_shards[t]):
            return df
        if not kept:
            return df.limit(0)
        return _union_by_name(kept, EMPTY_REL_SCHEMA)

    def shard_endpoint_guarantee(self, t: str, end_idx: int,
                                 label: str) -> bool:
        """True iff a scan of type ``t`` pruned on ``label`` at endpoint
        ``end_idx`` (0 = src, 1 = dst) is guaranteed to contain ONLY
        edges whose that endpoint carries exactly ``label`` — i.e. every
        shard either declares that label there or is pruned away.  Lets
        the translator elide the endpoint node-frame join for types whose
        union-level declaration is a tuple of alternatives."""
        if not self._shard_pruning_ok(t):
            return False
        # after pruning on {label}, a shard remains iff its declared end
        # is ``label`` or None (unconstrained); only the latter can leak
        # a different label
        return all(sh[end_idx] is not None for sh in self.rel_shards[t])

    # ---- count store (LP:2748 / LP:3466) --------------------------------

    def count_nodes(self, label: Optional[str] = None) -> int:
        """Node cardinality, memoized per write epoch (the count-store
        analog of ``countStorePlanner.scala``'s node lookup)."""
        key = ("n", label, self._write_epoch)
        if key not in self._count_memo:
            df = self.nodes_for_labels([label]) if label else self.nodes
            self._count_memo[key] = df.count()
        return self._count_memo[key]

    def count_rels(self, rtype: Optional[str] = None) -> int:
        """Relationship cardinality by type, memoized per write epoch."""
        key = ("r", rtype, self._write_epoch)
        if key not in self._count_memo:
            df = self.rels_for_types([rtype]) if rtype else self.rels
            self._count_memo[key] = df.count()
        return self._count_memo[key]

    # ---- catalog helpers (db.labels / db.relationshipTypes procedures) ---

    def labels(self) -> List[str]:
        return sorted(set(self.node_frames) | self._token_labels)

    def relationship_types(self) -> List[str]:
        return sorted(set(self.rel_frames) | self._token_rel_types)

    def node_property_keys(self) -> List[str]:
        keys: set = set()
        for df in self.node_frames.values():
            keys.update(unesc_prop(c) for c in df.columns
                        if c not in NODE_META)
        keys.update(self._token_props)
        return sorted(keys)

    # ---- persistence ----------------------------------------------------

    def write(self, path: str, mode: str = "overwrite") -> None:
        for lbl, df in self.node_frames.items():
            df.write.mode(mode).parquet(f"{path}/nodes/{lbl}")
        for t, df in self.rel_frames.items():
            df.write.mode(mode).parquet(f"{path}/rels/{t}")

    @staticmethod
    def read(spark: SparkSession, path: str) -> "PropertyGraph":
        import os

        node_frames = {}
        rel_frames = {}
        for lbl in os.listdir(f"{path}/nodes"):
            node_frames[lbl] = spark.read.parquet(f"{path}/nodes/{lbl}")
        for t in os.listdir(f"{path}/rels"):
            rel_frames[t] = spark.read.parquet(f"{path}/rels/{t}")
        return PropertyGraph(node_frames, rel_frames).derive_extra_labels()


def graph_from_frames(
    spark: SparkSession,
    nodes: Iterable[dict],
    rels: Iterable[dict],
) -> PropertyGraph:
    """Build a small literal graph for tests (FIXTURES §4 micro-graphs).

    ``nodes``: dicts with keys id, labels (list[str]) and properties.
    ``rels``:  dicts with keys id, src, dst, type and properties.
    """
    node_rows = list(nodes)
    rel_rows = list(rels)

    def infer(rows, meta):
        # group rows by label/type so each shard has a tight schema
        frames: Dict[str, List[dict]] = {}
        for r in rows:
            key = (r["labels"][0] if r.get("labels") else "_none") if meta == NODE_META else r["type"]
            frames.setdefault(key, []).append(r)
        return frames

    import pandas as pd

    node_frames = {}
    for lbl, rows in infer(node_rows, NODE_META).items():
        keys: List[str] = []
        for r in rows:
            for k in r:
                if k not in keys:
                    keys.append(k)
        norm = [{k: r.get(k) for k in keys} for r in rows]
        node_frames[lbl] = spark.createDataFrame(pd.DataFrame(norm))
    rel_frames = {}
    for t, rows in infer(rel_rows, REL_META).items():
        keys = []
        for r in rows:
            for k in r:
                if k not in keys:
                    keys.append(k)
        norm = [{k: r.get(k) for k in keys} for r in rows]
        rel_frames[t] = spark.createDataFrame(pd.DataFrame(norm))
    g = PropertyGraph(node_frames, rel_frames)
    # a multi-label node is sharded under its FIRST label only — register
    # the rest as extra labels so label scans for them fall back to the
    # full-union filter instead of (wrongly) trusting a same-named shard
    for r in node_rows:
        for extra in (r.get("labels") or [])[1:]:
            g.note_extra_label(extra)
    return g


class GraphCatalog:
    """Named-graph catalog for composite (multi-graph) queries.

    The reference's query router resolves a ``USE <graph>`` target against
    the database/graph catalog and executes the (sub)query against it
    (``community/fabric/query-router/.../QueryRouterImpl.java``, logical
    plan ``RunQueryAt`` LP:3559).  Here the catalog is an in-session map
    of name -> :class:`PropertyGraph`; ``cypher()`` accepts it wherever a
    single graph is accepted, and the translator re-targets scans when a
    ``USE`` clause (query head, UNION branch head, or CALL {} subquery
    head) selects a constituent.  Names are dot-separated and
    case-insensitive, matching the reference's symbolic graph names.
    """

    def __init__(self, graphs: Dict[str, PropertyGraph],
                 default: Optional[str] = None) -> None:
        if not graphs:
            raise ValueError("GraphCatalog requires at least one graph")
        self.graphs = {k.lower(): v for k, v in graphs.items()}
        self.default = (default or next(iter(graphs))).lower()
        if self.default not in self.graphs:
            raise ValueError(f"default graph '{default}' not in catalog")

    def resolve(self, name: str) -> PropertyGraph:
        g = self.graphs.get(name.lower())
        if g is None:
            known = ", ".join(sorted(self.graphs))
            raise KeyError(
                f"graph '{name}' not found in catalog (known: {known})")
        return g

    @property
    def default_graph(self) -> PropertyGraph:
        return self.graphs[self.default]
