"""Updating operators: CREATE / MERGE / SET / REMOVE / DELETE (SURVEY §2.10).

The reference executes writes as pipes over a transactional store
(``pipes/CreatePipe.scala:45``, ``pipes/MergePipe.scala:31``,
``pipes/SetPipe.scala:26`` + ``SetOperation.scala``,
``pipes/DeletePipe.scala:34``).  In a batch engine a write is a staged
DataFrame rewrite of the graph's shard frames (SURVEY §2.10 Spark mapping):

- CREATE  -> append a delta frame to the label/type shard
- SET     -> join shard with an (id, value) mapping, conditional overwrite
- REMOVE  -> same, writing NULL / array_except on labels
- DELETE  -> anti-join removal; DETACH also removes incident rels; plain
             DELETE of a still-connected node raises (constraint check,
             like the reference's NodeEntity.delete)
- MERGE   -> left join against the pattern; per *distinct* missing key one
             row is created (the batch rendering of MERGE's
             match-or-create-once semantics), then ON MATCH / ON CREATE
             SET items are applied to their halves.

Scale notes: deltas are ``localCheckpoint``-ed — they are tiny relative to
the store and freezing them keeps allocated ids stable across downstream
actions; shard rewrites stay lazy (one columnar rewrite when persisted).
New ids are ``monotonically_increasing_id`` under a per-statement epoch
base — partition-parallel, no global window.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Tuple

from pyspark.sql import Column, DataFrame, functions as F

from ..cypher import ast as A
from ..graph import NODE_META, REL_META, esc_prop
from ..session import local_frame

WRITE_BASE = 900 * 10**12
EPOCH_SPAN = 10**9

EFFECT_KEYS = ("nodes_created", "rels_created", "props_set", "labels_added",
               "labels_removed", "nodes_deleted", "rels_deleted")


def _epoch_base(tr) -> int:
    epoch = getattr(tr.graph, "_write_epoch", 0)
    tr.graph._write_epoch = epoch + 1
    return WRITE_BASE + epoch * EPOCH_SPAN


def _ensure_effects(tr) -> Dict[str, int]:
    if not hasattr(tr, "effects"):
        tr.effects = {k: 0 for k in EFFECT_KEYS}
    return tr.effects


def effects_frame(tr) -> DataFrame:
    eff = _ensure_effects(tr)
    return local_frame(tr.spark, [tuple(eff[k] for k in EFFECT_KEYS)],
                       ", ".join(f"{k} long" for k in EFFECT_KEYS))


# ---- CREATE ---------------------------------------------------------------


def _check_rebind(tr, df: Optional[DataFrame], part: A.PatternPart) -> None:
    """A CREATE/MERGE pattern may reference an already-bound variable but
    cannot impose NEW labels or properties on it (the reference's
    VariableAlreadyBound error, MergeLegacyAcceptance)."""
    seen = set(df.columns) if df is not None else set()
    for el in part.elements:
        v = getattr(el, "var", None)
        if v is None:
            continue
        if isinstance(el, A.RelPat) and v in seen:
            # a CREATE/INSERT relationship is always NEW — its variable
            # can never be one already bound (InsertAcceptance [23],
            # 'Fail when inserting a relationship that is already bound')
            raise ValueError(
                f"Variable `{v}` already declared — a CREATE/INSERT "
                "relationship variable must be new "
                "(VariableAlreadyBound)")
        labeled = bool(getattr(el, "labels", None)) \
            or getattr(el, "props", None) is not None
        if v in seen and labeled and isinstance(el, A.NodePat):
            raise ValueError(
                f"the variable `{v}` is already bound — a CREATE/MERGE "
                "pattern cannot impose new labels or properties on it "
                "(VariableAlreadyBound)")
        seen.add(v)
    if (len(part.elements) == 1
            and isinstance(part.elements[0], A.NodePat)):
        v = part.elements[0].var
        if v is not None and df is not None and v in df.columns:
            # a STANDALONE node pattern re-using a bound variable would
            # re-create an existing node (InsertAcceptance [21]); with
            # relationships around it the bound endpoint is legal
            raise ValueError(
                f"Variable `{v}` already declared (VariableAlreadyBound)")


def _lower_part_props(tr, df: DataFrame, part: A.PatternPart):
    """Lower pattern comprehensions / subquery expressions inside CREATE
    and MERGE property maps (the expression compiler requires them
    pre-lowered; MergeLegacyAcceptance 'pattern comprehension in MERGE')."""
    import dataclasses

    new_els, changed = [], False
    for el in part.elements:
        props = getattr(el, "props", None)
        if props is not None:
            items = []
            for k, v in props.items:
                df, nv = tr._lower_all(df, v)
                changed = changed or (nv is not v)
                items.append((k, nv))
            if changed:
                el = dataclasses.replace(el, props=A.MapLit(items))
        new_els.append(el)
    if changed:
        part = dataclasses.replace(part, elements=new_els)
    return df, part


def apply_create(tr, df: Optional[DataFrame], clause: A.Create) -> DataFrame:
    _ensure_effects(tr)
    if df is None:
        df = tr.spark.range(1).select(F.lit(1).alias("__one"))
    for part in clause.parts:
        _check_rebind(tr, df, part)
        df, part = _lower_part_props(tr, df, part)
        df = _create_part(tr, df, part)
    return df


def _props_struct(tr, df: DataFrame, props: Optional[A.MapLit]) -> List[Tuple[str, Column]]:
    if props is None:
        return []
    cc = tr._compiler(df)
    return [(k, cc.compile(v)) for k, v in props.items]


def _create_part(tr, df: DataFrame, part: A.PatternPart) -> DataFrame:
    els = part.elements
    df, prev = _create_or_ref_node(tr, df, els[0])
    i = 1
    while i < len(els):
        rp: A.RelPat = els[i]
        np: A.NodePat = els[i + 1]
        df, nvar = _create_or_ref_node(tr, df, np)
        df = _create_rel(tr, df, rp, prev, nvar)
        prev = nvar
        i += 2
    return df


def _tree_has_dyn(t) -> bool:
    if not isinstance(t, tuple):
        return False
    if t[0] == "dyn":
        return True
    return any(_tree_has_dyn(c) for c in t[1:])


def _split_dyn_conj(tree):
    """Split a label-expression tree into (static names, dynamic exprs).
    Only conjunctions are meaningful for CREATE (a created node has a
    definite label set)."""
    static: List[str] = []
    dyn: List[A.Expr] = []

    def walk(t):
        if t[0] == "and":
            walk(t[1])
            walk(t[2])
        elif t[0] == "label":
            static.append(t[1])
        elif t[0] == "dyn":
            dyn.append(t[1])
        else:
            raise ValueError(
                "dynamic label expressions in CREATE support only "
                "conjunctions of labels")

    walk(tree)
    return static, dyn


_DYN_LABEL_CAP = 1000


def _dyn_labels_col(tr, df: DataFrame, static: List[str],
                    dyn: List[A.Expr]) -> Column:
    """array<string> of a row's labels from static names + $(expr) values
    (a string expr contributes one label, an array expr all of its
    elements), deduplicated, order: static first."""
    from pyspark.sql import types as T
    cc = tr._compiler(df)
    arrs = []
    if static:
        arrs.append(F.array(*[F.lit(l) for l in static]))
    for e in dyn:
        col = cc.compile(e)
        t = df.select(col.alias("__x")).schema[0].dataType
        if isinstance(t, T.ArrayType):
            arrs.append(col.cast("array<string>"))
        else:
            arrs.append(F.array(col.cast("string")))
    out = arrs[0]
    for a in arrs[1:]:
        out = F.concat(out, a)
    return F.array_distinct(F.filter(out, lambda x: x.isNotNull()))


def _collect_capped(df: DataFrame, col: Column, what: str) -> List[str]:
    """Distinct values of ``col``, driver-side, hard-capped: label/type
    cardinality is inherently small (labels become shards), so the collect
    is bounded; exceeding the cap is a modeling error, not a scale path."""
    rows = df.select(col.alias("__v")).dropDuplicates() \
             .limit(_DYN_LABEL_CAP + 1).collect()
    if len(rows) > _DYN_LABEL_CAP:
        raise ValueError(
            f"more than {_DYN_LABEL_CAP} distinct {what} from a dynamic "
            "label expression — labels are shard keys and must stay "
            "low-cardinality")
    return [r["__v"] for r in rows if r["__v"] is not None]


def _enforce_node_uniqueness(tr, delta: DataFrame) -> None:
    """UNIQUE / NODE KEY enforcement at write time (the reference's
    ConstraintValidationFailed: CreateBlockedByConstraint,
    ConstraintAcceptance.feature): a created node whose key collides
    with an existing node — or with another node created in the same
    delta — raises before the delta is committed to the shard.  Runs
    only when a matching constraint is registered, so unconstrained
    graphs pay nothing; rows with a null key are exempt (uniqueness
    ignores null, IndexEntryConflictException semantics)."""
    cons = getattr(tr.graph, "schema_constraints", None)
    if not cons:
        return
    for c in cons.values():
        if c.get("entityType") != "NODE" or c.get("type") not in (
                "UNIQUE", "NODE KEY", "KEY"):
            continue
        label = c["labelsOrTypes"][0]
        props = [esc_prop(p, NODE_META) for p in c["properties"]]
        if any(p not in delta.columns for p in props):
            continue  # created without the key property: nothing to clash
        cand = delta.filter(F.array_contains(F.col("labels"), label))
        for p in props:
            cand = cand.filter(F.col(p).isNotNull())
        desc = (f":{label}(" + ", ".join(c["properties"]) + ")")
        if cand.groupBy(*props).agg(F.count(F.lit(1)).alias("__c")) \
               .filter(F.col("__c") > 1).limit(1).count():
            raise ValueError(
                f"ConstraintValidationFailed: cannot create nodes — two "
                f"created nodes share a {c['type']} key on {desc} "
                "(CreateBlockedByConstraint)")
        existing = tr.graph.nodes_for_labels([label])
        if any(p not in existing.columns for p in props):
            continue
        clash = existing.select(*props).dropna().join(
            cand.select(*props).dropDuplicates(), props).limit(1).count()
        if clash:
            raise ValueError(
                f"ConstraintValidationFailed: cannot create node — a node "
                f"with the same {c['type']} key already exists on {desc} "
                "(CreateBlockedByConstraint)")


def _create_or_ref_node(tr, df: DataFrame, np: A.NodePat) -> Tuple[DataFrame, str]:
    var = np.var or tr._anon_var("cn")
    if var in df.columns:
        return df, var
    base = _epoch_base(tr)
    tree = getattr(np, "label_tree", None)
    dynamic = tree is not None and _tree_has_dyn(tree)
    prop_cols = _props_struct(tr, df, np.props)
    df = df.withColumn("__newid", F.lit(base) + F.monotonically_increasing_id())
    df = df.localCheckpoint(eager=True)  # freeze allocated ids
    if dynamic:
        # row-dependent $(expr) labels: per-row label array, rows routed
        # to the shard of their FIRST label (same single-home design as
        # static multi-label CREATE; secondary labels -> extra-label scan
        # fallback)
        static, dyn = _split_dyn_conj(tree)
        labels_arr = _dyn_labels_col(tr, df, static, dyn)
    else:
        labels = list(np.labels) or ["_none"]
        labels_arr = F.array(*[F.lit(l) for l in labels])
    struct = F.struct(
        F.col("__newid").alias("_id"),
        labels_arr.alias("_labels"),
        *[c.alias(k) for k, c in prop_cols])
    df = df.withColumn(var, struct).drop("__newid")
    delta = df.select(
        F.col(var).getField("_id").alias("id"),
        F.col(var).getField("_labels").alias("labels"),
        *[F.col(var).getField(k).alias(esc_prop(k, NODE_META))
          for k, _ in prop_cols])
    if dynamic:
        delta = delta.localCheckpoint(eager=True)
        _enforce_node_uniqueness(tr, delta)
        firsts = _collect_capped(
            delta, F.element_at("labels", 1), "first labels")
        for shard in firsts:
            sub = delta.filter(F.element_at("labels", 1) == shard)
            old = tr.graph.node_frames.get(shard)
            tr.graph.node_frames[shard] = (
                sub if old is None
                else old.unionByName(sub, allowMissingColumns=True))
        # labels appearing beyond position 1 live outside their shard
        for extra in _collect_capped(
                delta.select(F.explode(F.expr(
                    "slice(labels, 2, greatest(size(labels) - 1, 0))"
                )).alias("l")), F.col("l"), "secondary labels"):
            tr.graph.note_extra_label(extra)
        tr.effects["nodes_created"] += delta.count()
        tr.kinds[var] = "node"
        return df, var
    labels = list(np.labels) or ["_none"]
    shard = labels[0]
    # freeze the delta: evaluates every property expression NOW, so (a)
    # runtime errors surface inside the writing statement — the batch
    # isolation point for CALL {} IN TRANSACTIONS ON ERROR — instead of
    # at a later read (delta.count() alone would column-prune them away),
    # and (b) nondeterministic props (randomUUID) are computed once
    delta = delta.localCheckpoint(eager=True)
    _enforce_node_uniqueness(tr, delta)
    old = tr.graph.node_frames.get(shard)
    tr.graph.node_frames[shard] = (
        delta if old is None
        else old.unionByName(delta, allowMissingColumns=True))
    for extra in labels[1:]:
        tr.graph.note_extra_label(extra)
    tr.effects["nodes_created"] += delta.count()
    tr.kinds[var] = "node"
    return df, var


def _create_rel(tr, df: DataFrame, rp: A.RelPat, prev: str, nvar: str) -> DataFrame:
    if len(rp.types) != 1:
        raise ValueError("CREATE relationship requires exactly one type")
    if rp.direction == "both":
        raise ValueError("CREATE relationship requires a direction")
    rtype = rp.types[0]
    rvar = rp.var or tr._anon_var("cr")
    base = _epoch_base(tr)
    prop_cols = _props_struct(tr, df, rp.props)
    src_var, dst_var = (prev, nvar) if rp.direction == "out" else (nvar, prev)
    df = df.withColumn("__newrid", F.lit(base) + F.monotonically_increasing_id())
    df = df.localCheckpoint(eager=True)
    struct = F.struct(
        F.col("__newrid").alias("_id"),
        F.col(src_var).getField("_id").alias("_src"),
        F.col(dst_var).getField("_id").alias("_dst"),
        F.lit(rtype).alias("_type"),
        *[c.alias(k) for k, c in prop_cols])
    df = df.withColumn(rvar, struct).drop("__newrid")
    delta = df.select(
        F.col(rvar).getField("_id").alias("id"),
        F.col(rvar).getField("_src").alias("src"),
        F.col(rvar).getField("_dst").alias("dst"),
        F.col(rvar).getField("_type").alias("type"),
        *[F.col(rvar).getField(k).alias(esc_prop(k, REL_META))
          for k, _ in prop_cols])
    # freeze the delta (see _create_or_ref_node: surfaces property-expr
    # errors at write time, computes nondeterministic props once)
    delta = delta.localCheckpoint(eager=True)
    old = tr.graph.rel_frames.get(rtype)
    tr.graph.rel_frames[rtype] = (
        delta if old is None
        else old.unionByName(delta, allowMissingColumns=True))
    # created rels may point anywhere — the declared endpoint-label
    # guarantee for this type no longer holds
    tr.graph.rel_endpoint_labels.pop(rtype, None)
    tr.effects["rels_created"] += delta.count()
    tr.kinds[rvar] = "rel"
    return df


# ---- SET / REMOVE ---------------------------------------------------------


def apply_set(tr, df: DataFrame, items: List[A.SetItem]) -> DataFrame:
    _ensure_effects(tr)
    tr.graph._write_epoch += 1  # invalidate count-store memo
    for it in items:
        df = _set_item(tr, df, it)
    return df


def apply_remove(tr, df: DataFrame, items: List[A.SetItem]) -> DataFrame:
    _ensure_effects(tr)
    tr.graph._write_epoch += 1  # invalidate count-store memo
    for it in items:
        if isinstance(it.target, A.HasLabels):
            df = _mutate_labels(tr, df, it.target, add=False)
        else:
            df = _set_item(tr, df, A.SetItem(it.target, A.Lit(None), "set"))
    return df


def _set_item(tr, df: DataFrame, it: A.SetItem) -> DataFrame:
    if it.op == "add_labels":
        return _mutate_labels(tr, df, it.target, add=True)
    if it.op in ("merge_map", "replace_map"):
        var = it.target.name
        src = it.value
        if isinstance(src, A.MapLit):
            items = list(src.items)
        elif isinstance(src, A.Var) and tr.kinds.get(src.name) in ("node", "rel"):
            # SET t = s / t += s: copy the bound entity's properties
            # (SetPropertiesFromMap over NodeValue/RelationshipValue)
            st = df.schema[src.name].dataType
            items = [(f.name, A.Prop(A.Var(src.name), f.name))
                     for f in st.fields if not f.name.startswith("_")]
        elif isinstance(src, A.Param) and isinstance(
                tr.params.get(src.name), dict):
            # SET n += $props with a map parameter
            items = [(k, A.Lit(v)) for k, v in tr.params[src.name].items()]
        else:
            raise ValueError(
                "SET var = / += expects a map literal, a bound entity, "
                "or a map parameter")
        if it.op == "replace_map":
            df = _clear_props(tr, df, var)
        for k, v in items:
            df = _set_item(tr, df, A.SetItem(A.Prop(A.Var(var), k), v, "set"))
        return df
    # plain `n.key = expr`
    assert isinstance(it.target, A.Prop) and isinstance(it.target.subject, A.Var)
    var, key = it.target.subject.name, it.target.key
    kind = tr.kinds.get(var)
    # the value may contain subquery expressions — SET n.p = EXISTS {…}
    # (ExistsExpressionAcceptance 'Can set a property to the value of an
    # exists expression') — which must be lowered to columns first
    df, value_e = tr._lower_all(df, it.value)
    val = tr._compiler(df).compile(value_e)
    df = df.withColumn("__setval", val)
    mapping = df.select(F.col(var).getField("_id").alias("__tid"),
                        F.col("__setval")).dropDuplicates(["__tid"]) \
                .localCheckpoint(eager=True)
    frames = tr.graph.rel_frames if kind == "rel" else tr.graph.node_frames
    skey = esc_prop(key, REL_META if kind == "rel" else NODE_META)
    for name, frame in list(frames.items()):
        joined = frame.join(mapping, frame["id"] == mapping["__tid"], "left")
        old = F.col(skey) if skey in frame.columns else F.lit(None)
        frames[name] = joined.withColumn(
            skey, F.when(F.col("__tid").isNotNull(), F.col("__setval"))
                   .otherwise(old)).drop("__tid", "__setval")
    tr.effects["props_set"] += mapping.count()
    # the bound struct sees the new value for the rest of the statement
    df = df.withColumn(var, F.col(var).withField(key, F.col("__setval")))
    return df.drop("__setval")


def _clear_props(tr, df: DataFrame, var: str) -> DataFrame:
    kind = tr.kinds.get(var)
    meta = ("id", "src", "dst", "type") if kind == "rel" else ("id", "labels")
    ids = df.select(F.col(var).getField("_id").alias("__tid")) \
            .dropDuplicates().localCheckpoint(eager=True)
    frames = tr.graph.rel_frames if kind == "rel" else tr.graph.node_frames
    for name, frame in list(frames.items()):
        props = [c for c in frame.columns if c not in meta]
        joined = frame.join(ids, frame["id"] == ids["__tid"], "left")
        for p in props:
            joined = joined.withColumn(
                p, F.when(F.col("__tid").isNotNull(), F.lit(None))
                    .otherwise(F.col(p)))
        frames[name] = joined.drop("__tid")
    # the bound struct must also forget its properties for the rest of
    # the statement (intra-statement write-read visibility)
    st = df.schema[var].dataType
    for f in st.fields:
        if not f.name.startswith("_"):
            df = df.withColumn(var, F.col(var).withField(
                f.name, F.lit(None).cast(f.dataType)))
    return df


def _mutate_labels(tr, df: DataFrame, target: A.HasLabels, add: bool) -> DataFrame:
    var = target.subject.name
    static = [l for l in target.labels if isinstance(l, str)]
    dyn = [l for l in target.labels if isinstance(l, A.Expr)]
    if dyn:
        # row-dependent SET/REMOVE n:$(expr): carry the per-row label
        # array through the id join instead of a constant
        labels = _dyn_labels_col(tr, df, static, dyn)
    else:
        labels = F.array(*[F.lit(l) for l in static])
    ids = df.select(F.col(var).getField("_id").alias("__tid"),
                    labels.alias("__nl")) \
            .dropDuplicates(["__tid"]).localCheckpoint(eager=True)
    op = F.array_union if add else F.array_except
    for name, frame in list(tr.graph.node_frames.items()):
        joined = frame.join(ids, frame["id"] == ids["__tid"], "left")
        tr.graph.node_frames[name] = joined.withColumn(
            "labels", F.when(F.col("__tid").isNotNull(),
                             op(F.col("labels"), F.col("__nl")))
                       .otherwise(F.col("labels"))).drop("__tid", "__nl")
    if dyn:
        n = ids.select(F.sum(F.size("__nl"))).head()[0] or 0
        touched = _collect_capped(ids, F.explode("__nl"), "labels") \
            if add else []
    else:
        n = ids.count() * len(static)
        touched = static if add else []
    if add:
        tr.effects["labels_added"] += n
        for l in touched:
            tr.graph.note_extra_label(l)
    else:
        tr.effects["labels_removed"] += n
        # removing labels can break declared rel-endpoint-label guarantees
        tr.graph.rel_endpoint_labels = {}
    df = df.withColumn(var, F.col(var).withField(
        "_labels", op(F.col(var).getField("_labels"), labels)))
    return df


# ---- DELETE ---------------------------------------------------------------


def apply_delete(tr, df: DataFrame, clause: A.Delete) -> DataFrame:
    _ensure_effects(tr)
    tr.graph._write_epoch += 1  # invalidate count-store memo
    for e in clause.exprs:
        if not isinstance(e, A.Var):
            raise ValueError("DELETE expects bound variables")
        kind = tr.kinds.get(e.name)
        ids = df.select(F.col(e.name).getField("_id").alias("__tid")) \
                .dropDuplicates().localCheckpoint(eager=True)
        if kind == "rel":
            _delete_rels_by_id(tr, ids)
        else:
            incident = 0
            for frame in tr.graph.rel_frames.values():
                incident += frame.join(
                    ids, (frame["src"] == ids["__tid"])
                    | (frame["dst"] == ids["__tid"]), "left_semi").count()
            if incident and not clause.detach:
                raise ValueError(
                    "Cannot delete node(s) with existing relationships — "
                    "use DETACH DELETE")
            if incident:
                for name, frame in list(tr.graph.rel_frames.items()):
                    kept = frame.join(
                        ids, (frame["src"] == ids["__tid"])
                        | (frame["dst"] == ids["__tid"]), "left_anti")
                    tr.graph.rel_frames[name] = kept
                tr.effects["rels_deleted"] += incident
            for name, frame in list(tr.graph.node_frames.items()):
                tr.graph.node_frames[name] = frame.join(
                    ids, frame["id"] == ids["__tid"], "left_anti")
            tr.effects["nodes_deleted"] += ids.count()
    return df


def _delete_rels_by_id(tr, ids: DataFrame) -> None:
    for name, frame in list(tr.graph.rel_frames.items()):
        tr.graph.rel_frames[name] = frame.join(
            ids, frame["id"] == ids["__tid"], "left_anti")
    tr.effects["rels_deleted"] += ids.count()


# ---- MERGE ----------------------------------------------------------------


def _merge_key(col: Column) -> Column:
    """MERGE key values must be non-null: merging on a null property is a
    runtime error in the reference (MergeNode spec — 'Cannot merge ...
    null property value'), never a silent non-match."""
    return F.when(col.isNotNull(), col).otherwise(
        F.call_function(
            "raise_error",
            F.lit("Cannot merge using a null property value")))


def apply_merge(tr, df: Optional[DataFrame], clause: A.Merge) -> DataFrame:
    import dataclasses

    _ensure_effects(tr)
    if df is None:
        df = tr.spark.range(1).select(F.lit(1).alias("__one"))
    _check_rebind(tr, df, clause.part)
    df, part = _lower_part_props(tr, df, clause.part)
    if part is not clause.part:
        clause = dataclasses.replace(clause, part=part)
    els = clause.part.elements
    if len(els) == 1:
        return _merge_node(tr, df, clause)
    if len(els) == 3 and els[0].var and els[0].var in df.columns \
            and els[2].var and els[2].var in df.columns:
        return _merge_rel(tr, df, clause)
    return _merge_chain(tr, df, clause)


def _merge_chain(tr, df: DataFrame, clause: A.Merge) -> DataFrame:
    """General MERGE (MergePipe LP:2602): per input row, match the WHOLE
    pattern; rows with no match create the entire pattern — one instance
    per distinct key (bound endpoint ids + property expression values),
    so equal-keyed rows share the created entities like sequential
    per-row merges would."""
    import dataclasses

    part = clause.part
    els = part.elements
    rid = "__merge_rid"
    df2 = df.withColumn(rid, F.monotonically_increasing_id()) \
            .localCheckpoint(eager=True)

    sub_kinds = dict(tr.kinds)
    matched = tr._match(df2, A.Match([part], optional=False, where=None))
    matched_rids = matched.select(rid).dropDuplicates()
    missing = df2.join(matched_rids, rid, "left_anti")

    # key columns: bound pattern vars (by id) + every property expression
    cc = tr._compiler(missing)
    key_cols: list = []
    mk = missing
    ki = 0
    for el in els:
        props = getattr(el, "props", None)
        if props is not None:
            for _k, v in props.items:
                col = f"__mg_{ki}"
                mk = mk.withColumn(col, _merge_key(cc.compile(v)))
                key_cols.append(col)
                ki += 1
    bound_vars = [el.var for el in els
                  if isinstance(el, A.NodePat) and el.var
                  and el.var in df.columns]

    # rebuild the pattern with prop expressions swapped for the key vars
    ki = 0
    new_els = []
    for el in els:
        props = getattr(el, "props", None)
        if props is not None:
            new_items = []
            for k, _v in props.items:
                new_items.append((k, A.Var(f"__mg_{ki}")))
                ki += 1
            el = dataclasses.replace(el, props=A.MapLit(new_items))
        new_els.append(el)

    if key_cols or bound_vars:
        distinct_keys = mk.select(*(key_cols + bound_vars)) \
            .dropDuplicates(key_cols + bound_vars)
    else:
        distinct_keys = mk.select(rid).limit(1)
    created_keys = apply_create(tr, distinct_keys,
                                A.Create([A.PatternPart(new_els)]))

    if key_cols or bound_vars:
        right = created_keys
        for c in key_cols:
            right = right.withColumnRenamed(c, f"__ck_{c}")
        for v in bound_vars:
            right = right.withColumnRenamed(v, f"__ckv_{v}")
        cond = None
        for c in key_cols:
            eq = mk[c].eqNullSafe(right[f"__ck_{c}"])
            cond = eq if cond is None else cond & eq
        for v in bound_vars:
            eq = (mk[v].getField("_id")
                  == right[f"__ckv_{v}"].getField("_id"))
            cond = eq if cond is None else cond & eq
        created = mk.join(right, cond).drop(
            *[f"__ck_{c}" for c in key_cols],
            *[f"__ckv_{v}" for v in bound_vars], *key_cols)
    else:
        created = mk.crossJoin(created_keys.drop(rid))
    created = created.drop(*[c for c in created.columns
                             if c.startswith("__mg_")])

    if clause.on_match:
        matched = apply_set(tr, matched, clause.on_match)
    if clause.on_create:
        created = apply_set(tr, created, clause.on_create)
    for el in els:
        if getattr(el, "var", None):
            tr.kinds[el.var] = ("rel" if isinstance(el, A.RelPat)
                                else "node")
    out = matched.unionByName(created, allowMissingColumns=True)
    tr.kinds.update({k: v for k, v in sub_kinds.items()
                     if k not in tr.kinds})
    return out.drop(rid)


def _merge_node(tr, df: DataFrame, clause: A.Merge) -> DataFrame:
    np: A.NodePat = clause.part.elements[0]
    var = np.var or tr._anon_var("mn")
    if var in df.columns:
        return df
    cc = tr._compiler(df)
    prop_items = list(np.props.items) if np.props is not None else []
    scan = tr._node_scan(np, var)
    fields = scan.schema[var].dataType.fieldNames()
    cond = F.lit(True)
    for k, v in prop_items:
        # a property key absent from the scan schema can never match
        lhs = F.col(var).getField(k) if k in fields else F.lit(None)
        cond = cond & (lhs == _merge_key(cc.compile(v)))
    joined = df.join(scan, cond, "left")
    matched = joined.filter(F.col(var).isNotNull())
    missing = joined.filter(F.col(var).isNull()).drop(var)
    tr.kinds[var] = "node"

    # one creation per distinct key combination (match-or-create-once)
    key_cols = [cc_k for cc_k, _ in prop_items]
    cc_m = tr._compiler(missing)
    with_keys = missing
    for k, v in prop_items:
        with_keys = with_keys.withColumn(f"__mk_{k}", cc_m.compile(v))
    distinct_keys = with_keys.select(
        *[F.col(f"__mk_{k}") for k in key_cols]).dropDuplicates()
    created_keys = apply_create(
        tr, distinct_keys,
        A.Create([A.PatternPart([A.NodePat(
            var, list(np.labels), False,
            A.MapLit([(k, A.Var(f"__mk_{k}")) for k in key_cols])
            if prop_items else None, None)])]))
    created = with_keys.join(
        created_keys,
        [F.lit(True)] if not key_cols else
        [with_keys[f"__mk_{k}"].eqNullSafe(created_keys[f"__mk_{k}"])
         for k in key_cols])
    created = created.drop(*[f"__mk_{k}" for k in key_cols])
    created = created.drop(*[c for c in created.columns
                             if c.startswith("__mk_")])

    if clause.on_match:
        matched = apply_set(tr, matched, clause.on_match)
    if clause.on_create:
        created = apply_set(tr, created, clause.on_create)
    return matched.unionByName(created, allowMissingColumns=True)


def _merge_rel(tr, df: DataFrame, clause: A.Merge) -> DataFrame:
    a_pat, rp, b_pat = clause.part.elements
    if not (a_pat.var and a_pat.var in df.columns
            and b_pat.var and b_pat.var in df.columns):
        raise ValueError("MERGE relationship requires both endpoints bound")
    rvar = rp.var or tr._anon_var("mr")
    scan = tr._rel_scan(rp, rvar)
    cond = ((F.col(a_pat.var).getField("_id") == F.col("__from"))
            & (F.col(b_pat.var).getField("_id") == F.col("__to")))
    joined = df.join(scan, cond, "left").drop("__from", "__to")
    matched = joined.filter(F.col(rvar).isNotNull())
    missing = joined.filter(F.col(rvar).isNull()).drop(rvar)
    tr.kinds[rvar] = "rel"
    missing = missing.dropDuplicates()  # one rel per distinct binding
    create_rp = rp
    if rp.direction == "both":
        # undirected MERGE matches either orientation but creates
        # left-to-right (MergePipe / MergeRelationshipSetting semantics)
        import dataclasses
        create_rp = dataclasses.replace(rp, direction="out")
    created = apply_create(
        tr, missing,
        A.Create([A.PatternPart([
            A.NodePat(a_pat.var, [], False, None, None), create_rp,
            A.NodePat(b_pat.var, [], False, None, None)])]))
    if clause.on_match:
        matched = apply_set(tr, matched, clause.on_match)
    if clause.on_create:
        created = apply_set(tr, created, clause.on_create)
    return matched.unionByName(created, allowMissingColumns=True)
