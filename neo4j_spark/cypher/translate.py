"""Cypher AST -> Spark DataFrame translator.

The reference plans a Cypher query into ~150 logical operators
(``community/cypher/cypher-logical-plans/.../LogicalPlan.scala``) executed by
pull-based pipes.  Here every operator becomes a declarative DataFrame
transformation and Catalyst/AQE is the physical planner (SURVEY §3.3, §4):

- scans       -> per-label/type parquet-backed frames (predicate pushdown)
- Expand      -> joins on node ids (LP:2012 ExpandAll / ExpandInto)
- OPTIONAL    -> left outer joins on correlated ids (LP:3095 Optional)
- EXISTS/COUNT{} / pattern predicates -> semi/anti-join flag columns
  (SemiApply family, LP:3659+, decorrelated at translation time)
- pattern comprehension -> groupBy+collect_list join (RollUpApply LP:3534)
- WITH/RETURN -> select / groupBy().agg() / dropDuplicates / orderBy /
  offset / limit (Aggregation LP:728, Distinct LP:1899, Sort LP:3875,
  Top LP:3913 via orderBy+limit -> TakeOrderedAndProject)
- var-length / shortest paths -> driver-side iterative joins
  (operators/paths.py; VarExpand LP:2057, FindShortestPaths LP:2178)

Row-stream representation: one DataFrame whose columns are the bound
variables — nodes/rels as structs (``_id``,``_labels``/``_src``,``_dst``,
``_type`` + property fields), scalars as plain columns, paths as
``struct{nodes, rels}``, var-length rels as ``array<rel-struct>``.
"""

from __future__ import annotations

from typing import Any, Dict, List, Optional, Tuple

from pyspark.sql import Column, DataFrame, SparkSession, functions as F, types as T

from . import ast as A
from .exprs import AGG_FNS, ExprCompiler, contains_aggregate, is_agg_fn
from ..graph import PropertyGraph, unesc_prop as _unesc_prop
from ..session import local_frame

NODE_META = ("id", "labels")
REL_META = ("id", "src", "dst", "type")


class TranslateError(ValueError):
    pass


def _rel_core(col: Column) -> Column:
    return F.struct(
        col.getField("_id").alias("_id"), col.getField("_src").alias("_src"),
        col.getField("_dst").alias("_dst"), col.getField("_type").alias("_type"),
    )


def _collect_var_names(node, binders: bool = True) -> set:
    """Every variable name an AST subtree (or list/tuple of subtrees)
    references; with ``binders`` also every name it binds (``var`` /
    ``path_var`` fields) — the implicit-correlation candidates of a
    subquery expression."""
    names: set = set()
    for n in A.walk(node):
        if isinstance(n, A.Var):
            names.add(n.name)
        elif binders:
            names.update(_bound_names(n))
    return names


def _bound_names(n) -> List[str]:
    """The names an AST node binds: its ``var`` / ``path_var`` strings."""
    return [v for v in (getattr(n, "var", None), getattr(n, "path_var", None))
            if isinstance(v, str)]


def _no_node_filters(np: A.NodePat) -> bool:
    return (np.label_tree is None and not np.neg_labels
            and not np.any_labels and not np.req_any_label
            and not np.req_no_label and np.props is None
            and np.where is None)


def _bare_node(np: A.NodePat) -> bool:
    """A node pattern with no label, property or WHERE constraint."""
    return not np.labels and _no_node_filters(np)


def _single_label_node(np: A.NodePat) -> bool:
    """A node pattern constrained by exactly one plain label."""
    return len(np.labels) == 1 and _no_node_filters(np)


def _map_threading(walk, df, e):
    """Rebuild expression ``e`` from ``walk(df, child) -> (df, child)``
    over its expression children, threading the DataFrame through."""
    if not isinstance(e, A.Expr):
        return df, e

    def child(c):
        nonlocal df
        if not isinstance(c, A.Expr):
            return c
        df, c = walk(df, c)
        return c

    e = A.map_children(e, child)
    return df, e


_SUBQUERY_EXPRS = (A.PatternComp, A.PatternPred, A.ExistsSub, A.CountSub,
                   A.CollectSub, A.ShortestPathExpr)


def _listcomp_needs_rows(e) -> bool:
    """True when a list comprehension's WHERE/projection contains a
    pattern comprehension / subquery expression that references the
    lambda variable — only then must the lambda become a rowstream
    (translate._lower_listcomp_subq); otherwise the ordinary column
    lowering is correct and cheaper."""
    def subq(n) -> bool:
        return isinstance(n, _SUBQUERY_EXPRS)

    return any(subq(n) and e.var in _collect_var_names(n)
               for n in A.walk((e.where, e.projection), skip=subq))


_ANON_COUNTER = 0


def check_clause_syntax_mixing(clause, extensions: bool = False) -> None:
    """Per-clause GPM syntax-mixing validation (the reference's
    Clause.semanticCheck chain — Clause.scala:133-136,
    GpmSyntaxMixingAcceptance.feature):

    - legacy ``:`` label conjunction may not mix with GPM label syntax
      (``IS`` introducer or ``| & ! %`` / parenthesised expressions)
      within one clause, partitioned into READ vs WRITE usages (MERGE
      counts as both) — mixing across the partitions is fine;
    - legacy var-length relationships (``[*1..5]``) may not mix with
      quantified path patterns in one clause; a var-length rel NESTED
      INSIDE a QPP unit is rejected by the reference outright
      ("Variable length relationships cannot be part of a quantified
      path pattern.", SemanticPatternCheck.scala /
      QuantifiedPathPatternsSemanticAnalysisTest.scala:257) unless
      ``extensions`` is set (conf ``neo4j_spark.cypher.extensions``),
      which opts into this engine's documented unrolling extension
      (the ``qpp_nested_var`` registry entry);
    - legacy ``shortestPath()/allShortestPaths()`` may not mix with GQL
      path selectors in one clause, nor apply to a QPP.

    The fold covers the clause's whole subtree, so subquery expressions
    (EXISTS/COUNT/COLLECT) and CALL {} bodies conflict within their
    enclosing clause while separate top-level clauses never do.
    """
    flags = {"read_legacy": False, "read_gpm": False,
             "write_legacy": False, "write_gpm": False,
             "vlr": False, "qpp": False,
             "legacy_sp": False, "selector": False}

    def mark_lx(node, write_ctx, is_rel=False):
        legacy = getattr(node, "lx_legacy", False)
        gpm = getattr(node, "lx_gpm", False)
        buckets = (("write",) if write_ctx is True else
                   ("read",) if write_ctx is False else ("read", "write"))
        for b in buckets:
            if legacy and not is_rel:
                flags[b + "_legacy"] = True
            if gpm:
                flags[b + "_gpm"] = True

    def walk(node, write_ctx, in_qpp=False):
        if isinstance(node, A.Create) or isinstance(
                node, (A.SetClause, A.RemoveClause, A.Delete)):
            write_ctx = True
        elif isinstance(node, A.Merge):
            write_ctx = "both"
        elif isinstance(node, (A.Match, A.Projection, A.Unwind)):
            write_ctx = False
        if isinstance(node, A.NodePat):
            mark_lx(node, write_ctx)
        elif isinstance(node, A.RelPat):
            mark_lx(node, write_ctx, is_rel=True)
            if node.var_length and not in_qpp:
                # sibling mixing with a QPP is the reference's
                # "Mixing variable-length…" syntax error
                flags["vlr"] = True
            elif node.var_length and in_qpp and not extensions:
                # default strict-conformance behavior: the reference
                # rejects a var-length rel inside a QPP unit; the
                # unrolling extension is opt-in via
                # neo4j_spark.cypher.extensions=true
                raise TranslateError(
                    "Variable length relationships cannot be part of a "
                    "quantified path pattern.")
        elif isinstance(node, A.HasLabels):
            mark_lx(node, write_ctx)
        elif isinstance(node, A.QPP):
            flags["qpp"] = True
            in_qpp = True
        elif isinstance(node, A.PatternPart):
            if node.legacy_shortest:
                flags["legacy_sp"] = True
                if any(isinstance(e, A.QPP) for e in node.elements):
                    raise TranslateError(
                        "shortestPath()/allShortestPaths() cannot be "
                        "applied to a quantified path pattern — use a "
                        "GQL path selector instead")
            elif node.selector is not None:
                flags["selector"] = True
        for c in A.children(node):
            walk(c, write_ctx, in_qpp)

    walk(clause, False)
    for b in ("read", "write"):
        if flags[b + "_legacy"] and flags[b + "_gpm"]:
            raise TranslateError(
                "Mixing label expression symbols ('|', '&', '!', '%') or "
                "the IS keyword with colon (':') conjunction between "
                "labels is not allowed in the same statement — use one "
                "set of symbols")
    if flags["vlr"] and flags["qpp"]:
        raise TranslateError(
            "Mixing variable-length relationships ('[*]') with quantified "
            "path patterns is not allowed in the same statement")
    if flags["legacy_sp"] and flags["selector"]:
        raise TranslateError(
            "Mixing shortestPath()/allShortestPaths() with GQL path "
            "selectors (SHORTEST k / ANY / ALL SHORTEST) is not allowed "
            "in the same statement")


def _short_err(e: Exception) -> str:
    """One-line error message for REPORT STATUS errorMessage — the
    reference surfaces e.g. ``/ by zero``, not a stack trace.  Spark
    exceptions carry the class-tagged message on the first line."""
    msg = str(e).splitlines()[0] if str(e) else type(e).__name__
    return msg[:500]


class Translator:
    def __init__(self, spark: SparkSession, graph: PropertyGraph,
                 params: Dict[str, Any], catalog=None) -> None:
        self.spark = spark
        # composite queries: a GraphCatalog routes USE clauses to named
        # constituents (reference: query-router + RunQueryAt LP:3559);
        # ``graph`` is the currently-selected target
        self.catalog = catalog
        if graph is None and catalog is not None:
            graph = catalog.default_graph
        self.graph = graph
        self.params = params
        self.kinds: Dict[str, str] = {}
        # rel var -> (src node var, dst node var) in *edge* direction, when
        # both endpoints are bound in the rowstream — lets startNode()/
        # endNode() resolve to the full node struct instead of an id-only
        # reference (NodeValue vs NodeIdReference, SURVEY §1.2)
        self.rel_endpoints: Dict[str, tuple] = {}
        # node var -> possible-label set, recorded when the var is bound
        # from a labeled scan; consumed by schema-reachability pruning
        # (operators/schema_prune.py).  Maintained conservatively: any
        # rebinding with unknown labels pops the entry, and _projection
        # keeps entries only for identity pass-throughs.
        self.var_labels: Dict[str, frozenset] = {}
        self._anon = 0  # superseded by the module-global counter for
        #                 hidden names (nested translators must not
        #                 regenerate each other's names)
        self.max_var_length = 12

    # ------------------------------------------------------------------ API

    def translate(self, ast) -> DataFrame:
        if isinstance(ast, A.UnionQuery):
            import dataclasses

            # a trailing ORDER BY / SKIP / LIMIT on the final branch orders
            # the WHOLE union result (ast/Clause.scala: the outer query's
            # tail projection) — strip it from the branch and apply last
            queries = list(ast.queries)
            post: Optional[A.Projection] = None
            lastc = queries[-1].clauses[-1] if queries[-1].clauses else None
            if isinstance(lastc, A.Projection) and lastc.is_return \
                    and (lastc.order or lastc.skip is not None
                         or lastc.limit is not None):
                post = lastc
                stripped = dataclasses.replace(
                    lastc, order=[], skip=None, limit=None)
                queries[-1] = A.SingleQuery(
                    queries[-1].clauses[:-1] + [stripped])
            frames = []
            sub = self
            for q in queries:
                sub = Translator(self.spark, self.graph, self.params, catalog=self.catalog)
                frames.append(sub._single(q))
            out = frames[0]
            for f in frames[1:]:
                if set(f.columns) != set(out.columns):
                    # Query.scala:760 / UnionDistinct.feature
                    # 'Failing when UNION has different columns'
                    raise TranslateError(
                        "All sub queries in an UNION must have the same "
                        "return column names")
                out = out.unionByName(f)
            if not ast.all:
                out = out.dropDuplicates()
            if post is not None:
                if post.order:
                    cc = ExprCompiler(out, dict(sub.kinds), self.params, sub)
                    keys = [self._sort_key(cc.compile(o.expr), cc)
                            for o in post.order]
                    out = out.orderBy(*[
                        (k.asc_nulls_last() if o.ascending
                         else k.desc_nulls_first())
                        for k, o in zip(keys, post.order)])
                if post.skip is not None:
                    out = out.offset(self._int_value(post.skip))
                if post.limit is not None:
                    out = out.limit(self._int_value(post.limit))
            return self._render_tagged(out)
        return self._render_tagged(self._single(ast))

    @staticmethod
    def _render_tagged(df: DataFrame) -> DataFrame:
        """ProduceResult epilogue: any column still carrying the INTERNAL
        tagged heterogeneous encoding (e.g. min/max over mixed-type
        values, a returned heterogeneous list) renders to its Cypher text
        form.  A Spark column has one static type, so a dynamically-typed
        result cell is representable only as text (documented divergence
        from the reference's AnyValue results)."""
        from . import anyvalue as AV

        out_cols, changed = [], False
        for f in df.schema.fields:
            # backtick-quote: output names may contain dots (`n.prop`
            # unaliased) which bare resolution reads as a struct path
            c = F.col("`" + f.name.replace("`", "``") + "`")
            if AV.type_contains_any(f.dataType):
                c = AV.render_containing(c, f.dataType)
                changed = True
            out_cols.append(c.alias(f.name))
        return df.select(*out_cols) if changed else df

    def _inline_param_props(self, obj):
        """``(n:L $props)`` / ``[r:T $props]``: swap a whole-map property
        parameter for its literal items before translation (the reference
        front-end inlines pattern parameters the same way)."""
        import dataclasses

        if isinstance(obj, (A.NodePat, A.RelPat)) \
                and isinstance(obj.props, A.Param):
            v = self.params.get(obj.props.name)
            if not isinstance(v, dict):
                raise TranslateError(
                    f"pattern property parameter ${obj.props.name} "
                    "must be a map")
            obj = dataclasses.replace(obj, props=A.MapLit(
                [(k, A.Lit(x)) for k, x in v.items()]))
        return A.map_children(obj, self._inline_param_props)

    def _single(self, q: A.SingleQuery) -> DataFrame:
        q = self._inline_param_props(q)
        if getattr(self, "query_ast", None) is None:
            # whole-statement view for usage-based rewrites (a subquery
            # translator keeps the enclosing statement's)
            self.query_ast = q
        self._validate_patterns(q)
        fast = self._count_store_plan(q)
        if fast is not None:
            return fast
        df: Optional[DataFrame] = None
        i = 0
        while i < len(q.clauses):
            clause = q.clauses[i]
            if isinstance(clause, A.Match) and i + 1 < len(q.clauses):
                # count pre-aggregation rewrites (guide §2.3): aggregate
                # the counted rel scan BEFORE the join instead of
                # joining the whole rel rowstream into a groupBy
                if clause.optional:
                    hit = self._preagg_optional_count(
                        df, clause, q.clauses[i + 1])
                else:
                    hit = self._preagg_trailing_count(
                        df, clause, q.clauses[i + 1])
                if hit is not None:
                    df, new_proj = hit
                    df = self._apply(df, new_proj)
                    i += 2
                    continue
            df = self._apply(df, clause)
            i += 1
        if df is None:
            raise TranslateError("query produced no rowstream")
        has_return = any(
            isinstance(c, A.Projection) and c.is_return for c in q.clauses)
        if getattr(self, "_finished", False):
            df.count()  # FINISH still forces any staged effects
            return df.limit(0)
        if not has_return and hasattr(self, "effects"):
            # update-only statement: EmptyResult (LP:1955) — force the write
            # side effects, return the effect counters as the result row
            from ..operators.writes import effects_frame

            df.count()
            return effects_frame(self)
        return df

    # -------------------------------------------------------------- helpers

    def _validate_patterns(self, q: A.SingleQuery) -> None:
        """Static pattern rules the reference enforces at compile time
        (QuantifiedPathPatternAcceptance.feature guard scenarios;
        semantics in SemanticPatternCheck): quantifier bounds must be
        sane, a single node pattern cannot be quantified, QPPs cannot be
        nested, a top-level path pattern must be able to bind at least
        one node (minimum length > 0 when the whole pattern is
        quantified), and a group variable belongs to exactly ONE QPP —
        it cannot rebind as a pattern variable elsewhere in the
        statement."""
        owner: Dict[str, int] = {}
        outside: List[str] = []
        counter = [0]

        def visit_qpp(el: A.QPP) -> None:
            idx = counter[0]
            counter[0] += 1
            if not any(isinstance(i, A.RelPat) for i in el.elements):
                raise TranslateError(
                    "a quantifier cannot be applied to a single node "
                    "pattern — quantify a path containing at least one "
                    "relationship")
            mn = el.min_reps or 0
            mx = el.max_reps
            if mn < 0 or (mx is not None and (mx < 1 or mn > mx)):
                raise TranslateError(
                    f"invalid path-pattern quantifier {{{el.min_reps}, "
                    f"{el.max_reps}}}: the upper bound must be at least 1 "
                    "and not less than the lower bound")
            for iel in el.elements:
                if isinstance(iel, A.QPP):
                    raise TranslateError(
                        "quantified path patterns cannot be nested")
                v = getattr(iel, "var", None)
                if v:
                    if v in owner and owner[v] != idx:
                        raise TranslateError(
                            f"the variable `{v}` occurs in multiple "
                            "quantified path patterns and needs to be "
                            "renamed")
                    owner[v] = idx

        def visit_part(part: A.PatternPart) -> None:
            can_be_empty = True
            for el in part.elements:
                if isinstance(el, A.QPP):
                    visit_qpp(el)
                    if (el.min_reps or 0) >= 1:
                        can_be_empty = False
                elif isinstance(el, A.NodePat):
                    can_be_empty = False
                    if el.var:
                        outside.append(el.var)
                elif isinstance(el, A.RelPat):
                    if not (el.var_length and (el.min_len or 0) == 0):
                        can_be_empty = False
                    if el.var:
                        outside.append(el.var)
            if can_be_empty and part.elements:
                raise TranslateError(
                    "a top-level path pattern must have a minimum length "
                    "of at least one node — every quantified factor here "
                    "admits zero repetitions")

        for clause in q.clauses:
            if isinstance(clause, A.Match):
                for part in clause.parts:
                    visit_part(part)
            elif isinstance(clause, A.Create):
                for part in clause.parts:
                    visit_part(part)
            elif isinstance(clause, A.Merge):
                visit_part(clause.part)
        for v in outside:
            if v in owner:
                raise TranslateError(
                    f"the variable `{v}` is a group variable of a "
                    "quantified path pattern and cannot rebind as a "
                    "pattern variable elsewhere in the statement")

    def _count_store_plan(self, q: A.SingleQuery) -> Optional[DataFrame]:
        """NodeCountFromCountStore (LP:2748) / RelationshipCountFromCountStore
        (LP:3466): answer ``MATCH (n[:L]) RETURN count(*)`` and
        ``MATCH ()-[r[:T]]->() RETURN count(*)`` from the graph's memoized
        cardinalities instead of planning a scan + aggregation — the Spark
        analog of ``countStorePlanner.scala``.  Returns None when the shape
        doesn't qualify."""
        if len(q.clauses) != 2:
            return None
        m, ret = q.clauses
        if not (isinstance(m, A.Match) and isinstance(ret, A.Projection)
                and ret.is_return):
            return None
        if m.optional or m.where is not None or len(m.parts) != 1:
            return None
        # dynamic labels/types resolve to plain tokens first so
        # MATCH (n:$(param)) still gets the O(1) count-store answer
        m = self._resolve_dyn_clause(m)
        part = m.parts[0]
        if part.path_var or part.selector:
            return None
        if (ret.distinct or ret.star or ret.order or ret.where is not None
                or ret.skip is not None or ret.limit is not None
                or len(ret.items) != 1):
            return None
        item = ret.items[0]
        e = item.expr
        counted_var: Optional[str] = None
        if isinstance(e, A.CountStar):
            pass
        elif (isinstance(e, A.Func) and e.name.lower() == "count"
                and not e.distinct and len(e.args) == 1
                and isinstance(e.args[0], A.Var)):
            counted_var = e.args[0].name
        else:
            return None

        def plain_node(np, max_labels: int) -> bool:
            # a residual label_tree means `labels` is only a shard-pruning
            # COVER, not the full predicate — never answer from the store
            return (isinstance(np, A.NodePat) and np.props is None
                    and np.where is None and not np.any_labels
                    and not np.neg_labels and not np.req_any_label
                    and not np.req_no_label
                    and getattr(np, "label_tree", None) is None
                    and len(np.labels) <= max_labels)

        els = part.elements
        if len(els) == 1 and plain_node(els[0], 1):
            np = els[0]
            if counted_var is not None and counted_var != np.var:
                return None
            n = self.graph.count_nodes(np.labels[0] if np.labels else None)
        elif (len(els) == 3 and isinstance(els[1], A.RelPat)
                and plain_node(els[0], 0) and plain_node(els[2], 0)):
            rp = els[1]
            if (rp.props is not None or rp.where is not None
                    or rp.var_length or rp.min_len is not None
                    or rp.max_len is not None or rp.neg_types
                    or len(rp.types) > 1
                    # residual type_tree: ``types`` is only a pruning
                    # cover (e.g. :!(A&%)&%), the tree is the real
                    # predicate — needs a scan, not the store
                    or getattr(rp, "type_tree", None) is not None):
                return None
            if rp.direction == "both":
                # undirected: each rel matches once per orientation EXCEPT
                # self-loops (once) — 2n - selfloops needs a scan, so the
                # count store only serves directed patterns (as Neo4j's
                # countStorePlanner.scala does)
                return None
            if els[0].var is not None and els[0].var == els[2].var:
                return None  # (a)-->(a) is a self-loop join, not a count
            bindable = {els[0].var, els[2].var, rp.var}
            if counted_var is not None and counted_var not in bindable:
                return None
            n = self.graph.count_rels(rp.types[0] if rp.types else None)
        else:
            return None
        name = item.alias or item.text
        schema = T.StructType([T.StructField(name, T.LongType(), False)])
        return local_frame(self.spark, [(int(n),)], schema)

    def _anon_var(self, prefix: str = "a") -> str:
        # GLOBAL counter: a nested sub-Translator starting its own count
        # would mint the same hidden name as its parent (e.g. the
        # correlation copies of a CALL {} inside a CALL {}) and its
        # join-back drop would then delete the parent's column
        global _ANON_COUNTER
        _ANON_COUNTER += 1
        return f"_{prefix}{_ANON_COUNTER}"

    def _var_single_use(self, name: str) -> bool:
        """True when ``name`` occurs exactly once in the whole statement
        and no projection uses ``*`` — i.e. dropping its binding cannot
        change any result or predicate (usage test behind scan elision,
        mirroring the reference's pruningVarExpander usage analysis)."""
        root = getattr(self, "query_ast", None)
        if root is None:
            return False
        count = 0
        for n in A.walk(root):
            if isinstance(n, A.Var):
                count += n.name == name
            elif getattr(n, "star", False):
                return False
            else:
                count += _bound_names(n).count(name)
        return count == 1

    def _stmt_has_writes(self) -> bool:
        """True when the statement contains any updating clause (anywhere,
        including nested CALL {} bodies / FOREACH).  Gate for rewrites
        that rely on source-declared invariants holding for every row the
        statement can observe: a write inside the SAME statement could
        create entities the declaration does not cover."""
        root = getattr(self, "query_ast", None)
        if root is None:
            return True  # unknown scope: be conservative
        memo = getattr(self, "_stmt_writes_memo", None)
        if memo is not None and memo[0] is root:
            return memo[1]
        hit = any(isinstance(n, (A.Create, A.Merge, A.SetClause,
                                 A.RemoveClause, A.Delete, A.Foreach))
                  for n in A.walk(root))
        self._stmt_writes_memo = (root, hit)
        return hit

    def _var_key_prop_only(self, name: str, prop: str) -> bool:
        """True when every use of ``name`` outside its single defining
        pattern position is a ``name.prop`` property access and no
        projection ``*`` could observe the full entity — the node-frame
        join can then be replaced by deriving ``prop`` from the edge-end
        id (usage test behind key-property elision)."""
        root = getattr(self, "query_ast", None)
        if root is None:
            return False

        def access(n) -> bool:
            return (isinstance(n, A.Prop) and isinstance(n.subject, A.Var)
                    and n.subject.name == name)

        uses = binds = 0
        for n in A.walk(root, skip=access):
            if access(n):
                if n.key != prop:
                    return False
                uses += 1  # the Var inside is the sanctioned access
            elif isinstance(n, A.Var):
                if n.name == name:
                    return False  # any non-key-prop use needs the binding
            elif getattr(n, "star", False) or (
                    isinstance(n, A.MapProjection) and n.var == name):
                return False
            else:
                binds += _bound_names(n).count(name)
        return binds <= 1 and uses >= 1

    def _var_endpoints_only(self, name: str, defining) -> bool:
        """True when every use of ``name`` in the statement is a BARE
        pattern-endpoint reference (joined on ``_id``): no expression or
        map-projection use, no ``RETURN *``, no label/prop/WHERE
        re-check at a non-defining position, never bound by a
        non-pattern binder (UNWIND/alias/rel var), and never inside a
        path-building, selector, QPP or var-length part (those read the
        full node struct).  The node-frame join can then be replaced by
        an id-only struct (usage test behind id-only endpoint elision).
        ``defining`` is the NodePat being elided (exempt — its own
        label-implication gates already ran)."""
        root = getattr(self, "query_ast", None)
        if root is None:
            return False

        def ok(node, in_rich: bool) -> bool:
            if isinstance(node, A.Var):
                return node.name != name
            if isinstance(node, A.NodePat):
                if node is defining:
                    return True
                if node.var == name:
                    return not in_rich and _bare_node(node)
                # fall through: a node pat's props/where may hold exprs
            elif isinstance(node, A.PatternPart):
                in_rich = in_rich or (
                    node.path_var is not None
                    or node.selector is not None
                    or node.legacy_shortest
                    or any(isinstance(el, A.QPP)
                           or (isinstance(el, A.RelPat) and el.var_length)
                           for el in node.elements))
            elif getattr(node, "star", False):
                return False  # RETURN/WITH * observes the full entity
            elif name in _bound_names(node):
                return False  # rebound by UNWIND/rel var/map projection
            return all(ok(c, in_rich) for c in A.children(node))

        return ok(root, False)

    def _rel_endpoints_needed(self, rvar: Optional[str]) -> bool:
        """True when startNode()/endNode() is called on ``rvar`` anywhere
        in the statement — its endpoint node bindings must then stay."""
        if rvar is None:
            return False
        root = getattr(self, "query_ast", None)
        if root is None:
            return True
        return any(isinstance(n, A.Func)
                   and n.name in ("startnode", "endnode")
                   and n.args and isinstance(n.args[0], A.Var)
                   and n.args[0].name == rvar
                   for n in A.walk(root))

    def _compiler(self, df: Optional[DataFrame]) -> ExprCompiler:
        return ExprCompiler(df, self.kinds, self.params, self)

    # -------------------------------------------------------------- clauses

    # ---- dynamic label/type resolution (Cypher25Parser.g4
    # dynamicLabelType: CREATE (n:$(expr)), MATCH ()-[:$(expr)]->(),
    # SET n:$(expr)).  The argument must be a plan-time constant (literal
    # or parameter) so label-shard pruning stays a compile-time decision;
    # a string resolves to one token, a list of strings to a conjunction
    # for node labels and a disjunction for relationship types (the only
    # multi-type form a rel pattern admits). ----------------------------

    def _dyn_values(self, e) -> List[str]:
        if isinstance(e, A.Lit):
            v = e.value
        elif isinstance(e, A.Param):
            v = self.params.get(e.name)
        elif isinstance(e, A.ListLit):
            v = []
            for it in e.items:
                v.extend(self._dyn_values(it))
        else:
            raise TranslateError(
                "dynamic label/type expressions must be literal or "
                "parameter values (plan-time constants)")
        if isinstance(v, str):
            return [v]
        if isinstance(v, (list, tuple)) and v \
                and all(isinstance(x, str) for x in v):
            return list(v)
        raise TranslateError(
            "dynamic label/type must evaluate to a string or a non-empty "
            f"list of strings, got {v!r}")

    def _resolve_dyn_tree(self, t):
        if t[0] == "dyn":
            names = self._dyn_values(t[1])
            node = ("label", names[0])
            for nm in names[1:]:
                node = ("and", node, ("label", nm))
            return node
        if t[0] in ("and", "or"):
            return (t[0], self._resolve_dyn_tree(t[1]),
                    self._resolve_dyn_tree(t[2]))
        if t[0] == "not":
            return ("not", self._resolve_dyn_tree(t[1]))
        return t

    @staticmethod
    def _tree_has_dyn(t) -> bool:
        if not isinstance(t, tuple):
            return False
        if t[0] == "dyn":
            return True
        return any(Translator._tree_has_dyn(c) for c in t[1:])

    def _resolve_dyn_pattern(self, el):
        import dataclasses

        from .parser import Parser
        if isinstance(el, A.NodePat):
            if self._tree_has_dyn(getattr(el, "label_tree", None)):
                labels, any_l, neg, r_any, r_no, tree = \
                    Parser._lower_label_tree(
                        self._resolve_dyn_tree(el.label_tree))
                return dataclasses.replace(
                    el, labels=labels, any_labels=any_l, neg_labels=neg,
                    req_any_label=r_any, req_no_label=r_no, label_tree=tree)
            return el
        if isinstance(el, A.RelPat):
            if any(isinstance(t, A.Expr) for t in el.types + el.neg_types):
                def flat(ts):
                    out: List[str] = []
                    for t in ts:
                        out.extend(self._dyn_values(t)) \
                            if isinstance(t, A.Expr) else out.append(t)
                    return out
                return dataclasses.replace(
                    el, types=flat(el.types), neg_types=flat(el.neg_types))
            return el
        if isinstance(el, A.QPP):
            els = [self._resolve_dyn_pattern(x) for x in el.elements]
            if any(a is not b for a, b in zip(els, el.elements)):
                return dataclasses.replace(el, elements=els)
            return el
        return el

    def _resolve_dyn_clause(self, clause: A.Clause) -> A.Clause:
        import dataclasses

        def part(p: A.PatternPart) -> A.PatternPart:
            els = [self._resolve_dyn_pattern(e) for e in p.elements]
            if any(a is not b for a, b in zip(els, p.elements)):
                return dataclasses.replace(p, elements=els)
            return p

        def set_items(items):
            out, changed = [], False
            for it in items:
                tgt = it.target
                if isinstance(tgt, A.HasLabels) and \
                        any(isinstance(l, A.Expr) for l in tgt.labels):
                    try:
                        labels: List[str] = []
                        for l in tgt.labels:
                            labels.extend(self._dyn_values(l)) \
                                if isinstance(l, A.Expr) else labels.append(l)
                        it = dataclasses.replace(
                            it,
                            target=dataclasses.replace(tgt, labels=labels))
                        changed = True
                    except TranslateError:
                        # row-dependent SET/REMOVE label: resolved
                        # per-row by the writes layer
                        pass
                out.append(it)
            return out, changed

        def part_tolerant(p: A.PatternPart) -> A.PatternPart:
            # CREATE/SET admit ROW-DEPENDENT dynamic labels (the writes
            # layer routes rows to shards by value); keep the unresolved
            # tree when the argument isn't a plan-time constant
            els = []
            for e in p.elements:
                try:
                    els.append(self._resolve_dyn_pattern(e))
                except TranslateError:
                    els.append(e)
            if any(a is not b for a, b in zip(els, p.elements)):
                return dataclasses.replace(p, elements=els)
            return p

        if isinstance(clause, A.Match):
            parts = [part(p) for p in clause.parts]
            if any(a is not b for a, b in zip(parts, clause.parts)):
                return dataclasses.replace(clause, parts=parts)
        elif isinstance(clause, A.Create):
            parts = [part_tolerant(p) for p in clause.parts]
            if any(a is not b for a, b in zip(parts, clause.parts)):
                return dataclasses.replace(clause, parts=parts)
        elif isinstance(clause, A.Merge):
            p = part(clause.part)
            oc, c1 = set_items(clause.on_create)
            om, c2 = set_items(clause.on_match)
            if p is not clause.part or c1 or c2:
                return dataclasses.replace(
                    clause, part=p, on_create=oc, on_match=om)
        elif isinstance(clause, (A.SetClause, A.RemoveClause)):
            items, changed = set_items(clause.items)
            if changed:
                return dataclasses.replace(clause, items=items)
        elif isinstance(clause, A.Foreach):
            ups = [self._resolve_dyn_clause(u) for u in clause.updates]
            if any(a is not b for a, b in zip(ups, clause.updates)):
                return dataclasses.replace(clause, updates=ups)
        return clause

    def _apply(self, df: Optional[DataFrame], clause: A.Clause) -> DataFrame:
        check_clause_syntax_mixing(
            clause,
            extensions=str(self.spark.conf.get(
                "neo4j_spark.cypher.extensions", "false")).lower() == "true")
        clause = self._resolve_dyn_clause(clause)
        if isinstance(clause, A.Use):
            # USE <graph> (useClause): with a GraphCatalog bound, re-target
            # this (sub)query's scans at the named constituent — the
            # engine-side analog of the reference's query router sending
            # the fragment to the selected graph (RunQueryAt LP:3559).
            # Binding is translator-local, so UNION branches and CALL {}
            # subqueries each honor their own USE head.  Without a
            # catalog the clause is recorded for surface compatibility
            # (single-graph session).
            name = clause.graph
            if clause.via is not None:
                # graph.byName/byElementId: the argument must be a
                # plan-time constant (literal or parameter), as in the
                # reference's constant graph-reference dependency check.
                arg = clause.dynamic
                if isinstance(arg, A.Lit):
                    val = arg.value
                elif isinstance(arg, A.Param):
                    val = self.params.get(arg.name)
                else:
                    raise TranslateError(
                        "USE graph.%s(...) requires a literal or "
                        "parameter argument" % clause.via)
                if not isinstance(val, str):
                    raise TranslateError(
                        "USE graph.%s(...) argument must be a string, "
                        "got %r" % (clause.via, val))
                name = (val.split(":", 1)[1]
                        if clause.via == "byelementid" and val.startswith("g:")
                        else val)
            self.selected_graph = name
            if self.catalog is not None:
                target = self.catalog.resolve(name)
                if df is not None and target is not self.graph:
                    raise TranslateError(
                        "USE must be the first clause of a query or "
                        "subquery branch (graph switching mid-stream is "
                        "not supported)")
                self.graph = target
            return df
        if isinstance(clause, A.Finish):
            # FINISH (Clause.scala): effects (if any) happen, no rows out
            # — and no COLUMNS either, so FINISH-terminated UNION
            # operands with different bindings still align
            # (Finish.feature 'FINISH in UNION reading operands')
            base = df if df is not None else self.spark.range(1)
            self._finished = True
            return base.limit(0).select(
                F.lit(True).alias("__finished"))
        if isinstance(clause, A.Match):
            return self._match(df, clause)
        if isinstance(clause, A.Unwind):
            return self._unwind(df, clause)
        if isinstance(clause, A.Projection):
            return self._projection(df, clause)
        if isinstance(clause, A.CallProc):
            return self._call_proc(df, clause)
        if isinstance(clause, A.CallSub):
            return self._call_sub(df, clause)
        if isinstance(clause, A.Foreach):
            return self._foreach(df, clause)
        if isinstance(clause, A.LoadCSV):
            return self._load_csv(df, clause)
        from ..operators import writes as W

        if isinstance(clause, A.Create):
            return self._create_with_paths(df, clause, W)
        if isinstance(clause, A.Merge):
            return self._merge_with_path(df, clause, W)
        if isinstance(clause, A.SetClause):
            return W.apply_set(self, df, clause.items)
        if isinstance(clause, A.RemoveClause):
            return W.apply_remove(self, df, clause.items)
        if isinstance(clause, A.Delete):
            return W.apply_delete(self, df, clause)
        raise TranslateError(f"unsupported clause {type(clause).__name__}")

    def _create_with_paths(self, df: Optional[DataFrame],
                           clause: A.Create, W) -> DataFrame:
        """CREATE p = (...)-[...]->(...): name every element, create,
        then build the PathValue from the bound elements — same recipe
        as :meth:`_merge_with_path` (CypherTransactionsAcceptance
        'should support call in tx returning paths')."""
        import dataclasses

        if not any(p.path_var for p in clause.parts):
            return W.apply_create(self, df, clause)
        new_parts, built = [], []
        for part in clause.parts:
            if part.path_var is None:
                new_parts.append(part)
                continue
            els = []
            for el in part.elements:
                if getattr(el, "var", None) is None:
                    prefix = "cp" if isinstance(el, A.NodePat) else "cr"
                    el = dataclasses.replace(el, var=self._anon_var(prefix))
                els.append(el)
            new_parts.append(dataclasses.replace(
                part, elements=els, path_var=None))
            built.append((part.path_var, els))
        out = W.apply_create(
            self, df, dataclasses.replace(clause, parts=new_parts))
        for pvar, els in built:
            node_vars = [e.var for e in els if isinstance(e, A.NodePat)]
            rel_vars = [(e.var, "rel")
                        for e in els if isinstance(e, A.RelPat)]
            out = self._build_path(out, pvar, node_vars, rel_vars)
            self.kinds[pvar] = "path"
        return out

    def _merge_with_path(self, df: Optional[DataFrame], clause: A.Merge,
                         W) -> DataFrame:
        """MERGE p = (...)-[...]->(...): run the merge with every element
        named, then build the PathValue from the bound elements
        (MergeLegacyAcceptance 'Introduce named paths')."""
        import dataclasses

        part = clause.part
        if part.path_var is None:
            return W.apply_merge(self, df, clause)
        els = []
        for el in part.elements:
            if getattr(el, "var", None) is None:
                prefix = "mp" if isinstance(el, A.NodePat) else "mr"
                el = dataclasses.replace(el, var=self._anon_var(prefix))
            els.append(el)
        clause = dataclasses.replace(
            clause, part=dataclasses.replace(part, elements=els))
        out = W.apply_merge(self, df, clause)
        node_vars = [e.var for e in els if isinstance(e, A.NodePat)]
        rel_vars = [(e.var, "rel") for e in els if isinstance(e, A.RelPat)]
        out = self._build_path(out, part.path_var, node_vars, rel_vars)
        self.kinds[part.path_var] = "path"
        return out

    # ---- MATCH -----------------------------------------------------------

    def _match(self, df: Optional[DataFrame], m: A.Match) -> DataFrame:
        if m.optional:
            if df is None:
                # leading OPTIONAL MATCH: the argument is one unit row, so
                # an empty match still emits one null-padded row (LP:3095)
                df = self.spark.range(1).select(F.lit(1).alias("__one"))
            return self._optional_match(df, m)
        if (len(m.parts) > 1
                and any(p.selector is not None for p in m.parts)):
            # CIP-60: a selective path pattern must be the ONLY path
            # pattern of its graph pattern (separate MATCH clauses
            # compose fine)
            raise TranslateError(
                "a selective path selector (SHORTEST/ANY/ALL SHORTEST/"
                "GROUPS) cannot be combined with other path patterns in "
                "the same MATCH — split them into separate MATCH clauses")
        if (m.where is not None
                and any(p.legacy_shortest for p in m.parts)):
            # FindShortestPaths withFallback (ShortestPathAcceptance
            # 'Find a shortest path among paths that fulfill a
            # predicate'): WHERE conjuncts that depend on the path
            # itself — the path variable or the var-length rel list —
            # select WHICH path is shortest, so they must constrain the
            # SEARCH, not filter its result.  Push them into the
            # pattern-internal WHERE; translation then takes the
            # enumerate+rank route, which applies pattern predicates
            # before ranking (the reference plans the same fallback
            # when the fast bidirectional search can't inline them).
            import dataclasses as _dc

            def conjuncts(e):
                if isinstance(e, A.BinOp) and e.op == "AND":
                    return conjuncts(e.left) + conjuncts(e.right)
                return [e]

            conj = conjuncts(m.where)
            new_parts, changed = [], False
            for part in m.parts:
                if not part.legacy_shortest:
                    new_parts.append(part)
                    continue
                dep = {part.path_var} if part.path_var else set()
                for el in part.elements:
                    if (isinstance(el, A.RelPat) and el.var_length
                            and el.var):
                        dep.add(el.var)
                push = [c for c in conj
                        if _collect_var_names(c, binders=False) & dep]
                if push:
                    ids = {id(c) for c in push}
                    conj = [c for c in conj if id(c) not in ids]
                    w = part.where
                    for c in push:
                        w = c if w is None else A.BinOp("AND", w, c)
                    part = _dc.replace(part, where=w)
                    changed = True
                new_parts.append(part)
            if changed:
                rest = None
                for c in conj:
                    rest = c if rest is None else A.BinOp("AND", rest, c)
                m = _dc.replace(m, parts=new_parts, where=rest)
        pending: List[A.Expr] = []
        rel_bindings: List[Tuple[str, str, frozenset]] = []
        seen_pv: set = set()
        for part in m.parts:
            # a path variable can never rebind — neither a second path
            # pattern in the same graph pattern nor a var bound earlier
            # (SemanticState.scala:358, GraphPatternAcceptance 'The same
            # path variable cannot be used for more than one path
            # pattern')
            pv = part.path_var
            if pv is not None:
                if pv in seen_pv or (df is not None and pv in df.columns):
                    raise TranslateError(
                        f"Variable `{pv}` already declared")
                seen_pv.add(pv)
        for part in m.parts:
            df = self._pattern_part(df, part, pending, rel_bindings)
        df = self._uniqueness_filters(df, rel_bindings)
        for p in pending:
            df, expr = self._lower_predicates(df, p)
            df = df.filter(self._bool_pred(self._compiler(df), expr))
        if m.where is not None:
            df, expr = self._lower_predicates(df, m.where)
            df = df.filter(self._bool_pred(self._compiler(df), expr))
        return df

    def _sort_key(self, col: Column, cc) -> Column:
        """Cypher-orderable sort key.  Array-, map-, duration- and
        time-typed keys wrap into the tagged encoding: plain Spark
        comparison diverges on each (array nulls sort SMALLEST where the
        null rank is largest; maps order by size then key-sorted entries;
        durations by average length — AnyValues.java / DurationValue
        .COMPARATOR).  Scalars, instants and entities pass through."""
        from . import anyvalue as AV
        from .exprs import _is_duration, _is_zoned_dt

        t = cc.dtype_of(col)
        if isinstance(t, T.ArrayType):
            if AV.is_any_type(t.elementType):
                # tagged elements carry the order, but unification casts
                # can leave SQL-null cells that would sort smallest —
                # normalize them to rank-16 nulls
                d = AV.any_layout_depth(t.elementType)
                return F.transform(
                    col, lambda x: F.when(x.isNull(), AV.tagged_null(d))
                                    .otherwise(x))
            try:
                return AV.to_any_deep(col, t,
                                      max(1, AV.container_depth(t)))
            except Exception:
                return col
        if isinstance(t, T.StructType):
            if AV.is_any_type(t) or _is_zoned_dt(t) \
                    or "_id" in t.fieldNames():
                return col  # tagged / instant-leading / entity-by-id
            names = set(t.fieldNames())
            if _is_duration(t) or {"hour", "minute", "second"} <= names:
                return AV.to_any(col, t)
            try:
                return AV.to_any_deep(col, t,
                                      max(1, AV.container_depth(t)))
            except Exception:
                return col
        return col

    def _bool_pred(self, cc, expr) -> Column:
        """Compile a WHERE predicate and reject statically non-boolean
        values (CoerceToPredicate: a number/string/temporal in boolean
        position is a type error, not truthiness)."""
        cc._nif = True  # WHERE: UNDEFINED == FALSE, comparisons pushable
        try:
            col = cc.compile(expr)
        finally:
            cc._nif = False
        t = cc.dtype_of(col)
        from .exprs import INT_TYPES, _is_duration

        if isinstance(t, (*INT_TYPES, T.FloatType, T.DoubleType,
                          T.DecimalType, T.StringType, T.DateType,
                          T.TimestampType, T.TimestampNTZType)) \
                or _is_duration(t):
            raise TranslateError(
                f"Type mismatch: expected Boolean but was "
                f"{t.simpleString()}")
        return col.cast("boolean")

    def _optional_match(self, df: DataFrame, m: A.Match) -> DataFrame:
        """Optional (LP:3095) == left outer join on the correlated variables."""
        pattern_vars = {getattr(el, "var", None)
                        for part in m.parts for el in part.elements}
        # outer variables referenced only in predicates (WHERE a.x = b.y)
        # correlate too — they must be visible inside the optional side
        referenced = _collect_var_names(m, binders=False)
        shared = [v for v in df.columns
                  if v in pattern_vars or v in referenced]
        sub = self._subtranslator(shared)
        matched = sub._match(self._argument_rows(df, shared, False),
                             A.Match(m.parts, optional=False, where=m.where))
        self._merge_sub_scope(sub)
        right = matched.select(
            *[F.col(v).alias(f"__r_{v}") for v in shared],
            *[c for c in matched.columns if c not in shared])
        return self._join_back(df, right, {v: f"__r_{v}" for v in shared},
                               "left", null_safe=True)

    def _preagg_optional_count(self, df: Optional[DataFrame], m: A.Match,
                               nxt) -> Optional[Tuple[DataFrame, A.Projection]]:
        """OPTIONAL MATCH (a)-[r:T]->(b) immediately followed by an
        aggregating WITH/RETURN whose ONLY use of the optional variables
        is ``count(r)`` / ``count(b)``: skip the outer join of the whole
        relationship rowstream and aggregate the rel scan FIRST.

        The left outer join + groupBy shape shuffles the full relationship
        side (one row per matched rel) into the aggregation; the rewrite
        groups the typed rel scan by the bound endpoint's edge end —
        partial (map-side) aggregation collapses it to (id, count) rows
        before the exchange — and left-joins that small frame instead
        (guide §2.3 "aggregate before you shuffle").  ``count(b)`` over
        the outer join equals the per-source edge count summed over the
        group because every matched rel binds a non-null ``b`` and an
        unmatched source contributes 0; Cypher ``sum`` of no rows is 0,
        matching ``count`` on an empty global group.

        Fires only when the shape is provably equivalent:
        - single-part optional pattern (a)-[r]->(b), no clause WHERE, no
          path var/selector, single-hop rel with no props/WHERE;
        - exactly one endpoint already bound (bare var: no labels/props);
        - the other endpoint fresh, unlabelled OR its single label implied
          by the rel type's declared endpoint labels (same contract as
          scan elision);
        - the next clause aggregates, and ``r``/``b`` appear ONLY as
          non-distinct ``count()`` arguments — any other aggregate
          (count(*), sum over outer vars, collect) observes the row
          multiplicity the join created, so the rewrite bails.
        Returns (df_with_count_column, rewritten_projection) or None."""
        if df is None or m.where is not None or len(m.parts) != 1:
            return None
        if not isinstance(nxt, A.Projection) or nxt.star:
            return None
        part = m.parts[0]
        if part.path_var or part.selector \
                or getattr(part, "legacy_shortest", False):
            return None
        els = part.elements
        if len(els) != 3:
            return None
        a_pat, rp, b_pat = els
        if not (isinstance(a_pat, A.NodePat) and isinstance(rp, A.RelPat)
                and isinstance(b_pat, A.NodePat)):
            return None
        if rp.var_length or rp.props is not None or rp.where is not None:
            return None
        if rp.var is not None and rp.var in df.columns:
            return None  # re-bound rel var: ProjectEndpoints semantics

        bound_l = a_pat.var is not None and a_pat.var in df.columns
        bound_r = b_pat.var is not None and b_pat.var in df.columns
        if bound_l == bound_r:
            return None
        bnd, fresh = (a_pat, b_pat) if bound_l else (b_pat, a_pat)
        if self.kinds.get(bnd.var) != "node" or not _bare_node(bnd):
            return None
        if not (_bare_node(fresh) or _single_label_node(fresh)):
            return None
        if fresh.labels:
            # the label must be implied by the rel type's declared
            # endpoint labels (PropertyGraph.rel_endpoint_labels) — the
            # same guarantee scan elision relies on
            if rp.direction == "both" or not rp.types or rp.neg_types \
                    or rp.type_tree is not None:
                return None
            fresh_is_left = fresh is a_pat
            if rp.direction == "out":
                end_idx = 0 if fresh_is_left else 1
            else:
                end_idx = 1 if fresh_is_left else 0
            for t in rp.types:
                if self._implied_end_label(t, end_idx,
                                           fresh.labels) is None:
                    return None
        cnt_vars = {v for v in (rp.var, fresh.var) if v is not None}
        if not cnt_vars or any(v in df.columns for v in cnt_vars):
            return None

        cnt_col = self._anon_var("pacnt")
        extras: dict = {}
        new_proj = self._preagg_rewrite_counts(nxt, cnt_vars, cnt_col,
                                               allow_count_star=False,
                                               rel_var=rp.var, extras=extras)
        if new_proj is None:
            return None

        # per-source counts (and min/max over the rel's own props) over
        # the (shard-pruned) rel scan; groupBy on the edge end does
        # partial map-side aggregation, so the exchange carries
        # (id, count[, min/max scalars]) only
        left_lbls = (list(a_pat.labels) if a_pat.labels
                     else self.labels_of(a_pat.var if bound_l else None))
        right_lbls = (list(b_pat.labels) if b_pat.labels
                      else self.labels_of(b_pat.var if bound_r else None))
        scan = self._rel_scan(rp, "__pa_r", slim=not extras,
                              left_labels=left_lbls, right_labels=right_lbls)
        extra_aggs = self._preagg_extra_aggs(scan, "__pa_r", extras)
        if extra_aggs is None:
            return None
        key = "__from" if bound_l else "__to"
        per = scan.groupBy(F.col(key).alias("__pa_k")).agg(
            F.count(F.lit(1)).alias(cnt_col), *extra_aggs)
        out = (df.join(per,
                       F.col(bnd.var).getField("_id") == F.col("__pa_k"),
                       "left")
                 .drop("__pa_k")
                 .withColumn(cnt_col, F.coalesce(F.col(cnt_col),
                                                 F.lit(0).cast("long"))))
        self.kinds[cnt_col] = "scalar"
        for c in extras.values():
            self.kinds[c] = "scalar"
        return out, new_proj

    def _preagg_rewrite_counts(self, nxt, cnt_vars, cnt_col: str,
                               allow_count_star: bool,
                               rel_var: Optional[str] = None,
                               extras: Optional[dict] = None):
        """Rewrite a Projection for count pre-aggregation: every
        ``count(v)`` (non-distinct, v in ``cnt_vars``) — and, when
        ``allow_count_star`` (inner-join variant, where each source row's
        multiplicity IS its per-source count), ``count(*)`` — becomes
        ``sum(cnt_col)``.

        When ``rel_var``/``extras`` are given, duplicate-insensitive
        ``min(r.p)`` / ``max(r.p)`` over the pre-aggregated rel's OWN
        properties also rewrite: the per-source min/max is computed on
        the rel scan (``extras`` maps (fn, prop) -> generated column) and
        the outer aggregate folds it — min/max are associative under any
        total order, so min-of-per-source-mins equals the global min
        regardless of outer-row multiplicity, and an unmatched outer row
        contributes a null the outer min/max skips (Cypher min over no
        rows is null, matching).  DISTINCT min/max are value-identical to
        their plain forms, so both are admitted.

        Returns the rewritten Projection, or None when
        the rewrite is unsound: no rewritable count at all, any OTHER
        aggregate (it would observe the join's row multiplicity), or any
        use of a ``cnt_vars`` variable outside a rewritable count
        (including nested patterns naming it, which would correlate)."""
        state = {"ok": True, "n": 0}

        def rewrite(node):
            if not state["ok"]:
                return node
            if isinstance(node, A.Func):
                if (node.name == "count" and not node.distinct
                        and len(node.args) == 1
                        and isinstance(node.args[0], A.Var)
                        and node.args[0].name in cnt_vars):
                    state["n"] += 1
                    # Cypher sum of no rows is 0 (_compile_aggregate
                    # wraps coalesce), so the empty-group case matches
                    # count()'s 0
                    return A.Func("sum", [A.Var(cnt_col)])
                if (node.name in ("min", "max") and len(node.args) == 1
                        and extras is not None and rel_var is not None
                        and isinstance(node.args[0], A.Prop)
                        and isinstance(node.args[0].subject, A.Var)
                        and node.args[0].subject.name == rel_var):
                    key = (node.name, node.args[0].key)
                    col = extras.setdefault(
                        key, f"{cnt_col}_{node.name}{len(extras)}")
                    state["n"] += 1
                    return A.Func(node.name, [A.Var(col)])
                if is_agg_fn(node.name):
                    # any other aggregate observes the join's multiplicity
                    state["ok"] = False
                    return node
            if isinstance(node, A.CountStar):
                if allow_count_star:
                    state["n"] += 1
                    return A.Func("sum", [A.Var(cnt_col)])
                state["ok"] = False
                return node
            if isinstance(node, A.Var) and node.name in cnt_vars:
                state["ok"] = False
                return node
            if isinstance(node, A.MapProjection) and node.var in cnt_vars:
                state["ok"] = False
                return node
            if isinstance(node, (A.NodePat, A.RelPat)) \
                    and getattr(node, "var", None) in cnt_vars:
                # a nested pattern naming the var would correlate to it
                state["ok"] = False
                return node
            return A.map_children(node, rewrite)

        new_proj = rewrite(nxt)
        if not state["ok"] or state["n"] == 0:
            return None
        return new_proj

    def _preagg_trailing_count(self, df: Optional[DataFrame], m: A.Match,
                               nxt) -> Optional[Tuple[DataFrame, A.Projection]]:
        """Inner-join sibling of :meth:`_preagg_optional_count`:
        ``MATCH ...chain...-[r:T]->(b)`` followed by an aggregating
        WITH/RETURN whose only use of the TRAILING hop is ``count(*)`` /
        ``count(r)`` / ``count(b)``.  The trailing rel scan — often the
        biggest table in the pattern (Order->CONTAINS->Part is
        lineitem-scale) — is aggregated per source edge end FIRST
        (map-side partial combine, the exchange carries (id, count)
        rows), then inner-joined to the prefix chain (guide §2.3).

        Under the inner join each prefix row's multiplicity equals its
        per-source edge count and rows with zero trailing matches are
        dropped on both shapes, so ``count(*)`` rewrites to
        ``sum(cnt)`` as well.

        Extra soundness conditions beyond the optional variant:
        - the whole part is a plain NodePat/RelPat chain (no QPP);
        - every NON-trailing rel has declared types disjoint from the
          trailing rel's (otherwise the lowering must emit a real
          rel-uniqueness predicate between them, which needs the
          trailing rel ids);
        - the clause WHERE must not reference the trailing vars
          (filters on prefix vars commute with the inner join)."""
        import dataclasses as _dc

        if not isinstance(nxt, A.Projection) or nxt.star:
            return None
        if len(m.parts) != 1:
            return None
        part = m.parts[0]
        if part.path_var or part.selector \
                or getattr(part, "legacy_shortest", False):
            return None
        els = part.elements
        # >= 5 elements: with a single hop the original lowering is
        # already one rel scan with both endpoints elided — strictly
        # better than node-scan + join
        if len(els) < 5 or len(els) % 2 == 0:
            return None
        if not all(isinstance(e, (A.NodePat, A.RelPat)) for e in els):
            return None
        conn, rp, b_pat = els[-3], els[-2], els[-1]
        if not (isinstance(conn, A.NodePat) and isinstance(rp, A.RelPat)
                and isinstance(b_pat, A.NodePat)):
            return None
        if rp.var_length or rp.props is not None or rp.where is not None \
                or rp.type_tree is not None or rp.neg_types:
            return None
        if not rp.types:
            return None  # untyped trailing rel: uniqueness vs others is real
        if df is not None and rp.var is not None and rp.var in df.columns:
            return None
        if rp.var is not None and any(
                rp.var == getattr(e, "var", None) for e in els[:-2]):
            return None  # same-MATCH rel-var reuse has its own semantics

        # trailing node must be fresh and either unconstrained or
        # implied by the declared endpoint label
        if b_pat.var is not None and df is not None \
                and b_pat.var in df.columns:
            return None
        if b_pat.var is not None \
                and any(b_pat.var == getattr(e, "var", None)
                        for e in els[:-1]):
            return None  # closes a cycle within the pattern
        if not (_bare_node(b_pat) or _single_label_node(b_pat)):
            return None
        if b_pat.labels:
            if rp.direction == "both":
                return None
            end_idx = 1 if rp.direction == "out" else 0
            for t in rp.types:
                if self._implied_end_label(t, end_idx,
                                           b_pat.labels) is None:
                    return None
        # rel-uniqueness: the trailing rel must be type-disjoint from
        # every other rel in the part (typed, no overlap) so the
        # lowering never needs its ids
        t_types = set(rp.types)
        for e in els[:-2]:
            if isinstance(e, A.RelPat):
                if not e.types or (set(e.types) & t_types) \
                        or e.neg_types or e.type_tree is not None:
                    return None
        cnt_vars = {v for v in (rp.var, b_pat.var) if v is not None}
        if df is not None and any(v in df.columns for v in cnt_vars):
            return None
        # the trailing vars must not leak into the clause WHERE
        if m.where is not None and _collect_var_names(m.where) & cnt_vars:
            return None

        cnt_col = self._anon_var("pacnt")
        extras: dict = {}
        new_proj = self._preagg_rewrite_counts(nxt, cnt_vars, cnt_col,
                                               allow_count_star=True,
                                               rel_var=rp.var, extras=extras)
        if new_proj is None:
            return None

        # lower the prefix chain; the connection node keeps its edge-end
        # id even when elided (consume-once flag read by _match_part).
        # An anonymous connection node gets a name so a non-elided
        # binding is still addressable.
        els2 = list(els[:-2])
        conn_var = conn.var
        if conn_var is None:
            conn_var = self._anon_var("pan")
            els2[-1] = _dc.replace(conn, var=conn_var)
        prefix = _dc.replace(part, elements=els2)
        self._preagg_keep_final = True
        try:
            pre = self._match(df, A.Match([prefix], optional=False,
                                          where=m.where))
        finally:
            self._preagg_keep_final = False
        if conn_var in pre.columns:
            key = F.col(conn_var).getField("_id")
        elif "__preagg_key" in pre.columns:
            key = F.col("__preagg_key")
        else:
            return None  # prefix lowering took an unexpected shape

        left_lbls = (list(conn.labels) if conn.labels
                     else self.labels_of(
                         conn_var if conn_var in pre.columns else None))
        right_lbls = list(b_pat.labels) if b_pat.labels else None
        scan = self._rel_scan(rp, "__pa_r", slim=not extras,
                              left_labels=left_lbls,
                              right_labels=right_lbls)
        extra_aggs = self._preagg_extra_aggs(scan, "__pa_r", extras)
        if extra_aggs is None:
            return None
        per = scan.groupBy(F.col("__from").alias("__pa_k")).agg(
            F.count(F.lit(1)).alias(cnt_col), *extra_aggs)
        out = (pre.join(per, key == F.col("__pa_k"))
                  .drop("__pa_k", "__preagg_key"))
        self.kinds[cnt_col] = "scalar"
        for c in extras.values():
            self.kinds[c] = "scalar"
        return out, new_proj

    def _preagg_extra_aggs(self, scan: DataFrame, struct_col: str,
                           extras: dict) -> Optional[list]:
        """Per-source min/max aggregate columns for the pre-agg rewrites.

        ``extras`` maps (fn, prop) -> output column.  Bails (None) when a
        requested property is not a field of the rel struct (the generic
        lowering's missing-property null semantics must win) or its type
        is an AnyValue-tagged union (plain F.min/F.max would order tagged
        nulls instead of skipping them; _compile_aggregate nullifies them
        first, so the per-source fold would diverge)."""
        if not extras:
            return []
        from . import anyvalue as AV
        from pyspark.sql import types as T

        st = scan.schema[struct_col].dataType
        assert isinstance(st, T.StructType)
        fields = {f.name: f.dataType for f in st.fields}
        out = []
        for (fn, prop), col in extras.items():
            t = fields.get(prop)
            if t is None or AV.is_any_type(t):
                return None
            src = F.col(struct_col).getField(prop)
            out.append((F.min(src) if fn == "min" else F.max(src))
                       .alias(col))
        return out

    def _preagg_pattern_sub(self, cur_df: DataFrame, parts, where):
        """Shared fast-path gate for EXISTS{}/COUNT{} pattern subqueries
        whose pattern is a single rel hop anchored ONLY at one
        outer-bound bare node: return (slim rel scan, edge-end key
        column, bound var name), or None when the generic
        build-from-outer-rows lowering must run.

        The generic lowering runs the pattern match FROM the distinct
        outer rows (broadcast of every outer id, one join row per rel)
        before aggregating; for this shape the subquery's value per
        outer row is a pure function of the rel scan — per-source count
        (COUNT) or source-id membership (EXISTS) — so the scan can be
        aggregated/deduplicated FIRST and the small (id[, count]) frame
        joined back (guide §2.3: the exchange carries ids, never rel
        rows; and the outer id set is never broadcast, which at scale it
        could not be).  Soundness gates mirror
        :meth:`_preagg_optional_count` exactly (probe-verified there,
        incl. the undirected bare-fresh case).

        An inner WHERE (clause-level or ``[r:T WHERE ...]``) is admitted
        when it references ONLY the rel variable itself: the predicate
        compiles against the scan's full rel struct — the same struct
        the generic lowering would bind — and filters the scan before
        the aggregate, so it pushes into the parquet read instead of
        forcing the build-from-outer-rows join."""
        if len(parts) != 1:
            return None
        part = parts[0]
        if part.path_var or part.selector \
                or getattr(part, "legacy_shortest", False):
            return None
        els = part.elements
        if len(els) != 3:
            return None
        a_pat, rp, b_pat = els
        if not (isinstance(a_pat, A.NodePat) and isinstance(rp, A.RelPat)
                and isinstance(b_pat, A.NodePat)):
            return None
        if rp.var_length or rp.props is not None:
            return None
        preds = [p for p in (where, rp.where) if p is not None]
        if preds and not all(self._rel_only_pred(p, rp.var) for p in preds):
            return None
        if rp.var is not None and rp.var in cur_df.columns:
            return None  # re-bound rel var: ProjectEndpoints semantics

        bound_l = a_pat.var is not None and a_pat.var in cur_df.columns
        bound_r = b_pat.var is not None and b_pat.var in cur_df.columns
        if bound_l == bound_r:
            return None
        bnd, fresh = (a_pat, b_pat) if bound_l else (b_pat, a_pat)
        if self.kinds.get(bnd.var) != "node" or not _bare_node(bnd):
            return None
        if fresh.var is not None and fresh.var == bnd.var:
            return None  # cycle back to the anchor
        if not (_bare_node(fresh) or _single_label_node(fresh)):
            return None
        if fresh.labels:
            # label must be implied by the rel type's declared endpoint
            # labels (the scan-elision contract)
            if rp.direction == "both" or not rp.types or rp.neg_types \
                    or rp.type_tree is not None:
                return None
            fresh_is_left = fresh is a_pat
            if rp.direction == "out":
                end_idx = 0 if fresh_is_left else 1
            else:
                end_idx = 1 if fresh_is_left else 0
            for t in rp.types:
                if self._implied_end_label(t, end_idx,
                                           fresh.labels) is None:
                    return None

        left_lbls = (list(a_pat.labels) if a_pat.labels
                     else self.labels_of(a_pat.var if bound_l else None))
        right_lbls = (list(b_pat.labels) if b_pat.labels
                      else self.labels_of(b_pat.var if bound_r else None))
        scan = self._rel_scan(rp, "__pa_r", slim=not preds,
                              left_labels=left_lbls,
                              right_labels=right_lbls)
        if preds:
            scan = self._filter_rel_scan(scan, rp.var, preds)
            if scan is None:
                return None
        key = "__from" if bound_l else "__to"
        return scan, key, bnd.var

    @staticmethod
    def _proj_error_free(e) -> bool:
        """True when a comprehension projection can never raise at
        evaluation time, so dropping its evaluation (counting matches
        instead of materializing the list) is semantics-preserving:
        variables, property accesses on variables, and literals.
        Anything computed (arithmetic can overflow/divide-by-zero under
        ANSI mode, functions can throw) keeps the materializing path."""
        if isinstance(e, (A.Var, A.Lit, A.Param)):
            return True
        if isinstance(e, A.Prop):
            return isinstance(e.subject, A.Var)
        return False

    def _rel_only_pred(self, e, rv: Optional[str]) -> bool:
        """True when expression ``e`` references no variable other than
        the rel var ``rv`` and contains no construct whose compilation
        could reach beyond the rel struct (nested patterns, subqueries,
        local-binder comprehensions, aggregates)."""
        opaque = _SUBQUERY_EXPRS + (A.NodePat, A.RelPat, A.ListComp,
                                    A.Quantifier, A.Reduce, A.CountStar)
        for n in A.walk(e):
            if isinstance(n, A.Var):
                if rv is None or n.name != rv:
                    return False
            elif isinstance(n, A.MapProjection):
                if rv is None or n.var != rv:
                    return False
            elif isinstance(n, opaque) or (
                    isinstance(n, A.Func) and is_agg_fn(n.name)):
                return False
        return True

    def _filter_rel_scan(self, scan: DataFrame, rv: Optional[str],
                         preds) -> Optional[DataFrame]:
        """Compile rel-only predicates against the scan's full struct
        (bound under the rel var's name, kind 'rel' — the same binding
        the generic lowering gives it) and filter.  Returns None when
        compilation falls outside the supported surface, sending the
        caller back to the generic lowering."""
        tmp = scan.withColumnRenamed("__pa_r", rv) if rv else scan
        saved = self.kinds.get(rv) if rv else None
        if rv:
            self.kinds[rv] = "rel"
        try:
            cc = self._compiler(tmp)
            cond = None
            for p in preds:
                c = cc.compile(p)
                cond = c if cond is None else cond & c
            tmp = tmp.filter(cond)
        except TranslateError:
            return None
        finally:
            if rv:
                if saved is None:
                    self.kinds.pop(rv, None)
                else:
                    self.kinds[rv] = saved
        return tmp.withColumnRenamed(rv, "__pa_r") if rv else tmp

    def _implied_end_label(self, t: str, end_idx: int,
                           pat_labels) -> Optional[str]:
        """The single label GUARANTEED for endpoint ``end_idx`` of every
        row a scan of rel type ``t`` (built with ``pat_labels`` endpoint
        knowledge) will produce, or None when no such guarantee exists.

        - declaration is a single label: guaranteed by the type itself;
          the pattern's labels (if any) must name exactly that label,
          otherwise eliding the node join would drop a real filter;
        - declaration is a tuple of alternatives (sharded type, e.g.
          FROM_NATION src = Customer|Supplier): guaranteed only when the
          pattern pins ONE alternative — the scan is then pruned to that
          label's shards — and :meth:`PropertyGraph.
          shard_endpoint_guarantee` holds (shards declared, pruning not
          voided by writes, and no unconstrained shard that could leak
          another label)."""
        meta = getattr(self.graph, "rel_endpoint_labels", {}) or {}
        g = meta.get(t)
        if g is None:
            return None
        end = g[end_idx]
        if isinstance(end, str):
            if pat_labels and set(pat_labels) != {end}:
                return None
            return end
        if isinstance(end, (tuple, list)):
            if len(pat_labels or ()) != 1 or pat_labels[0] not in end:
                return None
            guard = getattr(self.graph, "shard_endpoint_guarantee", None)
            if guard is None or not guard(t, end_idx, pat_labels[0]):
                return None
            return pat_labels[0]
        return None

    def _uniqueness_filters(self, df: DataFrame,
                            rel_bindings: List[Tuple[str, str, frozenset]]) -> DataFrame:
        """Relationship-uniqueness within one MATCH (reference:
        ``front-end/rewriting/.../AddUniquenessPredicates.scala:66``)."""
        def overlap(t1: frozenset, t2: frozenset) -> bool:
            return (not t1) or (not t2) or bool(t1 & t2)

        for i in range(len(rel_bindings)):
            for j in range(i + 1, len(rel_bindings)):
                v1, k1, t1 = rel_bindings[i]
                v2, k2, t2 = rel_bindings[j]
                if not overlap(t1, t2):
                    continue
                c1, c2 = F.col(v1), F.col(v2)
                if k1 == "rel" and k2 == "rel":
                    df = df.filter(c1.getField("_id") != c2.getField("_id"))
                elif k1 == "rel" and k2 == "rellist":
                    df = df.filter(~F.array_contains(
                        F.transform(c2, lambda x: x.getField("_id")), c1.getField("_id")))
                elif k1 == "rellist" and k2 == "rel":
                    df = df.filter(~F.array_contains(
                        F.transform(c1, lambda x: x.getField("_id")), c2.getField("_id")))
                else:
                    df = df.filter(~F.arrays_overlap(
                        F.transform(c1, lambda x: x.getField("_id")),
                        F.transform(c2, lambda x: x.getField("_id"))))
        return df

    # ---- pattern elements ------------------------------------------------

    def _node_scan(self, np: A.NodePat, var: str) -> DataFrame:
        if np.any_labels:
            base = self.graph.nodes_for_any_labels(np.labels)
        else:
            base = self.graph.nodes_for_labels(np.labels)
        # SubtractionNodeByLabelsScan (LP:4789) / GQL !Label and % terms
        for l in np.neg_labels:
            base = base.filter(~F.array_contains(F.col("labels"), l))
        if np.req_any_label:
            # '%' = has at least one REAL label: unlabeled nodes live in
            # the internal '_none' shard, whose marker doesn't count
            base = base.filter(
                F.size(F.array_remove(F.col("labels"), "_none")) > 0)
        if np.req_no_label:
            base = base.filter(
                F.size(F.array_remove(F.col("labels"), "_none")) == 0)
        if getattr(np, "label_tree", None) is not None:
            # full algebra (e.g. :(A|B)&!C): ``labels`` above pruned the
            # shard cover; the tree is the exact predicate
            from .exprs import compile_label_tree

            base = base.filter(
                compile_label_tree(np.label_tree, F.col("labels")))
        props = [c for c in base.columns if c not in NODE_META]
        struct = F.struct(
            F.col("id").alias("_id"), F.col("labels").alias("_labels"),
            *[F.col(p).alias(_unesc_prop(p)) for p in props])
        return base.select(struct.alias(var))

    def _rel_scan(self, rp: A.RelPat, var: str,
                  slim: bool = False,
                  left_labels=None, right_labels=None) -> DataFrame:
        """Returns frame [__from, __to, <var> struct] honoring direction.

        BOTH-direction = union of both orientations (Undirected* scans,
        LP:4220); self-loops contribute once.  ``slim``: carry only _id in
        the struct — for var-length expands whose rel list is consumed
        only by uniqueness bookkeeping, this lets parquet prune every
        property column (an untyped ``-[*2..2]->`` otherwise drags all
        lineitem props through every BFS level).

        ``left_labels`` / ``right_labels``: alternative-label knowledge
        for the pattern-left / pattern-right endpoint node (None =
        unknown) — lets multi-shard rel types (PropertyGraph.rel_shards)
        prune to the shards whose endpoint label can match.  Direction
        maps pattern sides to edge ends: 'out' left=src, 'in' left=dst,
        both-direction prunes each orientation independently."""
        def typed(src_labels=None, dst_labels=None):
            b = self.graph.rels_for_types(
                rp.types, src_labels=src_labels, dst_labels=dst_labels)
            if rp.neg_types:  # [:!TYPE] — subtract from the positive cover
                b = b.filter(~F.col("type").isin(list(rp.neg_types)))
            if getattr(rp, "type_tree", None) is not None:
                # full boolean type algebra ([:((!A&B)&(C|D))]): ``types``
                # above pruned the shard cover (empty cover = all shards);
                # the tree is the exact per-row predicate on the single type
                from .exprs import compile_label_tree

                if not rp.types:
                    b = self.graph.rels
                b = b.filter(
                    compile_label_tree(rp.type_tree, None, F.col("type")))
            return b

        if rp.direction == "out":
            base = typed(left_labels, right_labels)
        elif rp.direction == "in":
            base = typed(right_labels, left_labels)
        else:
            base = typed()
        props = [c for c in base.columns if c not in REL_META]
        if slim:
            struct = F.struct(F.col("id").alias("_id"))
        else:
            struct = F.struct(
                F.col("id").alias("_id"), F.col("src").alias("_src"),
                F.col("dst").alias("_dst"), F.col("type").alias("_type"),
                *[F.col(p).alias(_unesc_prop(p)) for p in props])
        if rp.direction == "out":
            return base.select(F.col("src").alias("__from"),
                               F.col("dst").alias("__to"), struct.alias(var))
        if rp.direction == "in":
            return base.select(F.col("dst").alias("__from"),
                               F.col("src").alias("__to"), struct.alias(var))
        # both-direction: each orientation prunes shards independently —
        # ``(n:Nation)-[:FROM_NATION]-(x)`` keeps no shard for the
        # forward leg (no FROM_NATION starts at a Nation) and both for
        # the reverse leg
        fwd = typed(left_labels, right_labels).select(
            F.col("src").alias("__from"), F.col("dst").alias("__to"),
            struct.alias(var))
        rev = typed(right_labels, left_labels) \
            .filter(F.col("src") != F.col("dst")).select(
                F.col("dst").alias("__from"), F.col("src").alias("__to"),
                struct.alias(var))
        return fwd.unionByName(rev)

    def _bind_first_node(self, df: Optional[DataFrame], np: A.NodePat,
                         pending: List[A.Expr]) -> Tuple[DataFrame, str]:
        var = np.var or self._anon_var("n")
        if df is not None and var in df.columns:
            self._queue_node_filters(np, var, pending, bound=True)
            return df, var
        scan = self._node_scan(np, var)
        self.kinds[var] = "node"
        self._note_labels(var, np.labels)
        self._queue_node_filters(np, var, pending, bound=False)
        if df is None:
            return scan, var
        return df.crossJoin(scan), var  # CartesianProduct (LP:1171)

    def _merge_sub_scope(self, sub: "Translator") -> None:
        """Adopt a subquery translator's bindings; label knowledge follows
        kinds — a var the sub (re)bound without labels loses any stale
        parent entry (pruning must never act on outdated labels)."""
        self.kinds.update(sub.kinds)
        for v in sub.kinds:
            if v in sub.var_labels:
                self.var_labels[v] = sub.var_labels[v]
            else:
                self.var_labels.pop(v, None)

    def _merge_branch_scopes(self, subs: List["Translator"]) -> None:
        """Adopt bindings from UNION branch translators.  Label knowledge
        for a var survives only when EVERY branch that binds it recorded
        labels, and becomes the UNION of the branches' label sets
        (labels_of treats the set as alternatives) — last-branch-wins
        would let schema pruning drop valid paths from earlier branches."""
        for sub in subs:
            self.kinds.update(sub.kinds)
        for v in set().union(*(set(s.kinds) for s in subs)) if subs else ():
            binding = [s for s in subs if v in s.kinds]
            if binding and all(v in s.var_labels for s in binding):
                self.var_labels[v] = frozenset().union(
                    *(s.var_labels[v] for s in binding))
            else:
                self.var_labels.pop(v, None)

    def _note_labels(self, var: str, labels) -> None:
        if labels:
            self.var_labels[var] = frozenset(labels)
        else:
            self.var_labels.pop(var, None)

    def labels_of(self, var: Optional[str]):
        """Static label knowledge for a bound node var (None = unknown)."""
        if var and self.kinds.get(var) == "node":
            ls = self.var_labels.get(var)
            if ls:
                return list(ls)
        return None

    def _queue_node_filters(self, np: A.NodePat, var: str,
                            pending: List[A.Expr], bound: bool = False) -> None:
        if bound and getattr(np, "label_tree", None) is not None:
            pending.append(A.HasLabels(A.Var(var), list(np.labels),
                                       any_labels=np.any_labels,
                                       label_tree=np.label_tree))
        elif np.labels and bound:  # label check on an already-bound var
            pending.append(A.HasLabels(A.Var(var), list(np.labels),
                                       any_labels=np.any_labels))
        if bound:
            for l in np.neg_labels:
                pending.append(A.UnaryOp(
                    "NOT", A.HasLabels(A.Var(var), [l])))
        if np.props is not None:
            for k, v in np.props.items:
                pending.append(A.BinOp("=", A.Prop(A.Var(var), k), v))
        if np.where is not None:
            pending.append(np.where)

    def _queue_rel_filters(self, rp: A.RelPat, var: str,
                           pending: List[A.Expr]) -> None:
        if rp.props is not None:
            for k, v in rp.props.items:
                pending.append(A.BinOp("=", A.Prop(A.Var(var), k), v))
        if rp.where is not None:
            pending.append(rp.where)

    def _pattern_part(self, df: Optional[DataFrame], part: A.PatternPart,
                      pending: List[A.Expr],
                      rel_bindings: List[Tuple[str, str, frozenset]]) -> DataFrame:
        sel = part.selector
        pre = list(part.elements)
        pre = self._qpp_collapse(pre)
        # Juxtaposed path-pattern factors share an implicit anonymous
        # boundary node (GQL concatenation): a pattern may start with a
        # QPP, end with one, or chain two QPPs directly — normalize the
        # element list to strict node/rel alternation so the walk below
        # never indexes past the end.  (The collapse above can also leave
        # a var-length RelPat leading/trailing.)
        norm: list = []
        for el in pre:
            if not isinstance(el, A.NodePat) and (
                    not norm or not isinstance(norm[-1], A.NodePat)):
                norm.append(A.NodePat(None))
            norm.append(el)
        if norm and isinstance(norm[-1], A.RelPat):
            norm.append(A.NodePat(None))
        pre = norm
        if sel in ("shortest", "allShortest") and part.where is None:
            # the bidirectional-BFS fast path carries lengths/ids only —
            # a consumed relationship variable needs the enumerate path
            if (len(pre) == 3 and isinstance(pre[1], A.RelPat)
                    and pre[1].var_length
                    and (pre[1].var is None
                         or self._var_single_use(pre[1].var))):
                import dataclasses

                part2 = dataclasses.replace(part, elements=pre)
                from ..operators.paths import shortest_path

                return shortest_path(self, df, part2, pending)
            # complex pattern (QPP / fixed chain): enumerate + rank below
        nfa_mode = self._nfa_eligible(part, pre)
        if nfa_mode:
            from ..operators.paths import nfa_shortest, nfa_shortest_tracked

            import dataclasses

            part2 = dataclasses.replace(part, elements=pre)
            if nfa_mode == "track":
                return nfa_shortest_tracked(self, df, part2, pending)
            return nfa_shortest(self, df, part2, pending)
        needs_enum = sel is not None
        pend_start = len(pending)
        rb_start = len(rel_bindings)
        if needs_enum or part.path_var:
            # selector ranking and path construction both need every
            # repeated rel of a QPP as a group column — name the anonymous
            # ones
            for el in pre:
                if isinstance(el, A.QPP):
                    for iel in el.elements:
                        if isinstance(iel, A.RelPat) and not iel.var:
                            iel.var = self._anon_var("qg")

        els = pre

        def unconstrained(np) -> bool:
            return (isinstance(np, A.NodePat) and np.var is None
                    and not np.labels and np.props is None
                    and np.where is None)

        def elidable(np, rp, end_idx) -> bool:
            """True when the node-frame join for ``np`` can be skipped:
            no props/where, its var (if any) is referenced nowhere else,
            and its labels (if any) are guaranteed by the rel type's
            declared endpoint labels (PropertyGraph.rel_endpoint_labels).
            ``end_idx``: 0 = edge src, 1 = edge dst, None = unknown
            (both-direction)."""
            if part.path_var is not None or part.selector is not None:
                return False
            if not isinstance(np, A.NodePat) or np.props is not None \
                    or np.where is not None:
                return False
            if np.var is not None and not self._var_single_use(np.var):
                return False
            if self._rel_endpoints_needed(rp.var):
                return False
            if not np.labels:
                return True
            if end_idx is None or not rp.types or rp.neg_types:
                return False
            for t in rp.types:
                if self._implied_end_label(t, end_idx, np.labels) is None:
                    return False
            return True

        def end_of(rp, first: bool):
            """Which edge end a pattern node is, given the rel direction."""
            if rp.direction == "out":
                return 0 if first else 1
            if rp.direction == "in":
                return 1 if first else 0
            return None

        def key_elidable(np, rp, end_idx):
            """(var, prop, offset, label) when the node-frame join for
            ``np`` can be replaced by an id-only struct carrying the
            source-declared key property derived from the edge-end id
            (PropertyGraph.key_prop_of).  Requires: the endpoint's label
            is pinned by the rel type declaration, the var is used ONLY
            as ``var.keyprop``, and the statement performs no writes."""
            if part.path_var is not None or part.selector is not None:
                return None
            if not isinstance(np, A.NodePat) or np.var is None \
                    or np.props is not None or np.where is not None:
                return None
            if np.label_tree is not None or np.neg_labels or np.any_labels \
                    or np.req_any_label or np.req_no_label:
                return None
            if rp.var_length or end_idx is None or not rp.types \
                    or rp.neg_types or rp.type_tree is not None:
                return None
            if self._rel_endpoints_needed(rp.var):
                return None
            lbl = None
            for t in rp.types:
                cand = self._implied_end_label(t, end_idx, np.labels)
                if cand is None:
                    return None
                if lbl is None:
                    lbl = cand
                elif cand != lbl:
                    return None
            if np.labels and set(np.labels) != {lbl}:
                return None
            if self._stmt_has_writes():
                return None
            kp = getattr(self.graph, "key_prop_of", lambda _l: None)(lbl)
            if kp is not None and self._var_key_prop_only(np.var, kp[0]):
                return np.var, kp[0], kp[1], lbl
            # id-only variant (r9): a var used ONLY as a bare pattern
            # endpoint — possibly in several parts (a connector like
            # q5's (c:Customer)-[:PLACED]->(o), (c)-[:FROM_NATION]->(n))
            # — needs nothing but its _id: later positions ExpandInto on
            # it, so a {_id} struct replaces the node-frame join with no
            # key-prop declaration required
            if self._var_endpoints_only(np.var, np):
                return np.var, None, None, lbl
            return None

        def bind_key_struct(df, end_col, kb):
            v, prop, off, lbl = kb
            fields = [F.col(end_col).alias("_id")]
            if prop is not None:
                fields.append((F.col(end_col) - F.lit(off)).alias(prop))
            df = df.withColumn(v, F.struct(*fields))
            self.kinds[v] = "node"
            self._note_labels(v, [lbl])
            return df

        # Scan elision: an endpoint node needs no node-frame join when the
        # rel scan alone carries the semantics (anonymous/unreferenced var,
        # labels implied by declared endpoint labels).  Matters at scale: a
        # Q1-style ``MATCH ()-[l:CONTAINS]->()`` is then ONE parquet scan,
        # not three, and ``(c:Customer)-[:PLACED]->(o:Order)`` skips the
        # orders table when ``o`` is never read.
        first_fresh = (len(els) > 1 and isinstance(els[1], A.RelPat)
                       and not els[1].var_length
                       and (els[0].var is None
                            or df is None or els[0].var not in df.columns))
        skip_first = (part.path_var is None and part.selector is None
                      and first_fresh
                      and (unconstrained(els[0])
                           or elidable(els[0], els[1], end_of(els[1], True))))
        # key-property elision for the FIRST endpoint: no node join, the
        # var binds as an id struct carrying the derived key prop off the
        # first rel scan's __from
        first_kb = None
        if not skip_first and first_fresh:
            first_kb = key_elidable(els[0], els[1], end_of(els[1], True))
            skip_first = first_kb is not None
        if skip_first:
            prev = None
        else:
            df, prev = self._bind_first_node(df, els[0], pending)
        path_nodes: List[str] = [prev] if prev else []
        path_rels: List[Tuple[str, str]] = []  # (var, kind)
        i = 1
        while i < len(els):
            if isinstance(els[i], A.QPP):
                nxt = els[i + 1] if i + 1 < len(els) else A.NodePat(None)
                skip_next = isinstance(nxt, A.NodePat)
                df, prev, rvars = self._qpp_expand(
                    df, prev, els[i], nxt if skip_next else A.NodePat(None),
                    pending, rel_bindings,
                    elide_nodes=(part.path_var is None
                                 and part.selector is None))
                path_rels.extend((rv, "rellist") for rv in rvars)
                path_nodes.append(prev)
                i += 2 if skip_next else 1
                continue
            rp: A.RelPat = els[i]
            np: A.NodePat = els[i + 1]
            if rp.var_length:
                from ..operators.paths import var_expand

                rvar = rp.var or self._anon_var("r")
                nvar = np.var or self._anon_var("n")
                was_bound = nvar in df.columns
                slim = (part.path_var is None and part.selector is None
                        and rp.props is None and rp.where is None
                        and (rp.var is None or self._var_single_use(rp.var)))
                # the preceding node pattern's labels bound the expansion's
                # start — sound for schema pruning because that label
                # predicate is enforced on the rowstream regardless
                pre_np = els[i - 1]
                start_labels = (list(pre_np.labels)
                                if isinstance(pre_np, A.NodePat)
                                and pre_np.labels
                                else self.labels_of(prev))
                df = var_expand(self, df, prev, rp, np, rvar, nvar, slim=slim,
                                start_labels=start_labels)
                self.kinds[rvar] = "rellist"
                self.kinds[nvar] = "node"
                if not was_bound:
                    self._note_labels(nvar, np.labels)
                rel_bindings.append((rvar, "rellist", frozenset(rp.types)))
                self._queue_node_filters(np, nvar, pending, bound=was_bound)
                path_rels.append((rvar, "rellist"))
                path_nodes.append(nvar)
                prev = nvar
                i += 2
                continue
            rvar = rp.var or self._anon_var("r")
            nvar = np.var or self._anon_var("n")
            thru = df is not None and "__thru" in df.columns
            if df is not None and rvar in df.columns:
                # rel var re-used: ProjectEndpoints (LP:3407) — rebind the
                # traversal endpoints from the bound rel (scan join by id
                # restores __from/__to per the pattern's direction/type)
                scan = self._rel_scan(rp, f"__dup_{rvar}")
                df = df.join(
                    scan,
                    F.col(rvar).getField("_id") == F.col(f"__dup_{rvar}").getField("_id"),
                ).drop(f"__dup_{rvar}")
                if thru:
                    df = df.filter(F.col("__thru") == F.col("__from")) \
                           .drop("__thru")
                elif prev is not None:
                    df = df.filter(
                        F.col(prev).getField("_id") == F.col("__from"))
                # rel-uniqueness counts OCCURRENCES, not variables
                # (AddUniquenessPredicates.scala:66): this occurrence
                # still pairs against the MATCH's other rels — and a
                # var re-used WITHIN one MATCH pairs against its own
                # first occurrence, which can never hold, so the match
                # is empty (GraphPatternAcceptance 'Singleton element
                # variable can be repeated…' expects no rows).  Cross-
                # MATCH reuse adds only this one occurrence: a plain
                # implicit join.
                rel_bindings.append((rvar, "rel", frozenset(rp.types)))
            else:
                # endpoint-label knowledge for shard pruning: the pattern
                # node's label cover (always a sound disjunctive cover,
                # parser._lower_label_tree) or the tracked labels of an
                # already-bound var
                lnp = els[i - 1]
                left_lbls = (list(lnp.labels)
                             if isinstance(lnp, A.NodePat) and lnp.labels
                             else self.labels_of(prev))
                right_lbls = (list(np.labels) if np.labels
                              else self.labels_of(
                                  np.var if df is not None and np.var
                                  and np.var in df.columns else None))
                scan = self._rel_scan(rp, rvar, left_labels=left_lbls,
                                      right_labels=right_lbls)
                if thru:
                    # previous endpoint elided: chain rel-to-rel on the
                    # retained traversal id (no node frame in between)
                    df = df.join(scan, F.col("__thru") == F.col("__from")) \
                           .drop("__thru")
                elif prev is None:
                    # first endpoint elided: the rel scan IS the rowstream
                    df = scan if df is None else df.crossJoin(scan)
                    if i == 1 and first_kb is not None:
                        # key-property elision: bind the first endpoint as
                        # an id struct with the key prop derived from the
                        # edge end (no node frame touched)
                        df = bind_key_struct(df, "__from", first_kb)
                else:
                    # Expand (LP:2012): join rels on the bound endpoint
                    df = df.join(scan,
                                 F.col(prev).getField("_id") == F.col("__from"))
                self.kinds[rvar] = "rel"
                rel_bindings.append((rvar, "rel", frozenset(rp.types)))
                self._queue_rel_filters(rp, rvar, pending)
            is_last = i + 1 == len(els) - 1
            can_elide = (nvar not in df.columns
                         and (unconstrained(np)
                              or elidable(np, rp, end_of(rp, False))))
            if is_last and can_elide:
                if getattr(self, "_preagg_keep_final", False):
                    # count pre-aggregation (consume-once): the caller
                    # joins per-source counts on this elided endpoint
                    self._preagg_keep_final = False
                    df = df.drop("__from") \
                           .withColumnRenamed("__to", "__preagg_key")
                else:
                    df = df.drop("__from", "__to")
                if part.path_var:
                    # the rel still belongs to the PathValue — elided
                    # NODES are reconstructed from the rel endpoints, but
                    # a missing rel entry would drop the step entirely
                    # (CypherTransactionsAcceptance path-import scenarios)
                    path_rels.append((rvar, "rel"))
                prev = None
                i += 2
                continue
            if (can_elide and i + 2 < len(els)
                    and isinstance(els[i + 2], A.RelPat)
                    and not els[i + 2].var_length
                    and (els[i + 2].var is None
                         or els[i + 2].var not in df.columns)):
                # middle endpoint elided: keep the traversal id so the next
                # rel joins directly on it
                df = df.drop("__from").withColumnRenamed("__to", "__thru")
                if part.path_var:
                    path_rels.append((rvar, "rel"))
                prev = None
                i += 2
                continue
            if not can_elide and nvar not in df.columns:
                # key-property elision (any position): the endpoint binds
                # as an id struct carrying the derived key prop; the next
                # hop (if any) joins on its _id like a full binding
                kb = key_elidable(np, rp, end_of(rp, False))
                if kb is not None:
                    df = bind_key_struct(df, "__to", kb)
                    df = df.drop("__from", "__to")
                    if rp.direction == "out":
                        self.rel_endpoints[rvar] = (prev, nvar)
                    elif rp.direction == "in":
                        self.rel_endpoints[rvar] = (nvar, prev)
                    prev = nvar
                    i += 2
                    continue
            if nvar in df.columns:
                # ExpandInto: endpoint already bound
                df = df.filter(F.col("__to") == F.col(nvar).getField("_id"))
                self._queue_node_filters(np, nvar, pending, bound=True)
            else:
                nscan = self._node_scan(np, nvar)
                df = df.join(nscan, F.col("__to") == F.col(nvar).getField("_id"))
                self.kinds[nvar] = "node"
                self._note_labels(nvar, np.labels)
                self._queue_node_filters(np, nvar, pending, bound=False)
            df = df.drop("__from", "__to")
            if rp.direction == "out":
                self.rel_endpoints[rvar] = (prev, nvar)
            elif rp.direction == "in":
                self.rel_endpoints[rvar] = (nvar, prev)
            path_rels.append((rvar, "rel"))
            path_nodes.append(nvar)
            prev = nvar
            i += 2

        if part.where is not None:
            # parenthesised pattern-level predicate: constrains the path
            # search, so under a selector it joins the pre-selector
            # pending set below (a clause-level WHERE instead applies
            # after the selector, in _match)
            pending.append(part.where)
        if needs_enum:
            # pattern-internal predicates + rel-uniqueness constrain the path
            # SEARCH, so they must hold before the selector picks winners;
            # the path variable is built FIRST so a parenthesised
            # whole-path predicate (``(p = ... WHERE length(p) > 3)``)
            # can reference it pre-selector
            if part.path_var:
                df = self._build_path(df, part.path_var, path_nodes,
                                      path_rels)
            part_pend = pending[pend_start:]
            del pending[pend_start:]
            for p in part_pend:
                df, expr = self._lower_predicates(df, p)
                df = df.filter(self._bool_pred(self._compiler(df), expr))
            df = self._uniqueness_filters(df, rel_bindings[rb_start:])
            return self._apply_path_selector(df, part, path_nodes,
                                             path_rels)
        if part.path_var:
            df = self._build_path(df, part.path_var, path_nodes, path_rels)
        return df

    def _nfa_eligible(self, part: A.PatternPart, pre: list
                      ) -> Optional[str]:
        """Route a SHORTEST-family selector to the NFA product-graph BFS
        (StatefulShortestPath LP:2290, operators/paths._nfa_search) when
        the pattern has an UNBOUNDED quantifier — the enumerating Trail
        path must truncate (now: raise) there, the NFA's (node, state)
        visited set terminates exactly.  Single-relationship
        shortestPath() patterns go to the bidirectional BFS
        (paths.shortest_path) before this is asked.  Returns the payload
        the search carries, or None for the Trail path:

        - ``"count"`` (paths.nfa_shortest): no path or group variable is
          consumed; frontier rows carry only a walk count.
        - ``"track"`` (paths.nfa_shortest_tracked): the statement reads
          the path variable or QPP group variables, or k > 1 needs path
          identity; frontier rows carry the path.

        The choice follows from the query alone.  Both payloads share one
        structural exactness guard: every relationship directed, every
        QPP at most one mandatory copy (min <= 1), and the TYPE sets of
        all transitions pairwise disjoint — then NO walk can repeat a
        relationship (an edge belongs to exactly one transition whose
        source product-state the visited set admits once), so walks are
        trails and the visited-set pruning is exact.  Anything else keeps
        the enumerating Trail path (exact per-path uniqueness, dynamic
        unroll)."""
        sel, k = part.selector, part.selector_k or 1
        if sel not in ("shortest", "allShortest", "shortestGroups",
                       "shortestK", "anyK"):
            return None
        if part.where is not None:
            # a pattern-level WHERE constrains the search with an
            # arbitrary whole-path predicate — only the enumerating
            # Trail path can rank under it
            return None
        has_unbounded = False
        # k > 1 needs path identity to tell the k winners apart (the
        # count payload collapses paths per product state); ANY k is
        # served by the k shortest (any k paths satisfy the selector)
        needs_track = k > 1
        type_sets: List[frozenset] = []

        if part.path_var is not None:
            from ..operators.paths import _length_only_use

            if not _length_only_use(
                    getattr(self, "query_ast", None) or part,
                    part.path_var):
                needs_track = True

        def admit_rel(rp) -> bool:
            if rp.direction == "both" or rp.neg_types or not rp.types \
                    or getattr(rp, "type_tree", None) is not None:
                return False
            type_sets.append(frozenset(rp.types))
            return True

        for i, el in enumerate(pre):
            if isinstance(el, A.QPP):
                if el.max_reps is None:
                    has_unbounded = True
                if el.min_reps > 1 or el.where is not None:
                    return None
                for iel in el.elements:
                    v = getattr(iel, "var", None)
                    if v and not self._var_single_use(v):
                        needs_track = True
                    if isinstance(iel, A.RelPat):
                        if iel.var_length or not admit_rel(iel):
                            return None
                if el.min_reps == 0 and sel in ("allShortest",
                                                "shortestGroups") \
                        and not needs_track:
                    # the {0,} epsilon skip + loop-back edge inflate the
                    # count payload's walk multiplicities; the track
                    # payload dedups real paths, so route there
                    needs_track = True
            elif isinstance(el, A.RelPat):
                if el.var_length or not admit_rel(el):
                    return None
                if el.var and not self._var_single_use(el.var):
                    # top-level scalar rel binding: Trail enumerates
                    return None
            elif isinstance(el, A.NodePat):
                # intermediate scalar node bindings: Trail enumerates
                if 0 < i < len(pre) - 1 and el.var \
                        and not self._var_single_use(el.var):
                    return None
        if not has_unbounded:
            return None
        if len(type_sets) > 1:
            for a in range(len(type_sets)):
                for b in range(a + 1, len(type_sets)):
                    if type_sets[a] & type_sets[b]:
                        return None
        return "track" if needs_track else "count"

    def _apply_path_selector(self, df: DataFrame, part: A.PatternPart,
                             path_nodes: List[str],
                             path_rels: List[Tuple[str, str]]) -> DataFrame:
        """GQL path selectors over an enumerated path set
        (StatefulShortestPath LP:2290 — but as rank-and-filter over the
        already-joined path rows rather than an NFA product-graph search):
        per (start, end) node pair, keep the k shortest paths
        (SHORTEST k), all paths in the k shortest length-groups
        (SHORTEST k GROUPS / ALL SHORTEST = 1 group), or any k paths
        (ANY k).  One window over (start,end) — the partition key is the
        natural shuffle key and skew maps to AQE skew handling."""
        from pyspark.sql import Window as SW

        sel, k = part.selector, part.selector_k or 1
        if sel == "shortest":
            sel, k = "shortestK", 1
        elif sel == "allShortest":
            sel, k = "shortestGroups", 1
        length: Column = F.lit(0)
        ties: List[Column] = []
        for v, kind in path_rels:
            if kind == "rel":
                length = length + F.lit(1)
                ties.append(F.array(F.col(v).getField("_id")))
            else:
                length = length + F.coalesce(F.size(F.col(v)), F.lit(0))
                ties.append(F.transform(F.col(v), lambda x: x.getField("_id")))
        tie = F.concat(*ties).cast("string") if ties else F.lit("")
        w = SW.partitionBy(F.col(path_nodes[0]).getField("_id"),
                           F.col(path_nodes[-1]).getField("_id"))
        if sel == "shortestGroups":
            rank = F.dense_rank().over(w.orderBy(length.asc()))
        elif sel == "anyK":
            rank = F.row_number().over(w.orderBy(tie.asc()))
        else:  # shortestK
            rank = F.row_number().over(w.orderBy(length.asc(), tie.asc()))
        out = (df.withColumn("__psel_rank", rank)
                 .filter(F.col("__psel_rank") <= k).drop("__psel_rank"))
        # the selected set is small by construction (<= k paths, or k
        # length-groups, per endpoint pair) while the ENUMERATION plan
        # behind it can be arbitrarily deep (chained unrolled QPPs,
        # per-repetition subquery lowerings).  Truncate the lineage here
        # (lazy localCheckpoint) so downstream operators — joins with
        # other selective MATCHes, path-node resolution — compose against
        # a flat scan instead of compounding the enumeration plan (a
        # second selective MATCH otherwise squares the plan tree and OOMs
        # the driver before execution starts).  Coalesce first: the
        # enumeration's unioned levels accumulate partitions that a
        # bounded result set doesn't need.
        par = max(2, self.spark.sparkContext.defaultParallelism)
        return out.coalesce(par).localCheckpoint(eager=False)

    def _filter_node_bound(self, sub: DataFrame, np: A.NodePat, var: str
                           ) -> DataFrame:
        if getattr(np, "label_tree", None) is not None:
            from .exprs import compile_label_tree

            sub = sub.filter(compile_label_tree(
                np.label_tree, F.col(var).getField("_labels")))
        elif np.labels:
            conds = [F.array_contains(F.col(var).getField("_labels"), l)
                     for l in np.labels]
            if np.any_labels:
                c = conds[0]
                for extra in conds[1:]:
                    c = c | extra
                sub = sub.filter(c)
            else:
                for c in conds:
                    sub = sub.filter(c)
        for l in np.neg_labels:
            sub = sub.filter(
                ~F.array_contains(F.col(var).getField("_labels"), l))
        if np.props is not None:
            cc = self._compiler(sub)
            for k, v in np.props.items:
                sub = sub.filter(F.col(var).getField(k) == cc.compile(v))
        if np.where is not None:
            # inline node WHERE: bind this copy's struct under the user's
            # variable name, filter, unbind (per-repetition semantics)
            uname = np.var
            tmp_added = False
            old_kind = None
            if uname and uname != var and uname not in sub.columns:
                sub = sub.withColumn(uname, F.col(var))
                tmp_added = True
                old_kind = self.kinds.get(uname)
                self.kinds[uname] = "node"
                self.var_labels.pop(uname, None)
            sub = sub.filter(self._compiler(sub).compile(np.where).cast("boolean"))
            if tmp_added:
                sub = sub.drop(uname)
                if old_kind is None:
                    self.kinds.pop(uname, None)
                else:
                    self.kinds[uname] = old_kind
        return sub

    def _qpp_collapse(self, els: list) -> list:
        """TrailToVarExpandRewriter.scala: a QPP whose repeated unit is one
        relationship between unconstrained anonymous nodes IS a var-length
        relationship — VarExpand's iterative frontier loop (and, under a
        SHORTEST selector, the bidirectional-BFS fast path) replaces
        Trail's unrolled join copies.  At scale this turns an O(max_reps)
        unioned join pyramid into one loop whose frontier shrinks with
        each level."""
        import dataclasses

        def plain(np) -> bool:
            return (isinstance(np, A.NodePat) and np.var is None
                    and not np.labels and not np.neg_labels
                    and np.props is None and np.where is None
                    and not np.req_any_label and not np.req_no_label)

        out = []
        for el in els:
            if (isinstance(el, A.QPP) and el.where is None
                    and len(el.elements) == 3):
                n1, rp, n2 = el.elements
                if (plain(n1) and plain(n2) and isinstance(rp, A.RelPat)
                        and not rp.var_length and rp.where is None):
                    out.append(dataclasses.replace(
                        rp, var_length=True, min_len=el.min_reps,
                        max_len=el.max_reps))
                    continue
            out.append(el)
        return out

    @staticmethod
    def _merge_layout(fields: Dict[str, T.DataType],
                      st: T.StructType) -> None:
        """Merge a struct's fields into a name->type layout: first-seen
        type wins; differing numeric types widen to double."""
        numeric = (T.LongType, T.IntegerType, T.DoubleType, T.FloatType,
                   T.ShortType, T.ByteType)
        for f in st.fields:
            old = fields.get(f.name)
            if old is None:
                fields[f.name] = f.dataType
            elif old != f.dataType:
                if isinstance(old, numeric) and isinstance(
                        f.dataType, numeric):
                    fields[f.name] = T.DoubleType()

    @staticmethod
    def _conform_struct(get, st: T.StructType,
                        fields: Dict[str, T.DataType]) -> Column:
        """Build a struct with the ``fields`` layout from an accessor
        ``get(name) -> Column`` over a value of schema ``st``: missing
        fields become typed nulls, mismatched types cast."""
        have = {f.name: f.dataType for f in st.fields}
        cols = []
        for fn, ft in fields.items():
            if fn in have:
                c = get(fn)
                if have[fn] != ft:
                    c = c.cast(ft)
            else:
                c = F.lit(None).cast(ft)
            cols.append(c.alias(fn))
        return F.struct(*cols)

    def _union_structs(self, sub: DataFrame,
                       names: List[str]) -> List[Column]:
        """Rebuild the struct columns ``names`` over the union of their
        field sets so ``F.array`` accepts them as one element type: a
        property missing from a copy becomes a typed null (each copy's
        scan is label-pruned, so schemas legitimately differ)."""
        fields: Dict[str, T.DataType] = {}
        for nm in names:
            self._merge_layout(fields, sub.schema[nm].dataType)
        return [self._conform_struct(F.col(nm).getField,
                                     sub.schema[nm].dataType, fields)
                for nm in names]

    def _qpp_expand(self, df: DataFrame, prev: str, qpp: A.QPP,
                    next_np: A.NodePat, pending: List[A.Expr],
                    rel_bindings: List[Tuple[str, str, frozenset]],
                    elide_nodes: bool = False
                    ) -> Tuple[DataFrame, str, List[str]]:
        """Trail (LP:3977, pipes/TrailPipe.scala:65): quantified path pattern
        ``((a)-[r:T]->(b)){m,n}`` unrolled as m..n chained copies of the
        inner pattern, unioned; named inner variables become list columns
        (Trail's group variables), relationship uniqueness holds *within*
        the trail (pairwise-distinct ids) and *across* the MATCH via
        rel_bindings.  Returns (df, end_node_var, group_rel_vars).

        Unbounded quantifiers (``+``/``*``/``{m,}``) unroll INCREMENTALLY
        with a dynamic stop: each level is pinned and the loop ends when a
        level is empty — trail uniqueness makes that exact (a length-k+1
        trail contains a length-k prefix trail, so an empty level k proves
        every deeper level empty).  If the frontier is still alive at the
        ``neo4j_spark.qpp.maxUnroll`` cap, raise instead of silently
        truncating (the round-2 behavior capped at 8 repetitions and
        returned wrong answers on graphs with longer reach)."""
        from ..operators.paths import _pin

        import dataclasses as _dc

        min_r = qpp.min_reps
        unbounded = qpp.max_reps is None
        max_r = (int(self.spark.conf.get("neo4j_spark.qpp.maxUnroll", "32"))
                 if unbounded else qpp.max_reps)
        inner = qpp.elements
        qpp_where = qpp.where
        # a node/rel-INTERNAL WHERE inside the unit that references a
        # SIBLING unit variable — ((a)-[r]->(b WHERE a.age < b.age))+ —
        # cannot compile at that element's scan (only its own var is in
        # scope there): hoist it to the unit-level WHERE, which binds
        # every unit variable per repetition
        # (QuantifiedPathPatternGpmTests scenario 30)
        new_inner = []
        for el in inner:
            w = getattr(el, "where", None)
            if (w is not None and getattr(el, "var", None)
                    and not (_collect_var_names(w, binders=False)
                             <= {el.var})):
                qpp_where = (w if qpp_where is None
                             else A.BinOp("AND", qpp_where, w))
                el = _dc.replace(el, where=None)
            new_inner.append(el)
        inner = new_inner
        defer_where = None
        if qpp_where is not None:
            # A per-repetition WHERE may reference singletons bound only
            # LATER in the same pattern (``(x)-->(y)((a)-[e]->(b) WHERE
            # a.h > u.h)*(s)-->(u)`` — legal per GQL: the predicate holds
            # for every repetition once the whole pattern binds).  Such
            # predicates cannot prune during expansion; they are deferred
            # and re-applied as an ``all()`` over the group arrays.
            inner_vars = {el.var for el in inner
                          if getattr(el, "var", None)}
            free: set = set()

            has_subq = [False]

            def scan(node, shadow):
                if isinstance(node, _SUBQUERY_EXPRS):
                    # opaque here: these bind their own variables (path
                    # vars, pattern vars) and correlate by name when the
                    # per-repetition lowering runs
                    has_subq[0] = True
                    return
                if isinstance(node, A.Var):
                    if node.name not in shadow:
                        free.add(node.name)
                    return
                if isinstance(node, (A.ListComp, A.Quantifier)):
                    scan(node.source, shadow)
                    inner_sh = shadow | {node.var}
                    for c in A.children(node):
                        if c is not node.source:
                            scan(c, inner_sh)
                    return
                if isinstance(node, A.Reduce):
                    scan(node.init, shadow)
                    scan(node.source, shadow)
                    scan(node.expr, shadow | {node.var, node.acc})
                    return
                for c in A.children(node):
                    scan(c, shadow)

            scan(qpp_where, set())
            avail = inner_vars | set(df.columns) | set(self.params or {})
            unbound = free - avail
            if unbound:
                if has_subq[0]:
                    raise TranslateError(
                        "a QPP WHERE that combines a subquery expression "
                        "with references to variables bound later in the "
                        "pattern is unsupported")
                defer_where = qpp_where
                qpp_where = None
                if not inner_vars:
                    # name one group variable so the deferred predicate
                    # can count repetitions
                    for iel in inner:
                        if isinstance(iel, A.RelPat):
                            iel.var = self._anon_var("qg")
                            break
        # dict.fromkeys: a variable may repeat inside the unit
        # (``((a)-[e]->(b)-[f]->(a))+``) — one group column, every copy
        node_group = list(dict.fromkeys(
            el.var for el in inner
            if isinstance(el, A.NodePat) and el.var))
        rel_group = list(dict.fromkeys(
            el.var for el in inner
            if isinstance(el, A.RelPat) and el.var))
        rel_types: frozenset = frozenset().union(
            *[frozenset(el.types) for el in inner if isinstance(el, A.RelPat)])
        end_name = next_np.var or self._anon_var("qe")
        end_bound = end_name in df.columns

        keep = (list(df.columns) + node_group + rel_group
                + ([] if end_bound else [end_name]))
        uniq = "__qpp_uids"
        # group-variable copies are tracked by COLUMN NAME so finalize can
        # inspect each copy's struct schema (copies of the unit's first
        # node may carry a different property set than the per-rep scans)
        copies_n: Dict[str, List[str]] = {v: [] for v in node_group}
        copies_r: Dict[str, List[str]] = {v: [] for v in rel_group}

        # schema-reachability across the unroll (the Trail analog of
        # schema_prune.level_all_sets, driven by the same declarations and
        # soundness guards): track the admissible label alternatives of
        # the chain position as the copies extend, prune each rel
        # position's TYPE cover to the types that can leave the tracked
        # labels, and hand the label set to the scan for shard pruning —
        # a ((x)-[:FROM_NATION|IN_REGION]->(y)){2,2} from a Customer then
        # scans only FROM_NATION's customer shard at copy 1 and only
        # IN_REGION at copy 2 instead of both types at both copies
        _qmeta = getattr(self.graph, "rel_endpoint_labels", {})
        _quniv = frozenset(self.graph.node_frames)
        _qprune = bool(_qmeta) \
            and not getattr(self.graph, "_extra_labels", set())
        _init = (list(inner[0].labels)
                 if isinstance(inner[0], A.NodePat) and inner[0].labels
                 else self.labels_of(prev))
        reach_cell: List[Optional[frozenset]] = [
            frozenset(_init) if _init else None]

        def _qnorm(spec) -> frozenset:
            if spec is None:
                return _quniv
            if isinstance(spec, str):
                return frozenset([spec])
            return frozenset(spec)

        def _qtravel(rp: A.RelPat, t: str):
            s, d = _qmeta.get(t) or (None, None)
            ss, dd = _qnorm(s), _qnorm(d)
            if rp.direction == "out":
                return ss, dd
            if rp.direction == "in":
                return dd, ss
            return ss | dd, ss | dd

        def extend(sub: DataFrame, end: str,
                   elide_last: bool = False) -> Tuple[DataFrame, str]:
            """Chain ONE more copy of the inner pattern onto ``sub``;
            appends this copy's bindings to copies_n/copies_r and keeps
            the accumulated rel-id column ``uniq`` trail-unique.
            ``elide_last``: the copy's unit-final node may be id-only
            (it is never a labeled boundary for any branch)."""
            first: A.NodePat = inner[0]
            # a variable may occur several times within ONE repetition
            # (``((a)-[e]->(b)-[f]->(a))+``): the later occurrences
            # constrain equality and do NOT add a group entry (the
            # reference's Trail binds one value per rep)
            rep_seen: Dict[str, str] = {}
            sub = self._filter_node_bound(sub, first, end)
            if first.var:
                rep_seen[first.var] = end
                copies_n[first.var].append(end)
            j = 1
            while j < len(inner):
                rp: A.RelPat = inner[j]
                np: A.NodePat = inner[j + 1]
                if isinstance(rp, A.QPP):
                    raise TranslateError(
                        "nested QPP inside a QPP is unsupported")
                if rp.var_length:
                    # var-length rel inside the repeated unit
                    # (TrailPipe.scala:65 accepts an arbitrary RHS
                    # subplan): run the frontier loop per copy; the
                    # rel-list column joins uniqueness bookkeeping
                    if rp.var:
                        raise TranslateError(
                            "a named var-length relationship inside a "
                            "QPP is unsupported (its group variable "
                            "would be a list of lists)")
                    from ..operators.paths import var_expand

                    rv = self._anon_var("qr")
                    nv = self._anon_var("qn")
                    reach_cell[0] = None  # label tracking stops here
                    sub = var_expand(
                        self, sub, end, rp, A.NodePat(None), rv, nv,
                        slim=False, start_labels=None)
                    sub = self._filter_node_bound(sub, np, nv)
                    if np.var:
                        if np.var in rep_seen:
                            sub = sub.filter(
                                F.col(nv).getField("_id")
                                == F.col(rep_seen[np.var]).getField("_id"))
                        else:
                            rep_seen[np.var] = nv
                            copies_n[np.var].append(nv)
                    ids = F.transform(F.col(rv), lambda x: x.getField("_id"))
                    sub = sub.filter(
                        F.size(F.array_intersect(F.col(uniq), ids)) == 0)
                    sub = sub.withColumn(uniq, F.concat(F.col(uniq), ids))
                    end = nv
                    j += 2
                    continue
                rv = self._anon_var("qr")
                reach = reach_cell[0]
                rp_eff = rp
                dead = False
                if _qprune and reach is not None and rp.types \
                        and not rp.neg_types \
                        and getattr(rp, "type_tree", None) is None:
                    allowed = [t for t in rp.types
                               if _qtravel(rp, t)[0] & reach]
                    if not allowed:
                        dead = True  # schema-dead copy: empty scan
                    elif set(allowed) != set(rp.types):
                        import dataclasses as _dcx

                        rp_eff = _dcx.replace(rp, types=allowed)
                    reach_cell[0] = (frozenset().union(
                        *[_qtravel(rp, t)[1] for t in allowed])
                        if allowed else frozenset())
                else:
                    reach_cell[0] = None
                scan = self._rel_scan(
                    rp_eff, rv,
                    left_labels=sorted(reach) if reach else None,
                    right_labels=list(np.labels) if np.labels else None)
                if dead:
                    scan = scan.limit(0)
                sub = sub.join(
                    scan, F.col(end).getField("_id") == F.col("__from"))
                if rp.props is not None:
                    cc = self._compiler(sub)
                    for pk, pv in rp.props.items:
                        sub = sub.filter(
                            F.col(rv).getField(pk) == cc.compile(pv))
                if rp.where is not None:
                    # element-level rel predicate: bind this copy's rel
                    # under the user's name, filter per repetition, unbind
                    uname = rp.var
                    tmp = bool(uname and uname != rv
                               and uname not in sub.columns)
                    old_kind = None
                    if tmp:
                        sub = sub.withColumn(uname, F.col(rv))
                        old_kind = self.kinds.get(uname)
                        self.kinds[uname] = "rel"
                    sub = sub.filter(
                        self._compiler(sub).compile(rp.where))
                    if tmp:
                        sub = sub.drop(uname)
                        if old_kind is None:
                            self.kinds.pop(uname, None)
                        else:
                            self.kinds[uname] = old_kind
                nv = self._anon_var("qn")
                unit_final = (j + 1 == len(inner) - 1)
                if (elide_nodes and (not unit_final or elide_last)
                        and not np.labels and np.props is None
                        and np.where is None
                        and getattr(np, "label_tree", None) is None
                        and not getattr(np, "req_any", False)
                        and not getattr(np, "req_no", False)
                        and not getattr(np, "neg_labels", None)
                        and (np.var is None
                             or self._var_single_use(np.var))):
                    # unconstrained, unreferenced interior node: bind the
                    # traversal id as an id-only struct instead of joining
                    # the ALL-NODES union (8 shard scans per copy for a
                    # `(y)` nobody reads); edges reference existing nodes
                    # by construction, same contract as chain-scan elision
                    sub = sub.withColumn(
                        nv, F.struct(F.col("__to").alias("_id"))
                    ).drop("__from", "__to")
                else:
                    nscan = self._node_scan(np, nv)
                    sub = sub.join(
                        nscan, F.col("__to") == F.col(nv).getField("_id")
                    ).drop("__from", "__to")
                    sub = self._filter_node_bound(
                        sub, A.NodePat(np.var, [], False, np.props,
                                       np.where), nv)
                if rp.var:
                    if rp.var in rep_seen:
                        sub = sub.filter(
                            F.col(rv).getField("_id")
                            == F.col(rep_seen[rp.var]).getField("_id"))
                    else:
                        rep_seen[rp.var] = rv
                        copies_r[rp.var].append(rv)
                if np.var:
                    if np.var in rep_seen:
                        sub = sub.filter(
                            F.col(nv).getField("_id")
                            == F.col(rep_seen[np.var]).getField("_id"))
                    else:
                        rep_seen[np.var] = nv
                        copies_n[np.var].append(nv)
                rid = F.col(rv).getField("_id")
                sub = sub.filter(~F.array_contains(F.col(uniq), rid))
                sub = sub.withColumn(uniq, F.array_append(F.col(uniq), rid))
                end = nv
                j += 2
            if qpp_where is not None:
                # per-repetition WHERE: bind this copy's inner vars
                # under their user names, filter, unbind.  Subquery
                # expressions (EXISTS/COUNT/pattern predicates) are legal
                # here — lower them against the rep-bound rowstream the
                # same way a clause-level WHERE would.
                bound = []
                old_kinds = {}
                for v in node_group:
                    if copies_n[v]:
                        sub = sub.withColumn(v, F.col(copies_n[v][-1]))
                        bound.append(v)
                        old_kinds[v] = self.kinds.get(v)
                        self.kinds[v] = "node"
                        self.var_labels.pop(v, None)
                for v in rel_group:
                    if copies_r[v]:
                        sub = sub.withColumn(v, F.col(copies_r[v][-1]))
                        bound.append(v)
                        old_kinds[v] = self.kinds.get(v)
                        self.kinds[v] = "rel"
                before = set(sub.columns)
                sub, w2 = self._lower_all(sub, qpp_where)
                helper = [c for c in sub.columns if c not in before]
                sub = sub.filter(
                    self._compiler(sub).compile(w2)).drop(*bound, *helper)
                if helper:
                    # a subquery expression was lowered into this rep:
                    # truncate the lineage, or the correlated subplan
                    # re-embeds into every deeper repetition and the plan
                    # tree grows geometrically
                    sub = sub.localCheckpoint(eager=False)
                for v, k_old in old_kinds.items():
                    if k_old is None:
                        self.kinds.pop(v, None)
                    else:
                        self.kinds[v] = k_old
            return sub, end

        def finalize(sub: DataFrame, end: str) -> DataFrame:
            if end_bound:
                sub = sub.filter(F.col(end).getField("_id")
                                 == F.col(end_name).getField("_id"))
            else:
                sub = sub.withColumn(end_name, F.col(end))
                sub = self._filter_node_bound(sub, next_np, end_name)
            for v in node_group:
                # normalize the copies to ONE struct layout: the union of
                # their property fields (each copy's scan is label-pruned,
                # and the unit's first node inherits the juxtaposed
                # neighbor's schema) — missing fields become typed nulls so
                # group elements keep their properties, not just identity
                sub = sub.withColumn(
                    v, F.array(*self._union_structs(sub, copies_n[v])))
            for v in rel_group:
                sub = sub.withColumn(
                    v, F.array(*self._union_structs(sub, copies_r[v])))
            return sub.select(*keep)

        branches: List[DataFrame] = []
        sub = df.withColumn(uniq, F.array().cast("array<bigint>"))
        end = prev
        # a copy's unit-final node may be elided to an id-only struct when
        # no branch boundary consumes it as a full node: the next copy's
        # entry filter must be unconstrained, and either this copy never
        # finalizes (k < min repetitions) or the juxtaposed node is
        # already bound (the boundary check then compares _id only)
        first_np = inner[0]
        first_unconstrained = (isinstance(first_np, A.NodePat)
                               and not first_np.labels
                               and first_np.props is None
                               and first_np.where is None
                               and getattr(first_np, "label_tree", None)
                               is None
                               # the elided end seeds the NEXT copy's
                               # entry binding: its group column must not
                               # be consumed either
                               and (first_np.var is None
                                    or self._var_single_use(first_np.var)))
        for k in range(1, max_r + 1):
            sub, end = extend(
                sub, end,
                elide_last=(first_unconstrained
                            and (k < max(min_r, 1) or end_bound)))
            if unbounded:
                sub = _pin(sub)
                if sub.isEmpty():
                    if not branches:
                        branches.append(finalize(sub, end))  # schema donor
                    break
                if k == max_r:
                    raise TranslateError(
                        f"unbounded quantified path pattern still has "
                        f"matches at {max_r} repetitions; raise "
                        f"neo4j_spark.qpp.maxUnroll to enumerate further "
                        f"(refusing to silently truncate)")
            if k >= max(min_r, 1):
                branches.append(finalize(sub, end))

        group_vars = node_group + rel_group
        if len(branches) > 1 and group_vars:
            # align the group-array ELEMENT layouts across branches: each
            # branch unions its own copies' fields, and a later branch can
            # see fields an earlier one lacks (the first copy inherits the
            # juxtaposed neighbor's schema) — the branch union needs ONE
            # element type per group column
            layouts: Dict[str, Dict[str, T.DataType]] = {}
            for v in group_vars:
                tgt = layouts.setdefault(v, {})
                for b in branches:
                    self._merge_layout(tgt, b.schema[v].dataType.elementType)
            def _conformer(et, tgt):
                # no default-arg lambda: F.transform reads lambda arity
                return lambda x: self._conform_struct(x.getField, et, tgt)

            aligned = []
            for b in branches:
                for v in group_vars:
                    et = b.schema[v].dataType.elementType
                    tgt = layouts[v]
                    if ([f.name for f in et.fields] == list(tgt)
                            and all(et[k].dataType == t
                                    for k, t in tgt.items())):
                        continue
                    b = b.withColumn(v, F.transform(
                        F.col(v), _conformer(et, tgt)))
                aligned.append(b)
            branches = aligned
        out = branches[0]
        for b in branches[1:]:
            out = out.unionByName(b)
        if min_r == 0:
            zero = df
            if end_bound:
                zero = zero.filter(F.col(prev).getField("_id")
                                   == F.col(end_name).getField("_id"))
            else:
                # zero repetitions: end = start.  Rebuild the struct on the
                # k>=1 branches' end schema (field-by-field, null-padding
                # fields the start scan lacks) so the union lines up
                ref_end = branches[0].schema[end_name].dataType
                prev_fields = set(
                    df.schema[prev].dataType.fieldNames())
                zero = zero.withColumn(end_name, F.struct(*[
                    (F.col(prev).getField(f.name) if f.name in prev_fields
                     else F.lit(None).cast(f.dataType)).alias(f.name)
                    for f in ref_end.fields]))
                zero = self._filter_node_bound(zero, next_np, end_name)
            ref = branches[0].schema
            for v in node_group + rel_group:
                et = ref[v].dataType.simpleString()
                zero = zero.withColumn(v, F.array().cast(et))
            out = zero.select(*keep).unionByName(out)

        self.kinds[end_name] = "node"
        self.var_labels.pop(end_name, None)
        for v in node_group:
            self.kinds[v] = "nodelist"
        for v in rel_group:
            self.kinds[v] = "rellist"
            rel_bindings.append((v, "rellist", rel_types))
        path_rvars = list(rel_group)
        if len(rel_group) > 1:
            # a unit with SEVERAL relationship positions: the path's rel
            # sequence interleaves the group arrays by repetition
            # (rep1-pos1, rep1-pos2, rep2-pos1, ...) — concatenating the
            # per-position arrays would reorder the path.  Build one
            # hidden interleaved column for path construction; the
            # per-position group columns stay user-visible.
            layout: Dict[str, T.DataType] = {}
            ets = {}
            for v in rel_group:
                ets[v] = out.schema[v].dataType.elementType
                self._merge_layout(layout, ets[v])
            pvn = self._anon_var("qpr")

            def _interleave(e):
                return F.array(*[
                    self._conform_struct(e.getField(v).getField,
                                         ets[v], layout)
                    for v in rel_group])

            out = out.withColumn(pvn, F.flatten(F.transform(
                F.arrays_zip(*[F.col(v) for v in rel_group]),
                _interleave)))
            self.kinds[pvn] = "rellist"
            path_rvars = [pvn]
        if defer_where is not None:
            # re-apply the deferred per-repetition predicate once the
            # whole pattern is bound: all(i IN range(0, size(grp)-1) |
            # <where with each inner var v -> v[i]>)
            grp_vars = set(node_group) | set(rel_group)
            counter_src = (node_group + rel_group)[0]
            idx = self._anon_var("qi")

            def subst(e):
                if isinstance(e, A.Var) and e.name in grp_vars:
                    return A.Index(A.Var(e.name), A.Var(idx))
                if not isinstance(e, A.Expr):
                    return e
                return A.map_children(e, subst)

            pending.append(A.Quantifier(
                "all", idx,
                A.Func("range", [
                    A.Lit(0),
                    A.BinOp("-", A.Func("size", [A.Var(counter_src)]),
                            A.Lit(1))]),
                subst(defer_where)))
        return out, end_name, path_rvars

    def _build_path(self, df: DataFrame, pvar: str, node_vars: List[str],
                    rel_vars: List[Tuple[str, str]]) -> DataFrame:
        """PathValue construction (values/virtual/PathValue.java).

        The node sequence is reconstructed by walking the rel arrays from
        the first bound node (next node = whichever rel endpoint is not the
        current one, so undirected steps orient correctly) — this includes
        the interior nodes of var-length segments that no variable binds.
        When the statement consumes more of the path than its shape
        (anything beyond length()/size()), ids are further resolved to full
        node structs by _resolve_path_nodes."""
        ids = F.array(F.col(node_vars[0]).getField("_id"))
        for v, kind in rel_vars:
            arr = F.array(F.col(v)) if kind == "rel" else F.col(v)
            ids = F.aggregate(
                arr, ids,
                lambda acc, r: F.array_append(
                    acc,
                    F.when(r.getField("_src") == F.element_at(acc, -1),
                           r.getField("_dst")).otherwise(r.getField("_src"))))
        nodes_arr = F.transform(ids, lambda x: F.struct(x.alias("_id")))
        rel_cols: List[Column] = []
        for v, kind in rel_vars:
            if kind == "rel":
                rel_cols.append(F.array(_rel_core(F.col(v))))
            else:
                rel_cols.append(F.transform(F.col(v), lambda x: _rel_core(x)))
        rels_arr = F.concat(*rel_cols) if rel_cols else F.array().cast(
            "array<struct<_id:bigint,_src:bigint,_dst:bigint,_type:string>>")
        self.kinds[pvar] = "path"
        df = df.withColumn(
            pvar, F.struct(nodes_arr.alias("nodes"), rels_arr.alias("rels")))
        node_rich, rel_rich = self._path_use_kinds(pvar)
        if rel_rich:
            df = self._resolve_path_rels(df, pvar)
        if node_rich:
            df = self._resolve_path_nodes(df, pvar)
        return df

    def _path_rich_use(self, pvar: str) -> bool:
        node_rich, rel_rich = self._path_use_kinds(pvar)
        return node_rich or rel_rich

    def _path_use_kinds(self, pvar: str):
        """(node_rich, rel_rich): which path contents the statement reads
        beyond the path's shape.

        Shape-only forms — length(p), size(nodes(p)), size(relationships(p))
        — read nothing from the structs, so id-only elements suffice (the
        pruningVarExpander/bfsAggregationRemover usage test, SURVEY §4.1).
        relationships(p) used any other way marks rel_rich (rel properties
        must be resolved); every remaining use of p (RETURN p,
        [n IN nodes(p) | n.prop], …) marks both."""
        root = getattr(self, "query_ast", None)
        if root is None:
            return True, True

        def is_path_var(e) -> bool:
            return isinstance(e, A.Var) and e.name == pvar

        def use(n) -> Optional[str]:
            # the path function ``n`` applies to p, when it reads p only
            # through that function: length / size (shape), nodes, rels
            if not (isinstance(n, A.Func) and len(n.args) == 1):
                return None
            a = n.args[0]
            if n.name in ("length", "nodes", "relationships") \
                    and is_path_var(a):
                return n.name
            if n.name == "size" and isinstance(a, A.Func) \
                    and a.name in ("nodes", "relationships") \
                    and len(a.args) == 1 and is_path_var(a.args[0]):
                return "size"
            return None

        node_rich = rel_rich = False
        for n in A.walk(root, skip=use):
            u = use(n)
            node_rich = node_rich or u == "nodes"
            rel_rich = rel_rich or u == "relationships"
            if is_path_var(n) or (node_rich and rel_rich):
                return True, True
        return node_rich, rel_rich

    def _resolve_path_rels(self, df: DataFrame, pvar: str) -> DataFrame:
        """Replace a path's core rel structs (id/src/dst/type) with full
        property-carrying structs — only when the statement reads rel
        properties off the path."""
        from ..operators.paths import hydrate

        scan = self._rel_scan(A.RelPat(None), "__prel").drop("__from",
                                                              "__to")
        df = hydrate(self, df, F.col(pvar).getField("rels"), scan, "__prel",
                     "__prels")
        rels = F.filter(F.col("__prels"), lambda r: r.isNotNull())
        return df.withColumn(pvar, F.struct(
            F.col(pvar).getField("nodes").alias("nodes"),
            rels.alias("rels"))).drop("__prels")

    def _resolve_path_nodes(self, df: DataFrame, pvar: str) -> DataFrame:
        """Replace a path's id-only node structs with full node structs."""
        from ..operators.paths import hydrate

        scan = self._node_scan(A.NodePat(None), "__pnode")
        df = hydrate(self, df, F.col(pvar).getField("nodes"), scan,
                     "__pnode", "__pnodes")
        return df.withColumn(pvar, F.struct(
            F.col("__pnodes").alias("nodes"),
            F.col(pvar).getField("rels").alias("rels"))).drop("__pnodes")

    # ---- correlated Apply (SURVEY §2.5) ---------------------------------

    def _subtranslator(self, shared: List[str],
                       hid: Optional[Dict[str, str]] = None,
                       base: Optional[DataFrame] = None,
                       graph: Optional[PropertyGraph] = None) -> "Translator":
        """The one constructor of a subquery translator.  Every correlated
        form de-correlates the same way: the distinct argument rows
        (``_argument_rows``) feed the right-hand side run by this
        translator, whose result joins back on the correlation keys
        (``_join_back``).  The SURVEY §2.5 operator each caller renders:

        - Apply: CALL {} (``_call_sub_body``), shortestPath() values
          (``_lower_shortest_expr[_unbound]``, join-back only)
        - SemiApply / LetSemiApply: EXISTS {} / COUNT {} and pattern
          predicates (``_lower_predicates``, ``_lower_query_sub``)
        - RollUpApply: COLLECT {} (``_lower_collect_sub``), pattern
          comprehensions (``_lower_pattern_comp``)
        - Optional: OPTIONAL MATCH (``_optional_match``)

        With no shared variable there is no argument: the right side runs
        once and joins back on True — no translate-time Spark action.

        The translator sees the shared variables' kinds and labels, and
        the enclosing statement's AST (usage analyses — scan elision,
        length-only shortest paths — read the whole statement; a larger
        root only makes them more conservative).  ``hid`` maps each shared
        variable to its hidden correlation copy threaded through the body:
        those columns are the body's per-argument partition (paging, and
        the empty-group recovery of a body aggregation over ``base``)."""
        sub = Translator(self.spark, graph or self.graph, self.params,
                         catalog=self.catalog)
        sub.query_ast = getattr(self, "query_ast", None)
        sub.kinds.update({v: self.kinds[v] for v in shared if v in self.kinds})
        sub.var_labels.update({v: self.var_labels[v] for v in shared
                               if v in self.var_labels})
        if hid:
            sub.kinds.update({h: self.kinds.get(v, "scalar")
                              for v, h in hid.items()})
            sub.partition_cols = list(hid.values())
            sub.partition_base = base
        return sub

    def _argument_rows(self, df: DataFrame, shared: List[str],
                       drop_null_entities: bool,
                       hid: Optional[Dict[str, str]] = None
                       ) -> Optional[DataFrame]:
        """Apply's argument: the distinct tuples of the shared variables,
        plus the hidden copies ``hid`` when given; None when nothing is
        shared.  ``drop_null_entities``: a NULL node/rel argument matches
        no pattern (COUNT of a null binding is 0, EXISTS false, COLLECT
        [] — CountExpressionAcceptance 'COUNT should return zero for NULL
        nodes/relationships'), so those rows need not run at all."""
        if not shared:
            return None
        base = df.select(*shared).dropDuplicates()
        if drop_null_entities:
            for v in shared:
                if self.kinds.get(v) in ("node", "rel"):
                    base = base.filter(F.col(v).getField("_id").isNotNull())
        for v, h in (hid or {}).items():
            base = base.withColumn(h, F.col(v))
        return base

    @staticmethod
    def _run_body(sub: "Translator", base: Optional[DataFrame],
                  q: A.SingleQuery) -> DataFrame:
        """Run a subquery body over its argument rows (uncorrelated: as a
        query of its own, with the count fast paths)."""
        return sub._single(q) if base is None else sub._single_over(base, q)

    def _join_back(self, df: DataFrame, right: DataFrame,
                   keys: Dict[str, str], how: str, null_safe: bool,
                   one_row: bool = False) -> DataFrame:
        """Join the right side of an Apply back onto ``df``.  ``keys`` maps
        each shared variable to its column in ``right`` (dropped after the
        join).  Nodes and rels compare by ``_id``: plain equality when the
        argument rows dropped null entities (``null <=> x`` ≡ ``null = x``
        under a left join then, and a null-safe key plans as
        hashpartitioning(coalesce(k, 0), isnull(k)) — an exchange no
        neighbouring operator can reuse), null-safe where null arguments
        are kept.  Scalars always compare null-safe: the reference pairs
        a null argument with its own subquery result.  With no key the
        join is on True, and ``one_row`` (an aggregate's single row) is
        broadcast."""
        cond = None
        for v, r in keys.items():
            lc, rc = F.col(v), F.col(r)
            if self.kinds.get(v) in ("node", "rel"):
                lc, rc = lc.getField("_id"), rc.getField("_id")
                c = lc.eqNullSafe(rc) if null_safe else lc == rc
            else:
                c = lc.eqNullSafe(rc)
            cond = c if cond is None else cond & c
        if cond is None:
            return df.join(F.broadcast(right) if one_row else right,
                           F.lit(True), how)
        return df.join(right, cond, how).drop(*keys.values())

    def _semi_apply(self, df: DataFrame, matched: DataFrame,
                    keys: Dict[str, str], mode: str
                    ) -> Tuple[DataFrame, A.Expr]:
        """EXISTS / COUNT of a de-correlated match: per argument tuple
        (``keys``: shared variable -> its column in ``matched``) a true
        flag or a match count, left-joined back and defaulted to false /
        0 (SemiApply / LetSemiApply, LP:3659)."""
        rkeys = [F.col(c).alias(f"__r_{v}") for v, c in keys.items()]
        if mode == "exists":
            col = self._anon_var("exists")
            right = (matched.select(*rkeys).dropDuplicates()
                     .withColumn(col, F.lit(True)))
            default = F.lit(False)
        else:
            col = self._anon_var("count")
            right = matched.groupBy(*rkeys).agg(
                F.count(F.lit(1)).alias(col))
            default = F.lit(0)
        out = self._join_back(df, right, {v: f"__r_{v}" for v in keys},
                              "left", null_safe=False, one_row=True)
        out = out.withColumn(col, F.coalesce(F.col(col), default))
        self.kinds[col] = "scalar"
        return out, A.Var(col)

    # ---- subquery-predicate lowering ------------------------------------

    def _lower_predicates(self, df: DataFrame, expr: A.Expr
                          ) -> Tuple[DataFrame, A.Expr]:
        """Replace EXISTS{}/COUNT{}/pattern predicates with computed flag
        columns (SemiApply/AntiSemiApply/LetSemiApply family, LP:3615-3676)."""

        def walk(df: DataFrame, e: A.Expr) -> Tuple[DataFrame, A.Expr]:
            if isinstance(e, A.ShortestPathExpr):
                # shortestPath() used as a value inside WHERE, e.g.
                # WHERE shortestPath((a)-[*..3]->(b)) IS NOT NULL
                return self._lower_shortest_expr(df, e)
            if isinstance(e, A.ListComp) and _listcomp_needs_rows(e):
                return self._lower_listcomp_subq(df, e)
            if isinstance(e, A.PatternPred):
                # the bare-pattern shorthand may only REFERENCE existing
                # variables — introducing a new named one is the
                # reference's UndefinedVariable (PatternExpressionAcceptance
                # 'Failing when introducing new node/relationship
                # variable'); EXISTS {} subqueries and pattern
                # comprehensions may still bind new names
                for el in e.pattern.elements:
                    v = getattr(el, "var", None)
                    if v and v not in df.columns:
                        raise TranslateError(
                            f"Variable `{v}` not defined — a pattern "
                            "expression cannot introduce new variables "
                            "(UndefinedVariable)")
                return lower_exists(df, A.ExistsSub([e.pattern], None))
            if isinstance(e, A.ExistsSub):
                return lower_exists(df, e)
            if isinstance(e, A.CountSub):
                return lower_count(df, e)
            if isinstance(e, A.CollectSub):
                return self._lower_collect_sub(df, e)
            if (isinstance(e, A.Func) and e.name == "size"
                    and not e.distinct and len(e.args) == 1
                    and isinstance(e.args[0], A.PatternComp)):
                # size([anchored single hop | proj]) counts matches —
                # identical to COUNT{} of the same pattern whenever the
                # projection cannot raise (one list element per match,
                # null projections included).  Route through the COUNT
                # pre-aggregation when its gate fires: the rollup
                # (distinct outer rows -> correlated match -> groupBy
                # collect_list -> join back) collapses to one
                # pre-aggregated (id, count) join, and no list is ever
                # materialized (guide §2.3).  Bailing shapes keep the
                # RollUpApply lowering below.
                pc = e.args[0]
                if self._proj_error_free(pc.projection) \
                        and self._preagg_pattern_sub(
                            df, [pc.pattern], pc.where) is not None:
                    return lower_count(
                        df, A.CountSub([pc.pattern], pc.where))
            if isinstance(e, A.PatternComp):
                # pattern comprehension in predicate position, e.g.
                # WHERE size([(n)-->(m) | m]) > 2 — RollUpApply (LP:3534)
                return self._lower_pattern_comp(df, e)
            return _map_threading(walk, df, e)

        def pattern_sub(cur_df: DataFrame, parts, where, mode: str
                        ) -> Tuple[DataFrame, A.Expr]:
            # any outer-scope name referenced anywhere in the subquery —
            # pattern variables, property/WHERE expressions — is an
            # implicit correlation (reference: SemiApply LP:3659 keeps the
            # outer row as the Apply argument)
            names = _collect_var_names((parts, where))
            shared = [v for v in cur_df.columns if v in names]
            sub = self._subtranslator(shared)
            matched = sub._match(self._argument_rows(cur_df, shared, True),
                                 A.Match(parts, where=where))
            return self._semi_apply(cur_df, matched,
                                    {v: v for v in shared}, mode)

        def lower_exists(cur_df: DataFrame, e: A.ExistsSub
                         ) -> Tuple[DataFrame, A.Expr]:
            if e.query is not None:  # EXISTS { <full query> }
                return self._lower_query_sub(cur_df, e.query, "exists")
            hit = self._preagg_pattern_sub(cur_df, e.pattern, e.where)
            if hit is not None:
                # anchored single-hop: EXISTS per outer row is membership
                # of the node id in the scan's edge-end set — dedup the
                # scan (map-side partial, the exchange carries ids only)
                # and left-join the flag; no outer-id broadcast, no
                # per-rel join rows (guide §2.3/§2.4)
                scan, key, bvar = hit
                flag = self._anon_var("exists")
                right = (scan.select(F.col(key).alias("__pa_k"))
                         .dropDuplicates()
                         .withColumn(flag, F.lit(True)))
                out = (cur_df.join(
                        right,
                        F.col(bvar).getField("_id") == F.col("__pa_k"),
                        "left")
                       .drop("__pa_k")
                       .withColumn(flag, F.coalesce(F.col(flag),
                                                    F.lit(False))))
                self.kinds[flag] = "scalar"
                return out, A.Var(flag)
            return pattern_sub(cur_df, e.pattern, e.where, "exists")

        def lower_count(cur_df: DataFrame, e: A.CountSub
                        ) -> Tuple[DataFrame, A.Expr]:
            if e.query is not None:  # COUNT { <full query> }
                return self._lower_query_sub(cur_df, e.query, "count")
            hit = self._preagg_pattern_sub(cur_df, e.pattern, e.where)
            if hit is not None:
                # anchored single-hop: COUNT per outer row is the scan's
                # per-edge-end count — aggregate the scan FIRST (map-side
                # partial combine, the exchange carries (id, count)) and
                # left-join the small frame; coalesce covers zero-match
                # and null-anchor rows (a null binding matches nothing)
                scan, key, bvar = hit
                cnt = self._anon_var("count")
                per = scan.groupBy(F.col(key).alias("__pa_k")).agg(
                    F.count(F.lit(1)).alias(cnt))
                out = (cur_df.join(
                        per,
                        F.col(bvar).getField("_id") == F.col("__pa_k"),
                        "left")
                       .drop("__pa_k")
                       .withColumn(cnt, F.coalesce(F.col(cnt),
                                                   F.lit(0).cast("long"))))
                self.kinds[cnt] = "scalar"
                return out, A.Var(cnt)
            return pattern_sub(cur_df, e.pattern, e.where, "count")

        return walk(df, expr)

    def _check_subquery_body(self, body, outer_cols) -> None:
        """Subquery expressions (EXISTS/COUNT/COLLECT {...}) are
        READ-ONLY, and a WITH alias inside one may not shadow a variable
        bound in the outer scope (the reference's semantic checks —
        ExistsExpressionAcceptance 'shadowing of an outer variable should
        result in error' / CountExpressionAcceptance 'Inner query with
        create should fail')."""
        queries = (body.queries if isinstance(body, A.UnionQuery)
                   else [body])
        for q in queries:
            for c in q.clauses:
                if isinstance(c, (A.Create, A.Merge, A.SetClause,
                                  A.RemoveClause, A.Delete, A.Foreach)):
                    raise TranslateError(
                        "a subquery expression (EXISTS/COUNT/COLLECT "
                        "{...}) must be read-only — updating clauses are "
                        "not allowed")
                if isinstance(c, A.Projection) and not c.is_return:
                    for it in c.items:
                        if (it.alias and it.alias in outer_cols
                                and not (isinstance(it.expr, A.Var)
                                         and it.expr.name == it.alias)):
                            raise TranslateError(
                                f"the variable `{it.alias}` is already "
                                "defined in the outer scope and cannot be "
                                "shadowed inside a subquery expression")

    def _thread_corr_clauses(self, clauses, hid: Dict[str, str],
                             shared: List[str]) -> list:
        """Thread hidden correlation copies through every projection of a
        correlated subquery-expression body, and keep the outer
        (argument) variables themselves in scope across inner WITHs — the
        reference scopes outer variables over the WHOLE body of an
        EXISTS/COUNT/COLLECT expression, unlike CALL {} which imports
        explicitly (ExistsExpressionAcceptance 'Exists with inner
        aggregation and using outer variable').  A non-aggregating WITH
        carries them as identity items; an aggregating WITH groups only
        by the hidden copies (so a body-GLOBAL aggregation stays global —
        its empty-group recovery runs via ``partition_base``) and a
        synthetic follow-up WITH restores the visible names from the
        hidden copies."""
        import dataclasses

        out = []
        for c in clauses:
            if not isinstance(c, A.Projection):
                out.append(c)
                continue
            extra = [A.ReturnItem(A.Var(h), h, h) for h in hid.values()]
            aliases = {it.alias or it.text for it in c.items}
            has_agg = any(contains_aggregate(it.expr) for it in c.items)
            if not c.is_return and not c.star and not has_agg:
                extra += [A.ReturnItem(A.Var(v), v, v)
                          for v in shared if v not in aliases]
                out.append(dataclasses.replace(
                    c, items=list(c.items) + extra))
                continue
            out.append(dataclasses.replace(c, items=list(c.items) + extra))
            if c.is_return or c.star:
                continue
            dropped = [v for v in shared if v not in aliases]
            if dropped:
                keep = [A.ReturnItem(A.Var(a), a, a)
                        for a in [*(it.alias or it.text
                                    for it in c.items), *hid.values()]]
                rest = [A.ReturnItem(A.Var(hid[v]), v, v)
                        for v in dropped]
                out.append(A.Projection(items=keep + rest))
        return out

    def _lower_query_sub(self, df: DataFrame, body,
                         mode: str) -> Tuple[DataFrame, A.Expr]:
        """EXISTS/COUNT whose body is a full query (possibly a UNION):
        run each branch correlated on the shared outer variables (threaded
        through every projection as hidden columns, like COLLECT {}), union
        the branches, then flag/count per argument (SemiApply /
        decorrelated count, LP:3659)."""
        self._check_subquery_body(body, list(df.columns))
        names = _collect_var_names(body)
        shared = [c for c in df.columns if c in names]
        queries = body.queries if isinstance(body, A.UnionQuery) else [body]
        distinct_count = (mode == "count" and isinstance(body, A.UnionQuery)
                          and not body.all)
        hid = {v: "_" + self._anon_var(f"corr_{v}_") for v in shared}  # unique per nesting level, "__"-prefixed (scope-hidden)
        # a body-global aggregation (RETURN count(…)) emits one row per
        # argument even when the body matched nothing, so the EXISTS is
        # true / the COUNT is 1 (ExistsExpressionAcceptance 'EXISTS
        # subquery with aggregation inside should work')
        base = self._argument_rows(df, shared, True, hid)
        matched = None
        for q in queries:
            sub = self._subtranslator(shared, hid, base)
            f = self._run_body(sub, base, A.SingleQuery(
                self._thread_corr_clauses(q.clauses, hid, shared)))
            # existence/count only needs the correlation keys — except
            # UNION DISTINCT counting, which also needs row identity
            # (entities by id, scalars stringified, so differently-labeled
            # node structs union cleanly)
            cols = [F.col(h) for h in hid.values()]
            if distinct_count:
                for cname in f.columns:
                    if cname in hid.values():
                        continue
                    t = f.schema[cname].dataType
                    c = F.col(cname)
                    if isinstance(t, T.StructType) \
                            and "_id" in t.fieldNames():
                        c = c.getField("_id")
                    cols.append(c.cast("string").alias(cname))
            f = f.select(*cols)
            matched = f if matched is None else matched.unionByName(f)
        if distinct_count:
            matched = matched.dropDuplicates()
        return self._semi_apply(df, matched, hid, mode)

    def _lower_collect_sub(self, df: DataFrame, e: A.CollectSub
                           ) -> Tuple[DataFrame, A.Expr]:
        """COLLECT {} subquery expression (ast/CollectExpression.scala) ->
        RollUpApply (LP:3534): run the inner query correlated on the shared
        outer variables, then groupBy + collect_list.  An inner ORDER BY is
        preserved by collecting (key..., value) structs and sort_array-ing
        them (struct ordering is field-order lexicographic) — no per-group
        sort pass."""
        import dataclasses

        self._check_subquery_body(e.query, list(df.columns))
        if isinstance(e.query, A.UnionQuery):
            # COLLECT over a UNION body: collect each branch, then merge
            # the arrays (array_distinct for distinct union — it dedupes
            # across AND within branches, exactly the UNION row semantics)
            vals = []
            for q_ in e.query.queries:
                df, v = self._lower_collect_sub(df, A.CollectSub(q_))
                vals.append(v)
            cc = self._compiler(df)
            combined = F.concat(*[cc.compile(v) for v in vals])
            if not e.query.all:
                combined = F.array_distinct(combined)
            col = self._anon_var("cu")
            df = df.withColumn(col, combined)
            self.kinds[col] = "scalar"
            return df, A.Var(col)

        q = e.query
        last = q.clauses[-1] if q.clauses else None
        if not (isinstance(last, A.Projection) and last.is_return
                and len(last.items) == 1):
            raise TranslateError("COLLECT {} must end in RETURN <one column>")

        names = _collect_var_names(q)
        shared = [c for c in df.columns if c in names]

        # hoist the final ORDER BY into extra (key) return items
        item = last.items[0]
        ritems = [dataclasses.replace(item, alias="__cl_val")]
        okeys: List[Tuple[str, bool]] = []
        for idx, oi in enumerate(last.order):
            oexpr = oi.expr
            if (isinstance(oexpr, A.Var) and item.alias
                    and oexpr.name == item.alias):
                oexpr = item.expr  # ORDER BY <alias of the value>
            okeys.append((f"__cl_o{idx}", oi.ascending))
            ritems.append(A.ReturnItem(oexpr, f"__cl_o{idx}", f"__cl_o{idx}"))
        # ordering is normally hoisted into sort keys (okeys) and the
        # projection's ORDER BY dropped — but a paging body (LIMIT/SKIP)
        # must still order BEFORE ranking, so keep it (value-alias
        # references rewritten to the renamed item)
        new_order: List[A.OrderItem] = []
        if last.skip is not None or last.limit is not None:
            for oi in last.order:
                oexpr = oi.expr
                if (isinstance(oexpr, A.Var) and item.alias
                        and oexpr.name == item.alias):
                    oexpr = A.Var("__cl_val")
                new_order.append(dataclasses.replace(oi, expr=oexpr))
        new_last = dataclasses.replace(last, items=ritems, order=new_order)
        inner_q = A.SingleQuery(list(q.clauses[:-1]) + [new_last])

        col = self._anon_var("cl")
        hid = {v: "_" + self._anon_var(f"corr_{v}_") for v in shared}  # unique per nesting level, "__"-prefixed (scope-hidden)
        base = self._argument_rows(df, shared, True, hid)
        sub = self._subtranslator(shared, hid, base)
        matched = self._run_body(sub, base, A.SingleQuery(
            self._thread_corr_clauses(inner_q.clauses, hid, shared)))
        # one list per argument (uncorrelated: a ONE-ROW aggregate — never
        # a driver-side collect, the inner query may be unboundedly large)
        grouped = matched.groupBy(*[F.col(h) for h in hid.values()]).agg(
            self._ordered_collect_expr(matched, okeys).alias(col))
        et = grouped.schema[col].dataType.simpleString()
        out = self._join_back(df, grouped, hid, "left", null_safe=False,
                              one_row=True)
        out = out.withColumn(col, F.coalesce(F.col(col), F.array().cast(et)))
        self.kinds[col] = "scalar"
        return out, A.Var(col)

    def _ordered_collect_expr(self, frame: DataFrame,
                              okeys: List[Tuple[str, bool]],
                              val_col: str = "__cl_val") -> Column:
        """collect_list that honours an inner ORDER BY by collecting
        (key..., value) structs and sort_array-ing them (struct ordering is
        field-order lexicographic) — no per-group sort pass."""
        if not okeys:
            return F.collect_list(F.col(val_col))

        def negatable(k):
            t = frame.schema[k].dataType
            return isinstance(t, (T.NumericType, T.DateType,
                                  T.TimestampType, T.TimestampNTZType))

        # uniform-DESC with un-negatable keys (strings): sort ascending
        # and reverse the collected array instead
        flip = (all(not asc for _, asc in okeys)
                and any(not negatable(k) for k, asc in okeys if not asc))
        skfields = []
        for k, asc in okeys:
            kc = F.col(k)
            if not asc and not flip:
                t = frame.schema[k].dataType
                if isinstance(t, T.NumericType):
                    kc = -kc
                elif isinstance(t, (T.DateType, T.TimestampType,
                                    T.TimestampNTZType)):
                    kc = -F.unix_micros(kc.cast("timestamp"))
                else:
                    raise TranslateError(
                        "mixed-direction ORDER BY with a non-numeric "
                        "DESC key inside COLLECT {} is unsupported")
            skfields.append(kc.alias(k))
        skey = F.struct(*skfields, F.col(val_col).alias(val_col))
        agg = F.transform(F.sort_array(F.collect_list(skey)),
                          lambda x: x.getField(val_col))
        if flip:
            agg = F.reverse(agg)
        return agg

    def _lower_listcomp_subq(self, df: DataFrame, e: A.ListComp
                             ) -> Tuple[DataFrame, A.Expr]:
        """``[x IN src WHERE p | f]`` whose body contains a pattern
        comprehension / subquery expression CORRELATED ON the lambda
        variable (PatternExpressionAcceptance 'Pattern expression inside
        list comprehension', 'Nested pattern comprehensions 2-4'): the
        rollup machinery joins on COLUMNS, so the lambda must become a
        rowstream — posexplode the source, lower the body per element
        row, re-collect in element order, join back."""
        uid, pos, val, res, srcc = (self._anon_var("lcu"),
                                    self._anon_var("lcp"),
                                    self._anon_var("lcv"),
                                    self._anon_var("lcr"),
                                    self._anon_var("lcs"))
        df, src_e = self._lower_all(df, e.source)
        df = df.withColumn(srcc, self._compiler(df).compile(src_e))
        # monotonically_increasing_id must be IDENTICAL on both sides of
        # the join-back — pin it
        df = self._stats_safe_ckpt(
            df.withColumn(uid, F.monotonically_increasing_id()))
        exploded = df.select(
            uid, F.posexplode(F.col(srcc)).alias(pos, e.var))
        old_kind = self.kinds.get(e.var)
        self.kinds[e.var] = "scalar"
        try:
            cur = exploded
            if e.where is not None:
                cur, w = self._lower_all(cur, e.where)
                cur = cur.filter(F.coalesce(
                    self._compiler(cur).compile(w).cast("boolean"),
                    F.lit(False)))
            proj_e = (e.projection if e.projection is not None
                      else A.Var(e.var))
            cur, p = self._lower_all(cur, proj_e)
            vcol = self._compiler(cur).compile(p)
        finally:
            if old_kind is None:
                self.kinds.pop(e.var, None)
            else:
                self.kinds[e.var] = old_kind
        per = cur.select(F.col(uid), F.col(pos).alias(pos),
                         vcol.alias(val))
        grouped = per.groupBy(uid).agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct(
                    F.col(pos).alias("__o"), F.col(val).alias("__v")))),
                lambda s: s.getField("__v")).alias(res))
        elem_t = grouped.schema[res].dataType.simpleString()
        out = df.join(grouped, uid, "left")
        out = out.withColumn(
            res,
            F.when(F.col(srcc).isNull(), F.lit(None).cast(elem_t))
             .otherwise(F.coalesce(F.col(res), F.array().cast(elem_t)))
        ).drop(uid, srcc)
        self.kinds[res] = "scalar"
        return out, A.Var(res)

    def _lower_pattern_comp(self, df: DataFrame, e: A.PatternComp
                            ) -> Tuple[DataFrame, A.Expr]:
        """Pattern comprehension -> RollUpApply (LP:3534): groupBy+collect_list."""
        pv = {getattr(el, "var", None) for el in e.pattern.elements}
        # outer variables referenced by the comprehension's predicates or
        # projection correlate too — `[(a:A WHERE a.prop > x)-->(b) | …]`
        # must see the enclosing row's `x`
        # (NodePatternPredicatesAcceptance)
        referenced = _collect_var_names((e.pattern, e.where, e.projection),
                                        binders=False)
        shared = [v for v in df.columns if v in pv or v in referenced]
        sub = self._subtranslator(shared)
        matched = sub._match(self._argument_rows(df, shared, False),
                             A.Match([e.pattern], where=e.where))
        # the projection may itself contain pattern comprehensions /
        # subquery expressions (nested RollUpApply,
        # PatternExpressionAcceptance 'Nested pattern comprehensions') —
        # lower them over the matched frame before compiling
        matched, proj = sub._lower_all(matched, e.projection)
        val = sub._compiler(matched).compile(proj)
        col = self._anon_var("pc")
        keys = {v: f"__r_{v}" for v in shared}
        right = matched.select(
            *[F.col(v).alias(r) for v, r in keys.items()],
            val.alias("__pc_val"))
        grouped = right.groupBy(*keys.values()).agg(
            F.collect_list("__pc_val").alias(col))
        elem_t = grouped.schema[col].dataType.simpleString()
        out = self._join_back(df, grouped, keys, "left", null_safe=True,
                              one_row=True)
        out = out.withColumn(col, F.coalesce(F.col(col), F.array().cast(elem_t)))
        self.kinds[col] = "scalar"
        return out, A.Var(col)

    def _maybe_lower_endpoint(self, df: DataFrame, e: A.Expr):
        """startNode/endNode on a rel the pattern did not bind (e.g. a path
        element): resolve to a full node struct by joining the node scan on
        the endpoint id — the expression compiler alone cannot join, so
        property access on the result would otherwise be null.  Returns
        None when the fast path (bound endpoint variable) applies."""
        if not (isinstance(e, A.Func) and e.name in ("startnode", "endnode")
                and len(e.args) == 1):
            return None
        a0 = e.args[0]
        if isinstance(a0, A.Var):
            ends = self.rel_endpoints.get(a0.name)
            if ends is not None:
                want = ends[0] if e.name == "startnode" else ends[1]
                if want is not None and want in df.columns:
                    return None  # registry fast path resolves this
        h = self._anon_var("epn")
        try:
            idc = self._compiler(df).compile(a0).getField(
                "_src" if e.name == "startnode" else "_dst")
            df.select(idc)  # force analysis
        except Exception:
            # lambda-scoped arg (inside a comprehension) — leave to the
            # registry's id-only fallback
            return None
        df = df.withColumn(f"__{h}_id", idc)
        nscan = self._node_scan(A.NodePat(None), h)
        df = df.join(nscan,
                     F.col(f"__{h}_id") == F.col(h).getField("_id"),
                     "left").drop(f"__{h}_id")
        self.kinds[h] = "node"
        self.var_labels.pop(h, None)
        return df, A.Var(h)

    def _lower_shortest_expr(self, df: DataFrame, e: "A.ShortestPathExpr"
                             ) -> Tuple[DataFrame, A.Expr]:
        """shortestPath() as a VALUE: run the bidirectional BFS over the
        distinct bound endpoint pairs, left-join the path back (null when
        disconnected — expression position must not drop rows, unlike a
        MATCH clause)."""
        import dataclasses

        from ..operators.paths import shortest_path

        els = list(e.pattern.elements)
        if not (len(els) == 3 and isinstance(els[0], A.NodePat)
                and isinstance(els[2], A.NodePat)):
            raise TranslateError(
                "shortestPath() in expression position expects a single "
                "relationship pattern")
        # unbound endpoints: nested-plan decorrelation
        # (NestedPlanExpression.scala GetValue) — bind them from their own
        # label/prop scans, run the BFS over the distinct bound prefix,
        # keep ONE deterministic shortest path per prefix value, and
        # left-join (on True, broadcast, when fully uncorrelated)
        if not (els[0].var and els[2].var
                and els[0].var in df.columns
                and els[2].var in df.columns):
            return self._lower_shortest_expr_unbound(df, e, els)
        avar, bvar = els[0].var, els[2].var
        pvar = self._anon_var("spx")
        part = dataclasses.replace(e.pattern, path_var=pvar)
        pairs = df.select(avar, bvar).dropDuplicates()
        pend: List[A.Expr] = []
        res = shortest_path(self, pairs, part, pend, force_full_paths=True)
        for p in pend:
            res = res.filter(self._compiler(res).compile(p).cast("boolean"))
        # the anon path var is invisible to usage-based laziness — resolve
        # node/rel contents eagerly, the expression may read anything
        res = self._resolve_path_rels(res, pvar)
        res = self._resolve_path_nodes(res, pvar)
        keys = {avar: "__spx_a", bvar: "__spx_b"}
        res = res.select(*[F.col(v).alias(r) for v, r in keys.items()],
                         F.col(pvar))
        out = self._join_back(df, res, keys, "left", null_safe=False)
        self.kinds[pvar] = "path"
        return out, A.Var(pvar)

    def _lower_shortest_expr_unbound(self, df: DataFrame,
                                     e: "A.ShortestPathExpr", els: list
                                     ) -> Tuple[DataFrame, A.Expr]:
        """shortestPath() value with one or both endpoints unbound: the
        inner pattern binds them itself (label/prop scans).  Expression
        position yields exactly ONE value per input row, so among all
        matching endpoint pairs we keep the deterministic first shortest
        path (min length, then rel-id tie-break — the reference's
        NestedPlanExpression GetValue takes its inner plan's first row)."""
        import dataclasses

        from pyspark.sql import Window as SW

        from ..operators.paths import shortest_path

        a_pat, rp, b_pat = els
        if a_pat.var is None:
            a_pat = dataclasses.replace(a_pat, var=self._anon_var("spa"))
        if b_pat.var is None:
            b_pat = dataclasses.replace(b_pat, var=self._anon_var("spb"))
        bound = [v for v in (a_pat.var, b_pat.var) if v in df.columns]
        pvar = self._anon_var("spx")
        part = dataclasses.replace(
            e.pattern, elements=[a_pat, rp, b_pat], path_var=pvar)
        pend: List[A.Expr] = []
        res = shortest_path(self, self._argument_rows(df, bound, False),
                            part, pend, force_full_paths=True)
        for p in pend:
            res = res.filter(self._compiler(res).compile(p).cast("boolean"))
        res = self._resolve_path_rels(res, pvar)
        res = self._resolve_path_nodes(res, pvar)
        length = F.size(F.col(pvar).getField("rels"))
        tie = F.transform(F.col(pvar).getField("rels"),
                          lambda r: r.getField("_id")).cast("string")
        if bound:
            w = SW.partitionBy(
                *[F.col(v).getField("_id") for v in bound])
        else:
            w = SW.partitionBy(F.lit(1))
        res = (res.withColumn(
            "__spx_rn",
            F.row_number().over(w.orderBy(length.asc(), tie.asc())))
            .filter(F.col("__spx_rn") == 1).drop("__spx_rn"))
        keys = {v: f"__spx_{v}" for v in bound}
        right = res.select(*[F.col(v).alias(r) for v, r in keys.items()],
                           F.col(pvar))
        out = self._join_back(df, right, keys, "left", null_safe=True,
                              one_row=True)
        self.kinds[pvar] = "path"
        return out, A.Var(pvar)

    def _lower_all(self, df: DataFrame, expr: A.Expr) -> Tuple[DataFrame, A.Expr]:
        """Lower subquery predicates AND pattern comprehensions."""
        def walk(df, e):
            if isinstance(e, A.ShortestPathExpr):
                return self._lower_shortest_expr(df, e)
            if isinstance(e, A.ListComp) and _listcomp_needs_rows(e):
                return self._lower_listcomp_subq(df, e)
            if (isinstance(e, A.Func) and e.name == "size"
                    and not e.distinct and len(e.args) == 1
                    and isinstance(e.args[0], A.PatternComp)):
                # size([anchored single hop | error-free proj]) counts
                # matches — route through the COUNT{} pre-aggregation
                # when its gate fires instead of materializing the list
                # via RollUpApply (see _lower_predicates for the
                # rationale); bailing shapes fall through
                pc = e.args[0]
                if self._proj_error_free(pc.projection) \
                        and self._preagg_pattern_sub(
                            df, [pc.pattern], pc.where) is not None:
                    return self._lower_predicates(
                        df, A.CountSub([pc.pattern], pc.where))
            if isinstance(e, A.PatternComp):
                return self._lower_pattern_comp(df, e)
            if isinstance(e, (A.PatternPred, A.ExistsSub, A.CountSub,
                              A.CollectSub)):
                return self._lower_predicates(df, e)
            lowered = self._maybe_lower_endpoint(df, e)
            if lowered is not None:
                return lowered
            return _map_threading(walk, df, e)

        return walk(df, expr)

    # ---- CALL {} subquery (LP:3897 SubqueryForeach / CallSubquery) -------

    # clauses whose batch (all-rows-at-once) rendering is equivalent to
    # the reference's sequential per-row execution: CREATE only makes NEW
    # entities (its inputs are frozen import values, which no prior
    # execution can have changed), UNWIND/WITH are pure projections
    _BATCH_SAFE_CLAUSES = (A.Create, A.Unwind, A.Projection)

    def _body_update_info(self, clause: A.CallSub) -> tuple:
        """(updates, mutates, needs_seq) for a CALL {} body.

        - updates: contains any updating clause
        - mutates: can change EXISTING entities (SET/REMOVE/DELETE/
          MERGE/FOREACH) — reads after the CALL must be refreshed
        - needs_seq: an updating body whose executions can observe each
          other (it reads the graph — MATCH, MERGE, SET-from-property,
          …) — must run once per input row, in order, like the
          reference's CallSubqueryPipe, not as one batch
        """
        branches = (clause.query.queries
                    if isinstance(clause.query, A.UnionQuery)
                    else [clause.query])
        updates = mutates = non_safe = False
        for b in branches:
            for c in b.clauses:
                if isinstance(c, (A.Create, A.Merge, A.SetClause,
                                  A.RemoveClause, A.Delete, A.Foreach)):
                    updates = True
                    if not isinstance(c, A.Create):
                        mutates = True
                if not isinstance(c, self._BATCH_SAFE_CLAUSES):
                    non_safe = True
        return updates, mutates, updates and non_safe

    def _call_sub(self, df: Optional[DataFrame], clause: A.CallSub) -> DataFrame:
        updates, mutates, needs_seq = self._body_update_info(clause)
        if clause.in_transactions:
            # validate OF <expr> ROWS up front — also on the single-shot
            # fast path, where the value is otherwise unused
            self._eval_batch_size(clause.batch_rows)
            if clause.concurrency is not None and clause.concurrency != 0:
                # IN <n> CONCURRENT TRANSACTIONS: n must be a constant
                # positive integer like the batch size (bare CONCURRENT
                # is recorded as 0 = runtime-chosen)
                self._eval_batch_size(clause.concurrency, "concurrency")
        if clause.in_transactions and (
                clause.report_var
                or clause.on_error in ("CONTINUE", "BREAK")):
            # honored ON ERROR / REPORT STATUS semantics need real batch
            # boundaries — route to the sequential TransactionApply loop.
            return self._call_in_tx(df, clause)
        if df is not None and needs_seq:
            # read-write body: executions observe one another, so the
            # batch rendering diverges (CypherTransactionsAcceptance
            # 'subquery executions should observe writes done in previous
            # executions') — run the same loop.  Plain `IN TRANSACTIONS
            # [ON ERROR FAIL]` without a report also lands here when its
            # body needs sequencing; a write-only body keeps the
            # single-shot batch plan (identical semantics, one
            # distributed job).
            return self._call_in_tx(df, clause)
        out = self._call_sub_body(df, clause)
        if df is not None and mutates:
            out = self._refresh_entities(out)
        return out

    def _fresh_entity_scan(self, kind: str, h: str) -> DataFrame:
        if kind == "node":
            return self._node_scan(A.NodePat(None), h)
        base = self.graph.rels
        props = [c for c in base.columns if c not in REL_META]
        struct = F.struct(
            F.col("id").alias("_id"), F.col("src").alias("_src"),
            F.col("dst").alias("_dst"), F.col("type").alias("_type"),
            *[F.col(p).alias(_unesc_prop(p)) for p in props])
        return base.select(struct.alias(h))

    def _refresh_entities(self, df: DataFrame,
                          only: Optional[set] = None) -> DataFrame:
        """Re-resolve bound node/rel structs from the CURRENT graph
        frames — reads after a mutating CALL {} body must observe the
        subquery's writes instead of the struct captured at MATCH time
        (CypherTransactionsAcceptance 'not use stale property caches').
        Entities deleted by the body resolve to NULL."""
        from pyspark.sql import types as T

        for var in list(df.columns):
            kind = self.kinds.get(var)
            if only is not None and var not in only:
                continue
            if kind == "path" and isinstance(df.schema[var].dataType,
                                            T.StructType):
                # a RICH path (property-carrying element structs) must
                # also observe the body's writes — re-resolve its arrays
                # from the current frames by element id
                # (CypherTransactionsAcceptance path-import scenarios)
                t = df.schema[var].dataType
                relt = t["rels"].dataType.elementType
                nodet = t["nodes"].dataType.elementType
                if set(relt.fieldNames()) - {"_id", "_src", "_dst",
                                             "_type"}:
                    df = self._resolve_path_rels(df, var)
                if set(nodet.fieldNames()) - {"_id"}:
                    df = self._resolve_path_nodes(df, var)
                continue
            if kind not in ("node", "rel"):
                continue
            if not isinstance(df.schema[var].dataType, T.StructType):
                continue
            h = self._anon_var("rf")
            scan = self._fresh_entity_scan(kind, h)
            df = df.join(
                scan,
                df[var].getField("_id") == scan[h].getField("_id"),
                "left").withColumn(var, F.col(h)).drop(h)
            # labels may have changed — drop pruning knowledge
            self.var_labels.pop(var, None)
        return df

    def _stub_entities(self, df: DataFrame) -> DataFrame:
        """Collapse bound node/rel structs to ``{_id}`` stubs (schema-
        stable across executions whose writes evolve shard schemas);
        :meth:`_refresh_entities` re-resolves them afterwards."""
        from pyspark.sql import types as T

        for var in list(df.columns):
            if self.kinds.get(var) not in ("node", "rel"):
                continue
            if not isinstance(df.schema[var].dataType, T.StructType):
                continue
            df = df.withColumn(var, F.struct(
                F.col(var).getField("_id").alias("_id")))
        return df

    def _call_in_tx(self, df: Optional[DataFrame],
                    clause: A.CallSub) -> DataFrame:
        """TransactionApply (LP:4039) with honored ON ERROR modes.

        The reference pulls the outer rowstream through one thread,
        slices it into batches of ``OF n ROWS``, and commits each batch
        in its own transaction (``CallInTransactionsErrorHandling
        .feature``, ``...WithReturn.feature``).  The Spark rendering:
        sequence the input once, then drive a driver-side loop — one
        materialized sub-plan per batch — with try/except around each.
        IN TRANSACTIONS is inherently this serialized loop in the
        reference too; it exists for periodic commit, not parallelism.

        Rollback: writes replace entries in the graph's shard-frame
        dicts (frames are immutable values), so restoring the dict
        snapshot taken before the batch IS the transaction rollback.

        - ON ERROR CONTINUE: failed batch rolls back, its input rows
          pass through once each with null subquery columns and
          ``committed=false, errorMessage`` in REPORT STATUS; later
          batches still run.
        - ON ERROR BREAK: like CONTINUE for the failing batch, but
          later batches are not started (``started=false``, null
          transactionId); their rows pass through with nulls.
        - ON ERROR FAIL (default): re-raise after rolling back the
          failing batch — prior batches stay committed.
        """
        from pyspark.sql import Window as SW

        updates, mutates, needs_seq = self._body_update_info(clause)
        on_error = (clause.on_error or "FAIL").upper()
        concurrency = None
        if clause.in_transactions and clause.concurrency is not None:
            # IN <n> CONCURRENT TRANSACTIONS: n must be a constant
            # positive integer like the batch size; 0 = bare CONCURRENT
            # (runtime-chosen).  Concurrency is a PERMISSION, not a
            # guarantee — any serial schedule of the batches is a legal
            # concurrent execution (the reference promises no ordering
            # or interleaving; CypherParser.g4:203).
            concurrency = (0 if clause.concurrency == 0
                           else self._eval_batch_size(clause.concurrency,
                                                      "concurrency"))
        if clause.in_transactions:
            batch = self._eval_batch_size(clause.batch_rows) or 1000
            if (concurrency is not None and not needs_seq
                    and on_error == "FAIL" and not clause.report_var):
                # Distributed concurrent execution: a write-only body's
                # batch executions cannot observe one another, so running
                # them all as ONE Spark job (every partition writing in
                # parallel) is exactly the n-way-concurrent schedule the
                # user asked for — and the scale path: no driver-side
                # batch loop at all.  On error nothing commits, which is
                # the legal concurrent schedule where the failure wins
                # the race before any sibling commit.  ON ERROR
                # CONTINUE/BREAK and REPORT STATUS need per-batch commit
                # identity, so they keep the batch loop (a serial
                # schedule — equally legal, concurrency 1 <= n).
                batch = 1 << 40
        else:
            # plain CALL routed here for sequential execution: one
            # implicit transaction — an error fails (and undoes) the
            # whole statement
            batch = 1 << 40
        if df is None:
            df = self.spark.range(1).select(F.lit(True).alias("__tx_unit"))
        in_cols = [c for c in df.columns if c != "__tx_unit"]
        seq = df.withColumn("__tx_mid", F.monotonically_increasing_id())
        # a global row_number serializes the stream — exactly the
        # reference's single-threaded transaction feed; batch identity is
        # meaningless under a partition-parallel numbering
        seq = seq.withColumn("__tx_rn", F.row_number().over(
            SW.orderBy(F.col("__tx_mid")))).drop("__tx_mid")
        seq = seq.withColumn(
            "__tx_bid",
            ((F.col("__tx_rn") - F.lit(1)) / F.lit(batch)).cast("long"))
        seq = self._stats_safe_ckpt(seq)
        last_rn, last_bid = seq.agg(
            F.max("__tx_rn"), F.max("__tx_bid")).first()
        n_batches = int(last_bid) + 1 if last_bid is not None else 0
        max_b = int(self.spark.conf.get("neo4j_spark.tx.maxBatches",
                                        "100000"))
        if n_batches > max_b:
            raise TranslateError(
                f"CALL {{}} IN TRANSACTIONS would run {n_batches} "
                f"sequential batches (> neo4j_spark.tx.maxBatches="
                f"{max_b}); raise the conf or the batch size")
        if needs_seq:
            max_seq = int(self.spark.conf.get(
                "neo4j_spark.call.maxSequentialRows", "10000"))
            if (last_rn or 0) > max_seq:
                raise TranslateError(
                    f"this CALL {{}} body both reads and writes the "
                    f"graph, so its executions observe one another and "
                    f"must run once per input row ({last_rn} rows > "
                    f"neo4j_spark.call.maxSequentialRows={max_seq}); "
                    "restructure the body to be write-only (CREATE) or "
                    "raise the conf")
        # schema probe: translate the body over an empty slice to learn
        # the output columns without committing anything (compile-time
        # errors propagate — ON ERROR governs runtime errors only)
        snap = self.graph.state_snapshot()
        eff0 = dict(self.effects) if hasattr(self, "effects") else None
        try:
            probe = self._call_sub_body(seq.limit(0), clause)
        finally:
            self.graph.restore_state(snap)
            self._reset_effects(eff0)
        ret_cols = [c for c in probe.columns if c not in seq.columns]
        ret_types = {c: probe.schema[c].dataType for c in ret_cols}
        if needs_seq:
            # entity results travel as {_id} stubs through the loop
            # (see _stub_entities); null fills must match that shape
            from pyspark.sql import types as T

            stub_t = T.StructType([T.StructField("_id", T.LongType())])
            for c in ret_cols:
                if (self.kinds.get(c) in ("node", "rel")
                        and isinstance(ret_types[c], T.StructType)):
                    ret_types[c] = stub_t

        def status_col(started, committed, txid, err):
            return F.struct(
                F.lit(started).alias("started"),
                F.lit(committed).alias("committed"),
                (F.lit(txid) if txid is not None else F.lit(None))
                .cast("string").alias("transactionId"),
                (F.lit(err) if err is not None else F.lit(None))
                .cast("string").alias("errorMessage"))

        def passthrough(bdf, status):
            out = bdf.select(
                "__tx_rn", *in_cols,
                *[F.lit(None).cast(ret_types[c]).alias(c)
                  for c in ret_cols])
            if needs_seq:
                out = self._stub_entities(out)
            if clause.report_var:
                out = out.withColumn(clause.report_var, status)
            return out

        out_frames: List[DataFrame] = []
        if (not updates and not needs_seq and on_error != "BREAK"
                and n_batches > 1):
            # Read-only body: batches commit nothing and cannot observe
            # one another, so any schedule is legal — translate each
            # batch serially (driver-side, lazy, shared translator state
            # untouched by reads), then MATERIALIZE them concurrently
            # from a small thread pool (guide §2.6): each batch's
            # localCheckpoint is an independent Spark job, and FIFO
            # scheduling back-fills executors freed by another batch's
            # straggler tail.  Statuses/errors are then assembled in
            # batch order, so REPORT STATUS rows and the ON ERROR FAIL
            # first-failure choice are byte-identical to the serial
            # loop.  ON ERROR BREAK keeps the loop: "later batches not
            # started" is inherently ordered.  Write bodies keep the
            # loop too — their writes force eagerly inside translation
            # against the shared frame dicts, which is exactly the
            # snapshot/rollback machinery (the write-only
            # n-CONCURRENT/FAIL case is already ONE distributed job via
            # the fused path above).
            from concurrent.futures import ThreadPoolExecutor

            staged: List = []
            for k in range(n_batches):
                bdf = seq.filter(F.col("__tx_bid") == k)
                try:
                    staged.append((bdf, self._call_sub_body(bdf, clause),
                                   None))
                except Exception as e:  # noqa: BLE001 — tx boundary
                    staged.append((bdf, None, e))

            def run(k: int):
                bdf, out, err = staged[k]
                if err is not None:
                    return k, None, err
                try:
                    return k, self._stats_safe_ckpt(out), None
                except Exception as e:  # noqa: BLE001 — tx boundary
                    return k, None, e

            workers = (concurrency if (concurrency or 0) > 0
                       else min(n_batches, 4))
            with ThreadPoolExecutor(max_workers=workers) as pool:
                results = dict((k, (out, err)) for k, out, err
                               in pool.map(run, range(n_batches)))
            for k in range(n_batches):
                bdf = staged[k][0]
                out, err = results[k]
                txid = f"spark-tx-{k}"
                if err is not None:
                    if on_error == "FAIL":
                        raise err
                    out_frames.append(passthrough(
                        bdf, status_col(True, False, txid, _short_err(err))))
                    continue
                out = out.select("__tx_rn", *in_cols, *ret_cols)
                if clause.report_var:
                    out = out.withColumn(
                        clause.report_var,
                        status_col(True, True, txid, None))
                out_frames.append(out)
            final = out_frames[0]
            for f in out_frames[1:]:
                final = final.unionByName(f)
            final = final.orderBy("__tx_rn").drop("__tx_rn")
            if clause.report_var:
                self.kinds[clause.report_var] = "scalar"
            return final
        stopped = False
        for k in range(n_batches):
            bdf = seq.filter(F.col("__tx_bid") == k)
            txid = f"spark-tx-{k}"
            if stopped:
                out_frames.append(passthrough(
                    bdf, status_col(False, False, None, None)))
                continue
            snap = self.graph.state_snapshot()
            eff0 = dict(self.effects) if hasattr(self, "effects") else None
            try:
                if needs_seq:
                    # per-row execution in row order: each run observes
                    # the previous runs' writes (CallSubqueryPipe); the
                    # whole batch still commits/rolls back as one tx
                    lo, hi = k * batch + 1, min((k + 1) * batch,
                                                int(last_rn))
                    out = None
                    for rn in range(lo, hi + 1):
                        one = seq.filter(F.col("__tx_rn") == rn)
                        if mutates:
                            # imported entity structs must see the
                            # PREVIOUS execution's writes (stale-cache
                            # scenarios) — re-resolve before running
                            one = self._refresh_entities(one)
                        r = self._call_sub_body(one, clause)
                        # normalize entity columns to {_id} stubs: writes
                        # change shard schemas between executions, so the
                        # full structs would not union; the stubs are
                        # re-resolved once from the final graph state
                        # after the loop
                        r = self._stub_entities(r)
                        r = self._stats_safe_ckpt(r)
                        out = r if out is None else out.unionByName(
                            r, allowMissingColumns=True)
                else:
                    out = self._call_sub_body(bdf, clause)
                # force the batch NOW — reads, the join-back, and any
                # expression errors; writes were already forced eagerly
                # inside the body translation
                out = self._stats_safe_ckpt(out)
            except Exception as e:  # noqa: BLE001 — tx isolation boundary
                self.graph.restore_state(snap)
                self._reset_effects(eff0)
                if on_error == "FAIL":
                    raise
                out_frames.append(passthrough(
                    bdf, status_col(True, False, txid, _short_err(e))))
                if on_error == "BREAK":
                    stopped = True
                continue
            out = out.select("__tx_rn", *in_cols, *ret_cols)
            if clause.report_var:
                out = out.withColumn(
                    clause.report_var, status_col(True, True, txid, None))
            out_frames.append(out)
            if needs_seq and mutates:
                # sequential SET/REMOVE/DELETE bodies stack a join overlay
                # on every shard frame per execution — freeze the changed
                # frames at the batch commit so plan depth stays constant
                # across the loop (each batch re-reads current state
                # anyway, so the materialization is the read it already
                # pays; without this, planning time grows quadratically)
                for frames, snap_frames in ((self.graph.node_frames,
                                             snap[0]),
                                            (self.graph.rel_frames,
                                             snap[1])):
                    for name, frame in list(frames.items()):
                        if snap_frames.get(name) is not frame:
                            frames[name] = self._stats_safe_ckpt(frame)
        if not out_frames:
            final = passthrough(seq.limit(0),
                                status_col(False, False, None, None))
        else:
            final = out_frames[0]
            for f in out_frames[1:]:
                final = final.unionByName(f)
        final = final.orderBy("__tx_rn").drop("__tx_rn")
        if needs_seq:
            # re-resolve the {_id} stubs against the FINAL graph state:
            # reads after the CALL observe the writes of every committed
            # execution (stale-property-cache scenarios)
            final = self._refresh_entities(final)
        if clause.report_var:
            self.kinds[clause.report_var] = "scalar"
        return final

    def _eval_batch_size(self, e, what: str = "batch size") -> Optional[int]:
        """Evaluate ``OF <expr> ROWS`` (or ``IN <expr> CONCURRENT``): must
        be a CONSTANT positive integer (literal, $param, or a foldable
        expression) — graph-touching or unbound expressions are a compile
        error, non-integer or non-positive values an argument error
        (CypherTransactionsAcceptance batchSize scenarios)."""
        if e is None:
            return None
        if isinstance(e, int):  # programmatic ASTs
            v = e
        else:
            one = self.spark.range(1)
            try:
                col = self._compiler(one).compile(e)
                v = one.select(col.alias("__bs")).first()["__bs"]
            except Exception as ex:
                raise TranslateError(
                    f"the {what} of CALL {{}} IN TRANSACTIONS must be a "
                    "constant expression — it cannot touch the graph or "
                    f"reference variables ({_short_err(ex)})") from ex
        if v is None or isinstance(v, bool) or not isinstance(v, int):
            raise TranslateError(
                f"invalid argument: {what} must be an integer, got "
                f"{v!r}")
        if v <= 0:
            raise TranslateError(
                f"invalid argument: {what} must be positive, got {v}")
        return int(v)

    def _stats_safe_ckpt(self, df: DataFrame) -> DataFrame:
        """Eager localCheckpoint that also BOUNDS Catalyst's size
        estimate.  ``localCheckpoint`` preserves the pre-checkpoint
        stats, and ``SizeInBytesOnlyStatsPlanVisitor.visitJoin``
        MULTIPLIES child sizes — so a loop of join-then-checkpoint
        (the sequential CALL {} IN TRANSACTIONS path) compounds the
        products across generations until the BigInteger bit-length
        doubles per batch and the driver spends minutes in
        ``BigInteger.multiplyToomCook3`` (measured: flat 1 s/batch for
        ten batches, then 8 s, then 60+ s with flat plans and flat row
        counts).  When the checkpointed frame's estimate exceeds 512
        bits — far beyond any physical size, so only pathological
        products qualify — rebuild the frame over the SAME materialized
        RDD via ``internalCreateDataFrame``, which drops the inherited
        stats (the frame then defaults to spark.sql.defaultSizeInBytes,
        i.e. it is conservatively never broadcast).  Sanely-sized
        frames pass through untouched, keeping their broadcast
        decisions."""
        out = df.localCheckpoint(eager=True)
        try:
            # py4j renders the scala BigInt as a python int
            bits = int(out._jdf.queryExecution().optimizedPlan()
                       .stats().sizeInBytes()).bit_length()
        except Exception:  # pragma: no cover — stats API drift
            return out
        if bits <= 512:
            return out
        jdf = out._jdf
        njdf = self.spark._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False)
        return DataFrame(njdf, out.sparkSession)

    def _reset_effects(self, eff0) -> None:
        """Restore the outer effect counters to a pre-batch snapshot."""
        if eff0 is None:
            if hasattr(self, "effects"):
                del self.effects
        else:
            self.effects.clear()
            self.effects.update(eff0)

    def _adopt_effects(self, sub: "Translator") -> None:
        """Fold a subquery translator's write-effect counters into this
        scope, so CALL {} writes surface in the statement summary."""
        eff = getattr(sub, "effects", None)
        if eff:
            from ..operators.writes import _ensure_effects

            mine = _ensure_effects(self)
            for k, v in eff.items():
                mine[k] = mine.get(k, 0) + v

    def _hoist_use(self, branch: A.SingleQuery):
        """Split a leading USE off a subquery branch.  The reference
        permits USE as the first clause of a subquery, or second after an
        importing WITH (query-router docs); graph re-targeting only
        touches scan sources, so hoisting it ahead of the import binding
        is semantics-preserving.  Returns (branch', target graph or
        None)."""
        cl = list(branch.clauses)
        for idx in (0, 1):
            if idx >= len(cl):
                break
            c = cl[idx]
            if isinstance(c, A.Use):
                del cl[idx]
                target = self.graph
                self.selected_graph = c.graph
                if self.catalog is not None:
                    target = self.catalog.resolve(c.graph)
                return A.SingleQuery(cl), target
            if not (isinstance(c, A.Projection) and not c.is_return):
                break  # only an importing WITH may precede USE
        return branch, None

    def _call_sub_body(self, df: Optional[DataFrame],
                       clause: A.CallSub) -> DataFrame:
        """Uncorrelated CALL {}: run once, join to every input row.
        Correlated (WITH import header): run over the distinct import rows,
        join back on them — Apply decorrelated to a join (SURVEY §2.5).
        A UNION body runs each branch over the same import rows and unions
        the results (distinct unless UNION ALL) before the join-back."""
        if clause.imports == ["*"] and df is not None:
            # CALL (*) { ... }: import the entire variable scope
            import dataclasses

            clause = dataclasses.replace(
                clause,
                imports=[c for c in df.columns if not c.startswith("__")])
        branches = (clause.query.queries
                    if isinstance(clause.query, A.UnionQuery)
                    else [clause.query])
        union_all = (clause.query.all
                     if isinstance(clause.query, A.UnionQuery) else True)
        for b in branches:
            last = b.clauses[-1] if b.clauses else None
            if isinstance(last, A.Projection) and last.is_return:
                for it in last.items:
                    if it.alias is None and not isinstance(it.expr, A.Var):
                        raise TranslateError(
                            "Expression in a CALL {} subquery's RETURN "
                            "must be aliased (NoExpressionAlias)")
        shared = ([v for v in clause.imports if v in df.columns]
                  if df is not None else [])
        if not any(isinstance(c, A.Projection) and c.is_return
                   for b in branches for c in b.clauses):
            # unit subquery (SubqueryForeach LP:3897 / TransactionForeach
            # LP:4100): run the body — EVERY union branch
            # (SubqueryAcceptance 'Ending union unit subquery call') —
            # for its side effects only; the outer rowstream passes
            # through unchanged
            for branch in branches:
                body, use_g = self._hoist_use(branch)
                sub = self._subtranslator(shared, graph=use_g)
                if df is not None:
                    # the body runs once per incoming row
                    # (CallSubqueryPipe semantics) — a zero-column select
                    # keeps the cardinality when nothing is imported
                    sub._single_over(df.select(*shared), body)
                else:
                    sub._single(body)
                self._adopt_effects(sub)
            return df if df is not None else self.spark.range(1).select(
                F.lit(1).alias("__unit"))
        uid = None
        if df is not None and any(
                isinstance(c, (A.Create, A.Merge, A.SetClause,
                               A.RemoveClause, A.Delete, A.Foreach))
                for b in branches for c in b.clauses):
            # an updating body executes once per INPUT ROW, not per
            # distinct import tuple (CallSubqueryPipe) — a frozen unique
            # row id defeats the dropDuplicates and keys the join-back
            uid = "__corr_uid"
            df = self._stats_safe_ckpt(
                df.withColumn(uid, F.monotonically_increasing_id()))
            shared = shared + [uid]
        # correlation columns must survive the subquery's own projections:
        # thread hidden copies through every WITH/RETURN (they become extra
        # grouping keys under aggregation — exactly the per-input-row
        # semantics of Apply, LP:855; a body-global aggregation still
        # yields one row per argument through the partition_base recovery)
        hid = {v: "_" + self._anon_var(f"corr_{v}_") for v in shared}  # unique per nesting level, "__"-prefixed (scope-hidden)
        base = self._argument_rows(df, shared, False, hid)
        matched = None
        branch_subs = []
        for b in branches:
            b, use_g = self._hoist_use(b)
            sub = self._subtranslator(shared, hid, base, graph=use_g)
            frame = self._run_body(sub, base, A.SingleQuery(
                self._thread_corr_clauses(b.clauses, hid, [])))
            for h in hid.values():
                sub.kinds.pop(h, None)
                sub.var_labels.pop(h, None)
            branch_subs.append(sub)
            self._adopt_effects(sub)
            matched = frame if matched is None else matched.unionByName(frame)
        self._merge_branch_scopes(branch_subs)
        if not union_all:
            matched = matched.dropDuplicates()
        if df is None:
            return matched
        # OPTIONAL CALL {}: an empty subquery null-pads instead of
        # dropping the input rows
        out = self._join_back(df, matched, hid,
                              "left" if clause.optional else "inner",
                              null_safe=True)
        return out.drop(uid) if uid is not None else out

    def _single_over(self, base: DataFrame, q: A.SingleQuery) -> DataFrame:
        df: Optional[DataFrame] = base
        for clause in q.clauses:
            df = self._apply(df, clause)
        return df

    # ---- FOREACH (LP:2336) -----------------------------------------------

    def _foreach(self, df: DataFrame, clause: A.Foreach) -> DataFrame:
        """Explode the list, run the update clauses on the exploded stream,
        discard it — FOREACH never changes the outer cardinality."""
        if df is None:
            df = self.spark.range(1).select(F.lit(1).alias("__one"))
        df, expr = self._lower_all(df, clause.source)
        col = self._compiler(df).compile(expr)
        exploded = df.withColumn(clause.var, F.explode(col))
        old_kind = self.kinds.get(clause.var)
        self.kinds[clause.var] = "scalar"
        sub = exploded
        for c in clause.updates:
            sub = self._apply(sub, c)  # write ops checkpoint eagerly
        if old_kind is None:
            self.kinds.pop(clause.var, None)
        else:
            self.kinds[clause.var] = old_kind
        if any(isinstance(c, (A.Merge, A.SetClause, A.RemoveClause,
                              A.Delete, A.Foreach))
               for c in clause.updates):
            # reads after FOREACH observe its writes on existing
            # entities (CypherTransactionsAcceptance stale-cache
            # scenarios) — re-resolve the outer structs; CREATE-only
            # bodies change nothing already bound, so skip the join
            df = self._refresh_entities(df)
        return df

    # ---- UNWIND ----------------------------------------------------------

    def _unwind(self, df: Optional[DataFrame], u: A.Unwind) -> DataFrame:
        def fix(col: Column, cc) -> Column:
            # UNWIND null yields zero rows (explode drops null rows, but a
            # typeless NULL literal must be cast before explode resolves).
            # UNWIND of a non-list scalar yields ONE row carrying the value
            # (UnwindPipe wraps non-sequence values as a singleton list);
            # a null scalar still yields zero rows
            t = cc.dtype_of(col)
            if isinstance(t, T.NullType):
                return col.cast("array<string>")
            if not isinstance(t, T.ArrayType):
                return F.when(col.isNull(), F.lit(None)) \
                        .otherwise(F.array(col))
            return col

        if df is None:
            # a LEADING UNWIND still needs pattern comprehensions /
            # subquery expressions in its source lowered — run them over
            # the unit row (NodePatternPredicatesAcceptance 'Pattern
            # comprehension with predicates on multiple nodes' UNWINDs a
            # comprehension as the first clause)
            df = self.spark.range(1).select(F.lit(1).alias("__one"))
            df, expr = self._lower_all(df, u.expr)
            cc = self._compiler(df)
            col = fix(cc.compile(expr), cc)
            out = df.select(F.explode(col).alias(u.var))
        else:
            df, expr = self._lower_all(df, u.expr)
            cc = self._compiler(df)
            col = fix(cc.compile(expr), cc)
            out = df.withColumn(u.var, F.explode(col))
        # the unwound variable keeps its ENTITY kind when the list holds
        # node/rel structs (UNWIND relationships(p) AS r SET r.prop = …
        # must write to the REL frames — CypherTransactionsAcceptance
        # path-import scenarios); anything else is a scalar
        elem = out.schema[u.var].dataType
        if isinstance(elem, T.StructType):
            names = set(elem.fieldNames())
            if "_id" in names and ("_type" in names or "_src" in names):
                self.kinds[u.var] = "rel"
            elif "_id" in names and ("_labels" in names
                                     or names == {"_id"}):
                self.kinds[u.var] = "node"
            else:
                self.kinds[u.var] = "scalar"
        else:
            self.kinds[u.var] = "scalar"
        return out

    # ---- WITH / RETURN ---------------------------------------------------

    def _projection(self, df: Optional[DataFrame], p: A.Projection) -> DataFrame:
        if df is None:
            df = self.spark.range(1).select(F.lit(1).alias("__one"))
        items = list(p.items)
        if p.star:
            named = [v for v in df.columns
                     if not v.startswith("_") and v in self.kinds]
            star_items = [A.ReturnItem(A.Var(v), None, v) for v in sorted(named)]
            items = star_items + items

        # lower subqueries / pattern comprehensions inside items
        lowered = []
        for it in items:
            df, e = self._lower_all(df, it.expr)
            lowered.append(A.ReturnItem(e, it.alias, it.text))
        items = lowered

        # aggregates in ORDER BY (RETURN r.name ORDER BY count(n)): compute
        # them as hidden aggregate columns and sort on those
        order_items = list(p.order)
        ord_hidden: List[str] = []
        for i, o in enumerate(order_items):
            if contains_aggregate(o.expr):
                df, e2 = self._lower_all(df, o.expr)
                h = f"__ordagg_{i}"
                items.append(A.ReturnItem(e2, h, h))
                order_items[i] = A.OrderItem(A.Var(h), o.ascending)
                ord_hidden.append(h)

        has_agg = any(contains_aggregate(it.expr) for it in items)
        old_kinds = dict(self.kinds)
        new_kinds: Dict[str, str] = {}
        if has_agg:
            out, new_kinds = self._aggregate(df, items)
        else:
            cols = []
            for it in items:
                name = it.alias or it.text
                cc = self._compiler(df)
                cols.append(cc.compile(it.expr).alias(name))
                new_kinds[name] = self._result_kind(it.expr)
            out = df.select(*cols)

        self.kinds = new_kinds
        old_labels = self.var_labels
        self.var_labels = {
            (it.alias or it.text): old_labels[it.expr.name]
            for it in items
            if isinstance(it.expr, A.Var) and it.expr.name in old_labels}
        if p.where is not None:
            out, expr = self._lower_predicates(out, p.where)
            out = out.filter(self._bool_pred(self._compiler(out), expr))
        if order_items:
            # ORDER BY may reference pre-projection variables (Cypher keeps
            # the previous scope in scope for sorting); such items become
            # hidden sort columns computed against the input frame
            resolved: List[Optional[Column]] = []
            failing: List[int] = []
            for i, o in enumerate(order_items):
                try:
                    resolved.append(self._compiler(out).compile(o.expr))
                except Exception:
                    resolved.append(None)
                    failing.append(i)
            hidden: List[str] = list(ord_hidden)
            if failing:
                if has_agg or p.distinct:
                    raise TranslateError(
                        "ORDER BY references variables not in the projection")
                pre_cc = ExprCompiler(df, old_kinds, self.params, self)
                extra = []
                for i in failing:
                    h = f"__ord_{i}"
                    extra.append(pre_cc.compile(order_items[i].expr).alias(h))
                    hidden.append(h)
                out = df.select(*cols, *extra)
                for i in failing:
                    resolved[i] = F.col(f"__ord_{i}")
            key_cc = self._compiler(out)
            order_cols = []
            for col, o in zip(resolved, order_items):
                k = self._sort_key(col, key_cc)
                order_cols.append(k.asc_nulls_last() if o.ascending
                                  else k.desc_nulls_first())
            if p.distinct:
                out = out.dropDuplicates()
            pcols = self._apply_partition_cols(out)
            if pcols and (p.skip is not None or p.limit is not None):
                # inside a correlated subquery (Apply, LP:855): ORDER BY /
                # SKIP / LIMIT are PER INPUT ROW — rank within the
                # correlation keys instead of paging globally
                from pyspark.sql import Window as SW
                out = out.withColumn("__rn_apply", F.row_number().over(
                    SW.partitionBy(*pcols).orderBy(*order_cols)))
            out = out.orderBy(*order_cols)
            if hidden:
                out = out.drop(*hidden)
        elif p.distinct:
            out = out.dropDuplicates()
        pcols = self._apply_partition_cols(out)
        if pcols and (p.skip is not None or p.limit is not None):
            if "__rn_apply" not in out.columns:  # unordered per-row paging
                from pyspark.sql import Window as SW
                out = out.withColumn("__rn_apply", F.row_number().over(
                    SW.partitionBy(*pcols)
                      .orderBy(F.monotonically_increasing_id())))
            lo = self._int_value(p.skip) if p.skip is not None else 0
            cond = F.col("__rn_apply") > lo
            if p.limit is not None:
                cond = cond & (
                    F.col("__rn_apply") <= lo + self._int_value(p.limit))
            out = out.filter(cond).drop("__rn_apply")
        else:
            if p.skip is not None:
                lo = self._int_value(p.skip)
                if lo > 2**31 - 1:
                    # SKIP beyond Int.Max (SkipLimitAcceptance 'Skipping
                    # more than Integer.Max rows'): Spark's Offset takes
                    # an int; a single result stream past 2^31 rows is
                    # not pageable here, so the result is empty
                    # (documented bound)
                    out = out.filter(F.lit(False))
                else:
                    out = out.offset(lo)
            if p.limit is not None:
                hi = self._int_value(p.limit)
                if hi > 2**31 - 1:
                    pass  # LIMIT beyond Int.Max: no effective bound
                else:
                    out = out.limit(hi)
        return out

    def _apply_partition_cols(self, out: DataFrame) -> List[str]:
        """Correlation-key columns threaded through a CALL{}/subquery body
        (set by the Apply runners); empty when compiling a top-level query."""
        return [c for c in (getattr(self, "partition_cols", None) or [])
                if c in out.columns]

    def _int_value(self, e: A.Expr) -> int:
        """SKIP/LIMIT accept any statically-evaluable integer expression
        (reference: ast/Clause.scala skip/limit take full expressions).
        Expressions the simple folder can't handle (reduce over a literal
        list, size of a literal, …) are evaluated on a one-row frame with
        NO columns in scope — anything graph-touching (variables,
        properties, pattern comprehensions) fails there, which is the
        reference's NonConstantExpression (SkipLimitAcceptance 'Reduce
        LIMIT should be allowed' / 'Graph touching LIMIT should fail')."""
        v = self._const_eval(e)
        if v is None and not isinstance(e, A.Lit):
            try:
                cc = ExprCompiler(self.spark.range(1), {}, self.params,
                                  self)
                row = self.spark.range(1).select(
                    cc.compile(e).alias("__v")).first()
                v = row[0]
            except Exception:
                raise TranslateError(
                    "SKIP/LIMIT expression must be statically computable "
                    "without accessing the graph (NonConstantExpression)")
        if isinstance(v, bool) or not isinstance(v, int):
            raise TranslateError(
                "SKIP/LIMIT must be integer literal or parameter")
        return v

    def _const_eval(self, e: A.Expr):
        if isinstance(e, A.Lit):
            return e.value
        if isinstance(e, A.Param):
            return self.params[e.name]
        if isinstance(e, A.UnaryOp) and e.op == "NEG":
            v = self._const_eval(e.operand)
            return -v if isinstance(v, (int, float)) else None
        if isinstance(e, A.BinOp):
            l, r = self._const_eval(e.left), self._const_eval(e.right)
            if isinstance(l, (int, float)) and isinstance(r, (int, float)):
                if e.op == "+":
                    return l + r
                if e.op == "-":
                    return l - r
                if e.op == "*":
                    return l * r
                if e.op == "/":
                    return l // r if isinstance(l, int) and isinstance(r, int) else l / r
                if e.op == "%":
                    return l % r
                if e.op == "^":
                    return float(l) ** r
        return None

    def _result_kind(self, e: A.Expr) -> str:
        if isinstance(e, A.Var):
            return self.kinds.get(e.name, "scalar")
        return "scalar"

    # ---- aggregation (LP:728) -------------------------------------------

    def _aggregate(self, df: DataFrame, items: List[A.ReturnItem]
                   ) -> Tuple[DataFrame, Dict[str, str]]:
        group_items = [it for it in items if not contains_aggregate(it.expr)]
        new_kinds: Dict[str, str] = {}

        cc = self._compiler(df)
        group_cols = []
        group_names = []
        for it in group_items:
            name = it.alias or it.text
            group_cols.append(cc.compile(it.expr).alias(name))
            group_names.append(name)
            new_kinds[name] = self._result_kind(it.expr)

        # extract aggregate subtrees
        agg_exprs: List[Column] = []
        agg_map: Dict[int, str] = {}
        agg_srcs: List[Tuple[str, A.Expr]] = []  # (placeholder, source expr)

        def extract(e):
            if not isinstance(e, A.Expr):
                return e
            if isinstance(e, A.CountStar) or (
                    isinstance(e, A.Func) and is_agg_fn(e.name)):
                key = len(agg_exprs)
                ph = f"__agg_{key}"
                agg_exprs.append(self._compile_aggregate(cc, e).alias(ph))
                agg_srcs.append((ph, e))
                return A.Var(ph)
            # structural match against a grouping item -> reuse its column
            for gi in group_items:
                if e == gi.expr:
                    return A.Var(gi.alias or gi.text)
            return A.map_children(e, extract)

        post_items: List[Tuple[str, A.Expr]] = []
        for it in items:
            if it in group_items:
                continue
            name = it.alias or it.text
            post_items.append((name, extract(it.expr)))
            new_kinds[name] = "scalar"

        grouped = df.groupBy(*group_cols) if group_cols else df.groupBy()
        agged = grouped.agg(*agg_exprs)

        pbase = getattr(self, "partition_base", None)
        pcols = set(getattr(self, "partition_cols", None) or [])
        if (pbase is not None and group_names and pcols
                and set(group_names) <= pcols
                and all(c in pbase.columns for c in group_names)):
            # Body-global aggregation under Apply — the grouping keys are
            # ONLY the hidden correlation columns threaded through the
            # CALL {} body: an input row whose body matched zero rows must
            # still yield one aggregate row (count/sum -> 0, collect ->
            # [], null otherwise), exactly like a top-level global
            # aggregation (the reference's Apply + EagerAggregation
            # contract).  groupBy drops empty groups, so join the
            # aggregate back onto the distinct correlation tuples.
            ren = {c: f"__gk_{c}" for c in group_names}
            agged = self._join_back(
                pbase.select(*group_names).dropDuplicates(),
                agged.withColumnsRenamed(ren), ren, "left", null_safe=True)
            for ph, e in agg_srcs:
                t = agged.schema[ph].dataType
                if isinstance(e, A.CountStar) or (
                        isinstance(e, A.Func) and e.name == "count"):
                    d = F.lit(0).cast(t)
                elif (isinstance(e, A.Func) and e.name == "sum"
                        and isinstance(t, T.NumericType)):
                    d = F.lit(0).cast(t)
                elif isinstance(e, A.Func) and e.name == "collect":
                    d = F.array().cast(t)
                else:
                    continue  # min/max/avg/stDev/percentile: null on empty
                agged = agged.withColumn(ph, F.coalesce(F.col(ph), d))

        # final projection in ITEM order (RETURN a, count(b), c must not
        # come back group-cols-first): group cols by name, post
        # expressions over placeholders
        post_cc = ExprCompiler(agged, {**self.kinds, **new_kinds}, self.params, self)
        post_map = dict(post_items)
        out_cols = []
        for it in items:
            name = it.alias or it.text
            if it in group_items:
                out_cols.append(F.col(name))
            else:
                out_cols.append(post_cc.compile(post_map[name]).alias(name))
        return agged.select(*out_cols), new_kinds

    def _compile_aggregate(self, cc: ExprCompiler, e: A.Expr) -> Column:
        if isinstance(e, A.CountStar):
            return F.count(F.lit(1))
        assert isinstance(e, A.Func)
        name = e.name
        if name == "count":
            arg = e.args[0]
            col = cc.compile(arg)
            if e.distinct:
                return F.countDistinct(col)
            return F.count(col)
        col = cc.compile(e.args[0])
        t = cc.dtype_of(col)
        is_dur = isinstance(t, T.StructType) and \
            {"months", "days", "seconds", "nanos"} <= set(t.fieldNames())
        if name == "sum":
            if is_dur:  # component-wise (pipes/aggregation/SumFunction)
                def s(fld):
                    return F.coalesce(F.sum(col.getField(fld)),
                                      F.lit(0)).cast("long").alias(fld)
                return F.struct(s("months"), s("days"), s("seconds"),
                                s("nanos"))
            if t is None or isinstance(t, T.NullType):
                # sum of a statically-VOID input is the long zero seed
                # (SumFunction starts from Values.ZERO_INT), not 0.0
                return F.lit(0).cast("long")
            s = F.sum_distinct(col) if e.distinct else F.sum(col)
            # Cypher: the sum of no (or only-null) values is 0, not null
            # (pipes/aggregation/SumFunction.scala starts from 0)
            return F.coalesce(s, F.lit(0))
        if name in ("avg", "mean"):
            if is_dur:
                # component averages with fractional carry-down at Neo4j's
                # conversion constants (DurationValue.approximate:
                # 30.4375 days/month, 86400 s/day)
                mf = F.avg(col.getField("months"))
                daysf = F.avg(col.getField("days"))
                secsf = F.avg(col.getField("seconds")
                              + col.getField("nanos") / F.lit(1e9))
                wm = F.floor(mf)
                d2 = daysf + (mf - wm) * F.lit(30.4375)
                wd = F.floor(d2)
                s2 = secsf + (d2 - wd) * F.lit(86400.0)
                ws = F.floor(s2)
                ns = F.round((s2 - ws) * F.lit(1e9))
                return F.struct(
                    wm.cast("long").alias("months"),
                    wd.cast("long").alias("days"),
                    ws.cast("long").alias("seconds"),
                    ns.cast("long").alias("nanos"))
            return F.avg(col)
        if name in ("min", "max", "collect"):
            # aggregates skip Cypher nulls; a TAGGED null (heterogeneous
            # encoding rank 16) must be nullified first or collect would
            # keep it and max would return it (rank 16 sorts largest)
            t = cc.dtype_of(col)
            from . import anyvalue as AV

            if AV.is_any_type(t):
                col = F.when(AV.any_is_null(col),
                             F.lit(None).cast(t.simpleString())) \
                       .otherwise(col)
        if name == "min":
            return F.min(col)
        if name == "max":
            return F.max(col)
        if name == "collect":
            return F.collect_set(col) if e.distinct else F.collect_list(col)
        if name == "stdev":
            # fewer than two samples -> 0.0, not null (StdevFunction.scala
            # result(): count < 2 => ZERO_FLOAT)
            return F.coalesce(F.stddev_samp(col), F.lit(0.0))
        if name == "stdevp":
            return F.coalesce(F.stddev_pop(col), F.lit(0.0))
        if name == "percentilecont":
            return F.percentile(col, cc.compile(e.args[1]))
        if name == "percentiledisc":
            # exact discrete percentile: sorted collect + index (the reference
            # also materializes the group: pipes/aggregation/PercentileFunction)
            p = cc.compile(e.args[1])
            arr = F.array_sort(F.collect_list(col))
            idx = F.greatest(F.ceil(p * F.size(arr)), F.lit(1))
            return F.element_at(arr, idx.cast("int"))
        if name == "percentiles":
            ps = cc.compile(e.args[1])
            return F.percentile(col, ps)
        from ..functions.registry import USER_AGGREGATES

        if name in USER_AGGREGATES:  # @UserAggregationFunction analog
            return USER_AGGREGATES[name](
                [col] + [cc.compile(a) for a in e.args[1:]])
        raise TranslateError(f"unknown aggregate {name}")

    # ---- CALL proc / LOAD CSV -------------------------------------------

    def _call_proc(self, df: Optional[DataFrame], c: A.CallProc) -> DataFrame:
        from ..procedures.registry import run_procedure

        from ..procedures.registry import procedure_is_void

        if df is not None and not c.yields:
            # in-query CALL of a result-producing procedure must name its
            # results explicitly (ProcedureAcceptance 'Non-void-procedure
            # call after a MATCH clause fails'); a VOID procedure is fine.
            # Standalone CALL (df is None) names implicitly.
            if not procedure_is_void(c.name):
                raise TranslateError(
                    "Procedure call inside a query does not support "
                    "naming results implicitly (name explicitly using "
                    "`YIELD` instead)")
        cc = self._compiler(df)

        def _static(a):
            if isinstance(a, A.Lit):
                return True, a.value
            if isinstance(a, A.Param):
                return True, self.params[a.name]
            if isinstance(a, A.ListLit) and all(
                    isinstance(x, A.Lit) for x in a.items):
                return True, [x.value for x in a.items]
            if isinstance(a, A.MapLit) and all(
                    isinstance(v, A.Lit) for _, v in a.items):
                return True, {k: v.value for k, v in a.items}
            return False, None

        statics = [_static(a) for a in c.args]
        if all(ok for ok, _ in statics):
            result = run_procedure(self.spark, self.graph, c.name,
                                   [v for _, v in statics])
        else:
            # correlated CALL proc(expr): per-row invocation
            # (ProcedureCallPipe LP:3309) — run once per DISTINCT argument
            # tuple, tag results with the tuple, join back.  The distinct
            # set is collected to the driver: procedures here ARE
            # driver-side Python, so the bound is the number of distinct
            # argument combinations, not the row count.
            if df is None:
                raise TranslateError(
                    "procedure arguments reference variables but no rows "
                    "are in scope")
            keys = [f"__pa_{i}" for i in range(len(c.args))]
            dfx = df
            for i, a in enumerate(c.args):
                dfx = dfx.withColumn(keys[i], cc.compile(a))
            # set-oriented variant (SET_PROCEDURES): when only the FIRST
            # argument is correlated, hand the distinct argument frame to
            # the procedure in one invocation — no per-tuple plan branches,
            # no driver collect, unbounded distinct cardinality
            from ..procedures.registry import SET_PROCEDURES

            set_fn = SET_PROCEDURES.get(c.name.lower())
            if set_fn is not None and all(ok for ok, _ in statics[1:]):
                args_frame = dfx.select(keys[0]).dropDuplicates()
                r = set_fn(self.spark, self.graph, args_frame,
                           [v for _, v in statics[1:]])
                # join back on the single correlated key (trailing args
                # are constants — same for every row)
                result = r
                keys = keys[:1]
                yielded = result
                if c.yields and c.yields != [("*", None)]:
                    cols = [F.col(n).alias(al or n) for n, al in c.yields]
                    for n, al in c.yields:
                        self.kinds[al or n] = "scalar"
                    yielded = result.select(*cols, *keys)
                else:
                    for col_name in result.columns:
                        if not col_name.startswith("__pa_"):
                            self.kinds[col_name] = "scalar"
                renamed = yielded.withColumnsRenamed(
                    {k: f"__pb_{k}" for k in keys})
                cond = None
                for k in keys:
                    eq = dfx[k].eqNullSafe(renamed[f"__pb_{k}"])
                    cond = eq if cond is None else cond & eq
                out = dfx.join(renamed, cond) \
                    .drop(*[f"__pa_{i}" for i in range(len(c.args))],
                          *[f"__pb_{k}" for k in keys])
                if c.where is not None:
                    out = out.filter(self._compiler(out).compile(c.where).cast("boolean"))
                return out
            # bounded by distinct-arg cardinality: each distinct tuple adds
            # a plan branch, so cap it hard — a per-row-distinct argument
            # must use a set-oriented procedure variant, not N plan branches
            cap = int(self.spark.conf.get(
                "neo4j_spark.procedure.maxDistinctArgs", "64"))
            tuples = dfx.select(*keys).dropDuplicates().limit(cap + 1) \
                        .collect()
            if len(tuples) > cap:
                raise TranslateError(
                    f"CALL {c.name}(...) with correlated arguments has more "
                    f"than {cap} distinct argument tuples; this plans one "
                    "branch per tuple — rewrite with a set-oriented variant "
                    "or raise neo4j_spark.procedure.maxDistinctArgs")
            frames = []
            for t in tuples:
                vals = [t[k] for k in keys]
                r = run_procedure(self.spark, self.graph, c.name, vals)
                for k, v in zip(keys, vals):
                    r = r.withColumn(k, F.lit(v))
                frames.append(r)
            result = frames[0]
            for fr in frames[1:]:
                result = result.unionByName(fr)
            yielded = result
            if c.yields and c.yields != [("*", None)]:
                cols = [F.col(n).alias(al or n) for n, al in c.yields]
                for n, al in c.yields:
                    self.kinds[al or n] = "scalar"
                yielded = result.select(*cols, *keys)
            else:
                for col_name in result.columns:
                    if not col_name.startswith("__pa_"):
                        self.kinds[col_name] = "scalar"
            renamed = yielded.withColumnsRenamed(
                {k: f"__pb_{k}" for k in keys})
            cond = None
            for k in keys:
                eq = dfx[k].eqNullSafe(renamed[f"__pb_{k}"])
                cond = eq if cond is None else cond & eq
            out = dfx.join(renamed, cond if cond is not None else F.lit(True)) \
                .drop(*keys, *[f"__pb_{k}" for k in keys])
            if c.where is not None:
                out = out.filter(self._compiler(out).compile(c.where).cast("boolean"))
            return out
        if df is not None and not c.yields \
                and procedure_is_void(c.name):
            # VOID procedure mid-query: runs for its side effects, the
            # rowstream passes through unchanged (a crossJoin with its
            # empty result would wrongly drop every row)
            result.count()  # force the side effects now (count, not
            # collect: nothing may land on the driver)
            return df
        if c.yields == [("*", None)]:  # YIELD *
            for col_name in result.columns:
                self.kinds[col_name] = "scalar"
        elif c.yields:
            cols = []
            for col_name, alias in c.yields:
                cols.append(F.col(col_name).alias(alias or col_name))
                self.kinds[alias or col_name] = "scalar"
            result = result.select(*cols)
        else:
            for col_name in result.columns:
                self.kinds[col_name] = "scalar"
        out = result if df is None else df.crossJoin(result)
        if c.where is not None:
            out = out.filter(self._compiler(out).compile(c.where).cast("boolean"))
        return out

    def _load_csv(self, df: Optional[DataFrame], c: A.LoadCSV) -> DataFrame:
        cc = self._compiler(df)
        url = c.url.value if isinstance(c.url, A.Lit) else self.params[c.url.name]
        reader = self.spark.read.option("header", str(c.with_headers).lower())
        if getattr(c, "field_terminator", None):
            reader = reader.option("sep", c.field_terminator)
        raw = reader.csv(url)
        if c.with_headers:
            row = F.struct(*[F.col(x) for x in raw.columns])
        else:
            row = F.array(*[F.col(x).cast("string") for x in raw.columns])
        # linenumber()/file() support (LoadCSVPipe.scala:43): per-file line
        # numbers via a window — LOAD CSV is an ingest utility, the per-file
        # sort is bounded by one CSV file's row count
        from pyspark.sql import Window as W

        fname = F.input_file_name()
        w = W.partitionBy(fname).orderBy(F.monotonically_increasing_id())
        offset = 1 if c.with_headers else 0
        src = raw.select(
            row.alias(c.var),
            (F.row_number().over(w) + F.lit(offset)).alias("__csv_line"),
            fname.alias("__csv_file"))
        self.kinds[c.var] = "scalar"
        return src if df is None else df.crossJoin(src)
