"""Cypher AST.

Shape mirrors the reference front-end's AST (reference:
``community/cypher/front-end/ast/src/main/scala/org/neo4j/cypher/internal/ast/Clause.scala``
— Match:593, With:1507, Return:1541, Unwind:1216, SubqueryCall:1677) and its
expression module (``front-end/expressions``), trimmed to the analytics
surface this engine executes.

Traversal contract (the reference's ``Foldable``/``Rewritable``): this
module is the only place that looks at a node's dataclass fields.

- :func:`children` yields a node's direct AST children: every dataclass
  value in its fields, flattened through lists and tuples at any depth —
  so ``Case.whens`` pairs, ``MapLit.items``, ``MapProjection`` ``("kv",
  key, expr)`` items and pattern property maps are all reached.  Strings
  (``var``, ``path_var``, label and type names) are not children; the
  string-tuple label/type algebra trees contribute only the dynamic
  ``$(expr)`` labels they hold.
- :func:`walk` visits a subtree in pre-order; ``skip(node)`` true yields
  the node but not its subtree.
- :func:`map_children` rebuilds a node from ``fn`` applied to each child
  with ``dataclasses.replace``, and returns the SAME object when no child
  changed, so rewriters keep identity on untouched subtrees.
"""

from __future__ import annotations

import dataclasses
from dataclasses import dataclass, field
from typing import Any, Callable, Dict, Iterator, List, Optional, Tuple

# --------------------------------------------------------------------------
# Expressions
# --------------------------------------------------------------------------


class Expr:
    pass


@dataclass
class Lit(Expr):
    value: Any  # None, bool, int, float, str


@dataclass
class Param(Expr):
    name: str


@dataclass
class Var(Expr):
    name: str


@dataclass
class Prop(Expr):
    subject: Expr
    key: str


@dataclass
class MapProjection(Expr):
    """``m{.a, .b, v: x, other, .*}`` (expressions/MapProjection.scala,
    desugared via DesugaredMapProjection.scala)."""
    var: str
    items: List[Tuple]  # ("prop", name) | ("all",) | ("var", name) | ("kv", key, Expr)


@dataclass
class Func(Expr):
    """Function invocation; ``name`` is lower-cased, may be dotted
    (``vector.similarity.cosine``)."""

    name: str
    args: List[Expr]
    distinct: bool = False


@dataclass
class CountStar(Expr):
    pass


@dataclass
class BinOp(Expr):
    # + - * / % ^  = <> < <= > >=  AND OR XOR  IN  =~
    # STARTSWITH ENDSWITH CONTAINS
    op: str
    left: Expr
    right: Expr


@dataclass
class UnaryOp(Expr):
    op: str  # NOT, NEG, POS
    operand: Expr


@dataclass
class IsNull(Expr):
    operand: Expr
    negated: bool = False


@dataclass
class IsTyped(Expr):
    """``x IS :: TYPE`` / ``x IS NOT :: TYPE`` (GQL type predicate,
    reference: front-end/ast/.../TypePredicateExpressions.scala)."""
    operand: Expr
    type_name: str  # normalized upper-case Cypher type name
    negated: bool = False


@dataclass
class HasLabels(Expr):
    """``n:Label1:Label2`` / ``r:TYPE`` predicate; full label expressions
    (``n:A|B``, ``n:!A``, ``n:%``) mirror NodePat's fields
    (reference: front-end/ast label expression grammar)."""

    subject: Expr
    labels: List[str]
    any_labels: bool = False          # labels is a disjunction
    neg_labels: List[str] = field(default_factory=list)
    req_any_label: bool = False       # :%
    req_no_label: bool = False        # :!%
    label_tree: object = None         # full algebra tree when not flat
    # syntax-flavor flags for GPM mixing validation
    # (GpmSyntaxMixingAcceptance): legacy = ':' conjunction between
    # labels; gpm = IS introducer or any of & | ! % ( )
    lx_legacy: bool = False
    lx_gpm: bool = False


@dataclass
class ListLit(Expr):
    items: List[Expr]


@dataclass
class MapLit(Expr):
    items: List[Tuple[str, Expr]]


@dataclass
class Index(Expr):
    subject: Expr
    index: Expr


@dataclass
class Slice(Expr):
    subject: Expr
    lo: Optional[Expr]
    hi: Optional[Expr]


@dataclass
class Case(Expr):
    operand: Optional[Expr]  # simple CASE if set, searched otherwise
    whens: List[Tuple[Expr, Expr]]
    default: Optional[Expr]


@dataclass
class ListComp(Expr):
    """``[x IN list WHERE pred | proj]``"""

    var: str
    source: Expr
    where: Optional[Expr]
    projection: Optional[Expr]


@dataclass
class Quantifier(Expr):
    """all/any/none/single(x IN list WHERE pred)"""

    kind: str
    var: str
    source: Expr
    predicate: Expr


@dataclass
class Reduce(Expr):
    """reduce(acc = init, x IN list | expr)"""

    acc: str
    init: Expr
    var: str
    source: Expr
    expr: Expr


@dataclass
class PatternPred(Expr):
    """A bare pattern used as a boolean predicate: ``WHERE (a)-[:T]->()``."""

    pattern: "PatternPart"


@dataclass
class ExistsSub(Expr):
    """EXISTS { MATCH ... [WHERE ...] } or EXISTS { <full query> }"""

    pattern: List["PatternPart"]
    where: Optional[Expr]
    query: Optional[object] = None  # SingleQuery/UnionQuery body


@dataclass
class CollectSub(Expr):
    """COLLECT { <full subquery> } expression (ast/CollectExpression.scala)."""
    query: "SingleQuery"


@dataclass
class CountSub(Expr):
    """COUNT { MATCH ... [WHERE ...] } or COUNT { <full query> }"""

    pattern: List["PatternPart"]
    where: Optional[Expr]
    query: Optional[object] = None  # SingleQuery/UnionQuery body


@dataclass
class ShortestPathExpr(Expr):
    """``shortestPath((a)-[*]->(b))`` in expression position — a path
    value, null when no path exists (NestedPlanExpression in the
    reference planner)."""

    pattern: "PatternPart"  # selector set to shortest/allShortest


@dataclass
class PatternComp(Expr):
    """Pattern comprehension ``[(a)-[:T]->(b) WHERE p | proj]`` —
    plans as RollUpApply (LogicalPlan.scala:3534)."""

    pattern: "PatternPart"
    where: Optional[Expr]
    projection: Expr


# --------------------------------------------------------------------------
# Patterns
# --------------------------------------------------------------------------


@dataclass
class NodePat:
    var: Optional[str]
    labels: List[str] = field(default_factory=list)  # conjunction
    any_labels: bool = False  # True => labels is a disjunction (Label1|Label2)
    props: Optional[MapLit] = None
    where: Optional[Expr] = None
    neg_labels: List[str] = field(default_factory=list)  # :!Label terms
    req_any_label: bool = False   # :%  — at least one label
    req_no_label: bool = False    # :!% — no labels at all
    # full label-expression algebra tree (("or"/"and", l, r) / ("not", x)
    # / ("label", name) / ("any",)) when the expression doesn't fit the
    # flat fields; ``labels`` then holds a shard-pruning cover
    label_tree: object = None
    # syntax-flavor flags for GPM mixing validation (see HasLabels)
    lx_legacy: bool = False
    lx_gpm: bool = False


@dataclass
class RelPat:
    var: Optional[str]
    types: List[str] = field(default_factory=list)
    direction: str = "out"  # out | in | both
    props: Optional[MapLit] = None
    min_len: Optional[int] = None  # None,None => single hop
    max_len: Optional[int] = None  # var-length if min or max set
    var_length: bool = False
    where: Optional[Expr] = None
    neg_types: List[str] = field(default_factory=list)  # [:!TYPE] terms
    # full type-expression algebra tree (same shape as NodePat.label_tree)
    # for parenthesised boolean forms like [:((!A&B)&(C|D))]; ``types``
    # then holds a shard-pruning cover (empty = all shards)
    type_tree: object = None
    # gpm flavor flag (IS introducer / !,&,%,parens); rel-type '|'
    # disjunctions are flavor-neutral (LabelExpression.scala neutrality)
    lx_gpm: bool = False


@dataclass
class QPP:
    """Quantified path pattern ``((a)-[r:T]->(b) WHERE pred){m,n}``
    (Trail, LP:3977)."""

    elements: List[Any]  # the repeated unit: NodePat, RelPat, ..., NodePat
    min_reps: int = 1
    max_reps: Optional[int] = None
    where: Optional["Expr"] = None  # per-repetition predicate


@dataclass
class PatternPart:
    elements: List[Any]  # NodePat, RelPat, NodePat (or QPP between nodes)
    path_var: Optional[str] = None
    # shortest | allShortest | shortestK | shortestGroups | anyK
    # (GQL path selectors, CypherParser.g4:254-261 / StatefulShortestPath
    # LP:2290; shortestPath()/allShortestPaths() normalize to the first two)
    selector: Optional[str] = None
    selector_k: Optional[int] = None
    # True when the selector came from legacy shortestPath()/
    # allShortestPaths() syntax rather than a GQL path selector — the two
    # families may not mix within one statement (GpmSyntaxMixing)
    legacy_shortest: bool = False
    # pattern-level predicate from a parenthesised path pattern
    # ``(<pattern> WHERE pred)`` — constrains the path SEARCH, i.e. it
    # applies BEFORE a selector picks winners (PathSelectorAcceptance
    # "Path pattern predicates are applied before path selector"); a
    # graph-pattern WHERE outside the parentheses applies after.
    where: Optional[Expr] = None


# --------------------------------------------------------------------------
# Clauses
# --------------------------------------------------------------------------


class Clause:
    pass


@dataclass
class Use(Clause):
    """USE [GRAPH] <ref> (useClause in CypherParser.g4): graph selection
    for composite DBMSs.  This engine hosts ONE graph per session, so USE
    is accepted for surface compatibility and recorded as metadata.

    ``via``/``dynamic`` carry the dynamic graph-reference functions
    ``graph.byName(expr)`` / ``graph.byElementId(expr)``
    (GraphByName.scala / GraphByElementId.scala); the argument must be
    statically evaluable (literal or parameter) so routing stays a
    plan-time decision, mirroring the reference's constant graph-reference
    dependency requirement."""

    graph: str
    via: Optional[str] = None       # None | "byname" | "byelementid"
    dynamic: Optional[Expr] = None  # argument of graph.byName/byElementId


@dataclass
class Finish(Clause):
    """FINISH — complete with no result rows (Clause.scala Finish)."""


@dataclass
class Match(Clause):
    parts: List[PatternPart]
    optional: bool = False
    where: Optional[Expr] = None


@dataclass
class Unwind(Clause):
    expr: Expr
    var: str


@dataclass
class ReturnItem:
    expr: Expr
    alias: Optional[str]
    text: str  # verbatim source text, used as output name when no alias


@dataclass
class OrderItem:
    expr: Expr
    ascending: bool = True


@dataclass
class Projection(Clause):
    """WITH or RETURN."""

    items: List[ReturnItem]
    star: bool = False
    distinct: bool = False
    order: List[OrderItem] = field(default_factory=list)
    skip: Optional[Expr] = None
    limit: Optional[Expr] = None
    where: Optional[Expr] = None  # WITH ... WHERE
    is_return: bool = False


@dataclass
class CallProc(Clause):
    name: str
    args: List[Expr]
    yields: List[Tuple[str, Optional[str]]]  # (column, alias)
    where: Optional[Expr] = None


@dataclass
class CallSub(Clause):
    query: "SingleQuery"
    imports: List[str] = field(default_factory=list)  # WITH a, b import header
    # CALL {} IN TRANSACTIONS (TransactionApply LP:4039) modifiers.
    # batch_rows is a constant Expr (literal / $param / foldable),
    # evaluated at translate time; ON ERROR and REPORT STATUS are
    # honored by the sequential batch loop (translate._call_in_tx)
    in_transactions: bool = False
    batch_rows: Optional["Expr"] = None
    # IN <expr> CONCURRENT TRANSACTIONS: a constant Expr evaluated at
    # translate time; 0 = bare CONCURRENT (runtime-chosen concurrency)
    concurrency: Optional[object] = None
    on_error: Optional[str] = None  # CONTINUE | BREAK | FAIL
    report_var: Optional[str] = None  # REPORT STATUS AS var
    optional: bool = False  # OPTIONAL CALL {} — null-padded on empty


@dataclass
class LoadCSV(Clause):
    url: Expr
    var: str
    with_headers: bool = False
    field_terminator: Optional[str] = None


# ---- updating clauses (batch-write path) ----------------------------------


@dataclass
class Create(Clause):
    parts: List[PatternPart]


@dataclass
class Merge(Clause):
    part: PatternPart
    on_create: List["SetItem"] = field(default_factory=list)
    on_match: List["SetItem"] = field(default_factory=list)


@dataclass
class SetItem:
    target: Expr  # Prop(Var, key) or Var (+= map / labels)
    value: Any
    op: str = "set"  # set | add_labels | merge_map | replace_map


@dataclass
class SetClause(Clause):
    items: List[SetItem]


@dataclass
class RemoveClause(Clause):
    items: List[SetItem]


@dataclass
class Delete(Clause):
    exprs: List[Expr]
    detach: bool = False


@dataclass
class Foreach(Clause):
    """FOREACH (x IN list | update-clauses) (LP:2336)."""

    var: str
    source: Expr
    updates: List[Clause] = field(default_factory=list)


# --------------------------------------------------------------------------
# Query roots
# --------------------------------------------------------------------------


@dataclass
class SingleQuery:
    clauses: List[Clause]


@dataclass
class UnionQuery:
    queries: List[SingleQuery]
    all: bool = False


# --------------------------------------------------------------------------
# Traversal
# --------------------------------------------------------------------------


def _is_node(v) -> bool:
    return dataclasses.is_dataclass(v) and not isinstance(v, type)


def _nodes(v) -> Iterator[Any]:
    """The AST nodes in a field value, flattening lists/tuples."""
    if isinstance(v, (list, tuple)):
        for x in v:
            yield from _nodes(x)
    elif _is_node(v):
        yield v


def children(node) -> Iterator[Any]:
    """Direct AST children of ``node`` in field order."""
    for f in dataclasses.fields(node):
        yield from _nodes(getattr(node, f.name))


def walk(root, skip: Optional[Callable[[Any], bool]] = None
         ) -> Iterator[Any]:
    """Pre-order over every node under ``root`` (a node, or a list/tuple
    of nodes); the subtree of a node with ``skip(node)`` true is not
    entered."""
    stack = list(_nodes(root))[::-1]
    while stack:
        node = stack.pop()
        yield node
        if skip is None or not skip(node):
            stack.extend(list(children(node))[::-1])


def _map_value(v, fn):
    if isinstance(v, (list, tuple)):
        new = [_map_value(x, fn) for x in v]
        if all(a is b for a, b in zip(new, v)):
            return v
        return type(v)(new)
    return fn(v) if _is_node(v) else v


def map_children(node, fn: Callable[[Any], Any]):
    """``node`` with every child ``c`` replaced by ``fn(c)``; ``node``
    itself when every ``fn(c) is c``."""
    changes = {}
    for f in dataclasses.fields(node):
        v = getattr(node, f.name)
        nv = _map_value(v, fn)
        if nv is not v:
            changes[f.name] = nv
    return dataclasses.replace(node, **changes) if changes else node
