"""One AST traversal: ``ast.children`` / ``ast.walk`` / ``ast.map_children``
reach expressions nested in tuples — ``CASE`` pairs, map literals, map
projections and pattern property maps — so every usage analysis and
rewriter sees them.  Each Cypher case below pins an analysis that once
skipped tuples: path-content usage (``nodes(p)`` / ``relationships(p)``
read only inside a ``CASE`` or a map), subquery correlation (an outer
variable used only in a property map or a ``CASE``) and the trailing
count pre-aggregation's WHERE leak check."""

import pytest

from neo4j_spark.cypher import ast as A


# ---------------------------------------------------------------- unit


def _names(nodes):
    return [n.name for n in nodes if isinstance(n, A.Var)]


def test_children_flatten_tuples():
    case = A.Case(None, [(A.Var("c1"), A.Var("r1")),
                         (A.Var("c2"), A.Var("r2"))], A.Var("d"))
    assert _names(A.children(case)) == ["c1", "r1", "c2", "r2", "d"]
    m = A.MapLit([("k", A.Var("v")), ("j", A.Lit(1))])
    assert [type(c) for c in A.children(m)] == [A.Var, A.Lit]
    mp = A.MapProjection("n", [("prop", "x"), ("kv", "k", A.Var("e")),
                               ("all",)])
    assert _names(A.children(mp)) == ["e"]  # ``var`` strings are not children
    np = A.NodePat("x", ["N"], props=A.MapLit([("name", A.Prop(
        A.Var("a"), "name"))]))
    assert _names(A.walk(np)) == ["a"]
    assert [type(c) for c in A.children(np)] == [A.MapLit]


def test_walk_skip_prunes_subtree():
    e = A.Func("length", [A.Var("p")])
    tree = A.BinOp("+", e, A.Var("q"))
    assert _names(A.walk(tree)) == ["p", "q"]
    assert _names(A.walk(tree, skip=lambda n: n is e)) == ["q"]


def test_map_children_rebuilds_only_on_change():
    whens = [(A.Var("a"), A.Lit(1))]
    case = A.Case(None, whens, None)
    mp = A.MapProjection("n", [("kv", "k", A.Var("a")), ("prop", "x")])
    np = A.NodePat("x", props=A.MapLit([("name", A.Var("a"))]))
    for node in (case, mp, np, A.MapLit([("k", A.Var("a"))])):
        assert A.map_children(node, lambda c: c) is node

    def rename(c):
        if isinstance(c, A.Var) and c.name == "a":
            return A.Var("b")
        return A.map_children(c, rename)

    case2 = rename(case)
    assert case2 is not case and case.whens is whens
    assert case2.whens == [(A.Var("b"), A.Lit(1))]
    assert rename(mp).items == [("kv", "k", A.Var("b")), ("prop", "x")]
    assert rename(np).props.items == [("name", A.Var("b"))]
    assert np.props.items == [("name", A.Var("a"))]  # input untouched


# --------------------------------------------------------------- Cypher


@pytest.fixture(scope="module")
def four(spark):
    """a->b (w 1), a->c (w 2), b->d (w 3), c->d (w 4), all typed E."""
    from neo4j_spark.graph import PropertyGraph

    nodes = {"N": spark.createDataFrame(
        [(i, ["N"], chr(96 + i)) for i in (1, 2, 3, 4)],
        "id long, labels array<string>, name string")}
    rels = {"E": spark.createDataFrame(
        [(10, 1, 2, "E", 1), (11, 1, 3, "E", 2),
         (12, 2, 4, "E", 3), (13, 3, 4, "E", 4)],
        "id long, src long, dst long, type string, w long")}
    return PropertyGraph(nodes, rels)


def _col(spark, g, q):
    from neo4j_spark.api import cypher

    return sorted(r[0] for r in cypher(spark, q, g).collect())


def _by_name(spark, g, q):
    from neo4j_spark.api import cypher

    return {r["n"]: r["v"] for r in cypher(spark, q, g).collect()}


VAR2 = "MATCH p = (a:N {name:'a'})-[:E*2]->(d:N {name:'d'}) "
SHORTEST = ("MATCH p = shortestPath((a:N {name:'a'})-[*..3]->"
            "(d:N {name:'d'})) ")


def test_path_nodes_inside_case(spark, four):
    assert _col(spark, four, VAR2 + "RETURN CASE WHEN true THEN "
                "[n IN nodes(p) | n.name] END AS ns") == [
        ["a", "b", "d"], ["a", "c", "d"]]


def test_path_rels_inside_map_literal(spark, four):
    maps = _col(spark, four, VAR2 + "RETURN {ws: [r IN relationships(p) "
                "| r.w]} AS m")
    assert [m["ws"] for m in maps] == [[1, 3], [2, 4]]


@pytest.mark.parametrize("ret", [
    "CASE WHEN true THEN [n IN nodes(p) | n.name] END",
    "{ns: [n IN nodes(p) | n.name]}.ns",
])
def test_shortest_path_nodes_in_case_or_map(spark, four, ret):
    plain = _col(spark, four, SHORTEST + "RETURN [n IN nodes(p) | n.name]")
    assert len(plain) == 1 and plain[0] in (["a", "b", "d"],
                                            ["a", "c", "d"])
    assert _col(spark, four, SHORTEST + f"RETURN {ret} AS ns") == plain


@pytest.mark.parametrize("sub, expected", [
    ("EXISTS { (x:N {name: a.name})-->() }",
     {"a": True, "b": True, "c": True, "d": False}),
    ("COUNT { (x:N {name: a.name})-->() }",
     {"a": 2, "b": 1, "c": 1, "d": 0}),
])
def test_subquery_correlates_through_property_map(spark, four, sub,
                                                  expected):
    assert _by_name(spark, four, f"MATCH (a:N) RETURN a.name AS n, "
                    f"{sub} AS v") == expected


@pytest.mark.parametrize("wrapped, plain", [
    ("COUNT { MATCH (x:N) WHERE x.name = CASE WHEN true THEN a.name END }",
     "COUNT { MATCH (x:N) WHERE x.name = a.name }"),
    ("COLLECT { MATCH (x:N) WHERE x.name = CASE WHEN true THEN a.name END "
     "RETURN x.name }",
     "COLLECT { MATCH (x:N) WHERE x.name = a.name RETURN x.name }"),
    ("EXISTS { MATCH (x:N)-->(y) WHERE y.name = {k: a.name}.k }",
     "EXISTS { MATCH (x:N)-->(y) WHERE y.name = a.name }"),
])
def test_subquery_correlates_through_case_and_map(spark, four, wrapped,
                                                  plain):
    q = "MATCH (a:N) RETURN a.name AS n, {} AS v"
    want = _by_name(spark, four, q.format(plain))
    assert len(want) == 4
    assert _by_name(spark, four, q.format(wrapped)) == want


def test_trailing_count_where_case_sees_rel_var(spark, tpch_graph):
    q = ("MATCH (c:Customer {custkey: 1})-[:PLACED]->(o:Order)"
         "-[l:CONTAINS]->(p) WHERE %s RETURN count(*) AS n")
    case = _col(spark, tpch_graph,
                q % "CASE WHEN l.quantity > 10 THEN true ELSE false END")
    assert case == _col(spark, tpch_graph, q % "l.quantity > 10")
    assert case == [19]
