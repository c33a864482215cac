"""One correlated Apply: OPTIONAL MATCH, EXISTS/COUNT/COLLECT {}, pattern
comprehensions, CALL {} and shortestPath() values share one argument /
sub-translator / join-back path.  The first group pins subquery bodies
that read ``nodes(p)`` of a ``shortestPath`` — they need the enclosing
statement's usage view, which every subquery translator now gets — and
must equal their top-level form.  The second group pins what each form
answers for a NULL argument row."""

import pytest


def _rows(spark, g, q):
    from neo4j_spark.api import cypher

    return [tuple(r) for r in cypher(spark, q, g).collect()]


A_ROW = "MATCH (a:N {name:'a'}) "
TO_D = "MATCH p = shortestPath((a)-[*]->(b:N {name:'d'})) "
NAMES = "[x IN nodes(p) | x.name]"
VIA_B = "WITH p WHERE any(x IN nodes(p) WHERE x.name = 'b') "


def test_top_level_shortest_path_answers(spark, five_graph):
    assert _rows(spark, five_graph,
                 A_ROW + TO_D + f"RETURN {NAMES} AS ns") == [
        (["a", "b", "d"],)]
    assert _rows(spark, five_graph,
                 A_ROW + "MATCH p = shortestPath((a)-[*]->(b:N)) " + VIA_B
                 + "RETURN count(p) AS n") == [(2,)]


@pytest.mark.parametrize("query, expected", [
    (A_ROW + "CALL (a) { " + TO_D + f"RETURN {NAMES} AS ns }} RETURN ns",
     ["a", "b", "d"]),
    (A_ROW + "CALL { WITH a " + TO_D + f"RETURN {NAMES} AS ns }} "
     "RETURN ns", ["a", "b", "d"]),
    (A_ROW + "RETURN COLLECT { " + TO_D + f"RETURN {NAMES} }}[0] AS ns",
     ["a", "b", "d"]),
    (A_ROW + "RETURN COUNT { MATCH p = shortestPath((a)-[*]->(b:N)) "
     + VIA_B + "RETURN p } AS n", 2),
], ids=["call-scope", "call-importing-with", "collect", "count"])
def test_subquery_body_reads_shortest_path_nodes(spark, five_graph, query,
                                                 expected):
    assert _rows(spark, five_graph, query) == [(expected,)]


def test_call_over_null_argument(spark, five_graph):
    assert _rows(spark, five_graph, "OPTIONAL MATCH (a:Missing) "
                 "CALL (a) { RETURN a IS NULL AS x } RETURN x") == [(True,)]


def test_optional_match_over_null_argument(spark, five_graph):
    assert _rows(spark, five_graph, "OPTIONAL MATCH (a:Missing) "
                 "OPTIONAL MATCH (b:N) WHERE a IS NULL AND b.name = 'a' "
                 "RETURN b.name") == [("a",)]


def test_subquery_expressions_over_null_argument(spark, five_graph):
    assert _rows(spark, five_graph, "OPTIONAL MATCH (a:Missing) RETURN "
                 "COUNT { MATCH (a)-->(b) RETURN b } AS c, "
                 "COLLECT { MATCH (a)-->(b) RETURN b.name } AS l, "
                 "[(a)-->(b) | b.name] AS p") == [(0, [], [])]
