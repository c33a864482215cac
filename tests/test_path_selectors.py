"""GQL path selectors (CypherParser.g4:254-261, StatefulShortestPath
LP:2290): ANY SHORTEST / ALL SHORTEST / SHORTEST k / SHORTEST k GROUPS /
ANY k over the diamond graph:

a(1) ->[100] b(2), a ->[101] b (parallel), a ->[102] c(3),
b ->[103] d(4), c ->[104] d, a ->[105] a (self-loop).

a->d paths within *1..2: a-b-d twice (parallel first hop) + a-c-d = three
2-hop paths.  a->b paths within *1..2: two 1-hop + two 2-hop (self-loop
first).
"""

from neo4j_spark.api import cypher

import pytest

# conformance tranche: everything here is marked `acceptance` (excluded
# from the default core run; run with `pytest -m acceptance`) except the
# two classes that pin the NFA search's `count` and `track` payloads


def rows(df):
    return [tuple(r) for r in df.collect()]


def _count(spark, g, q):
    return cypher(spark, q, g).collect()


@pytest.mark.acceptance
def test_shortest_one_per_pair(spark, diamond_graph):
    out = _count(spark, diamond_graph, """
        MATCH p = SHORTEST 1 (a:N {name: 'a'})-[*1..2]->(d:N {name: 'd'})
        RETURN size(relationships(p)) AS len
    """)
    assert [r["len"] for r in out] == [2]


@pytest.mark.acceptance
def test_shortest_k_two(spark, diamond_graph):
    out = _count(spark, diamond_graph, """
        MATCH p = SHORTEST 2 (a:N {name: 'a'})-[*1..2]->(d:N {name: 'd'})
        RETURN count(*) AS n
    """)
    assert out[0]["n"] == 2


@pytest.mark.acceptance
def test_shortest_groups_all_min_length(spark, diamond_graph):
    out = _count(spark, diamond_graph, """
        MATCH p = SHORTEST 1 GROUPS (a:N {name: 'a'})-[*1..2]->(d:N {name: 'd'})
        RETURN count(*) AS n
    """)
    assert out[0]["n"] == 3  # both parallel a-b-d walks + a-c-d


@pytest.mark.acceptance
def test_shortest_groups_two_length_groups(spark, diamond_graph):
    out = _count(spark, diamond_graph, """
        MATCH p = SHORTEST 2 GROUPS (a:N {name: 'a'})-[*1..2]->(b:N {name: 'b'})
        RETURN size(relationships(p)) AS len, count(*) AS n
        ORDER BY len
    """)
    assert [(r["len"], r["n"]) for r in out] == [(1, 2), (2, 2)]


@pytest.mark.acceptance
def test_shortest_k_spans_lengths(spark, diamond_graph):
    # 2 one-hop paths + (self-loop) two-hop paths; SHORTEST 3 takes 3
    out = _count(spark, diamond_graph, """
        MATCH p = SHORTEST 3 (a:N {name: 'a'})-[*1..2]->(b:N {name: 'b'})
        RETURN size(relationships(p)) AS len, count(*) AS n
        ORDER BY len
    """)
    assert [(r["len"], r["n"]) for r in out] == [(1, 2), (2, 1)]


@pytest.mark.acceptance
def test_any_k(spark, diamond_graph):
    out = _count(spark, diamond_graph, """
        MATCH p = ANY 2 (a:N {name: 'a'})-[*1..2]->(d:N {name: 'd'})
        RETURN count(*) AS n
    """)
    assert out[0]["n"] == 2


@pytest.mark.acceptance
def test_any_shortest_fixed_pattern(spark, diamond_graph):
    # non-var-length pattern with a selector: one of the parallel edges
    out = _count(spark, diamond_graph, """
        MATCH ANY SHORTEST (a:N {name: 'a'})-[r:E]->(b:N {name: 'b'})
        RETURN count(*) AS n
    """)
    assert out[0]["n"] == 1


@pytest.mark.acceptance
def test_selector_single_node_pattern(spark, diamond_graph):
    out = _count(spark, diamond_graph, """
        MATCH p = SHORTEST 1 (n:N) RETURN count(*) AS n
    """)
    assert out[0]["n"] == 4


@pytest.mark.acceptance
def test_all_selector_is_default(spark, diamond_graph):
    out = _count(spark, diamond_graph, """
        MATCH ALL (a:N {name: 'a'})-[r:E]->(b:N {name: 'b'})
        RETURN count(*) AS n
    """)
    assert out[0]["n"] == 2


@pytest.mark.acceptance
def test_selector_respects_internal_where(spark, diamond_graph):
    # predicate inside the pattern constrains the search BEFORE selection:
    # forbid the b-route; the shortest surviving a->d path is via c
    out = _count(spark, diamond_graph, """
        MATCH p = SHORTEST 1 GROUPS
            (a:N {name: 'a'})-[*1..2]->(d:N {name: 'd'} WHERE d.name <> 'x')
        MATCH (mid:N) WHERE mid.name = 'c'
        RETURN count(*) AS n
    """)
    assert out[0]["n"] == 3


class TestNFAStatefulShortest:
    """NFA product-graph BFS (StatefulShortestPath LP:2290) for patterns
    with unbounded quantifiers; agreement with the enumerating Trail path
    on bounded-diameter graphs."""

    def test_unbounded_matches_bounded_enumeration(self, spark, tpch_graph):
        from neo4j_spark.api import cypher

        # diameter <= 3 here, so {1,3} enumeration covers the '+' reach
        nfa = cypher(spark,
                     "MATCH ANY SHORTEST (a:Supplier WHERE a.suppkey <= 3)"
                     "((x)-[:FROM_NATION|IN_REGION]->(y))+(b:Region) "
                     "RETURN count(*) AS n", tpch_graph).collect()[0]["n"]
        enum = cypher(spark,
                      "MATCH ANY SHORTEST (a:Supplier WHERE a.suppkey <= 3)"
                      "((x)-[:FROM_NATION|IN_REGION]->(y)){1,3}(b:Region) "
                      "RETURN count(*) AS n", tpch_graph).collect()[0]["n"]
        assert nfa == enum and nfa > 0

    def test_all_shortest_multiplicity(self, spark, diamond_graph):
        from neo4j_spark.api import cypher

        # a(1) -> d(4): two shortest 2-hop paths via b (x2 parallel edges
        # count separately: 1->2 has two rels) and one via c => 3
        out = cypher(spark,
                     "MATCH ALL SHORTEST (a:N WHERE a.name = 'a')"
                     "((x)-[:E]->(y))+(b:N WHERE b.name = 'd') "
                     "RETURN count(*) AS n", diamond_graph)
        assert out.collect()[0]["n"] == 3

    def test_multi_element_tail_uniqueness(self, spark, tpch_graph):
        # the tail reuses IN_REGION, so the type-overlap guard routes this
        # to the enumerating Trail path, which enforces per-path rel
        # uniqueness exactly: the supplier's own nation is NOT reachable
        # (its IN_REGION edge is already on the path) => 4 of 5 nations
        from neo4j_spark.api import cypher

        out = cypher(spark,
                     "MATCH ANY SHORTEST (a:Supplier WHERE a.suppkey = 1)"
                     "((x)-[:FROM_NATION|IN_REGION]->(y))+"
                     "(r:Region)<-[:IN_REGION]-(b:Nation) "
                     "RETURN count(*) AS n", tpch_graph)
        assert out.collect()[0]["n"] == 4

    def test_multi_element_tail_disjoint_types(self, spark, tpch_graph):
        # disjoint transition types: NFA path, exact uniqueness by
        # construction
        from neo4j_spark.api import cypher

        out = cypher(spark,
                     "MATCH ANY SHORTEST (a:Customer WHERE a.custkey = 1)"
                     "((x)-[:PLACED|CONTAINS]->(y))+"
                     "(o:Order)-[:SUPPLIED_BY]->(b:Supplier) "
                     "RETURN count(*) AS n", tpch_graph)
        exact = cypher(spark,
                       "MATCH (a:Customer {custkey: 1})-[:PLACED]->(o:Order)"
                       "-[:SUPPLIED_BY]->(b:Supplier) "
                       "RETURN count(DISTINCT b) AS n", tpch_graph)
        assert out.collect()[0]["n"] == exact.collect()[0]["n"] > 0

    def test_zero_reps_star(self, spark, chain_graph):
        from neo4j_spark.api import cypher

        # {0,}: zero repetitions match the start node itself
        out = cypher(spark,
                     "MATCH ANY SHORTEST (a:A)((x)-[:R]->(y))*(b) "
                     "RETURN count(*) AS n", chain_graph)
        # b in {a(itself, 0 hops), B(1), C(2)} => 3 rows
        assert out.collect()[0]["n"] == 3


@pytest.mark.acceptance
def test_shortest_path_expr_unbound_endpoints(spark, tpch_graph):
    """shortestPath() value with endpoints bound by the expression's own
    pattern (NestedPlanExpression GetValue): one deterministic path per
    row; null when disconnected."""
    from neo4j_spark.api import cypher

    out = cypher(spark,
                 "RETURN length(shortestPath((a:Nation {name: 'NATION_0'})"
                 "-[*..4]-(b:Region {name: 'AFRICA'}))) AS l",
                 tpch_graph).collect()
    assert out[0]["l"] == 1
    out = cypher(spark,
                 "RETURN shortestPath((a:Nation {name: 'NATION_0'})"
                 "-[:IN_REGION*..2]->(b:Region {name: 'EUROPE'})) IS NULL "
                 "AS n", tpch_graph).collect()
    assert out[0]["n"] is True
    out = cypher(spark,
                 "MATCH (n:Nation) WHERE n.nationkey < 3 "
                 "RETURN n.nationkey AS k, length(shortestPath("
                 "(n)-[:IN_REGION*..2]->(r:Region))) AS l ORDER BY k",
                 tpch_graph).collect()
    assert [(r["k"], r["l"]) for r in out] == [(0, 1), (1, 1), (2, 1)]


@pytest.mark.acceptance
class TestNFALabelExpressions:
    """Round-3 regressions: label expressions on NFA end/inner nodes and
    zero-repetition semantics with inner predicates (ADVICE r2)."""

    import pytest as _pytest

    @_pytest.fixture(scope="class")
    def abcd_chain(self, spark):
        """(:A)-[:R]->(:B)-[:R]->(:C)-[:R]->(:D), x = 1..4."""
        from neo4j_spark.graph import PropertyGraph

        nodes = {
            l: spark.createDataFrame(
                [(i, [l], i)], "id long, labels array<string>, x long")
            for i, l in enumerate("ABCD", start=1)
        }
        rels = {"R": spark.createDataFrame(
            [(10, 1, 2, "R"), (11, 2, 3, "R"), (12, 3, 4, "R")],
            "id long, src long, dst long, type string")}
        return PropertyGraph(nodes, rels)

    def test_disjunctive_end_label(self, spark, abcd_chain):
        # end scan must keep any_labels (b:B|C intersected to zero rows
        # before the r2 fix)
        out = _count(spark, abcd_chain,
                     "MATCH ANY SHORTEST (a:A)((x)-[:R]->(y))+(b:B|C) "
                     "RETURN b.x AS bx ORDER BY bx")
        assert [r["bx"] for r in out] == [2, 3]

    def test_label_tree_end(self, spark, abcd_chain):
        out = _count(spark, abcd_chain,
                     "MATCH ANY SHORTEST (a:A)((x)-[:R]->(y))+(b:!(A|B)) "
                     "RETURN b.x AS bx ORDER BY bx")
        assert [r["bx"] for r in out] == [3, 4]

    def test_label_tree_inner(self, spark, abcd_chain):
        # y:!(A|B) blocks the first hop (dst is :B) => no rows; the
        # pre-fix NFA ignored the tree and returned every node
        out = _count(spark, abcd_chain,
                     "MATCH ANY SHORTEST (a:A)((x)-[:R]->(y:!(A|B)))+(b) "
                     "RETURN b.x AS bx")
        assert out == []
        out2 = _count(spark, abcd_chain,
                      "MATCH ANY SHORTEST (a:A)((x)-[:R]->(y:!A))+(b) "
                      "RETURN b.x AS bx ORDER BY bx")
        assert [r["bx"] for r in out2] == [2, 3, 4]

    def test_zero_rep_skips_inner_predicate(self, spark, abcd_chain):
        # ((x)-[:R]->(y:C))*: hop 1 lands on :B (blocked), so ONLY the
        # zero-repetition row (b = a) survives — the eps bypass must not
        # filter it by the inner y:C state set
        out = _count(spark, abcd_chain,
                     "MATCH ANY SHORTEST (a:A)((x)-[:R]->(y:C))*(b) "
                     "RETURN b.x AS bx")
        assert [r["bx"] for r in out] == [1]


@pytest.mark.acceptance
def test_is_typed_tagged_temporal_ranks(spark, chain_graph):
    # IS :: on tagged values: DURATION / ZONED TIME / LOCAL TIME ranks
    # (ADVICE r2 — the rank table previously omitted them)
    out = _count(spark, chain_graph, """
        RETURN [duration('PT1H'), 1][0] IS :: DURATION AS d,
               [time('12:00:00+01:00'), 1][0] IS :: ZONED TIME AS zt,
               [localtime('12:00:00'), 1][0] IS :: LOCAL TIME AS lt,
               [duration('PT1H'), 1][1] IS :: DURATION AS notd
    """)
    assert tuple(out[0]) == (True, True, True, False)


class TestNFAPathPropagation:
    """Round-3: path/group-variable projection through the NFA product
    BFS (nfa_shortest_tracked, PGPathPropagatingBFS design) + the
    exact-or-raise contract for unbounded quantifiers."""

    def test_path_nodes_match_bounded_trail(self, spark, tpch_graph):
        nfa = _count(spark, tpch_graph, """
            MATCH p = ANY SHORTEST (a:Supplier WHERE a.suppkey <= 3)
                ((x)-[:FROM_NATION|IN_REGION]->(y))+(b:Region)
            RETURN a.suppkey AS sk, [n IN nodes(p) | n.name] AS names,
                   length(p) AS len ORDER BY sk
        """)
        trail = _count(spark, tpch_graph, """
            MATCH p = ANY SHORTEST (a:Supplier WHERE a.suppkey <= 3)
                ((x)-[:FROM_NATION|IN_REGION]->(y)){1,3}(b:Region)
            RETURN a.suppkey AS sk, [n IN nodes(p) | n.name] AS names,
                   length(p) AS len ORDER BY sk
        """)
        assert [tuple(r) for r in nfa] == [tuple(r) for r in trail]
        assert len(nfa) == 4 and all(r["len"] == 2 for r in nfa)

    def test_all_shortest_projects_every_path(self, spark, diamond_graph):
        out = _count(spark, diamond_graph, """
            MATCH p = ALL SHORTEST (a:N WHERE a.name = 'a')
                ((x)-[:E]->(y))+(b:N WHERE b.name = 'd')
            RETURN [n IN nodes(p) | n.name] AS names, length(p) AS len
        """)
        got = sorted((tuple(r["names"]), r["len"]) for r in out)
        assert got == [(("a", "b", "d"), 2), (("a", "b", "d"), 2),
                       (("a", "c", "d"), 2)]

    def test_group_variables_from_nfa(self, spark, diamond_graph):
        out = _count(spark, diamond_graph, """
            MATCH ANY SHORTEST (a:N WHERE a.name = 'a')
                ((x)-[e:E]->(y))+(b:N WHERE b.name = 'd')
            RETURN [n IN x | n.name] AS xs, [n IN y | n.name] AS ys,
                   size(e) AS ne
        """)
        assert len(out) == 1
        r = out[0]
        assert r["ne"] == 2 and len(r["xs"]) == 2 and len(r["ys"]) == 2
        assert r["xs"][0] == "a" and r["ys"][-1] == "d"

    def test_rel_types_off_path(self, spark, tpch_graph):
        out = _count(spark, tpch_graph, """
            MATCH p = ANY SHORTEST (a:Supplier WHERE a.suppkey = 1)
                ((x)-[:FROM_NATION|IN_REGION]->(y))+(b:Region)
            RETURN [r IN relationships(p) | type(r)] AS ts
        """)
        assert [tuple(r["ts"]) for r in out] == [("FROM_NATION",
                                                 "IN_REGION")]


@pytest.mark.acceptance
class TestUnboundedExactOrRaise:
    """Unbounded quantifiers outside the NFA guard either enumerate to
    the graph's true reach (dynamic Trail unroll) or raise — never
    silently truncate (round-2 capped at 8 repetitions)."""

    import pytest as _pytest

    @_pytest.fixture(scope="class")
    def chain10(self, spark):
        """n1 -> n2 -> ... -> n11 (10 R-hops)."""
        from neo4j_spark.graph import PropertyGraph

        nodes = {"N": spark.createDataFrame(
            [(i, ["N"], f"n{i}") for i in range(1, 12)],
            "id long, labels array<string>, name string")}
        rels = {"R": spark.createDataFrame(
            [(100 + i, i, i + 1, "R") for i in range(1, 11)],
            "id long, src long, dst long, type string")}
        return PropertyGraph(nodes, rels)

    def test_unbounded_qpp_reaches_past_old_cap(self, spark, chain10):
        # group var read => Trail path; reach is 10 > the old silent cap
        # of 8 — the dynamic unroll must find the full chain
        out = _count(spark, chain10, """
            MATCH (a:N {name: 'n1'})((x)-[r:R]->(y))+(b:N {name: 'n11'})
            RETURN size(r) AS n
        """)
        assert [r["n"] for r in out] == [10]

    def test_unbounded_qpp_raises_at_cap(self, spark, chain10):
        import pytest

        from neo4j_spark.cypher.translate import TranslateError

        spark.conf.set("neo4j_spark.qpp.maxUnroll", "4")
        try:
            with pytest.raises(TranslateError, match="maxUnroll"):
                _count(spark, chain10, """
                    MATCH (a:N {name: 'n1'})((x)-[r:R]->(y))+(b)
                    RETURN size(r) AS n
                """)
        finally:
            spark.conf.unset("neo4j_spark.qpp.maxUnroll")

    def test_unbounded_var_expand_raises_past_max(self, spark):
        # 14-hop chain > max_var_length (12): -[*]-> must raise, not
        # silently return the truncated 12-hop enumeration
        import pytest

        from neo4j_spark.graph import PropertyGraph
        from neo4j_spark.cypher.translate import TranslateError

        nodes = {"N": spark.createDataFrame(
            [(i, ["N"], f"n{i}") for i in range(1, 16)],
            "id long, labels array<string>, name string")}
        rels = {"R": spark.createDataFrame(
            [(100 + i, i, i + 1, "R") for i in range(1, 15)],
            "id long, src long, dst long, type string")}
        g = PropertyGraph(nodes, rels)
        with pytest.raises(TranslateError, match="max_var_length"):
            _count(spark, g,
                   "MATCH (a:N {name: 'n1'})-[:R*]->(b) "
                   "RETURN count(*) AS n")


@pytest.mark.acceptance
class TestShortestPathInWhere:
    """shortestPath() as a value expression in predicate position
    (NestedPlanExpression via the WHERE lowering path)."""

    def test_is_not_null_predicate(self, spark):
        from neo4j_spark.graph import PropertyGraph
        g = PropertyGraph({}, {})
        cypher(spark,
               "CREATE (:A {v: 1})-[:R]->(:B {v: 2}), (:A {v: 9})",
               g).collect()
        got = [tuple(r) for r in cypher(
            spark,
            "MATCH (a:A), (b:B) "
            "WHERE shortestPath((a)-[*..3]->(b)) IS NOT NULL "
            "RETURN a.v AS v", g).collect()]
        assert got == [(1,)]

    def test_length_of_shortest_in_where(self, spark):
        from neo4j_spark.graph import PropertyGraph
        g = PropertyGraph({}, {})
        cypher(spark,
               "CREATE (:A {v: 1})-[:R]->(:B {v: 2}), (:A {v: 9})",
               g).collect()
        got = [tuple(r) for r in cypher(
            spark,
            "MATCH (a:A), (b:B) "
            "WHERE length(shortestPath((a)-[*..3]->(b))) = 1 "
            "RETURN a.v AS v", g).collect()]
        assert got == [(1,)]


@pytest.mark.acceptance
class TestNFAKBudgeted:
    """SHORTEST k / SHORTEST k GROUPS / ANY k over UNBOUNDED quantifiers
    route to the path-propagating NFA (nfa_shortest_tracked), which for
    k > 1 enumerates trails (step join filters reused relationships) and
    ranks the k winners per (start, end).  Oracle: the exact Trail
    enumeration of the same pattern with a bound beyond the graph's
    reach."""

    import pytest as _pytest

    @_pytest.fixture(scope="class")
    def multilen_graph(self, spark):
        """1->4 direct; 1->2->4; 1->3->4; 2->3 (so 1->2->3->4): lengths
        {1, 2, 2, 3} between nodes 1 and 4."""
        from neo4j_spark.graph import PropertyGraph

        nodes = {"N": spark.createDataFrame(
            [(i, ["N"], i) for i in range(1, 7)],
            "id long, labels array<string>, x long")}
        edges = [(10, 1, 4), (11, 1, 2), (12, 2, 4), (13, 1, 3),
                 (14, 3, 4), (15, 2, 3), (16, 4, 5), (17, 5, 6)]
        rels = {"R": spark.createDataFrame(
            [(e, s, d, "R") for e, s, d in edges],
            "id long, src long, dst long, type string")}
        return PropertyGraph(nodes, rels)

    @_pytest.mark.parametrize("sel", [
        "SHORTEST 2", "SHORTEST 3", "SHORTEST 2 GROUPS", "ALL SHORTEST",
        "ANY SHORTEST",
    ])
    def test_unbounded_matches_bounded_trail(self, spark, multilen_graph,
                                             sel):
        unb = sorted(tuple(r) for r in cypher(
            spark,
            f"MATCH p = {sel} (a)((x)-[:R]->(y))+(b) "
            "RETURN a.x AS ax, b.x AS bx, length(p) AS len",
            multilen_graph).collect())
        bnd = sorted(tuple(r) for r in cypher(
            spark,
            f"MATCH p = {sel} (a)((x)-[:R]->(y)){{1,7}}(b) "
            "RETURN a.x AS ax, b.x AS bx, length(p) AS len",
            multilen_graph).collect())
        assert unb == bnd

    def test_shortest_2_lengths_1_4(self, spark, multilen_graph):
        got = sorted(r[0] for r in cypher(
            spark,
            "MATCH p = SHORTEST 2 (a {x: 1})((u)-[:R]->(v))+(b {x: 4}) "
            "RETURN length(p) AS len", multilen_graph).collect())
        assert got == [1, 2]

    def test_groups_2_lengths_1_4(self, spark, multilen_graph):
        got = sorted(r[0] for r in cypher(
            spark,
            "MATCH p = SHORTEST 2 GROUPS (a {x: 1})((u)-[:R]->(v))+"
            "(b {x: 4}) RETURN length(p) AS len",
            multilen_graph).collect())
        assert got == [1, 2, 2]

    def test_any_k_unbounded_count(self, spark, multilen_graph):
        # ANY 2: any two paths — assert the count, not which two
        got = [tuple(r) for r in cypher(
            spark,
            "MATCH p = ANY 2 (a {x: 1})((u)-[:R]->(v))+(b {x: 4}) "
            "RETURN count(*) AS n", multilen_graph).collect()]
        assert got == [(2,)]

    def test_path_projection_under_k(self, spark, multilen_graph):
        # group/path variables re-derive through the k-budgeted search
        got = sorted(tuple(r) for r in cypher(
            spark,
            "MATCH p = SHORTEST 2 (a {x: 1})((u)-[:R]->(v))+(b {x: 4}) "
            "RETURN length(p) AS len, [n IN nodes(p) | n.x] AS xs",
            multilen_graph).collect())
        assert got[0] == (1, [1, 4])
        assert got[1][0] == 2 and got[1][1][0] == 1 and got[1][1][2] == 4

@pytest.mark.acceptance
class TestNFATrailUniqueness:
    """Cypher relationship-uniqueness under k>1 selectors on CYCLIC
    graphs: a walk may never reuse a relationship (reference:
    TraversalMatching / relationship uniqueness in
    community/cypher/.../SemanticChecker; the enumerating Trail path
    enforces it per-path).  Regression: the k-budgeted NFA admitted
    walks like [e1, e2, e1] on a 2-cycle."""

    import pytest as _pytest

    @_pytest.fixture(scope="class")
    def two_cycle(self, spark):
        """e1: 1->2, e2: 2->1 — the ADVICE repro graph."""
        from neo4j_spark.graph import PropertyGraph

        nodes = {"N": spark.createDataFrame(
            [(i, ["N"], i) for i in (1, 2)],
            "id long, labels array<string>, x long")}
        rels = {"R": spark.createDataFrame(
            [(1, 1, 2, "R"), (2, 2, 1, "R")],
            "id long, src long, dst long, type string")}
        return PropertyGraph(nodes, rels)

    @_pytest.fixture(scope="class")
    def cycle_with_parallel(self, spark):
        """Triangle 1->2->3->1 plus a parallel 1->2: trails 1~>2 are
        [e1], [e4], [e1,e2,e3,e4], [e4,e2,e3,e1] — lengths 1,1,4,4."""
        from neo4j_spark.graph import PropertyGraph

        nodes = {"N": spark.createDataFrame(
            [(i, ["N"], i) for i in (1, 2, 3)],
            "id long, labels array<string>, x long")}
        rels = {"R": spark.createDataFrame(
            [(1, 1, 2, "R"), (2, 2, 3, "R"), (3, 3, 1, "R"),
             (4, 1, 2, "R")],
            "id long, src long, dst long, type string")}
        return PropertyGraph(nodes, rels)

    def test_shortest_2_no_rel_reuse_on_two_cycle(self, spark, two_cycle):
        # only ONE trail 1~>2 exists ([e1]); [e1,e2,e1] reuses e1
        got = sorted(r[0] for r in cypher(
            spark,
            "MATCH p = SHORTEST 2 (a {x: 1})((u)-[:R]->(v))+(b {x: 2}) "
            "RETURN length(p) AS len", two_cycle).collect())
        assert got == [1]

    def test_any_2_no_rel_reuse_on_two_cycle(self, spark, two_cycle):
        got = sorted(r[0] for r in cypher(
            spark,
            "MATCH p = ANY 2 (a {x: 1})((u)-[:R]->(v))+(b {x: 2}) "
            "RETURN length(p) AS len", two_cycle).collect())
        assert got == [1]

    def test_groups_2_no_rel_reuse_on_two_cycle(self, spark, two_cycle):
        got = sorted(r[0] for r in cypher(
            spark,
            "MATCH p = SHORTEST 2 GROUPS (a {x: 1})((u)-[:R]->(v))+"
            "(b {x: 2}) RETURN length(p) AS len", two_cycle).collect())
        assert got == [1]

    def test_shortest_3_finds_real_second_trails(self, spark,
                                                 cycle_with_parallel):
        got = sorted(r[0] for r in cypher(
            spark,
            "MATCH p = SHORTEST 3 (a {x: 1})((u)-[:R]->(v))+(b {x: 2}) "
            "RETURN length(p) AS len", cycle_with_parallel).collect())
        assert got == [1, 1, 4]

    def test_groups_2_finds_real_second_group(self, spark,
                                              cycle_with_parallel):
        got = sorted(r[0] for r in cypher(
            spark,
            "MATCH p = SHORTEST 2 GROUPS (a {x: 1})((u)-[:R]->(v))+"
            "(b {x: 2}) RETURN length(p) AS len",
            cycle_with_parallel).collect())
        assert got == [1, 1, 4, 4]

    def test_all_shortest_cyclic_graph(self, spark, cycle_with_parallel):
        got = sorted(r[0] for r in cypher(
            spark,
            "MATCH p = ALL SHORTEST (a {x: 1})((u)-[:R]->(v))+"
            "(b {x: 2}) RETURN length(p) AS len",
            cycle_with_parallel).collect())
        assert got == [1, 1]

    def test_frontier_budget_raises(self, spark, cycle_with_parallel):
        spark.conf.set("neo4j_spark.nfa.maxFrontierPaths", "1")
        try:
            with self._pytest.raises(Exception,
                                     match="maxFrontierPaths"):
                cypher(
                    spark,
                    "MATCH p = SHORTEST 3 (a {x: 1})((u)-[:R]->(v))+"
                    "(b {x: 2}) RETURN length(p) AS len",
                    cycle_with_parallel).collect()
        finally:
            spark.conf.unset("neo4j_spark.nfa.maxFrontierPaths")


@pytest.mark.acceptance
class TestDiamondLatticeExplosion:
    """Adversarial scale fixture: a chain of D stacked diamonds admits
    2^D distinct shortest trails between the endpoints.  k>1 selectors
    must ENUMERATE trails (reference Trail semantics) and therefore hit
    the configurable frontier budget with a loud raise instead of an
    OOM; k=1 / ANY SHORTEST routes to the pruned (per-node-state) BFS
    and answers on the SAME graph under the SAME budget."""

    import pytest as _pytest

    D = 10  # 2^10 = 1024 shortest trails end-to-end

    @_pytest.fixture(scope="class")
    def lattice(self, spark):
        from neo4j_spark.graph import PropertyGraph

        # nodes: hub_0 .. hub_D, plus top_i / bot_i per diamond
        nodes, rels, rid = [], [], 0
        for i in range(self.D + 1):
            nodes.append((i, ["N"], i))  # hubs 0..D
        top0, bot0 = 100, 200
        for i in range(self.D):
            nodes.append((top0 + i, ["N"], top0 + i))
            nodes.append((bot0 + i, ["N"], bot0 + i))
            for mid in (top0 + i, bot0 + i):
                rid += 1
                rels.append((rid, i, mid, "R"))
                rid += 1
                rels.append((rid, mid, i + 1, "R"))
        return PropertyGraph(
            {"N": spark.createDataFrame(
                nodes, "id long, labels array<string>, x long")},
            {"R": spark.createDataFrame(
                rels, "id long, src long, dst long, type string")})

    def test_k2_enumeration_raises_loudly(self, spark, lattice):
        spark.conf.set("neo4j_spark.nfa.maxFrontierPaths", "200")
        try:
            with self._pytest.raises(Exception) as ei:
                cypher(
                    spark,
                    f"MATCH p = SHORTEST 2 (a {{x: 0}})"
                    f"((u)-[:R]->(v))+(b {{x: {self.D}}}) "
                    "RETURN length(p) AS len", lattice).collect()
            msg = str(ei.value)
            assert "maxFrontierPaths" in msg and "budget" in msg
        finally:
            spark.conf.unset("neo4j_spark.nfa.maxFrontierPaths")

    def test_k1_pruned_path_succeeds_same_budget(self, spark, lattice):
        spark.conf.set("neo4j_spark.nfa.maxFrontierPaths", "200")
        try:
            got = [r[0] for r in cypher(
                spark,
                f"MATCH p = ANY SHORTEST (a {{x: 0}})"
                f"((u)-[:R]->(v))+(b {{x: {self.D}}}) "
                "RETURN length(p) AS len", lattice).collect()]
            assert got == [2 * self.D]
        finally:
            spark.conf.unset("neo4j_spark.nfa.maxFrontierPaths")
