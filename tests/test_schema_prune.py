"""Schema-reachability type pruning (operators/schema_prune.py).

The label topology declared via ``PropertyGraph.rel_endpoint_labels``
restricts which relationship types each level of a var-length / shortest
BFS must scan.  These tests pin (1) the driver-side closure math, (2) the
plan-level guarantee that pruned shards are never read, (3) result
equivalence pruned vs unpruned, and (4) the conservatism rules (mutated
labels / missing declarations disable pruning).
"""

import os

import pytest

from neo4j_spark.api import cypher
from neo4j_spark.cypher import ast as A
from neo4j_spark.operators.schema_prune import flipped, level_type_sets


def _rp(direction="out", min_len=1, max_len=3, types=()):
    return A.RelPat(None, list(types), direction, None, min_len, max_len, True)


class TestClosure:
    def test_forward_customer_to_region(self, tpch_graph):
        sets = level_type_sets(tpch_graph, _rp(max_len=3),
                               ["Customer"], ["Region"], 3)
        assert sets == [frozenset({"FROM_NATION"}), frozenset({"IN_REGION"}),
                        frozenset()]

    def test_backward_region_toward_customer(self, tpch_graph):
        sets = level_type_sets(tpch_graph, flipped(_rp(max_len=3)),
                               ["Region"], ["Customer"], 3)
        assert sets == [frozenset({"IN_REGION"}), frozenset({"FROM_NATION"}),
                        frozenset()]

    def test_unknown_start_prunes_by_distance_only(self, tpch_graph):
        # SUPPLIED_BY (Order->Supplier) stays: Supplier reaches Region in 2
        sets = level_type_sets(tpch_graph, _rp(max_len=3),
                               None, ["Region"], 3)
        assert sets[0] == frozenset(
            {"FROM_NATION", "IN_REGION", "SUPPLIED_BY"})
        assert sets[1] == frozenset({"FROM_NATION", "IN_REGION"})
        assert sets[2] == frozenset({"IN_REGION"})

    def test_both_direction_closure(self, tpch_graph):
        sets = level_type_sets(tpch_graph, _rp("both", 1, 2),
                               ["Region"], None, 2)
        assert sets == [frozenset({"IN_REGION"}),
                        frozenset({"IN_REGION", "FROM_NATION"})]

    def test_no_pruning_without_metadata(self, tpch_graph):
        g = tpch_graph.copy()
        g.rel_endpoint_labels = {}
        assert level_type_sets(g, _rp(), ["Customer"], ["Region"], 3) is None

    def test_extra_labels_disable_pruning(self, tpch_graph):
        g = tpch_graph.copy()
        g._extra_labels = {"Mutated"}
        assert level_type_sets(g, _rp(), ["Customer"], ["Region"], 3) is None

    def test_undeclared_type_is_any_to_any(self, tpch_graph):
        # dropping PLACED's declaration makes it usable from ANY label, so
        # it re-enters level 1 whenever remaining budget allows its (now
        # unconstrained) destination to reach Region
        g = tpch_graph.copy()
        g.rel_endpoint_labels = dict(g.rel_endpoint_labels)
        g.rel_endpoint_labels.pop("PLACED")
        sets = level_type_sets(g, _rp(max_len=3), ["Customer"], ["Region"], 3)
        assert sets is not None and "PLACED" in sets[0]

    def test_env_kill_switch(self, tpch_graph):
        os.environ["NEO4J_SPARK_SCHEMA_PRUNE"] = "0"
        try:
            assert level_type_sets(tpch_graph, _rp(),
                                   ["Customer"], ["Region"], 3) is None
        finally:
            os.environ["NEO4J_SPARK_SCHEMA_PRUNE"] = "1"


QUERIES = [
    "MATCH (c:Customer) MATCH p = shortestPath((c)-[*..3]->(r:Region)) "
    "RETURN length(p) AS l, count(*) AS n",
    "MATCH (c:Customer)-[*2..2]->(r:Region) RETURN count(*) AS n",
    "MATCH (r:Region {name: 'EUROPE'})-[*1..2]-(b) "
    "RETURN count(DISTINCT id(b)) AS c",
    "MATCH p = allShortestPaths((a:Nation {name: 'NATION_0'})-[*..4]-"
    "(b:Nation {name: 'NATION_5'})) RETURN length(p) AS len, count(*) AS c",
    "MATCH p = ANY SHORTEST (c:Customer)-[*1..2]->(r:Region) "
    "WHERE c.custkey <= 30 RETURN count(*) AS n",
]


@pytest.mark.parametrize("q", QUERIES)
def test_pruned_equals_unpruned(spark, tpch_graph, q):
    def run():
        return sorted(map(str, cypher(spark, q, tpch_graph).collect()))

    pruned = run()
    os.environ["NEO4J_SPARK_SCHEMA_PRUNE"] = "0"
    try:
        unpruned = run()
    finally:
        os.environ["NEO4J_SPARK_SCHEMA_PRUNE"] = "1"
    assert pruned == unpruned


class TestPlanElision:
    def _plan(self, spark, g, q):
        return cypher(spark, q, g)._jdf.queryExecution() \
            .executedPlan().toString()

    def test_shortest_skips_order_lineitem_shards(self, spark, tpch_graph):
        # start labels come from the EARLIER MATCH binding (var-label
        # tracking), not the shortestPath pattern itself
        plan = self._plan(
            spark, tpch_graph,
            "MATCH (c:Customer) "
            "MATCH p = shortestPath((c)-[*..3]->(r:Region)) "
            "RETURN length(p) AS l, count(*) AS n")
        for shard in ("orders.parquet", "lineitem.parquet", "part.parquet"):
            assert shard not in plan, f"pruned shard {shard} still scanned"

    def test_var_expand_skips_order_lineitem_shards(self, spark, tpch_graph):
        plan = self._plan(
            spark, tpch_graph,
            "MATCH (c:Customer)-[*2..2]->(r:Region) RETURN count(*) AS n")
        for shard in ("orders.parquet", "lineitem.parquet", "part.parquet"):
            assert shard not in plan, f"pruned shard {shard} still scanned"

    def test_write_invalidation_reflects_in_plan(self, spark, tpch_graph):
        # simulating a write that mutates labels outside the shard keys:
        # pruning must fall back to scanning every type shard
        g = tpch_graph.copy()
        g._extra_labels = {"Mutated"}
        plan = self._plan(
            spark, g,
            "MATCH (c:Customer)-[*2..2]->(r:Region) RETURN count(*) AS n")
        assert "lineitem.parquet" in plan  # CONTAINS/SUPPLIED_BY scanned again
