import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest

from neo4j_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("neo4j_spark_tests", cpus=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def tpch_graph(spark):
    from neo4j_spark.sources.tpch import tpch_graph as build

    return build(spark, "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def chain_graph(spark):
    """(:A {x:1})-[:R {w:1.0}]->(:B {x:2})-[:R {w:2.0}]->(:C {x:3})"""
    from neo4j_spark.graph import PropertyGraph

    nodes = {
        "A": spark.createDataFrame([(1, ["A"], 1)], "id long, labels array<string>, x long"),
        "B": spark.createDataFrame([(2, ["B"], 2)], "id long, labels array<string>, x long"),
        "C": spark.createDataFrame([(3, ["C"], 3)], "id long, labels array<string>, x long"),
    }
    rels = {
        "R": spark.createDataFrame(
            [(10, 1, 2, "R", 1.0), (11, 2, 3, "R", 2.0)],
            "id long, src long, dst long, type string, w double"),
    }
    return PropertyGraph(nodes, rels)


@pytest.fixture(scope="session")
def diamond_graph(spark):
    """a->b (x2 parallel), a->c, b->d, c->d, self-loop a->a."""
    from neo4j_spark.graph import PropertyGraph

    nodes = {
        "N": spark.createDataFrame(
            [(i, ["N"], chr(96 + i)) for i in (1, 2, 3, 4)],
            "id long, labels array<string>, name string"),
    }
    rels = {
        "E": spark.createDataFrame(
            [
                (100, 1, 2, "E"), (101, 1, 2, "E"), (102, 1, 3, "E"),
                (103, 2, 4, "E"), (104, 3, 4, "E"), (105, 1, 1, "E"),
            ],
            "id long, src long, dst long, type string"),
    }
    return PropertyGraph(nodes, rels)


@pytest.fixture(scope="session")
def five_graph(spark):
    """N {name: a..d}; E edges a->b, a->c, b->d, c->d, d->c."""
    from neo4j_spark.graph import PropertyGraph

    nodes = {"N": spark.createDataFrame(
        [(i, ["N"], chr(96 + i)) for i in (1, 2, 3, 4)],
        "id long, labels array<string>, name string")}
    rels = {"E": spark.createDataFrame(
        [(10, 1, 2, "E"), (11, 1, 3, "E"), (12, 2, 4, "E"),
         (13, 3, 4, "E"), (14, 4, 3, "E")],
        "id long, src long, dst long, type string")}
    return PropertyGraph(nodes, rels)
