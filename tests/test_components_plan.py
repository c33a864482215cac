"""Connected components picks its plan from the size of the edge list:
union-find on the driver when the edges fit the broadcast bound, star
contraction otherwise.  Both plans must give the same rows, for the
component operator and for the dedup policies built on it.  Setting
``spark.sql.autoBroadcastJoinThreshold`` to -1 forces star contraction."""

import random
import tracemalloc

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from neo4j_spark.ml.dedup import dup_components, keep_canonical
from neo4j_spark.operators.algorithms import (DRIVER_EDGE_BYTES,
                                              components_cap,
                                              connected_components)
from neo4j_spark.session import local_frame

THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"

_links = [(a, b) for a, b in zip(range(100, 159), range(101, 160))]
random.Random(8).shuffle(_links)

CASES = {
    # (pairs, ids that only appear in the node list)
    "chain_and_isolated": ([(1, 2), (2, 3), (1, 3), (10, 11)], [20]),
    "reversed_and_duplicate": (
        [(2, 1), (1, 2), (1, 2), (3, 2), (7, 6), (6, 7), (6, 7)], []),
    "self_pair": ([(5, 5), (5, 6), (8, 8)], [9]),
    "shuffled_chain": ([(b, a) if i % 2 else (a, b)
                        for i, (a, b) in enumerate(_links)], []),
    "null_id": ([(None, 7), (7, 8), (9, None)], [30]),
}


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _answers(spark, pairs, extra):
    pdf = local_frame(spark, pairs, "id_a long, id_b long")
    rels = pdf.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    ids = sorted({v for p in pairs for v in p} | set(extra), key=repr)
    nodes = local_frame(spark, [(i,) for i in ids], "id long")
    docs = local_frame(spark, [(i, (i * 7) % 5) for i in ids if i is not None],
                       "doc_id long, n long")
    return {
        "cc": _rows(connected_components(nodes, rels)),
        "dup": _rows(dup_components(pdf)),
        "min_id": _rows(keep_canonical(docs, pdf)),
        "longest": _rows(keep_canonical(docs, pdf, policy="longest",
                                        length_col="n")),
    }


def _min_labels(pairs, ids):
    """Reference labels: comp = smallest id reachable over non-null pairs."""
    adj = {i: set() for i in ids if i is not None}
    for a, b in pairs:
        if a is not None and b is not None:
            adj[a].add(b)
            adj[b].add(a)
    label = {}
    for start in sorted(adj):
        if start in label:
            continue
        stack = [start]
        while stack:
            v = stack.pop()
            if v not in label:
                label[v] = start
                stack.extend(adj[v])
    return label


@pytest.mark.parametrize("case", sorted(CASES))
def test_both_plans_agree(spark, case):
    pairs, extra = CASES[case]
    old = spark.conf.get(THRESHOLD)
    try:
        driver = _answers(spark, pairs, extra)
        spark.conf.set(THRESHOLD, "-1")
        star = _answers(spark, pairs, extra)
    finally:
        spark.conf.set(THRESHOLD, old)
    assert driver == star
    if case == "null_id":
        # a null id links nothing and keeps a null label, as star
        # contraction has always answered
        assert star["dup"] == sorted(
            [(None, None), (7, 7), (8, 7), (9, 9)], key=repr)

    ids = {v for p in pairs for v in p} | set(extra)
    label = _min_labels(pairs, ids)
    endpoints = {v for p in pairs for v in p}
    expect_cc = sorted(((i, label.get(i)) for i in ids), key=repr)
    expect_dup = sorted(((i, label.get(i)) for i in endpoints), key=repr)
    assert driver["cc"] == expect_cc
    assert driver["dup"] == expect_dup
    assert driver["min_id"] == sorted(
        ((i, (i * 7) % 5) for i in ids
         if i is not None and label[i] == i), key=repr)
    # one survivor per component under either policy
    assert len(driver["longest"]) == len(driver["min_id"])


def test_driver_plan_memory_per_edge(spark):
    """With the threshold raised to 1 GiB, a 200k-edge list takes the
    driver plan, and the driver's Python and Arrow allocations for it stay
    under ``DRIVER_EDGE_BYTES`` per edge, so the driver plan spends at
    most the threshold whatever it is set to.  Every edge brings two new
    ids, the shape that needs the most memory per edge."""
    n = 200_000
    rels = spark.range(n).select(F.col("id").alias("src"),
                                 (F.col("id") + n).alias("dst"))
    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = persisted()
    # a static pool this process allocates nothing else from, so its
    # peak is this call's
    default = pa.default_memory_pool()
    spare = next(b for b in pa.supported_memory_backends()
                 if b != default.backend_name)
    pool = getattr(pa, spare + "_memory_pool")()
    old = spark.conf.get(THRESHOLD)
    try:
        spark.conf.set(THRESHOLD, "1g")
        assert components_cap(spark) == 2**30 // DRIVER_EDGE_BYTES
        pa.set_memory_pool(pool)
        tracemalloc.start()
        labels = connected_components(None, rels)
        python_peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
        pa.set_memory_pool(default)
        spark.conf.set(THRESHOLD, old)
    # star contraction would have left its checkpoints behind
    assert persisted() - before == set()
    assert labels.count() == 2 * n
    assert labels.filter("comp = id").count() == n
    assert python_peak + pool.max_memory() <= n * DRIVER_EDGE_BYTES
