"""Physical-plan quality gates (SURVEY §4): these assert the *plan shape*,
not just results — predicate pushdown reaching the parquet scan, column
pruning, broadcast joins for small dimensions, and TakeOrderedAndProject
for top-k.  A plan that regresses here would still be correct at sf0.01
but would not survive a 100x scale-up, which is the design target."""

import pytest

from neo4j_spark.api import cypher


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def spark_jobs(spark, fn):
    """``fn()``'s result and the number of Spark jobs it ran, counted
    through a job group."""
    import uuid

    sc = spark.sparkContext
    group = f"counted-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "counted")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_label_scan_prunes_to_single_shard(spark, tpch_graph):
    """NodeByLabelScan must read ONE parquet dataset, not a filtered union
    of all six (graph.py shard pruning)."""
    df = cypher(spark, "MATCH (c:Customer) RETURN c.name AS name", tpch_graph)
    plan = plan_of(df)
    assert plan.count("Scan parquet") == 1
    assert "customer.parquet" in plan


def test_predicate_pushdown_reaches_scan(spark, tpch_graph):
    """WHERE c.acctbal >= 1000 must appear in PushedFilters of the scan."""
    df = cypher(spark,
                "MATCH (c:Customer) WHERE c.acctbal >= 1000 "
                "RETURN count(*) AS n", tpch_graph)
    plan = plan_of(df)
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(c_acctbal,1000" in plan.replace(" ", "")


def test_column_pruning_reaches_scan(spark, tpch_graph):
    """A 2-column projection must not read all customer columns."""
    df = cypher(spark,
                "MATCH (c:Customer) RETURN c.custkey AS k", tpch_graph)
    plan = plan_of(df)
    # ReadSchema should mention custkey but not mktsegment
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read and "c_mktsegment" not in read[0]


def test_expand_join_broadcasts_small_dimension(spark, tpch_graph):
    """nation->region expand: the 5-row region side must broadcast."""
    df = cypher(spark,
                "MATCH (n:Nation)-[:IN_REGION]->(r:Region) "
                "RETURN r.name AS region, count(*) AS n", tpch_graph)
    assert "BroadcastHashJoin" in plan_of(df)


def test_topk_plans_take_ordered(spark, tpch_graph):
    """ORDER BY ... LIMIT k must fuse into TakeOrderedAndProject (Top,
    LP:3913), not a global Sort followed by CollectLimit."""
    df = cypher(spark,
                "MATCH (c:Customer) RETURN c.custkey AS k, c.acctbal AS b "
                "ORDER BY b DESC LIMIT 10", tpch_graph)
    assert "TakeOrderedAndProject" in plan_of(df)


def test_scan_elision_for_anonymous_endpoints(spark, tpch_graph):
    """MATCH ()-[l:CONTAINS]->() must be ONE scan (the rel table), not
    three — anonymous unconstrained endpoints are elided (translate.py).
    (count(l.quantity) keeps the query off the count-store fast path,
    which would plan zero scans.)"""
    df = cypher(spark,
                "MATCH ()-[l:CONTAINS]->() RETURN count(l.quantity) AS n",
                tpch_graph)
    assert plan_of(df).count("Scan parquet") == 1


def test_count_store_serves_rel_count_without_scan(spark, tpch_graph):
    """MATCH ()-[l:CONTAINS]->() RETURN count(*) is answered from the
    count store (LP:3466) — zero scans in the final plan."""
    df = cypher(spark,
                "MATCH ()-[l:CONTAINS]->() RETURN count(*) AS n", tpch_graph)
    assert plan_of(df).count("Scan parquet") == 0


def test_semi_join_for_exists_predicate(spark, tpch_graph):
    """EXISTS {} pattern predicate must become a semi/left join + flag, not
    a correlated per-row subquery (SemiApply decorrelation, SURVEY §2.5)."""
    df = cypher(spark,
                "MATCH (c:Customer) WHERE EXISTS { (c)-[:PLACED]->(:Order) } "
                "RETURN count(*) AS n", tpch_graph)
    plan = optimized_of(df)
    assert "Join" in plan  # decorrelated to a join


def test_count_store_shape_single_agg(spark, tpch_graph):
    """MATCH (n:Label) RETURN count(*) compiles to scan+agg with no joins
    (countStorePlanner analog: Parquet footer counts do the work)."""
    df = cypher(spark, "MATCH (c:Customer) RETURN count(*) AS n", tpch_graph)
    plan = optimized_of(df)
    assert "Join" not in plan


def test_shape_only_path_skips_node_resolution(spark, tpch_graph):
    """length(p)/size(nodes(p)) never trigger the explode+join node
    resolution (_path_rich_use) — a path whose contents nobody reads must
    not shuffle node frames (pruningVarExpander usage test, SURVEY §4.1)."""
    df = cypher(spark,
                "MATCH p = (n:Nation)-[:IN_REGION]->(r:Region) "
                "RETURN size(nodes(p)) AS nn, length(p) AS l, count(*) AS c",
                tpch_graph)
    plan = plan_of(df)
    assert "Generate posexplode" not in plan


def test_rich_path_use_resolves_nodes_once(spark, tpch_graph):
    """[x IN nodes(p) | x.prop] resolves node structs with exactly one
    posexplode+join pass."""
    df = cypher(spark,
                "MATCH p = (n:Nation)-[:IN_REGION]->(r:Region) "
                "RETURN [x IN nodes(p) | x.name] AS names LIMIT 3",
                tpch_graph)
    plan = plan_of(df)
    assert plan.count("Generate posexplode") == 1
    assert [tuple(r) for r in df.collect()][0][0] is not None


def test_headline_queries_stay_jvm_side(spark):
    """No row-at-a-time Python UDF (BatchEvalPython) in any headline plan;
    Arrow-batched pandas UDFs (ArrowEvalPython) are allowed only in the
    kNN path.  Python in a hot path is the 10-100x cliff at scale."""
    import __spark_entry__ as em

    qs = em.queries()
    sf = "/root/testdata/sf0.001"
    headline = ["aggregation_q1", "multi_hop_chain", "expand_into_triangle",
                "agg_count_distinct", "optional_expand", "count_subquery",
                "top_k", "dedup_exact", "dedup_minhash_lsh", "text_quality",
                "text_scrub_pii", "embedding_quantize"]
    for k in headline:
        plan = plan_of(qs[k](spark, sf))
        assert "BatchEvalPython" not in plan, f"{k} fell off codegen"
        if k != "knn_join":
            assert "ArrowEvalPython" not in plan, f"{k} uses pandas UDF"


def test_scrub_pushes_column_pruning(spark):
    import __spark_entry__ as em

    df = em.queries()["text_scrub_pii"](spark, "/root/testdata/sf0.001")
    plan = plan_of(df)
    assert "ReadSchema" in plan and "text" in plan
    # lang/source columns must NOT be read for this 2-column projection
    assert "n_chars" not in plan.split("ReadSchema")[1][:200]


def test_translate_has_no_driver_collect():
    """The query translator must never materialize subquery results on the
    driver — uncorrelated COLLECT{}/pattern comprehensions aggregate to a
    1-row frame and broadcast-crossJoin instead.  The single allowed
    .collect() is the capped correlated-procedure-argument enumeration."""
    import inspect

    from neo4j_spark.cypher import translate as t

    lines = inspect.getsource(t).splitlines()
    hits = [i for i, ln in enumerate(lines) if ".collect()" in ln]
    assert len(hits) == 1, [lines[i] for i in hits]
    ctx = "\n".join(lines[hits[0] - 2:hits[0] + 1])
    assert "dropDuplicates().limit(cap + 1)" in ctx, ctx


@pytest.mark.parametrize("sub, expected", [
    ("EXISTS { MATCH (x:N {name:'d'}) RETURN x }", True),
    ("COUNT { MATCH (x:N)-->(y) RETURN x }", 5),
    ("EXISTS { (x:N {name:'d'})-->() }", True),
    ("COUNT { (x:N)-->() }", 5),
])
def test_uncorrelated_subquery_runs_no_translate_jobs(spark, five_graph,
                                                      sub, expected):
    """An uncorrelated EXISTS/COUNT {} is a lazy one-row aggregate joined
    in on True: translating the statement runs no Spark job."""
    cypher(spark, "MATCH (n:N) RETURN n.name", five_graph).collect()
    df, jobs = spark_jobs(spark, lambda: cypher(
        spark, f"MATCH (n:N) RETURN n.name AS name, {sub} AS v", five_graph))
    assert jobs == 0
    assert sorted(tuple(r) for r in df.collect()) == [
        (n, expected) for n in "abcd"]


@pytest.mark.parametrize("sub", [
    "COLLECT { MATCH (c)-[:PLACED]->(o:Order) RETURN o.orderkey }",
    "COUNT { MATCH (c)-[:PLACED]->(o:Order) WITH o "
    "WHERE o.totalprice > 1000 RETURN o }",
])
def test_correlated_subquery_joins_back_on_plain_id(spark, tpch_graph, sub):
    """The argument rows of a correlated COLLECT {} / COUNT {} drop null
    entities, so the join-back compares ``_id`` with plain equality: a
    null-safe key would plan as an exchange no neighbour can reuse."""
    df = cypher(spark, "MATCH (c:Customer) RETURN c.custkey AS k, "
                f"{sub} AS v", tpch_graph)
    joins = [ln for ln in optimized_of(df).splitlines() if "Join" in ln]
    assert joins
    assert not [ln for ln in joins if "<=>" in ln and "_id" in ln], joins


def _dedup_inputs(spark):
    """300 docs and 100 list-built near-dup pairs forming 50 three-chains."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(150) if i % 3 != 2], "id_a long, id_b long")
    return spark.range(300).withColumnRenamed("id", "doc_id"), pairs


def test_keep_canonical_job_budget(spark):
    """A pair list within the broadcast bound is labelled on the driver:
    resolving about 100 pairs is a handful of jobs, not two checkpointed
    shuffle rounds per star-contraction iteration."""
    from neo4j_spark.ml.dedup import keep_canonical

    docs, pairs = _dedup_inputs(spark)
    kept, jobs = spark_jobs(spark, lambda: keep_canonical(docs, pairs).count())
    assert kept == 200
    assert jobs <= 6, jobs


def test_keep_canonical_leaves_nothing_persisted(spark):
    """Repeated dedup resolution in one long-lived session pins no RDD and
    caches no relation."""
    from neo4j_spark.ml.dedup import keep_canonical

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    docs, pairs = _dedup_inputs(spark)
    spark.catalog.clearCache()
    # ids, not a count: RDDs other tests left behind may be cleaned
    # up meanwhile
    before = persisted()
    for _ in range(3):
        assert keep_canonical(docs, pairs).count() == 200
        assert persisted() - before == set()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _update_only(spark, tpch_graph, tmp_path):
    from neo4j_spark.graph import PropertyGraph

    return cypher(spark, "CREATE (:X)", PropertyGraph({}, {}))


def _count_store_row(spark, tpch_graph, tmp_path):
    return cypher(spark, "MATCH ()-[l:CONTAINS]->() RETURN count(*) AS n",
                  tpch_graph)


def _empty_sink(spark, tpch_graph, tmp_path):
    from neo4j_spark.streaming.upserts import ParquetGraphSink

    return ParquetGraphSink(spark, str(tmp_path)).read()


@pytest.mark.parametrize("build", [_update_only, _count_store_row,
                                   _empty_sink])
def test_driver_rows_are_local_relations(spark, tpch_graph, tmp_path, build):
    """Rows the engine builds on the driver are JVM local relations: no
    PythonRDD whose every read starts Python workers."""
    df = build(spark, tpch_graph, tmp_path)
    assert "LocalRelation" in optimized_of(df)
    assert "ExistingRDD" not in plan_of(df)


def test_no_list_built_frames_on_hot_paths():
    """``createDataFrame(<list>)`` is a PythonRDD; engine code builds its
    small frames with ``session.local_frame`` instead.  Pandas inputs are
    fine: they already go through Arrow."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent / "neo4j_spark"
    files = [root / "graph.py"] + [
        f for d in ("cypher", "operators", "ml", "streaming")
        for f in sorted((root / d).rglob("*.py"))]
    offenders = [
        f"{f.relative_to(root)}:{node.lineno}"
        for f in files for node in ast.walk(ast.parse(f.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "createDataFrame" and node.args
        and isinstance(node.args[0], (ast.List, ast.ListComp))]
    assert offenders == [], offenders


def test_no_new_env_switches():
    """Product code reads only the two known NEO4J_SPARK_* environment
    switches: SCHEMA_PRUNE (the unpruned reference run of
    test_pruned_equals_unpruned) and WIDEN_SPLITS.  A behaviour choice
    belongs to the query or the plan, not to an A/B switch."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parent.parent / "neo4j_spark"
    read = re.compile(r"(?:environ(?:\.get)?\s*[\[(]|getenv\s*\()\s*"
                      r"[\"']NEO4J_SPARK_(\w+)")
    found = {m for f in root.rglob("*.py")
             for m in read.findall(f.read_text())}
    assert found == {"SCHEMA_PRUNE", "WIDEN_SPLITS"}


def test_single_ast_traversal():
    """``cypher/ast.py`` is the only module that iterates AST dataclass
    fields: every analysis and rewriter goes through ``ast.children`` /
    ``ast.walk`` / ``ast.map_children``, so none can miss the expressions
    nested in tuples (CASE pairs, map literals, property maps)."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parent.parent / "neo4j_spark"
    field_walk = re.compile(
        r"dataclasses\.fields\b|_dc\.fields\b|__dataclass_fields__")
    offenders = sorted(
        str(f.relative_to(root)) for f in root.rglob("*.py")
        if field_walk.search(f.read_text()))
    assert offenders == ["cypher/ast.py"], offenders


class TestSharedBaseFusion:
    """CONTAINS and SUPPLIED_BY are row images of one lineitem table
    (FIXTURES.md), yet each shard keeps its own pruned, filter-pushed
    scan: persisting the shared base for both was measured slower (the
    window that mints rel ids prunes away when ids are unused)."""

    Q = ("MATCH (s:Supplier)<-[sb:SUPPLIED_BY]-(o:Order)"
         "-[l:CONTAINS]->(:Part) WHERE sb.linenumber = l.linenumber "
         "RETURN s.suppkey AS sk, sum(l.quantity) AS q ORDER BY q DESC "
         "LIMIT 5")

    def test_default_keeps_pruned_direct_scans(self, spark, tpch_graph):
        df = cypher(spark, self.Q, tpch_graph)
        rows_default = [tuple(r) for r in df.collect()]
        plan = plan_of(df)
        assert "InMemoryTableScan" not in plan
        # the rel-id disambiguation window must prune away when ids are
        # unused — it would force a full lineitem shuffle per scan
        assert "Window" not in plan
        assert rows_default  # non-empty at sf0.001+
