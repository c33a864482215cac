"""Public API: ``cypher(spark, query, graph, params) -> DataFrame``.

Lifecycle mirrors the reference ExecutionEngine
(reference: ``community/cypher/cypher/src/main/scala/org/neo4j/cypher/internal/ExecutionEngine.scala:96``):
parse -> (cached) translate -> lazy DataFrame; Catalyst is the physical
planner, the returned DataFrame the executable query.
"""

from __future__ import annotations

from typing import Any, Dict, Optional

from pyspark.sql import DataFrame, SparkSession

from .graph import PropertyGraph
from .cypher.parser import parse


def preparse(query: str):
    """CachingPreParser analog (ExecutionEngine.scala:75): strip the
    ``CYPHER key=value ...`` options header and EXPLAIN/PROFILE mode."""
    mode = None
    options: Dict[str, str] = {}
    rest = query.lstrip()
    while True:
        head = rest.split(None, 1)
        if not head:
            break
        kw = head[0].upper()
        if kw == "CYPHER":
            rest = head[1] if len(head) > 1 else ""
            while True:
                nxt = rest.split(None, 1)
                if nxt and "=" in nxt[0] and not nxt[0].startswith("="):
                    k, v = nxt[0].split("=", 1)
                    options[k.lower()] = v
                    rest = nxt[1] if len(nxt) > 1 else ""
                else:
                    break
        elif kw in ("EXPLAIN", "PROFILE"):
            mode = kw
            rest = head[1] if len(head) > 1 else ""
        else:
            break
    # a trailing statement terminator is whitespace to the parser
    # (cypher-shell sends 'RETURN 1;')
    rest = rest.rstrip()
    while rest.endswith(";"):
        rest = rest[:-1].rstrip()
    return mode, options, rest


def cypher(
    spark: SparkSession,
    query: str,
    graph,
    params: Optional[Dict[str, Any]] = None,
) -> DataFrame:
    """``graph`` is a :class:`PropertyGraph`, or — for composite
    (multi-graph) queries with ``USE`` — a :class:`GraphCatalog` or a
    plain ``{name: PropertyGraph}`` dict (first entry is the default)."""
    from .graph import GraphCatalog
    from .cypher.translate import Translator

    catalog = None
    if isinstance(graph, GraphCatalog):
        catalog, graph = graph, graph.default_graph
    elif isinstance(graph, dict):
        catalog = GraphCatalog(graph)
        graph = catalog.default_graph
    mode, _options, body = preparse(query)
    from .schema import is_schema_command, run_schema_command

    if is_schema_command(body):
        # SchemaLogicalPlan / ShowCommandLogicalPlan path (SURVEY §2.10)
        return run_schema_command(spark, graph, body)
    ast = parse(body)
    if mode == "EXPLAIN":
        # EXPLAIN returns the query's result COLUMNS with zero rows and
        # performs NO side effects (ExplainAcceptance.feature) — writes
        # are translate-time eager here, so translate under a state
        # snapshot and roll back.  The humane plan text is available via
        # :func:`explain_plan`.
        graphs = [graph] if graph is not None else []
        if catalog is not None:
            graphs = list({id(gr): gr for gr in
                           [*graphs, *catalog.graphs.values()]}.values())
        snaps = [(gr, gr.state_snapshot()) for gr in graphs]
        try:
            df = Translator(spark, graph, params or {},
                            catalog=catalog).translate(ast)
        finally:
            for gr, snap in snaps:
                gr.restore_state(snap)
        return df.limit(0)
    df = Translator(spark, graph, params or {}, catalog=catalog) \
        .translate(ast)
    if mode == "PROFILE":
        # execute eagerly, then surface per-operator runtime metrics
        # inline (the reference's ProfilerStatistics rows/dbHits — at the
        # granularity Spark exposes: numOutputRows + the operator's other
        # SQLMetrics), instead of deferring to the Spark UI.  collect()
        # runs THIS Dataset's QueryExecution so its executedPlan carries
        # the metrics (count() would re-plan a different execution).
        df.collect()
        return _profile_frame(spark, df)
    return df


def explain_plan(spark: SparkSession, query: str, graph,
                 params: Optional[Dict[str, Any]] = None) -> str:
    """Human-readable physical plan for a (read) query — the Spark
    rendering of the reference's plan description that EXPLAIN attaches
    as result metadata.  The query is planned, not executed."""
    body = query
    mode, _opts, stripped = preparse(query)
    if mode:
        body = stripped
    df = cypher(spark, "EXPLAIN " + body, graph, params=params)
    jqe = df._jdf.queryExecution()
    jvm = spark._jvm
    return jqe.explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))


def _profile_frame(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Walk the EXECUTED physical plan after an eager run and emit one
    row per operator: (step, operator, rows, metrics).  ``rows`` is the
    operator's numOutputRows SQLMetric (the reference's PROFILE `rows`
    column); other metrics are rendered name=value.  AQE wrappers are
    unwrapped to the final adaptively-executed plan."""
    root = df._jdf.queryExecution().executedPlan()
    out = []

    def walk(node, depth):
        name = str(node.nodeName())
        if name == "AdaptiveSparkPlan":
            try:
                walk(node.executedPlan(), depth)
                return
            except Exception:
                pass
        mets = {}
        try:
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                try:
                    mets[str(kv._1())] = int(kv._2().value())
                except Exception:
                    pass
        except Exception:
            pass
        rows = mets.pop("numOutputRows", None)
        detail = ", ".join(f"{k}={v}" for k, v in sorted(mets.items()))
        out.append((len(out), ("  " * depth) + name, rows, detail[:500]))
        try:
            cit = node.children().iterator()
            while cit.hasNext():
                walk(cit.next(), depth + 1)
        except Exception:
            pass

    walk(root, 0)
    return spark.createDataFrame(
        out, "step int, operator string, rows bigint, metrics string")


class CypherSession:
    """Bound (spark, graph) pair with an AST cache — the analog of the
    reference's executableQueryCache (ExecutionEngine.scala:77)."""

    def __init__(self, spark: SparkSession, graph: PropertyGraph) -> None:
        self.spark = spark
        self.graph = graph
        self._ast_cache: Dict[str, Any] = {}

    def run(self, query: str, params: Optional[Dict[str, Any]] = None) -> DataFrame:
        from .cypher.translate import Translator

        ast = self._ast_cache.get(query)
        if ast is None:
            ast = parse(query)
            self._ast_cache[query] = ast
        return Translator(self.spark, self.graph, params or {}).translate(ast)
