"""TPC-H-ish relational tables -> property graph (FIXTURES.md §2).

Mirrors the reference's CSV bulk-import path
(``community/import-tool/src/main/java/org/neo4j/importer/CsvImporter.java``)
re-expressed as declarative DataFrame projections: every node/rel frame is a
lazy projection over the driver parquet, so Catalyst prunes columns and pushes
predicates into the parquet scan — no data copy is materialized.

id scheme (deterministic, oracle-reproducible):
  node id = label_tag * 10^12 + key        (Region=1 .. Order=6)
  rel  id = type_tag  * 10^12 + arithmetic key   (tags 11..16)

Rel ids are pure arithmetic over source-table keys (e.g. CONTAINS id =
15*10^12 + l_orderkey*8 + l_linenumber) instead of a row_number(): a global
window would funnel 100 TB through one partition; arithmetic ids cost
nothing, stay unique, and DuckDB can reproduce them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..graph import PropertyGraph

TAG = 10**12

NODE_TAGS = {
    "Region": 1,
    "Nation": 2,
    "Customer": 3,
    "Supplier": 4,
    "Part": 5,
    "Order": 6,
}


def _node_id(tag: int, key) -> F.Column:
    return (F.lit(tag) * F.lit(TAG) + F.col(key).cast("long")).alias("id")


def _labels(*labels: str) -> F.Column:
    return F.array(*[F.lit(l) for l in labels]).alias("labels")


def _rel_id(tag: int, key_col: F.Column) -> F.Column:
    return (F.lit(tag) * F.lit(TAG) + key_col.cast("long")).alias("id")


def load_tables(spark: SparkSession, sf_dir: str) -> dict:
    names = [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ]
    out = {}
    for n in names:
        try:
            out[n] = spark.read.parquet(f"{sf_dir}/{n}.parquet")
        except Exception:
            pass
    return out


def tpch_graph(spark: SparkSession, sf_dir: str) -> PropertyGraph:
    t = load_tables(spark, sf_dir)
    region, nation, customer = t["region"], t["nation"], t["customer"]
    supplier, part, orders, lineitem = t["supplier"], t["part"], t["orders"], t["lineitem"]

    node_frames = {
        "Region": region.select(
            _node_id(1, "r_regionkey"), _labels("Region"),
            F.col("r_regionkey").cast("long").alias("regionkey"),
            F.col("r_name").alias("name"),
        ),
        "Nation": nation.select(
            _node_id(2, "n_nationkey"), _labels("Nation"),
            F.col("n_nationkey").cast("long").alias("nationkey"),
            F.col("n_name").alias("name"),
        ),
        "Customer": customer.select(
            _node_id(3, "c_custkey"), _labels("Customer"),
            F.col("c_custkey").cast("long").alias("custkey"),
            F.col("c_name").alias("name"),
            F.col("c_acctbal").alias("acctbal"),
            F.col("c_mktsegment").alias("mktsegment"),
        ),
        "Supplier": supplier.select(
            _node_id(4, "s_suppkey"), _labels("Supplier"),
            F.col("s_suppkey").cast("long").alias("suppkey"),
            F.col("s_name").alias("name"),
            F.col("s_acctbal").alias("acctbal"),
        ),
        "Part": part.select(
            _node_id(5, "p_partkey"), _labels("Part"),
            F.col("p_partkey").cast("long").alias("partkey"),
            F.col("p_name").alias("name"),
            F.col("p_brand").alias("brand"),
            F.col("p_type").alias("type"),
            F.col("p_size").cast("long").alias("size"),
            F.col("p_retailprice").alias("retailprice"),
        ),
        "Order": orders.select(
            _node_id(6, "o_orderkey"), _labels("Order"),
            F.col("o_orderkey").cast("long").alias("orderkey"),
            F.col("o_orderstatus").alias("orderstatus"),
            F.col("o_totalprice").alias("totalprice"),
            F.col("o_orderdate").alias("orderdate"),
            F.col("o_orderpriority").alias("orderpriority"),
        ),
    }
    # corpus tables as first-class nodes: the fulltext / vector procedure
    # surface (FulltextProcedures.java:120, VectorIndexProcedures.java:144)
    if "documents" in t:
        node_frames["Document"] = t["documents"].select(
            _node_id(7, "doc_id"), _labels("Document"),
            F.col("doc_id").cast("long").alias("docid"),
            F.col("text"), F.col("lang"), F.col("source"),
        )
    if "embeddings" in t:
        node_frames["Embedding"] = t["embeddings"].select(
            _node_id(8, "vec_id"), _labels("Embedding"),
            F.col("vec_id").cast("long").alias("vecid"),
            F.col("embedding"),
            F.col("label").cast("long").alias("cls"),
        )

    def rel(df: DataFrame, tag: int, key_col, src_tag: int, src_key, dst_tag: int,
            dst_key, type_name: str, props=None) -> DataFrame:
        cols = [
            _rel_id(tag, key_col),
            (F.lit(src_tag) * F.lit(TAG) + F.col(src_key).cast("long")).alias("src"),
            (F.lit(dst_tag) * F.lit(TAG) + F.col(dst_key).cast("long")).alias("dst"),
            F.lit(type_name).alias("type"),
        ]
        for alias, c in (props or {}).items():
            cols.append(c.alias(alias))
        return df.select(*cols)

    # Relationship identity for lineitem-derived rels: the generator
    # duplicates (l_orderkey, l_linenumber) pairs (~20% of rows, including
    # fully-identical rows), so the natural key is NOT unique — colliding
    # rel ids would make trail/var-length uniqueness filters wrongly
    # reject paths that traverse two distinct parallel relationships.
    # A deterministic per-order ordinal (row_number over a total column
    # order within the order's <= ~20 rows) disambiguates; the window
    # shuffles on l_orderkey once per scan, the same key the join
    # pipeline shuffles on anyway.
    from pyspark.sql import Window as _W

    _ow = _W.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_suppkey", "l_extendedprice",
        "l_quantity", "l_shipdate")
    # ONE windowed base frame feeds both lineitem-derived rel shards,
    # pruned to the union of columns either shard consumes; each shard
    # keeps its own pruned, filter-pushed scan, on which Catalyst prunes
    # the window away when rel ids are unused.  Fusing both shards onto
    # one persisted scan was measured slower at sf0.1 (5.8 s vs 3.0 s
    # cold for a q5-shape read) and removed.
    li = lineitem.select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate",
    ).withColumn("__ord", F.row_number().over(_ow))
    li_key = F.col("l_orderkey") * 64 + F.col("__ord")
    # FROM_NATION is a union of two per-source-label shards; keep the
    # shards as first-class frames so a typed scan with a bound endpoint
    # label reads ONLY the matching shard (PropertyGraph.rel_shards) —
    # at 100 TB that halves the FROM_NATION scan and drops the irrelevant
    # half from every downstream join build
    _fn_cust = rel(customer, 12, F.col("c_custkey"), 3, "c_custkey", 2,
                   "c_nationkey", "FROM_NATION")
    _fn_supp = rel(supplier, 13, F.col("s_suppkey"), 4, "s_suppkey", 2,
                   "s_nationkey", "FROM_NATION")
    rel_frames = {
        "IN_REGION": rel(nation, 11, F.col("n_nationkey"), 2, "n_nationkey", 1,
                         "n_regionkey", "IN_REGION"),
        "FROM_NATION": _fn_cust.unionByName(_fn_supp),
        "PLACED": rel(orders, 14, F.col("o_orderkey"), 3, "o_custkey", 6, "o_orderkey",
                      "PLACED"),
        "CONTAINS": rel(
            li, 15, li_key, 6, "l_orderkey", 5, "l_partkey",
            "CONTAINS",
            props={
                "linenumber": F.col("l_linenumber").cast("long"),
                "quantity": F.col("l_quantity"),
                "extendedprice": F.col("l_extendedprice"),
                "discount": F.col("l_discount"),
                "tax": F.col("l_tax"),
                "returnflag": F.col("l_returnflag"),
                "linestatus": F.col("l_linestatus"),
                "shipdate": F.col("l_shipdate"),
            },
        ),
        "SUPPLIED_BY": rel(
            li, 16, li_key, 6, "l_orderkey", 4, "l_suppkey",
            "SUPPLIED_BY", props={"linenumber": F.col("l_linenumber").cast("long")},
        ),
    }
    # endpoint-label guarantees of the FIXTURES mapping (FK integrity of
    # the generator): lets the translator elide node-frame scans for
    # label-implied endpoints.  FROM_NATION's src is Customer OR Supplier
    # => unconstrained (None).
    # an endpoint spec may be a tuple of alternative labels: FROM_NATION's
    # src is Customer OR Supplier — not elidable (no single implied label)
    # but still a complete declaration for schema-reachability pruning
    endpoint_labels = {
        "IN_REGION": ("Nation", "Region"),
        "FROM_NATION": (("Customer", "Supplier"), "Nation"),
        "PLACED": ("Customer", "Order"),
        "CONTAINS": ("Order", "Part"),
        "SUPPLIED_BY": ("Order", "Supplier"),
    }
    return PropertyGraph(node_frames, rel_frames, endpoint_labels,
                         # id = tag*TAG + key (see _node_id): every key
                         # property is recoverable from the id by
                         # subtraction, so key-only endpoint reads can
                         # skip the node frame entirely
                         node_key_props={
                             "Region": ("regionkey", 1 * TAG),
                             "Nation": ("nationkey", 2 * TAG),
                             "Customer": ("custkey", 3 * TAG),
                             "Supplier": ("suppkey", 4 * TAG),
                             "Part": ("partkey", 5 * TAG),
                             "Order": ("orderkey", 6 * TAG),
                         },
                         rel_shards={
                             # every endpoint of these shards is a
                             # single-label node (tpch nodes carry exactly
                             # one label), the declaration soundness
                             # condition of PropertyGraph.rel_shards
                             "FROM_NATION": [
                                 ("Customer", "Nation", _fn_cust),
                                 ("Supplier", "Nation", _fn_supp),
                             ],
                         })
