"""Graph traversal suite: RELATE edges, hops, reverse lookup, recursion.

Edge tables built from the TPC-H-ish data:
  - ``placed``     customer:<c_custkey> -> orders:<o_orderkey> (payload o_totalprice)
  - ``contains``   orders:<l_orderkey>  -> lineitem:<l_orderkey>-<l_linenumber>
  - ``reports_to`` customer:<k>         -> customer:<k // 2>   (binary-tree hierarchy)

Oracles express the same joins / recursive CTEs in ANSI SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from surrealdb_spark.catalog import Catalog
from surrealdb_spark.operators.graph import (
    graph_hop,
    record_id,
    recurse,
    reference_lookup,
    relate,
    shortest_depth,
)
from surrealdb_spark.suite import query

_CUST_ID = "concat('customer:', CAST(c_custkey AS VARCHAR))"
_ORD_ID = "concat('orders:', CAST(o_orderkey AS VARCHAR))"


def _placed(cat: Catalog) -> DataFrame:
    return relate(cat.orders, "customer", "o_custkey", "orders", "o_orderkey", ["o_totalprice"])


def _reports_to(cat: Catalog) -> DataFrame:
    src = cat.customer.filter(F.col("c_custkey") >= 2).withColumn(
        "parent", F.expr("c_custkey div 2")
    )
    return relate(src, "customer", "c_custkey", "customer", "parent")


def _customers(cat: Catalog, modulus: int) -> DataFrame:
    return cat.customer.filter(F.col("c_custkey") % modulus == 0).select(
        record_id("customer", "c_custkey").alias("id"), "c_name"
    )


@query(
    "graph_hop_orders",
    oracle=f"""
    SELECT {_CUST_ID} AS id, c_name, {_ORD_ID} AS nbr
    FROM customer JOIN orders ON o_custkey = c_custkey
    WHERE c_custkey % 100 = 0
    """,
hidden=True)
def graph_hop_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ->placed->orders (GraphEdgeScan, scan/graph.rs:64): one equi-join.
    cat = Catalog(spark, sf_dir)
    return graph_hop(_customers(cat, 100), _placed(cat), "out")


@query(
    "graph_hop_edge_filter",
    oracle=f"""
    SELECT {_CUST_ID} AS id, c_name, {_ORD_ID} AS nbr
    FROM customer JOIN orders ON o_custkey = c_custkey
    WHERE c_custkey % 10 = 0 AND o_totalprice > 200000
    """,
hidden=True)
def graph_hop_edge_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ->(placed WHERE o_totalprice > 200000)-> (expr/lookup.rs:63 edge filter).
    cat = Catalog(spark, sf_dir)
    return graph_hop(
        _customers(cat, 10), _placed(cat), "out", edge_filter=F.col("o_totalprice") > 200000
    ).drop("o_totalprice")


@query(
    "graph_hop_reverse",
    oracle=f"""
    SELECT {_ORD_ID} AS id, {_CUST_ID} AS nbr
    FROM orders JOIN customer ON c_custkey = o_custkey
    WHERE o_orderkey % 500 = 0
    """,
hidden=True)
def graph_hop_reverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    # <-placed<- : direction In (expr/dir.rs:18) — join on the out side.
    cat = Catalog(spark, sf_dir)
    start = cat.orders.filter(F.col("o_orderkey") % 500 == 0).select(
        record_id("orders", "o_orderkey").alias("id")
    )
    return graph_hop(start, _placed(cat), "in")


@query(
    "graph_two_hop_count",
    oracle=f"""
    SELECT {_CUST_ID} AS id, COUNT(*) AS n_items
    FROM customer
    JOIN orders ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_custkey % 50 = 0
    GROUP BY 1
    """,
hidden=True)
def graph_two_hop_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ->placed->orders->contains->lineitem: two chained hops, then aggregate.
    cat = Catalog(spark, sf_dir)
    contains = relate(
        cat.lineitem.withColumn(
            "item_key", F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber"))
        ),
        "orders",
        "l_orderkey",
        "lineitem",
        "item_key",
    )
    start = cat.customer.filter(F.col("c_custkey") % 50 == 0).select(
        record_id("customer", "c_custkey").alias("id")
    )
    hop1 = graph_hop(start, _placed(cat), "out").select(
        "id", F.col("nbr").alias("order_id"))
    # broadcast_start: the frontier is the %50-seeded customer set times
    # ~10 orders — known small; the contains edge table is corpus-sized
    # and its post-projection size estimate is unreliable (see graph_hop).
    # At the 10x layout the planner otherwise broadcasts the contains side
    # (plans/sf1/graph_two_hop_count_{hint,nohint}.txt); hop1's planner
    # choice already broadcasts the seeded start set.
    hop2 = graph_hop(hop1, contains, "out", start_id="order_id",
                     broadcast_start=True)
    return hop2.groupBy("id").agg(F.count(F.lit(1)).alias("n_items"))


@query(
    "reference_lookup_orders",
    oracle=f"""
    SELECT {_CUST_ID} AS id, COUNT(*) AS n_refs,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,4))), 4) AS DOUBLE) AS total
    FROM customer JOIN orders ON o_custkey = c_custkey
    WHERE c_custkey % 25 = 0
    GROUP BY 1
    """,
hidden=True)
def reference_lookup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # <~orders (reverse-reference lookup, scan/reference.rs:48): who links me.
    from surrealdb_spark.suite._util import dsum

    cat = Catalog(spark, sf_dir)
    start = cat.customer.filter(F.col("c_custkey") % 25 == 0).select(
        record_id("customer", "c_custkey").alias("id")
    )
    refs = cat.orders.withColumn("cust_ref", record_id("customer", "o_custkey"))
    return (
        reference_lookup(start, refs, "cust_ref")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_refs"), dsum("o_totalprice").alias("total"))
    )


_ANCESTOR_CTE = """
    WITH RECURSIVE anc AS (
      SELECT concat('customer:', CAST(c_custkey AS VARCHAR)) AS start,
             c_custkey AS k, 0 AS depth
      FROM customer WHERE c_custkey % 97 = 0
      UNION ALL
      SELECT start, k // 2, depth + 1 FROM anc WHERE depth < {max_depth} AND k >= 2
    )
"""


@query(
    "graph_recurse_ancestors",
    oracle=_ANCESTOR_CTE.format(max_depth=5)
    + """
    SELECT start, concat('customer:', CAST(k AS VARCHAR)) AS node, depth
    FROM anc WHERE depth >= 1
    """,
hidden=True)
def graph_recurse_ancestors(spark: SparkSession, sf_dir: str) -> DataFrame:
    # @{1..5} bounded recursion (+collect): iterative BFS with visited set.
    cat = Catalog(spark, sf_dir)
    start = cat.customer.filter(F.col("c_custkey") % 97 == 0).select(
        record_id("customer", "c_custkey").alias("id")
    )
    return recurse(start, _reports_to(cat), min_depth=1, max_depth=5)


@query(
    "graph_shortest_to_root",
    oracle=_ANCESTOR_CTE.format(max_depth=11)
    + """
    SELECT start, MIN(depth) AS depth
    FROM anc WHERE k = 1 AND depth >= 1
    GROUP BY start
    """,
hidden=True)
def graph_shortest_to_root(spark: SparkSession, sf_dir: str) -> DataFrame:
    # @{..11}+shortest=customer:1 (recursion instruction): min-depth BFS.
    cat = Catalog(spark, sf_dir)
    start = cat.customer.filter(F.col("c_custkey") % 97 == 0).select(
        record_id("customer", "c_custkey").alias("id")
    )
    return shortest_depth(start, _reports_to(cat), F.lit("customer:1"), max_depth=11)
