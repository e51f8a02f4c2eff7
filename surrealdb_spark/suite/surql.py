"""SurrealQL-semantics suite: FETCH, cross-type ORDER BY, containment
operators, null/truthy coalescing, idiom paths over nested data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from surrealdb_spark import values as V
from surrealdb_spark.catalog import Catalog
from surrealdb_spark.expr import operators as O
from surrealdb_spark.expr.idiom import compile_idiom
from surrealdb_spark.operators.fetch import fetch
from surrealdb_spark.operators.graph import record_id
from surrealdb_spark.suite import query


@query(
    "fetch_embed",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           c_name AS cust_name, c_acctbal AS cust_acctbal
    FROM orders LEFT JOIN customer ON c_custkey = o_custkey
    WHERE o_orderkey % 100 = 0
    """,
)
def fetch_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # FETCH customer (fetch.rs:27): record-link left join + struct embed,
    # flattened here for the oracle (struct shape covered in pytest).
    cat = Catalog(spark, sf_dir)
    ords = cat.orders.filter(F.col("o_orderkey") % 100 == 0).withColumn(
        "customer", record_id("customer", "o_custkey")
    )
    cust = cat.customer.withColumn("id", record_id("customer", "c_custkey"))
    fetched = fetch(ords, "customer", cust, "id")
    return fetched.select(
        "o_orderkey",
        "o_orderpriority",
        F.col("customer.c_name").alias("cust_name"),
        F.col("customer.c_acctbal").alias("cust_acctbal"),
    )


@query(
    "cross_type_order",
    oracle="""
    SELECT o_orderkey, tag FROM (
      SELECT o_orderkey, tag, b, n, s
      FROM (
        SELECT o_orderkey,
               CASE o_orderkey % 5 WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 2
                                   WHEN 3 THEN 3 ELSE 4 END AS tag,
               CASE WHEN o_orderkey % 5 = 2 THEN o_orderkey % 2 = 0 END AS b,
               CASE WHEN o_orderkey % 5 = 3 THEN o_totalprice END AS n,
               CASE WHEN o_orderkey % 5 = 4 THEN o_orderpriority END AS s
        FROM orders
      )
      ORDER BY tag, b, n, s, o_orderkey
      LIMIT 50
    )
    """,
hidden=True)
def cross_type_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Cross-type total order (types/src/value/mod.rs:126-210): a mixed
    # None/Null/Bool/Number/String column sorts by (type tag, value) —
    # ORDER BY never errors on mixed types.
    ords = Catalog(spark, sf_dir).orders
    m = F.col("o_orderkey") % 5
    variant = (
        F.when(m == 0, V.v_none())
        .when(m == 1, V.v_null())
        .when(m == 2, V.v_bool(F.col("o_orderkey") % 2 == 0))
        .when(m == 3, V.v_number(F.col("o_totalprice")))
        .otherwise(V.v_string(F.col("o_orderpriority")))
    )
    return (
        ords.withColumn("v", variant)
        .orderBy(V.sort_key(F.col("v")).asc(), F.col("o_orderkey").asc())
        .limit(50)
        .select("o_orderkey", F.col("v.tag").alias("tag"))
    )


@query(
    "containment_ops",
    oracle="""
    SELECT o_orderkey,
           list_contains(arr, 'URGENT') AS has_urgent,
           list_has_any(arr, ['URGENT', 'HIGH']) AS any_priority,
           list_has_all(arr, ['1', 'URGENT']) AS is_1_urgent,
           NOT list_has_any(arr, ['LOW', 'MEDIUM']) AS none_low,
           list_contains(arr, '3') AS any_eq_3
    FROM (SELECT o_orderkey, string_split(o_orderpriority, '-') AS arr FROM orders)
    """,
hidden=True)
def containment_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CONTAINS / CONTAINSANY / CONTAINSALL / CONTAINSNONE / ?= family
    # (operator.rs:72-106) → array_contains / arrays_overlap / forall.
    ords = Catalog(spark, sf_dir).orders
    arr = F.split(F.col("o_orderpriority"), "-")
    return ords.select(
        "o_orderkey",
        O.contains(arr, F.lit("URGENT")).alias("has_urgent"),
        O.contains_any(arr, F.array(F.lit("URGENT"), F.lit("HIGH"))).alias("any_priority"),
        O.contains_all(arr, F.array(F.lit("1"), F.lit("URGENT"))).alias("is_1_urgent"),
        O.contains_none(arr, F.array(F.lit("LOW"), F.lit("MEDIUM"))).alias("none_low"),
        O.any_eq(arr, F.lit("3")).alias("any_eq_3"),
    )


@query(
    "nullish_coalesce",
    oracle="""
    SELECT event_id,
           COALESCE(k_sparse, -1) AS k_or_default,
           CASE WHEN COALESCE(v_nonzero, 0.0e0) <> 0.0e0 THEN v_nonzero ELSE -99.0e0 END AS v_or_fallback
    FROM (
      SELECT event_id,
             CASE WHEN event_type <> 'view'
                  THEN CAST(json_extract_string(props, '$.k') AS BIGINT) END AS k_sparse,
             CASE WHEN value > 10.0e0 THEN value END AS v_nonzero
      FROM events
    )
    """,
hidden=True)
def nullish_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    # `??` (null-coalescing) and `?:` (truthy ternary) — operator.rs:60-66.
    ev = Catalog(spark, sf_dir).events
    k_sparse = F.when(
        F.col("event_type") != "view",
        F.get_json_object("props", "$.k").cast("bigint"),
    )
    v_nonzero = F.when(F.col("value") > 10.0, F.col("value"))
    return ev.select(
        "event_id",
        O.nco(k_sparse, F.lit(-1)).alias("k_or_default"),
        O.tco(v_nonzero, F.lit(-99.0), truthy=O.truthy_number(v_nonzero)).alias(
            "v_or_fallback"
        ),
    )


@query(
    "idiom_paths",
    oracle="""
    WITH per AS (
      SELECT o_custkey,
             array_agg(struct_pack(k := o_orderkey, p := o_totalprice)
                       ORDER BY o_orderkey) AS os
      FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey,
           len(os) AS n_orders,
           os[1].k AS first_key,
           os[-1].k AS last_key,
           len(list_filter(os, x -> x.p > 200000)) AS n_big,
           COALESCE(CAST(list_sum(list_transform(list_filter(os, x -> x.p > 200000),
                                                 x -> x.k)) AS BIGINT), 0) AS big_key_sum
    FROM per
    """,
)
def idiom_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Idiom paths over nested arrays-of-structs (part.rs:21-38):
    # orders[0].k, orders[$].k, orders[WHERE p > 200000] → HOFs.
    ords = Catalog(spark, sf_dir).orders
    per = ords.groupBy("o_custkey").agg(
        F.sort_array(
            F.collect_list(
                F.struct(F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("p"))
            )
        ).alias("os")
    )
    os_col = F.col("os")
    big = compile_idiom(os_col, [("where", lambda x: x.getField("p") > 200000)])
    return per.select(
        "o_custkey",
        F.size(os_col).alias("n_orders"),
        compile_idiom(os_col, [("first",), ("field", "k")]).alias("first_key"),
        compile_idiom(os_col, [("last",), ("field", "k")]).alias("last_key"),
        F.size(big).alias("n_big"),
        F.aggregate(
            compile_idiom(big, [("all",), ("field", "k")]),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("big_key_sum"),
    )


# ---------------------------------------------------------------------------
# Parser-driven entries: SurrealQL text → sql/parser.py → sql/compiler.py →
# DataFrame (the reference's own lifecycle: parse → normalize → plan, §3).
# ---------------------------------------------------------------------------

from surrealdb_spark.sql import surql  # noqa: E402


@query(
    "surql_basic_select",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > 300000 AND o_orderstatus <> 'F'
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 15 OFFSET 5
    """,
hidden=True)
def surql_basic_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    return surql(
        spark,
        "SELECT o_orderkey, o_totalprice FROM orders "
        "WHERE o_totalprice > 300000 AND o_orderstatus != 'F' "
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 15 START 5",
        sf_dir,
    )


@query(
    "surql_correlated_projection",
    oracle="""
    SELECT c_custkey,
           COALESCE((SELECT list(o_orderkey ORDER BY o_orderkey)
                     FROM orders
                     WHERE o_custkey = c.c_custkey AND o_totalprice > 150000),
                    []) AS okeys
    FROM customer c
    WHERE c_custkey <= 40
    """,
hidden=True)
def surql_correlated_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated subquery in the projection — decorrelated to a grouped
    left join (current_value_source.rs:31; one agg + one join, not per-row
    inner-plan execution)."""
    return surql(
        spark,
        "SELECT c_custkey, (SELECT VALUE o_orderkey FROM orders "
        "WHERE o_custkey = $parent.c_custkey AND o_totalprice > 150000) "
        "AS okeys FROM customer WHERE c_custkey <= 40",
        sf_dir,
    )


@query(
    "surql_record_range",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_orderkey >= 100 AND o_orderkey < 500
    """,
hidden=True)
def surql_record_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-id RANGE source `orders:100..500` — lowers to a key-column
    predicate (parquet min/max pruning + PushedFilters), Catalyst's answer
    to the reference's ordered-KV range seek (record_id/key.rs:31-32;
    exec/planner/select.rs:1346-1382)."""
    return surql(
        spark,
        "SELECT o_orderkey, o_totalprice FROM orders:100..500",
        sf_dir,
    )


@query(
    "surql_group_by",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           MAX(o_totalprice) AS max_price,
           MAX(o_totalprice) - MIN(o_totalprice) AS price_spread
    FROM orders GROUP BY o_orderpriority
    """,
hidden=True)
def surql_group_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Aggregate decomposition: post-expression over aggregates
    # (catalog/aggregation.rs:19-39) — max - min computed after agg().
    return surql(
        spark,
        "SELECT o_orderpriority, count() AS n, math::sum(o_orderkey) AS key_sum, "
        "math::max(o_totalprice) AS max_price, "
        "math::max(o_totalprice) - math::min(o_totalprice) AS price_spread "
        "FROM orders GROUP BY o_orderpriority",
        sf_dir,
    )


@query(
    "surql_group_all",
    oracle="SELECT COUNT(*) AS n, MAX(o_totalprice) AS mx, MIN(o_orderkey) AS mn FROM orders",
hidden=True)
def surql_group_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    return surql(
        spark,
        "SELECT count() AS n, math::max(o_totalprice) AS mx, math::min(o_orderkey) AS mn "
        "FROM orders GROUP ALL",
        sf_dir,
    )


@query(
    "surql_scalar_fns",
    oracle="""
    SELECT c_custkey, lower(c_name) AS lname, length(c_name) AS name_len,
           round(c_acctbal, 0) AS bal
    FROM customer WHERE contains(c_name, '00000001')
    """,
hidden=True)
def surql_scalar_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    return surql(
        spark,
        "SELECT c_custkey, string::lowercase(c_name) AS lname, "
        "string::len(c_name) AS name_len, math::round(c_acctbal) AS bal "
        "FROM customer WHERE string::contains(c_name, '00000001')",
        sf_dir,
    )


@query(
    "surql_value_param",
    oracle="SELECT o_orderkey AS value FROM orders WHERE o_totalprice > 400000",
hidden=True)
def surql_value_param(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SELECT VALUE (project_value.rs:30) + $param binding (plan-time
    # constant resolution, select.rs:146-176).
    return surql(
        spark,
        "SELECT VALUE o_orderkey FROM orders WHERE o_totalprice > $min",
        sf_dir,
        params={"min": 400000},
    )


@query(
    "surql_semi_join",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 450000)
      AND c_acctbal > 0
    """,
hidden=True)
def surql_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # WHERE <subquery> IN pattern → left_semi join (SURVEY §2.3 note).
    from surrealdb_spark.sql import surql

    return surql(
        spark,
        "SELECT c_custkey, c_name FROM customer "
        "WHERE c_custkey IN (SELECT VALUE o_custkey FROM orders WHERE o_totalprice > 450000) "
        "AND c_acctbal > 0",
        sf_dir,
    )


@query(
    "surql_anti_join",
    oracle="""
    SELECT c_custkey FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
hidden=True)
def surql_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOTINSIDE <subquery> → left_anti join (customers with no orders).
    from surrealdb_spark.sql import surql

    return surql(
        spark,
        "SELECT c_custkey FROM customer "
        "WHERE c_custkey NOTINSIDE (SELECT VALUE o_custkey FROM orders)",
        sf_dir,
    )


@query(
    "surql_from_subquery",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n
    FROM (SELECT o_orderkey, o_orderpriority FROM orders WHERE o_totalprice > 200000)
    GROUP BY o_orderpriority
    """,
hidden=True)
def surql_from_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    # FROM (SELECT ...) — nested plan as source.
    from surrealdb_spark.sql import surql

    return surql(
        spark,
        "SELECT o_orderpriority, count() AS n FROM "
        "(SELECT o_orderkey, o_orderpriority FROM orders WHERE o_totalprice > 200000) "
        "GROUP BY o_orderpriority",
        sf_dir,
    )


@query(
    "surql_graph_traversal",
    oracle="""
    SELECT concat('customer:', CAST(c_custkey AS VARCHAR)) AS id, c_name,
           COALESCE(o.orders, []) AS orders
    FROM customer LEFT JOIN (
      SELECT o_custkey,
             list_sort(list(concat('orders:', CAST(o_orderkey AS VARCHAR)))) AS orders
      FROM orders WHERE o_totalprice > 150000 GROUP BY o_custkey
    ) o ON o.o_custkey = c_custkey
    WHERE c_custkey % 200 = 0
    """,
hidden=True)
def surql_graph_traversal(spark: SparkSession, sf_dir: str) -> DataFrame:
    # `SELECT ->placed->orders FROM customer` through the parser: per-row
    # arrays of reached record ids (GraphEdgeScan TargetId output).  The
    # engine returns them in KV graph-key order (edge-id order,
    # key/graph/mod.rs) — synthesized edges here have hash ids, so the
    # query sorts for a deterministic cross-engine oracle.
    from surrealdb_spark.operators.graph import relate
    from surrealdb_spark.sql import surql

    cat = Catalog(spark, sf_dir)
    cat.register_edges(
        "placed",
        relate(
            cat.orders.filter(F.col("o_totalprice") > 150000),
            "customer",
            "o_custkey",
            "orders",
            "o_orderkey",
        ),
    )
    return surql(
        spark,
        "SELECT id, c_name, array::sort(->placed->orders) AS orders "
        "FROM customer WHERE c_custkey % 200 = 0",
        catalog=cat,
    )


@query(
    "surql_closures",
    oracle="""
    SELECT o_orderkey,
           [o_orderkey % 10 * 2, o_orderkey % 7 * 2] AS doubled,
           (o_orderkey % 10) + (o_orderkey % 7) AS folded,
           round(pi() * 100, 0) AS pi100
    FROM orders WHERE o_orderkey % 400 = 0
    """,
hidden=True)
def surql_closures(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Closures |$x| body (core/src/expr/closure.rs:12) compiled to HOF
    # lambdas; math::PI constant resolution (expr/constant.rs).
    from surrealdb_spark.sql import surql

    return surql(
        spark,
        "SELECT o_orderkey, "
        "array::map([o_orderkey % 10, o_orderkey % 7], |$n| $n * 2) AS doubled, "
        "array::fold([o_orderkey % 10, o_orderkey % 7], 0, |$a, $x| $a + $x) AS folded, "
        "math::round(math::PI * 100) AS pi100 "
        "FROM orders WHERE o_orderkey % 400 = 0",
        sf_dir,
    )


@query(
    "surql_select_star",
    oracle="""
    SELECT *, concat('region:', CAST(r_regionkey AS VARCHAR)) AS id FROM region
    """,
hidden=True)
def surql_select_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SELECT * — full projection incl. the synthesized record id.
    from surrealdb_spark.sql import surql

    return surql(spark, "SELECT * FROM region", sf_dir)


@query(
    "surql_split_on",
    oracle="""
    SELECT o_orderkey, UNNEST(string_split(o_orderpriority, '-')) AS token
    FROM orders WHERE o_orderstatus = 'P'
    """,
hidden=True)
def surql_split_on(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SPLIT ON <field> through the parser (split.rs:13) — explode before
    # projection, per the reference pipeline order.
    from surrealdb_spark.sql import surql

    return surql(
        spark,
        "SELECT o_orderkey, toks AS token FROM "
        "(SELECT o_orderkey, string::split(o_orderpriority, '-') AS toks "
        " FROM orders WHERE o_orderstatus = 'P') "
        "SPLIT ON toks",
        sf_dir,
    )


@query(
    "surql_type_casts",
    oracle="""
    SELECT r_regionkey,
           CAST(r_regionkey AS DOUBLE) AS as_float,
           CAST(r_regionkey AS VARCHAR) AS as_str,
           concat('region:', CAST(r_regionkey AS VARCHAR)) AS thing,
           CAST('7' AS BIGINT) + r_regionkey AS parsed_int
    FROM region
    """,
hidden=True)
def surql_type_casts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # type:: casts (fnc/type.rs): float/string/thing/int parsing.
    from surrealdb_spark.sql import surql

    return surql(
        spark,
        "SELECT r_regionkey, type::float(r_regionkey) AS as_float, "
        "type::string(r_regionkey) AS as_str, "
        "type::thing('region', r_regionkey) AS thing, "
        "type::int('7') + r_regionkey AS parsed_int "
        "FROM region",
        sf_dir,
    )


@query(
    "surql_array_fns",
    oracle="""
    SELECT o_orderkey,
           list_sort(list_distinct(arr)) AS uniq,
           len(arr) AS n,
           list_reverse(arr) AS rev,
           array_to_string(arr, '|') AS joined,
           list_contains(arr, 'URGENT') AS has_urgent
    FROM (SELECT o_orderkey, string_split(o_orderpriority, '-') AS arr
          FROM orders WHERE o_orderkey % 300 = 0)
    """,
hidden=True)
def surql_array_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    # array:: namespace through the parser: distinct/sort/len/reverse/join/
    # includes (fnc/array.rs).
    from surrealdb_spark.sql import surql

    return surql(
        spark,
        "SELECT o_orderkey, "
        "array::sort(array::distinct(arr)) AS uniq, "
        "array::len(arr) AS n, "
        "array::reverse(arr) AS rev, "
        "array::join(arr, '|') AS joined, "
        "array::includes(arr, 'URGENT') AS has_urgent "
        "FROM (SELECT o_orderkey, string::split(o_orderpriority, '-') AS arr "
        "      FROM orders WHERE o_orderkey % 300 = 0)",
        sf_dir,
    )


@query(
    "surql_dml_roundtrip",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           CASE WHEN o_totalprice > 450000 THEN 'big' END AS flag
    FROM orders
    WHERE o_totalprice > 400000 AND o_orderkey % 10 <> 0
    """,
)
def surql_dml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SurrealQL DML statements end-to-end (expr/statements/{create,insert,
    # update,delete}.rs): INSERT-from-SELECT, UPDATE SET with a new field,
    # DELETE WHERE, then SELECT back — the oracle recomputes the surviving
    # state directly from the source table.
    import tempfile

    from surrealdb_spark.dml import Database, TableDef
    from surrealdb_spark.sql.statements import StatementRunner

    db = Database(spark, tempfile.mkdtemp(prefix="surql_dml_"))
    db.define_table(TableDef("hot"))
    r = StatementRunner(spark, db, catalog=Catalog(spark, sf_dir))
    r.run(
        "INSERT INTO hot (SELECT id, o_orderkey, o_totalprice FROM orders "
        "WHERE o_totalprice > 400000)"
    )
    r.run("UPDATE hot SET flag = 'big' WHERE o_totalprice > 450000")
    r.run("DELETE hot WHERE o_orderkey % 10 = 0")
    return r.run("SELECT o_orderkey, o_totalprice, flag FROM hot")


_SQL_DOCWORDS = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"


@query(
    "surql_recurse",
    oracle="""
    WITH RECURSIVE anc AS (
      SELECT concat('customer:', CAST(c_custkey AS VARCHAR)) AS start,
             c_custkey AS k, 0 AS depth
      FROM customer WHERE c_custkey % 97 = 0 AND c_custkey >= 2
      UNION ALL
      SELECT start, k // 2, depth + 1 FROM anc WHERE depth < 5 AND k >= 2
    )
    SELECT start AS id,
           list(concat('customer:', CAST(k AS VARCHAR))) AS anc
    FROM anc WHERE depth = 5 GROUP BY start
    """,
    hidden=True,
)
def surql_recurse(spark: SparkSession, sf_dir: str) -> DataFrame:
    # `.{min..max}(->edge->tbl)` recursion in SurrealQL text (syn/parser/
    # idiom.rs parse_recurse_part → exec/operators/recursion.rs), lowered
    # to lookup.recurse_value on graph._traverse.  Default (no
    # instruction) semantics = the frontier at the FINAL depth, matching
    # the reference's golden corpus (graph/depth_range.surql) — here the
    # single 5th-halving ancestor per start.
    from surrealdb_spark.sql import surql
    from surrealdb_spark.suite.graph import _reports_to

    cat = Catalog(spark, sf_dir)
    cat.register_edges("reports_to", _reports_to(cat))
    return surql(
        spark,
        "SELECT id, id.{1..5}(->reports_to->customer) AS anc "
        "FROM customer WHERE c_custkey % 97 = 0 AND c_custkey >= 2",
        sf_dir,
        catalog=cat,
    )


@query(
    "surql_matches",
    oracle=f"""
    SELECT doc_id FROM documents
    WHERE doc_id % 7 = 0
      AND list_has_all({_SQL_DOCWORDS}, ['customer', 'window'])
    """,
    hidden=True,
)
def surql_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    # `@@` MATCHES operator in query text (operator.rs Matches): index-free
    # all-terms predicate (reference conjunction semantics — every query
    # term must match, idx/ft/fulltext.rs QueryTerms); BM25 scoring is
    # operators/fulltext.py.
    from surrealdb_spark.sql import surql

    return surql(
        spark,
        "SELECT doc_id FROM documents "
        "WHERE doc_id % 7 = 0 AND text @@ 'customer window'",
        sf_dir,
    )


_KNN_Q = [round(i / 100, 2) for i in range(64)]
_SQL_KNN_Q = "[" + ", ".join(f"{v:.2f}e0" for v in _KNN_Q) + "]"
_SQL_KNN_DIST = f"""
  sqrt(list_reduce(list_transform(range(1, len(embedding)+1),
      i -> (CAST(embedding[i] AS DOUBLE) - ({_SQL_KNN_Q})[i])
         * (CAST(embedding[i] AS DOUBLE) - ({_SQL_KNN_Q})[i])),
    (acc, x) -> acc + x))
"""


@query(
    "surql_knn",
    oracle=f"""
    SELECT vec_id, {_SQL_KNN_DIST} AS dist
    FROM embeddings ORDER BY dist LIMIT 3
    """,
    hidden=True,
)
def surql_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    # `<|k|>` nearest-neighbor operator in query text (operator.rs
    # NearestNeighbor → KnnScan): global top-k by distance after filters.
    from surrealdb_spark.sql import surql

    return surql(
        spark,
        "SELECT vec_id, vector::distance::euclidean(embedding, $q) AS dist "
        "FROM embeddings WHERE embedding <|3|> $q",
        sf_dir,
        params={"q": _KNN_Q},
    )
