"""Merged driver-visible suite entries.

The driver correctness-checks at most the FIRST 50 entries of ``queries()``
(round-1 lesson: 27 of 77 got no CORRECTNESS row).  This module folds
families of library children (registered ``hidden=True`` in their home
modules, still individually verified by ``surrealdb_spark.testing``) into
single driver-visible entries via schema-aligned UNION ALLs, keeping the
visible inventory under 50 with no capability left unchecked.

Alignment rules (dtype-strict — the driver's value-hash distinguishes
int64/float64):
  * every aligned column is explicitly CAST on BOTH sides (Spark + DuckDB);
  * arrays are rendered with array_join/array_to_string (cast-to-string of
    arrays differs between engines);
  * doubles stay native doubles (the children already guarantee bit parity).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from surrealdb_spark.suite import lib_oracle, lib_query, query

# Shared aligned schema for heterogeneous unions:
#   c: case tag | k: bigint key | s1..s3: strings | i1: bigint | d1,d2: double
#   | b1: boolean
_ALIGNED = (
    ("k", "bigint"), ("s1", "string"), ("s2", "string"), ("s3", "string"),
    ("i1", "bigint"), ("d1", "double"), ("d2", "double"), ("b1", "boolean"),
)
_SQL_TYPES = {"bigint": "BIGINT", "string": "VARCHAR", "double": "DOUBLE",
              "boolean": "BOOLEAN"}


def _align_df(df: DataFrame, tag: str, **cols: Column | str | None) -> DataFrame:
    # Fast path (r13): when every mapping is a name/SQL-fragment string the
    # whole alignment is ONE selectExpr (one py4j call, one parse) instead
    # of ~25 Column-builder round trips per child (lit/col/cast/alias each
    # cross the py4j socket; 19 children × ~25 calls dominated the merged
    # suites' build time).  Same expressions, same plan.
    if all(isinstance(c, str) or c is None for c in cols.values()):
        parts = [f"'{tag}' AS c"]
        for name, typ in _ALIGNED:
            c = cols.get(name)
            parts.append(f"CAST({c if c is not None else 'NULL'} AS {typ}) AS {name}")
        return df.selectExpr(*parts)
    out = [F.lit(tag).alias("c")]
    for name, typ in _ALIGNED:
        c = cols.get(name)
        if c is None:
            c = F.lit(None)
        elif isinstance(c, str):
            c = F.col(c)
        out.append(c.cast(typ).alias(name))
    return df.select(*out)


def _align_sql(sql: str, tag: str, **cols: str) -> str:
    parts = [f"'{tag}' AS c"]
    for name, typ in _ALIGNED:
        expr = cols.get(name, "NULL")
        parts.append(f"CAST({expr} AS {_SQL_TYPES[typ]}) AS {name}")
    return f"SELECT {', '.join(parts)} FROM ({sql}) __q"


def _union_all(*sqls: str) -> str:
    return "\nUNION ALL\n".join(sqls)


def _join_arr(c: Column | str) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    return F.array_join(F.transform(c, lambda x: x.cast("string")), ",")


def _run(name: str, spark: SparkSession, sf_dir: str) -> DataFrame:
    return lib_query(name)(spark, sf_dir)


# ---------------------------------------------------------------------------
# count_scans = count_scan + count_where + distinct_pairs
# ---------------------------------------------------------------------------


def _count_scans_oracle() -> str:
    return _union_all(
        _align_sql(lib_oracle("count_scan"), "count_scan", k="n"),
        _align_sql(lib_oracle("count_where"), "count_where", k="n"),
        _align_sql(lib_oracle("distinct_pairs"), "distinct",
                   s1="l_returnflag", s2="l_linestatus"),
    )


@query("count_scans", oracle=_count_scans_oracle())
def count_scans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CountScan + IndexCountScan + DISTINCT (children in relational.py)."""
    a = _align_df(_run("count_scan", spark, sf_dir), "count_scan", k="n")
    b = _align_df(_run("count_where", spark, sf_dir), "count_where", k="n")
    c = _align_df(_run("distinct_pairs", spark, sf_dir), "distinct",
                  s1="l_returnflag", s2="l_linestatus")
    return a.unionAll(b).unionAll(c)


# ---------------------------------------------------------------------------
# event_windows = window_latest_event + time_bucket_daily
# ---------------------------------------------------------------------------


def _event_windows_oracle() -> str:
    return _union_all(
        _align_sql(lib_oracle("window_latest_event"), "latest",
                   k="user_id", s1="event_type", i1="event_id", d1="value"),
        _align_sql(lib_oracle("time_bucket_daily"), "bucket",
                   s1="event_type", s2="day", i1="n", d1="total_value"),
    )


@query("event_windows", oracle=_event_windows_oracle())
def event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number latest-per-key window + daily tumbling buckets."""
    a = _align_df(_run("window_latest_event", spark, sf_dir), "latest",
                  k="user_id", s1="event_type", i1="event_id", d1="value")
    b = _align_df(_run("time_bucket_daily", spark, sf_dir), "bucket",
                  s1="event_type", s2="day", i1="n", d1="total_value")
    return a.unionAll(b)


# ---------------------------------------------------------------------------
# dedup_near_pairs = dedup_minhash_lsh + dedup_jaccard_pairs (same 444 pairs:
# the LSH-bucketed path and the exact all-pairs verify primitive)
# ---------------------------------------------------------------------------


def _near_pairs_oracle() -> str:
    return _union_all(
        _align_sql(lib_oracle("dedup_minhash_lsh"), "lsh",
                   k="id1", i1="id2", d1="jaccard"),
        _align_sql(lib_oracle("dedup_jaccard_pairs"), "jaccard",
                   k="id1", i1="id2", d1="jaccard"),
    )


@query("dedup_near_pairs", oracle=_near_pairs_oracle())
def dedup_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+banded-LSH near-dup discovery vs exact Jaccard verify."""
    a = _align_df(_run("dedup_minhash_lsh", spark, sf_dir), "lsh",
                  k="id1", i1="id2", d1="jaccard")
    b = _align_df(_run("dedup_jaccard_pairs", spark, sf_dir), "jaccard",
                  k="id1", i1="id2", d1="jaccard")
    return a.unionAll(b)


# ---------------------------------------------------------------------------
# graph_hops = graph_hop_orders + graph_hop_edge_filter + graph_hop_reverse
# ---------------------------------------------------------------------------


def _graph_hops_oracle() -> str:
    return _union_all(
        _align_sql(lib_oracle("graph_hop_orders"), "hop",
                   s1="id", s2="c_name", s3="nbr"),
        _align_sql(lib_oracle("graph_hop_edge_filter"), "edge_filter",
                   s1="id", s2="c_name", s3="nbr"),
        _align_sql(lib_oracle("graph_hop_reverse"), "reverse",
                   s1="id", s3="nbr"),
    )


@query("graph_hops", oracle=_graph_hops_oracle())
def graph_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-hop out/in traversal with edge filters (children in graph.py)."""
    a = _align_df(_run("graph_hop_orders", spark, sf_dir), "hop",
                  s1="id", s2="c_name", s3="nbr")
    b = _align_df(_run("graph_hop_edge_filter", spark, sf_dir), "edge_filter",
                  s1="id", s2="c_name", s3="nbr")
    c = _align_df(_run("graph_hop_reverse", spark, sf_dir), "reverse",
                  s1="id", s3="nbr")
    return a.unionAll(b).unionAll(c)


# ---------------------------------------------------------------------------
# graph_aggregates = graph_two_hop_count + reference_lookup_orders
# ---------------------------------------------------------------------------


def _graph_aggs_oracle() -> str:
    return _union_all(
        _align_sql(lib_oracle("graph_two_hop_count"), "two_hop",
                   s1="id", i1="n_items"),
        _align_sql(lib_oracle("reference_lookup_orders"), "refs",
                   s1="id", i1="n_refs", d1="total"),
    )


@query("graph_aggregates", oracle=_graph_aggs_oracle())
def graph_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-hop traversal counts + `<~` reverse-reference aggregation."""
    a = _align_df(_run("graph_two_hop_count", spark, sf_dir), "two_hop",
                  s1="id", i1="n_items")
    b = _align_df(_run("reference_lookup_orders", spark, sf_dir), "refs",
                  s1="id", i1="n_refs", d1="total")
    return a.unionAll(b)


# ---------------------------------------------------------------------------
# graph_recursion = recurse_ancestors + recurse_paths + shortest_to_root
# ---------------------------------------------------------------------------


def _graph_recursion_oracle() -> str:
    return _union_all(
        _align_sql(lib_oracle("graph_recurse_ancestors"), "ancestors",
                   s1="start", s2="node", i1="depth"),
        _align_sql(lib_oracle("graph_recurse_paths"), "paths",
                   s1="start", s2="node", s3="path", i1="depth"),
        _align_sql(lib_oracle("graph_shortest_to_root"), "shortest",
                   s1="start", i1="depth"),
    )


@query("graph_recursion", oracle=_graph_recursion_oracle())
def graph_recursion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """@{min..max} recursion: +collect, +path, +shortest (graph.py BFS).

    The three children are independent traversals.  Under the graph.py
    edge budget each one builds with eager driver jobs (edge count,
    adjacency collect) and then runs as one mapInPandas job; building them
    from a small thread pool overlaps those eager jobs (r12, guide §2.6).
    Results are unchanged: each child is built exactly as before and the
    union order is fixed.
    """
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        fa = pool.submit(_run, "graph_recurse_ancestors", spark, sf_dir)
        fb = pool.submit(_run, "graph_recurse_paths", spark, sf_dir)
        fc = pool.submit(_run, "graph_shortest_to_root", spark, sf_dir)
        a = _align_df(fa.result(), "ancestors", s1="start", s2="node", i1="depth")
        b = _align_df(fb.result(), "paths", s1="start", s2="node", s3="path",
                      i1="depth")
        c = _align_df(fc.result(), "shortest", s1="start", i1="depth")
    return a.unionAll(b).unionAll(c)


# ---------------------------------------------------------------------------
# operator_semantics = containment_ops + nullish_coalesce + cross_type_order
# (b1 carries one boolean per case; the containment booleans are packed into
# a canonical string so none is lost)
# ---------------------------------------------------------------------------


def _operator_semantics_oracle() -> str:
    packed = ("CAST(has_urgent AS VARCHAR) || ',' || CAST(any_priority AS VARCHAR)"
              " || ',' || CAST(is_1_urgent AS VARCHAR) || ',' || "
              "CAST(none_low AS VARCHAR) || ',' || CAST(any_eq_3 AS VARCHAR)")
    return _union_all(
        _align_sql(lib_oracle("containment_ops"), "contain",
                   k="o_orderkey", s1=packed, b1="has_urgent"),
        _align_sql(lib_oracle("nullish_coalesce"), "nullish",
                   k="event_id", i1="k_or_default", d1="v_or_fallback"),
        _align_sql(lib_oracle("cross_type_order"), "ord",
                   k="o_orderkey", i1="tag"),
    )


@query("operator_semantics", oracle=_operator_semantics_oracle())
def operator_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment family, ??/?:, and cross-type Ord total order."""
    cont = _run("containment_ops", spark, sf_dir)
    packed = F.concat_ws(
        ",",
        *[F.col(c).cast("string")
          for c in ("has_urgent", "any_priority", "is_1_urgent", "none_low",
                    "any_eq_3")],
    )
    a = _align_df(cont, "contain", k="o_orderkey", s1=packed, b1="has_urgent")
    b = _align_df(_run("nullish_coalesce", spark, sf_dir), "nullish",
                  k="event_id", i1="k_or_default", d1="v_or_fallback")
    c = _align_df(_run("cross_type_order", spark, sf_dir), "ord",
                  k="o_orderkey", i1="tag")
    return a.unionAll(b).unionAll(c)


# ---------------------------------------------------------------------------
# knn_topk = knn_cosine + knn_euclidean (same schema — native union)
# ---------------------------------------------------------------------------


def _knn_oracle() -> str:
    return _union_all(
        f"SELECT 'cosine' AS metric, q_id, c_id, dist, rank FROM ({lib_oracle('knn_cosine')}) __q",
        f"SELECT 'euclidean' AS metric, q_id, c_id, dist, rank FROM ({lib_oracle('knn_euclidean')}) __q",
    )


@query("knn_topk", oracle=_knn_oracle())
def knn_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact KNN `<|k|>`: cosine + euclidean (operators/knn.py)."""
    a = _run("knn_cosine", spark, sf_dir).select(
        F.lit("cosine").alias("metric"), "q_id", "c_id", "dist", "rank")
    b = _run("knn_euclidean", spark, sf_dir).select(
        F.lit("euclidean").alias("metric"), "q_id", "c_id", "dist", "rank")
    return a.unionAll(b)


# ---------------------------------------------------------------------------
# vector_scan_pairs = vector_similarity_scan + similar_pairs
# ---------------------------------------------------------------------------


def _vector_oracle() -> str:
    return _union_all(
        _align_sql(lib_oracle("vector_similarity_scan"), "scan",
                   k="vec_id", i1="label", d1="cos_to_q0", d2="manhattan_to_q0",
                   s1="CAST(CAST(magnitude AS DECIMAL(18,9)) AS VARCHAR)"),
        _align_sql(lib_oracle("similar_pairs"), "pairs",
                   k="id1", i1="id2", d1="sim"),
    )


@query("vector_scan_pairs", oracle=_vector_oracle())
def vector_scan_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-kind scan + embedding-cosine pair mining (suite/vector.py)."""
    scan = _run("vector_similarity_scan", spark, sf_dir)
    a = _align_df(scan, "scan", k="vec_id", i1="label", d1="cos_to_q0",
                  d2="manhattan_to_q0",
                  s1=F.col("magnitude").cast("decimal(18,9)").cast("string"))
    b = _align_df(_run("similar_pairs", spark, sf_dir), "pairs",
                  k="id1", i1="id2", d1="sim")
    return a.unionAll(b)


# ---------------------------------------------------------------------------
# text_doc_stats = token_stats ⋈ lang_id_heuristic ⋈ quality_scores (wide
# per-document row — a natural single training-data-pipeline pass)
# ---------------------------------------------------------------------------


def _text_oracle() -> str:
    return f"""
    SELECT t.doc_id, t.n_tokens, t.n_distinct, t.fp,
           l.labeled_lang, l.predicted_lang, l.en_hits, l.zh_hits,
           q.n_words, q.n_chars, q.avg_word_len, q.stopword_ratio, q.quality
    FROM ({lib_oracle("token_stats")}) t
    JOIN ({lib_oracle("lang_id_heuristic")}) l ON l.doc_id = t.doc_id
    JOIN ({lib_oracle("quality_scores")}) q ON q.doc_id = t.doc_id
    """


@query("text_doc_stats", oracle=_text_oracle())
def text_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token stats + n-gram lang-ID + quality scoring, one row per doc."""
    t = _run("token_stats", spark, sf_dir)
    lang = _run("lang_id_heuristic", spark, sf_dir)
    q = _run("quality_scores", spark, sf_dir)
    return t.join(lang, "doc_id").join(q, "doc_id")


# ---------------------------------------------------------------------------
# tpch_scalar_aggs = q6 + q14 + q19 (single-row scalar aggregates)
# ---------------------------------------------------------------------------


def _tpch_scalar_oracle() -> str:
    return _union_all(
        f"SELECT 'q6' AS c, revenue, n FROM ({lib_oracle('q6_forecast_revenue')}) __q",
        f"SELECT 'q14' AS c, promo_share AS revenue, CAST(NULL AS BIGINT) AS n "
        f"FROM ({lib_oracle('q14_promo_ratio')}) __q",
        f"SELECT 'q19' AS c, revenue, n FROM ({lib_oracle('q19_disjunctive')}) __q",
    )


@query("tpch_scalar_aggs", oracle=_tpch_scalar_oracle())
def tpch_scalar_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q6 pushdown-scan revenue, q14 promo ratio, q19 disjunctive predicate."""
    q6 = _run("q6_forecast_revenue", spark, sf_dir).select(
        F.lit("q6").alias("c"), "revenue", "n")
    q14 = _run("q14_promo_ratio", spark, sf_dir).select(
        F.lit("q14").alias("c"), F.col("promo_share").alias("revenue"),
        F.lit(None).cast("bigint").alias("n"))
    q19 = _run("q19_disjunctive", spark, sf_dir).select(
        F.lit("q19").alias("c"), "revenue", "n")
    return q6.unionAll(q14).unionAll(q19)


# ---------------------------------------------------------------------------
# bm25_search = bm25_scores + search_highlight (BM25 ranking + highlighting)
# ---------------------------------------------------------------------------


def _bm25_oracle() -> str:
    return _union_all(
        f"SELECT 'scores' AS c, doc, score, rank, CAST(NULL AS VARCHAR) AS highlighted, "
        f"CAST(NULL AS INTEGER) AS n_matches FROM ({lib_oracle('bm25_scores')}) __q",
        f"SELECT 'highlight' AS c, doc_id AS doc, CAST(NULL AS DOUBLE) AS score, "
        f"CAST(NULL AS INTEGER) AS rank, highlighted, n_matches "
        f"FROM ({lib_oracle('search_highlight')}) __q",
    )


@query("bm25_search", oracle=_bm25_oracle(), bench=True)
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 `@@` ranking + search::highlight (operators/fulltext.py)."""
    a = _run("bm25_scores", spark, sf_dir).select(
        F.lit("scores").alias("c"), "doc", "score", "rank",
        F.lit(None).cast("string").alias("highlighted"),
        F.lit(None).cast("int").alias("n_matches"))
    b = _run("search_highlight", spark, sf_dir).select(
        F.lit("highlight").alias("c"), F.col("doc_id").alias("doc"),
        F.lit(None).cast("double").alias("score"),
        F.lit(None).cast("int").alias("rank"), "highlighted", "n_matches")
    return a.unionAll(b)


# ---------------------------------------------------------------------------
# surql_select_suite — SurrealQL-text SELECT forms (parser + compiler layer)
# ---------------------------------------------------------------------------

_SELECT_CHILDREN = {
    "surql_basic_select": dict(k="o_orderkey", d1="o_totalprice"),
    "surql_record_range": dict(k="o_orderkey", d1="o_totalprice"),
    "surql_select_star": dict(k="r_regionkey", s1="r_name", s2="id"),
    "surql_value_param": dict(k="value"),
    "surql_split_on": dict(k="o_orderkey", s1="token"),
    "surql_scalar_fns": dict(k="c_custkey", s1="lname", i1="name_len", d1="bal"),
    "surql_closures": dict(k="o_orderkey", s1="__join:doubled", i1="folded",
                           d1="pi100"),
    "surql_type_casts": dict(k="r_regionkey", s1="as_str", s2="thing",
                             i1="parsed_int", d1="as_float"),
    "surql_array_fns": dict(k="o_orderkey", s1="__join:uniq", s2="__join:rev",
                            s3="joined", i1="n", b1="has_urgent"),
}

_QUERY_CHILDREN = {
    "surql_group_by": dict(k="n", s1="o_orderpriority", i1="key_sum",
                           d1="max_price", d2="price_spread"),
    "surql_group_all": dict(k="n", i1="mn", d1="mx"),
    "surql_semi_join": dict(k="c_custkey", s1="c_name"),
    "surql_anti_join": dict(k="c_custkey"),
    "surql_from_subquery": dict(k="n", s1="o_orderpriority"),
    "surql_graph_traversal": dict(s1="id", s2="c_name", s3="__join:orders"),
    "surql_recurse": dict(s1="id", s2="__join:anc"),
    "surql_matches": dict(k="doc_id"),
    "surql_knn": dict(k="vec_id", d1="dist"),
    "surql_correlated_projection": dict(k="c_custkey", s1="__join:okeys"),
}


def _surql_mapped_sql(children: dict) -> str:
    parts = []
    for name, mapping in children.items():
        tag = name.replace("surql_", "")
        sql_map = {}
        for col, expr in mapping.items():
            if isinstance(expr, str) and expr.startswith("__join:"):
                sql_map[col] = f"array_to_string({expr[7:]}, ',')"
            else:
                sql_map[col] = expr
        parts.append(_align_sql(lib_oracle(name), tag, **sql_map))
    return _union_all(*parts)


def _surql_mapped_df(children: dict, spark: SparkSession, sf_dir: str) -> DataFrame:
    # The children are independent read-only SELECT compilations; some run
    # driver-side jobs while compiling (recursion checkpoints).  Build them
    # from a small thread pool so those jobs overlap (r12, guide §2.6);
    # union order stays the dict order, results unchanged.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=4) as pool:
        futures = {name: pool.submit(_run, name, spark, sf_dir)
                   for name in children}
        pieces = []
        for name, mapping in children.items():
            tag = name.replace("surql_", "")
            df_map = {}
            for col, expr in mapping.items():
                if isinstance(expr, str) and expr.startswith("__join:"):
                    # SQL-fragment form of _join_arr → stays on _align_df's
                    # one-selectExpr fast path (identical expression tree)
                    df_map[col] = (
                        f"array_join(transform({expr[7:]},"
                        f" x -> CAST(x AS string)), ',')"
                    )
                else:
                    df_map[col] = expr
            pieces.append(_align_df(futures[name].result(), tag, **df_map))
    # Balanced union: every DataFrame method eagerly re-analyzes its whole
    # plan, so a left-deep chain of N unions costs O(N²) analysis of the
    # accumulated tree; pairing halves the depth (same row order — union
    # concatenation is associative and the leaf order is preserved).
    while len(pieces) > 1:
        pieces = [
            pieces[i].unionAll(pieces[i + 1]) if i + 1 < len(pieces) else pieces[i]
            for i in range(0, len(pieces), 2)
        ]
    return pieces[0]


@query("surql_select_suite", oracle=_surql_mapped_sql(_SELECT_CHILDREN))
def surql_select_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SurrealQL text: projection/star/VALUE/SPLIT/scalars/closures/casts/
    array functions (children in suite/surql.py run through sql/parser.py +
    sql/compiler.py)."""
    return _surql_mapped_df(_SELECT_CHILDREN, spark, sf_dir)


@query("surql_query_suite", oracle=_surql_mapped_sql(_QUERY_CHILDREN))
def surql_query_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SurrealQL text: GROUP BY/ALL, semi/anti subquery joins, FROM-subquery,
    graph-path projection."""
    return _surql_mapped_df(_QUERY_CHILDREN, spark, sf_dir)
