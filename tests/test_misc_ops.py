"""Mock / EXPLAIN / TIMEOUT / INFO / permissions."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from surrealdb_spark.catalog import Catalog
from surrealdb_spark.operators.misc import (
    explain,
    info_for_db,
    info_for_functions,
    mock,
    with_permissions,
    with_timeout,
)


def test_mock_generates(spark):
    rows = mock(spark, "person", 100).collect()
    assert len(rows) == 100
    assert rows[0].id.startswith("person:")
    assert {r.n for r in rows} == set(range(1, 101))


def test_explain_shows_pushdown(spark):
    cat = Catalog(spark, "/root/testdata/sf0.001")
    df = cat.lineitem.filter(F.col("l_quantity") > 30).select("l_orderkey")
    plan = explain(df)
    assert "PushedFilters" in plan and "GreaterThan(l_quantity" in plan
    assert "l_orderkey" in plan


def test_timeout_allows_fast_and_kills_slow(spark):
    fast = spark.range(10)
    assert len(with_timeout(fast, 60)) == 10
    slow = spark.range(4_000_000_000).select(
        F.md5(F.col("id").cast("string")).alias("h")
    ).agg(F.count(F.when(F.col("h").startswith("00000000"), 1)).alias("n"))
    with pytest.raises(TimeoutError):
        with_timeout(slow, 2)


def test_info(spark):
    cat = Catalog(spark, "/root/testdata/sf0.001")
    info = info_for_db(cat)
    assert "lineitem" in info["tables"]
    assert info["tables"]["lineitem"]["l_orderkey"] == "bigint"
    assert info_for_functions()["math"] >= 38


def test_permissions_filter(spark):
    df = spark.createDataFrame([Row(id=1, owner="ann"), Row(id=2, owner="bo")])
    # Permission::Specific($auth = owner)
    perm = lambda p: F.col("owner") == F.lit(p["auth"])  # noqa: E731
    got = with_permissions(df, perm, {"auth": "ann"}).collect()
    assert [r.id for r in got] == [1]
    assert with_permissions(df, None).count() == 2  # Permission::Full
    assert with_permissions(df, F.lit(False)).count() == 0  # Permission::None


def test_fulltext_index_reuse(spark):
    from surrealdb_spark.operators.fulltext import FulltextIndex, bm25_search

    docs = Catalog(spark, "/root/testdata/sf0.001").documents
    idx = FulltextIndex(docs, "doc_id", "text")
    a = idx.search(["spark", "join"], k=5).collect()
    b = bm25_search(docs, "doc_id", "text", ["spark", "join"], k=5).collect()
    assert a == b and len(a) == 5
    c = idx.search(["filter"], k=3).collect()  # second query reuses the index
    assert len(c) == 3


def test_record_id_range_scan_pushes_down(spark):
    """`FROM orders:100..500` lowers to a pushed key predicate
    (record_id/key.rs:31-32; planner fast path select.rs:1346-1382)."""
    from surrealdb_spark.sql import surql

    df = surql(spark, "SELECT o_orderkey FROM orders:100..500",
               "/root/testdata/sf0.001")
    plan = explain(df)
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(o_orderkey,100" in plan
    assert "LessThan(o_orderkey,500" in plan
    keys = [r["o_orderkey"] for r in df.collect()]
    assert keys and all(100 <= k < 500 for k in keys)

    # point scan + string-keyed inclusive range through a DML table
    one = surql(spark, "SELECT o_orderkey FROM orders:100",
                "/root/testdata/sf0.001").collect()
    assert [r["o_orderkey"] for r in one] == [100]
