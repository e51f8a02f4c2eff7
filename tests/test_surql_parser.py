"""SurrealQL parser/compiler unit tests (AST shapes + compile behaviors the
oracle harness doesn't cover: idiom [WHERE] scoping, ONLY, params, errors).
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from surrealdb_spark.catalog import Catalog
from surrealdb_spark.sql import parse_expr, parse_select, surql
from surrealdb_spark.sql.compiler import compile_expr


def test_precedence_shapes():
    assert parse_expr("1 + 2 * 3") == (
        "bin", "+", ("lit", 1), ("bin", "*", ("lit", 2), ("lit", 3))
    )
    assert parse_expr("2 ** 3 ** 2") == (
        "bin", "**", ("lit", 2), ("bin", "**", ("lit", 3), ("lit", 2))
    )  # right-assoc
    assert parse_expr("a AND b OR c")[1] == "OR"  # AND binds tighter
    assert parse_expr("x ?? 5")[1] == "??"


def test_path_and_call_shapes():
    assert parse_expr("a.b[0].c") == (
        "path", ("ident", "a"), [("field", "b"), ("index", 0), ("field", "c")]
    )
    ast = parse_expr("items[WHERE price > 10]")
    assert ast[0] == "path" and ast[2][0][0] == "where"
    assert parse_expr("arr[$]") == ("path", ("ident", "arr"), [("last",)])
    assert parse_expr("string::len(name)") == ("call", "string::len", [("ident", "name")])
    assert parse_expr("person:42") == ("lit", "person:42")


def test_select_clause_parsing():
    sel = parse_select(
        "SELECT a, b AS bee FROM t1, t2 WHERE a > 1 SPLIT ON tags "
        "GROUP BY a ORDER BY b DESC, a NUMERIC LIMIT 10 START 5 FETCH link"
    )
    assert [f.alias for f in sel.fields] == [None, "bee"]
    assert sel.sources == ["t1", "t2"]
    assert sel.split == ["tags"]
    assert sel.group and sel.group[0] == ("ident", "a")
    assert sel.order[0].desc and sel.order[1].numeric
    assert (sel.limit, sel.start) == (10, 5)
    assert sel.fetch == ["link"]
    star = parse_select("SELECT * FROM person")
    assert star.fields is None
    val = parse_select("SELECT VALUE x + 1 FROM t")
    assert val.value_expr[0] == "bin"
    assert parse_select("SELECT * FROM ONLY person LIMIT 1").only


def test_compile_expr_semantics(spark):
    df = spark.createDataFrame([Row(x=5, arr=[1, 2, 3])])
    row = df.select(
        compile_expr(parse_expr("x + 1 * 2")).alias("a"),
        compile_expr(parse_expr("x IN arr")).alias("b"),
        compile_expr(parse_expr("arr CONTAINS 2")).alias("c"),
        compile_expr(parse_expr("arr[WHERE $this > 1]"), {"this": F.col("x")}).alias("d")
        if False
        else compile_expr(parse_expr("x ?? 99")).alias("d"),
        compile_expr(parse_expr("arr[0] + arr[$]")).alias("e"),
    ).first()
    assert (row.a, row.b, row.c, row.d, row.e) == (7, False, True, 5, 4)


def test_idiom_where_element_scope(spark):
    df = spark.createDataFrame(
        [Row(items=[Row(price=5, q=1), Row(price=20, q=2)])]
    )
    out = df.select(
        compile_expr(parse_expr("items[WHERE price > 10]")).alias("big")
    ).first()
    assert [s.q for s in out.big] == [2]


def test_only_raises(spark):
    with pytest.raises(ValueError, match="ONLY"):
        surql(spark, "SELECT * FROM ONLY orders", "/root/testdata/sf0.001")


def test_unbound_param_raises(spark):
    with pytest.raises(KeyError, match="unbound parameter"):
        surql(spark, "SELECT VALUE o_orderkey FROM orders WHERE o_orderkey > $x",
              "/root/testdata/sf0.001")


def test_syntax_error_position():
    with pytest.raises(SyntaxError):
        parse_select("SELECT FROM WHERE")


def test_advice_r1_semantics(spark, sf_dir):
    """Round-1 advisor findings: int division truncates, count(expr) counts
    truthy values, SELECT *, extra keeps the star, ?: tests truthiness."""
    # 5 / 4 == 1 for int operands (operate.rs try_div); float stays float
    r = surql(spark, "SELECT VALUE 5 / 4 FROM nation LIMIT 1", sf_dir).collect()[0][0]
    assert r == 1
    rf = surql(spark, "SELECT VALUE 5.0 / 4 FROM nation LIMIT 1", sf_dir).collect()[0][0]
    assert rf == 1.25
    # column-typed int division
    r2 = surql(
        spark, "SELECT VALUE o_orderkey / 2 FROM orders ORDER BY o_orderkey LIMIT 1",
        sf_dir,
    ).collect()[0][0]
    assert r2 == 0  # orderkey 1 → 1/2 == 0 truncated
    # count(expr) counts truthy, not non-null
    df = surql(
        spark,
        "SELECT count() AS n, count(o_orderkey > 3) AS big FROM orders "
        "WHERE o_orderkey <= 10 GROUP ALL",
        sf_dir,
    ).collect()[0]
    assert df["n"] == 11 and df["big"] == 7  # keys 0..10; truthy > 3 → 4..10
    # SELECT *, extra keeps all columns plus the extra
    sel = parse_select("SELECT *, n_name AS nm FROM nation")
    assert sel.star and len(sel.fields) == 1
    out = surql(spark, "SELECT *, n_nationkey + 100 AS shifted FROM nation", sf_dir)
    assert "n_name" in out.columns and "shifted" in out.columns
    assert out.count() == 25
    # ?: falls through falsy (0, '') lhs; keeps truthy lhs
    vals = surql(
        spark,
        "SELECT VALUE (o_orderkey % 2) ?: 99 FROM orders ORDER BY o_orderkey LIMIT 2",
        sf_dir,
    ).collect()
    assert [v[0] for v in vals] == [99, 1]  # key 0 → falsy 0 ?: 99; key 1 → 1


def test_math_fixed_rounds():
    from surrealdb_spark.functions import math_fns

    import pytest as _pytest

    with _pytest.raises(ValueError):
        math_fns.fixed(F.lit(1.5), 0)


def test_recursion_matches_knn_shapes(spark, sf_dir):
    # .{min..max}(->edge->tbl) — recursion part (syn/parser/idiom.rs)
    ast = parse_expr("id.{1..5}(->knows->person)")
    assert ast[0] == "path"
    rec = ast[2][0]
    assert rec[0] == "recurse" and rec[1] == (1, 5)
    assert rec[3] == [("out", "knows", "person")]
    fixed = parse_expr("id.{3}(->knows->person)")
    assert fixed[2][0][1] == (3, 3)
    shortest = parse_expr("id.{..4+shortest=person:0}(->knows->person)")
    assert shortest[2][0][1] == (None, 4)
    assert shortest[2][0][2]["shortest"] == ("lit", "person:0")

    # ?. optional chaining and .{a,b} destructure
    opt = parse_expr("link?.name")
    assert opt[2][0] == ("optional",) and opt[2][1] == ("field", "name")
    de = parse_expr("person.{name, age}")
    assert de[2][0] == ("destructure", [("name", []), ("age", [])])

    # @@ MATCHES and <|k|> KNN operators
    m = parse_expr("text @@ 'hello world'")
    assert m[0] == "bin" and m[1] == "@@"
    m2 = parse_expr("text MATCHES 'hello'")
    assert m2[1] == "@@"
    k = parse_expr("embedding <|5,cosine|> $q")
    assert k[0] == "knn" and k[1] == 5 and k[2] == "cosine"

    # end-to-end: destructure + optional chain over a struct value
    out = surql(
        spark,
        "SELECT o_orderkey, {name: o_orderpriority, key: o_orderkey}.{name} AS who, "
        "{name: o_orderpriority}?.name AS nm FROM orders WHERE o_orderkey % 500 = 0",
        sf_dir,
    )
    row = out.orderBy("o_orderkey").limit(1).collect()[0]
    assert row["who"]["name"] == row["nm"]


def test_decimal_promotion(spark):
    """Decimal ⊕ anything → Decimal (number.rs:818-846): Spark natively
    demotes decimal+double to double, the compiler must cast up instead."""
    import decimal

    from surrealdb_spark.sql.compiler import compile_select
    from surrealdb_spark.sql.parser import parse_select

    df = spark.createDataFrame(
        [(3, 1.5, decimal.Decimal("2.5000000000"))],
        "a int, f double, d decimal(38,10)",
    )

    cat = Catalog(spark)
    cat.register("t", df)

    out = compile_select(
        spark,
        parse_select("SELECT a + d AS s, f * d AS p, d / d AS q FROM t"),
        catalog=cat,
    )
    kinds = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    assert kinds["s"].startswith("decimal")
    assert kinds["p"].startswith("decimal")
    assert kinds["q"].startswith("decimal")
    row = out.collect()[0]
    assert float(row["s"]) == 5.5 and float(row["p"]) == 3.75 and float(row["q"]) == 1.0


def test_define_field_decimal_dtype(spark, tmp_path):
    """DEFINE FIELD ... TYPE decimal lands as DecimalType(38,10)."""
    from surrealdb_spark.dml import Database
    from surrealdb_spark.sql.statements import StatementRunner

    db = Database(spark, str(tmp_path))
    sr = StatementRunner(spark, db)
    sr.run("DEFINE TABLE prices")
    sr.run("DEFINE FIELD amount ON prices TYPE decimal")
    sr.run("CREATE prices:1 SET amount = 19.99")
    got = db.table("prices")
    assert dict((f.name, f.dataType.simpleString()) for f in got.schema.fields)[
        "amount"
    ] == "decimal(38,10)"


def test_order_collate(spark):
    """ORDER COLLATE → Spark 4 UNICODE (ICU) collation: case-grouped,
    locale-aware — binary order would give A,B,a,b (order.rs collate)."""
    from surrealdb_spark.sql.compiler import compile_select
    from surrealdb_spark.sql.parser import parse_select

    df = spark.createDataFrame([("b",), ("A",), ("a",), ("B",)], "s string")

    cat = Catalog(spark)
    cat.register("t", df)

    sel = parse_select("SELECT s FROM t ORDER BY s COLLATE")
    assert sel.order[0].collate
    out = compile_select(spark, sel, catalog=cat)
    assert [r["s"] for r in out.collect()] == ["a", "A", "b", "B"]
    # without COLLATE: binary order, uppercase block first
    plain = compile_select(
        spark, parse_select("SELECT s FROM t ORDER BY s"), catalog=cat)
    assert [r["s"] for r in plain.collect()] == ["A", "B", "a", "b"]


def test_dynamic_scan_param_source(spark):
    """FROM $source — DynamicScan runtime dispatch
    (exec/operators/scan/dynamic.rs:53)."""
    sf = "/root/testdata/sf0.001"
    a = surql(spark, "SELECT r_name FROM $src", sf, params={"src": "region"})
    assert a.count() == 5
    b = surql(spark, "SELECT o_orderkey FROM $rec", sf, params={"rec": "orders:100"})
    assert [r["o_orderkey"] for r in b.collect()] == [100]
    c = surql(spark, "SELECT VALUE o_orderkey FROM $recs", sf,
              params={"recs": ["orders:100", "orders:101"]})
    assert sorted(r["value"] for r in c.collect()) == [100, 101]


def test_package_does_not_import_golden_harness():
    """The statement splitter lives in sql/parser.py; no engine module
    imports the golden-corpus test harness (`surrealdb_spark.golden`)."""
    import re
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "surrealdb_spark"
    pat = re.compile(r"surrealdb_spark\.golden\b|"
                     r"from\s+(surrealdb_spark|\.+)\s+import\s+golden\b|"
                     r"from\s+\.+golden\b")
    hits = [f"{p.relative_to(pkg)}:{i}"
            for p in sorted(pkg.rglob("*.py")) if p.name != "golden.py"
            for i, line in enumerate(p.read_text().splitlines(), 1)
            if pat.search(line)]
    assert hits == []
