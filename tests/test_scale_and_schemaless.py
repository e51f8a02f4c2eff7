"""Salted joins, skew profiling and LIVE DIFF."""

from __future__ import annotations

import json

from pyspark.sql import Row
from pyspark.sql import functions as F

from surrealdb_spark.dml import Database, TableDef
from surrealdb_spark.operators.skew import salted_join, skew_profile
from surrealdb_spark.streaming.changefeed import live_select_diff, start_live


def test_salted_join_matches_plain_join(spark):
    left = spark.createDataFrame(
        [Row(k="hot" if i % 3 else f"cold{i}", v=i) for i in range(300)]
    )
    right = spark.createDataFrame([Row(k="hot", w=1), Row(k="cold3", w=2)])
    plain = {(r.k, r.v, r.w) for r in left.join(right, "k").collect()}
    salted = {(r.k, r.v, r.w) for r in salted_join(left, right, "k", salt=4).collect()}
    assert salted == plain and len(plain) == 201


def test_skew_profile(spark):
    df = spark.createDataFrame([Row(k="a")] * 90 + [Row(k="b")] * 10)
    top = skew_profile(df, "k", top=1).first()
    assert top.k == "a" and abs(top.share - 0.9) < 1e-9


def test_live_diff_patches(spark, tmp_path):
    db = Database(spark, str(tmp_path))
    db.define_table(TableDef("doc", id_col="id", changefeed=True))
    db.create(
        "doc",
        spark.createDataFrame([Row(id="doc:1", v=1)], "id string, v bigint"),
    )
    db.update("doc", {"v": F.lit(2)}, F.col("id") == "doc:1")
    q = start_live(live_select_diff(spark, f"{tmp_path}/doc"), "live_diff")
    try:
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT action, diff FROM live_diff ORDER BY versionstamp"
        ).collect()
    finally:
        q.stop()
    by_action = {r.action: json.loads(r.diff) for r in rows}
    assert {"op": "replace", "path": "/v", "value": 2} in by_action["UPDATE"]
    assert any(o["op"] == "add" and o["path"] == "/id" for o in by_action["CREATE"])
