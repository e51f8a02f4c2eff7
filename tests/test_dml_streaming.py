"""DML batch semantics + changefeed/LIVE SELECT streaming tests."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from surrealdb_spark.dml import Database, FieldDef, MutationError, TableDef, diff_patch
from surrealdb_spark.streaming.changefeed import (
    live_select,
    show_changes,
    start_live,
)


@pytest.fixture()
def db(spark, tmp_path):
    d = Database(spark, str(tmp_path))
    d.define_table(
        TableDef(
            "person",
            id_col="id",
            fields=[
                FieldDef("age", dtype="bigint", assert_fn=lambda c: c >= 0),
                FieldDef("active", dtype="boolean", default=lambda: F.lit(True)),
            ],
            changefeed=True,
        )
    )
    return d


def _people(spark, rows):
    return spark.createDataFrame(
        [Row(**r) for r in rows], schema="id string, age bigint, active boolean"
    )


def test_create_and_collision(spark, db):
    db.create("person", _people(spark, [{"id": "person:1", "age": 30, "active": None}]))
    got = db.table("person").collect()
    assert got[0].active is True  # DEFAULT applied
    with pytest.raises(MutationError, match="already exist"):
        db.create("person", _people(spark, [{"id": "person:1", "age": 9, "active": None}]))


def test_assert_rejects(spark, db):
    with pytest.raises(MutationError, match="ASSERT failed"):
        db.create("person", _people(spark, [{"id": "person:2", "age": -5, "active": None}]))


def test_update_returns_and_diff(spark, db):
    db.create(
        "person",
        _people(
            spark,
            [
                {"id": "person:1", "age": 30, "active": None},
                {"id": "person:2", "age": 40, "active": None},
            ],
        ),
    )
    after = db.update(
        "person", {"age": F.col("age") + 1}, F.col("id") == "person:1", return_="AFTER"
    ).collect()
    assert after[0].age == 31
    rows = {r.id: r.age for r in db.table("person").collect()}
    assert rows == {"person:1": 31, "person:2": 40}
    diff = db.update(
        "person", {"age": F.lit(99)}, F.col("id") == "person:2", return_="DIFF"
    ).collect()
    assert '"age":99' in diff[0].after.replace(" ", "")


def test_upsert_insert_delete(spark, db):
    db.create("person", _people(spark, [{"id": "person:1", "age": 1, "active": None}]))
    db.upsert(
        "person",
        _people(
            spark,
            [
                {"id": "person:1", "age": 10, "active": None},
                {"id": "person:3", "age": 3, "active": None},
            ],
        ),
    )
    rows = {r.id: r.age for r in db.table("person").collect()}
    assert rows == {"person:1": 10, "person:3": 3}
    db.insert(
        "person",
        _people(spark, [{"id": "person:1", "age": 0, "active": None}]),
        on_duplicate={"age": F.col("age") + 100},
    )
    rows = {r.id: r.age for r in db.table("person").collect()}
    assert rows["person:1"] == 110  # ON DUPLICATE KEY UPDATE
    gone = db.delete("person", F.col("age") > 50, return_="BEFORE").collect()
    assert {r.id for r in gone} == {"person:1"}
    assert {r.id for r in db.table("person").collect()} == {"person:3"}


def test_relate_and_events(spark, db):
    seen = []
    db.define_table(TableDef("knows", id_col="id", events=[lambda a, df, before: seen.append(a)]))
    edges = spark.createDataFrame([Row(**{"in": "person:1", "out": "person:2"})])
    db.relate("knows", edges)
    got = db.table("knows").collect()[0]
    assert got["in"] == "person:1" and got.out == "person:2" and got.id.startswith("knows:")
    assert seen == ["CREATE"]


def test_changefeed_and_live_select(spark, db, tmp_path):
    db.create("person", _people(spark, [{"id": "person:1", "age": 5, "active": None}]))
    db.update("person", {"age": F.lit(6)}, F.col("id") == "person:1")
    db.delete("person")
    root = f"{tmp_path}/person"
    changes = show_changes(spark, root).collect()
    assert [c.action for c in changes] == ["CREATE", "UPDATE", "DELETE"]

    stream = live_select(
        spark,
        root,
        where=F.col("age") >= 6,
        fields=["age"],
        record_schema="id string, age bigint, active boolean",
    )
    q = start_live(stream, "live_person")
    try:
        q.processAllAvailable()
        notes = spark.sql("SELECT action, age FROM live_person ORDER BY age").collect()
        # CREATE(age=5) filtered out; UPDATE and DELETE (last-known age 6) pass.
        # both rows carry age 6 — the age sort ties, so compare as a set
        assert sorted(n.action for n in notes) == ["DELETE", "UPDATE"]
    finally:
        q.stop()


def test_diff_patch_roundtrip():
    ops = diff_patch({"a": 1, "b": 2}, {"a": 1, "b": 3, "c": 4})
    assert {(o["op"], o["path"]) for o in ops} == {("replace", "/b"), ("add", "/c")}


def test_version_time_travel(spark, tmp_path):
    import time as _t

    db = Database(spark, str(tmp_path))
    db.define_table(TableDef("v", id_col="id", versioned=True))
    db.create("v", spark.createDataFrame([Row(id="v:1", x=1)], "id string, x bigint"))
    t1 = int(_t.time() * 1000)
    _t.sleep(0.01)
    db.update("v", {"x": F.lit(2)})
    t2 = int(_t.time() * 1000)
    _t.sleep(0.01)
    db.delete("v")
    assert db.table_at("v", t1).collect()[0].x == 1   # before the update
    assert db.table_at("v", t2).collect()[0].x == 2   # after update, before delete


def test_live_show_kill_statements(spark, db, tmp_path):
    """LIVE SELECT / SHOW CHANGES / KILL as parsed SurrealQL statements
    (live.rs:17-30, show.rs:10-23, kill.rs)."""
    from surrealdb_spark.sql.statements import StatementRunner

    r = StatementRunner(spark, db)
    db.create("person", _people(spark, [{"id": "person:1", "age": 5, "active": None}]))

    live = r.run("LIVE SELECT age FROM person WHERE age >= 6")
    uid = live.first()["id"]
    assert uid in r.live_queries
    q = r.live_queries[uid]

    db.update("person", {"age": F.lit(6)}, F.col("id") == "person:1")
    q.processAllAvailable()
    qname = "live_" + uid.replace("-", "")
    notes = spark.sql(f"SELECT action, age FROM {qname}").collect()
    assert [n.action for n in notes] == ["UPDATE"]  # CREATE(age=5) filtered

    changes = r.run("SHOW CHANGES FOR TABLE person SINCE 0 LIMIT 10").collect()
    assert [c.action for c in changes] == ["CREATE", "UPDATE"]

    r.run("KILL $id", params={"id": uid})
    assert uid not in r.live_queries and not q.isActive
    with pytest.raises(KeyError):
        r.run("KILL $id", params={"id": uid})
