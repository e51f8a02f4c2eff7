"""SurrealQL DML/DDL statement parsing + execution (sql/statements.py).

Parity targets: /root/reference/surrealdb/core/src/expr/statements/
{create,insert,update,delete,relate}.rs and language-tests fixtures.
"""

from __future__ import annotations

import pytest

from surrealdb_spark.dml import Database, TableDef
from surrealdb_spark.sql.statements import (
    CreateStmt,
    DeleteStmt,
    InsertStmt,
    StatementRunner,
    UpdateStmt,
    parse_statement,
)


def test_parse_shapes():
    c = parse_statement("CREATE person:1 SET name = 'Tobie', age = 30 + 4")
    assert isinstance(c, CreateStmt)
    assert (c.target.table, c.target.key) == ("person", 1)
    assert c.data[0] == "set" and c.data[1][0][0] == "name"

    i = parse_statement(
        "INSERT INTO person [{id: 2, name: 'Jaime'}, {id: 3, name: 'A'}]"
    )
    assert isinstance(i, InsertStmt) and len(i.rows) == 2

    iv = parse_statement("INSERT INTO person (id, name) VALUES (4, 'B'), (5, 'C')")
    assert len(iv.rows) == 2 and iv.rows[0][1][0][0] == "id"

    u = parse_statement(
        "UPDATE person SET age += 1 WHERE age > 18 RETURN DIFF"
    )
    assert isinstance(u, UpdateStmt) and u.return_ == "DIFF"
    assert u.data[1][0][1] == "+="

    d = parse_statement("DELETE person:9 RETURN BEFORE")
    assert isinstance(d, DeleteStmt) and d.target.key == 9

    sub = parse_statement("INSERT INTO hot (SELECT * FROM orders)")
    assert sub.select is not None

    content = parse_statement("UPDATE person:1 CONTENT {name: 'Z', age: 1}")
    assert content.data[0] == "content"


def test_dml_roundtrip(spark, tmp_path):
    db = Database(spark, str(tmp_path))
    db.define_table(TableDef("person"))
    r = StatementRunner(spark, db)

    out = r.run("CREATE person:1 SET name = 'Tobie', age = 30")
    assert out.count() == 1
    r.run("INSERT INTO person [{id: 2, name: 'Jaime', age: 28}, "
          "{id: 3, name: 'Alex', age: 17}]")
    assert db.table("person").count() == 3

    r.run("UPDATE person SET age += 1 WHERE age >= 28")
    rows = {x["id"]: x["age"] for x in db.table("person").collect()}
    assert rows["person:1"] == 31 and rows["person:2"] == 29 and rows["person:3"] == 17

    before = r.run("DELETE person WHERE age < 20 RETURN BEFORE")
    assert before.count() == 1
    assert db.table("person").count() == 2

    # UPSERT creates the missing record, updates the present one
    r.run("UPSERT person:9 SET name = 'New', age = 1")
    r.run("UPSERT person:9 SET age = 2")
    nine = [x for x in db.table("person").collect() if x["id"] == "person:9"]
    assert nine[0]["age"] == 2

    # SELECT reads back through the same runner
    got = r.run("SELECT name, age FROM person WHERE age > 1 ORDER BY name")
    assert [x["name"] for x in got.collect()] == ["Jaime", "New", "Tobie"]


def test_relate_and_define(spark, tmp_path):
    db = Database(spark, str(tmp_path))
    db.define_table(TableDef("person"))
    r = StatementRunner(spark, db)
    r.run("CREATE person:1 SET name = 'a'")
    r.run("CREATE person:2 SET name = 'b'")
    r.run("RELATE person:1->knows->person:2 SET since = 2020")
    edges = db.table("knows").collect()
    assert len(edges) == 1
    assert edges[0]["in"] == "person:1" and edges[0]["out"] == "person:2"
    assert edges[0]["since"] == 2020

    r.run("DEFINE TABLE animal")
    r.run("DEFINE FIELD legs ON animal TYPE int DEFAULT 4")
    r.run("CREATE animal:cat SET sound = 'meow'")
    cat = db.table("animal").collect()[0]
    assert cat["legs"] == 4

    # DEFINE FUNCTION — UDF-as-macro inlined at call sites
    r.run("DEFINE FUNCTION greet($who) { RETURN string::concat('hi ', $who) }")
    got = r.run("SELECT VALUE fn::greet(name) FROM person ORDER BY name")
    assert [x["value"] for x in got.collect()] == ["hi a", "hi b"]

    # typed params + LET bindings (define/function.rs: params carry kinds;
    # the body is a block whose LETs scope over RETURN)
    r.run("DEFINE FUNCTION fee($amount: float, $rate: option<float>) { "
          "LET $r = $rate ?? 0.1; RETURN math::round($amount * $r) }")
    one = r.run("SELECT VALUE fn::fee(200, 0.25) FROM person LIMIT 1")
    assert [x["value"] for x in one.collect()] == [50.0]
    dflt = r.run("SELECT VALUE fn::fee(200, NONE) FROM person LIMIT 1")
    assert [x["value"] for x in dflt.collect()] == [20.0]


def test_insert_on_duplicate(spark, tmp_path):
    db = Database(spark, str(tmp_path))
    db.define_table(TableDef("cnt"))
    r = StatementRunner(spark, db)
    r.run("INSERT INTO cnt {id: 'a', n: 1}")
    r.run("INSERT INTO cnt {id: 'a', n: 1} ON DUPLICATE KEY UPDATE n += 1")
    rows = db.table("cnt").collect()
    assert len(rows) == 1 and rows[0]["n"] == 2


def test_create_clash_errors(spark, tmp_path):
    from surrealdb_spark.dml import MutationError

    db = Database(spark, str(tmp_path))
    db.define_table(TableDef("t"))
    r = StatementRunner(spark, db)
    r.run("CREATE t:1 SET x = 1")
    with pytest.raises(MutationError):
        r.run("CREATE t:1 SET x = 2")


def test_permissions_enforced_in_select(spark, tmp_path):
    """PERMISSIONS FOR select WHERE ... filters rows at scan resolution
    (schema/mod.rs:42-47; exec/permission.rs) — pushdown-able predicate."""
    db = Database(spark, str(tmp_path))
    r = StatementRunner(spark, db)
    r.run("DEFINE TABLE doc PERMISSIONS FOR select WHERE owner = $auth.id")
    r.run("CREATE doc:1 SET owner = 'u1', body = 'a'")
    r.run("CREATE doc:2 SET owner = 'u2', body = 'b'")

    r.catalog.set_auth(auth={"id": "u1"})
    got = r.run("SELECT body FROM doc")
    assert [x["body"] for x in got.collect()] == ["a"]

    r.catalog.set_auth(auth={"id": "u2"})
    got = r.run("SELECT body FROM doc")
    assert [x["body"] for x in got.collect()] == ["b"]

    # PERMISSIONS NONE → deny-all
    r.run("DEFINE TABLE sealed PERMISSIONS NONE")
    r.run("CREATE sealed:1 SET x = 1")
    assert r.run("SELECT * FROM sealed").count() == 0


def test_define_index_kinds(spark, tmp_path):
    """DEFINE INDEX: UNIQUE enforced on writes, FULLTEXT/HNSW build real
    artifacts (catalog/schema/index.rs kinds)."""
    from surrealdb_spark.dml import MutationError

    db = Database(spark, str(tmp_path))
    r = StatementRunner(spark, db)
    r.run("DEFINE TABLE user")
    r.run("DEFINE INDEX user_email ON user FIELDS email UNIQUE")
    r.run("CREATE user:1 SET email = 'a@x.io'")
    with pytest.raises(MutationError):
        r.run("CREATE user:2 SET email = 'a@x.io'")
    r.run("CREATE user:3 SET email = 'b@x.io'")
    assert db.table("user").count() == 2

    # FULLTEXT with a custom analyzer builds a searchable index
    r.run("DEFINE TABLE post")
    r.run("CREATE post:1 SET body = 'running dogs run fast'")
    r.run("CREATE post:2 SET body = 'sleeping cats sleep'")
    r.run("DEFINE ANALYZER eng TOKENIZERS blank,punct "
          "FILTERS lowercase,snowball(english)")
    r.run("DEFINE INDEX post_body ON post FIELDS body FULLTEXT ANALYZER eng")
    idx = r.indexes["post_body"]
    hits = idx.search(["run"]).collect()  # stemmed: matches running+run
    assert [h["doc"] for h in hits] == ["post:1"]

    # HNSW (SRP-signed ANN artifact)
    r.run("DEFINE TABLE vec")
    r.run("INSERT INTO vec [{id: 1, v: [1.0, 0.0]}, {id: 2, v: [0.0, 1.0]}]")
    r.run("DEFINE INDEX vec_v ON vec FIELDS v HNSW DIMENSION 2")
    signed = r.indexes["vec_v"]
    assert set(signed.columns) == {"vec_id", "embedding", "__sig", "__mag"}
    assert signed.count() == 2


def test_statement_long_tail(spark, tmp_path):
    """REMOVE / ALTER / REBUILD INDEX / INFO FOR / DEFINE EVENT / DEFINE
    PARAM / DEFINE SEQUENCE (statements/{remove,alter}/, rebuild.rs,
    info.rs, define/{event,param,sequence}.rs)."""
    db = Database(spark, str(tmp_path))
    db.define_table(TableDef("person"))
    r = StatementRunner(spark, db)
    r.run("CREATE person:1 SET name = 'Ann', age = 30")

    # DEFINE PARAM binds into later statements
    r.run("DEFINE PARAM $adult VALUE 18")
    got = r.run("SELECT name FROM person WHERE age > $adult")
    assert got.count() == 1

    # DEFINE SEQUENCE registers a named counter
    r.run("DEFINE SEQUENCE ticket START 5")
    assert "ticket" in r.sequences

    # DEFINE EVENT fires on matching mutations
    db.define_table(TableDef("activity"))
    r.run(
        "DEFINE EVENT log_new ON TABLE person WHEN $event = 'CREATE' "
        "THEN (CREATE activity SET who = $after.name)"
    )
    r.run("CREATE person:2 SET name = 'Bob', age = 41")
    acts = db.table("activity").collect()
    assert [a["who"] for a in acts] == ["Bob"]

    # INFO FOR DB lists the objects
    dbinfo = r.run("INFO FOR DB")
    info = {("table", n) for n in dbinfo["tables"]} | {
        ("param", n) for n in dbinfo["params"]} | {
        ("sequence", n) for n in dbinfo["sequences"]}
    assert ("table", "person") in info
    assert ("param", "adult") in info
    assert ("sequence", "ticket") in info

    # DEFINE + REBUILD + REMOVE INDEX
    r.run("DEFINE INDEX uniq_name ON TABLE person FIELDS name UNIQUE")
    assert ["name"] in db.tables["person"].unique_indexes
    r.run("REBUILD INDEX uniq_name ON person")
    r.run("REMOVE INDEX uniq_name ON person")
    assert ["name"] not in db.tables["person"].unique_indexes
    r.run("REMOVE INDEX IF EXISTS uniq_name ON person")  # no-op, no raise
    with pytest.raises(KeyError):
        r.run("REMOVE INDEX uniq_name ON person")

    # INFO FOR TABLE shows the event; REMOVE EVENT detaches the hook
    ti = r.run("INFO FOR TABLE person")
    tinfo = {("field", n) for n in ti["fields"]} | {
        ("index", n) for n in ti["indexes"]} | {
        ("event", n) for n in ti["events"]}
    assert ("event", "log_new") in tinfo
    r.run("REMOVE EVENT log_new ON person")
    r.run("CREATE person:3 SET name = 'Cy', age = 9")
    assert db.table("activity").count() == 1  # unchanged

    # ALTER TABLE permissions deny-all blocks SELECT resolution
    r.run("ALTER TABLE person PERMISSIONS NONE")
    denied = r.run("SELECT name FROM person")
    assert denied.count() == 0

    # REMOVE PARAM / TABLE
    r.run("REMOVE PARAM $adult")
    with pytest.raises(KeyError):
        r.run("REMOVE PARAM $adult")
    r.run("REMOVE TABLE activity")
    assert "activity" not in db.tables


def test_select_version_clause(spark, tmp_path):
    """SELECT ... VERSION d'<ts>' — snapshot reads as parsed query text
    (exec/operators/version_scope.rs:25)."""
    import datetime as dt
    import time

    db = Database(spark, str(tmp_path))
    db.define_table(TableDef("person", versioned=True))
    r = StatementRunner(spark, db)
    r.run("CREATE person:1 SET name = 'Ann', age = 30")
    time.sleep(0.05)
    mark = dt.datetime.now(dt.timezone.utc)
    time.sleep(0.05)
    r.run("UPDATE person SET age = 99")

    live = r.run("SELECT age FROM person").collect()
    assert [x["age"] for x in live] == [99]
    iso = mark.strftime("%Y-%m-%dT%H:%M:%S.%f") + "Z"
    old = r.run(f"SELECT age FROM person VERSION d'{iso}'").collect()
    assert [x["age"] for x in old] == [30]
    # live reads are unaffected afterwards
    assert [x["age"] for x in r.run("SELECT age FROM person").collect()] == [99]
