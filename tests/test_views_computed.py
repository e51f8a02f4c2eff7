"""`DEFINE TABLE … AS SELECT` views and COMPUTED fields through the
statement path: what a read returns, and what it costs a statement that
does not read them.

The expected values were recorded from the engine before table names
resolved on read (when every statement re-registered every table and
recompiled every view); they pin that the pull-style resolver changes no
result."""

from __future__ import annotations

import datetime as dt

import pytest

from surrealdb_spark.dml import Database
from surrealdb_spark.sql.statements import StatementRunner
from surrealdb_spark.values import strip_absent


@pytest.fixture()
def runner(spark, tmp_path):
    return StatementRunner(spark, Database(spark, str(tmp_path)))


def _rows(r, text):
    return [strip_absent(x.asDict(recursive=True))
            for x in r.run(text).collect()]


def _run_all(r, script):
    for line in script.strip().splitlines():
        r.run(line.strip())


def test_group_all_and_group_by_views(runner):
    r = runner
    _run_all(r, """
        DEFINE TABLE tot AS SELECT count() AS c, math::sum(v) AS s FROM src GROUP ALL
        DEFINE TABLE big AS SELECT count() AS c FROM src WHERE v > 100 GROUP ALL
        DEFINE TABLE bycat AS SELECT cat, count() AS c, math::sum(v) AS s FROM src GROUP BY cat
        DEFINE TABLE bynum AS SELECT n, count() AS c FROM src GROUP BY n
        DEFINE TABLE byday AS SELECT d, count() AS c FROM src GROUP BY d
        DEFINE TABLE ghost AS SELECT count() AS c FROM nothing GROUP ALL
    """)
    # a view over a source that does not exist yet reads empty
    assert _rows(r, "SELECT * FROM tot") == []
    assert _rows(r, "SELECT * FROM ghost") == []
    _run_all(r, """
        CREATE src:1 SET v = 1, cat = 'a', n = 1, d = d'2024-01-01T00:00:00Z'
        CREATE src:2 SET v = 2, cat = 'b', n = 2, d = d'2024-01-02T00:00:00Z'
        CREATE src:3 SET v = 3, cat = 'a', n = 1, d = d'2024-01-01T00:00:00Z'
    """)
    assert _rows(r, "SELECT * FROM tot") == [{"c": 3, "s": 6, "id": "tot:[]"}]
    # GROUP ALL over a fully filtered source: no record, not {c: 0}
    assert _rows(r, "SELECT * FROM big") == []
    assert _rows(r, "SELECT * FROM bycat") == [
        {"cat": "a", "c": 2, "s": 4, "id": "bycat:['a']"},
        {"cat": "b", "c": 1, "s": 2, "id": "bycat:['b']"}]
    assert _rows(r, "SELECT * FROM bynum") == [
        {"n": 1, "c": 2, "id": "bynum:[1]"},
        {"n": 2, "c": 1, "id": "bynum:[2]"}]
    assert _rows(r, "SELECT * FROM byday") == [
        {"d": dt.datetime(2024, 1, 1), "c": 2,
         "id": "byday:[d'2024-01-01T00:00:00Z']"},
        {"d": dt.datetime(2024, 1, 2), "c": 1,
         "id": "byday:[d'2024-01-02T00:00:00Z']"}]
    assert _rows(r, "SELECT * FROM ghost") == []

    r.run("UPDATE src:2 SET v = 20, cat = 'a'")
    assert _rows(r, "SELECT * FROM tot") == [{"c": 3, "s": 24, "id": "tot:[]"}]
    assert _rows(r, "SELECT * FROM bycat") == [
        {"cat": "a", "c": 3, "s": 24, "id": "bycat:['a']"}]
    r.run("UPSERT src:4 SET v = 4, cat = 'c', n = 3, "
          "d = d'2024-01-03T00:00:00Z'")
    assert _rows(r, "SELECT * FROM bycat") == [
        {"cat": "a", "c": 3, "s": 24, "id": "bycat:['a']"},
        {"cat": "c", "c": 1, "s": 4, "id": "bycat:['c']"}]
    r.run("DELETE src:1")
    after_delete = [{"cat": "a", "c": 2, "s": 23, "id": "bycat:['a']"},
                    {"cat": "c", "c": 1, "s": 4, "id": "bycat:['c']"}]
    assert _rows(r, "SELECT * FROM tot") == [{"c": 3, "s": 27, "id": "tot:[]"}]
    assert _rows(r, "SELECT * FROM bycat") == after_delete

    r.run("BEGIN")
    r.run("CREATE src:9 SET v = 900, cat = 'z', n = 9, "
          "d = d'2024-01-09T00:00:00Z'")
    assert _rows(r, "SELECT * FROM tot") == [
        {"c": 4, "s": 927, "id": "tot:[]"}]
    r.run("CANCEL")
    assert _rows(r, "SELECT * FROM tot") == [{"c": 3, "s": 27, "id": "tot:[]"}]
    assert _rows(r, "SELECT * FROM bycat") == after_delete

    # a view pins its source
    with pytest.raises(ValueError, match="view"):
        r.run("REMOVE TABLE src")
    assert _rows(r, "SELECT * FROM tot") == [{"c": 3, "s": 27, "id": "tot:[]"}]

    # an emptied source: the GROUP ALL view has no record
    r.run("DELETE src")
    assert _rows(r, "SELECT * FROM tot") == []
    assert _rows(r, "SELECT * FROM bycat") == []
    assert _rows(r, "SELECT * FROM bynum") == []


def test_view_events_see_before_and_after(runner):
    r = runner
    _run_all(r, """
        DEFINE TABLE tot AS SELECT count() AS c, math::sum(v) AS s FROM src GROUP ALL
        DEFINE TABLE bycat AS SELECT cat, count() AS c FROM src GROUP BY cat
        DEFINE EVENT te ON TABLE tot THEN (CREATE log SET ev = $event, b = $before.s, a = $after.s, k = 'tot')
        DEFINE EVENT be ON TABLE bycat THEN (CREATE log SET ev = $event, b = $before.c, a = $after.c, k = 'bycat', grp = $value.cat)
        CREATE src:1 SET v = 1, cat = 'a'
        CREATE src:2 SET v = 2, cat = 'b'
        UPDATE src:2 SET v = 5, cat = 'a'
        DELETE src
    """)
    got = [(x["ev"], x.get("b"), x.get("a"), x["k"], x.get("grp"))
           for x in _rows(r, "SELECT ev, b, a, k, grp FROM log "
                             "ORDER BY k, ev, a, b, grp")]
    assert got == [
        ("CREATE", None, 1, "bycat", "a"),
        ("CREATE", None, 1, "bycat", "b"),
        ("DELETE", 1, None, "bycat", "b"),
        ("DELETE", 2, None, "bycat", "a"),
        ("UPDATE", 1, 2, "bycat", "a"),
        ("CREATE", None, 1, "tot", None),
        ("DELETE", 6, None, "tot", None),
        ("UPDATE", 1, 3, "tot", None),
        ("UPDATE", 3, 6, "tot", None),
    ]


def test_computed_fields(runner):
    r = runner
    _run_all(r, """
        DEFINE FIELD posts ON person COMPUTED <~post
        CREATE person:a SET name = 'a'
        CREATE person:b SET name = 'b'
        DEFINE FIELD author ON post TYPE record<person> REFERENCE
        CREATE post:1 SET author = person:a, title = 'x'
        CREATE post:2 SET author = person:a, title = 'y'
    """)
    # `<~` reverse references
    assert _rows(r, "SELECT id, posts FROM person ORDER BY id") == [
        {"id": "person:a", "posts": ["post:1", "post:2"]},
        {"id": "person:b", "posts": []}]
    # a folded subquery body over another table, and a row expression
    r.run("DEFINE FIELD n ON other COMPUTED "
          "(SELECT VALUE count() FROM person GROUP ALL)[0]")
    assert _rows(r, "CREATE other:1 SET z = 1") == [
        {"id": "other:1", "z": 1, "n": 2}]
    r.run("DEFINE FIELD dbl ON other COMPUTED z * 2")
    assert _rows(r, "SELECT * FROM other") == [
        {"id": "other:1", "z": 1, "n": 2, "dbl": 2}]
    r.run("CREATE person:c SET name = 'c'")
    assert _rows(r, "SELECT * FROM other") == [
        {"id": "other:1", "z": 1, "n": 3, "dbl": 2}]


def test_computed_self_reference(runner):
    """A COMPUTED body that reads its own table sees the stored rows
    (the resolver serves the table without its computed fields while it
    computes them)."""
    r = runner
    r.run("CREATE other:1 SET z = 1")
    r.run("DEFINE FIELD selfn ON other COMPUTED "
          "(SELECT VALUE count() FROM other GROUP ALL)[0]")
    assert _rows(r, "CREATE other:2 SET z = 5") == [
        {"id": "other:2", "z": 5, "selfn": 2}]
    assert _rows(r, "SELECT * FROM other ORDER BY id") == [
        {"id": "other:1", "z": 1, "selfn": 2},
        {"id": "other:2", "z": 5, "selfn": 2}]


def test_computed_graph_lookup(runner):
    r = runner
    _run_all(r, """
        CREATE person:a SET name = 'a'
        CREATE person:b SET name = 'b'
        CREATE person:c SET name = 'c'
        RELATE person:a->knows->person:b
        RELATE person:a->knows->person:c
        DEFINE FIELD f1 ON person COMPUTED ->knows->person
        DEFINE FIELD f2 ON person COMPUTED ->knows->person.name
    """)
    # edge ids are random, and lookups list targets in edge-id order
    got = [{k: sorted(v) if isinstance(v, list) else v for k, v in x.items()}
           for x in _rows(r, "SELECT id, f1, f2 FROM person ORDER BY id")]
    assert got == [
        {"id": "person:a", "f1": ["person:b", "person:c"], "f2": ["b", "c"]},
        {"id": "person:b", "f1": [], "f2": []},
        {"id": "person:c", "f1": [], "f2": []}]


def test_block_sees_its_own_field(runner):
    r = runner
    assert _rows(r, "{ DEFINE FIELD tag ON blk COMPUTED 'tagged'; "
                    "CREATE blk:1 SET q = 1; SELECT * FROM blk }") == [
        {"id": "blk:1", "q": 1, "tag": "tagged"}]
    assert r.run("{ DEFINE FIELD w ON blk2 COMPUTED q + 100; "
                 "CREATE blk2:1 SET q = 1; "
                 "RETURN (SELECT VALUE w FROM blk2) }") == [101]


def test_wildcard_edges_and_index_metric(runner):
    """Catalog state outside table frames: `?` wildcard lookups find every
    RELATE-shaped table, and `<|k, ef|>` uses the HNSW index's DIST while
    the index exists."""
    r = runner
    _run_all(r, """
        CREATE person:a SET name = 'a'
        CREATE person:b SET name = 'b'
        RELATE person:a->knows->person:b
        RELATE person:a->likes->person:b
        CREATE vec:1 SET v = [0.0, 0.0]
        CREATE vec:2 SET v = [1.0, 2.0]
        CREATE vec:3 SET v = [3.0, 0.0]
        DEFINE INDEX ix ON vec FIELDS v HNSW DIMENSION 2 DIST MANHATTAN
    """)
    assert _rows(r, "SELECT id, ->?->person AS f FROM person ORDER BY id") == [
        {"id": "person:a", "f": ["person:b", "person:b"]},
        {"id": "person:b", "f": []}]
    (row,) = _rows(r, "SELECT id, ->? AS e FROM person:a")
    assert sorted(e.split(":")[0] for e in row["e"]) == ["knows", "likes"]
    knn = ("SELECT id, vector::distance::knn() AS d FROM vec "
           "WHERE v <|2, 10|> [0.0, 1.0] ORDER BY d")
    assert _rows(r, knn) == [{"id": "vec:1", "d": 1.0}, {"id": "vec:2", "d": 2.0}]
    r.run("REMOVE INDEX ix ON vec")
    assert _rows(r, knn) == [{"id": "vec:1", "d": 1.0},
                             {"id": "vec:2", "d": 2 ** 0.5}]


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _hot(spark, tmp, extra=()):
    r = StatementRunner(spark, Database(spark, tmp))
    r.run("INSERT INTO hot (SELECT * FROM $rows)",
          {"rows": [{"id": f"hot:{i}", "v": i} for i in range(3000)]})
    for text in extra:
        r.run(text)
    return r


def test_unread_views_and_computed_fields_cost_nothing(spark, tmp_path):
    """A point SELECT runs the same jobs whether or not views and COMPUTED
    fields exist on tables it does not read, and reading a view submits
    no job until its rows are asked for."""
    views = [f"DEFINE TABLE v{k} AS SELECT count() AS c, math::sum(v) AS s "
             "FROM hot GROUP ALL" for k in range(4)]
    other = ["CREATE other:1 SET z = 1",
             "DEFINE FIELD n ON other COMPUTED "
             "(SELECT VALUE count() FROM hot GROUP ALL)[0]"]
    bare = _hot(spark, str(tmp_path / "bare"))
    busy = _hot(spark, str(tmp_path / "busy"), views + other)
    point = "SELECT * FROM hot:5"
    counts = []
    for i, r in enumerate((bare, busy)):
        assert _rows(r, point) == [{"id": "hot:5", "v": 5}]
        counts.append(_jobs(spark, f"point{i}",
                            lambda: r.run(point).collect()))
    assert counts[0] == counts[1]
    assert _jobs(spark, "view_build", lambda: busy.run("SELECT * FROM v0")) == 0
    assert _rows(busy, "SELECT * FROM v0") == [
        {"c": 3000, "s": 4498500, "id": "v0:[]"}]
