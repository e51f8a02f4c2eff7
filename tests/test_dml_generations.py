"""Generation-dir table rewrites (r13 optimization).

`Database._overwrite` writes each mutation's result into a fresh
``data_g<N>`` dir instead of checkpointing the whole table and truncating
the dir in place.  Contract under test:

- the current-generation pointer is derived from the dirs on disk (so
  transaction copytree backup/restore and REMOVE TABLE rmtree carry it);
- a lazy reader taken BEFORE a mutation still sees the old rows after it
  (read stability — the property the old full-table localCheckpoint
  existed to protect);
- repeated mutations keep advancing generations and reading back correctly;
- a generation without its commit marker (a killed write) is never read;
- `Database.table` resolves each generation once: repeated reads of an
  unchanged table run no parquet schema job, and every kind of change
  (append, rewrite, rollback, drop + re-create, view upkeep) is seen.
"""

import os
import uuid

import pytest
from pyspark.sql import functions as F

from surrealdb_spark import get_spark
from surrealdb_spark.dml import Database, TableDef
from surrealdb_spark.sql.statements import StatementRunner


@pytest.fixture(scope="module")
def spark():
    return get_spark("test_dml_generations")


def _db(spark, tmp_path):
    db = Database(spark, str(tmp_path))
    db.define_table(TableDef("t"))
    db.create(
        "t",
        spark.createDataFrame(
            [("t:1", 1), ("t:2", 2), ("t:3", 3)], "id string, v int"
        ),
    )
    return db


def test_reader_taken_before_mutation_is_stable(spark, tmp_path):
    db = _db(spark, tmp_path)
    snapshot = db.table("t")  # lazy plan over the pre-mutation generation
    db.update("t", {"v": F.lit(99)}, F.col("id") == "t:1")
    assert sorted(r.v for r in snapshot.collect()) == [1, 2, 3]
    assert sorted(r.v for r in db.table("t").collect()) == [2, 3, 99]


def test_generations_advance_and_read_back(spark, tmp_path):
    db = _db(spark, tmp_path)
    assert db._data("t").endswith("/data")  # create() appends in place
    db.update("t", {"v": F.col("v") + 10})
    g1 = db._data("t")
    assert g1.endswith("data_g1")
    db.delete("t", F.col("v") == 12)
    g2 = db._data("t")
    assert g2.endswith("data_g2")
    assert sorted(r.v for r in db.table("t").collect()) == [11, 13]
    # both old generations still on disk (readers may hold plans on them)
    base = os.path.dirname(g2)
    assert os.path.isdir(f"{base}/data") and os.path.isdir(g1)


def test_remove_and_redefine_resets_generations(spark, tmp_path):
    import shutil

    db = _db(spark, tmp_path)
    db.update("t", {"v": F.lit(0)})
    assert db._data("t").endswith("data_g1")
    shutil.rmtree(f"{db.root}/t")  # REMOVE TABLE path (statements.py)
    db.define_table(TableDef("t"))
    assert db._data("t").endswith("/data")
    assert not db._exists("t")
    db.create("t", spark.createDataFrame([("t:9", 9)], "id string, v int"))
    assert [r.v for r in db.table("t").collect()] == [9]


def test_upsert_and_insert_roundtrip_across_generations(spark, tmp_path):
    db = _db(spark, tmp_path)
    db.upsert(
        "t", spark.createDataFrame([("t:2", 20), ("t:4", 40)], "id string, v int")
    )
    assert dict((r.id, r.v) for r in db.table("t").collect()) == {
        "t:1": 1, "t:2": 20, "t:3": 3, "t:4": 40,
    }
    db.insert(
        "t",
        spark.createDataFrame([("t:5", 5)], "id string, v int"),
    )
    assert sorted(r.v for r in db.table("t").collect()) == [1, 3, 5, 20, 40]


def test_partial_generation_is_ignored(spark, tmp_path):
    db = _db(spark, tmp_path)
    db.update("t", {"v": F.col("v") + 10})
    assert db._data("t").endswith("data_g1")
    # a killed write: part files on disk, no commit marker
    partial = f"{db.root}/t/data_g2"
    os.makedirs(partial)
    db.table("t").limit(1).write.parquet(f"{partial}/x")
    for f in os.listdir(f"{partial}/x"):
        os.rename(f"{partial}/x/{f}", f"{partial}/{f}")
    os.rmdir(f"{partial}/x")
    os.remove(f"{partial}/_SUCCESS")
    assert db._data("t").endswith("data_g1")
    assert sorted(r.v for r in db.table("t").collect()) == [11, 12, 13]
    # the next mutation skips past the leftover instead of reusing it
    db.delete("t", F.col("v") == 11)
    assert db._data("t").endswith("data_g3")
    assert sorted(r.v for r in db.table("t").collect()) == [12, 13]


def _schema_jobs(spark, fn) -> int:
    """Number of parquet schema-inference jobs (`parquet at ...`) that
    `fn()` runs, counted per job group through the status tracker."""
    sc = spark.sparkContext
    group = f"schema-probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    n = 0
    for jid in tracker.getJobIdsForGroup(group):
        stages = [tracker.getStageInfo(s) for s in tracker.getJobInfo(jid).stageIds]
        n += any(st is not None and st.name.startswith("parquet at")
                 for st in stages)
    return n


def test_unchanged_table_resolves_once(spark, tmp_path):
    db = Database(spark, str(tmp_path))
    r = StatementRunner(spark, db)
    r.run("CREATE t:1 SET v = 1")
    r.run("CREATE t:2 SET v = 2")
    # the probe sees the job a bare read runs
    assert _schema_jobs(spark, lambda: spark.read.parquet(db._data("t")))
    q = "SELECT v FROM t WHERE v > 0 ORDER BY v"
    _schema_jobs(spark, lambda: r.run(q).collect())
    for _ in range(3):
        assert _schema_jobs(spark, lambda: r.run(q).collect()) == 0
    assert db.table("t") is db.table("t")
    # a new generation resolves from its footer, still without a job
    r.run("UPDATE t SET v = v + 1")
    assert _schema_jobs(spark, lambda: db.table("t")) == 0
    assert [row.v for row in r.run(q).collect()] == [2, 3]


def _vs(r, q="SELECT v FROM t ORDER BY v"):
    return [row.v for row in r.run(q).collect()]


def test_reads_see_every_change(spark, tmp_path):
    db = Database(spark, str(tmp_path))
    r = StatementRunner(spark, db)
    r.run("CREATE t:1 SET v = 1")
    assert _vs(r) == [1]
    r.run("CREATE t:2 SET v = 2")  # in-place append into the same dir
    assert db._data("t").endswith("/data")
    assert _vs(r) == [1, 2]
    r.run("UPDATE t SET v = v + 10 WHERE v = 1")
    assert _vs(r) == [2, 11]
    r.run("UPSERT t:3 SET v = 3")
    assert _vs(r) == [2, 3, 11]
    r.run("DELETE t WHERE v = 2")
    assert _vs(r) == [3, 11]
    for stmt in ("BEGIN", "CREATE t:4 SET v = 4", "UPDATE t SET v = 0"):
        r.run(stmt)
    assert _vs(r) == [0, 0, 0]
    r.run("CANCEL")
    assert _vs(r) == [3, 11]
    r.run("REMOVE TABLE t")
    r.run("CREATE t:9 SET v = 9")
    assert _vs(r) == [9]
    r.run("DEFINE TABLE t_total AS SELECT math::sum(v) AS total FROM t "
          "GROUP ALL")
    assert r.run("SELECT total FROM t_total").first().total == 9
    db.create("t", spark.createDataFrame([("t:5", 5)], "id string, v bigint"))
    assert r.run("SELECT total FROM t_total").first().total == 14
    assert _vs(r) == [5, 9]


def test_changefeed_table_records_changes(spark, tmp_path):
    import json

    r = StatementRunner(spark, Database(spark, str(tmp_path)))
    r.run("DEFINE TABLE feed CHANGEFEED 1h")
    r.run("CREATE feed:1 SET v = 1")
    rows = r.run("SHOW CHANGES FOR TABLE feed SINCE 0").collect()
    assert [(c.action, c.record_id) for c in rows] == [("CREATE", "feed:1")]
    assert json.loads(rows[0].after)["v"] == 1
    # ALTER TABLE turns the feed off and on again
    r.run("ALTER TABLE feed DROP CHANGEFEED")
    r.run("CREATE feed:2 SET v = 2")
    r.run("ALTER TABLE feed CHANGEFEED 1h")
    r.run("CREATE feed:3 SET v = 3")
    rows = r.run("SHOW CHANGES FOR TABLE feed SINCE 0").collect()
    assert sorted(c.record_id for c in rows) == ["feed:1", "feed:3"]


def test_insert_literals_after_insert_select(spark, tmp_path):
    r = StatementRunner(spark, Database(spark, str(tmp_path)))
    r.run("CREATE src:1 SET a = 1, b = 'x'")
    r.run("CREATE src:2 SET a = 2, b = 'y'")
    r.run("INSERT INTO hot (SELECT id, a, b FROM src)")
    r.run("INSERT INTO hot [{id: hot:9, a: 9, b: 'z'}]")
    rows = r.run("SELECT a, b FROM hot ORDER BY a").collect()
    assert [(x.a, x.b) for x in rows] == [(1, "x"), (2, "y"), (9, "z")]
