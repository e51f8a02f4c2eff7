"""`values.local_frame`: driver-side rows reach the JVM as Arrow batches.

Contract under test:

- for every value kind a literal record can carry, `local_frame` gives the
  same schema and the same collected rows as `spark.createDataFrame` (kept
  here as the reference: it parallelizes a pickled Python RDD);
- the literal frame of a CREATE / INSERT / RELATE is planned as a
  `LocalTableScan`, never as an `ExistingRDD` re-read through Python
  workers;
- `local_frame` is the package's only way to build a local frame.
"""

import datetime as dt
import decimal
import re
from pathlib import Path

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from surrealdb_spark.dml import Database, TableDef
from surrealdb_spark.sql.statements import StatementRunner
from surrealdb_spark.values import NanoDatetime, local_frame

PKG = Path(__file__).resolve().parents[1] / "surrealdb_spark"

_NAIVE = dt.datetime(2024, 2, 29, 23, 59, 58, 123456)
_AWARE = dt.datetime(2024, 3, 1, 1, 2, 3, 4,
                     tzinfo=dt.timezone(dt.timedelta(hours=-5)))
_NANO = NanoDatetime.wrap(dt.datetime(2020, 1, 2, 3, 4, 5, 940183,
                                      tzinfo=dt.timezone.utc),
                          "2020-01-02T03:04:05.940183014Z")

# column -> values of three rows (None included where a record may omit it)
MATRIX = {
    "i": [1, -(2 ** 62), None],
    "f": [1.5, float("inf"), -0.0],
    "dec": [decimal.Decimal("1.25"),
            decimal.Decimal("0.1234567890123456785"),  # rounds half up
            decimal.Decimal("-12345678901234567890.5")],
    "s": ["a", "", "ünï"],
    "b": [True, False, None],
    "by": [b"\x00\xff", bytearray(b"xy"), None],
    "d": [dt.date(1969, 12, 31), dt.date(2024, 2, 29), None],
    "naive": [_NAIVE, None, dt.datetime(1900, 1, 1)],
    "aware": [_AWARE, _AWARE.astimezone(dt.timezone.utc), None],
    "nano": [_NANO, None, _NANO],
    "td": [dt.timedelta(days=-1, microseconds=5), dt.timedelta(0), None],
    "xs": [[1, 2], [], None],
    "m": [{"k": [1.0]}, {}, {"z": None}],
    "r": [Row(x=1, y="a"), None, Row(x=None, y="b")],
    "nest": [[Row(p=[{"q": dt.date(2020, 1, 1)}])], None, []],
}


def _rows(kind):
    names = sorted(MATRIX)
    for i in range(3):
        vals = {n: MATRIX[n][i] for n in names}
        yield vals if kind == "dict" else tuple(vals[n] for n in names)


@pytest.mark.parametrize("kind", ["dict", "tuple"])
def test_value_matrix_matches_create_dataframe(spark, kind):
    rows = list(_rows(kind))
    want = spark.createDataFrame(rows)
    got = local_frame(spark, rows)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_explicit_schema_null_column_and_zero_rows(spark):
    schema = T.StructType([T.StructField("id", T.StringType()),
                           T.StructField("v", T.NullType()),
                           T.StructField("t", T.TimestampType())])
    rows = [("t:1", None, _NAIVE), ("t:2", None, None)]
    want = spark.createDataFrame(rows, schema)
    got = local_frame(spark, rows, schema)
    assert got.schema == want.schema
    assert isinstance(got.schema["v"].dataType, T.NullType)
    assert got.collect() == want.collect()

    ddl = "`in` string, `out` string, n int"
    empty = local_frame(spark, [], ddl)
    assert empty.schema == spark.createDataFrame([], ddl).schema
    assert empty.collect() == []


def test_local_frame_plans_a_local_table_scan(spark):
    plan = _plan(local_frame(spark, list(_rows("tuple"))))
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_literal_writes_read_no_python_rdd(spark, tmp_path, monkeypatch):
    db = Database(spark, str(tmp_path))
    db.define_table(TableDef("hot"))
    db.define_table(TableDef("bought", is_edge=True))
    runner = StatementRunner(spark, db)
    frames = []
    real = StatementRunner._literal_rows

    def spy(self, *a, **k):
        out = real(self, *a, **k)
        frames.append(out)
        return out

    monkeypatch.setattr(StatementRunner, "_literal_rows", spy)
    runner.run("CREATE hot:1 SET n = 1, s = 'a'")
    runner.run("INSERT INTO hot [{id: hot:2, n: 2, s: 'b'}, "
               "{id: hot:3, n: 3, s: 'c'}]")
    runner.run("RELATE hot:1->bought->hot:2 SET qty = 4")
    assert len(frames) == 3
    for df in frames:
        plan = _plan(df)
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert sorted(r.n for r in db.table("hot").collect()) == [1, 2, 3]
    assert [(r["in"], r["out"], r.qty)
            for r in db.table("bought").collect()] == [("hot:1", "hot:2", 4)]


def test_only_local_frame_creates_data_frames():
    """One way to build a local frame: no module but `values.py` calls
    `createDataFrame(`, so no Python-RDD path is left in the package."""
    hits = [f"{p.relative_to(PKG)}:{i}"
            for p in sorted(PKG.rglob("*.py")) if p.name != "values.py"
            for i, line in enumerate(p.read_text().splitlines(), 1)
            if re.search(r"\bcreateDataFrame\(", line)]
    assert hits == []
