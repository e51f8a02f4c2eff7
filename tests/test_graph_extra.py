"""Direction variants + range values — paths the suite oracles don't hit.

The recursion tests run on both traversal plans through the ``plan``
fixture (tests/conftest.py): ``local`` (the one-job in-process expansion
every fixture-sized graph takes) and ``distributed`` (the per-level round
loop, forced by dropping the edge budget to 0).
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from surrealdb_spark import suite
from surrealdb_spark.dml import Database
from surrealdb_spark.expr.operators import range_contains, range_struct
from surrealdb_spark.operators import lookup
from surrealdb_spark.operators.graph import graph_hop, recurse, recurse_paths
from surrealdb_spark.sql.statements import StatementRunner
from surrealdb_spark.testing import compare_frames, duckdb_run


def _edges(spark):
    rows = [Row(**{"in": "n:1", "out": "n:2"}), Row(**{"in": "n:2", "out": "n:3"})]
    return spark.createDataFrame(rows)


def test_graph_hop_both_directions(spark):
    start = spark.createDataFrame([Row(id="n:2")])
    both = {r.nbr for r in graph_hop(start, _edges(spark), "both").collect()}
    assert both == {"n:1", "n:3"}  # out to n:3, in from n:1


def test_recurse_inbound(spark, plan):
    start = spark.createDataFrame([Row(id="n:3")])
    got = {(r.node, r.depth) for r in recurse(start, _edges(spark), 1, 3, "in").collect()}
    assert got == {("n:2", 1), ("n:1", 2)}


def test_recurse_cycle_terminates(spark, plan):
    rows = [Row(**{"in": "c:1", "out": "c:2"}), Row(**{"in": "c:2", "out": "c:1"})]
    edges = spark.createDataFrame(rows)
    start = spark.createDataFrame([Row(id="c:1")])
    got = {(r.node, r.depth) for r in recurse(start, edges, 1, 10).collect()}
    # visited set stops the loop: c:2 at depth 1; c:1 never re-emitted
    assert got == {("c:2", 1)}


def test_recurse_paths_cycle_terminates(spark, plan):
    # a lasso: l:0 -> l:1 -> l:2 -> l:1, a cycle that does not pass the start
    rows = [Row(**{"in": f"l:{a}", "out": f"l:{b}"}) for a, b in [(0, 1), (1, 2), (2, 1)]]
    edges = spark.createDataFrame(rows)
    start = spark.createDataFrame([Row(id="l:0")])
    got = sorted(tuple(r) for r in recurse_paths(start, edges, 1, 10).collect())
    # a path never revisits its own nodes: l:0->l:1->l:2->l:1 is cut
    assert got == [("l:0", "l:1", 1, "l:0->l:1"), ("l:0", "l:2", 2, "l:0->l:1->l:2")]


def test_duplicate_starts(spark, plan):
    start = spark.createDataFrame([Row(id="n:1"), Row(id="n:1")])
    nodes = sorted(tuple(r) for r in recurse(start, _edges(spark), 1, 2).collect())
    assert nodes == [("n:1", "n:2", 1), ("n:1", "n:3", 2)]  # starts dedup
    paths = sorted(tuple(r) for r in recurse_paths(start, _edges(spark), 2, 2).collect())
    assert paths == [("n:1", "n:3", 2, "n:1->n:2->n:3")] * 2  # one set per row


@pytest.mark.parametrize(
    "name", ["graph_recurse_ancestors", "graph_recurse_paths", "graph_shortest_to_root"]
)
def test_recursion_oracles(spark, sf_dir, plan, name):
    got = suite.all_queries()[name](spark, sf_dir).toPandas()
    compare_frames(name, got, duckdb_run(suite.all_oracles()[name], sf_dir))


CHAIN = 300


@pytest.fixture(scope="module")
def chain(spark, tmp_path_factory):
    """n:0 -> n:1 -> ... -> n:300 as `nxt` edges and as `parent` links, and
    the cycle c:1 <-> c:2 as `cyc` edges and as `parent` links."""
    r = StatementRunner(spark, Database(spark, str(tmp_path_factory.mktemp("chain"))))
    r.run("INSERT INTO n [" + ", ".join(
        f"{{id: n:{i}, parent: n:{i + 1}}}" for i in range(CHAIN)) + f", {{id: n:{CHAIN}}}]")
    r.run("INSERT RELATION INTO nxt [" + ", ".join(
        f"{{id: nxt:{i}, in: n:{i}, out: n:{i + 1}}}" for i in range(CHAIN)) + "]")
    r.run("INSERT INTO c [{id: c:1, parent: c:2}, {id: c:2, parent: c:1}]")
    r.run("INSERT RELATION INTO cyc [{id: cyc:1, in: c:1, out: c:2}, {id: cyc:2, in: c:2, out: c:1}]")
    return r


@pytest.fixture
def cap(plan, monkeypatch):
    """The recursion limit the chain overruns: the reference's 256 on the
    local plan.  The distributed plan runs a round of Spark jobs per level
    (~0.2 s each), so there it is lowered to 12: the same code path, and
    the same 300-node chain still overruns it."""
    if plan == "distributed":
        monkeypatch.setattr(lookup, "RECURSION_LIMIT", 12)
    return lookup.RECURSION_LIMIT


@pytest.mark.parametrize("step", ["(->nxt->n)", ".parent"])
def test_unbounded_recursion_limit(chain, cap, step):
    """`{..}` past the limit raises for edge steps as for link steps."""
    with pytest.raises(Exception, match=re.escape(f"Exceeded the idiom recursion limit of {cap}.")):
        chain.run(f"SELECT id, id.{{..}}{step} AS a FROM n:0").collect()


def test_unbounded_collect_stops_at_limit(chain, cap):
    got = chain.run("SELECT id, id.{..+collect}(->nxt->n) AS a FROM n:0").collect()
    assert got[0].a == [f"n:{i}" for i in range(1, cap + 1)]


@pytest.mark.parametrize("step, alone", [("(->cyc->c)", ["c:2"]), (".parent", "c:2")])
def test_cycle_under_timeout(chain, plan, step, alone):
    """Plain `{..}` around a cycle raises the TIMEOUT error; without a
    TIMEOUT the cycle rule ends the path."""
    with pytest.raises(Exception, match="exceeded the timeout"):
        chain.run(f"SELECT id, id.{{..}}{step} AS a FROM c:1 TIMEOUT 5s").collect()
    assert chain.run(f"SELECT id, id.{{..}}{step} AS a FROM c:1").collect()[0].a == alone


def test_rows_answer_alone(chain, plan):
    """Each row of a multi-root SELECT gets its single-root answer."""
    q = ("SELECT id, id.{1..5}(->nxt->n) AS last, id.{1..5+collect}(->nxt->n) AS col, "
         "id.{1..5+path}(->nxt->n) AS path FROM n:0, n:298")
    got = {r.id: (r.last, r.col, r.path) for r in chain.run(q).collect()}
    first5 = [f"n:{i}" for i in range(1, 6)]
    assert got == {"n:0": (["n:5"], first5, [first5]),
                   "n:298": (["n:300"], ["n:299", "n:300"], [["n:299", "n:300"]])}
    # neither row reaches n:3 within 3 hops: each gets its own frontier paths
    q = "SELECT id, id.{..3+shortest=n:3}(->nxt->n) AS s FROM n:297, n:298"
    got = {r.id: r.s for r in chain.run(q).collect()}
    assert got == {"n:297": [["n:298", "n:299", "n:300"]], "n:298": [["n:299", "n:300"]]}
    # a column holds one type: next to a row that reaches the target (a flat
    # path), a row that does not is NONE instead of its nested frontier paths
    q = "SELECT id, id.{..3+shortest=n:3}(->nxt->n) AS s FROM n:0, n:298"
    got = {r.id: r.s for r in chain.run(q).collect()}
    assert got == {"n:0": ["n:1", "n:2", "n:3"], "n:298": None}


def test_range_values(spark):
    df = spark.range(1).select(
        range_contains(range_struct(F.lit(1), F.lit(5)), F.lit(5)).alias("excl"),
        range_contains(range_struct(F.lit(1), F.lit(5), end_incl=True), F.lit(5)).alias("incl"),
        range_contains(range_struct(F.lit(1), F.lit(5)), F.lit(1)).alias("lo"),
    )
    row = df.first()
    assert (row.excl, row.incl, row.lo) == (False, True, True)


def test_lookup_projection_filters_sources_first(spark, tmp_path):
    """A lookup-free WHERE filters the source before the lookup is
    attached, so the lookup only expands the matching records."""
    r = StatementRunner(spark, Database(spark, str(tmp_path)))
    for i in range(1, 5):
        r.run(f"CREATE person:{i} SET n = {i}")
    for a, b in [(1, 2), (2, 3), (2, 4), (3, 1)]:
        r.run(f"RELATE person:{a}->knows->person:{b}")
    lookup = "SELECT id, ->knows->person AS k FROM person"
    df = r.run(lookup + " WHERE n = 2")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # one filter over the outer side, one inside the lookup branch
    filters = [ln for ln in plan.splitlines()
               if re.search(r"Filter .*\bn#\d+L? <=> 2\b", ln)]
    assert len(filters) == 2, plan
    got = [(row.id, sorted(row.k)) for row in df.collect()]
    want = [(row.id, sorted(row.k)) for row in r.run(lookup).collect()
            if row.id == "person:2"]
    assert got == want == [("person:2", ["person:3", "person:4"])]
