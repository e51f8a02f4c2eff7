"""SurrealQL `{min..max}` recursion forms, on both traversal plans.

Every kind (default, +collect, +path, +shortest=, +inclusive) × step shape
(`->e->t`, the two-step `->a->x->b->y`, the record link `.parent`, the
array link `.kids`) × bound (`{2}`, `{1..3}`, `{..}`), plus the trailing
`.field` and `.{a, b}` forms.  Each shape runs as ONE SELECT over two
roots, and every row must equal that root's single-root answer: the
values in EXPECTED, one single-root SELECT per root.  The two-step +path
and +shortest values keep the intermediate `x` records, as the
single-root answers do.
"""

from __future__ import annotations

import pytest

from surrealdb_spark.dml import Database
from surrealdb_spark.sql.statements import StatementRunner


def _rows(tb, rows):
    return f"INSERT INTO {tb} [" + ", ".join(rows) + "]"


def _edges(tb, pairs):
    return f"INSERT RELATION INTO {tb} [" + ", ".join(
        f"{{id: {tb}:{k}, in: {a}, out: {b}}}" for k, (a, b) in enumerate(pairs, 1)) + "]"


FIXTURE = [
    # t:1 -> t:2|t:3 -> t:4 -> t:5 -> t:2 (a cycle through t:2)
    _rows("t", [f"{{id: t:{i}, name: 'n{i}', v: {i * 10}}}" for i in range(1, 7)]),
    _edges("e", [("t:1", "t:2"), ("t:1", "t:3"), ("t:2", "t:4"), ("t:3", "t:4"),
                 ("t:4", "t:5"), ("t:5", "t:2")]),
    # y:1 -a-> x:1 -b-> y:2 -a-> x:2 -b-> y:3, and y:1 -a-> x:3 -b-> y:3
    _rows("y", [f"{{id: y:{i}, name: 'y{i}'}}" for i in range(1, 4)]),
    _rows("x", [f"{{id: x:{i}}}" for i in range(1, 4)]),
    _edges("a", [("y:1", "x:1"), ("y:2", "x:2"), ("y:1", "x:3")]),
    _edges("b", [("x:1", "y:2"), ("x:2", "y:3"), ("x:3", "y:3")]),
    # p:1 -> p:2 -> p:3 -> p:4
    _rows("p", ["{id: p:1, name: 'p1', parent: p:2}", "{id: p:2, name: 'p2', parent: p:3}",
                "{id: p:3, name: 'p3', parent: p:4}", "{id: p:4, name: 'p4'}"]),
    # k:1 -> [k:2, k:3]; k:2 -> [k:4]; k:3 -> [k:4, k:5]; k:5 -> [k:1]
    _rows("k", ["{id: k:1, name: 'k1', kids: [k:2, k:3]}", "{id: k:2, name: 'k2', kids: [k:4]}",
                "{id: k:3, name: 'k3', kids: [k:4, k:5]}", "{id: k:4, name: 'k4', kids: []}",
                "{id: k:5, name: 'k5', kids: [k:1]}"]),
]

# shape -> (table, step, +shortest target, roots, trailing forms)
SHAPES = {
    "edge": ("t", "(->e->t)", "t:4", ["t:1", "t:3"],
             ["id.{1..3}(->e->t).name", "id.{..+collect}(->e->t).{name, v}",
              "id.{..+path}(->e->t).name"]),
    "pair": ("y", "(->a->x->b->y)", "y:3", ["y:1", "y:2"], []),
    "link": ("p", ".parent", "p:3", ["p:1", "p:3"], ["id.{1..3}(.parent).name"]),
    "array": ("k", ".kids", "k:4", ["k:1", "k:3"], ["id.{..+collect}(.kids).{name}"]),
}
BOUNDS = ["{2", "{1..3", "{.."]
KINDS = ["", "+collect", "+path", "+shortest={tgt}", "+inclusive"]


def fields(shape: str) -> list[str]:
    """The SELECT's recursion expressions for one shape, in EXPECTED order."""
    _, step, tgt, _, trailing = SHAPES[shape]
    return [f"id.{b}{k.format(tgt=tgt)}}}{step}" for b in BOUNDS for k in KINDS] + trailing


def select(shape: str, roots: list[str]) -> str:
    cols = ", ".join(f"{f} AS f{i}" for i, f in enumerate(fields(shape)))
    return f"SELECT id, {cols} FROM {', '.join(roots)}"


def plain(v):
    if isinstance(v, list):
        return [plain(x) for x in v]
    return plain(v.asDict()) if hasattr(v, "asDict") else (
        {k: plain(x) for k, x in v.items()} if isinstance(v, dict) else v)


# single-root answers, per shape and root, in fields() order
EXPECTED = {
    'edge': {
        't:1': [
            ['t:4', 't:4'],  # id.{2}(->e->t)
            ['t:4'],  # id.{2+collect}(->e->t)
            [['t:2', 't:4'], ['t:3', 't:4']],  # id.{2+path}(->e->t)
            ['t:2', 't:4'],  # id.{2+shortest=t:4}(->e->t)
            ['t:4', 't:4'],  # id.{2+inclusive}(->e->t)
            ['t:5', 't:5'],  # id.{1..3}(->e->t)
            ['t:2', 't:3', 't:4', 't:5'],  # id.{1..3+collect}(->e->t)
            [['t:2', 't:4', 't:5'], ['t:3', 't:4', 't:5']],  # id.{1..3+path}(->e->t)
            ['t:2', 't:4'],  # id.{1..3+shortest=t:4}(->e->t)
            ['t:5', 't:5'],  # id.{1..3+inclusive}(->e->t)
            ['t:2'],  # id.{..}(->e->t)
            ['t:2', 't:3', 't:4', 't:5'],  # id.{..+collect}(->e->t)
            [['t:2', 't:4', 't:5'], ['t:3', 't:4', 't:5', 't:2']],  # id.{..+path}(->e->t)
            ['t:2', 't:4'],  # id.{..+shortest=t:4}(->e->t)
            ['t:2'],  # id.{..+inclusive}(->e->t)
            ['n5', 'n5'],  # id.{1..3}(->e->t).name
            # id.{..+collect}(->e->t).{name, v}
            [{'name': 'n2', 'v': 20}, {'name': 'n3', 'v': 30}, {'name': 'n4', 'v': 40},
             {'name': 'n5', 'v': 50}],
            [['n2', 'n4', 'n5'], ['n3', 'n4', 'n5', 'n2']],  # id.{..+path}(->e->t).name
        ],
        't:3': [
            ['t:5'],  # id.{2}(->e->t)
            ['t:5'],  # id.{2+collect}(->e->t)
            [['t:4', 't:5']],  # id.{2+path}(->e->t)
            ['t:4'],  # id.{2+shortest=t:4}(->e->t)
            ['t:5'],  # id.{2+inclusive}(->e->t)
            ['t:2'],  # id.{1..3}(->e->t)
            ['t:4', 't:5', 't:2'],  # id.{1..3+collect}(->e->t)
            [['t:4', 't:5', 't:2']],  # id.{1..3+path}(->e->t)
            ['t:4'],  # id.{1..3+shortest=t:4}(->e->t)
            ['t:2'],  # id.{1..3+inclusive}(->e->t)
            ['t:2'],  # id.{..}(->e->t)
            ['t:4', 't:5', 't:2'],  # id.{..+collect}(->e->t)
            [['t:4', 't:5', 't:2']],  # id.{..+path}(->e->t)
            ['t:4'],  # id.{..+shortest=t:4}(->e->t)
            ['t:2'],  # id.{..+inclusive}(->e->t)
            ['n2'],  # id.{1..3}(->e->t).name
            # id.{..+collect}(->e->t).{name, v}
            [{'name': 'n4', 'v': 40}, {'name': 'n5', 'v': 50}, {'name': 'n2', 'v': 20}],
            [['n4', 'n5', 'n2']],  # id.{..+path}(->e->t).name
        ],
    },
    'pair': {
        'y:1': [
            ['y:3'],  # id.{2}(->a->x->b->y)
            ['y:3'],  # id.{2+collect}(->a->x->b->y)
            [['x:1', 'y:2'], ['x:3', 'y:3'], ['x:1', 'y:2', 'x:2', 'y:3']],  # id.{2+path}(->a->x->b->y)
            ['x:3', 'y:3'],  # id.{2+shortest=y:3}(->a->x->b->y)
            ['y:3'],  # id.{2+inclusive}(->a->x->b->y)
            ['y:3'],  # id.{1..3}(->a->x->b->y)
            ['y:2', 'y:3'],  # id.{1..3+collect}(->a->x->b->y)
            [['x:1', 'y:2'], ['x:3', 'y:3'], ['x:1', 'y:2', 'x:2', 'y:3']],  # id.{1..3+path}(->a->x->b->y)
            ['x:3', 'y:3'],  # id.{1..3+shortest=y:3}(->a->x->b->y)
            ['y:3'],  # id.{1..3+inclusive}(->a->x->b->y)
            ['y:3'],  # id.{..}(->a->x->b->y)
            ['y:2', 'y:3'],  # id.{..+collect}(->a->x->b->y)
            [['x:1', 'y:2'], ['x:3', 'y:3'], ['x:1', 'y:2', 'x:2', 'y:3']],  # id.{..+path}(->a->x->b->y)
            ['x:3', 'y:3'],  # id.{..+shortest=y:3}(->a->x->b->y)
            ['y:3'],  # id.{..+inclusive}(->a->x->b->y)
        ],
        'y:2': [
            [],  # id.{2}(->a->x->b->y)
            [],  # id.{2+collect}(->a->x->b->y)
            [['x:2', 'y:3']],  # id.{2+path}(->a->x->b->y)
            ['x:2', 'y:3'],  # id.{2+shortest=y:3}(->a->x->b->y)
            [],  # id.{2+inclusive}(->a->x->b->y)
            ['y:3'],  # id.{1..3}(->a->x->b->y)
            ['y:3'],  # id.{1..3+collect}(->a->x->b->y)
            [['x:2', 'y:3']],  # id.{1..3+path}(->a->x->b->y)
            ['x:2', 'y:3'],  # id.{1..3+shortest=y:3}(->a->x->b->y)
            ['y:3'],  # id.{1..3+inclusive}(->a->x->b->y)
            ['y:3'],  # id.{..}(->a->x->b->y)
            ['y:3'],  # id.{..+collect}(->a->x->b->y)
            [['x:2', 'y:3']],  # id.{..+path}(->a->x->b->y)
            ['x:2', 'y:3'],  # id.{..+shortest=y:3}(->a->x->b->y)
            ['y:3'],  # id.{..+inclusive}(->a->x->b->y)
        ],
    },
    'link': {
        'p:1': [
            'p:3',  # id.{2}.parent
            ['p:3'],  # id.{2+collect}.parent
            [['p:2', 'p:3']],  # id.{2+path}.parent
            ['p:2', 'p:3'],  # id.{2+shortest=p:3}.parent
            'p:3',  # id.{2+inclusive}.parent
            'p:4',  # id.{1..3}.parent
            ['p:2', 'p:3', 'p:4'],  # id.{1..3+collect}.parent
            [['p:2', 'p:3', 'p:4']],  # id.{1..3+path}.parent
            ['p:2', 'p:3'],  # id.{1..3+shortest=p:3}.parent
            'p:4',  # id.{1..3+inclusive}.parent
            'p:4',  # id.{..}.parent
            ['p:2', 'p:3', 'p:4'],  # id.{..+collect}.parent
            [['p:2', 'p:3', 'p:4']],  # id.{..+path}.parent
            ['p:2', 'p:3'],  # id.{..+shortest=p:3}.parent
            'p:4',  # id.{..+inclusive}.parent
            'p4',  # id.{1..3}(.parent).name
        ],
        'p:3': [
            None,  # id.{2}.parent
            [],  # id.{2+collect}.parent
            [['p:4']],  # id.{2+path}.parent
            [['p:4']],  # id.{2+shortest=p:3}.parent
            None,  # id.{2+inclusive}.parent
            'p:4',  # id.{1..3}.parent
            ['p:4'],  # id.{1..3+collect}.parent
            [['p:4']],  # id.{1..3+path}.parent
            [['p:4']],  # id.{1..3+shortest=p:3}.parent
            'p:4',  # id.{1..3+inclusive}.parent
            'p:4',  # id.{..}.parent
            ['p:4'],  # id.{..+collect}.parent
            [['p:4']],  # id.{..+path}.parent
            None,  # id.{..+shortest=p:3}.parent
            'p:4',  # id.{..+inclusive}.parent
            'p4',  # id.{1..3}(.parent).name
        ],
    },
    'array': {
        'k:1': [
            ['k:4', 'k:4', 'k:5'],  # id.{2}.kids
            ['k:4', 'k:5'],  # id.{2+collect}.kids
            [['k:2', 'k:4'], ['k:3', 'k:4'], ['k:3', 'k:5']],  # id.{2+path}.kids
            ['k:2', 'k:4'],  # id.{2+shortest=k:4}.kids
            ['k:4', 'k:4', 'k:5'],  # id.{2+inclusive}.kids
            ['k:1'],  # id.{1..3}.kids
            ['k:2', 'k:3', 'k:4', 'k:5', 'k:1'],  # id.{1..3+collect}.kids
            [['k:2', 'k:4'], ['k:3', 'k:4'], ['k:3', 'k:5', 'k:1']],  # id.{1..3+path}.kids
            ['k:2', 'k:4'],  # id.{1..3+shortest=k:4}.kids
            ['k:1'],  # id.{1..3+inclusive}.kids
            ['k:4', 'k:4', 'k:5'],  # id.{..}.kids
            ['k:2', 'k:3', 'k:4', 'k:5'],  # id.{..+collect}.kids
            [['k:2', 'k:4'], ['k:3', 'k:4'], ['k:3', 'k:5']],  # id.{..+path}.kids
            ['k:2', 'k:4'],  # id.{..+shortest=k:4}.kids
            ['k:4', 'k:4', 'k:5'],  # id.{..+inclusive}.kids
            [{'name': 'k2'}, {'name': 'k3'}, {'name': 'k4'}, {'name': 'k5'}],  # id.{..+collect}(.kids).{name}
        ],
        'k:3': [
            ['k:1'],  # id.{2}.kids
            ['k:1'],  # id.{2+collect}.kids
            [['k:4'], ['k:5', 'k:1']],  # id.{2+path}.kids
            ['k:4'],  # id.{2+shortest=k:4}.kids
            ['k:1'],  # id.{2+inclusive}.kids
            ['k:2', 'k:3'],  # id.{1..3}.kids
            ['k:4', 'k:5', 'k:1', 'k:2', 'k:3'],  # id.{1..3+collect}.kids
            [['k:4'], ['k:5', 'k:1', 'k:2'], ['k:5', 'k:1', 'k:3']],  # id.{1..3+path}.kids
            ['k:4'],  # id.{1..3+shortest=k:4}.kids
            ['k:2', 'k:3'],  # id.{1..3+inclusive}.kids
            ['k:4'],  # id.{..}.kids
            ['k:4', 'k:5', 'k:1', 'k:2'],  # id.{..+collect}.kids
            [['k:4'], ['k:5', 'k:1', 'k:2', 'k:4']],  # id.{..+path}.kids
            ['k:4'],  # id.{..+shortest=k:4}.kids
            ['k:4'],  # id.{..+inclusive}.kids
            [{'name': 'k4'}, {'name': 'k5'}, {'name': 'k1'}, {'name': 'k2'}],  # id.{..+collect}(.kids).{name}
        ],
    },
}


@pytest.fixture(scope="module")
def runner(spark, tmp_path_factory):
    r = StatementRunner(spark, Database(spark, str(tmp_path_factory.mktemp("recursion"))))
    for st in FIXTURE:
        r.run(st)
    return r


def _one_type(shape: str, i: int, want: dict) -> dict:
    """A column holds one type.  When some row reaches a bounded +shortest
    target (a flat path), a row that does not is NONE, not its nested
    frontier paths."""
    if "+shortest" in fields(shape)[i] and "{.." not in fields(shape)[i]:
        flat = [v for v in want.values() if v and not isinstance(v[0], list)]
        if flat:
            return {k: (None if v and isinstance(v[0], list) else v) for k, v in want.items()}
    return want


@pytest.mark.parametrize("shape", list(SHAPES))
def test_recursion_forms(runner, plan, shape):
    roots = SHAPES[shape][3]
    got = {r[0]: [plain(v) for v in r[1:]] for r in runner.run(select(shape, roots)).collect()}
    assert sorted(got) == sorted(roots)
    for i, f in enumerate(fields(shape)):
        want = _one_type(shape, i, {root: EXPECTED[shape][root][i] for root in roots})
        assert {root: got[root][i] for root in roots} == want, f
