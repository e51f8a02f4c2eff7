"""Geometry values + INSIDE/OUTSIDE/INTERSECTS predicates.

Reference: types/src/value/geometry.rs (kinds), val/geometry.rs:224-407
(contains/intersects dispatch), fnc/operate.rs:98-124 (operator semantics).
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from surrealdb_spark.catalog import Catalog
from surrealdb_spark.functions import geometry as GM


def _one(df, col):
    return df.select(col.alias("v")).collect()[0]["v"]


@pytest.fixture(scope="module")
def unit(spark):
    return spark.range(1)


# A unit square (0,0)-(4,0)-(4,4)-(0,4) with a hole (1,1)-(3,3)
def _square_with_hole():
    ext = [[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0], [0.0, 0.0]]
    hole = [[1.0, 1.0], [3.0, 1.0], [3.0, 3.0], [1.0, 3.0], [1.0, 1.0]]
    return GM.from_coords("Polygon", [ext, hole])


def test_point_in_polygon(unit):
    poly = _square_with_hole()
    assert _one(unit, GM.intersects(GM.point(0.5, 0.5), poly)) is True
    assert _one(unit, GM.intersects(GM.point(2.0, 2.0), poly)) is False  # hole
    assert _one(unit, GM.intersects(GM.point(5.0, 5.0), poly)) is False
    assert _one(unit, GM.intersects(GM.point(0.0, 2.0), poly)) is True  # boundary
    # hole boundary counts as inside (even-odd + on-edge)
    assert _one(unit, GM.intersects(GM.point(1.0, 2.0), poly)) is True


def test_outside_is_not_intersects(unit):
    poly = _square_with_hole()
    assert _one(unit, GM.outside(GM.point(5.0, 5.0), poly)) is True
    assert _one(unit, GM.outside(GM.point(0.5, 0.5), poly)) is False


def test_inside_contains(unit):
    poly = _square_with_hole()
    # INSIDE = container.contains(point)
    assert _one(unit, GM.g_inside(GM.point(0.5, 3.5), poly)) is True
    assert _one(unit, GM.g_inside(GM.point(2.0, 2.0), poly)) is False
    # polygon inside polygon
    inner = GM.from_coords(
        "Polygon", [[[0.2, 0.2], [0.8, 0.2], [0.8, 0.8], [0.2, 0.8], [0.2, 0.2]]]
    )
    assert _one(unit, GM.g_inside(inner, poly)) is True
    # polygon straddling the exterior boundary is not contained
    straddle = GM.from_coords(
        "Polygon", [[[3.0, 3.5], [5.0, 3.5], [5.0, 4.5], [3.0, 4.5], [3.0, 3.5]]]
    )
    assert _one(unit, GM.g_inside(straddle, poly)) is False
    assert _one(unit, GM.intersects(straddle, poly)) is True


def test_line_predicates(unit):
    l1 = GM.from_coords("LineString", [[0.0, 0.0], [2.0, 2.0]])
    l2 = GM.from_coords("LineString", [[0.0, 2.0], [2.0, 0.0]])  # crosses l1
    l3 = GM.from_coords("LineString", [[5.0, 5.0], [6.0, 5.0]])
    assert _one(unit, GM.intersects(l1, l2)) is True
    assert _one(unit, GM.intersects(l1, l3)) is False
    # line through a polygon with no vertex inside still intersects
    poly = GM.from_coords(
        "Polygon", [[[0.5, -1.0], [1.5, -1.0], [1.5, 5.0], [0.5, 5.0], [0.5, -1.0]]]
    )
    cross_line = GM.from_coords("LineString", [[-1.0, 1.0], [3.0, 1.0]])
    assert _one(unit, GM.intersects(cross_line, poly)) is True
    assert _one(unit, GM.intersects(poly, cross_line)) is True


def test_multi_kinds(unit):
    mp = GM.from_coords("MultiPoint", [[0.0, 0.0], [9.0, 9.0]])
    poly = _square_with_hole()
    assert _one(unit, GM.intersects(mp, poly)) is True  # (0,0) on boundary
    mpoly = GM.from_coords(
        "MultiPolygon",
        [
            [[[10.0, 10.0], [12.0, 10.0], [12.0, 12.0], [10.0, 12.0], [10.0, 10.0]]],
            [[[-1.0, -1.0], [0.5, -1.0], [0.5, 0.5], [-1.0, 0.5], [-1.0, -1.0]]],
        ],
    )
    assert _one(unit, GM.intersects(GM.point(11.0, 11.0), mpoly)) is True
    assert _one(unit, GM.intersects(GM.point(20.0, 20.0), mpoly)) is False


def test_surql_geometry_operators(spark):
    """OUTSIDE/INTERSECTS + point literal + GeoJSON object literal through
    the SurrealQL text layer."""
    from surrealdb_spark.sql.compiler import compile_select
    from surrealdb_spark.sql.parser import parse_select

    df = spark.createDataFrame(
        [Row(id=1, lon=0.5, lat=0.5), Row(id=2, lon=9.0, lat=9.0)]
    ).withColumn("loc", GM.point(F.col("lon"), F.col("lat")))

    cat = Catalog(spark)
    cat.register("t", df)

    out = compile_select(
        spark,
        parse_select(
            "SELECT id FROM t WHERE loc INSIDE"
            " { type: 'Polygon', coordinates: [[[0,0],[4,0],[4,4],[0,4],[0,0]]] }"
        ),
        catalog=cat,
    )
    assert [r["id"] for r in out.collect()] == [1]

    out2 = compile_select(
        spark,
        parse_select(
            "SELECT id FROM t WHERE (9.0, 9.0) INTERSECTS"
            " { type: 'Polygon', coordinates: [[[8,8],[10,8],[10,10],[8,10],[8,8]]] }"
        ),
        catalog=cat,
    )
    assert [r["id"] for r in out2.collect()] == [1, 2]

    out3 = compile_select(
        spark,
        parse_select(
            "SELECT id FROM t WHERE loc OUTSIDE"
            " { type: 'Polygon', coordinates: [[[0,0],[4,0],[4,4],[0,4],[0,0]]] }"
        ),
        catalog=cat,
    )
    assert [r["id"] for r in out3.collect()] == [2]


def test_geometry_collection_predicates(spark):
    """Collection = array of member geometries; INSIDE/INTERSECTS
    distribute over members (types/src/value/geometry.rs Collection;
    geo crate Relate semantics)."""
    from surrealdb_spark.functions import geometry as G

    df = spark.range(1)
    sq = G.from_coords("Polygon", [[[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]]])
    far = G.from_coords("Polygon",
                        [[[10, 10], [12, 10], [12, 12], [10, 12], [10, 10]]])
    coll = G.collection([sq, far])
    p_in = G.from_coords("Point", [1, 1])
    p_out = G.from_coords("Point", [7, 7])
    ln = G.from_coords("LineString", [[1, 1], [3, 3]])
    got = df.select(
        G.coll_intersects(p_in, coll).alias("a"),
        G.coll_intersects(p_out, coll).alias("b"),
        G.inside_coll(ln, coll).alias("c"),
        G.inside_coll(p_out, coll).alias("d"),
        G.coll_inside(coll, sq).alias("e"),
        G.coll_inside(G.collection([p_in, ln]), sq).alias("f"),
    ).first()
    assert got["a"] is True
    assert got["b"] is False
    assert got["c"] is True
    assert got["d"] is False
    assert got["e"] is False  # far member escapes sq
    assert got["f"] is True

    # GeoJSON member construction round-trip
    c2 = G.collection_from_geojson([
        {"type": "Point", "coordinates": [1, 1]},
        {"type": "LineString", "coordinates": [[0, 0], [2, 2]]},
    ])
    n = df.select(F.size(c2).alias("n")).first()["n"]
    assert n == 2
