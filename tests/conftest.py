from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from surrealdb_spark import get_spark  # noqa: E402
from surrealdb_spark.operators import graph  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("surrealdb_spark_tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(params=["local", "distributed"])
def plan(request, monkeypatch):
    """Run a graph recursion test on both traversal plans: ``local`` (one
    job over a broadcast adjacency) and ``distributed`` (one checkpointed
    level per round, forced by an edge budget of 0)."""
    if request.param == "distributed":
        monkeypatch.setattr(graph, "LOCAL_EDGE_MAX_ROWS", 0)
    return request.param
