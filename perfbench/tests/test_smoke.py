"""Smoke run of the benchmark at the 0.01 scale, plus an oracle cross-check.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

Each workload runs once untraced and once traced for one second; every
run must print, as its last stdout line, a correct result carrying
exactly the metric names `BENCHMARK.json` lists.  The analytics queries
are then compared with their DuckDB oracles from the suite registry on
the same 0.01 layout.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
SCALE = 0.01

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_run_emits_every_metric(workload, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace), "--scale", str(SCALE)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    listed = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in listed}
    for m in listed:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]


def test_analytics_outputs_match_oracles():
    sys.path[:0] = [ROOT, BENCH]
    import datagen
    import run
    import workloads
    from surrealdb_spark import suite
    from surrealdb_spark.testing import run_parity

    run._env_hygiene()
    sf_dir = datagen.ensure_layout(os.path.join(run.BUILD, "data"), SCALE, None)
    spark = run._start_session()
    try:
        names = [q for qs in workloads.FAMILIES.values() for q in qs]
        oracles = suite.all_oracles()
        assert all(q in oracles for q in names), [q for q in names if q not in oracles]
        bad = {k: v for k, v in run_parity(spark, sf_dir, names).items() if v != "ok"}
        assert not bad, bad
    finally:
        spark.stop()
