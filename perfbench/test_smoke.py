"""Smallest-size smoke test of the benchmark: each workload runs for one
second in both modes; every metric named in BENCHMARK.json must be printed
with its unit, and every oracle must pass.

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ["aoi_query", "tile_pipeline", "scene_dem_match"]


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_spec_lists_the_workloads():
    assert [w["name"] for w in _spec()["workloads"]] == WORKLOADS


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_prints_every_metric_and_passes_its_oracles(workload, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    spec = _spec()["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
        assert any(len(ln.split()) == 3 and ln.split()[::2] == [m["name"], m["unit"]] for ln in lines)
