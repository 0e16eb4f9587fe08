"""BENCHMARK.json must describe what the harness actually prints."""
import json
import os

from perfbench.harness import WORKLOADS
from perfbench.report import E2E_UNITS, PER_LAYER_UNITS

from .conftest import ROOT


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metrics_and_workloads_match_the_harness():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER_UNITS
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)


def test_contract_limits():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert 1 <= spec["run_seconds"] <= 60
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    bounds = [m["bound"] for m in spec["end_to_end"]]
    assert all(0 < b <= 0.25 for b in bounds) and setup[0]["bound"] == max(bounds)
