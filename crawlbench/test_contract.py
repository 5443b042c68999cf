"""BENCHMARK.json and run.py name the same workloads and metrics.

    python3 -m pytest crawlbench/test_contract.py -q
"""

from __future__ import annotations

import json
import os

from crawlbench import run
from crawlbench.workloads import WORKLOADS


def _bench() -> dict:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metrics_match_run_py():
    bench = _bench()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER


def test_workloads_are_runnable():
    names = [w["name"] for w in _bench()["workloads"]]
    assert set(names) <= set(WORKLOADS)
    for name in names:
        assert run.parse_args(["--workload", name]).workload == name


def test_setup_bound_is_largest():
    bounds = {m["name"]: m["bound"] for m in _bench()["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25
