"""BENCHMARK.json and the runner agree on every metric and workload."""

import json
import os

from perfbench import run, workloads

SPEC = os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")


def test_metrics_and_units_match_the_runner():
    with open(SPEC) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
