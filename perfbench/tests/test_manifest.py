"""BENCHMARK.json names exactly the workloads and metrics the code reports."""

import json
import os

from perfbench import run, tracing, workloads

MANIFEST = os.path.join(run.ROOT, "BENCHMARK.json")


def test_manifest_matches_the_code():
    with open(MANIFEST) as f:
        m = json.load(f)
    assert [w["name"] for w in m["workloads"]] == list(workloads.WORKLOADS)
    assert {e["name"]: e["unit"] for e in m["end_to_end"]} == run.END_TO_END
    assert [p["name"] for p in m["per_layer"]] == tracing.per_layer_names()
    assert all(p["unit"] == tracing.unit(p["name"]) for p in m["per_layer"])
    assert all(0 < e["bound"] <= 0.25 for e in m["end_to_end"])
