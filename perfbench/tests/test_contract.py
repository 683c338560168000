"""BENCHMARK.json names exactly the metrics and workloads the code
reports."""

import json
import os

import metrics
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_end_to_end_metrics_match():
    e2e = {m["name"]: m["unit"] for m in _bench()["end_to_end"]}
    assert e2e == metrics.E2E


def test_per_layer_metrics_match():
    names = [m["name"] for m in _bench()["per_layer"]]
    assert names == metrics.per_layer_names()
    assert len(set(names)) == len(names)


def test_workloads_exist():
    for w in _bench()["workloads"]:
        assert w["name"] in workloads.WORKLOADS
        assert w["name"] in metrics.WORKLOAD_NAMES
