"""BENCHMARK.json names exactly the metrics run.py prints."""

import json
import os

from perfbench import run

SPEC = os.path.join(run.ROOT, "BENCHMARK.json")


def _spec():
    with open(SPEC) as f:
        return json.load(f)


def test_per_layer_list_matches_the_traced_output():
    listed = [(m["name"], m["unit"]) for m in _spec()["per_layer"]]
    assert listed == [(n, run.unit_of(n)) for n in run.per_layer_names()]


def test_workloads_match_the_cli():
    assert tuple(w["name"] for w in _spec()["workloads"]) == run.WORKLOADS


def test_setup_has_the_largest_bound():
    bounds = {m["name"]: m["bound"] for m in _spec()["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25
