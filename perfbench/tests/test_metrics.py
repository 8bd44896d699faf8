"""The metric names the benchmark emits are the ones BENCHMARK.json lists."""

import json
import os

from perfbench import metrics
from perfbench.run import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_end_to_end_names_and_units_match_benchmark_json():
    got = {m["name"]: m["unit"] for m in _bench()["end_to_end"]}
    assert got == metrics.END_TO_END


def test_per_layer_names_and_units_match_benchmark_json():
    got = {m["name"]: m["unit"] for m in _bench()["per_layer"]}
    assert got == metrics.PER_LAYER


def test_benchmark_workloads_exist():
    names = [w["name"] for w in _bench()["workloads"]]
    assert names and set(names) <= set(WORKLOADS)


def test_every_layer_metric_names_what_it_should_move():
    for name in metrics.PER_LAYER:
        figure, workload = metrics.layer_target(name)
        assert figure and workload


def test_workload_layers_are_known_metrics():
    import importlib

    for name, spec in WORKLOADS.items():
        mod, cls = spec.split(":")
        w = getattr(importlib.import_module(mod), cls)
        assert w.name == name
        assert set(w.layers) <= set(metrics.PER_LAYER), sorted(set(w.layers) - set(metrics.PER_LAYER))
        assert set(metrics.WORKLOAD_FIGURES[name])
