"""BENCHMARK.json names exactly the metrics and workloads run.py reports."""

import json
import os

import run
import workloads
from conftest import BENCH

with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
    BENCHMARK = json.load(f)


def test_recorded_workloads_exist():
    assert {w["name"] for w in BENCHMARK["workloads"]} <= set(workloads.WORKLOADS)


def test_end_to_end_metrics_match():
    rnd = workloads.Round(wall_s=4.0, pass_s=[2.5, 1.5], unit_s=[1.0, 1.5, 0.5, 1.0], rows=10, docs=4)
    reported = run.end_to_end([rnd], setups=[1.0, 2.0, 3.0], peak_rss=2**30)
    assert {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]} == {k: u for k, (_, u) in reported.items()}
    assert all(v > 0 for v, _ in reported.values())


def test_per_layer_metrics_match():
    assert [m["name"] for m in BENCHMARK["per_layer"]] == run.LAYER_METRICS
    assert all(m["unit"] == run.unit_of(m["name"]) for m in BENCHMARK["per_layer"])


def test_every_per_layer_metric_names_what_it_should_move():
    with open(os.path.join(BENCH, "README.md")) as f:
        readme = f.read()
    assert [n for n in run.LAYER_METRICS if f"`{n}`" not in readme] == []
