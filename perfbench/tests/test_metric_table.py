"""The metric table the benchmark reports agrees with BENCHMARK.json."""

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from metrics import END_TO_END, PER_LAYER  # noqa: E402

with open(os.path.join(os.path.dirname(os.path.dirname(HERE)),
                       "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)


def test_end_to_end_table_matches():
    declared = [(m["name"], m["unit"], m["better"], m["bound"])
                for m in BENCH["end_to_end"]]
    assert declared == [tuple(m) for m in END_TO_END]


def test_per_layer_table_matches():
    declared = [(m["name"], m["unit"], m["better"])
                for m in BENCH["per_layer"]]
    assert declared == [tuple(m) for m in PER_LAYER]


def test_setup_metric_and_bounds():
    e2e = {m["name"]: m for m in BENCH["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s"
    assert e2e["setup_s"]["better"] == "lower"
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    assert all(0 < m["bound"] <= 0.25 for m in e2e.values())


def test_workloads_are_the_ones_the_runner_knows():
    import run
    assert sorted(w["name"] for w in BENCH["workloads"]) == sorted(
        run.WORKLOADS)
    assert BENCH["command"][:2] == ["python3", "perfbench/run.py"]
