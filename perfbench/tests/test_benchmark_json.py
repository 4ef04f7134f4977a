import json
import os
import re

import pytest

from perfbench import catalog, stats
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_shape(bench):
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                          "per_layer"}
    assert bench["paths"] == ["perfbench"]
    assert bench["command"][0] == "python3" and bench["command"][1].startswith("perfbench/")
    assert isinstance(bench["run_seconds"], int) and 1 <= bench["run_seconds"] <= 60
    assert os.path.getsize(os.path.join(ROOT, "BENCHMARK.json")) <= 64 * 1024


def test_workloads_are_the_runnable_ones(bench):
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    for w in bench["workloads"]:
        assert set(w) == {"name", "why"}
        assert 0 < len(w["why"]) <= 200 and "\n" not in w["why"]


def test_every_layer_metric_has_tags(bench):
    assert list(catalog.MOVES) == [m["name"] for m in bench["per_layer"]]
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    assert (e2e["setup_s"]["unit"], e2e["setup_s"]["better"]) == ("s", "lower")
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    # one failed check among all a run attempts must exceed the bound
    assert e2e["success_rate"]["bound"] <= 0.001


def test_names_units_and_bounds_are_valid(bench):
    names = [m["name"] for m in bench["workloads"] + bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names))
    for n in names:
        stats.check_name(n)
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"])
        assert m["better"] in ("lower", "higher")
    for m in bench["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    assert all(set(m) == {"name", "unit", "better"} for m in bench["per_layer"])


def test_every_layer_metric_names_what_it_should_move():
    end_to_end, _ = catalog.metrics()
    for name in catalog.MOVES:
        t = catalog.tags(name)
        assert t["moves"] and t["on"]
        for metric in re.findall(r"[a-z_0-9]+", t["moves"].split(" (")[0]):
            assert metric in end_to_end or metric == "none", (name, metric)
