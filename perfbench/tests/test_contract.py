"""BENCHMARK.json agrees with the code that produces its metrics."""

import json
import os

import layers
import run
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_lists_match_code():
    b = _bench()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in b["per_layer"]] == [
        (k, v[0], v[1]) for k, v in layers.METRICS.items()
    ]
    assert [w["name"] for w in b["workloads"]] == list(workloads.WORKLOADS)


def test_bounds():
    e2e = {m["name"]: m for m in _bench()["end_to_end"]}
    assert all(0 < m["bound"] <= 0.25 for m in e2e.values())
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"


def test_op_of_parses_span_groups():
    assert layers.op_of("pb12:40") == 12
    assert layers.op_of("pbNone:3") is None
    assert layers.op_of("") is None


def test_names_units_and_whys_fit_the_format():
    import re

    b = _bench()
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]] + [w["name"] for w in b["workloads"]]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    units = [m["unit"] for m in b["end_to_end"] + b["per_layer"]]
    assert all(re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", u) for u in units)
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in b["workloads"])
    assert 1 <= b["run_seconds"] <= 60
