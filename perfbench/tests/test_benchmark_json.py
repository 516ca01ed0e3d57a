"""BENCHMARK.json names exactly what run.py prints, within the format limits."""

import json
import os
import re

import layers
import run
import worker

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_names_match_the_code():
    b = _bench()
    assert [w["name"] for w in b["workloads"]] == list(run.WORKLOADS) == list(worker.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in b["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in b["per_layer"]] == layers.specs()


def test_format_limits():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert b["command"][0] == "python3" and all(len(a) <= 200 for a in b["command"])
    assert all(not p.startswith("/") and ".." not in p for p in b["paths"])
    assert isinstance(b["run_seconds"], int) and 1 <= b["run_seconds"] <= 60
    assert 2 <= len(b["workloads"]) <= 8 and 1 <= len(b["end_to_end"]) <= 16
    assert 1 <= len(b["per_layer"]) <= 128
    names = [m["name"] for m in b["workloads"] + b["end_to_end"] + b["per_layer"]]
    assert all(NAME.match(n) for n in names)
    metrics = b["end_to_end"] + b["per_layer"]
    assert len({m["name"] for m in metrics}) == len(metrics)
    assert all(set(w) == {"name", "why"} and len(w["why"]) <= 200 for w in b["workloads"])
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in b["end_to_end"] + b["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
    setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in b["end_to_end"])
