"""BENCHMARK.json agrees with the code that produces the metrics and
keeps to the benchmark file's format limits."""

import json
import os
import re

from perfbench import layers
from perfbench.run import END_TO_END, WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metrics_match_the_code():
    b = _bench()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in b["per_layer"]] == [
        (n, u, better) for n, u, better, _ in layers.SPECS
    ]
    assert [w["name"] for w in b["workloads"]] == list(WORKLOADS)


def test_format_limits():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    assert 1 <= b["run_seconds"] <= 60 and isinstance(b["run_seconds"], int)
    assert 2 <= len(b["workloads"]) <= 8
    assert 1 <= len(b["end_to_end"]) <= 16
    assert 1 <= len(b["per_layer"]) <= 128
    names = [m["name"] for m in b["workloads"] + b["end_to_end"] + b["per_layer"]]
    assert all(NAME.match(n) for n in names)
    for m in b["end_to_end"] + b["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    assert max(m["bound"] for m in b["end_to_end"]) == next(
        m["bound"] for m in b["end_to_end"] if m["name"] == "setup_s")
    for w in b["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
    assert len(json.dumps(b)) <= 64 * 1024
