"""Schema test: BENCHMARK.json and the metrics run.py emits agree.

    python3 -m pytest perfbench/test_schema.py -q

Needs no Spark: it checks the metric tables and ``run.emit``.
"""

from __future__ import annotations

import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def spec() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


def fake_values(units: dict) -> dict:
    return {name: 3 if unit in run.INTEGER_UNITS else 0.5 for name, unit in units.items()}


def test_top_level_contract():
    s = spec()
    assert set(s) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert s["command"] == ["python3", "perfbench/run.py"]
    assert s["paths"] == ["perfbench"]
    assert isinstance(s["run_seconds"], int) and 1 <= s["run_seconds"] <= 60
    assert 2 <= len(s["workloads"]) <= 8
    assert {w["name"] for w in s["workloads"]} == set(WORKLOADS)
    for w in s["workloads"]:
        assert set(w) == {"name", "why"} and "\n" not in w["why"] and len(w["why"]) <= 200


def test_names_units_and_counts():
    s = spec()
    assert 1 <= len(s["end_to_end"]) <= 16
    assert 1 <= len(s["per_layer"]) <= 128
    names = [m["name"] for m in s["end_to_end"] + s["per_layer"] + s["workloads"]]
    assert len(names) == len(set(names))
    for m in s["end_to_end"] + s["per_layer"]:
        assert NAME.match(m["name"]), m["name"]
        assert UNIT.match(m["unit"]), m["unit"]
        assert m["better"] in ("lower", "higher")
    for m in s["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in s["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    setup = next(m for m in s["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in s["end_to_end"])


def test_every_metric_emitted_with_its_unit():
    s = spec()
    for trace, declared, units in (
        (0, s["end_to_end"], run.END_TO_END),
        (1, s["per_layer"], run.PER_LAYER),
    ):
        assert {m["name"]: m["unit"] for m in declared} == units, f"trace {trace}"
        res = run.emit(fake_values(units), units, correct=True, attempted=5, failed=0)
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
        assert list(res["metrics"]) == list(units)
        for m in declared:
            got = res["metrics"][m["name"]]
            assert set(got) == {"value", "unit"} and got["unit"] == m["unit"]
            if m["unit"] in run.INTEGER_UNITS:
                assert type(got["value"]) is int, m["name"]
            else:
                assert type(got["value"]) is float, m["name"]
        json.dumps(res)


def test_result_counts_are_integers():
    res = run.emit(fake_values(run.END_TO_END), run.END_TO_END, correct=False, attempted=7.0, failed=1.0)
    assert type(res["attempted"]) is int and type(res["failed"]) is int
    assert res["attempted"] >= 1 and res["correct"] is False


def test_hd_quantile():
    xs = [1.0, 2.0, 3.0, 4.0, 5.0]
    assert abs(run.hd_quantile(xs, 0.5) - 3.0) < 1e-9  # symmetric sample
    assert 3.0 < run.hd_quantile(xs, 0.75) < 5.0
    assert abs(run.hd_quantile([2.0] * 7, 0.75) - 2.0) < 1e-12
