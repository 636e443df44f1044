"""bench.py's choice of the artifact ``vs_prev`` compares with, on
temporary artifact trees (no Spark)."""

from __future__ import annotations

import importlib.util
import json
import os

import pytest

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def bench():
    spec = importlib.util.spec_from_file_location("bench_under_test", os.path.join(_ROOT, "bench.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _write(path, doc):
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps(doc))


@pytest.fixture
def tree(tmp_path):
    """Rounds 16 and 17 recorded at full core count, each with its
    docs/bench full artifact."""
    for n in (16, 17):
        _write(tmp_path / f"BENCH_r{n}.json", {"parsed": {"queries_min": {"q": float(n)}}})
        _write(tmp_path / f"docs/bench/BENCH_r{n}_full.json", {"queries_min": {"q": n + 0.5}})
    return tmp_path


def test_normal_run_compares_with_the_newest_round(bench, tree):
    cur, path, prev, reason = bench.previous_artifact(str(tree))
    assert (cur, os.path.basename(path), reason) == (18, "BENCH_r17.json", None)
    assert prev == {"queries_min": {"q": 17.0}}


def test_rerun_within_a_recorded_round_compares_with_the_round_before(bench, tree):
    cur, path, prev, _ = bench.previous_artifact(str(tree), env_round=17)
    assert (cur, os.path.basename(path), prev["queries_min"]["q"]) == (17, "BENCH_r16.json", 16.0)


def test_scaling_rerun_compares_with_its_own_rounds_full_core_artifact(bench, tree):
    cur, path, prev, reason = bench.previous_artifact(str(tree), scaling_rerun=True)
    assert cur == 17
    assert path == str(tree / "docs/bench/BENCH_r17_full.json")
    assert prev == {"queries_min": {"q": 17.5}}
    assert reason is None


def test_scaling_rerun_without_a_full_core_artifact_is_null_with_a_reason(bench, tree):
    os.remove(tree / "docs/bench/BENCH_r17_full.json")
    cur, path, prev, reason = bench.previous_artifact(str(tree), scaling_rerun=True)
    assert (cur, path, prev) == (17, None, None)
    assert "BENCH_r17_full.json" in reason and "core count" in reason


def test_tail_only_record_falls_back_to_the_full_artifact(bench, tree):
    _write(tree / "BENCH_r17.json", {"parsed": None, "tail": "…"})
    _, path, prev, _ = bench.previous_artifact(str(tree))
    assert path == str(tree / "docs/bench/BENCH_r17_full.json")
    assert prev == {"queries_min": {"q": 17.5}}


def test_no_recorded_round(bench, tmp_path):
    assert bench.previous_artifact(str(tmp_path)) == (1, None, None, None)
    assert bench.previous_artifact(str(tmp_path), env_round=-3) == (1, None, None, None)
