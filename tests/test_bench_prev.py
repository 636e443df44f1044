"""bench.py's choice of the artifact ``vs_prev`` compares with, on
temporary artifact trees, and its final stdout line (no Spark)."""

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


def _full_doc(bench, reason=None):
    """A full artifact of the 69 headline queries, each min just below
    10 s (every recorded headline min is far below)."""
    mins = {q: 9.994 for q in bench.BENCH_QUERIES}
    return {
        "value": round(sum(mins.values()), 3),
        "sf": 0.1,
        "queries_min": mins,
        "sentinel": {"cpu_sec": 1.234, "shuffle_sec": 2.345, "sec": 12.345},
        "tpch_x10": {"total_sec": 123.456},
        "vs_prev": {"ratio_min_vs_prev": 1.052, "sentinel_ratio": 1.01, "ratio_code_normalized": 1.042},
        "vs_prev_reason": reason,
    }


@pytest.mark.parametrize("reason", [None, "scaling re-run of round 17: " + "no full-core artifact " * 20])
def test_final_line_carries_mins_and_aggregates_within_the_tail(bench, reason):
    assert len(bench.BENCH_QUERIES) == len(set(bench.BENCH_QUERIES)) == 69
    line = bench.final_line(_full_doc(bench, reason))
    assert len(line.encode()) <= bench.FINAL_LINE_BYTES == 1900
    got = json.loads(line)
    assert got["queries_cs"] == {q: 999 for q in bench.BENCH_QUERIES}
    assert (got["value"], got["unit"], got["sf"]) == (689.586, "sec", 0.1)
    assert (got["sentinel_sec"], got["tpch_x10_total_sec"], got["vs_prev"]) == (12.345, 123.456, 1.042)
    if reason is None:
        assert got["vs_prev_reason"] is None
    else:
        assert got["vs_prev_reason"] and reason.startswith(got["vs_prev_reason"])


def test_final_line_without_a_comparison(bench):
    doc = {
        **_full_doc(bench),
        "queries_min": {q: 0.5 for q in bench.BENCH_QUERIES},
        "vs_prev": {"error": "BENCH_r17.json has no per-query data"},
        "tpch_x10": {},
    }
    got = json.loads(bench.final_line(doc))
    assert (got["vs_prev"], got["vs_prev_reason"], got["tpch_x10_total_sec"]) == (
        None,
        "BENCH_r17.json has no per-query data",
        None,
    )


def test_recorded_final_line_is_read_back_in_seconds(bench, tree):
    line = json.loads(bench.final_line({**_full_doc(bench), "queries_min": {"q": 18.004}}))
    _write(tree / "BENCH_r18.json", {"parsed": line})
    _, path, prev, _ = bench.previous_artifact(str(tree))
    assert path == str(tree / "BENCH_r18.json")
    assert prev["queries_min"] == {"q": 18.0}
