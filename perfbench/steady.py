#!/usr/bin/env python3
"""Steadiness check: run the benchmark over several seeds and summarise.

    python3 perfbench/steady.py --workload flagship_scale --seeds 1-10 --sets 2 \
        --out perfbench/evidence/flagship_scale.json

For each set, runs ``perfbench/run.py`` once per seed (seconds and
metrics from BENCHMARK.json) and reports, per end-to-end metric, the
median, the quartiles (``statistics.quantiles(values, n=4)``) and the
spread (Q3 - Q1) / median. With two or more sets it also reports how far
each set's median sits from the first set's, as a share of it. A metric
passes when every set's spread is within its bound (``setup_s`` is
exempt) and every later median is no worse than the first by more than
the bound. With ``--trace 1`` (one seed, two sets) it reports whether
each count metric repeated exactly.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.monotonic()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    wall = time.monotonic() - t0
    if p.returncode != 0:
        raise RuntimeError(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    res["wall_s"] = wall
    return res


def summarise(values: list[float]) -> dict:
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else values * 3
    med = statistics.median(values)
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / med if med else 0.0,
        "values": values,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    metrics = spec["per_layer"] if args.trace else spec["end_to_end"]
    seeds = parse_seeds(args.seeds)
    sets = []
    for s in range(args.sets):
        runs = []
        for seed in seeds:
            res = run_once(args.workload, seed, spec["run_seconds"], args.trace)
            print(f"set {s} seed {seed}: correct={res['correct']} wall={res['wall_s']:.1f}s "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  file=sys.stderr)
            runs.append(res)
        sets.append(runs)

    report = {
        "workload": args.workload,
        "seeds": seeds,
        "trace": args.trace,
        "run_seconds": spec["run_seconds"],
        "machine": f"{platform.machine()}, {os.cpu_count()} CPUs, {platform.system()}",
        "all_correct": all(r["correct"] for runs in sets for r in runs),
        "wall_s": [[round(r["wall_s"], 1) for r in runs] for runs in sets],
        "metrics": {},
    }
    ok = report["all_correct"]
    for m in metrics:
        name = m["name"]
        per_set = [summarise([r["metrics"][name]["value"] for r in runs]) for runs in sets]
        entry = {"unit": m["unit"], "better": m["better"], "sets": per_set}
        if "bound" in m:
            bound = m["bound"]
            worse = [
                (ps["median"] - per_set[0]["median"]) / per_set[0]["median"]
                * (1 if m["better"] == "lower" else -1)
                if per_set[0]["median"] else 0.0
                for ps in per_set[1:]
            ]
            spread_ok = name == "setup_s" or all(ps["spread"] <= bound for ps in per_set)
            entry.update(
                bound=bound,
                later_median_worse_by=worse,
                passes=spread_ok and all(w <= bound for w in worse),
            )
            ok = ok and entry["passes"]
        elif m["unit"] in ("count", "bytes"):
            # a count must repeat exactly across runs of one seed
            entry["identical"] = len({v for ps in per_set for v in ps["values"]}) == 1
        report["metrics"][name] = entry
        spreads = " ".join(f"{ps['spread']:.3f}" for ps in per_set)
        medians = " ".join(f"{ps['median']:.4g}" for ps in per_set)
        print(f"{name:28s} median {medians:24s} spread {spreads:16s} bound {m.get('bound', '-')}")
    report["passes"] = ok
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
