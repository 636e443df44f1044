#!/usr/bin/env python3
"""The repository benchmark: one workload, one closed-loop client.

    python3 perfbench/run.py --workload interactive_mix --seed 1 --seconds 12 --trace 0

Run from the repository root. One run:

1. set-up: starts a ``local[N]`` SparkSession (N = min(2, cores)),
   generates the workload's inputs into a run-private directory
   (``.perfbench_run/<workload>``, removed at exit) and runs two warm-up
   passes, the first of which keeps its answers for the output check;
2. measures for ``--seconds``: whole passes (at least two) over the
   workload's queries, each pass in an order drawn from ``--seed``, each
   query run to Spark's ``noop`` sink and followed by three control
   queries, cache cleared and JVM GC run between passes;
3. checks the warm-up answers (DuckDB oracles, relative L1 error of the
   sampled answers) and prints one JSON line.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
traced passes (job group per query, build / plan / execute split,
status-store stage metrics), untraced passes and the prefix-pipeline
battery, then times one byte-skip read (flagship_scale), and prints the
per-layer metrics. perfbench/README.md maps
each per-layer metric to the end-to-end metric it should move.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import random
import shutil
import subprocess
import sys
import time
from statistics import median, median_low

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_ROOT = ".perfbench_run"  # relative to ROOT
GEN_REPS = 3  # input generation runs this often in set-up; setup_s takes the median
TAIL_PCT = 75
# the control query (see Bench.control) and its reference time
CONTROL_ROWS = 5_000_000
CONTROL_REF_S = 0.1
CONTROL_REPS = 3  # control runs after each timed query; more samples, a steadier median
CONTROL_WARMUP = 5  # control runs at the end of set-up, so its JIT settles first
# warm-up passes in set-up: the first collects the graded answers; a
# process's second pass still ran ~15 % slower than its fourth
WARM_PASSES = 2
MIN_PASSES = 2  # timed passes per run, however slow the box

# name -> unit; direction and bounds live in BENCHMARK.json
END_TO_END = {
    "setup_s": "s",
    "queries_per_s": "1/s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "exact_s": "s",
    "sampled_s": "s",
    "rel_err": "share",
    "ok_share": "share",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "sources.generate_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "spark.plan_s": "s",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.skipped_stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.input_bytes": "bytes",
    "spark.input_records": "count",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_fetch_wait_s": "s",
    "spark.spill_bytes": "bytes",
    "sources.scan_s": "s",
    "sampling.sample_s": "s",
    "functions.tokenize_s": "s",
    "sampling.estimate_s": "s",
    "sampling.sampled_rows": "count",
    "sampling.achieved_ratio": "share",
    "sampling.predicted_err": "share",
    "sampling.speedup": "x",
    "sources.pick_s": "s",
    "sources.units_picked": "count",
    "sources.bytes_opened": "bytes",
    "sources.byte_ratio": "share",
    "sources.skip_rel_err": "share",
    "sources.skip_read_s": "s",
    "trace.overhead_s": "s",
    "box.control_s": "s",
}
# integer-valued metrics (counts and byte totals)
INTEGER_UNITS = ("count", "bytes")


def hd_quantile(values: list[float], p: float, steps: int = 64) -> float:
    """Harrell-Davis estimate of the ``p``-quantile: a Beta((n+1)p,
    (n+1)(1-p))-weighted average of all order statistics. Unlike a
    single order statistic it does not jump when two queries of the mix
    swap ranks."""
    xs = sorted(values)
    n = len(xs)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    weights = []
    for i in range(n):
        # midpoint rule for the Beta density over ((i)/n, (i+1)/n)
        w = 0.0
        for j in range(steps):
            x = (i + (j + 0.5) / steps) / n
            w += math.exp((a - 1) * math.log(x) + (b - 1) * math.log1p(-x))
        weights.append(w)
    return sum(w * x for w, x in zip(weights, xs)) / sum(weights)


def timed(fn, *args) -> float:
    t0 = time.monotonic()
    fn(*args)
    return time.monotonic() - t0


def emit(values: dict, units: dict, *, correct: bool, attempted: int, failed: int) -> dict:
    """The result line: every metric of ``units``, integers for counts."""
    metrics = {}
    for name, unit in units.items():
        v = values[name]
        v = int(v) if unit in INTEGER_UNITS else float(v)
        metrics[name] = {"value": v, "unit": unit}
    return {"correct": bool(correct), "attempted": int(attempted), "failed": int(failed), "metrics": metrics}


class Bench:
    def __init__(self, args, run_dir: str):
        self.args = args
        self.run_dir = run_dir
        self.cores = max(1, min(2, os.cpu_count() or 1))

    # -- session ----------------------------------------------------------

    def start_session(self):
        tmp = os.path.abspath(os.path.join(self.run_dir, "tmp"))
        os.makedirs(tmp, exist_ok=True)
        # keep Spark's and Python's scratch files inside the run directory
        os.environ.update(
            TMPDIR=tmp, SPARK_LOCAL_DIRS=tmp, SPARK_GRAFT_CPUS=str(self.cores)
        )
        from random_sampling_based_approximate_mapreduce_spark.session import get_spark

        spark = get_spark(
            "perfbench",
            master=f"local[{self.cores}]",
            extra_conf={
                "spark.driver.memory": "2g",
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "spark.sql.warehouse.dir": os.path.abspath(os.path.join(self.run_dir, "warehouse")),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    @staticmethod
    def stop_session(spark) -> None:
        """Stop Spark, then the JVM, and wait until it and its Python
        workers have exited."""
        from pyspark import SparkContext

        import layers

        gw = SparkContext._gateway
        proc = gw.proc
        tree = layers.process_tree(proc.pid)
        spark.stop()
        gw.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        deadline = time.monotonic() + 30
        for pid in tree[1:]:
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                time.sleep(0.05)

    # -- one pass -----------------------------------------------------------

    @staticmethod
    def run_query(q) -> float:
        t0 = time.monotonic()
        q.build().write.format("noop").mode("overwrite").save()
        return time.monotonic() - t0

    def control(self, spark) -> float:
        """The control query: a fixed ``spark.range`` aggregate that calls
        no engine code, run after every measured query. Its median time is
        the box's speed during the run."""
        t0 = time.monotonic()
        spark.range(0, CONTROL_ROWS, 1, self.cores).selectExpr(
            "sum(id % 1000003 + id % 7) AS s"
        ).write.format("noop").mode("overwrite").save()
        return time.monotonic() - t0

    def between_passes(self, spark) -> None:
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        gc.collect()

    # -- run ----------------------------------------------------------------

    def run(self) -> dict:
        import layers
        from workloads import WORKLOADS

        args = self.args
        t_setup = time.monotonic()
        spark = self.start_session()
        session_s = time.monotonic() - t_setup
        try:
            wl = WORKLOADS[args.workload](spark, self.run_dir, args.seed)
            # input generation, repeated; the last copy is the one used
            gen_times = []
            for i in range(GEN_REPS):
                base = os.path.join(self.run_dir, f"base{i}")
                gen_times.append(timed(wl.generate, base))
                if i < GEN_REPS - 1:
                    shutil.rmtree(base)
            derive_s = timed(wl.derive, base)
            generate_s = median(gen_times) + derive_s
            queries = wl.queries()
            # warm-up pass: collects the answers the check grades
            answers, warm_failed = {}, []
            t0 = time.monotonic()
            for q in queries:
                try:
                    answers[q.name] = q.build().toPandas()
                except Exception as exc:  # graded as a failed query below
                    print(f"warm-up {q.name}: {type(exc).__name__}: {exc}", file=sys.stderr)
                    warm_failed.append(q.name)
            self.between_passes(spark)
            # further untimed passes: the JIT is still settling after the first
            for _ in range(WARM_PASSES - 1):
                for q in queries:
                    if q.name not in warm_failed:
                        self.run_query(q)
                self.between_passes(spark)
            for _ in range(CONTROL_WARMUP):
                self.control(spark)
            warm_s = time.monotonic() - t0
            setup_s = session_s + generate_s + warm_s
            print(
                f"set-up: session {session_s:.2f} s, generate {median(gen_times):.2f} s, "
                f"derive {derive_s:.2f} s, warm-up {warm_s:.2f} s",
                file=sys.stderr,
            )

            rec = self.measure(spark, wl, queries, args.trace)
            bad, rel_err = wl.check(answers)
            if args.trace:
                bad += self.skip_read(wl, rec)
            bad = sorted(set(bad) | set(warm_failed))
            rss = layers.peak_rss_parts(spark.sparkContext._gateway.proc.pid)
            print(
                "peak RSS MB: python {python:.0f}, JVM {jvm:.0f}, "
                "{n_workers} workers {workers:.0f}".format(**rss),
                file=sys.stderr,
            )
        finally:
            self.stop_session(spark)

        attempted = rec["attempted"] + len(queries) + rec.get("skip_attempted", 0)
        failed = rec["failed"] + len(bad)
        if bad:
            print(f"wrong or failed answers: {bad}", file=sys.stderr)
        correct = not bad and rec["failed"] == 0 and not math.isnan(rel_err)
        if args.trace:
            values = dict(rec["layers"])
            values["session.start_s"] = session_s
            values["sources.generate_s"] = generate_s
            values["box.control_s"] = rec["control_s"]
            return emit(values, PER_LAYER, correct=correct, attempted=attempted, failed=failed)
        lat = rec["latencies"]
        # times in control units: seconds on a box where the control
        # query takes CONTROL_REF_S
        k = CONTROL_REF_S / rec["control_s"]
        values = {
            "setup_s": setup_s * k,
            "queries_per_s": len(lat) / sum(lat) / k,
            "query_p50_s": hd_quantile(lat, 0.5) * k,
            "query_tail_s": hd_quantile(lat, TAIL_PCT / 100) * k,
            "exact_s": median(p["exact"] for p in rec["passes"]) * k,
            "sampled_s": median(p["sampled"] for p in rec["passes"]) * k,
            "rel_err": rel_err,
            "ok_share": (attempted - failed) / attempted,
            "peak_rss_mb": rss["python"] + rss["jvm"] + rss["workers"],
        }
        print(
            f"{args.workload}: {len(rec['passes'])} passes, {len(lat)} executions, "
            f"tail = p{TAIL_PCT}, control {rec['control_s']:.4f} s; median seconds per query:",
            file=sys.stderr,
        )
        for name, ts in sorted(rec["by_query"].items()):
            print(f"  {name:28s} {median(ts):7.3f}  (n={len(ts)})", file=sys.stderr)
        return emit(values, END_TO_END, correct=correct, attempted=attempted, failed=failed)

    def measure(self, spark, wl, queries, trace: bool) -> dict:
        """The timed window: whole passes, a new one started while it is
        expected (at the mean pass time so far) to end within
        ``--seconds``; at least ``MIN_PASSES``. Traced: a rotation of traced pass,
        untraced pass and prefix battery, until the window is up and each
        has run once."""
        import layers

        rng = random.Random(self.args.seed)
        tracer = layers.Tracer(spark) if trace else None
        # traced first: the later untraced pass is the warmer one, so the
        # overhead estimate errs high, not low
        kinds = ["traced", "plain", "prefix"] if trace else ["plain"]
        done = {k: [] for k in kinds}
        latencies, by_query, controls, attempted, failed = [], {}, [], 0, 0
        prefixes = wl.prefix_tasks() if trace else None
        t_start = time.monotonic()
        step = 0

        def window_left() -> bool:
            elapsed = time.monotonic() - t_start
            return step < MIN_PASSES or elapsed * (step + 1) / step <= self.args.seconds

        while window_left() or not all(done.values()):
            kind = kinds[step % len(kinds)]
            step += 1
            if kind == "prefix":
                done["prefix"].append(layers.prefix_battery(prefixes))
                continue
            order = queries[:]
            rng.shuffle(order)
            p = {"exact": 0.0, "sampled": 0.0, "queries": []}
            for q in order:
                attempted += 1
                try:
                    if kind == "traced":
                        r = tracer.run(q)
                        wall = r["wall_s"]
                        p["queries"].append(r)
                    else:
                        wall = self.run_query(q)
                except Exception as exc:  # counted against ok_share
                    print(f"{q.name}: {type(exc).__name__}: {exc}", file=sys.stderr)
                    failed += 1
                    continue
                if kind == "plain":
                    latencies.append(wall)
                    by_query.setdefault(q.name, []).append(wall)
                    controls += [self.control(spark) for _ in range(CONTROL_REPS)]
                p[q.kind] += wall
            done[kind].append(p)
            self.between_passes(spark)
        rec = {
            "latencies": latencies,
            "by_query": by_query,
            "control_s": median(controls),
            "passes": done["plain"],
            "attempted": attempted,
            "failed": failed,
        }
        if trace:
            rec["layers"] = self.layer_values(wl, queries, done)
        return rec

    def skip_read(self, wl, rec: dict) -> list[str]:
        """The byte-skip rung, traced runs only: one read whose answer is
        graded, then one timed read to ``noop``. It is not in the untraced
        pass, where the Python DataSource's cold start would take a third
        of a run. -> the rung's name if its answer is wrong."""
        rec["layers"]["sources.skip_read_s"] = 0.0
        rec["layers"]["sources.skip_rel_err"] = 0.0
        q = wl.skip_rung()
        if q is None:
            return []
        rec["skip_attempted"] = 1
        try:
            err = wl.skip_error(q.build().toPandas())
            rec["layers"]["sources.skip_read_s"] = self.run_query(q)
        except Exception as exc:  # graded as a failed query
            print(f"{q.name}: {type(exc).__name__}: {exc}", file=sys.stderr)
            err = None
        if err is None:
            return [q.name]
        rec["layers"]["sources.skip_rel_err"] = err
        return []

    def layer_values(self, wl, queries, done: dict) -> dict:
        import layers

        out = {}
        traced = done["traced"]
        pass_sums = [
            {k: sum(r[k] for r in p["queries"]) for k in p["queries"][0]} for p in traced
        ]
        for k in pass_sums[0]:
            vals = [s[k] for s in pass_sums]
            out[k] = int(median_low(vals)) if isinstance(vals[0], int) else median(vals)
        for k in done["prefix"][0]:
            vals = [b[k] for b in done["prefix"]]
            out[k] = int(median_low(vals)) if isinstance(vals[0], int) else median(vals)
        wall = lambda ps: median(p["exact"] + p["sampled"] for p in ps)  # noqa: E731
        out["trace.overhead_s"] = wall(traced) - wall(done["plain"])
        # mean exact query time over mean sampled query time
        n_exact = sum(q.kind == "exact" for q in queries)
        out["sampling.speedup"] = (
            median(p["exact"] for p in done["plain"]) / n_exact
        ) / (median(p["sampled"] for p in done["plain"]) / (len(queries) - n_exact))
        out.update(layers.byteskip_facts(wl.byteskip_rungs()))
        return out


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    os.chdir(ROOT)
    run_dir = os.path.join(RUN_ROOT, args.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        result = Bench(args, run_dir).run()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(RUN_ROOT)
        except OSError:
            pass  # another workload's run directory is still there
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path[:0] = [HERE, ROOT]
    sys.exit(main())
