"""Per-layer measurements, taken from outside the engine package.

- ``Tracer``: one query split into plan build (the catalog or
  composed build function), physical planning (``executedPlan()``) and
  execution, with the execution's stage metrics read from Spark's status
  store under a per-query job group.
- ``flagship_prefixes``: nested prefix pipelines (load; + sample pick;
  + tokenize or log parse; + HT estimate), each run to the ``noop`` sink,
  whose differences are the self-times of the sources, sampling and
  functions layers.
- ``byteskip_facts``: the byte-skip pickers' time, units and bytes.
- ``peak_rss_parts``: VmHWM of this process, the JVM and the JVM's
  Python workers.
"""

from __future__ import annotations

import os
import time
from statistics import median

# status-store stage fields -> (metric, scale to the metric's unit)
STAGE_FIELDS = {
    "numTasks": ("spark.tasks", 1),
    "executorRunTime": ("spark.executor_run_s", 1e-3),
    "executorCpuTime": ("spark.executor_cpu_s", 1e-9),
    "jvmGcTime": ("spark.gc_s", 1e-3),
    "inputBytes": ("spark.input_bytes", 1),
    "inputRecords": ("spark.input_records", 1),
    "shuffleReadBytes": ("spark.shuffle_read_bytes", 1),
    "shuffleWriteBytes": ("spark.shuffle_write_bytes", 1),
    "shuffleFetchWaitTime": ("spark.shuffle_fetch_wait_s", 1e-3),
    "memoryBytesSpilled": ("spark.spill_bytes", 1),  # + diskBytesSpilled below
}


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def group_stage_metrics(sc, group: str) -> dict:
    """Sum the stage metrics of every job run under ``group``; a stage
    AQE or a shared shuffle made SKIPPED counts only as skipped."""
    store = sc._jsc.sc().statusStore()
    jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    stage_ids = set()
    for j in jobs:
        stage_ids.update(_iter(store.job(j).stageIds()))
    out = {name: 0 for name, _ in STAGE_FIELDS.values()}
    out.update({"spark.jobs": len(jobs), "spark.stages": 0, "spark.skipped_stages": 0})
    for sid in stage_ids:
        st = store.lastStageAttempt(sid)
        if st.status().toString() == "SKIPPED":
            out["spark.skipped_stages"] += 1
            continue
        out["spark.stages"] += 1
        for field, (name, scale) in STAGE_FIELDS.items():
            out[name] += getattr(st, field)() * scale
        out["spark.spill_bytes"] += st.diskBytesSpilled()
    return out


class Tracer:
    """Runs queries under numbered job groups and splits their layers."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.n = 0

    def run(self, query) -> dict:
        self.n += 1
        group = f"perfbench-{self.n}"
        self.sc.setJobGroup(group, query.name)
        try:
            t0 = time.monotonic()
            df = query.build()
            t1 = time.monotonic()
            build_jobs = len(list(self.sc.statusTracker().getJobIdsForGroup(group)))
            df._jdf.queryExecution().executedPlan()
            t2 = time.monotonic()
            df.write.format("noop").mode("overwrite").save()
            t3 = time.monotonic()
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        rec = group_stage_metrics(self.sc, group)
        rec.update(
            {
                "plans.build_s": t1 - t0,
                "plans.build_jobs": build_jobs,
                "spark.plan_s": t2 - t1,
                "spark.exec_s": t3 - t2,
                "wall_s": t3 - t0,
            }
        )
        return rec


def flagship_prefixes(spark, docs_dir: str, events_dir: str, ratio: float, seed: int) -> list[dict]:
    """The two flagship tasks as nested prefix pipelines.

    Each task: ``stages`` = four pipeline makers, each the previous plus one
    layer; ``sampled`` = the observed SampledFrame behind stage 2, whose
    report gives the sampling facts after that stage has run."""
    from random_sampling_based_approximate_mapreduce_spark.functions import text as T
    from random_sampling_based_approximate_mapreduce_spark.sampling.config import SamplingConfig
    from random_sampling_based_approximate_mapreduce_spark.sampling.sampled_frame import (
        SampledFrame,
    )
    from random_sampling_based_approximate_mapreduce_spark.sources import apache_log as AL
    from random_sampling_based_approximate_mapreduce_spark.sources.tables import load

    cfg = SamplingConfig(ratio=ratio, seed=seed)
    tasks = []
    for src, tokenize, key in (
        (
            lambda: load(spark, docs_dir, "documents").select("text"),
            lambda df: T.explode_words(T.drop_digit_lines(df, "text"), "text"),
            "word",
        ),
        (
            lambda: AL.synthesize_raw_log(load(spark, events_dir, "events")),
            AL.parse_apache_log,
            "host",
        ),
    ):
        task: dict = {}

        def pick(src=src, task=task):
            task["sampled"] = SampledFrame.from_dataframe(src(), cfg)
            return task["sampled"]

        task["stages"] = [
            src,
            lambda pick=pick: pick().df,
            lambda pick=pick, tok=tokenize: pick().transform(tok).df,
            lambda pick=pick, tok=tokenize, key=key: pick().transform(tok).approx_count(key),
        ]
        tasks.append(task)
    return tasks


def prefix_battery(tasks: list[dict]) -> dict:
    """Run every prefix stage once to ``noop``; -> per-layer self-times
    (summed over tasks) and the sampling facts of the pick stage."""
    names = ("sources.scan_s", "sampling.sample_s", "functions.tokenize_s", "sampling.estimate_s")
    out = {n: 0.0 for n in names}
    rows = ratios = errs = 0.0
    for task in tasks:
        times = []
        for i, stage in enumerate(task["stages"]):
            t0 = time.monotonic()
            stage().write.format("noop").mode("overwrite").save()
            times.append(time.monotonic() - t0)
            if i == 1:
                rep = task["sampled"].report()
                rows += rep.sampled_records
                ratios += rep.actual_ratio
                errs += rep.achieved_error
        prev = 0.0
        for n, t in zip(names, times):
            out[n] += t - prev
            prev = t
    k = len(tasks)
    out.update(
        {
            "sampling.sampled_rows": int(rows),
            "sampling.achieved_ratio": ratios / k,
            "sampling.predicted_err": errs / k,
        }
    )
    return out


def byteskip_facts(rungs: list[dict], reps: int = 3) -> dict:
    """Time each rung's pick (it runs in this process) and count the
    units and compressed bytes it opens. ``byte_ratio`` = nominal bytes
    (ratio x total) over bytes opened: 1.0 means no over-read."""
    out = {"sources.pick_s": 0.0, "sources.units_picked": 0, "sources.bytes_opened": 0}
    nominal = 0.0
    for rung in rungs:
        ts = []
        for _ in range(reps):
            t0 = time.monotonic()
            picked, picked_bytes, total = rung["pick"]()
            ts.append(time.monotonic() - t0)
        out["sources.pick_s"] += median(ts)
        out["sources.units_picked"] += len(picked)
        out["sources.bytes_opened"] += int(picked_bytes)
        nominal += rung["ratio"] * total
    out["sources.byte_ratio"] = nominal / out["sources.bytes_opened"] if rungs else 0.0
    return out


def _children(pid: int) -> list[int]:
    kids = []
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == pid:
            kids.append(int(p))
    return kids


def process_tree(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_parts(jvm_pid: int) -> dict:
    """VmHWM in MB of this process, the JVM and the JVM's Python workers."""
    workers = process_tree(jvm_pid)[1:]
    return {
        "python": _vm_hwm_kb(os.getpid()) / 1024.0,
        "jvm": _vm_hwm_kb(jvm_pid) / 1024.0,
        "workers": sum(_vm_hwm_kb(p) for p in workers) / 1024.0,
        "n_workers": len(workers),
    }
