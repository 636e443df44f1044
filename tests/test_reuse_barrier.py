"""session.reuse_barrier: the storage level it picks per master, that a
barrier survives the loss of one executor on a multi-executor master, and
the lifecycle it promises (no cache entry left behind, no reuse of stale
data across calls)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
from pyspark import StorageLevel

from random_sampling_based_approximate_mapreduce_spark import session
from random_sampling_based_approximate_mapreduce_spark.operators.graph import (
    triangle_count,
)
from random_sampling_based_approximate_mapreduce_spark.plans.catalog import QUERIES

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runs in its own interpreter: a local-cluster master needs its own
# SparkContext, and the test session's JVM already holds one.
EXECUTOR_LOSS = """
import json, time
from pyspark.sql import SparkSession, functions as F
from random_sampling_based_approximate_mapreduce_spark.session import reuse_barrier

spark = (
    SparkSession.builder.master("local-cluster[2,1,1024]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
sc = spark.sparkContext._jsc.sc()


def executor_ids():
    ids = sc.getExecutorIds().mkString(",")
    return ids.split(",") if ids else []


def wait_for(cond, what, timeout=120.0):
    deadline = time.monotonic() + timeout
    while not cond():
        if time.monotonic() > deadline:
            raise TimeoutError(what)
        time.sleep(0.2)


wait_for(lambda: len(executor_ids()) == 2, "two executors registered")
df = reuse_barrier(spark.range(200000, numPartitions=8), eager=True)
total = lambda: df.agg(F.sum("id")).first()[0]
first = total()
lost = executor_ids()[0]
sc.killExecutor(lost)
wait_for(lambda: lost not in executor_ids(), "executor removed")
second = total()
print(json.dumps({"first": first, "second": second, "lost": lost}))
spark.stop()
"""


def test_barrier_survives_executor_loss():
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, env.get("PYTHONPATH")) if p
    )
    proc = subprocess.run(
        [sys.executable, "-c", EXECUTOR_LOSS],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["first"] == out["second"] == 200000 * 199999 // 2


@pytest.mark.parametrize(
    "master, level",
    [
        ("local", None),
        ("local[4]", None),
        ("local-cluster[2,1,1024]", StorageLevel.MEMORY_AND_DISK_2),
        ("yarn", StorageLevel.MEMORY_AND_DISK_2),
    ],
)
def test_storage_level_per_master(spark, monkeypatch, master, level):
    calls = []
    cls = type(spark.range(0))
    real = cls.localCheckpoint

    def spy(self, eager=True, storageLevel=None):
        calls.append((eager, storageLevel))
        return real(self, eager=eager, storageLevel=storageLevel)

    monkeypatch.setattr(cls, "localCheckpoint", spy)
    monkeypatch.setattr(spark.sparkContext, "master", master)
    out = session.reuse_barrier(spark.range(10), eager=False)
    assert calls == [(False, level)]
    assert out.count() == 10


def test_no_cache_entry_survives_blocked_dedup(spark, sf_dir):
    rows = QUERIES["dedup_clusters_blocked"].spark(spark, sf_dir).collect()
    assert rows
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_repeated_call_sees_overwritten_input(spark, tmp_path):
    path = str(tmp_path / "edges.parquet")

    def triangles(edges):
        spark.createDataFrame(edges, "a long, b long").write.mode(
            "overwrite"
        ).parquet(path)
        df = spark.read.parquet(path)
        return {r.metric: r.value for r in triangle_count(df, "a", "b").collect()}

    assert triangles([(0, 1), (1, 2), (0, 2)])["n_triangles"] == 1
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    assert triangles(k4)["n_triangles"] == 4

