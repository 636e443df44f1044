"""sql_round (functions/rounding.py): the DuckDB-exact decimal rounding
that replaced F.round across every value-oracled output in round 6.

The property that matters is CROSS-ENGINE BIT EQUALITY: for any double
column value and precision, Spark's sql_round must equal DuckDB's native
round() exactly — that equality is what lets every oracle keep its
natural round() while Spark emits hash-identical values. Tested here
against live DuckDB over random + adversarial values (shortest-repr grid
ties like 3.075 and 263.07075 are exactly the cases where F.round
diverged in production sweeps)."""

import math
import random
import struct

import duckdb
import pytest
from pyspark.sql import functions as F

from random_sampling_based_approximate_mapreduce_spark.functions.rounding import (
    sql_round,
    sql_round_sql,
)

ADVERSARIAL = [
    3.075, -3.075, 263.07075, 2.675, -2.675, 0.125, -0.125, 0.5, -0.5,
    2.5, -2.5, 1.0000005, 12345.000049999999, 0.49999999999999994,
    1e15 + 0.5, 0.0, -0.0, 1e-300, 123456.789e10, None,
]


@pytest.fixture(scope="module")
def values():
    rnd = random.Random(7)
    vals = list(ADVERSARIAL)
    vals += [rnd.uniform(-1e6, 1e6) for _ in range(400)]
    # rational quotients with small denominators: the tie-prone family
    vals += [rnd.randint(1, 10**7) / 80 for _ in range(400)]
    return vals


@pytest.mark.parametrize("digits", [0, 2, 4, 6, 9])
def test_sql_round_matches_duckdb_exactly(spark, values, digits):
    df = spark.createDataFrame([(v,) for v in values], "v double")
    got = [r["r"] for r in df.select(sql_round(F.col("v"), digits).alias("r")).collect()]
    con = duckdb.connect()
    want = [
        r[0]
        for r in con.execute(
            f"SELECT round(v::DOUBLE, {digits}) FROM (SELECT unnest(?) AS v)",
            [values],
        ).fetchall()
    ]
    for v, g, w in zip(values, got, want):
        if g is None or w is None:
            assert g is None and w is None, (v, g, w)
        else:
            assert g == w, f"v={v!r} digits={digits}: spark={g!r} duckdb={w!r}"


@pytest.mark.parametrize("digits", [0, 2, 4, 6, 9])
def test_sql_round_sql_is_bit_identical_to_the_column_form(spark, values, digits):
    """The Spark SQL spelling returns the same doubles, bit for bit, as
    the Column form (and so as DuckDB, by the test above)."""
    df = spark.createDataFrame([(v,) for v in values], "v double")
    rows = df.selectExpr(
        "v", f"{sql_round_sql('v', digits)} AS s"
    ).select("v", "s", sql_round(F.col("v"), digits).alias("c")).collect()
    assert len(rows) == len(values)
    for r in rows:
        if r["c"] is None:
            assert r["s"] is None, r
        else:
            bits = [struct.pack("<d", r[k]) for k in ("s", "c")]
            assert bits[0] == bits[1], f"v={r['v']!r} digits={digits}: sql={r['s']!r} column={r['c']!r}"


def test_f_round_would_fail_the_same_property(spark):
    """Documents WHY sql_round exists: Spark's F.round disagrees with
    DuckDB on shortest-repr half-grid ties (it rounds the decimal string
    HALF_UP; DuckDB rounds the raw double)."""
    vals = [263.07075, 3.075]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    spark_round = [
        r["r"] for r in df.select(F.round(F.col("v"), 4).alias("r")).collect()
    ]
    con = duckdb.connect()
    duck = [
        r[0]
        for r in con.execute(
            "SELECT round(v::DOUBLE, 4) FROM (SELECT unnest(?) AS v)", [vals]
        ).fetchall()
    ]
    assert spark_round != duck  # the divergence sql_round eliminates


def _assert_whole_stage_codegen(rounded):
    plan = rounded._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    # "*(n)" is the whole-stage-codegen marker in executedPlan toString
    assert "*(1) Project" in plan


def test_sql_round_stays_whole_stage_codegen(spark):
    df = spark.range(10).select((F.col("id") / 7.0).alias("v"))
    _assert_whole_stage_codegen(df.select(sql_round(F.col("v"), 4)))


def test_sql_round_sql_stays_whole_stage_codegen(spark):
    df = spark.range(10).select((F.col("id") / 7.0).alias("v"))
    _assert_whole_stage_codegen(df.selectExpr(sql_round_sql("v", 4)))
