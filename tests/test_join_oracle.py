"""The sampled-join layer against its DuckDB oracles.

The five join-layer catalog queries (inner, left, right-by-symmetry,
full, the null-stratum bootstrap and the cluster CI) run at sf0.001 and
must equal their oracle SQL exactly, through the same comparison the
oracle gate (``tools/check_oracle.py``) uses: every moment is an exact
integer sum and every weight an IEEE-exact double, so both engines
produce the same doubles.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

from random_sampling_based_approximate_mapreduce_spark.plans.catalog import QUERIES
from random_sampling_based_approximate_mapreduce_spark.sources.tables import TABLES

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from check_oracle import compare  # noqa: E402

JOIN_QUERIES = [
    "sampled_join_hash_twin",
    "sampled_left_join_hash_twin",
    "sampled_left_join_unmatched_boot_ci",
    "sampled_join_cluster_ci",
    "sampled_full_join_hash_twin",
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", JOIN_QUERIES)
def test_join_query_equals_oracle(spark, sf_dir, duck, name):
    q = QUERIES[name]
    got = q.spark(spark, sf_dir).toPandas()
    want = duck.execute(q.oracle).fetchdf()
    assert len(got) > 0
    assert compare(name, got, want) == []
