"""``session.configure_existing`` on a session it did not build: a conf
the session refuses to set must not stop the others, and the one that
decides whether nanosecond parquet timestamps can be read at all warns."""

import pytest

from random_sampling_based_approximate_mapreduce_spark import session

NANOS = "spark.sql.legacy.parquet.nanosAsLong"


class _Conf:
    def __init__(self):
        self.values = {}

    def set(self, key, value):
        if key == NANOS:
            raise RuntimeError(f"Cannot modify the value of a static config: {key}")
        self.values[key] = value


class _Session:
    def __init__(self):
        self.conf = _Conf()


def test_unsettable_nanos_conf_warns_and_keeps_the_rest():
    stub = _Session()
    with pytest.warns(RuntimeWarning, match=r"nanosAsLong.*TIMESTAMP\(NANOS\)"):
        assert session.configure_existing(stub) is stub
    assert stub.conf.values == {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.csv.parser.columnPruning.enabled": "false",
    }
