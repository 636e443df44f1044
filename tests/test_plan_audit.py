"""Physical-plan audit of the query catalog at sf0.001.

No batch catalog query's executed plan evaluates Python row at a time
(``BatchEvalPython``; Arrow batches through ``ArrowEvalPython``,
``MapInPandas`` or ``MapInArrow`` are the sanctioned path) or pairs rows
without a join key (``CartesianProduct``, ``BroadcastNestedLoopJoin``).
Streaming queries are audited through their batch twins.
"""

from __future__ import annotations

from random_sampling_based_approximate_mapreduce_spark.plans.catalog import QUERIES

FORBIDDEN = ("BatchEvalPython", "CartesianProduct", "BroadcastNestedLoopJoin")


def test_catalog_plans_have_no_row_python_or_keyless_join(spark, sf_dir):
    found = {}
    for name, query in sorted(QUERIES.items()):
        if "streaming" in (query.tags or ()):
            continue
        plan = query.spark(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        hits = [op for op in FORBIDDEN if op in plan]
        if hits:
            found[name] = hits
    assert not found, found
