"""Semantic invariants for the round-4 analytic/sketch/index queries.

The value oracle (tools/check_oracle.py + the driver) already pins these
queries' exact outputs against DuckDB; this file asserts the properties
that must hold regardless of data — the CountMin one-sided error bound,
posting-list ordering, histogram clamping, scalar-subquery semantics —
so a refactor that keeps both engines wrong in the same way still fails.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from random_sampling_based_approximate_mapreduce_spark.plans.catalog import QUERIES


def _run(name, spark, sf_dir):
    return QUERIES[name].spark(spark, sf_dir)


class TestCountMin:
    def test_one_sided_overestimate(self, spark, sf_correct_dir):
        # CountMin never underestimates: estimate >= exact for every probe.
        rows = _run("countmin_tokens", spark, sf_correct_dir).collect()
        assert rows, "probe set empty"
        for r in rows:
            assert r.cm_estimate >= r.exact_cnt, r

    def test_error_bounded_by_collisions(self, spark, sf_correct_dir):
        # With d=3 rows of w=512 buckets over a ~31-word vocabulary,
        # collisions are rare; the min-over-rows estimate should be exact
        # for the vast majority of probes (and is never more than the
        # total token count).
        df = _run("countmin_tokens", spark, sf_correct_dir)
        agg = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("cm_estimate") == F.col("exact_cnt")).cast("int")).alias("exact_hits"),
        ).collect()[0]
        assert agg.exact_hits >= agg.n * 0.9


class TestInvertedIndex:
    def test_postings_sorted_and_sized(self, spark, sf_correct_dir):
        rows = _run("bigram_inverted_index", spark, sf_correct_dir).collect()
        assert rows
        for r in rows:
            ids = [int(x) for x in r.postings.split(",")]
            assert ids == sorted(ids)
            assert len(ids) == r.df  # shingles are per-doc distinct
            assert 1 <= r.df <= 5


class TestHistogram:
    def test_buckets_clamped_and_complete(self, spark, sf_correct_dir):
        from random_sampling_based_approximate_mapreduce_spark.sources.tables import load

        rows = _run("events_value_histogram", spark, sf_correct_dir).collect()
        assert all(0 <= r.bucket <= 19 for r in rows)
        total = sum(r.cnt for r in rows)
        n_events = load(spark, sf_correct_dir, "events").count()
        assert total == n_events  # every event lands in exactly one bucket


class TestTfIdf:
    def test_topk_shape(self, spark, sf_correct_dir):
        rows = _run("tfidf_top_terms", spark, sf_correct_dir).collect()
        assert rows
        by_doc: dict = {}
        for r in rows:
            by_doc.setdefault(r.doc_id, []).append(r)
        for doc_id, terms in by_doc.items():
            assert len(terms) <= 3
            scores = [t.tfidf for t in terms]
            assert scores == sorted(scores, reverse=True)
            for t in terms:
                assert t.tf >= 1 and t.df >= 1

    def test_documents_doc_id_is_unique(self, spark, sf_correct_dir):
        # df counts distinct words per row (array_distinct), which equals
        # the oracle's DISTINCT (doc_id, word) only while doc_id is unique
        from random_sampling_based_approximate_mapreduce_spark.operators.quality import (
            uniqueness_violations,
        )
        from random_sampling_based_approximate_mapreduce_spark.sources.tables import load

        docs = load(spark, sf_correct_dir, "documents")
        (row,) = uniqueness_violations(docs, ["doc_id"], "doc_id_unique").collect()
        assert row["violations"] == 0


class TestScalarSubquery:
    def test_threshold_is_global_average(self, spark, sf_correct_dir):
        from random_sampling_based_approximate_mapreduce_spark.sources.tables import load

        c = load(spark, sf_correct_dir, "customer")
        row = c.where(F.col("c_acctbal") > 0.0).agg(
            (
                F.sum(F.col("c_acctbal").cast("decimal(12,2)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_bal")
        ).collect()[0]
        out = _run("idle_rich_customers", spark, sf_correct_dir)
        numcust = out.agg(F.sum("numcust")).collect()[0][0]
        # recompute the expected count imperatively
        o = load(spark, sf_correct_dir, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        ).select("o_custkey").distinct()
        expected = (
            c.where(F.col("c_acctbal") > row.avg_bal)
            .join(o, c.c_custkey == o.o_custkey, "left_anti")
            .count()
        )
        assert numcust == expected


class TestJoinShapes:
    @pytest.mark.parametrize(
        "name",
        [
            "order_counts_distribution",
            "promo_revenue_share",
            "supplier_cnt_by_brand",
            "large_orders_topk",
            "cheapest_supplier_per_part",
        ],
    )
    def test_runs_nonempty_at_smoke_sf(self, name, spark, sf_dir):
        assert _run(name, spark, sf_dir).count() > 0

    def test_q13_counts_conserve_customers(self, spark, sf_correct_dir):
        from random_sampling_based_approximate_mapreduce_spark.sources.tables import load

        dist = _run("order_counts_distribution", spark, sf_correct_dir)
        n = dist.agg(F.sum("custdist")).collect()[0][0]
        assert n == load(spark, sf_correct_dir, "customer").count()

    def test_q14_share_in_unit_interval(self, spark, sf_correct_dir):
        rows = _run("promo_revenue_share", spark, sf_correct_dir).collect()
        for r in rows:
            assert 0.0 <= r.promo_share <= 1.0
            assert r.promo_revenue <= r.total_revenue


class TestSampledTwins:
    def test_promo_share_estimate_near_exact(self, spark, sf_correct_dir):
        exact = {
            r.ship_month: r.promo_share
            for r in _run("promo_revenue_share", spark, sf_correct_dir).collect()
        }
        est_rows = _run("promo_share_hash_sampled", spark, sf_correct_dir).collect()
        # corpus-level: the sample-weighted mean share should track closely
        num = sum(r.est_promo_share * r.n_sampled for r in est_rows)
        den = sum(r.n_sampled for r in est_rows)
        exact_mean = sum(exact.values()) / len(exact)
        assert abs(num / den - exact_mean) < 0.05

    def test_histogram_ht_estimates_track_truth(self, spark, sf_correct_dir):
        exact = {r.bucket: r.cnt for r in _run("events_value_histogram", spark, sf_correct_dir).collect()}
        est = {r.bucket: r.est_cnt for r in _run("events_histogram_hash_sampled", spark, sf_correct_dir).collect()}
        total_exact = sum(exact.values())
        total_est = sum(est.values())
        assert abs(total_est - total_exact) / total_exact < 0.1
        # every estimated bucket exists in truth
        assert set(est) <= set(exact)
