"""SampledFrame behavior: exact-mode passthrough, observation counts,
HT-scaled estimators, end-to-end error bound (FIXTURES.md F5)."""

import pytest
from pyspark.sql import functions as F

from random_sampling_based_approximate_mapreduce_spark import SampledFrame, SamplingConfig


@pytest.fixture(scope="module")
def lineitem(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


class TestExactMode:
    def test_ratio_one_is_passthrough(self, lineitem):
        # observe=False: strict passthrough, plan identical to the input's
        sf = SampledFrame.from_dataframe(lineitem, SamplingConfig.exact(), observe=False)
        assert sf.df is lineitem
        assert sf.ratio == 1.0 and sf.scale == 1.0

    def test_exact_mode_observes_but_never_samples(self, lineitem):
        # default: a CollectMetrics node for exact totals, but NO Sample
        # node (rows unchanged -> oracle hash-match preserved)
        sf = SampledFrame.from_dataframe(lineitem, SamplingConfig.exact())
        plan = sf.df._jdf.queryExecution().analyzed().toString()
        assert "Sample" not in plan
        assert "CollectMetrics" in plan
        n = sf.df.count()
        rep = sf.report()
        assert rep.total_records == rep.sampled_records == n == lineitem.count()
        assert rep.achieved_error == 0.0

    def test_exact_counts_match(self, lineitem):
        sf = SampledFrame.from_dataframe(lineitem, SamplingConfig.exact())
        exact = lineitem.count()
        est = sf.approx_count().collect()[0]["est_count"]
        assert est == exact


class TestSampledMode:
    def test_observation_tracks_total_and_sampled(self, lineitem):
        sf = SampledFrame.from_dataframe(lineitem, SamplingConfig(ratio=0.2, seed=7))
        n_sampled = sf.df.count()  # action -> observations populate
        rep = sf.report()
        assert rep.total_records == lineitem.count()
        assert rep.sampled_records == n_sampled
        assert rep.designed_ratio == 0.2
        # Bernoulli sampling: actual rate within a loose band of designed
        assert 0.15 < rep.actual_ratio < 0.25

    def test_count_estimate_within_bound(self, lineitem):
        exact = lineitem.count()
        sf = SampledFrame.from_dataframe(lineitem, SamplingConfig(ratio=0.2, seed=7))
        est = sf.approx_count().collect()[0]["est_count"]
        assert est == pytest.approx(exact, rel=0.05)

    def test_sum_ci_covers_truth(self, lineitem):
        sf = SampledFrame.from_dataframe(
            lineitem, SamplingConfig(ratio=0.2, seed=11, confidence=0.95), observe=False
        )
        exact = {
            r["l_returnflag"]: r["s"]
            for r in lineitem.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("s")).collect()
        }
        rows = sf.approx_sum("l_quantity", "l_returnflag", ci=True).collect()
        assert rows and all(r["est_sum_ci"] > 0 for r in rows)
        covered = sum(
            1 for r in rows if abs(r["est_sum"] - exact[r["l_returnflag"]]) <= r["est_sum_ci"]
        )
        # 95% CI over 3 groups: all should cover with this seed
        assert covered == len(rows)

    def test_sum_estimate_within_bound(self, lineitem):
        exact = lineitem.agg(F.sum("l_quantity")).collect()[0][0]
        sf = SampledFrame.from_dataframe(lineitem, SamplingConfig(ratio=0.2, seed=7))
        est = sf.approx_sum("l_quantity").collect()[0]["est_sum"]
        assert est == pytest.approx(exact, rel=0.05)

    def test_mean_ci_covers_truth(self, lineitem):
        sf = SampledFrame.from_dataframe(
            lineitem, SamplingConfig(ratio=0.2, seed=5, confidence=0.99), observe=False
        )
        exact = lineitem.agg(F.avg("l_quantity")).collect()[0][0]
        row = sf.approx_mean("l_quantity", ci=True).collect()[0]
        assert row["est_mean_ci"] > 0
        assert abs(row["est_mean"] - exact) <= row["est_mean_ci"]

    def test_approx_distinct_tracks_sampled_frame(self, lineitem):
        exact_mode = SampledFrame.from_dataframe(lineitem, SamplingConfig.exact(), observe=False)
        est = exact_mode.approx_distinct("l_partkey").collect()[0]["est_distinct"]
        true = lineitem.select("l_partkey").distinct().count()
        assert est == pytest.approx(true, rel=0.1)  # HLL at rsd=0.05

    def test_mean_needs_no_scale_up(self, lineitem):
        exact = lineitem.agg(F.avg("l_quantity")).collect()[0][0]
        sf = SampledFrame.from_dataframe(lineitem, SamplingConfig(ratio=0.2, seed=7))
        est = sf.approx_mean("l_quantity").collect()[0]["est_mean"]
        assert est == pytest.approx(exact, rel=0.05)

    def test_grouped_estimate_with_ci(self, lineitem):
        sf = SampledFrame.from_dataframe(lineitem, SamplingConfig(ratio=0.3, seed=11))
        rows = sf.approx_count("l_returnflag", ci=True).collect()
        exact = {r["l_returnflag"]: r["count"] for r in lineitem.groupBy("l_returnflag").count().collect()}
        for r in rows:
            # estimate within its own CI of the truth (seeded -> stable)
            assert abs(r["est_count"] - exact[r["l_returnflag"]]) < 3 * r["est_count_ci"]

    def test_ci_coverage_across_many_groups(self, spark, sf_correct_dir):
        """Statistical validity of per-group CIs: at 95% confidence, the
        fraction of groups whose CI covers the exact count must be high
        (>= 80% with this fixed seed over ~50 host groups)."""
        from random_sampling_based_approximate_mapreduce_spark.sources.apache_log import access_log
        from random_sampling_based_approximate_mapreduce_spark.sources.tables import load

        log = access_log(load(spark, sf_correct_dir, "events"))
        exact = {r["host"]: r["cnt"] for r in log.groupBy("host").agg(F.count(F.lit(1)).alias("cnt")).collect()}
        sf = SampledFrame.from_dataframe(log, SamplingConfig(ratio=0.1, seed=17, confidence=0.95), observe=False)
        rows = sf.approx_count("host", ci=True, alias="est").collect()
        assert len(rows) >= 40
        covered = sum(1 for r in rows if abs(r["est"] - exact[r["host"]]) <= r["est_ci"])
        assert covered / len(rows) >= 0.8

    def test_ratio_estimator_with_ci_covers_truth(self, lineitem):
        exact_row = lineitem.agg(
            (F.sum("l_extendedprice") / F.sum("l_quantity")).alias("r")
        ).collect()[0]
        sf = SampledFrame.from_dataframe(
            lineitem, SamplingConfig(ratio=0.1, seed=13, confidence=0.95), observe=False
        )
        row = sf.approx_ratio("l_extendedprice", "l_quantity", ci=True).collect()[0]
        assert row["est_ratio_ci"] > 0
        assert abs(row["est_ratio"] - exact_row["r"]) <= row["est_ratio_ci"]

    def test_ratio_estimator_grouped_exact_mode(self, lineitem):
        sf = SampledFrame.from_dataframe(lineitem, SamplingConfig.exact(), observe=False)
        got = {
            r["l_returnflag"]: r["est_ratio"]
            for r in sf.approx_ratio("l_extendedprice", "l_quantity", "l_returnflag").collect()
        }
        exact = {
            r["l_returnflag"]: r["r"]
            for r in lineitem.groupBy("l_returnflag")
            .agg((F.sum("l_extendedprice") / F.sum("l_quantity")).alias("r"))
            .collect()
        }
        for k, v in exact.items():
            assert got[k] == pytest.approx(v, rel=1e-12)

    def test_sampled_join_composes_ratios(self, spark, sf_dir):
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
        so = SampledFrame.from_dataframe(orders, SamplingConfig(ratio=0.5, seed=3), observe=False)
        sc = SampledFrame.from_dataframe(customer, SamplingConfig(ratio=0.5, seed=9), observe=False)
        joined = so.join_sampled(
            sc.transform(lambda df: df.withColumnRenamed("c_custkey", "o_custkey")), "o_custkey"
        )
        assert joined.ratio == pytest.approx(0.25)
        exact = orders.join(
            customer.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey"
        ).count()
        est = joined.approx_count().collect()[0]["est_count"]
        assert est == pytest.approx(exact, rel=0.1)

    def test_sampled_join_rejects_outer(self, lineitem):
        sf = SampledFrame.from_dataframe(lineitem, SamplingConfig(ratio=0.5), observe=False)
        with pytest.raises(ValueError):
            sf.join_sampled(sf, "l_orderkey", how="left")

    def test_min_support_flags_rare_groups(self, lineitem):
        sf = SampledFrame.from_dataframe(lineitem, SamplingConfig(ratio=0.01, seed=2), observe=False)
        out = sf.approx_count("l_returnflag", min_support=100).collect()
        assert all("low_support" in r for r in (row.asDict() for row in out))
        # with 6000 sampled rows over 3 flags, none should be low-support at 100;
        # at threshold 10^6 raw, all are
        out_hi = sf.approx_count("l_returnflag", min_support=10**6).collect()
        assert all(r["low_support"] for r in out_hi)

    def test_min_support_exposes_exact_sampled_count(self, lineitem):
        # n_sampled is the exact integer per-group sampled row count (no
        # float back-derivation), identical to a direct groupBy count
        sf = SampledFrame.from_dataframe(lineitem, SamplingConfig(ratio=0.05, seed=7), observe=False)
        flagged = {
            r["l_returnflag"]: r
            for r in sf.approx_count("l_returnflag", ci=True, min_support=30).collect()
        }
        direct = {
            r["l_returnflag"]: r["n"]
            for r in sf.df.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        assert set(flagged) == set(direct)
        for flag, row in flagged.items():
            assert row["n_sampled"] == direct[flag]
            assert row["low_support"] == (row["n_sampled"] < 30)
            # estimate and CI are consistent with the exposed support
            assert row["est_count"] == pytest.approx(row["n_sampled"] * 20.0)
            assert row["est_count_ci"] > 0

    def test_min_support_on_sum_and_ratio(self, lineitem):
        sf = SampledFrame.from_dataframe(lineitem, SamplingConfig(ratio=0.05, seed=7), observe=False)
        sums = sf.approx_sum("l_quantity", "l_returnflag", ci=True, min_support=10**6).collect()
        assert all(r["low_support"] for r in sums)
        assert all(r["n_sampled"] > 0 for r in sums)
        ratios = sf.approx_ratio(
            "l_extendedprice", "l_quantity", "l_returnflag", ci=True, min_support=10**6
        ).collect()
        assert all(r["low_support"] for r in ratios)
        # ratio path without CI carries the flag too
        ratios_noci = sf.approx_ratio(
            "l_extendedprice", "l_quantity", "l_returnflag", min_support=2
        ).collect()
        assert all(not r["low_support"] for r in ratios_noci)

    def test_min_support_on_stratified_estimators(self, lineitem):
        from random_sampling_based_approximate_mapreduce_spark.sampling.sampled_frame import (
            stratified_sample,
            weighted_count,
            weighted_sum,
        )

        fr = {"A": 0.5, "N": 0.02, "R": 0.5}
        s = stratified_sample(lineitem, "l_returnflag", fr, seed=3)
        counts = {r["l_returnflag"]: r for r in weighted_count(s, "l_returnflag", min_support=500).collect()}
        # the hard-cut stratum lands a thin sample; the 50% strata don't
        assert counts["N"]["n_sampled"] < counts["A"]["n_sampled"]
        assert all("low_support" in r.asDict() for r in counts.values())
        sums = weighted_sum(s, "l_quantity", "l_returnflag", min_support=10**6).collect()
        assert all(r["low_support"] for r in sums)

    def test_min_support_on_mean(self, lineitem):
        sf = SampledFrame.from_dataframe(lineitem, SamplingConfig(ratio=0.05, seed=7), observe=False)
        rows = sf.approx_mean("l_quantity", "l_returnflag", ci=True, min_support=10**6).collect()
        assert all(r["low_support"] for r in rows)
        rows_ok = sf.approx_mean("l_quantity", "l_returnflag", min_support=2).collect()
        assert all(not r["low_support"] for r in rows_ok)

    def test_exact_mode_never_flags(self, lineitem):
        # ratio=1.0: estimates are exact, so no support flag even if asked
        sf = SampledFrame.from_dataframe(lineitem, SamplingConfig.exact(), observe=False)
        cols = sf.approx_count("l_returnflag", min_support=10**9).columns
        assert "low_support" not in cols and "n_sampled" not in cols

    def test_stratified_estimates_per_stratum(self, spark, sf_dir):
        from random_sampling_based_approximate_mapreduce_spark.sampling.sampled_frame import (
            stratified_sample,
            weighted_count,
            weighted_sum,
        )
        from random_sampling_based_approximate_mapreduce_spark.sources.tables import load

        e = load(spark, sf_dir, "events")
        exact = {
            r["event_type"]: (r["cnt"], r["s"])
            for r in e.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("s"))
            .collect()
        }
        fractions = {t: (0.5 if exact[t][0] < 2000 else 0.1) for t in exact}
        s = stratified_sample(e, "event_type", fractions, seed=7)
        est_cnt = {r["event_type"]: r["est_count"] for r in weighted_count(s, "event_type").collect()}
        est_sum = {r["event_type"]: r["est_sum"] for r in weighted_sum(s, "value", "event_type").collect()}
        for t, (cnt, sm) in exact.items():
            assert est_cnt[t] == pytest.approx(cnt, rel=0.15)
            assert est_sum[t] == pytest.approx(sm, rel=0.2)

    def test_transform_keeps_metadata(self, lineitem):
        sf = SampledFrame.from_dataframe(lineitem, SamplingConfig(ratio=0.5, seed=3))
        sf2 = sf.transform(lambda df: df.where(F.col("l_quantity") > 10))
        assert sf2.ratio == 0.5
        assert sf2.observation is sf.observation

    def test_rel_l1_error_under_predicted_bound(self, lineitem):
        """The reference's acceptance loop (RSMRResultComparator.java:58-82):
        rel-L1 between exact and HT-scaled histograms <= k * predicted."""
        exact = lineitem.groupBy("l_returnflag").count()
        sf = SampledFrame.from_dataframe(lineitem, SamplingConfig(ratio=0.1, seed=42))
        approx = sf.approx_count("l_returnflag")
        sf.df.count()  # populate observations
        rep = sf.report()
        joined = exact.join(approx, "l_returnflag", "left").select(
            F.sum(F.abs(F.col("count") - F.coalesce(F.col("est_count"), F.lit(0)))).alias("errsum"),
            F.sum("count").alias("base"),
        ).collect()[0]
        rel_l1 = joined["errsum"] / joined["base"]
        # grouped rel-L1 is looser than the global proportion bound; 3x margin
        assert rel_l1 < 3 * max(rep.achieved_error, 0.01)


class TestHllSketches:
    def test_daily_and_union_estimates_near_exact(self, spark, sf_dir):
        """Per-day HLL estimates and the unioned total track exact distinct
        counts within 5%; the total comes from sketch union, not a rescan."""
        from pyspark.sql import functions as F

        from random_sampling_based_approximate_mapreduce_spark.plans.catalog import QUERIES
        from random_sampling_based_approximate_mapreduce_spark.sources.tables import load

        got = {r["day"]: r["est_users"] for r in QUERIES["hll_users_daily"].spark(spark, sf_dir).collect()}
        ev = load(spark, sf_dir, "events")
        exact = {
            r["day"]: r["n"]
            for r in ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
            .agg(F.countDistinct("user_id").alias("n"))
            .collect()
        }
        exact["ALL"] = ev.select("user_id").distinct().count()
        assert set(got) == set(exact)
        for day, est in got.items():
            assert abs(est - exact[day]) <= max(1, 0.05 * exact[day]), (day, est, exact[day])


class TestReportFrame:
    """report_frame (the sampling_report driver query) must agree with the
    pure-Python A4/A5 path (SamplingReport + stats.achieved_error) — the
    query and the library report can never drift apart."""

    def test_matches_python_report(self, spark, sf_dir):
        from random_sampling_based_approximate_mapreduce_spark.sampling import stats
        from random_sampling_based_approximate_mapreduce_spark.sampling.deterministic import (
            hash_bernoulli,
        )
        from random_sampling_based_approximate_mapreduce_spark.sampling.sampled_frame import (
            SamplingReport,
            report_frame,
        )
        from random_sampling_based_approximate_mapreduce_spark.sources.tables import load

        docs = load(spark, sf_dir, "documents")
        row = report_frame(docs, "doc_id", ratio=0.1, seed=7, confidence=0.95).collect()[0]

        total = docs.count()
        sampled = hash_bernoulli(docs, "doc_id", 0.1, seed=7).count()
        rep = SamplingReport(
            job_id="t",
            total_records=total,
            sampled_records=sampled,
            designed_ratio=0.1,
            confidence=0.95,
            wall_clock_sec=0.0,
        )
        assert row["total_records"] == total
        assert row["sampled_records"] == sampled
        assert row["designed_ratio"] == rep.designed_ratio
        assert row["achieved_ratio"] == pytest.approx(rep.actual_ratio, abs=0)
        assert row["confidence"] == 0.95
        # the frame rounds to 12 dp; the python path does not
        assert row["predicted_error"] == pytest.approx(rep.achieved_error, abs=1e-11)
        assert rep.achieved_error == stats.achieved_error(0.95, sampled, total)

    def test_report_frame_is_single_agg_plan(self, spark, sf_dir):
        """One scan, partial+final HashAggregate, no extra exchange beyond
        the 1-row final — the report must stay a single-agg job at 100 TB."""
        from random_sampling_based_approximate_mapreduce_spark.sampling.sampled_frame import (
            report_frame,
        )
        from random_sampling_based_approximate_mapreduce_spark.sources.tables import load

        df = report_frame(load(spark, sf_dir, "documents"), "doc_id", ratio=0.1, seed=7)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # exactly one exchange: the partial->final single-partition gather
        assert plan.count("Exchange") == 1, plan


class TestRatioEstimatorAnchor:
    def test_approx_ratio_matches_stable_composition(self, spark, sf_dir):
        """The price_per_qty_hash_sampled catalog query computes the ratio
        with decimal-stable sums; SampledFrame.approx_ratio (raw double
        sums) must agree to float tolerance on the same sample — anchoring
        the real estimator method to the value-oracled composition."""
        from pyspark.sql import functions as F

        from random_sampling_based_approximate_mapreduce_spark.plans.catalog import QUERIES
        from random_sampling_based_approximate_mapreduce_spark.sampling.deterministic import (
            hash_bernoulli,
        )
        from random_sampling_based_approximate_mapreduce_spark.sources.tables import load

        stable = {
            r["l_returnflag"]: r["est_price_per_qty"]
            for r in QUERIES["price_per_qty_hash_sampled"].spark(spark, sf_dir).collect()
        }
        li = load(spark, sf_dir, "lineitem").withColumn(
            "__k", F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber"))
        )
        sampled = hash_bernoulli(li, "__k", 0.1, seed=42)
        sf = SampledFrame(df=sampled, ratio=0.1, config=SamplingConfig(ratio=0.1, seed=42))
        method = {
            r["l_returnflag"]: r["est_ratio"]
            for r in sf.approx_ratio("l_extendedprice", "l_quantity", "l_returnflag").collect()
        }
        assert set(stable) == set(method)
        for k in stable:
            assert method[k] == pytest.approx(stable[k], rel=1e-9), k


class TestCIFamilies:
    """VERDICT r3 item 6: the reference's p=0.5 proportion bound
    (stats.achieved_error, RandomSamplingUtil.java:376-378) vs the proper
    per-estimator normal-approximation CI — distinguished on a crafted
    skewed-value column where the two families give opposite verdicts."""

    RATIO, SEED = 0.1, 42

    @pytest.fixture(scope="class")
    def skewed(self, spark):
        # 10k rows, value 1.0 except every 100th row carries 10000.0:
        # the heavy 1% holds ~99% of the total, the worst case for a
        # value-blind bound
        df = spark.range(10000).select(
            F.col("id"),
            F.when(F.col("id") % 100 == 0, F.lit(10000.0)).otherwise(F.lit(1.0)).alias("v"),
        )
        sf = SampledFrame.from_dataframe(
            df, SamplingConfig(ratio=self.RATIO, seed=self.SEED), observe=False
        )
        row = sf.approx_sum("v", ci=True).collect()[0]
        return {
            "truth": 9900 * 1.0 + 100 * 10000.0,
            "est": row["est_sum"],
            "ci": row["est_sum_ci"],
            "n_sampled": sf.df.count(),
            "sampled_sum_sq": sf.df.agg(F.sum(F.col("v") * F.col("v"))).collect()[0][0],
        }

    def test_reference_bound_underestimates_skewed_sum_error(self, skewed):
        from random_sampling_based_approximate_mapreduce_spark.sampling import stats

        ref_rel = stats.achieved_error(0.95, skewed["n_sampled"], 10000)
        actual_rel = abs(skewed["est"] - skewed["truth"]) / skewed["truth"]
        # The proportion bound claims ~2.9% error; the realized sum error
        # at this seed is ~9.9% — the value-blind family is NOT a valid
        # error bound for skewed sums (it is valid for the count, which is
        # what the reference applies it to)
        assert ref_rel < 0.04
        assert actual_rel > 2.5 * ref_rel

    def test_proper_sum_ci_covers_and_admits_uncertainty(self, skewed):
        # The per-estimator CI reads the value column: it covers the truth
        # AND is honestly wide (>50% relative) where the proportion bound
        # pretended a few percent
        assert abs(skewed["est"] - skewed["truth"]) <= skewed["ci"]
        assert skewed["ci"] / skewed["truth"] > 0.3

    def test_sum_ci_is_the_ht_variance_estimator(self, skewed):
        """Pin the corrected half-width z*sqrt((1-r)*sum_s(x^2))/r — the
        unbiased HT variance estimator (until round 4 the code divided by
        r^1.5, conservative by 1/sqrt(r))."""
        import math

        from random_sampling_based_approximate_mapreduce_spark.sampling import stats

        z = stats.z_score(0.95)
        expect = z * math.sqrt((1 - self.RATIO) * skewed["sampled_sum_sq"]) / self.RATIO
        assert skewed["ci"] == pytest.approx(expect, rel=1e-12)

    def test_count_ci_families_agree_on_uniform_counts(self, spark):
        """Where the reference bound IS valid (pure counting, uniform
        contribution), the two families agree within a small factor —
        the divergence above is specifically a skewed-VALUE phenomenon."""
        from random_sampling_based_approximate_mapreduce_spark.sampling import stats

        df = spark.range(10000)
        sf = SampledFrame.from_dataframe(
            df, SamplingConfig(ratio=self.RATIO, seed=self.SEED), observe=False
        )
        row = sf.approx_count(ci=True).collect()[0]
        n = sf.df.count()
        ref_rel = stats.achieved_error(0.95, n, 10000)
        ci_rel = row["est_count_ci"] / row["est_count"]
        assert 0.3 < ci_rel / ref_rel < 3.0


class TestEmptySampleReport:
    def test_report_survives_zero_row_sample(self, spark, tmp_path):
        """Regression: when the hash sample keeps ZERO rows, AQE's
        empty-relation propagation drops the CollectMetrics node and
        Observation.get raises a JVM assertion; report() must fall back
        to direct counts instead of crashing (found via the CLI on a
        3-line input at ratio 0.5)."""
        from pyspark.sql import functions as F

        from random_sampling_based_approximate_mapreduce_spark.sampling.config import (
            SamplingConfig,
        )
        from random_sampling_based_approximate_mapreduce_spark.sources.text import (
            read_text_sampled,
        )

        src = tmp_path / "tiny.txt"
        src.write_text("hello world\nhello spark\nthe quick brown fox\n")
        sf = read_text_sampled(spark, str(src), SamplingConfig(ratio=0.5, seed=42))
        # drive an action through the sampled plan (the CLI's write path)
        n = sf.df.agg(F.count(F.lit(1))).collect()[0][0]
        rep = sf.report()
        assert rep.total_records == 3
        assert rep.sampled_records == n  # 0 on this seed; exact either way
        assert 0 <= rep.sampled_records <= 3

    def test_observe_false_report_keeps_zero_job_contract(self, spark):
        """observe=False opts out of metrics; report() must NOT launch a
        fallback scan over the pre-sample input (review finding: the
        zero-row fallback initially triggered on every unobserved frame)."""
        from random_sampling_based_approximate_mapreduce_spark.sampling.config import (
            SamplingConfig,
        )
        from random_sampling_based_approximate_mapreduce_spark.sampling.sampled_frame import (
            SampledFrame,
        )

        df = spark.range(100).selectExpr("cast(id as string) as value")
        sf = SampledFrame.from_dataframe(df, SamplingConfig(ratio=0.5, seed=1), observe=False)
        tracker = spark.sparkContext.statusTracker()
        jobs_before = len(tracker.getJobIdsForGroup(None) or [])
        rep = sf.report(sampled_records=50)
        jobs_after = len(tracker.getJobIdsForGroup(None) or [])
        # review r8: the total is the DESIGN estimate sampled/ratio — the
        # old sampled_records passthrough claimed actual_ratio 1.0 and
        # achieved_error 0.0 for a genuinely sampled frame
        assert rep.total_records == 100
        assert rep.sampled_records == 50
        assert abs(rep.actual_ratio - 0.5) < 1e-12
        assert jobs_after == jobs_before  # zero jobs launched
        # ADVICE r8: a design-estimated total must be distinguishable
        # from a counted one — consumers read actual_ratio /
        # achieved_error as measured otherwise
        assert rep.total_is_estimated is True
        assert rep.as_dict()["total_is_estimated"] is True
        # and with no count at all there is nothing truthful to report
        with pytest.raises(ValueError, match="nothing truthful"):
            sf.report()

    def test_observed_report_total_is_counted(self, spark):
        from random_sampling_based_approximate_mapreduce_spark.sampling.config import (
            SamplingConfig,
        )
        from random_sampling_based_approximate_mapreduce_spark.sampling.sampled_frame import (
            SampledFrame,
        )

        df = spark.range(100).selectExpr("cast(id as string) as value")
        sf = SampledFrame.from_dataframe(df, SamplingConfig(ratio=0.5, seed=1))
        sf.df.count()  # fire the observation
        rep = sf.report()
        assert rep.total_is_estimated is False
        assert rep.total_records == 100


class TestMetricsMissingClassifier:
    """ADVICE r5: both py4j error shapes of the zero-row CollectMetrics
    edge must classify as metrics-missing; real failures must not."""

    def _clf(self):
        from random_sampling_based_approximate_mapreduce_spark.sampling.sampled_frame import (
            _is_metrics_missing_error,
        )

        return _is_metrics_missing_error

    def test_python_side_shapes(self):
        clf = self._clf()
        assert clf(
            Exception(
                "java.lang.AssertionError: assertion failed: "
                "found no observed metrics"
            ),
            "total_records",
        )
        assert clf(Exception("found no observed metrics for CollectMetrics"), "total_records")
        assert clf(Exception("key not found: total_records"), "total_records")

    def test_bare_assertion_error_reraises(self):
        # ADVICE r7: an AssertionError that does NOT name CollectMetrics /
        # observed metrics is an unrelated JVM failure, not the zero-row
        # metrics edge - it must re-raise, not downgrade to the fallback.
        clf = self._clf()
        assert not clf(
            Exception("java.lang.AssertionError: assertion failed"),
            "total_records",
        )
        assert not clf(
            Exception(
                "An error occurred while calling o123.get.\n"
                ": java.lang.AssertionError: assertion failed: "
                "unrelated invariant in some other operator"
            ),
            "total_records",
        )

    def test_raw_py4j_shape_java_text_on_line_two(self):
        clf = self._clf()
        exc = Exception(
            "An error occurred while calling o123.get.\n"
            ": java.lang.AssertionError: assertion failed: "
            "found no observed metrics\n\tat scala.Predef$.assert(...)"
        )
        assert clf(exc, "total_records")

    def test_wrapped_java_exception_attribute(self):
        clf = self._clf()

        class FakePy4JJavaError(Exception):
            java_exception = "java.util.NoSuchElementException: key not found: sampled_records"

        exc = FakePy4JJavaError("An error occurred while calling o9.get.")
        assert clf(exc, "sampled_records")

    def test_real_failures_reraise(self):
        clf = self._clf()
        assert not clf(Exception("Connection reset by peer"), "total_records")
        assert not clf(Exception("java.lang.OutOfMemoryError: Java heap space"), "total_records")
        # an assert deep in a task stack trace (line 3+) must NOT match
        exc = Exception(
            "An error occurred while calling o5.collectToPython.\n"
            ": org.apache.spark.SparkException: Job aborted\n"
            "\tat scala.Predef$.assert(Predef.scala:223)"
        )
        assert not clf(exc, "total_records")
        # key-not-found for a DIFFERENT key is not ours
        assert not clf(Exception("key not found: some_other_metric"), "total_records")


class TestJoinWeightedLeft:
    """Unbiased weighted LEFT-join composition (VERDICT r5 item 4).

    Population: 60 left rows with match multiplicity m in {0,1,2,3}
    against a right table; 15 rows are truly unmatched. Ground truth for
    the left join: rows = sum(m for m>0) + #unmatched, unmatched = 15.
    """

    M_PATTERN = (0, 1, 2, 3)  # repeating multiplicities

    @pytest.fixture(scope="class")
    def population(self, spark):
        left = [(i, self.M_PATTERN[i % 4]) for i in range(60)]
        right = [
            (i, j, 10 * i + j)
            for i, m in left
            for j in range(m)
        ]
        ldf = spark.createDataFrame(left, ["lkey", "m"])
        rdf = spark.createDataFrame(right, ["rkey", "j", "val"])
        truth_rows = sum(m for _, m in left if m > 0) + sum(1 for _, m in left if m == 0)
        truth_unmatched = sum(1 for _, m in left if m == 0)
        truth_val = sum(v for _, _, v in right)
        return ldf, rdf, truth_rows, truth_unmatched, truth_val

    def _weighted(self, ldf, rdf, r1, r2, seed):
        # true per-row Bernoulli via rand(seed) — the statistical model the
        # estimator's unbiasedness proof assumes (hash sampling is the
        # production twin; the catalog query value-oracles that path)
        sl = SampledFrame(
            df=ldf.where(F.rand(seed) < r1) if r1 < 1.0 else ldf,
            ratio=r1,
            config=SamplingConfig(ratio=r1, seed=seed),
        )
        sr = SampledFrame(
            df=rdf.where(F.rand(seed + 7919) < r2) if r2 < 1.0 else rdf,
            ratio=r2,
            config=SamplingConfig(ratio=r2, seed=seed),
        )
        return sl.join_weighted_left(sr, "lkey", "rkey")

    def test_exact_right_degenerates_to_classical(self, spark, population):
        ldf, rdf, truth_rows, truth_unmatched, truth_val = population
        sl = SampledFrame(df=ldf, ratio=1.0, config=SamplingConfig(ratio=1.0))
        sr = SampledFrame(df=rdf, ratio=1.0, config=SamplingConfig(ratio=1.0))
        w = sl.join_weighted_left(sr, "lkey", "rkey")
        rows = w.collect()
        # exact mode: plain left join, every weight exactly 1.0
        assert len(rows) == truth_rows
        assert all(r["__weight"] == 1.0 for r in rows)
        assert sum(1 for r in rows if r["rkey"] is None) == truth_unmatched

    def test_fixed_sample_weights_match_hand_computation(self, spark, population):
        ldf, rdf, *_ = population
        r1, r2, seed = 0.5, 0.5, 11
        kept_l = {r["lkey"] for r in ldf.where(F.rand(seed) < r1).collect()}
        kept_r = [
            (r["rkey"], r["j"]) for r in rdf.where(F.rand(seed + 7919) < r2).collect()
        ]
        w = self._weighted(ldf, rdf, r1, r2, seed).collect()
        # matched rows: exactly the kept pairs, weight 1/(r1*r2) = 4
        matched = [(r["lkey"], r["j"]) for r in w if r["rkey"] is not None]
        expect_matched = sorted((k, j) for (k, j) in kept_r if k in kept_l)
        assert sorted(matched) == expect_matched
        assert all(
            r["__weight"] == 1.0 / (r1 * r2) for r in w if r["rkey"] is not None
        )
        # null rows: one per kept left row (t=-1 never zeroes), weight (-1)^K/r1
        from collections import Counter

        k_of = Counter(k for (k, _) in kept_r)
        nulls = {r["lkey"]: r["__weight"] for r in w if r["rkey"] is None}
        assert set(nulls) == kept_l
        for lkey, wt in nulls.items():
            assert wt == ((-1.0) ** k_of.get(lkey, 0)) / r1

    def test_unbiased_over_seeds_and_naive_is_not(self, spark, population):
        """Mean over 40 seeds: corrected estimator lands on the truth for
        rows/unmatched/value-sum; the naive 1/r1 null weighting
        overstates unmatched by ~sum((1-r2)^m) over matched lefts."""
        ldf, rdf, truth_rows, truth_unmatched, truth_val = population
        r1, r2 = 0.5, 0.5
        seeds = range(40)
        frames = []
        for s in seeds:
            w = self._weighted(ldf, rdf, r1, r2, s).withColumn("__seed", F.lit(s))
            frames.append(w)
        allw = frames[0]
        for f in frames[1:]:
            allw = allw.unionByName(f)
        per_seed = (
            allw.groupBy("__seed")
            .agg(
                F.sum("__weight").alias("est_rows"),
                F.sum(
                    F.when(F.col("rkey").isNull(), F.col("__weight")).otherwise(0.0)
                ).alias("est_unmatched"),
                F.sum(
                    F.coalesce(F.col("val").cast("double"), F.lit(0.0))
                    * F.col("__weight")
                ).alias("est_val"),
            )
            .collect()
        )
        # the naive estimator weights every SAMPLE-null-extended row (K=0:
        # its left key has no matched output row) at 1/r1 — identify K=0
        # rows by anti-joining nulls against matched keys per seed
        matched_keys = (
            allw.where(F.col("rkey").isNotNull())
            .select("__seed", "lkey")
            .distinct()
        )
        naive_rows = (
            allw.where(F.col("rkey").isNull())
            .select("__seed", "lkey")
            .join(matched_keys, ["__seed", "lkey"], "left_anti")
            .groupBy("__seed")
            .count()
            .collect()
        )
        n = len(per_seed)
        mean_rows = sum(r["est_rows"] for r in per_seed) / n
        mean_unmatched = sum(r["est_unmatched"] for r in per_seed) / n
        mean_naive = sum(r["count"] for r in naive_rows) / r1 / n
        mean_val = sum(r["est_val"] for r in per_seed) / n
        assert abs(mean_rows - truth_rows) / truth_rows < 0.12
        assert abs(mean_val - truth_val) / truth_val < 0.15
        assert abs(mean_unmatched - truth_unmatched) / truth_unmatched < 0.25
        # the naive estimator's expected bias here: matched lefts kept at
        # r1 whose every match was dropped: E = sum over m>0 of (1-r2)^m
        # = 15*(0.5 + 0.25 + 0.125) = 13.1 extra on a truth of 15 — the
        # naive mean must sit clearly above truth AND above the corrected
        expected_naive = truth_unmatched + 15 * ((1 - r2) + (1 - r2) ** 2 + (1 - r2) ** 3)
        assert mean_naive > truth_unmatched * 1.5
        assert abs(mean_naive - expected_naive) / expected_naive < 0.25
        assert abs(mean_unmatched - truth_unmatched) < abs(mean_naive - truth_unmatched)

    def test_low_right_ratio_warns(self, spark, population):
        ldf, rdf, *_ = population
        import warnings as _w

        with pytest.warns(UserWarning, match="0.5"):
            self._weighted(ldf, rdf, 0.5, 0.25, 1)

    def test_overlapping_columns_rejected(self, spark, population):
        ldf, _, *_ = population
        sl = SampledFrame(df=ldf, ratio=0.5, config=SamplingConfig(ratio=0.5))
        with pytest.raises(ValueError, match="disjoint"):
            sl.join_weighted_left(sl, "lkey", "lkey")


class TestCICoverageSeedSweep:
    """VERDICT r5 item 6: do the stated 95% intervals actually cover the
    truth ~95% of the time across >=100 independent sampling draws?

    Each sweep builds ONE unioned plan of 100 per-seed estimator branches
    (true engine-RNG Bernoulli via df.sample / sampleBy — the statistical
    model the CIs assume) and collects once. Binomial tolerance: for
    p=0.95, n=100, sd = sqrt(.95*.05/100) = 2.2% — the >= 0.88 floor sits
    ~3 sigma below nominal, so a correct estimator fails with p ~ 1e-3
    while a mis-derived variance (e.g. the pre-r4 1/r^1.5 width, ~41%
    too narrow at r=0.1 -> coverage ~83%) fails dependably.

    Seeds are spaced by a large prime: Spark seeds each partition's RNG
    as seed + partitionIndex, so CONSECUTIVE seeds reuse shifted copies
    of the same per-partition streams — draws that are far from
    independent across seeds (caught here: the empirical cross-seed std
    of the multiplicity sweep collapsed to the CI width instead of
    sqrt(2) above it until the seeds were separated).
    """

    SEEDS = [s * 1_000_003 for s in range(100)]
    N = 5000

    @pytest.fixture(scope="class")
    def base(self, spark):
        return (
            spark.range(self.N)
            .select(
                F.col("id"),
                (F.col("id") % 97).alias("value"),
                (F.col("id") % 2).alias("stratum"),
            )
            .localCheckpoint()
        )

    def _union(self, frames):
        u = frames[0]
        for f in frames[1:]:
            u = u.unionByName(f)
        return u.collect()

    def test_plain_count_coverage(self, base):
        frames = []
        for s in self.SEEDS:
            sf = SampledFrame.from_dataframe(
                base, SamplingConfig(ratio=0.1, seed=s), observe=False
            )
            frames.append(sf.approx_count(ci=True).withColumn("__seed", F.lit(s)))
        rows = self._union(frames)
        cover = sum(
            1 for r in rows if abs(r["est_count"] - self.N) <= r["est_count_ci"]
        )
        assert cover >= 88, f"count CI covered only {cover}/100"

    def test_plain_sum_coverage(self, base):
        truth = sum(i % 97 for i in range(self.N))
        frames = []
        for s in self.SEEDS:
            sf = SampledFrame.from_dataframe(
                base, SamplingConfig(ratio=0.1, seed=s), observe=False
            )
            frames.append(
                sf.approx_sum("value", ci=True).withColumn("__seed", F.lit(s))
            )
        rows = self._union(frames)
        cover = sum(1 for r in rows if abs(r["est_sum"] - truth) <= r["est_sum_ci"])
        assert cover >= 88, f"sum CI covered only {cover}/100"

    def test_stratified_count_and_sum_coverage(self, base):
        from random_sampling_based_approximate_mapreduce_spark.sampling.sampled_frame import (
            stratified_sample,
            weighted_count,
            weighted_sum,
        )

        truth_sum = sum(i % 97 for i in range(self.N))
        fracs = {0: 0.05, 1: 0.3}
        cframes, sframes = [], []
        for s in self.SEEDS:
            w = stratified_sample(base, "stratum", fracs, seed=s)
            cframes.append(
                weighted_count(w, ci_confidence=0.95).withColumn("__seed", F.lit(s))
            )
            sframes.append(
                weighted_sum(w, "value", ci_confidence=0.95).withColumn(
                    "__seed", F.lit(s)
                )
            )
        crows = self._union(cframes)
        cover_c = sum(
            1 for r in crows if abs(r["est_count"] - self.N) <= r["est_count_ci"]
        )
        assert cover_c >= 88, f"stratified count CI covered only {cover_c}/100"
        srows = self._union(sframes)
        cover_s = sum(
            1 for r in srows if abs(r["est_sum"] - truth_sum) <= r["est_sum_ci"]
        )
        assert cover_s >= 88, f"stratified sum CI covered only {cover_s}/100"

    def test_joined_count_coverage_unique_keys(self, spark):
        """1:1 join: pair survival is independent Bernoulli(r1*r2), so the
        composed frame's count CI must cover at nominal rate."""
        n = 2000
        left = spark.range(n).select(F.col("id").alias("lk")).localCheckpoint()
        right = spark.range(n).select(F.col("id").alias("rk")).localCheckpoint()
        frames = []
        for s in self.SEEDS:
            sl = SampledFrame.from_dataframe(
                left, SamplingConfig(ratio=0.4, seed=s), observe=False
            )
            sr = SampledFrame.from_dataframe(
                right, SamplingConfig(ratio=0.5, seed=s + 499_979), observe=False
            )
            j = sl.join_sampled(sr, F.col("lk") == F.col("rk"))
            frames.append(j.approx_count(ci=True).withColumn("__seed", F.lit(s)))
        rows = self._union(frames)
        cover = sum(1 for r in rows if abs(r["est_count"] - n) <= r["est_count_ci"])
        assert cover >= 88, f"joined count CI covered only {cover}/100"

    def test_quantile_coverage(self, base):
        """Distribution-free order-statistic CI (approx_quantile): the
        population median must fall inside [X_(lo), X_(hi)] at >= the
        binomial floor across 100 seeds. Truth is the POPULATION discrete
        median (rank ceil(0.5*N) of the full column) — the estimand the
        binomial argument bounds. Heavy ties (97 distinct values) only
        make the interval conservative, never anti-conservative."""
        vals = sorted(i % 97 for i in range(self.N))
        truth = vals[max(1, -(-self.N // 2)) - 1]
        frames = []
        for s in self.SEEDS:
            sf = SampledFrame.from_dataframe(
                base, SamplingConfig(ratio=0.1, seed=s), observe=False
            )
            frames.append(
                sf.approx_quantile("value", 0.5, ci=True).withColumn(
                    "__seed", F.lit(s)
                )
            )
        rows = self._union(frames)
        cover = sum(
            1
            for r in rows
            if r["est_quantile_ci_lo"] <= truth <= r["est_quantile_ci_hi"]
        )
        assert cover >= 88, f"quantile CI covered only {cover}/100"

    def test_joined_count_ci_understates_under_key_multiplicity(self, spark):
        """HONESTY PIN: with multiplicity-5 keys, pairs sharing a left row
        are positively correlated, so the independent-Bernoulli CI
        understates the real spread — measured here as empirical-std /
        mean-CI-width ratio well above 1 (analytically ~sqrt(2) for this
        configuration). Documented in join_sampled's docstring; users
        joining on hot keys must not read the CI as nominal."""
        n_keys = 400
        left = (
            spark.range(n_keys).select(F.col("id").alias("lk")).localCheckpoint()
        )
        right = (
            spark.range(n_keys * 5)
            .select((F.col("id") % n_keys).alias("rk"))
            .localCheckpoint()
        )
        truth = n_keys * 5
        frames = []
        for s in self.SEEDS:
            sl = SampledFrame.from_dataframe(
                left, SamplingConfig(ratio=0.4, seed=s), observe=False
            )
            sr = SampledFrame.from_dataframe(
                right, SamplingConfig(ratio=0.5, seed=s + 499_979), observe=False
            )
            j = sl.join_sampled(sr, F.col("lk") == F.col("rk"))
            frames.append(j.approx_count(ci=True).withColumn("__seed", F.lit(s)))
        rows = self._union(frames)
        ests = [r["est_count"] for r in rows]
        mean = sum(ests) / len(ests)
        emp_std = (sum((e - mean) ** 2 for e in ests) / (len(ests) - 1)) ** 0.5
        z = 1.959963984540054
        mean_half = sum(r["est_count_ci"] for r in rows) / len(rows)
        ratio = emp_std / (mean_half / z)
        # sanity: still unbiased even though the CI is narrow
        assert abs(mean - truth) / truth < 0.05
        assert ratio > 1.15, f"expected understated CI (ratio {ratio:.2f})"

    def test_joined_count_cluster_ci_covers_under_key_multiplicity(self, spark):
        """VERDICT r6/r7 item: the SAME multiplicity-5 fixture, but with
        row ids passed to join_sampled — the cluster variance estimator
        must (a) restore nominal coverage and (b) track the empirical
        spread (the ~sqrt(2) understatement gone), while the unique-key
        case is pinned unwidened in
        test_joined_cluster_ci_equals_classical_on_unique_keys."""
        n_keys = 400
        left = (
            spark.range(n_keys).select(F.col("id").alias("lk")).localCheckpoint()
        )
        right = (
            spark.range(n_keys * 5)
            .select(F.col("id").alias("rid"), (F.col("id") % n_keys).alias("rk"))
            .localCheckpoint()
        )
        truth = n_keys * 5
        frames = []
        for s in self.SEEDS:
            sl = SampledFrame.from_dataframe(
                left, SamplingConfig(ratio=0.4, seed=s), observe=False
            )
            sr = SampledFrame.from_dataframe(
                right, SamplingConfig(ratio=0.5, seed=s + 499_979), observe=False
            )
            j = sl.join_sampled(
                sr, F.col("lk") == F.col("rk"), left_id="lk", right_id="rid"
            )
            frames.append(j.approx_count(ci=True).withColumn("__seed", F.lit(s)))
        rows = self._union(frames)
        cover = sum(1 for r in rows if abs(r["est_count"] - truth) <= r["est_count_ci"])
        assert cover >= 88, f"cluster-CI covered only {cover}/100"
        ests = [r["est_count"] for r in rows]
        mean = sum(ests) / len(ests)
        emp_std = (sum((e - mean) ** 2 for e in ests) / (len(ests) - 1)) ** 0.5
        z = 1.959963984540054
        mean_half = sum(r["est_count_ci"] for r in rows) / len(rows)
        ratio = emp_std / (mean_half / z)
        assert 0.8 <= ratio <= 1.25, f"cluster CI mis-scaled (ratio {ratio:.2f})"

    def test_stratified_mean_and_ratio_coverage(self, base):
        """weighted_mean / weighted_ratio Taylor CIs at nominal coverage
        under the stratified design (round 8 additions)."""
        from random_sampling_based_approximate_mapreduce_spark.sampling.sampled_frame import (
            stratified_sample,
            weighted_mean,
            weighted_ratio,
        )

        truth_mean = sum(i % 97 for i in range(self.N)) / self.N
        tx = sum(i % 97 for i in range(self.N) if i % 2 == 0)
        ty = sum(i % 97 for i in range(self.N))
        truth_ratio = tx / ty
        fracs = {0: 0.05, 1: 0.3}
        mframes, rframes = [], []
        for s in self.SEEDS:
            w = stratified_sample(base, "stratum", fracs, seed=s)
            mframes.append(
                weighted_mean(w, "value", ci_confidence=0.95).withColumn(
                    "__seed", F.lit(s)
                )
            )
            w2 = w.select(
                F.when(F.col("stratum") == 0, F.col("value").cast("double"))
                .otherwise(F.lit(0.0))
                .alias("x"),
                F.col("value").cast("double").alias("y"),
                "__weight",
            )
            rframes.append(
                weighted_ratio(w2, "x", "y", ci_confidence=0.95).withColumn(
                    "__seed", F.lit(s)
                )
            )
        mrows = self._union(mframes)
        cover_m = sum(
            1 for r in mrows if abs(r["est_mean"] - truth_mean) <= r["est_mean_ci"]
        )
        assert cover_m >= 88, f"weighted mean CI covered only {cover_m}/100"
        rrows = self._union(rframes)
        cover_r = sum(
            1
            for r in rrows
            if abs(r["est_ratio"] - truth_ratio) <= r["est_ratio_ci"]
        )
        assert cover_r >= 88, f"weighted ratio CI covered only {cover_r}/100"

    def test_joined_mean_cluster_ci_covers_under_key_multiplicity(self, spark):
        """Delta-method cluster CI for the joined MEAN: nominal coverage
        at multiplicity 5, where the classical iid s/sqrt(n) width would
        understate (pairs sharing a kept left row are correlated)."""
        n_keys = 400
        left = (
            spark.range(n_keys).select(F.col("id").alias("lk")).localCheckpoint()
        )
        right = (
            spark.range(n_keys * 5)
            .select(
                F.col("id").alias("rid"),
                (F.col("id") % n_keys).alias("rk"),
                # value correlated WITH the join key so left-row clusters
                # share value structure (the hard case for the iid width)
                ((F.col("id") % n_keys) % 13).cast("double").alias("val"),
            )
            .localCheckpoint()
        )
        truth = sum((i % n_keys) % 13 for i in range(n_keys * 5)) / (n_keys * 5)
        frames = []
        for s in self.SEEDS:
            sl = SampledFrame.from_dataframe(
                left, SamplingConfig(ratio=0.4, seed=s), observe=False
            )
            sr = SampledFrame.from_dataframe(
                right, SamplingConfig(ratio=0.5, seed=s + 499_979), observe=False
            )
            j = sl.join_sampled(
                sr, F.col("lk") == F.col("rk"), left_id="lk", right_id="rid"
            )
            frames.append(
                j.approx_mean("val", ci=True).withColumn("__seed", F.lit(s))
            )
        rows = self._union(frames)
        cover = sum(1 for r in rows if abs(r["est_mean"] - truth) <= r["est_mean_ci"])
        assert cover >= 88, f"cluster mean-CI covered only {cover}/100"

    def test_unmatched_cluster_bootstrap_coverage(self, spark):
        """Round 8: the weighted left join's null-stratum estimand
        (est_unmatched) gains an interval via the CLUSTER bootstrap —
        poisson_bootstrap_sum keyed by the LEFT-row id, so each order's
        signed correction resamples as one unit. Truth = the 500 truly
        matchless left rows; coverage must clear the binomial floor
        (measured 97/100 — slightly conservative, the documented
        missing finite-population factor)."""
        from random_sampling_based_approximate_mapreduce_spark.sampling.bootstrap import (
            poisson_bootstrap_sum,
        )

        n_left = 2000
        left = (
            spark.range(n_left).select(F.col("id").alias("lk")).localCheckpoint()
        )
        right = (
            spark.range(n_left * 3)
            .select(
                (F.col("id") % n_left).alias("rk"),
                (F.col("id") / n_left).cast("int").alias("j"),
            )
            .where(F.col("j") < F.col("rk") % 4)
            .select("rk")
            .localCheckpoint()
        )
        truth = sum(1 for i in range(n_left) if i % 4 == 0)
        frames = []
        for s in self.SEEDS:
            sl = SampledFrame.from_dataframe(
                left, SamplingConfig(ratio=0.5, seed=s), observe=False
            )
            sr = SampledFrame.from_dataframe(
                right, SamplingConfig(ratio=0.5, seed=s + 499_979), observe=False
            )
            w = sl.join_weighted_left(sr, "lk", "rk")
            corr = w.where(F.col("rk").isNull())
            frames.append(
                poisson_bootstrap_sum(
                    corr, "__weight", "lk", seed=17, alias="est_unm"
                ).withColumn("__seed", F.lit(s))
            )
        rows = self._union(frames)
        cover = sum(1 for r in rows if abs(r["est_unm"] - truth) <= r["est_unm_ci"])
        assert cover >= 88, f"cluster-bootstrap CI covered only {cover}/100"

    def test_joined_ratio_cluster_ci_covers_under_key_multiplicity(self, spark):
        """Cluster Taylor CI for the joined RATIO at multiplicity 5."""
        n_keys = 400
        left = (
            spark.range(n_keys).select(F.col("id").alias("lk")).localCheckpoint()
        )
        right = (
            spark.range(n_keys * 5)
            .select(
                F.col("id").alias("rid"),
                (F.col("id") % n_keys).alias("rk"),
                ((F.col("id") % n_keys) % 13).cast("double").alias("x"),
                (1.0 + (F.col("id") % 5)).cast("double").alias("y"),
            )
            .localCheckpoint()
        )
        tx = sum((i % n_keys) % 13 for i in range(n_keys * 5))
        ty = sum(1.0 + (i % 5) for i in range(n_keys * 5))
        truth = tx / ty
        frames = []
        for s in self.SEEDS:
            sl = SampledFrame.from_dataframe(
                left, SamplingConfig(ratio=0.4, seed=s), observe=False
            )
            sr = SampledFrame.from_dataframe(
                right, SamplingConfig(ratio=0.5, seed=s + 499_979), observe=False
            )
            j = sl.join_sampled(
                sr, F.col("lk") == F.col("rk"), left_id="lk", right_id="rid"
            )
            frames.append(
                j.approx_ratio("x", "y", ci=True).withColumn("__seed", F.lit(s))
            )
        rows = self._union(frames)
        cover = sum(1 for r in rows if abs(r["est_ratio"] - truth) <= r["est_ratio_ci"])
        assert cover >= 88, f"cluster ratio-CI covered only {cover}/100"

    def test_weighted_quantile_bootstrap_coverage(self, spark):
        """VERDICT r6/r7 item: weighted_quantile composed with the
        deterministic Poisson bootstrap — the percentile interval must
        cover the population discrete quantile at >= the binomial floor
        across 100 stratified draws (measured 100/100 at this config:
        heavy ties make the interval conservative, never degenerate —
        the lo < hi sanity below catches a collapsed rank selection)."""
        from random_sampling_based_approximate_mapreduce_spark.sampling.bootstrap import (
            weighted_quantile_bootstrap,
        )
        from random_sampling_based_approximate_mapreduce_spark.sampling.sampled_frame import (
            stratified_sample,
        )

        n = 4000
        pop = (
            spark.range(n)
            .select(
                F.col("id").alias("k"),
                F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("s"),
                ((F.col("id") * 37) % 97).cast("double").alias("v"),
            )
            .localCheckpoint()
        )
        vals = sorted((i * 37) % 97 for i in range(n))
        truth = vals[max(1, -(-n // 2)) - 1]
        frames = []
        for s in self.SEEDS:
            w = stratified_sample(pop, "s", {"a": 0.2, "b": 0.5}, seed=s)
            frames.append(
                weighted_quantile_bootstrap(
                    w, "v", 0.5, key_col="k", seed=11
                ).withColumn("__seed", F.lit(s))
            )
        rows = self._union(frames)
        cover = sum(
            1
            for r in rows
            if r["est_quantile_ci_lo"] <= truth <= r["est_quantile_ci_hi"]
        )
        assert cover >= 88, f"bootstrap quantile CI covered only {cover}/100"
        nontrivial = sum(
            1 for r in rows if r["est_quantile_ci_lo"] < r["est_quantile_ci_hi"]
        )
        assert nontrivial >= 90, "rank selection collapsed to zero width"
        # the original-sample estimate sits inside its own percentile
        # interval essentially always (not a theorem at B=64, so a
        # tolerance, not a universal)
        inside = sum(
            1
            for r in rows
            if r["est_quantile_ci_lo"] <= r["est_quantile"] <= r["est_quantile_ci_hi"]
        )
        assert inside >= 95

    def test_joined_sum_cluster_ci_covers_under_key_multiplicity(self, spark):
        """Sum variant of the cluster-CI coverage sweep: values vary per
        right row so the S^2 - Q excess terms do real work."""
        n_keys = 400
        left = (
            spark.range(n_keys).select(F.col("id").alias("lk")).localCheckpoint()
        )
        right = (
            spark.range(n_keys * 5)
            .select(
                F.col("id").alias("rid"),
                (F.col("id") % n_keys).alias("rk"),
                (F.col("id") % 13).cast("double").alias("val"),
            )
            .localCheckpoint()
        )
        truth = sum((i % 13) for i in range(n_keys * 5))
        frames = []
        for s in self.SEEDS:
            sl = SampledFrame.from_dataframe(
                left, SamplingConfig(ratio=0.4, seed=s), observe=False
            )
            sr = SampledFrame.from_dataframe(
                right, SamplingConfig(ratio=0.5, seed=s + 499_979), observe=False
            )
            j = sl.join_sampled(
                sr, F.col("lk") == F.col("rk"), left_id="lk", right_id="rid"
            )
            frames.append(
                j.approx_sum("val", ci=True).withColumn("__seed", F.lit(s))
            )
        rows = self._union(frames)
        cover = sum(1 for r in rows if abs(r["est_sum"] - truth) <= r["est_sum_ci"])
        assert cover >= 88, f"cluster sum-CI covered only {cover}/100"


class TestJoinedClusterCI:
    """join_sampled with left_id/right_id: the cluster variance estimator
    V^ = [(1-r1r2)P + (1-r1)(S_l^2-Q_l excess) + (1-r2)(S_j^2-Q_j excess)]
    / (r1r2)^2. Coverage lives in TestCICoverageSeedSweep; here the
    arithmetic is pinned directly and the unique-key case is pinned
    UNWIDENED against the classical independent-Bernoulli CI."""

    def _wrap(self, df, r1, r2, lid, rid):
        from random_sampling_based_approximate_mapreduce_spark.sampling.sampled_frame import (
            SampledFrame,
        )

        return SampledFrame(
            df=df,
            ratio=r1 * r2,
            config=SamplingConfig(ratio=r1 * r2),
            join_ratios=(r1, r2),
            join_ids=((lid,), (rid,)),
        )

    def test_matches_hand_computation(self, spark):
        """Fixed 'kept pairs' table (no RNG): two left rows sharing right
        row 7, one left row with two pairs — both excess terms non-zero."""
        import math

        pairs = [
            # (lk, rid, x)
            (1, 7, 2.0),
            (2, 7, 3.0),  # right row 7 shared by lk 1 and 2
            (3, 8, 1.0),
            (3, 9, 5.0),  # left row 3 has two pairs
        ]
        df = spark.createDataFrame(pairs, "lk bigint, rid bigint, x double")
        r1, r2 = 0.4, 0.5
        sf = self._wrap(df, r1, r2, "lk", "rid")
        row = sf.approx_sum("x", ci=True, min_support=10).collect()[0]
        xs = [p[2] for p in pairs]
        P = sum(v * v for v in xs)
        # left excess: only lk=3 has >1 pair: (1+5)^2 - (1+25) = 10
        L2 = (1.0 + 5.0) ** 2 - (1.0 + 25.0)
        # right excess: only rid=7: (2+3)^2 - (4+9) = 12
        R2 = (2.0 + 3.0) ** 2 - (4.0 + 9.0)
        r = r1 * r2
        var = ((1 - r) * P + (1 - r1) * L2 + (1 - r2) * R2) / (r * r)
        z = 1.959963984540054
        assert row["est_sum"] == pytest.approx(sum(xs) / r, rel=1e-12)
        assert row["est_sum_ci"] == pytest.approx(z * math.sqrt(var), rel=1e-12)
        assert row["n_sampled"] == 4 and row["low_support"] is True

    def test_count_grouped_matches_hand_computation(self, spark):
        pairs = [
            ("a", 1, 7),
            ("a", 2, 7),
            ("a", 1, 8),
            ("b", 3, 9),
        ]
        df = spark.createDataFrame(pairs, "g string, lk bigint, rid bigint")
        r1, r2 = 0.5, 0.5
        sf = self._wrap(df, r1, r2, "lk", "rid")
        got = {r["g"]: r for r in sf.approx_count("g", ci=True).collect()}
        import math

        r = r1 * r2
        z = 1.959963984540054
        # group a: P=3; left excess lk=1 has 2 pairs: 4-2=2; right excess
        # rid=7 has 2 pairs: 4-2=2
        var_a = ((1 - r) * 3 + (1 - r1) * 2 + (1 - r2) * 2) / (r * r)
        assert got["a"]["est_count"] == pytest.approx(3 / r)
        assert got["a"]["est_count_ci"] == pytest.approx(z * math.sqrt(var_a), rel=1e-12)
        # group b: singleton pair - collapses to classical
        var_b = (1 - r) * 1 / (r * r)
        assert got["b"]["est_count_ci"] == pytest.approx(z * math.sqrt(var_b), rel=1e-12)

    def test_unique_keys_unwidened_vs_classical(self, spark):
        """1:1 join: both excess terms are identically zero, so the
        cluster CI must equal the classical (1-r)/r^2 form — the
        corrected path never pays for honesty it doesn't need."""
        n = 500
        left = spark.range(n).select(F.col("id").alias("lk"))
        right = spark.range(n).select(
            F.col("id").alias("rid"), (F.col("id") % 7).cast("double").alias("v")
        )
        sl = SampledFrame.from_dataframe(
            left, SamplingConfig(ratio=0.4, seed=5), observe=False
        )
        sr = SampledFrame.from_dataframe(
            right, SamplingConfig(ratio=0.5, seed=7), observe=False
        )
        with_ids = sl.join_sampled(
            sr, F.col("lk") == F.col("rid"), left_id="lk", right_id="rid"
        )
        without = sl.join_sampled(sr, F.col("lk") == F.col("rid"))
        a = with_ids.approx_count(ci=True).collect()[0]
        b = without.approx_count(ci=True).collect()[0]
        assert a["est_count"] == pytest.approx(b["est_count"], rel=1e-12)
        assert a["est_count_ci"] == pytest.approx(b["est_count_ci"], rel=1e-12)
        asum = with_ids.approx_sum("v", ci=True).collect()[0]
        bsum = without.approx_sum("v", ci=True).collect()[0]
        assert asum["est_sum"] == pytest.approx(bsum["est_sum"], rel=1e-12)
        assert asum["est_sum_ci"] == pytest.approx(bsum["est_sum_ci"], rel=1e-12)

    def test_join_stats_fused_equals_separates(self, spark):
        """approx_join_stats must reproduce the three separate
        estimators' columns exactly — including on NULL values, where
        the count covers all pairs, the sum skips NULLs, and the mean
        divides by the non-null count."""
        n = 300
        left = spark.range(n).select(F.col("id").alias("lk"))
        right = spark.range(n * 2).select(
            (F.col("id") % n).alias("rk"),
            F.col("id").alias("rid"),
            F.when(F.col("id") % 7 == 0, F.lit(None).cast("double"))
            .otherwise(((F.col("id") * 13) % 31).cast("double"))
            .alias("v"),
            (F.col("id") % 3).cast("string").alias("g"),
        )
        sl = SampledFrame.from_dataframe(
            left, SamplingConfig(ratio=0.4, seed=5), observe=False
        )
        sr = SampledFrame.from_dataframe(
            right, SamplingConfig(ratio=0.5, seed=7), observe=False
        )
        j = sl.join_sampled(
            sr, F.col("lk") == F.col("rk"), left_id="lk", right_id="rid"
        )
        fused = {
            r["g"]: r.asDict()
            for r in j.approx_join_stats("v", "g", min_support=10).collect()
        }
        cnt = {
            r["g"]: r.asDict()
            for r in j.approx_count("g", ci=True, alias="est_pairs").collect()
        }
        sm = {
            r["g"]: r.asDict()
            for r in j.approx_sum("v", "g", ci=True, alias="est_sum").collect()
        }
        mn = {
            r["g"]: r.asDict()
            for r in j.approx_mean(
                "v", "g", ci=True, min_support=10, alias="est_mean"
            ).collect()
        }
        for g in fused:
            assert fused[g]["est_pairs"] == cnt[g]["est_pairs"]
            assert fused[g]["est_pairs_ci"] == pytest.approx(
                cnt[g]["est_pairs_ci"], rel=1e-12
            )
            assert fused[g]["est_sum"] == pytest.approx(sm[g]["est_sum"], rel=1e-12)
            assert fused[g]["est_sum_ci"] == pytest.approx(
                sm[g]["est_sum_ci"], rel=1e-12
            )
            assert fused[g]["est_mean"] == pytest.approx(mn[g]["est_mean"], rel=1e-12)
            assert fused[g]["est_mean_ci"] == pytest.approx(
                mn[g]["est_mean_ci"], rel=1e-12
            )
        # n_sampled counts ALL pairs (the count estimator's support)
        all_pairs = {
            r["g"]: r["n_sampled"]
            for r in j.approx_count("g", min_support=10).collect()
        }
        for g in fused:
            assert fused[g]["n_sampled"] == all_pairs[g]

    def test_join_stats_requires_ids(self, spark):
        left = spark.range(5).select(F.col("id").alias("lk"))
        right = spark.range(5).select(F.col("id").alias("rid"))
        sl = SampledFrame.from_dataframe(
            left, SamplingConfig(ratio=0.5, seed=1), observe=False
        )
        sr = SampledFrame.from_dataframe(
            right, SamplingConfig(ratio=0.5, seed=2), observe=False
        )
        j = sl.join_sampled(sr, F.col("lk") == F.col("rid"))
        with pytest.raises(ValueError, match="row ids"):
            j.approx_join_stats("lk")

    def test_one_sided_id_rejected(self, spark):
        left = spark.range(5).select(F.col("id").alias("lk"))
        right = spark.range(5).select(F.col("id").alias("rid"))
        sl = SampledFrame.from_dataframe(
            left, SamplingConfig(ratio=0.5, seed=1), observe=False
        )
        sr = SampledFrame.from_dataframe(
            right, SamplingConfig(ratio=0.5, seed=2), observe=False
        )
        with pytest.raises(ValueError, match="together"):
            sl.join_sampled(sr, F.col("lk") == F.col("rid"), left_id="lk")

    def test_mean_matches_hand_computation(self, spark):
        """Delta-method cluster mean CI: Var(mean) ~= (Axx - 2m Ax1 +
        m^2 A11) / N^2 pinned against a Python evaluation of the same
        moments on a fixed pair table."""
        import math

        pairs = [
            (1, 7, 2.0),
            (2, 7, 3.0),
            (3, 8, 1.0),
            (3, 9, 5.0),
        ]
        df = spark.createDataFrame(pairs, "lk bigint, rid bigint, x double")
        r1, r2 = 0.4, 0.5
        sf = self._wrap(df, r1, r2, "lk", "rid")
        row = sf.approx_mean("x", ci=True, min_support=10).collect()[0]
        xs = [p[2] for p in pairs]
        n = len(xs)
        m = sum(xs) / n
        r = r1 * r2
        a, b, c = 1 - r, 1 - r1, 1 - r2

        def moments(groups):
            """per row-cluster: (S_x, Q_xx, C); return the three excess sums"""
            dxx = sum(s * s - q for s, q, cc in groups)
            dx1 = sum(s * cc - s for s, q, cc in groups)
            d11 = sum(cc * cc - cc for s, q, cc in groups)
            return dxx, dx1, d11

        left = [(6.0, 26.0, 2), (2.0, 4.0, 1), (3.0, 9.0, 1)]  # lk=3, 1, 2
        right = [(5.0, 13.0, 2), (1.0, 1.0, 1), (5.0, 25.0, 1)]  # rid=7, 8, 9
        dxx_l, dx1_l, d11_l = moments(left)
        dxx_r, dx1_r, d11_r = moments(right)
        pxx = sum(v * v for v in xs)
        axx = a * pxx + b * dxx_l + c * dxx_r
        ax1 = a * sum(xs) + b * dx1_l + c * dx1_r
        a11 = a * n + b * d11_l + c * d11_r
        var = max(axx - 2 * m * ax1 + m * m * a11, 0.0)
        z = 1.959963984540054
        assert row["est_mean"] == pytest.approx(m, rel=1e-12)
        assert row["est_mean_ci"] == pytest.approx(z * math.sqrt(var) / n, rel=1e-12)
        assert row["n_sampled"] == 4 and row["low_support"] is True

    def test_ratio_matches_hand_computation(self, spark):
        """Cluster Taylor ratio CI: Var(R) ~= (Axx + R^2 Ayy - 2R Axy)
        / (sum y)^2 pinned against Python on a fixed pair table."""
        import math

        pairs = [
            (1, 7, 2.0, 1.0),
            (2, 7, 3.0, 2.0),
            (3, 8, 1.0, 4.0),
            (3, 9, 5.0, 1.0),
        ]
        df = spark.createDataFrame(pairs, "lk bigint, rid bigint, x double, y double")
        r1, r2 = 0.4, 0.5
        sf = self._wrap(df, r1, r2, "lk", "rid")
        row = sf.approx_ratio("x", "y", ci=True, min_support=10).collect()[0]
        r = r1 * r2
        a, b, c = 1 - r, 1 - r1, 1 - r2
        xs = [p[2] for p in pairs]
        ys = [p[3] for p in pairs]
        R = sum(xs) / sum(ys)

        def clusters(keyidx):
            groups: dict = {}
            for p in pairs:
                groups.setdefault(p[keyidx], []).append(p)
            out = []
            for rows in groups.values():
                sx = sum(p[2] for p in rows)
                sy = sum(p[3] for p in rows)
                qxx = sum(p[2] * p[2] for p in rows)
                qyy = sum(p[3] * p[3] for p in rows)
                qxy = sum(p[2] * p[3] for p in rows)
                out.append((sx * sx - qxx, sy * sy - qyy, sx * sy - qxy))
            return [sum(v[i] for v in out) for i in range(3)]

        dl = clusters(0)
        dr = clusters(1)
        pxx = sum(v * v for v in xs)
        pyy = sum(v * v for v in ys)
        pxy = sum(x * y for x, y in zip(xs, ys))
        axx = a * pxx + b * dl[0] + c * dr[0]
        ayy = a * pyy + b * dl[1] + c * dr[1]
        axy = a * pxy + b * dl[2] + c * dr[2]
        var = max(axx + R * R * ayy - 2 * R * axy, 0.0) / (sum(ys) ** 2)
        z = 1.959963984540054
        assert row["est_ratio"] == pytest.approx(R, rel=1e-12)
        assert row["est_ratio_ci"] == pytest.approx(z * math.sqrt(var), rel=1e-12)
        assert row["n_sampled"] == 4 and row["low_support"] is True

    def test_ratio_unique_keys_reduces_to_classical(self, spark):
        """1:1 join: excesses vanish, so the cluster ratio CI equals the
        classical (1-r)-Taylor width (same reduction as count/sum)."""
        n = 400
        left = spark.range(n).select(F.col("id").alias("lk"))
        right = spark.range(n).select(
            F.col("id").alias("rid"),
            ((F.col("id") * 13) % 31).cast("double").alias("x"),
            (1.0 + (F.col("id") % 7)).cast("double").alias("y"),
        )
        sl = SampledFrame.from_dataframe(
            left, SamplingConfig(ratio=0.4, seed=5), observe=False
        )
        sr = SampledFrame.from_dataframe(
            right, SamplingConfig(ratio=0.5, seed=7), observe=False
        )
        with_ids = sl.join_sampled(
            sr, F.col("lk") == F.col("rid"), left_id="lk", right_id="rid"
        )
        without = sl.join_sampled(sr, F.col("lk") == F.col("rid"))
        a = with_ids.approx_ratio("x", "y", ci=True).collect()[0]
        b = without.approx_ratio("x", "y", ci=True).collect()[0]
        assert a["est_ratio"] == pytest.approx(b["est_ratio"], rel=1e-12)
        assert a["est_ratio_ci"] == pytest.approx(b["est_ratio_ci"], rel=1e-9)

    def test_mean_unique_keys_reduces_to_classical_with_fpc(self, spark):
        """1:1 join: every excess term vanishes, so the cluster mean CI
        must equal the classical z*s/sqrt(n) width scaled by exactly
        sqrt((1-r)(n-1)/n) — the finite-population factor the iid
        formula lacks, never wider."""
        n = 400
        left = spark.range(n).select(F.col("id").alias("lk"))
        right = spark.range(n).select(
            F.col("id").alias("rid"), ((F.col("id") * 13) % 31).cast("double").alias("v")
        )
        sl = SampledFrame.from_dataframe(
            left, SamplingConfig(ratio=0.4, seed=5), observe=False
        )
        sr = SampledFrame.from_dataframe(
            right, SamplingConfig(ratio=0.5, seed=7), observe=False
        )
        with_ids = sl.join_sampled(
            sr, F.col("lk") == F.col("rid"), left_id="lk", right_id="rid"
        )
        without = sl.join_sampled(sr, F.col("lk") == F.col("rid"))
        a = with_ids.approx_mean("v", ci=True, min_support=1).collect()[0]
        b = without.approx_mean("v", ci=True).collect()[0]
        assert a["est_mean"] == pytest.approx(b["est_mean"], rel=1e-12)
        r = 0.4 * 0.5
        nn = a["n_sampled"]
        factor = ((1.0 - r) * (nn - 1) / nn) ** 0.5
        assert a["est_mean_ci"] == pytest.approx(b["est_mean_ci"] * factor, rel=1e-9)
        assert a["est_mean_ci"] < b["est_mean_ci"]


class TestApproxQuantile:
    """Round-6 estimator: discrete sample quantile + distribution-free
    order-statistic CI (SampledFrame.approx_quantile). Values are pinned
    against a Python-side sort of the SAME sample (the estimator selects
    existing data by integer rank, so equality is exact, not approximate);
    coverage lives in TestCICoverageSeedSweep."""

    def test_rejects_bad_p(self, spark):
        df = spark.range(10)
        sf = SampledFrame.from_dataframe(
            df, SamplingConfig(ratio=0.5, seed=1), observe=False
        )
        with pytest.raises(ValueError):
            sf.approx_quantile("id", 0.0)
        with pytest.raises(ValueError):
            sf.approx_quantile("id", 1.0)

    def test_median_matches_manual_rank_selection(self, spark):
        import math

        df = (
            spark.range(1000)
            .select(
                (F.col("id") % 7).alias("g"),
                ((F.col("id") * 37) % 501).cast("double").alias("v"),
            )
            .localCheckpoint()
        )
        sf = SampledFrame.from_dataframe(
            df, SamplingConfig(ratio=0.3, seed=11), observe=False
        )
        rows = {
            r["g"]: r
            for r in sf.approx_quantile(
                "v", 0.5, "g", ci=True, min_support=100
            ).collect()
        }
        sample = sf.df.collect()
        by_g: dict = {}
        for r in sample:
            by_g.setdefault(r["g"], []).append(r["v"])
        z = 1.959963984540054
        for g, vals in by_g.items():
            vals.sort()
            n = len(vals)
            k = max(1, math.ceil(0.5 * n))
            half = z * math.sqrt(n * 0.5 * 0.5 * (1.0 - 0.3))
            klo = max(1, math.floor(n * 0.5 - half))
            khi = min(n, math.ceil(n * 0.5 + half))
            got = rows[g]
            assert got["est_quantile"] == vals[k - 1]
            assert got["est_quantile_ci_lo"] == vals[klo - 1]
            assert got["est_quantile_ci_hi"] == vals[khi - 1]
            assert got["n_sampled"] == n
            assert got["low_support"] == (n < 100)
            # the CI brackets the estimate by construction
            assert got["est_quantile_ci_lo"] <= got["est_quantile"]
            assert got["est_quantile"] <= got["est_quantile_ci_hi"]

    def test_tail_quantile_global(self, spark):
        """p=0.9 on a global (ungrouped) frame; ranks clamp inside [1, n]."""
        import math

        df = spark.range(500).select(F.col("id").cast("double").alias("v"))
        sf = SampledFrame.from_dataframe(
            df, SamplingConfig(ratio=0.2, seed=3), observe=False
        )
        row = sf.approx_quantile("v", 0.9, ci=True).collect()[0]
        vals = sorted(r["v"] for r in sf.df.collect())
        n = len(vals)
        k = max(1, math.ceil(0.9 * n))
        half = 1.959963984540054 * math.sqrt(n * 0.9 * (1.0 - 0.9) * 0.8)
        klo = max(1, math.floor(n * 0.9 - half))
        khi = min(n, math.ceil(n * 0.9 + half))
        assert row["est_quantile"] == vals[k - 1]
        assert row["est_quantile_ci_lo"] == vals[klo - 1]
        assert row["est_quantile_ci_hi"] == vals[khi - 1]

    def test_exact_mode_has_no_ci_columns(self, spark):
        df = spark.range(100).select(F.col("id").cast("double").alias("v"))
        sf = SampledFrame.from_dataframe(
            df, SamplingConfig(ratio=1.0), observe=False
        )
        out = sf.approx_quantile("v", 0.5, ci=True, min_support=5)
        assert out.columns == ["est_quantile"]
        assert out.collect()[0]["est_quantile"] == 49.0

    def test_multi_p_single_pass_matches_single_p(self, spark):
        """A probability LIST computes every quantile from one window pass
        and must agree column-for-column with separate single-p calls."""
        df = (
            spark.range(2000)
            .select(
                (F.col("id") % 3).alias("g"),
                ((F.col("id") * 131) % 997).cast("double").alias("v"),
            )
            .localCheckpoint()
        )
        sf = SampledFrame.from_dataframe(
            df, SamplingConfig(ratio=0.25, seed=5), observe=False
        )
        multi = {
            r["g"]: r
            for r in sf.approx_quantile(
                "v", [0.25, 0.5, 0.9], "g", ci=True, min_support=50, alias="est"
            ).collect()
        }
        assert set(multi[0].asDict()) == {
            "g",
            "est_p25", "est_p25_ci_lo", "est_p25_ci_hi",
            "est_p50", "est_p50_ci_lo", "est_p50_ci_hi",
            "est_p90", "est_p90_ci_lo", "est_p90_ci_hi",
            "n_sampled", "low_support",
        }
        for q, sfx in ((0.25, "_p25"), (0.5, "_p50"), (0.9, "_p90")):
            single = {
                r["g"]: r
                for r in sf.approx_quantile("v", q, "g", ci=True).collect()
            }
            for g in multi:
                assert multi[g][f"est{sfx}"] == single[g]["est_quantile"]
                assert (
                    multi[g][f"est{sfx}_ci_lo"] == single[g]["est_quantile_ci_lo"]
                )
                assert (
                    multi[g][f"est{sfx}_ci_hi"] == single[g]["est_quantile_ci_hi"]
                )

    def test_multi_p_rejects_duplicates_and_empty(self, spark):
        df = spark.range(10).select(F.col("id").cast("double").alias("v"))
        sf = SampledFrame.from_dataframe(
            df, SamplingConfig(ratio=0.5, seed=1), observe=False
        )
        with pytest.raises(ValueError):
            sf.approx_quantile("v", [])
        with pytest.raises(ValueError):
            sf.approx_quantile("v", [0.5, 0.5])

    def test_histogram_method_identical_to_window(self, spark):
        """The exact distributed k-selection (method='histogram') must be
        bit-identical to the window sort on every statistic, including
        constant groups (degenerate one-bucket range), heavy-duplicate
        groups, tiny groups (rank clamps), and extreme p."""
        df = (
            spark.range(20000)
            .select(
                (F.col("id") % 7).alias("g"),
                F.when(F.col("id") % 7 == 3, F.lit(42.0))
                .when(F.col("id") % 7 == 5, (F.col("id") % 11).cast("double"))
                .otherwise(((F.col("id") * 131) % 9973).cast("double"))
                .alias("v"),
            )
            .union(
                spark.range(4).select(
                    F.lit(99).alias("g"), F.col("id").cast("double").alias("v")
                )
            )
            .localCheckpoint()
        )
        sf = SampledFrame.from_dataframe(
            df, SamplingConfig(ratio=0.3, seed=11), observe=False
        )
        for ps in (0.5, [0.25, 0.5, 0.9], 0.01, 0.999):
            a = {
                r["g"]: r.asDict()
                for r in sf.approx_quantile(
                    "v", ps, "g", ci=True, min_support=50, method="window"
                ).collect()
            }
            b = {
                r["g"]: r.asDict()
                for r in sf.approx_quantile(
                    "v", ps, "g", ci=True, min_support=50, method="histogram"
                ).collect()
            }
            assert a == b, f"method mismatch at p={ps}"
        ga = sf.approx_quantile("v", [0.1, 0.5, 0.95], ci=True).collect()[0]
        gb = sf.approx_quantile(
            "v", [0.1, 0.5, 0.95], ci=True, method="histogram"
        ).collect()[0]
        assert ga.asDict() == gb.asDict()

    def test_histogram_method_tiny_bucket_count(self, spark):
        """n_buckets smaller than distinct values: residual sorts span
        multi-value buckets and must still select exact ranks."""
        df = spark.range(5000).select(
            (F.col("id") % 3).alias("g"),
            ((F.col("id") * 17) % 4999).cast("double").alias("v"),
        )
        sf = SampledFrame.from_dataframe(
            df, SamplingConfig(ratio=0.5, seed=2), observe=False
        )
        a = {
            r["g"]: r.asDict()
            for r in sf.approx_quantile(
                "v", [0.5, 0.9], "g", ci=True, method="window"
            ).collect()
        }
        b = {
            r["g"]: r.asDict()
            for r in sf.approx_quantile(
                "v", [0.5, 0.9], "g", ci=True, method="histogram", n_buckets=8
            ).collect()
        }
        assert a == b

    def test_rejects_unknown_method(self, spark):
        df = spark.range(10).select(F.col("id").cast("double").alias("v"))
        sf = SampledFrame.from_dataframe(
            df, SamplingConfig(ratio=0.5, seed=1), observe=False
        )
        with pytest.raises(ValueError):
            sf.approx_quantile("v", 0.5, method="sort-of")

    def test_non_finite_excluded_both_methods(self, spark):
        """ADVICE r7: NaN/±Inf are excluded like NULLs in BOTH methods
        (Spark sorts NaN last while the histogram bucket arithmetic
        collapses on a NaN span — admitting them would let the two
        strategies silently diverge). Ranks, n_sampled, and the selected
        values must match a finite-only manual sort, identically for
        window and histogram."""
        import math

        finite = [float(v) for v in range(1, 201)]
        rows = [("a", v) for v in finite]
        rows += [
            ("a", float("nan")),
            ("a", float("inf")),
            ("a", float("-inf")),
            ("a", None),
        ]
        rows += [("b", float(v)) for v in range(1, 51)]  # all-finite control
        df = spark.createDataFrame(rows, "g string, v double").localCheckpoint()
        sf = SampledFrame.from_dataframe(
            df, SamplingConfig(ratio=1.0), observe=False
        )
        for method in ("window", "histogram"):
            got = {
                r["g"]: r
                for r in sf.approx_quantile(
                    "v", [0.5, 0.99], "g", method=method
                ).collect()
            }
            # group a: 200 finite values 1..200; NaN/Inf/NULL dropped, so
            # rank ceil(p*200) selects from the finite values only
            assert got["a"]["est_quantile_p50"] == float(math.ceil(0.5 * 200)), method
            assert got["a"]["est_quantile_p99"] == float(math.ceil(0.99 * 200)), method
            assert got["b"]["est_quantile_p50"] == 25.0, method


class TestJoinWeightedFullAndRight:
    """Round-6 completion of the sampled-join family: FULL OUTER with
    corrections on both sides, RIGHT as the mirrored delegate. The same
    population as TestJoinWeightedLeft plus right rows whose key has no
    left partner (a truly nonempty right-only stratum)."""

    @pytest.fixture(scope="class")
    def population(self, spark):
        left = [(i, (0, 1, 2, 3)[i % 4]) for i in range(60)]
        right = [(i, j, 10 * i + j) for i, m in left for j in range(m)]
        right += [(1000 + i, 0, 7 * i) for i in range(10)]  # right-only keys
        ldf = spark.createDataFrame(left, ["lkey", "m"]).localCheckpoint()
        rdf = spark.createDataFrame(right, ["rkey", "j", "val"]).localCheckpoint()
        truth = {
            "matched": sum(m for _, m in left),
            "left_only": sum(1 for _, m in left if m == 0),
            "right_only": 10,
        }
        truth["rows"] = sum(truth.values())
        return ldf, rdf, truth

    def _frames(self, ldf, rdf, r1, r2, seed):
        sl = SampledFrame(
            df=ldf.where(F.rand(seed) < r1) if r1 < 1.0 else ldf,
            ratio=r1,
            config=SamplingConfig(ratio=r1, seed=seed),
        )
        sr = SampledFrame(
            df=rdf.where(F.rand(seed + 7919) < r2) if r2 < 1.0 else rdf,
            ratio=r2,
            config=SamplingConfig(ratio=r2, seed=seed),
        )
        return sl, sr

    def test_exact_mode_is_classical_full_join(self, spark, population):
        ldf, rdf, truth = population
        sl, sr = self._frames(ldf, rdf, 1.0, 1.0, 1)
        rows = sl.join_weighted_full(sr, "lkey", "rkey").collect()
        assert len(rows) == truth["rows"]
        assert all(r["__weight"] == 1.0 for r in rows)
        assert sum(1 for r in rows if r["rkey"] is None) == truth["left_only"]
        assert sum(1 for r in rows if r["lkey"] is None) == truth["right_only"]

    def test_full_join_unbiased_across_seeds(self, spark, population):
        """Mean over 40 seeds of each stratum estimate tracks the truth —
        including the right-only stratum the left composition cannot see.
        One unioned plan, one collect."""
        ldf, rdf, truth = population
        frames = []
        for s in range(40):
            seed = 104729 * (s + 1)
            sl, sr = self._frames(ldf, rdf, 0.6, 0.5, seed)
            w = sl.join_weighted_full(sr, "lkey", "rkey")
            frames.append(
                w.agg(
                    F.sum("__weight").alias("est_rows"),
                    F.sum(
                        F.when(F.col("rkey").isNull(), F.col("__weight")).otherwise(F.lit(0.0))
                    ).alias("est_left_only"),
                    F.sum(
                        F.when(F.col("lkey").isNull(), F.col("__weight")).otherwise(F.lit(0.0))
                    ).alias("est_right_only"),
                )
            )
        u = frames[0]
        for f in frames[1:]:
            u = u.unionByName(f)
        rows = u.collect()
        n = len(rows)
        mean = lambda c: sum(r[c] for r in rows) / n
        assert abs(mean("est_rows") - truth["rows"]) / truth["rows"] < 0.08
        assert abs(mean("est_left_only") - truth["left_only"]) < 0.25 * truth["left_only"] + 2
        assert abs(mean("est_right_only") - truth["right_only"]) < 0.25 * truth["right_only"] + 2

    def test_right_join_mirrors_left(self, spark, population):
        """join_weighted_right == join_weighted_left with sides swapped,
        columns in (left, right) order."""
        ldf, rdf, _ = population
        sl, sr = self._frames(ldf, rdf, 0.5, 0.5, 31)
        got = sl.join_weighted_right(sr, "lkey", "rkey")
        assert got.columns == ldf.columns + rdf.columns + ["__weight"]
        mirror = sr.join_weighted_left(sl, "rkey", "lkey").select(
            *ldf.columns, *rdf.columns, "__weight"
        )
        a = sorted(map(str, got.collect()))
        b = sorted(map(str, mirror.collect()))
        assert a == b

    def test_full_join_rejects_overlapping_columns(self, spark):
        df = spark.range(5).select(F.col("id"), F.lit(1).alias("x"))
        sl = SampledFrame.from_dataframe(df, SamplingConfig(ratio=0.5, seed=1), observe=False)
        sr = SampledFrame.from_dataframe(df, SamplingConfig(ratio=0.5, seed=2), observe=False)
        with pytest.raises(ValueError):
            sl.join_weighted_full(sr, "id", "id")

    def test_full_join_warns_below_half(self, spark, population):
        ldf, rdf, _ = population
        sl, sr = self._frames(ldf, rdf, 0.3, 0.6, 3)
        with pytest.warns(UserWarning, match="high-variance"):
            sl.join_weighted_full(sr, "lkey", "rkey")


class TestWeightedQuantile:
    """weighted_quantile: the CDF inverse for __weight-carrying frames."""

    def test_unit_weights_match_discrete_sample_quantile(self, spark):
        """With all weights 1 the cumulative-weight threshold p*W crosses
        at exactly rank ceil(p*n), so the result must equal
        approx_quantile's order statistic on the same rows."""
        from random_sampling_based_approximate_mapreduce_spark.sampling.sampled_frame import (
            weighted_quantile,
        )

        df = (
            spark.range(3000)
            .select(
                (F.col("id") % 5).alias("g"),
                ((F.col("id") * 61) % 977).cast("double").alias("v"),
                F.lit(1.0).alias("__weight"),
            )
            .localCheckpoint()
        )
        got = {
            r["g"]: r.asDict()
            for r in weighted_quantile(df, "v", [0.25, 0.5, 0.9], "g").collect()
        }
        sf = SampledFrame.from_dataframe(
            df, SamplingConfig(ratio=1.0), observe=False
        )
        # exact-mode approx_quantile = discrete quantile of the same rows
        want = {
            r["g"]: r.asDict()
            for r in sf.approx_quantile("v", [0.25, 0.5, 0.9], "g").collect()
        }
        for g in want:
            for sfx in ("_p25", "_p50", "_p90"):
                assert got[g][f"est_quantile{sfx}"] == want[g][f"est_quantile{sfx}"]

    def test_weighting_corrects_stratified_bias(self, spark):
        """Stratum A (values ~low) sampled at 100%, stratum B (values
        ~high) at 10%: the PLAIN sample median collapses toward A; the
        weighted median must sit near the population median."""
        from random_sampling_based_approximate_mapreduce_spark.sampling.sampled_frame import (
            stratified_sample,
            weighted_quantile,
        )

        pop = spark.range(20000).select(
            F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("s"),
            F.when(F.col("id") % 2 == 0, (F.col("id") % 100).cast("double"))
            .otherwise((1000 + F.col("id") % 100).cast("double"))
            .alias("v"),
        )
        # population: 10k values in [0,99] (stratum a) then 10k in
        # [1000,1099] (b); the discrete median (rank 10000 of 20000) is
        # the TOP of stratum a by construction
        truth = 99.0
        w = stratified_sample(pop, "s", {"a": 1.0, "b": 0.1}, seed=13)
        est = weighted_quantile(w, "v", 0.5, min_support=10).collect()[0]
        naive = sorted(r["v"] for r in w.collect())
        naive_med = naive[max(1, -(-len(naive) // 2)) - 1]
        # The population median sits EXACTLY at the a/b boundary (truth =
        # 99, the top of stratum a; the next order statistic is 1000), so
        # sampling noise legitimately flips the discrete estimate across
        # the value gap — the correct assertion is the boundary REGION,
        # not a distance. The naive sample median is deep inside
        # over-sampled stratum a; the weighted one must sit at the
        # boundary (top decile of a or bottom decile of b).
        assert naive_med < 70
        assert 90.0 <= est["est_quantile"] <= 1010.0
        assert est["low_support"] is False

    def test_rejects_bad_p(self, spark):
        from random_sampling_based_approximate_mapreduce_spark.sampling.sampled_frame import (
            weighted_quantile,
        )

        df = spark.range(10).select(
            F.col("id").cast("double").alias("v"), F.lit(1.0).alias("__weight")
        )
        with pytest.raises(ValueError):
            weighted_quantile(df, "v", 1.5)
        with pytest.raises(ValueError):
            weighted_quantile(df, "v", [])

    def test_signed_weight_guard_nulls_quantile(self, spark):
        """ADVICE r7: a group containing a NEGATIVE weight (the signed
        correction rows of the weighted-join compositions) must get a
        NULL quantile — the CDF inverse is undefined over signed weights
        — while clean groups in the same frame stay estimated."""
        from random_sampling_based_approximate_mapreduce_spark.sampling.sampled_frame import (
            weighted_quantile,
        )

        rows = [("clean", float(v), 1.0) for v in range(1, 101)]
        rows += [("signed", float(v), 1.0) for v in range(1, 101)]
        rows += [("signed", 50.0, -0.5)]  # one correction row poisons the group
        df = spark.createDataFrame(rows, "g string, v double, __weight double")
        got = {
            r["g"]: r
            for r in weighted_quantile(df, "v", [0.5, 0.9], "g").collect()
        }
        assert got["clean"]["est_quantile_p50"] == 50.0
        assert got["clean"]["est_quantile_p90"] == 90.0
        assert got["signed"]["est_quantile_p50"] is None
        assert got["signed"]["est_quantile_p90"] is None

    def test_zero_weight_rows_are_admitted(self, spark):
        """Weight 0 is a legitimate inclusion weight (a row that
        contributes no mass); only weights < 0 trip the guard."""
        from random_sampling_based_approximate_mapreduce_spark.sampling.sampled_frame import (
            weighted_quantile,
        )

        rows = [(float(v), 1.0) for v in range(1, 11)] + [(1000.0, 0.0)]
        df = spark.createDataFrame(rows, "v double, __weight double")
        got = weighted_quantile(df, "v", 0.5).collect()[0]
        assert got["est_quantile"] == 5.0  # zero-weight row moves nothing

    def test_all_zero_weight_group_nulls_quantile(self, spark):
        """Review r8: a group whose TOTAL weight is zero must get NULL —
        every threshold q*0 = 0 is trivially crossed by the first row,
        which would fabricate the group MINIMUM as the 'quantile'."""
        from random_sampling_based_approximate_mapreduce_spark.sampling.sampled_frame import (
            weighted_quantile,
        )

        rows = [("live", float(v), 1.0) for v in range(1, 11)]
        rows += [("dead", float(v), 0.0) for v in range(1, 11)]
        df = spark.createDataFrame(rows, "g string, v double, __weight double")
        got = {r["g"]: r for r in weighted_quantile(df, "v", 0.5, "g").collect()}
        assert got["live"]["est_quantile"] == 5.0
        assert got["dead"]["est_quantile"] is None

    def test_non_finite_values_excluded(self, spark):
        """Review r8: weighted_quantile uses the same admission predicate
        as approx_quantile — NaN/±Inf are excluded, not selectable."""
        from random_sampling_based_approximate_mapreduce_spark.sampling.sampled_frame import (
            weighted_quantile,
        )

        rows = [(float(v), 1.0) for v in range(1, 101)]
        rows += [(float("nan"), 50.0), (float("inf"), 50.0), (float("-inf"), 50.0)]
        df = spark.createDataFrame(rows, "v double, __weight double")
        got = weighted_quantile(df, "v", [0.5, 0.99], min_support=10).collect()[0]
        # with the non-finite mass excluded, thresholds cover 1..100 only
        assert got["est_quantile_p50"] == 50.0
        assert got["est_quantile_p99"] == 99.0
        assert got["n_sampled"] == 100


class TestWeightedMeanRatio:
    """weighted_mean / weighted_ratio: HT ratio-of-sums estimators for
    __weight-carrying frames (round 8; coverage in the seed sweep)."""

    def test_mean_corrects_stratified_bias(self, spark):
        """Stratum a (low values) at 100%, stratum b (high) at 10%: the
        plain avg collapses toward a; the weighted mean must sit near
        the population mean."""
        from random_sampling_based_approximate_mapreduce_spark.sampling.sampled_frame import (
            stratified_sample,
            weighted_mean,
        )

        pop = spark.range(20000).select(
            F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("s"),
            F.when(F.col("id") % 2 == 0, (F.col("id") % 100).cast("double"))
            .otherwise((1000 + F.col("id") % 100).cast("double"))
            .alias("v"),
        )
        truth = (sum(range(100)) / 100 + 1000 + sum(range(100)) / 100) / 2
        w = stratified_sample(pop, "s", {"a": 1.0, "b": 0.1}, seed=13)
        est = weighted_mean(w, "v", ci_confidence=0.95, min_support=10).collect()[0]
        naive = w.agg(F.avg("v")).collect()[0][0]
        assert abs(naive - truth) > 300  # plain avg is badly biased
        assert abs(est["est_mean"] - truth) <= 3 * est["est_mean_ci"]
        assert est["low_support"] is False

    def test_mean_hand_computation_and_uniform_reduction(self, spark):
        """Pinned formula: Var = sum w(w-1)(x-m)^2 / (sum w)^2; at
        uniform w = 1/r it equals (1-r) * sum (x-m)^2 / n^2."""
        import math

        vals = [float(v) for v in (3, 7, 11, 20, 1, 9)]
        r = 0.25
        w = 1.0 / r
        df = spark.createDataFrame(
            [(v, w) for v in vals], "v double, __weight double"
        )
        from random_sampling_based_approximate_mapreduce_spark.sampling.sampled_frame import (
            weighted_mean,
        )

        row = weighted_mean(df, "v", ci_confidence=0.95).collect()[0]
        n = len(vals)
        m = sum(vals) / n
        var = w * (w - 1) * sum((v - m) ** 2 for v in vals) / (w * n) ** 2
        assert var == pytest.approx(
            (1 - r) * sum((v - m) ** 2 for v in vals) / n**2
        )
        z = 1.959963984540054
        assert row["est_mean"] == pytest.approx(m, rel=1e-12)
        assert row["est_mean_ci"] == pytest.approx(z * math.sqrt(var), rel=1e-12)

    def test_ratio_hand_computation(self, spark):
        import math

        rows = [(4.0, 2.0, 2.0), (6.0, 3.0, 2.0), (10.0, 2.0, 5.0)]
        df = spark.createDataFrame(rows, "x double, y double, __weight double")
        from random_sampling_based_approximate_mapreduce_spark.sampling.sampled_frame import (
            weighted_ratio,
        )

        row = weighted_ratio(df, "x", "y", ci_confidence=0.95).collect()[0]
        tx = sum(w * x for x, y, w in rows)
        ty = sum(w * y for x, y, w in rows)
        R = tx / ty
        axx = sum(w * (w - 1) * x * x for x, y, w in rows)
        ayy = sum(w * (w - 1) * y * y for x, y, w in rows)
        axy = sum(w * (w - 1) * x * y for x, y, w in rows)
        var = max(axx - 2 * R * axy + R * R * ayy, 0.0) / (ty * ty)
        z = 1.959963984540054
        assert row["est_ratio"] == pytest.approx(R, rel=1e-12)
        assert row["est_ratio_ci"] == pytest.approx(z * math.sqrt(var), rel=1e-12)

    def test_non_inclusion_weight_nulls_ci(self, spark):
        """The correction rows of the weighted joins (weights < 1, some
        negative) are not inclusion weights: the point estimate stays,
        the CI goes NULL — same contract as weighted_count/sum."""
        from random_sampling_based_approximate_mapreduce_spark.sampling.sampled_frame import (
            weighted_mean,
            weighted_ratio,
        )

        rows = [("ok", 5.0, 2.0), ("ok", 7.0, 2.0), ("bad", 5.0, 2.0), ("bad", 3.0, 0.5)]
        df = spark.createDataFrame(rows, "g string, v double, __weight double")
        got = {
            r["g"]: r
            for r in weighted_mean(df, "v", "g", ci_confidence=0.95).collect()
        }
        assert got["ok"]["est_mean_ci"] is not None
        assert got["bad"]["est_mean"] is not None
        assert got["bad"]["est_mean_ci"] is None
        df2 = df.withColumn("y", F.lit(1.0))
        got2 = {
            r["g"]: r
            for r in weighted_ratio(df2, "v", "y", "g", ci_confidence=0.95).collect()
        }
        assert got2["ok"]["est_ratio_ci"] is not None
        assert got2["bad"]["est_ratio_ci"] is None


class TestZeroAndNullDenominators:
    """A group whose denominator sum is zero or NULL gets a NULL estimate
    and a NULL CI from the plain and weighted ratio-of-sums estimators,
    as it does from the joined ones: no DIVIDE_BY_ZERO under ANSI mode,
    and no CI of 0.0 around a NULL estimate."""

    @staticmethod
    def _by_group(df):
        return {r["g"]: r for r in df.collect()}

    def test_approx_ratio(self, spark):
        # group 1: every y is 0.0; group 2: every y is NULL
        base = spark.range(60).select(
            (F.col("id") % 3).alias("g"),
            F.col("id").cast("double").alias("x"),
            F.when(F.col("id") % 3 == 0, (F.col("id") % 4 + 1).cast("double"))
            .when(F.col("id") % 3 == 1, F.lit(0.0))
            .alias("y"),
        )
        sf = SampledFrame.from_dataframe(base, SamplingConfig(ratio=0.5, seed=7), observe=False)
        plain = self._by_group(sf.approx_ratio("x", "y", "g"))
        with_ci = self._by_group(sf.approx_ratio("x", "y", "g", ci=True, min_support=3))
        assert set(plain) == set(with_ci) == {0, 1, 2}
        for g in (1, 2):
            assert plain[g]["est_ratio"] is None
            assert with_ci[g]["est_ratio"] is None and with_ci[g]["est_ratio_ci"] is None
            assert with_ci[g]["n_sampled"] > 0
        assert with_ci[0]["est_ratio"] == plain[0]["est_ratio"] > 0
        assert with_ci[0]["est_ratio_ci"] > 0

    def test_weighted_ratio(self, spark):
        from random_sampling_based_approximate_mapreduce_spark.sampling.sampled_frame import (
            weighted_ratio,
        )

        rows = [
            ("ok", 4.0, 2.0), ("ok", 6.0, 1.0),
            ("zero", 4.0, 0.0), ("zero", 6.0, 0.0),
            ("null", 4.0, None), ("null", 6.0, None),
        ]
        df = spark.createDataFrame(
            [(g, x, y, 2.0) for g, x, y in rows], "g string, x double, y double, __weight double"
        )
        plain = self._by_group(weighted_ratio(df, "x", "y", "g"))
        with_ci = self._by_group(weighted_ratio(df, "x", "y", "g", ci_confidence=0.95))
        for g in ("zero", "null"):
            assert plain[g]["est_ratio"] is None
            assert with_ci[g]["est_ratio"] is None and with_ci[g]["est_ratio_ci"] is None
        assert with_ci["ok"]["est_ratio"] == plain["ok"]["est_ratio"] == pytest.approx(10.0 / 3.0)
        assert with_ci["ok"]["est_ratio_ci"] is not None

    def test_weighted_mean_signed_weights_summing_to_zero(self, spark):
        """4, -2, -2 are the weights ``join_weighted_full`` gives at
        r1 = r2 = 0.5."""
        from random_sampling_based_approximate_mapreduce_spark.sampling.sampled_frame import (
            weighted_mean,
        )

        rows = [("s", 1.0, 4.0), ("s", 2.0, -2.0), ("s", 3.0, -2.0), ("ok", 1.0, 2.0), ("ok", 3.0, 2.0)]
        df = spark.createDataFrame(rows, "g string, v double, w double")
        got = self._by_group(weighted_mean(df, "v", "g", weight_col="w", ci_confidence=0.95))
        assert got["s"]["est_mean"] is None and got["s"]["est_mean_ci"] is None
        assert got["ok"]["est_mean"] == pytest.approx(2.0)
        assert got["ok"]["est_mean_ci"] is not None

    def test_weighted_sum_all_null_values(self, spark):
        """Group ``a``'s values are all NULL under weights 2 and 3: its sum
        is NULL, and so is the CI around it, as from ``approx_sum``."""
        from random_sampling_based_approximate_mapreduce_spark.sampling import stats
        from random_sampling_based_approximate_mapreduce_spark.sampling.sampled_frame import (
            weighted_sum,
        )

        rows = [("a", None, 2.0), ("a", None, 3.0), ("b", 5.0, 2.0)]
        df = spark.createDataFrame(rows, "g string, v double, __weight double")
        got = self._by_group(weighted_sum(df, "v", "g", ci_confidence=0.95))
        assert got["a"]["est_sum"] is None and got["a"]["est_sum_ci"] is None
        assert got["b"]["est_sum"] == pytest.approx(10.0)
        assert got["b"]["est_sum_ci"] == pytest.approx(stats.z_score(0.95) * (25.0 * 2.0) ** 0.5)


class TestObservationsThroughSqlEstimators:
    """The estimators are SQL statements over a temporary view of the
    sampled frame; an action on one still fires the observations of the
    frames under it, so ``report()`` returns. Each report runs in a
    daemon thread with a bounded wait, so a regression fails here
    instead of hanging the suite."""

    @staticmethod
    def _report_within(sf, timeout=60.0):
        import threading

        out = {}
        t = threading.Thread(target=lambda: out.setdefault("report", sf.report()), daemon=True)
        t.start()
        t.join(timeout)
        assert "report" in out, "report() did not return: the observation never fired"
        return out["report"]

    def test_plain_estimator(self, spark):
        base = spark.range(4000).select((F.col("id") % 5).alias("g"))
        sf = SampledFrame.from_dataframe(base, SamplingConfig(ratio=0.5, seed=3))
        rows = sf.approx_count("g", ci=True, min_support=5).collect()
        rep = self._report_within(sf)
        assert rep.total_records == 4000
        assert rep.sampled_records == sum(r["n_sampled"] for r in rows)

    def test_joined_estimator(self, spark):
        left = spark.range(4000).select(
            F.col("id").alias("lid"),
            (F.col("id") % 50).alias("lk"),
            (F.col("id") % 3).alias("g"),
            F.col("id").cast("double").alias("x"),
        )
        right = spark.range(100).select(F.col("id").alias("rid"), (F.col("id") % 50).alias("rk"))
        la = SampledFrame.from_dataframe(left, SamplingConfig(ratio=0.5, seed=3))
        rb = SampledFrame.from_dataframe(right, SamplingConfig(ratio=0.5, seed=4))
        j = la.join_sampled(rb, F.col("lk") == F.col("rk"), left_id="lid", right_id="rid")
        assert len(j.approx_sum("x", "g", ci=True).collect()) == 3
        assert self._report_within(la).total_records == 4000
        assert self._report_within(rb).total_records == 100


class TestReviewR8Guards:
    """Second review pass (round 8): validation and NULL-group fixes."""

    def test_bucket_threshold_rounds_and_rejects_zero(self):
        from random_sampling_based_approximate_mapreduce_spark.sampling.deterministic import (
            _BUCKETS,
            bucket_threshold,
        )

        # round, not int: 0.29 * 1e6 = 289999.99999999994
        assert bucket_threshold(0.29) == 290000
        assert bucket_threshold(0.2) == 200000
        assert bucket_threshold(1.0) == _BUCKETS
        with pytest.raises(ValueError, match="hash resolution"):
            bucket_threshold(1e-7)

    def test_stratum_fraction_validation(self, spark):
        from random_sampling_based_approximate_mapreduce_spark.sampling.deterministic import (
            stratified_hash_weight,
            stratified_hash_weight_sql,
        )

        with pytest.raises(ValueError, match="in \\(0, 1\\]"):
            stratified_hash_weight("s", "k", {"a": 0.0})
        with pytest.raises(ValueError, match="not exactly"):
            stratified_hash_weight("s", "k", {"a": 0.3})
        with pytest.raises(ValueError, match="overflow"):
            stratified_hash_weight_sql("s", "k", {"a": 0.00005})
        # the engine's standard grids stay valid
        stratified_hash_weight("s", "k", {"a": 0.5, "b": 0.05, "c": 0.04})

    def test_histogram_keeps_null_group_like_window(self, spark):
        """A NULL-valued group key must yield the SAME quantile row from
        both strategies (review r8: the equi-joins in the histogram path
        silently dropped NULL groups the window path kept)."""
        rows = [("a", float(v)) for v in range(1, 101)]
        rows += [(None, float(v)) for v in range(1, 51)]
        df = spark.createDataFrame(rows, "g string, v double").localCheckpoint()
        sf = SampledFrame.from_dataframe(
            df, SamplingConfig(ratio=1.0), observe=False
        )
        for method in ("window", "histogram"):
            got = {
                r["g"]: r
                for r in sf.approx_quantile(
                    "v", 0.5, "g", method=method
                ).collect()
            }
            assert set(got) == {"a", None}, method
            assert got["a"]["est_quantile"] == 50.0, method
            assert got[None]["est_quantile"] == 25.0, method

    def test_cluster_ci_keeps_null_group(self, spark):
        """NULL group keys survive the joined cluster estimators
        (union-pivot, not an equi-join on the group columns)."""
        left = spark.range(100).select(F.col("id").alias("lk"))
        right = spark.range(100).select(
            F.col("id").alias("rid"),
            F.when(F.col("id") % 2 == 0, "x").alias("g"),  # NULL for odd
        )
        sl = SampledFrame.from_dataframe(
            left, SamplingConfig(ratio=0.5, seed=3), observe=False
        )
        sr = SampledFrame.from_dataframe(
            right, SamplingConfig(ratio=0.5, seed=4), observe=False
        )
        j = sl.join_sampled(
            sr, F.col("lk") == F.col("rid"), left_id="lk", right_id="rid"
        )
        with_ci = {r["g"] for r in j.approx_count("g", ci=True).collect()}
        without = {r["g"] for r in j.approx_count("g").collect()}
        assert with_ci == without  # NULL group present in both or neither
        assert None in with_ci

    def test_cluster_ci_keeps_all_null_value_group(self, spark):
        """A group whose values are all NULL keeps its row in every
        joined cluster estimator, with NULL estimates and CIs as the
        plain estimators give, and no division by zero under ANSI."""
        left = spark.range(60).select(F.col("id").alias("lk"))
        right = spark.range(120).select(
            (F.col("id") % 60).alias("rk"),
            F.col("id").alias("rid"),
            (F.col("id") % 3).alias("g"),
            F.when(F.col("id") % 3 == 1, F.lit(None).cast("double"))
            .otherwise((F.col("id") % 7).cast("double"))
            .alias("v"),
        )
        sl = SampledFrame.from_dataframe(
            left, SamplingConfig(ratio=0.5, seed=3), observe=False
        )
        sr = SampledFrame.from_dataframe(
            right, SamplingConfig(ratio=0.5, seed=4), observe=False
        )
        j = sl.join_sampled(
            sr, F.col("lk") == F.col("rk"), left_id="lk", right_id="rid"
        )
        plain = {r["g"]: r for r in j.approx_mean("v", "g").collect()}
        assert plain[1]["est_mean"] is None
        mean = {r["g"]: r for r in j.approx_mean("v", "g", ci=True).collect()}
        stats_ = {r["g"]: r for r in j.approx_join_stats("v", "g").collect()}
        ratio = {r["g"]: r for r in j.approx_ratio("lk", "v", "g", ci=True).collect()}
        total = {r["g"]: r for r in j.approx_sum("v", "g", ci=True).collect()}
        for got in (mean, stats_, ratio, total):
            assert set(got) == set(plain)
        assert mean[1]["est_mean"] is None and mean[1]["est_mean_ci"] is None
        assert ratio[1]["est_ratio"] is None and ratio[1]["est_ratio_ci"] is None
        assert total[1]["est_sum"] is None and total[1]["est_sum_ci"] is None
        for c in ("est_sum", "est_sum_ci", "est_mean", "est_mean_ci"):
            assert stats_[1][c] is None, c
        assert stats_[1]["est_pairs"] > 0 and stats_[1]["est_pairs_ci"] > 0
        for g in (0, 2):
            assert mean[g]["est_mean"] == pytest.approx(plain[g]["est_mean"], rel=1e-12)
            assert mean[g]["est_mean_ci"] > 0 and ratio[g]["est_ratio_ci"] > 0

    def test_topk_null_bound_is_not_stable(self, spark):
        """A rank whose own or next bound is NULL was never compared —
        it must NOT claim stable=True (review r8)."""
        rows = [("big", 100.0)] * 40 + [("mid", 50.0)] * 40
        rows += [("nullish", None)] * 40  # all-NULL values -> NULL est
        df = spark.createDataFrame(rows, "g string, v double")
        sf = SampledFrame.from_dataframe(
            df, SamplingConfig(ratio=0.5, seed=6), observe=False
        )
        got = {
            r["g"]: r
            for r in sf.approx_topk("g", k=3, value_col="v").collect()
        }
        assert got["nullish"]["est"] is None
        # the row ABOVE the null-bound item could not be compared: unstable
        ranked = sorted(got.values(), key=lambda r: r["rank"])
        for i, r in enumerate(ranked[:-1]):
            if ranked[i + 1]["est"] is None:
                assert r["stable"] is False

    def test_bootstrap_single_element_list_p(self, spark):
        """[0.5] (a one-element LIST) must work and carry _p50 suffixes
        (review r8: it crashed on an unresolved column)."""
        from random_sampling_based_approximate_mapreduce_spark.sampling.bootstrap import (
            weighted_quantile_bootstrap,
        )

        df = spark.range(200).select(
            F.col("id").alias("k"),
            (F.col("id") % 50).cast("double").alias("v"),
            F.lit(1.0).alias("__weight"),
        )
        row = weighted_quantile_bootstrap(df, "v", [0.5], key_col="k").collect()[0]
        assert row["est_quantile_p50"] is not None
        assert row["est_quantile_p50_ci_lo"] <= row["est_quantile_p50"]


class TestApproxTopK:
    """approx_topk: HT-estimated heavy hitters with rank-stability flags."""

    @pytest.fixture(scope="class")
    def skewed(self, spark):
        # key j appears 1000-40*j times for j in 0..19 (clear hierarchy),
        # plus keys 100/101 with IDENTICAL counts (a guaranteed tie)
        rows = [(j,) for j in range(20) for _ in range(1000 - 40 * j)]
        rows += [(100,)] * 300 + [(101,)] * 300
        return spark.createDataFrame(rows, ["key"]).localCheckpoint()

    def test_exact_mode_true_topk(self, skewed):
        sf = SampledFrame.from_dataframe(
            skewed, SamplingConfig(ratio=1.0), observe=False
        )
        rows = sf.approx_topk("key", k=5).collect()
        assert [r["key"] for r in rows] == [0, 1, 2, 3, 4]
        assert [r["rank"] for r in rows] == [1, 2, 3, 4, 5]
        assert rows[0]["est"] == 1000
        assert all(r["stable"] for r in rows)

    def test_sampled_heads_and_stability(self, skewed):
        sf = SampledFrame.from_dataframe(
            skewed, SamplingConfig(ratio=0.3, seed=7), observe=False
        )
        rows = sf.approx_topk("key", k=10).collect()
        assert len(rows) == 10
        # the true #1 (1000 vs runner-up 960) must head the estimate list
        assert rows[0]["key"] == 0
        # estimates scale to population magnitude
        assert rows[0]["est"] == pytest.approx(1000, rel=0.25)
        # CI columns present and positive
        assert all(r["est_ci"] > 0 for r in rows)
        # ranks are 1..10 in estimate order
        assert [r["rank"] for r in rows] == list(range(1, 11))
        ests = [r["est"] for r in rows]
        assert ests == sorted(ests, reverse=True)

    def test_tied_keys_flagged_unstable(self, spark):
        """Two truly tied keys adjacent in the ranking cannot clear each
        other's CI — the flag must mark the boundary unstable."""
        rows = [(0,)] * 2000 + [(1,)] * 500 + [(2,)] * 500 + [(3,)] * 20
        df = spark.createDataFrame(rows, ["key"]).localCheckpoint()
        sf = SampledFrame.from_dataframe(
            df, SamplingConfig(ratio=0.3, seed=5), observe=False
        )
        got = {r["key"]: r for r in sf.approx_topk("key", k=3).collect()}
        # key 0 dominates the tied pair: stable
        assert got[0]["stable"]
        # whichever of the tied keys ranks 2nd cannot clear the 3rd
        second = [k for k in (1, 2) if got[k]["rank"] == 2][0]
        assert not got[second]["stable"]

    def test_rejects_bad_k(self, spark):
        df = spark.range(10).select(F.col("id").alias("key"))
        sf = SampledFrame.from_dataframe(
            df, SamplingConfig(ratio=0.5, seed=1), observe=False
        )
        with pytest.raises(ValueError):
            sf.approx_topk("key", k=0)


class TestWeightedCIHonestyGuard:
    """weighted_count/weighted_sum CIs are only valid for genuine
    inclusion weights (>= 1); signed weighted-join correction rows must
    NULL the CI, never produce a plausible-looking wrong number."""

    def test_join_frame_ci_is_null(self, spark):
        from random_sampling_based_approximate_mapreduce_spark.sampling.sampled_frame import (
            weighted_count,
            weighted_sum,
        )

        left = spark.range(200).select(F.col("id").alias("lk"))
        right = spark.range(400).select((F.col("id") % 200).alias("rk"))
        sl = SampledFrame.from_dataframe(
            left, SamplingConfig(ratio=0.5, seed=3), observe=False
        )
        sr = SampledFrame.from_dataframe(
            right, SamplingConfig(ratio=0.5, seed=11), observe=False
        )
        w = sl.join_weighted_full(sr, "lk", "rk").withColumn(
            "x", F.coalesce(F.col("rk"), F.lit(0)).cast("double")
        )
        c = weighted_count(w, ci_confidence=0.95).collect()[0]
        s = weighted_sum(w, "x", ci_confidence=0.95).collect()[0]
        # point estimates still present and sane; CIs honestly NULL
        assert c["est_count"] is not None
        assert c["est_count_ci"] is None
        assert s["est_sum_ci"] is None

    def test_stratified_frame_ci_still_present(self, spark):
        from random_sampling_based_approximate_mapreduce_spark.sampling.sampled_frame import (
            stratified_sample,
            weighted_count,
        )

        df = spark.range(5000).select(
            (F.col("id") % 2).alias("s"), F.col("id").alias("v")
        )
        w = stratified_sample(df, "s", {0: 0.2, 1: 0.5}, seed=9)
        row = weighted_count(w, ci_confidence=0.95).collect()[0]
        assert row["est_count_ci"] is not None and row["est_count_ci"] > 0


class TestApproxDistinctChao:
    """Chao1 unseen-species distinct estimation from a Bernoulli sample."""

    def test_chao_beats_both_naive_forms(self, spark):
        """1000 users x 10 rows each, 20% sample: ~11% of users are never
        seen (d underestimates) and scale-up d/r overcounts ~4.5x; the
        Chao1 correction must land far closer than either."""
        truth = 1000
        df = (
            spark.range(truth * 10)
            .select((F.col("id") % truth).alias("user_id"))
            .localCheckpoint()
        )
        sf = SampledFrame.from_dataframe(
            df, SamplingConfig(ratio=0.2, seed=17), observe=False
        )
        row = sf.approx_distinct_chao("user_id").collect()[0]
        d, est = row["d_sampled"], row["est_distinct"]
        assert d < truth  # sampled distinct genuinely undercounts
        naive_scale = d / 0.2
        assert abs(est - truth) < abs(d - truth)
        assert abs(est - truth) < abs(naive_scale - truth)
        assert est == pytest.approx(truth, rel=0.1)
        # the estimate is exactly the closed form of its own moments
        f1, f2 = row["f1"], row["f2"]
        assert est == pytest.approx(d + f1 * (f1 - 1) / (2.0 * (f2 + 1)), abs=1e-9)

    def test_exact_mode_returns_sampled_distinct(self, spark):
        df = spark.range(500).select((F.col("id") % 50).alias("u"))
        sf = SampledFrame.from_dataframe(df, SamplingConfig(ratio=1.0), observe=False)
        row = sf.approx_distinct_chao("u").collect()[0]
        assert row["est_distinct"] == 50.0 and row["d_sampled"] == 50


class TestPoissonBootstrap:
    """Deterministic Poisson bootstrap (sampling/bootstrap.py)."""

    def test_estimate_is_exact_and_run_deterministic(self, spark):
        from random_sampling_based_approximate_mapreduce_spark.sampling.bootstrap import (
            poisson_bootstrap_sum,
        )

        df = spark.range(3000).select(
            (F.col("id") % 3).alias("g"),
            F.col("id").alias("k"),
            ((F.col("id") % 97) + 1).alias("x"),
        ).localCheckpoint()
        a = sorted(map(str, poisson_bootstrap_sum(df, "x", "k", "g").collect()))
        b = sorted(map(str, poisson_bootstrap_sum(df, "x", "k", "g").collect()))
        assert a == b  # multipliers are hash-deterministic, no RNG
        exact = {
            r["g"]: r["s"]
            for r in df.groupBy("g").agg(F.sum("x").alias("s")).collect()
        }
        for row in poisson_bootstrap_sum(df, "x", "k", "g").collect():
            assert row["est_sum"] == exact[row["g"]]
            assert row["est_sum_ci"] > 0

    def test_bootstrap_tracks_closed_form_without_fpc(self, spark):
        """HONESTY PIN: on a Bernoulli(r) sample the bootstrap half-width
        must land near the closed-form HT width DIVIDED by its sqrt(1-r)
        finite-population factor (resampling cannot know the frame is a
        without-replacement draw) — i.e. wider by ~1/sqrt(1-r), never
        tighter than the closed form."""
        from random_sampling_based_approximate_mapreduce_spark.sampling.bootstrap import (
            poisson_bootstrap_sum,
        )

        df = spark.range(20000).select(
            F.col("id").alias("k"), ((F.col("id") % 97) + 1).alias("x")
        )
        r = 0.1
        sf = SampledFrame.from_dataframe(
            df, SamplingConfig(ratio=r, seed=23), observe=False
        )
        closed = sf.approx_sum("x", ci=True).collect()[0]
        boot = poisson_bootstrap_sum(
            sf.df, "x", "k", n_replicates=128, seed=5
        ).collect()[0]
        scaled_boot_ci = boot["est_sum_ci"] / r
        expected = closed["est_sum_ci"] / (1.0 - r) ** 0.5
        ratio = scaled_boot_ci / expected
        # 128 replicates: sd of the sd estimate ~ 1/sqrt(2*127) ~ 6%
        assert 0.8 < ratio < 1.25, ratio

    def test_rejects_too_few_replicates(self, spark):
        from random_sampling_based_approximate_mapreduce_spark.sampling.bootstrap import (
            poisson_bootstrap_sum,
        )

        df = spark.range(10).select(F.col("id").alias("k"), F.lit(1).alias("x"))
        with pytest.raises(ValueError):
            poisson_bootstrap_sum(df, "x", "k", n_replicates=1)


class TestWeightedQuantileBootstrap:
    """weighted_quantile + deterministic Poisson bootstrap CI
    (sampling/bootstrap.weighted_quantile_bootstrap); coverage lives in
    TestCICoverageSeedSweep."""

    def _frame(self, spark):
        return spark.range(1200).select(
            F.col("id").alias("k"),
            (F.col("id") % 4).alias("g"),
            ((F.col("id") * 61) % 977).cast("double").alias("v"),
            F.when(F.col("id") % 2 == 0, F.lit(2.0))
            .otherwise(F.lit(5.0))
            .alias("__weight"),
        ).localCheckpoint()

    def test_point_estimate_matches_plain_and_deterministic(self, spark):
        from random_sampling_based_approximate_mapreduce_spark.sampling.bootstrap import (
            weighted_quantile_bootstrap,
        )
        from random_sampling_based_approximate_mapreduce_spark.sampling.sampled_frame import (
            weighted_quantile,
        )

        df = self._frame(spark)
        got = {
            r["g"]: r.asDict()
            for r in weighted_quantile_bootstrap(
                df, "v", [0.5, 0.9], "g", key_col="k", min_support=100
            ).collect()
        }
        again = {
            r["g"]: r.asDict()
            for r in weighted_quantile_bootstrap(
                df, "v", [0.5, 0.9], "g", key_col="k", min_support=100
            ).collect()
        }
        assert got == again  # hash multipliers: no RNG anywhere
        plain = {
            r["g"]: r.asDict()
            for r in weighted_quantile(
                df, "v", [0.5, 0.9], "g", min_support=100
            ).collect()
        }
        for g in plain:
            for sfx in ("_p50", "_p90"):
                assert (
                    got[g][f"est_quantile{sfx}"]
                    == plain[g][f"est_quantile{sfx}"]
                )
                lo = got[g][f"est_quantile{sfx}_ci_lo"]
                hi = got[g][f"est_quantile{sfx}_ci_hi"]
                assert lo <= got[g][f"est_quantile{sfx}"] <= hi
            assert got[g]["n_sampled"] == plain[g]["n_sampled"]
            assert got[g]["low_support"] == plain[g]["low_support"]

    def test_signed_weight_guard_propagates(self, spark):
        """A group poisoned by a negative weight gets NULL estimate AND
        NULL interval bounds (every replicate quantile is NULL, so the
        rank selection has nothing to fabricate from)."""
        from random_sampling_based_approximate_mapreduce_spark.sampling.bootstrap import (
            weighted_quantile_bootstrap,
        )

        rows = [("clean", i, float(i % 50), 1.0) for i in range(100)]
        rows += [("signed", i + 100, float(i % 50), 1.0) for i in range(100)]
        rows += [("signed", 999, 25.0, -1.0)]
        df = spark.createDataFrame(rows, "g string, k bigint, v double, __weight double")
        got = {
            r["g"]: r
            for r in weighted_quantile_bootstrap(
                df, "v", 0.5, "g", key_col="k"
            ).collect()
        }
        assert got["clean"]["est_quantile"] is not None
        assert got["signed"]["est_quantile"] is None
        assert got["signed"]["est_quantile_ci_lo"] is None
        assert got["signed"]["est_quantile_ci_hi"] is None

    def test_rejects_too_few_replicates(self, spark):
        from random_sampling_based_approximate_mapreduce_spark.sampling.bootstrap import (
            weighted_quantile_bootstrap,
        )

        df = spark.range(10).select(
            F.col("id").alias("k"),
            F.col("id").cast("double").alias("v"),
            F.lit(1.0).alias("__weight"),
        )
        with pytest.raises(ValueError):
            weighted_quantile_bootstrap(df, "v", 0.5, key_col="k", n_replicates=1)


class TestWeightedMeanNullGroups:
    """ADVICE r8: weighted_mean filtered NULL values BEFORE groupBy, so a
    group whose sampled values are all NULL vanished from the output —
    diverging from avg semantics (which keep the group with a NULL
    mean). The null-skipping rewrite keeps the group."""

    def _frame(self, spark):
        from pyspark.sql import functions as F

        return spark.createDataFrame(
            [
                ("a", 10.0, 2.0),
                ("a", None, 2.0),
                ("b", None, 2.0),
                ("b", None, 2.0),
            ],
            "g string, x double, w double",
        )

    def test_all_null_group_survives_with_null_mean(self, spark):
        from random_sampling_based_approximate_mapreduce_spark.sampling.sampled_frame import (
            weighted_mean,
        )

        out = {
            r["g"]: r
            for r in weighted_mean(
                self._frame(spark), "x", "g", weight_col="w",
                min_support=2, ci_confidence=0.95,
            ).collect()
        }
        assert set(out) == {"a", "b"}, "all-NULL group must survive"
        assert out["b"]["est_mean"] is None
        assert out["b"]["est_mean_ci"] is None
        assert out["b"]["n_sampled"] == 0  # counts values, not rows
        assert out["b"]["low_support"] is True
        # mixed group: NULL rows excluded from numerator AND denominator
        assert abs(out["a"]["est_mean"] - 10.0) < 1e-12
        assert out["a"]["n_sampled"] == 1

    def test_matches_spark_avg_group_set(self, spark):
        from pyspark.sql import functions as F

        from random_sampling_based_approximate_mapreduce_spark.sampling.sampled_frame import (
            weighted_mean,
        )

        df = self._frame(spark)
        avg_groups = {r["g"] for r in df.groupBy("g").agg(F.avg("x")).collect()}
        wm_groups = {
            r["g"] for r in weighted_mean(df, "x", "g", weight_col="w").collect()
        }
        assert wm_groups == avg_groups


class TestUnseededSampling:
    """VERDICT r8 item 6: seed=None mirrors the reference's unseeded
    java.util.Random — nondeterministic across runs but a fully
    functional SampledFrame end to end (sample -> estimate -> report)."""

    def test_unseeded_end_to_end_report(self, spark, sf_dir):
        import math

        from random_sampling_based_approximate_mapreduce_spark.sampling.config import (
            SamplingConfig,
        )
        from random_sampling_based_approximate_mapreduce_spark.sampling.sampled_frame import (
            SampledFrame,
        )

        df = spark.read.parquet(f"{sf_dir}/events.parquet")
        sf = SampledFrame.from_dataframe(df, SamplingConfig(ratio=0.2, seed=None))
        n = sf.df.count()
        rep = sf.report()
        total = df.count()
        assert rep.total_records == total
        assert rep.sampled_records == n
        assert rep.total_is_estimated is False
        assert 0 < n < total
        # a plausible Bernoulli(0.2) realization (6-sigma binomial band)
        sd = math.sqrt(total * 0.2 * 0.8)
        assert abs(n - 0.2 * total) < 6 * sd
        est = sf.approx_count(alias="est").collect()[0]["est"]
        assert est == pytest.approx(n / 0.2)

    def test_unseeded_draws_differ(self, spark, sf_dir):
        from random_sampling_based_approximate_mapreduce_spark.sampling.config import (
            SamplingConfig,
        )
        from random_sampling_based_approximate_mapreduce_spark.sampling.sampled_frame import (
            SampledFrame,
        )

        df = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id")
        draws = []
        for _ in range(3):
            sf = SampledFrame.from_dataframe(
                df, SamplingConfig(ratio=0.5, seed=None), observe=False
            )
            draws.append(frozenset(r["event_id"] for r in sf.df.collect()))
        # 3 independent Bernoulli(0.5) draws over hundreds of rows
        # colliding is astronomically unlikely; a collision here means
        # the seed was silently fixed
        assert len(set(draws)) > 1

    def test_seeded_twin_is_reproducible(self, spark, sf_dir):
        from random_sampling_based_approximate_mapreduce_spark.sampling.config import (
            SamplingConfig,
        )
        from random_sampling_based_approximate_mapreduce_spark.sampling.sampled_frame import (
            SampledFrame,
        )

        df = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id")
        a, b = (
            frozenset(
                r["event_id"]
                for r in SampledFrame.from_dataframe(
                    df, SamplingConfig(ratio=0.5, seed=7), observe=False
                ).df.collect()
            )
            for _ in range(2)
        )
        assert a == b

