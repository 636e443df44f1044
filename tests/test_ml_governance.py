"""Semantic invariants for the ML-governance batch: moments-based OLS,
embedding dimension profiling, and PSI drift detection.

The DuckDB oracle pins exact outputs; these tests verify the statistics
against independent computations (numpy lstsq for the regression, pandas
moments for the dim stats, a hand PSI on the collected counts) and the
degenerate-input behavior the clean data cannot reach.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F

from random_sampling_based_approximate_mapreduce_spark.plans.catalog import QUERIES
from random_sampling_based_approximate_mapreduce_spark.sources.tables import load


def _run(name, spark, sf_dir):
    return QUERIES[name].spark(spark, sf_dir)


class TestRegression:
    def test_matches_numpy_lstsq(self, spark, sf_correct_dir):
        import numpy as np

        rows = _run("price_quantity_regression", spark, sf_correct_dir).collect()
        assert len(rows) == 25  # 25 brands
        probe = rows[0]
        p = load(spark, sf_correct_dir, "part").where(F.col("p_brand") == probe.p_brand)
        xy = (
            load(spark, sf_correct_dir, "lineitem")
            .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
            .select("l_quantity", "l_extendedprice")
            .collect()
        )
        x = np.array([r.l_quantity for r in xy])
        y = np.array([r.l_extendedprice for r in xy])
        slope, intercept = np.polyfit(x, y, 1)
        assert abs(probe.slope - slope) < 1e-3 * max(1.0, abs(slope))
        assert abs(probe.intercept - intercept) < 1e-2 * max(1.0, abs(intercept))
        r = np.corrcoef(x, y)[0, 1]
        assert abs(probe.r2 - r * r) < 1e-4
        assert probe.n_lines == len(xy)

    def test_r2_in_unit_interval(self, spark, sf_correct_dir):
        # the synthetic extendedprice is near-independent of quantity, so
        # slopes straddle zero — r2 bounds are the data-free invariant
        for r in _run("price_quantity_regression", spark, sf_correct_dir).collect():
            assert 0.0 <= r.r2 <= 1.0 + 1e-9


class TestEmbeddingDimStats:
    def test_matches_pandas_moments(self, spark, sf_correct_dir):
        import numpy as np

        rows = {r.dim: r for r in _run("embedding_dim_stats", spark, sf_correct_dir).collect()}
        assert set(rows) == set(range(64))
        mat = np.array(
            [r.embedding for r in load(spark, sf_correct_dir, "embeddings").collect()],
            dtype=np.float64,
        )
        for d in (0, 7, 63):
            # the engine quantizes inputs to 6dp decimals and truncates
            # outputs at 6dp -> compare within that granularity
            assert abs(rows[d].mean - mat[:, d].mean()) < 2e-6
            assert abs(rows[d].std - mat[:, d].std()) < 2e-6
            assert rows[d].n == mat.shape[0]

    def test_all_dims_populated(self, spark, sf_correct_dir):
        for r in _run("embedding_dim_stats", spark, sf_correct_dir).collect():
            assert r.std > 0  # real spread in every dimension


class TestPSI:
    def test_terms_match_hand_psi_and_shares_sum(self, spark, sf_correct_dir):
        rows = _run("events_value_psi", spark, sf_correct_dir).collect()
        tr = sum(r.n_ref for r in rows)
        tc = sum(r.n_cur for r in rows)
        p_sum = sum(r.p_ref for r in rows)
        q_sum = sum(r.p_cur for r in rows)
        assert abs(p_sum - 1.0) < 1e-4 and abs(q_sum - 1.0) < 1e-4
        for r in rows:
            if r.n_ref > 0 and r.n_cur > 0:
                p, q = r.n_ref / tr, r.n_cur / tc
                assert abs(r.psi_term - round((p - q) * math.log(p / q), 6)) < 1e-9
            else:
                assert r.psi_term is None
        # identically-distributed halves -> tiny PSI
        psi = sum(r.psi_term for r in rows if r.psi_term is not None)
        assert psi < 0.1

    def test_detects_injected_drift(self, spark, tmp_path):
        # Shift the second half's distribution hard; PSI must exceed the
        # 0.25 action threshold.
        import datetime as dt

        rows = []
        for i in range(2000):
            ref_ts = dt.datetime(2024, 1, 5) + dt.timedelta(seconds=i)
            cur_ts = dt.datetime(2024, 1, 25) + dt.timedelta(seconds=i)
            rows.append((i, ref_ts, i % 50, "view", float(i % 100), "{}"))
            rows.append((i + 10_000, cur_ts, i % 50, "view", 300.0 + (i % 100), "{}"))
        df = spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
        )
        df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
        out = _run("events_value_psi", spark, str(tmp_path)).collect()
        psi = sum(r.psi_term for r in out if r.psi_term is not None)
        one_sided = [r for r in out if r.psi_term is None]
        # the shifted mass lands in buckets the reference never had ->
        # either huge finite terms or one-sided buckets, both flagged
        assert psi > 0.25 or len(one_sided) >= 2


class TestStreamingPSI:
    def test_stream_equals_batch(self, spark, sf_correct_dir):
        batch = {
            (r.bucket, r.n_ref, r.n_cur, r.psi_term)
            for r in _run("events_value_psi", spark, sf_correct_dir).collect()
        }
        stream = {
            (r.bucket, r.n_ref, r.n_cur, r.psi_term)
            for r in _run("streaming_value_psi", spark, sf_correct_dir).collect()
        }
        assert stream == batch  # complete-mode emission = batch result


class TestChi2:
    def test_matches_scipy_contingency(self, spark, sf_correct_dir):
        import numpy as np

        rows = _run("events_type_hour_chi2", spark, sf_correct_dir).collect()
        assert len(rows) == 5 * 24
        obs: dict = {}
        for r in rows:
            obs[(r.event_type, r.hod)] = r.obs
        types = sorted({t for t, _ in obs})
        table = np.array([[obs[(t, h)] for h in range(24)] for t in types], dtype=float)
        try:
            from scipy.stats import chi2_contingency

            chi2, _, dof, expected = chi2_contingency(table, correction=False)
        except ImportError:
            # scipy absent: recompute by hand
            rt = table.sum(axis=1, keepdims=True)
            ct = table.sum(axis=0, keepdims=True)
            expected = rt @ ct / table.sum()
            chi2 = ((table - expected) ** 2 / expected).sum()
            dof = (table.shape[0] - 1) * (table.shape[1] - 1)
        got = sum(r.chi2_term for r in rows)
        assert abs(got - chi2) < 1e-3
        # uniform synthetic traffic: independence should NOT be rejected
        # wildly (chi2 ~ dof scale, not orders beyond)
        assert got < 10 * dof

    def test_expected_margins_consistent(self, spark, sf_correct_dir):
        rows = _run("events_type_hour_chi2", spark, sf_correct_dir).collect()
        tot_obs = sum(r.obs for r in rows)
        tot_exp = sum(r.expected for r in rows)
        assert abs(tot_exp - tot_obs) < 1e-2  # expected margins conserve N


class TestTokenEntropy:
    def test_matches_hand_entropy(self, spark, sf_correct_dir):
        import math

        from random_sampling_based_approximate_mapreduce_spark.sources.tables import load

        rows = {r.lang: r for r in _run("docs_token_entropy_by_lang", spark, sf_correct_dir).collect()}
        assert rows
        # recompute one language from the exact word counts
        lang = sorted(rows)[0]
        docs = load(spark, sf_correct_dir, "documents").where(F.col("lang") == lang)
        from random_sampling_based_approximate_mapreduce_spark.functions import text as T

        tok = (
            T.drop_digit_lines(docs.select("text"), "text")
            .select(F.explode_outer(T.words("text")).alias("word"))
            .where(F.length("word") > 0)
            .where(~F.col("word").rlike("^[0-9]+$"))
            .groupBy("word")
            .count()
            .collect()
        )
        n = sum(r["count"] for r in tok)
        h = -sum((r["count"] / n) * math.log(r["count"] / n) for r in tok)
        got = rows[lang]
        assert got.n_tokens == n and got.vocab_size == len(tok)
        assert abs(got.token_entropy - h) < 1e-4
        for r in rows.values():
            # a degenerate single-token slice has true entropy 0
            assert 0 <= r.token_entropy <= math.log(max(r.vocab_size, 1)) + 1e-9


class TestLangIdEval:
    def test_confusion_identities(self, spark, sf_correct_dir):
        from random_sampling_based_approximate_mapreduce_spark.sources.tables import load

        rows = {r.cls: r for r in _run("lang_id_eval", spark, sf_correct_dir).collect()}
        n_docs = load(spark, sf_correct_dir, "documents").count()
        # both margins partition the corpus
        assert sum(r.n_labeled for r in rows.values()) == n_docs
        assert sum(r.n_predicted for r in rows.values()) == n_docs
        for r in rows.values():
            assert r.n_correct <= min(r.n_labeled, r.n_predicted)
            if r.precision is not None and r.recall is not None and r.f1 is not None:
                # exact-simplification F1 == harmonic mean of P and R
                p, rec = r.n_correct / r.n_predicted, r.n_correct / r.n_labeled
                if p + rec > 0:
                    assert abs(r.f1 - 2 * p * rec / (p + rec)) < 1e-6
        # the marker heuristic only fires for languages in its marker
        # list; on this synthetic corpus that is effectively English —
        # the honest invariant is that its STRONGEST class beats chance
        # (the eval query exists precisely to expose the weak classes:
        # de/zh rows show n_predicted=0, recall 0.0)
        labeled = [r for r in rows.values() if r.n_labeled > 0 and r.recall is not None]
        assert labeled and max(r.recall for r in labeled) > 0.3
