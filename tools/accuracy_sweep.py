#!/usr/bin/env python
"""The reference's headline experiment, reproduced on the engine.

The reference's methodology (README.md:48, rand*.sh, RSMRResultComparator):
run the same aggregation at ratio 1.0 (exact) and at a grid of sampling
ratios, then report per ratio
  - wall-clock vs the exact run (their claim: time reduction ~ 1 - r,
    up to 97.5% / ~40x at GB scale),
  - the PREDICTED statistical error bound (A4, RandomSamplingUtil.java:
    376-378),
  - the ACTUAL data error (relative L1 of HT-scaled counts vs exact,
    RSMRResultComparator.java:66-82) — accept when actual <= predicted.

HONESTY NOTE the reference glosses over: its predicted bound (A4) is a
GLOBAL-proportion bound at p=0.5; the measured data error is a GROUPED
relative-L1 that sums per-group errors, which for K groups of ~n/K
sampled rows each scales like sqrt(K/n) — materially larger than the
global bound at small ratios (e.g. log_host at r=0.01: predicted 0.03,
actual ~0.18 across 50 hosts). The sweep prints both and flags the
mismatch ('N' rows) instead of hiding it; per-group CIs
(SampledFrame.approx_count(ci=True)) are the honest per-key tool.

Usage:
  python tools/accuracy_sweep.py [--sf /root/testdata/sf0.1]
      [--ratios 1.0,0.5,0.25,0.1,0.01] [--query word_count|log_host|events]
      [--all] [--out ACCURACY_r06.json] [--gate]

Prints one human table and one JSON line per query.

Per-round ratchet (VERDICT r5 item 3): ``--all --out ACCURACY_r{N}.json
--gate`` runs the full reference grid (README.md:48 ratios) over all three
experiments and commits the numbers as a round artifact, exiting nonzero
if any gate fails. Two error columns per run, because they bound
DIFFERENT estimands:

- ``actual_err`` — the reference's measured metric: grouped relative L1
  of HT-scaled counts vs exact (RSMRResultComparator.java:66-82). The
  reference accepts it against the GLOBAL bound, which the HONESTY NOTE
  shows is the wrong yardstick for grouped error; the gate instead uses
  the CORRECT closed form for its expectation under ROW-level
  Bernoulli(r): one kept row contributes ALL its occurrences of a key
  (a line holds repeated words), so per-group count error is
  ~N(0, (1-r)/r * M2_g) with M2_g = sum_rows m^2 — NOT N_g, which
  understates word_count's bound ~2.7x (review r9: the uncorrected gate
  passed on luck at 2.69-2.77x of a 3x bound) — and
  E[relL1] = sqrt(2/pi) * sum_g sqrt(Var_g) / N_total
  (``expected_grouped_rel_l1``, one definition for all families). Gated
  at ``actual_err <= 3 * expected_grouped_err``; this IS the artifact's
  ``ok`` column (VERDICT r8: ``ok`` must gate on the metric actually
  being measured). ``global_bound_ok`` records the reference's OWN
  accept rule, actual <= predicted, where predicted is A4's GLOBAL
  proportion bound (RandomSamplingUtil.java:376-378; rand*.sh loop) —
  expect it false in most cells, because A4 bounds only the global
  count proportion, never grouped error; its job is to show exactly
  where the reference's yardstick breaks, and nothing gates on it.
- ``low_support`` (round 11, VERDICT r10 item 2: the grid now reaches
  the reference's r=0.001 operating point) — a run is marked
  low-support when the sample is too thin for the gated bounds to be
  meaningful: expected kept rows (total * r) < 50, or NO group clears
  the z-test's N_g*r >= 5 support floor. Such runs are measured and
  recorded (the wall-clock and error columns are still real data) but
  EXCLUDED from the gate with the reason stated — gating a
  normal-approximation bound on a ~6-row sample would be noise
  theater in either direction.
- ``max_share_z`` — per-group SHARE errors standardized by their own
  binomial std sqrt(p(1-p)(1-r)/n_total); the gate bounds the max over
  groups at 4.5 (P(|Z|>4.5) ~ 6.8e-6 two-sided: Bonferroni-safe at 95%
  up to ~7,400 tested groups; the sweeps test < 200). Groups with
  expected kept count N_g*r < 5 are excluded from the z max
  (``n_share_z_excluded``) — the normal approximation is invalid there
  and a surviving hapax at r=0.01 would score z ~ 10 spuriously; the
  grouped bound still covers their absolute error. This is the estimand
  A4's p=0.5 proportion bound actually covers; the raw
  ``max_share_err`` is recorded alongside.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from random_sampling_based_approximate_mapreduce_spark.functions import text as T  # noqa: E402
from random_sampling_based_approximate_mapreduce_spark.operators.evaluate import rel_l1_error  # noqa: E402
from random_sampling_based_approximate_mapreduce_spark.sampling.config import SamplingConfig  # noqa: E402
from random_sampling_based_approximate_mapreduce_spark.sampling.sampled_frame import SampledFrame  # noqa: E402
from random_sampling_based_approximate_mapreduce_spark.session import get_spark  # noqa: E402
from random_sampling_based_approximate_mapreduce_spark.sources.tables import ensure_parallelism, load  # noqa: E402


def expected_grouped_rel_l1(group_vars, total: float) -> float:
    """E[grouped rel-L1] = sqrt(2/pi) * sum_g sqrt(Var_g) / total — the
    folded-normal expectation of the comparator metric, ONE definition
    shared by every sweep family (review r9: the hand-expanded formula
    lived in three places, and a correction must land once)."""
    return (2.0 / math.pi) ** 0.5 * sum(v ** 0.5 for v in group_vars) / float(total)


def _folded_normal_mean(mu: float, sigma: float) -> float:
    """E|X| for X ~ N(mu, sigma^2)."""
    if sigma <= 0.0:
        return abs(mu)
    return sigma * (2.0 / math.pi) ** 0.5 * math.exp(
        -mu * mu / (2.0 * sigma * sigma)
    ) + abs(mu) * math.erf(abs(mu) / (sigma * 2.0 ** 0.5))


def expected_grouped_rel_l1_at_achieved(
    group_stats, total: float, n: int, r: float, r_hat: float
) -> float:
    """The cluster sweep's error model evaluated AT THE ACHIEVED pick
    (VERDICT r13 "what's wrong" #2): with few expected clusters the
    realized acceptance fraction r_hat = m/n wanders far from the
    nominal r, and the unconditional model is then being tested off its
    operating point. CONDITIONAL on the realized pick size m = r_hat*n
    (given the count, independent Bernoulli picks are a uniform size-m
    subset), the HT estimate — which still scales by the design's 1/r,
    the weight that keeps it unconditionally unbiased — has

        E[T^_g | m]  = (r_hat/r) * T_g          (bias T_g*(r_hat/r - 1))
        Var(T^_g|m)  = m * (1 - m/n) * S2_g / r^2   (SRSWOR sum variance)

    with S2_g the population variance of the per-cluster counts t_{g,c}.
    Per-group expected |error| is the folded-normal mean at that
    (mu, sigma); the grouped rel-L1 sums them over total. At r_hat == r
    the bias vanishes and this reduces to ~the unconditional form. The
    r13 zstd r=0.025 cell is the worked example: achieved 0.0087 vs
    nominal 0.025 gives bias factor |1 - 0.349| = 0.651 — and the
    measured error was 0.653; the unconditional model said 0.305.
    ``group_stats`` yields (T_g, sum_c t_{g,c}^2) pairs."""
    if not 0.0 < r <= 1.0 or not 0.0 < r_hat <= 1.0:
        raise ValueError(f"fractions must be in (0, 1]: r={r}, r_hat={r_hat}")
    m = r_hat * n
    acc = 0.0
    for t_g, t2_g in group_stats:
        mu = t_g * (r_hat / r - 1.0)
        s2 = max(0.0, (t2_g - t_g * t_g / n) / (n - 1)) if n > 1 else 0.0
        var = m * max(0.0, 1.0 - m / n) * s2 / (r * r)
        acc += _folded_normal_mean(mu, var ** 0.5)
    return acc / float(total)


# Each experiment: (table, key-count pipeline, per-row-multiplicity m2
# pipeline or None). The pipeline runs UNDER the sample (transform of the
# SampledFrame), so the sampled run only pays parse/explode cost for
# accepted rows — the reference's scan-level-sampling speedup shape
# (SURVEY.md §4.1).
#
# m2: the sample is ROW-level Bernoulli, so when one base row contributes
# m occurrences of a key (word_count: a line holds repeated words), those
# occurrences are perfectly correlated and Var(T^_g) = (1-r)/r * sum_rows
# m^2 — NOT (1-r)/r * N_g (review r9: the uncorrected form understated
# word_count's bound ~2.7x and the gate passed on luck). Experiments
# whose rows contribute exactly one occurrence (log_host, events) pass
# None: sum m^2 == N_g there.
def _word_count(df):
    return (
        T.explode_words(T.drop_digit_lines(df, "text"), "text")
        .groupBy(F.col("word").alias("key"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _word_count_m2(df):
    # explode_words projects to the token alone, so carry the row id
    # through a manual explode with the same tokenizer + filters
    kept = T.drop_digit_lines(df.withColumn("__rid", F.monotonically_increasing_id()), "text")
    tokens = kept.select(
        "__rid", F.explode_outer(T.words("text")).alias("key")
    ).where(~F.col("key").rlike("^[0-9]+$"))
    per_row = tokens.groupBy("__rid", "key").agg(F.count(F.lit(1)).alias("m"))
    return per_row.groupBy("key").agg(F.sum(F.col("m") * F.col("m")).alias("m2"))


def _log_host(df):
    from random_sampling_based_approximate_mapreduce_spark.sources.apache_log import (
        parse_apache_log,
        synthesize_raw_log,
    )

    return (
        parse_apache_log(synthesize_raw_log(df))
        .groupBy(F.col("host").alias("key"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _events(df):
    return df.groupBy(F.col("event_type").alias("key")).agg(F.count(F.lit(1)).alias("cnt"))


EXPERIMENTS = {
    "word_count": ("documents", _word_count, _word_count_m2),
    "log_host": ("events", _log_host, None),
    "events": ("events", _events, None),
}

# Estimator-family sweeps beyond plain Bernoulli (VERDICT r7 item 2):
# stratified weighted counts and the sampled-join composition. Each has
# its own closed-form expected grouped rel-L1, derived from the same
# design variance its CI estimator uses, so the sweep ratchets the
# THEORY the estimators ship with against measured spread.
# bgzf_runs_word_count (round 13, VERDICT r12 item 3): the contiguous-run
# pick changes the sampling unit from a 64 KiB block to a K-block
# cluster, raising per-cluster correlation — HT stays unbiased but the
# variance story needs a measured cell, not just the ownership proof.
FAMILY_SWEEPS = (
    "stratified_daily",
    "joined_pairs",
    "bgzf_runs_word_count",
    "zstd_runs_word_count",
    # round 15 (VERDICT r14 item 2): the log workload's error under block
    # pick — grouped rel-L1 on per-host counts, plus the hack task's
    # rare-key drill-down exercising the min_support honesty path
    "bgzf_runs_log_host",
    "bgzf_runs_log_hack",
    # round 15 extra: the bzip2 range rung — the codec with the
    # strongest measured log-family speedups (LOG_BZIP2_COLD_x1000) —
    # carries a gated error cell on the same workload, so its speed
    # story and error story sit on the same rung
    "bzip2_runs_log_host",
)


def sweep_stratified(spark, sf: str, ratios: list[float]) -> dict:
    """Daily event counts from a STRATIFIED sample (rare event types
    oversampled 10x), estimated with weighted_count. Expected grouped
    rel-L1 under independent per-stratum Bernoulli(r_h):
    Var(est_g) = sum_h N_gh (1-r_h)/r_h, E|err_g| = sqrt(2/pi * Var_g),
    E[relL1] = sum_g E|err_g| / N_total — the exact closed form for the
    estimand weighted_count's CI bounds (HT variance, VERDICT r5/r6)."""
    from random_sampling_based_approximate_mapreduce_spark.sampling.sampled_frame import (
        stratified_sample,
        weighted_count,
    )

    base = ensure_parallelism(
        load(spark, sf, "events").select(
            "event_type", F.to_date("ts").alias("d")
        )
    ).localCheckpoint()
    t0 = time.monotonic()
    exact_gh = {
        (r["d"], r["event_type"]): r["c"]
        for r in base.groupBy("d", "event_type").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    base_wall = time.monotonic() - t0
    type_totals: dict = {}
    for (_, h), c in exact_gh.items():
        type_totals[h] = type_totals.get(h, 0) + c
    total = sum(type_totals.values())
    rare = {h for h, c in type_totals.items() if c / total < 0.05}
    exact_g: dict = {}
    for (g, _), c in exact_gh.items():
        exact_g[g] = exact_g.get(g, 0) + c

    print(f"query=stratified_daily sf={sf} groups={len(exact_g)} "
          f"strata={len(type_totals)} rare={sorted(rare)} exact_wall={base_wall:.3f}s")
    print(f"{'ratio':>7} {'wall_s':>8} {'actual_err':>11} {'exp_grouped':>12} {'gok':>4}")
    out = {"query": "stratified_daily", "sf": sf,
           "exact_wall_s": round(base_wall, 3), "runs": []}
    for r in ratios:
        if r >= 1.0:
            continue
        fracs = {h: (min(1.0, 10.0 * r) if h in rare else r) for h in type_totals}
        t0 = time.monotonic()
        w = stratified_sample(base, "event_type", fracs, seed=123)
        got = {row["d"]: row["est_count"]
               for row in weighted_count(w, "d").collect()}
        wall = time.monotonic() - t0
        err = sum(abs(got.get(g, 0.0) - c) for g, c in exact_g.items()) / total
        expected = expected_grouped_rel_l1(
            (
                sum(
                    exact_gh.get((g, h), 0) * (1.0 - fracs[h]) / fracs[h]
                    for h in type_totals
                )
                for g in exact_g
            ),
            total,
        )
        ok = expected == 0.0 or err <= 3.0 * expected
        kept_expected = sum(type_totals[h] * fracs[h] for h in type_totals)
        low_support = (
            f"expected kept rows {kept_expected:.1f} < 50"
            if kept_expected < 50.0
            else None
        )
        print(f"{r:>7} {wall:>8.3f} {err:>11.5f} {expected:>12.5f} "
              f"{'y' if ok else 'N'}{' (low support)' if low_support else ''}")
        out["runs"].append(
            {"ratio": r, "wall_s": round(wall, 3), "actual_err": round(err, 6),
             "expected_grouped_err": round(expected, 6), "ok": bool(ok),
             "low_support": low_support}
        )
    print(json.dumps(out))
    return out


def sweep_joined(spark, sf: str, ratios: list[float]) -> dict:
    """Per-priority pair counts from joining orders (Bernoulli r1=0.5)
    to lineitem (Bernoulli r2=grid), HT-scaled by 1/(r1*r2). Expected
    grouped rel-L1 from the DESIGN variance the cluster CI estimates
    (sampled_frame.join_sampled): pairs sharing a kept order are
    correlated, so Var(T_g) = [r1r2(1-r1r2) N_g + r1r2^2(1-r1) M2_g]
    / (r1r2)^2 with M2_g = sum_orders (m^2 - m); the right-side excess
    is zero (each lineitem row joins exactly one order)."""
    r1 = 0.5
    orders = ensure_parallelism(
        load(spark, sf, "orders").select("o_orderkey", "o_orderpriority")
    ).localCheckpoint()
    li = ensure_parallelism(
        load(spark, sf, "lineitem").select("l_orderkey")
    ).localCheckpoint()
    t0 = time.monotonic()
    per_order = (
        orders.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderpriority", "o_orderkey")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    stats_rows = (
        per_order.groupBy("o_orderpriority")
        .agg(
            F.sum("m").alias("n"),
            F.sum(F.col("m") * F.col("m") - F.col("m")).alias("m2"),
        )
        .collect()
    )
    base_wall = time.monotonic() - t0
    exact_g = {r["o_orderpriority"]: r["n"] for r in stats_rows}
    m2_g = {r["o_orderpriority"]: r["m2"] for r in stats_rows}
    total = sum(exact_g.values())

    print(f"query=joined_pairs sf={sf} r1={r1} groups={len(exact_g)} "
          f"pairs={total} exact_wall={base_wall:.3f}s")
    print(f"{'ratio':>7} {'wall_s':>8} {'actual_err':>11} {'exp_grouped':>12} {'gok':>4}")
    out = {"query": "joined_pairs", "sf": sf, "r1": r1,
           "exact_wall_s": round(base_wall, 3), "runs": []}
    for r2 in ratios:
        if r2 >= 1.0:
            continue
        t0 = time.monotonic()
        # through the SHIPPED estimator path (SampledFrame.join_sampled
        # composing the ratios + approx_count's HT scale-up), not a
        # hand-rolled df.sample + 1/(r1*r2) re-derivation — review r9:
        # the sweep claimed to ratchet the library's join-sampling
        # theory while never executing its code, so an estimator
        # regression could not turn this artifact red
        so = SampledFrame.from_dataframe(
            orders, SamplingConfig(ratio=r1, seed=123), observe=False
        )
        sl = SampledFrame.from_dataframe(
            li, SamplingConfig(ratio=r2, seed=777), observe=False
        )
        joined = so.join_sampled(sl, F.col("o_orderkey") == F.col("l_orderkey"))
        got = {
            row["o_orderpriority"]: row["est_count"]
            for row in joined.approx_count("o_orderpriority").collect()
        }
        wall = time.monotonic() - t0
        err = sum(abs(got.get(g, 0.0) - c) for g, c in exact_g.items()) / total
        rr = r1 * r2
        expected = expected_grouped_rel_l1(
            (
                (rr * (1.0 - rr) * exact_g[g]
                 + r1 * r2 * r2 * (1.0 - r1) * m2_g[g]) / (rr * rr)
                for g in exact_g
            ),
            total,
        )
        ok = err <= 3.0 * expected
        kept_expected = total * r1 * r2
        low_support = (
            f"expected kept pairs {kept_expected:.1f} < 50"
            if kept_expected < 50.0
            else None
        )
        print(f"{r2:>7} {wall:>8.3f} {err:>11.5f} {expected:>12.5f} "
              f"{'y' if ok else 'N'}{' (low support)' if low_support else ''}")
        out["runs"].append(
            {"ratio": r2, "wall_s": round(wall, 3), "actual_err": round(err, 6),
             "expected_grouped_err": round(expected, 6), "ok": bool(ok),
             "low_support": low_support}
        )
    print(json.dumps(out))
    return out


# the run-pick family's fixed operating points: the cells the cold-I/O
# grid measured for the knob (docs/SCALE.md round-12 addendum) — below
# them the pick floor makes singletons the honest regime and the knob
# is off by guidance (suggest_run_blocks returns 1 under r=0.01)
_BGZF_RUN_RATIOS = (0.1, 0.025)


_HACK_MIN_SUPPORT = 5


def sweep_cluster_runs(
    spark, sf: str, codec: str = "bgzf", workload: str = "word_count",
    copies: int | None = None,
) -> dict:
    """A keyed aggregate through a CONTIGUOUS-RUN cluster sampler
    (round 13, VERDICT r12 item 3; zstd twin same round; log workloads
    round 15, VERDICT r14 item 2): the run pick changes the sampling
    unit from a single block/frame to a K-unit cluster, which raises
    within-cluster correlation — the HT estimate stays unbiased, but
    its variance is the CLUSTER design variance
        Var(T^_g) = (1-r)/r * sum_runs t_{g,c}^2,
    t_{g,c} = the exact count of key g in run c (clusters accepted
    independently with probability r; a kept cluster contributes ALL
    its occurrences, perfectly correlated — the cluster twin of the
    row-Bernoulli m2 term in sweep_query). This sweep runs the SHIPPED
    run-pick read path at the knob's operating points
    (_BGZF_RUN_RATIOS; --ratios does not apply to this family) and
    gates actual grouped rel-L1 <= 3x the model EVALUATED AT THE
    ACHIEVED pick (expected_grouped_rel_l1_at_achieved: conditional on
    the realized picked-cluster count, where the HT bias (r_hat/r - 1)
    dominates when the draw lands off-nominal — VERDICT r13 "what's
    wrong" #2; the unconditional closed form stays in the cell as
    reference), with the same low-support honesty as every other
    family — here the support that matters is the number of EXPECTED
    PICKED CLUSTERS (n_runs * r < 5 leaves the normal approximation
    nothing to stand on, however many rows the corpus has).

    Workloads:

    - ``word_count``: documents.text replicated x``copies`` with a
      letters-only per-copy tag word (cluster diversity; letters
      because the word pipeline drops digit lines).
    - ``log_host``: the reference's host-count task
      (RandomizedApacheLogAnalysis.java:76-80) over the synthesized
      access log replicated x``copies`` — raw combined-format lines on
      disk, the regex parse runs UNDER the block pick exactly as the
      shipped log_host_gzip_exact path does.
    - ``log_hack``: the hack-probe task (reference :56-75) at its
      rare-key drill-down (host, probe path): at the reference's own
      host granularity the synthesized corpus has no rare groups
      (~uniform counts), so the drill-down key is where per-group
      support actually thins — the canonical rare-key family
      (SURVEY.md §7). The cell goes through the SHIPPED estimator
      (SampledFrame.transform -> approx_count(min_support=5)) and
      records the supported/flagged split: per-group rel-error among
      low_support-flagged groups vs supported ones (recorded, never
      gated — flagged estimates are exactly the ones the engine tells
      users not to trust), plus a gated wiring check that the shipped
      flag equals n_sampled < min_support on every group.

    Layout: ~256 KiB clusters at the codec's K (bgzf: 16 KiB blocks x
    run_blocks=16; zstd: 64 KiB frames x run_frames=4). Round 15 grew
    the default layouts ~4x (word_count copies 48 -> 192, ~1,100
    clusters; log copies 24, ~890 clusters) so the realized pick at
    r=0.025 sits within ~1 binomial sigma ~ 20%% of nominal (VERDICT
    r14 "what's wrong" #3 — the conditional gate stays as the safety
    net). Per-cluster exact counts come through the engine's OWN run
    reader, so the oracle composes the same ownership algebra the
    sampler executes — never a re-derivation that could drift at
    seams. Both log workloads share one published layout (the build
    key excludes the workload's aggregation)."""
    import hashlib
    import shutil
    import tempfile

    from random_sampling_based_approximate_mapreduce_spark.functions import text as TT
    from random_sampling_based_approximate_mapreduce_spark.sources.apache_log import (
        HACK_PREFIXES,
        parse_apache_log,
        synthesize_raw_log,
    )
    from random_sampling_based_approximate_mapreduce_spark.sources.tables import (
        canonicalize_part_names,
        ensure_layout,
    )

    if codec == "bgzf":
        from random_sampling_based_approximate_mapreduce_spark.sources.bgzf_text import (
            convert_text_to_bgzf,
            pick_blocks,
            read_block_run_lines,
            read_text_bgzf_sampled,
            scan_blocks,
        )

        family = f"bgzf_runs_{workload}"
        run_units = 16
        layout_tag = "bgzfruns"
        _convert = lambda tmp, d: convert_text_to_bgzf(  # noqa: E731
            tmp, d, block_bytes=16 * 1024
        )
        _scan = scan_blocks
        _read_run = read_block_run_lines
        _read_sampled = lambda layout, r, seed=123: read_text_bgzf_sampled(  # noqa: E731
            spark, layout, r, seed=seed, run_blocks=run_units
        )
        _pick = lambda layout, r, seed=123: pick_blocks(  # noqa: E731
            layout, r, seed=seed, run_blocks=run_units
        )
    elif codec == "zstd":
        from random_sampling_based_approximate_mapreduce_spark.sources.zstd_seekable_text import (
            convert_text_to_seekable,
            parse_seek_table,
            pick_frames,
            read_frame_run_lines,
            read_text_zstd_sampled,
        )

        family = f"zstd_runs_{workload}"
        run_units = 4
        layout_tag = "zstdruns"
        _convert = lambda tmp, d: convert_text_to_seekable(  # noqa: E731
            tmp, d, frame_bytes=64 * 1024
        )
        _scan = parse_seek_table
        _read_run = read_frame_run_lines
        _read_sampled = lambda layout, r, seed=123: read_text_zstd_sampled(  # noqa: E731
            spark, layout, r, seed=seed, run_frames=run_units
        )
        _pick = lambda layout, r, seed=123: pick_frames(  # noqa: E731
            layout, r, seed=seed, run_frames=run_units
        )
    elif codec == "bzip2":
        import collections

        from random_sampling_based_approximate_mapreduce_spark.sources.bzip2_block_text import (
            pick_ranges,
            read_range_lines,
            read_text_bzip2_sampled,
        )

        family = f"bzip2_runs_{workload}"
        # a compressed RANGE is already a contiguous cluster — the run
        # knob IS the range size, so the unit grouping stays 1; 64 KiB
        # ranges keep the cluster count in the same regime as the other
        # rungs at this corpus size
        run_units = 1
        range_bytes = 64 * 1024
        layout_tag = "bz2runs"

        def _convert(tmp: str, d: str) -> None:
            # Hadoop-Bzip2Codec parts via Spark's own writer (the same
            # recipe family as the log_host_bzip2_exact prover layout —
            # real codec output, not Python bz2); each text part is a
            # single split, so the mapping is 1:1 and deterministic,
            # and canonical names keep path-seeded picks stable
            spark.read.text(tmp).write.mode("overwrite").option(
                "compression", "bzip2"
            ).text(d)
            canonicalize_part_names(d)

        _RangeEntry = collections.namedtuple("_RangeEntry", "d_size")

        def _scan(p: str):
            # ranges are file-size arithmetic — fabricate one unit per
            # 64 KiB span so the generic cluster loop applies unchanged
            size = os.path.getsize(p)
            return [_RangeEntry(1)] * max(1, -(-size // range_bytes))

        def _read_run(p: str, entries, b0: int, b1: int):
            size = os.path.getsize(p)
            return read_range_lines(
                p, b0 * range_bytes, min(size, b1 * range_bytes)
            )

        _read_sampled = lambda layout, r, seed=123: read_text_bzip2_sampled(  # noqa: E731
            spark, layout, r, range_bytes=range_bytes, seed=seed
        )

        def _pick(layout: str, r: float, seed: int = 123):
            picked, pb, tb = pick_ranges(layout, r, range_bytes, seed)
            return [(f, s // range_bytes) for f, s, _ in picked], pb, tb

    else:
        raise ValueError(f"unknown run-sweep codec {codec!r}")

    if workload == "word_count":
        copies = 192 if copies is None else copies
        # ':canon1' moves the key with the canonical-part-names recipe
        corpus_key = f"{sf}:{copies}:accruns:canon1"

        def _build(d: str) -> None:
            tmp = tempfile.mkdtemp(prefix="rsmr_accruns_src_")
            try:
                (
                    spark.range(copies)
                    .repartition(8)
                    .select(F.col("id").alias("__c"))
                    .crossJoin(
                        F.broadcast(
                            spark.read.parquet(
                                os.path.join(sf, "documents.parquet")
                            ).select("text")
                        )
                    )
                    .select(
                        F.concat(
                            F.col("text"),
                            F.lit(" tag"),
                            # 3 hex chars -> letters (the pipeline drops
                            # any line containing a digit): ~4k distinct
                            # tag words spread across clusters
                            F.translate(
                                F.substring(
                                    F.md5(
                                        F.concat(
                                            F.col("text"),
                                            F.col("__c").cast("string"),
                                        )
                                    ),
                                    1,
                                    3,
                                ),
                                "0123456789",
                                "ghijklmnop",
                            ),
                        ).alias("value")
                    )
                    .write.mode("overwrite")
                    .text(tmp)
                )
                canonicalize_part_names(tmp)  # stable names -> stable picks
                _convert(tmp, d)
            finally:
                shutil.rmtree(tmp, ignore_errors=True)

    elif workload in ("log_host", "log_hack"):
        copies = 24 if copies is None else copies
        # key deliberately excludes the workload: host and hack cells
        # aggregate the SAME published byte layout differently
        corpus_key = f"{sf}:{copies}:acclog:canon1"

        def _build(d: str) -> None:
            tmp = tempfile.mkdtemp(prefix="rsmr_acclog_src_")
            try:
                (
                    spark.range(copies)
                    .repartition(8)
                    .select(F.col("id").alias("__c"))
                    .crossJoin(
                        F.broadcast(
                            synthesize_raw_log(
                                spark.read.parquet(
                                    os.path.join(sf, "events.parquet")
                                )
                            )
                        )
                    )
                    .select(F.col("line").alias("value"))
                    .write.mode("overwrite")
                    .text(tmp)
                )
                canonicalize_part_names(tmp)  # stable names -> stable picks
                _convert(tmp, d)
            finally:
                shutil.rmtree(tmp, ignore_errors=True)

    else:
        raise ValueError(f"unknown run-sweep workload {workload!r}")

    _probe = F.col("path").rlike("^(" + "|".join(HACK_PREFIXES) + ")")

    def _keyed(df, cluster: bool):
        """(cluster?, key) rows for the workload — ONE keying definition
        shared by the per-cluster oracle and the sampled pipeline."""
        keep = ("cluster",) if cluster else ()
        if workload == "word_count":
            kept = TT.drop_digit_lines(df, "value")
            # the explode_words tokenizer with the cluster column
            # retained (explode_words itself projects to the token)
            return kept.select(
                *keep, F.explode_outer(TT.words("value")).alias("key")
            ).where(~F.col("key").rlike("^[0-9]+$"))
        parsed = parse_apache_log(df, "value", keep=keep)
        if workload == "log_hack":
            parsed = parsed.where(_probe)
            key = F.concat(F.col("host"), F.lit(" "), F.col("path"))
        else:
            key = F.col("host")
        return parsed.select(*keep, key.alias("key"))

    key = hashlib.md5(corpus_key.encode()).hexdigest()[:10]
    layout = ensure_layout(f"/tmp/rsmr_acc_{layout_tag}_{key}", _build)
    files = sorted(
        os.path.join(layout, f)
        for f in os.listdir(layout)
        if os.path.isfile(os.path.join(layout, f)) and not f.startswith(("_", "."))
    )

    # per-cluster exact lines through the engine's own run reader;
    # pick_map lets the ratio loop count the REALIZED picked clusters
    # (the pickers return flattened per-unit lists)
    cluster_rows = []
    pick_map: dict[tuple[str, int], str] = {}
    n_runs = 0
    for fi, p in enumerate(files):
        entries = _scan(p)
        data_idxs = [i for i, e in enumerate(entries) if e.d_size]
        for j, s in enumerate(range(0, len(data_idxs), run_units)):
            blocks = data_idxs[s : s + run_units]
            n_runs += 1
            for b in blocks:
                pick_map[(p, b)] = f"{fi}:{j}"
            for ln in _read_run(p, entries, blocks[0], blocks[-1] + 1):
                cluster_rows.append((f"{fi}:{j}", ln))
    lines_df = spark.createDataFrame(cluster_rows, schema="cluster string, value string")
    stats = (
        _keyed(lines_df, cluster=True)
        .groupBy("cluster", "key")
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy("key")
        .agg(F.sum("t").alias("n"), F.sum(F.col("t") * F.col("t")).alias("t2"))
        .collect()
    )
    exact_g = {r["key"]: r["n"] for r in stats}
    t2_g = {r["key"]: r["t2"] for r in stats}
    total = sum(exact_g.values())
    total_lines = len(cluster_rows)

    def _pipe(df):
        if workload == "word_count":
            # the SHIPPED word pipeline (the per-cluster oracle above
            # uses the cluster-retaining tokenizer twin; the ratio-1.0
            # equality check below proves them identical on this corpus)
            return (
                TT.explode_words(TT.drop_digit_lines(df, "value"), "value")
                .groupBy(F.col("word").alias("key"))
                .agg(F.count(F.lit(1)).alias("cnt"))
            )
        return _keyed(df, cluster=False).groupBy("key").agg(
            F.count(F.lit(1)).alias("cnt")
        )

    def _run(r: float, seed: int = 123):
        t0 = time.monotonic()
        sfr = _read_sampled(layout, r, seed)
        rows = _pipe(sfr.df).collect()
        return rows, time.monotonic() - t0

    # warmup (JVM + codegen + unit-scan cache), then the exact baseline
    _run(1.0)
    base_rows, base_wall = _run(1.0)
    base_counts = {r["key"]: r["cnt"] for r in base_rows}
    if base_counts != exact_g:
        sys.exit(
            f"accuracy_sweep: {family} ratio-1.0 read disagrees with the "
            "per-cluster oracle — ownership drift"
        )

    print(
        f"query={family} sf={sf} run_units={run_units} "
        f"copies={copies} groups={len(exact_g)} clusters={n_runs} "
        f"lines={total_lines} exact_wall={base_wall:.3f}s"
    )
    print(f"{'ratio':>7} {'wall_s':>8} {'speedup':>8} {'byte_rate':>10} "
          f"{'actual_err':>11} {'exp_achieved':>12} {'ok':>4}")
    out = {
        "query": family,
        "sf": sf,
        "run_units": run_units,
        "copies": copies,
        "n_clusters": n_runs,
        "exact_wall_s": round(base_wall, 3),
        "runs": [],
    }
    # multi-seed at the low-r point (round 15, VERDICT r14 "what's
    # wrong" #3): with ~n*r expected clusters one seeded draw can still
    # land >1 sigma off nominal however fine the layout, so the nominal
    # operating point is exercised by THREE independent draws, each
    # gated at its own achieved pick — the artifact then shows the
    # model tracking the error on both sides of nominal
    for r, seed in [
        (r, s)
        for r in _BGZF_RUN_RATIOS
        for s in ((123,) if r >= 0.1 else (123, 456, 789))
    ]:
        rows, wall = _run(r, seed)
        got = {row["key"]: row["cnt"] / r for row in rows}
        err = sum(abs(got.get(g, 0.0) - c) for g, c in exact_g.items()) / total
        expected = expected_grouped_rel_l1(
            ((1.0 - r) / r * t2_g[g] for g in exact_g), total
        )
        picked_list, picked_b, total_b = _pick(layout, r, seed)
        # the gate evaluates the model AT THE ACHIEVED pick (VERDICT r13
        # "what's wrong" #2): with ~n_runs*r expected clusters the
        # realized acceptance fraction wanders, and conditional on it
        # the dominant error is the HT bias (r_hat/r - 1) — the
        # unconditional closed form stays in the cell as reference
        m_picked = len({pick_map[u] for u in picked_list})
        r_hat = m_picked / n_runs
        expected_achieved = expected_grouped_rel_l1_at_achieved(
            ((exact_g[g], t2_g[g]) for g in exact_g), total, n_runs, r, r_hat
        )
        ok = err <= 3.0 * expected_achieved
        support = None
        if workload == "log_hack":
            # the min_support honesty path through the SHIPPED estimator
            # (SampledFrame.approx_count): est_count must equal the
            # manual n/r HT scale-up and low_support must equal
            # n_sampled < min_support on EVERY group (gated wiring
            # check); the supported/flagged split errors are recorded,
            # never gated — flagged estimates are the ones the engine
            # tells users not to trust, and gating them would punish
            # the flag for being right
            est_rows = (
                _read_sampled(layout, r, seed)
                .transform(lambda d: _keyed(d, cluster=False))
                .approx_count("key", min_support=_HACK_MIN_SUPPORT)
                .collect()
            )
            est = {row["key"]: row for row in est_rows}
            flags_consistent = all(
                bool(v["low_support"]) == (v["n_sampled"] < _HACK_MIN_SUPPORT)
                and abs(v["est_count"] - v["n_sampled"] / r)
                <= 1e-9 * max(1.0, abs(v["est_count"]))
                for v in est.values()
            )
            # groups the sample missed entirely are maximally low-support
            supported = {g for g in exact_g if g in est and not est[g]["low_support"]}

            def _split_err(groups):
                tot = sum(exact_g[g] for g in groups)
                if not tot:
                    return None
                return round(
                    sum(
                        abs((est[g]["est_count"] if g in est else 0.0) - exact_g[g])
                        for g in groups
                    )
                    / tot,
                    6,
                )

            support = {
                "min_support": _HACK_MIN_SUPPORT,
                "n_groups": len(exact_g),
                "n_supported": len(supported),
                "n_low_support": len(exact_g) - len(supported),
                "rel_l1_supported": _split_err(sorted(supported)),
                "rel_l1_low_support": _split_err(
                    sorted(g for g in exact_g if g not in supported)
                ),
                "support_flags_consistent": bool(flags_consistent),
            }
            ok = ok and flags_consistent
        exp_clusters = n_runs * r
        low_support = None
        if exp_clusters < 5.0:
            low_support = (
                f"expected picked clusters {exp_clusters:.1f} < 5 — the "
                "cluster-design normal approximation has no support"
            )
        elif total_lines * r < 50.0:
            low_support = f"expected kept rows {total_lines * r:.1f} < 50"
        print(
            f"{r:>7} {wall:>8.3f} {base_wall / wall:>7.2f}x "
            f"{picked_b / total_b:>10.4f} {err:>11.5f} {expected_achieved:>12.5f} "
            f"{'y' if ok else 'N'}{' (low support)' if low_support else ''}"
        )
        out["runs"].append(
            {
                "ratio": r,
                "seed": seed,
                "wall_s": round(wall, 3),
                "speedup": round(base_wall / wall, 2),
                "actual_byte_ratio": round(picked_b / total_b, 5),
                "picked_clusters": m_picked,
                "achieved_cluster_ratio": round(r_hat, 5),
                "actual_err": round(err, 6),
                "expected_grouped_err": round(expected, 6),
                "expected_err_at_achieved": round(expected_achieved, 6),
                "gate_model": "at_achieved",
                "ok": bool(ok),
                "low_support": low_support,
                **({"support": support} if support is not None else {}),
            }
        )
    print(json.dumps(out))
    return out


def run_once(spark, sf_dir: str, table: str, pipeline, ratio: float):
    base = ensure_parallelism(load(spark, sf_dir, table))
    cfg = SamplingConfig(ratio=ratio, seed=123)
    sf = SampledFrame.from_dataframe(base, cfg, observe=True)
    t0 = time.monotonic()
    counts = pipeline(sf.df)
    rows = counts.collect()  # the reference materializes part files; we collect
    wall = time.monotonic() - t0
    rep = sf.report()
    return rows, wall, rep


def sweep_query(spark, sf: str, query: str, ratios: list[float]) -> dict:
    table, pipeline, m2_fn = EXPERIMENTS[query]

    # warmup (JVM + codegen), then the exact baseline
    run_once(spark, sf, table, pipeline, 1.0)
    base_rows, base_wall, base_rep = run_once(spark, sf, table, pipeline, 1.0)
    if not base_rows:
        sys.exit(f"accuracy_sweep: exact baseline for {query} returned no rows")
    base_df = spark.createDataFrame(base_rows).select("key", F.col("cnt").cast("double"))
    base_counts = {r["key"]: r["cnt"] for r in base_rows}
    base_total = sum(base_counts.values())
    # per-group sum of squared per-row multiplicities (the Bernoulli
    # variance term under row-level sampling; see EXPERIMENTS comment)
    if m2_fn is not None:
        m2 = {
            r["key"]: r["m2"]
            for r in m2_fn(ensure_parallelism(load(spark, sf, table))).collect()
        }
    else:
        m2 = base_counts

    print(f"query={query} table={table} sf={sf} exact_wall={base_wall:.3f}s "
          f"total_records={base_rep.total_records}")
    print(f"{'ratio':>7} {'wall_s':>8} {'speedup':>8} {'actual_rate':>12} "
          f"{'predicted_err':>14} {'actual_err':>11} {'exp_grouped':>12} "
          f"{'max_share_z':>11} {'gbl':>3} {'ok':>4} {'sok':>4}")
    out = {"query": query, "sf": sf, "exact_wall_s": round(base_wall, 3), "runs": []}
    for r in ratios:
        if r >= 1.0:
            continue
        rows, wall, rep = run_once(spark, sf, table, pipeline, r)
        if rows:
            approx = spark.createDataFrame(rows).select(
                "key", (F.col("cnt") / F.lit(r)).alias("est")
            )
            err = rel_l1_error(base_df, approx, "key", exact_col="cnt", approx_col="est")
        else:
            # a legal (if extreme) outcome at tiny ratio x small input:
            # the HT estimate is 0 everywhere -> rel-L1 is exactly 1
            # (createDataFrame([]) would crash before any verdict)
            err = 1.0
        predicted = rep.achieved_error
        # the reference's own accept rule (rand*.sh + comparator loop):
        # actual <= predicted, where predicted is A4's GLOBAL proportion
        # bound (RandomSamplingUtil.java:376-378). A4 does not bound the
        # grouped rel-L1 measured here, so this flag records WHERE the
        # reference's yardstick breaks — expect false in most cells;
        # that visibility is its only job, nothing gates on it
        # (review r9: the old 3x-with-floor relaxation masked exactly
        # the failures the flag exists to expose)
        global_bound_ok = err <= predicted
        # correct expected grouped rel-L1 under row-level Bernoulli(r):
        # Var(T^_g) = (1-r)/r * sum_rows m^2 (the m2 clustering term)
        expected_grouped = expected_grouped_rel_l1(
            ((1.0 - r) / r * m2[g] for g in base_counts), base_total
        )
        grouped_ok = err <= 3.0 * expected_grouped
        # per-group share errors standardized by their binomial std.
        # Groups whose expected kept count N_g*r < 5 are excluded from
        # the z max: the normal approximation is invalid there (one kept
        # row of a hapax at r=0.01 scores z ~ sqrt((1-r)/r) ~ 10 —
        # review r9), and the grouped bound above still covers their
        # absolute error
        got = {row["key"]: row["cnt"] for row in rows}
        s_total = sum(got.values()) or 1
        max_share_err = 0.0
        max_share_z = 0.0
        n_z_excluded = 0
        for k, c in base_counts.items():
            p = c / base_total
            e = abs(got.get(k, 0) / s_total - p)
            max_share_err = max(max_share_err, e)
            if c * r < 5.0:
                n_z_excluded += 1
                continue
            denom = (p * (1 - p) * (1 - r) / max(s_total, 1)) ** 0.5
            if denom > 0:
                max_share_z = max(max_share_z, e / denom)
        # P(|Z| > 4.5) ~ 6.8e-6 two-sided: Bonferroni-safe at 95% up to
        # ~7,400 z-tested groups (the sweeps have < 200)
        share_ok = max_share_z <= 4.5
        # low-support honesty (module docstring): at r=0.001 on a small
        # corpus the kept sample can be a handful of rows — record the
        # measurement, exclude it from the gate, say why
        kept_expected = rep.total_records * r
        low_support = None
        if kept_expected < 50.0:
            low_support = (
                f"expected kept rows {kept_expected:.1f} < 50 — grouped "
                "bound is a normal approximation with no support here"
            )
        elif n_z_excluded == len(base_counts):
            low_support = (
                f"all {len(base_counts)} groups below the z-test's "
                "N_g*r >= 5 support floor"
            )
        print(f"{r:>7} {wall:>8.3f} {base_wall / wall:>7.2f}x {rep.actual_ratio:>12.4f} "
              f"{predicted:>14.5f} {err:>11.5f} {expected_grouped:>12.5f} "
              f"{max_share_z:>11.2f} {'y' if global_bound_ok else 'N'} "
              f"{'y' if grouped_ok else 'N'} {'y' if share_ok else 'N'}")
        out["runs"].append(
            {"ratio": r, "wall_s": round(wall, 3), "speedup": round(base_wall / wall, 2),
             "actual_rate": round(rep.actual_ratio, 5), "predicted_err": round(predicted, 6),
             "actual_err": round(err, 6),
             # ok == THE gate on the measured metric (grouped rel-L1 vs
             # its correct closed-form expectation, one key only —
             # review r9 dropped the redundant grouped_ok twin);
             # global_bound_ok == the reference's own actual<=predicted
             # accept rule, recorded for visibility, never gated
             "ok": bool(grouped_ok),
             "global_bound_ok": bool(global_bound_ok),
             "expected_grouped_err": round(expected_grouped, 6),
             "max_share_err": round(max_share_err, 6),
             "max_share_z": round(max_share_z, 3),
             "n_share_z_excluded": n_z_excluded,
             "share_ok": bool(share_ok),
             "low_support": low_support}
        )
    print(json.dumps(out))
    return out


def finalize_artifact(doc: dict) -> dict:
    """Stamp per-cell ``gated`` and a top-level gate summary so the
    artifact is SELF-describing (VERDICT r11 item 3: a reader of the
    JSON alone could mistake 25 ``ok`` cells for 25 gated cells when
    two were low-support excluded — the 23-vs-25 arithmetic must live
    in the artifact, not the round notes). ``gated`` is false exactly
    when ``low_support`` is set; ``n_green`` counts gated cells whose
    every present gate key (``ok``, ``share_ok``) is true."""
    n_cells = n_gated = n_green = 0
    for q in doc["queries"]:
        for run in q["runs"]:
            n_cells += 1
            run["gated"] = not run.get("low_support")
            if run["gated"]:
                n_gated += 1
                if run.get("ok", True) and run.get("share_ok", True):
                    n_green += 1
    doc["gate_summary"] = {
        "n_cells": n_cells,
        "n_gated": n_gated,
        "n_green": n_green,
    }
    return doc


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--ratios", default="1.0,0.5,0.25,0.1,0.01,0.001")
    ap.add_argument("--query", default="word_count",
                    choices=sorted(EXPERIMENTS) + list(FAMILY_SWEEPS))
    ap.add_argument("--all", action="store_true", help="sweep every experiment")
    ap.add_argument("--out", default=None, help="write the combined JSON artifact here")
    ap.add_argument("--gate", action="store_true",
                    help="exit 1 if any run fails ok (closed-form grouped "
                    "rel-L1 bound) or share_ok (per-group share z-scores), "
                    "or if any query measured zero runs; the reference's "
                    "own actual<=predicted rule is recorded as "
                    "'global_bound_ok' but never gated — see the module "
                    "docstring")
    args = ap.parse_args()
    ratios = [float(r) for r in args.ratios.split(",")]

    spark = get_spark("rsmr-accuracy-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    queries = (
        sorted(EXPERIMENTS) + list(FAMILY_SWEEPS) if args.all else [args.query]
    )
    results = []
    for q in queries:
        if q == "stratified_daily":
            results.append(sweep_stratified(spark, args.sf, ratios))
        elif q == "joined_pairs":
            results.append(sweep_joined(spark, args.sf, ratios))
        elif "_runs_" in q:
            # fixed operating points (_BGZF_RUN_RATIOS), not --ratios:
            # the knob is only on-guidance at moderate r
            codec, wl = q.split("_runs_", 1)
            results.append(
                sweep_cluster_runs(spark, args.sf, codec=codec, workload=wl)
            )
        else:
            results.append(sweep_query(spark, args.sf, q, ratios))
    doc = finalize_artifact(
        {"sf": args.sf, "ratios": ratios, "seed": 123, "queries": results}
    )
    gs = doc["gate_summary"]
    print(f"gate summary: {gs['n_green']}/{gs['n_gated']} gated cells green "
          f"({gs['n_cells']} measured)")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(doc, fh, indent=1)
        print(f"wrote {args.out}")
    spark.stop()
    if args.gate:
        # a query with ZERO measured runs (ratio grid with nothing
        # below 1.0, or a typo'd grid) must not read as green —
        # review r9, the same false-green shape check_oracle guards
        empty = [q["query"] for q in results if not q["runs"]]
        if empty:
            print(f"ACCURACY GATE FAILED: no measured runs for {empty}")
            sys.exit(1)
        # low-support runs are recorded but not gated (module docstring):
        # say which cells were excluded so a grid that silently went all
        # low-support is visible in the gate output
        skipped = [
            (q["query"], run["ratio"], run["low_support"])
            for q in results
            for run in q["runs"]
            if run.get("low_support")
        ]
        if skipped:
            print(f"accuracy gate: {len(skipped)} low-support cell(s) "
                  f"recorded but not gated: {skipped}")
        bad = [
            (q["query"], run["ratio"],
             "grouped" if not run.get("ok", True) else "share")
            for q in results
            for run in q["runs"]
            if run["gated"]
            and not (run.get("ok", True) and run.get("share_ok", True))
        ]
        if bad:
            print(f"ACCURACY GATE FAILED: {bad}")
            sys.exit(1)
        print("accuracy gate: all gated runs within bounds")


if __name__ == "__main__":
    main()
