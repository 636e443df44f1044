"""Estimator-family twins: stratified weighted aggregates, sampled joins, quantiles, bootstrap CIs, sketches, governance splits.

Split out of the single-file catalog (round 8, VERDICT r7 item 6);
query text is unchanged. Entries self-register into the shared
``QUERIES`` registry on import — ``plans.catalog`` imports every
family module in the original source order.
"""

from __future__ import annotations

from ._base import (
    AL,
    DataFrame,
    F,
    SampledFrame,
    SamplingConfig,
    SparkSession,
    T,
    WL,
    XP,
    _WORD_SPLIT_SQL,
    _dec,
    _ensure_layout,
    ensure_parallelism,
    file_signature,
    load,
    psi_bucketize,
    psi_from_counts,
    read_parquet,
    register,
    sessionize_events,
    sql_round,
)

# ===========================================================================
# ML-governance batch (round 4, sixth widening): regression from exact
# moments, vector-column profiling, and distribution-drift (PSI) — the
# monitoring surface a training pipeline runs between ingests. All
# value-oracled.
# ===========================================================================


@register(
    "price_quantity_regression",
    """
    WITH m AS (
      SELECT p_brand,
             count(*) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sx,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sy,
             CAST(sum(CAST(l_quantity AS DECIMAL(12,2))
                      * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(l_quantity AS DECIMAL(12,2))
                      * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                      * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS syy
      FROM lineitem JOIN part ON p_partkey = l_partkey
      GROUP BY p_brand
    )
    SELECT p_brand, n::BIGINT AS n_lines,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
             AS intercept,
           round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
    FROM m
    """,
    doc="Per-brand OLS regression (extendedprice on quantity) computed "
    "from MOMENTS, not a solver: n, Sx, Sy, Sxy, Sxx, Syy accumulate as "
    "EXACT decimal sums in one map-side-combinable aggregate — the "
    "classic single-pass distributed regression — then combine into "
    "slope/intercept/r2 with a fixed IEEE expression on doubles cast "
    "from those exact sums, so the result is engine-identical without "
    "any per-partition order sensitivity (a naive sum-of-doubles moment "
    "would differ run to run). 100 TB: one brand-key shuffle of six "
    "numbers per brand; the regression itself is free",
)
def q_price_quantity_regression(spark, sf_dir):
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    l = load(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity", "l_extendedprice")
    x, y = _dec("l_quantity"), _dec("l_extendedprice")
    m = (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(x).cast("double").alias("sx"),
            F.sum(y).cast("double").alias("sy"),
            F.sum(x * y).cast("double").alias("sxy"),
            F.sum(x * x).cast("double").alias("sxx"),
            F.sum(y * y).cast("double").alias("syy"),
        )
    )
    n = F.col("n")
    cov_n = n * F.col("sxy") - F.col("sx") * F.col("sy")
    var_x = n * F.col("sxx") - F.col("sx") * F.col("sx")
    var_y = n * F.col("syy") - F.col("sy") * F.col("sy")
    slope = cov_n / var_x
    return m.select(
        "p_brand",
        n.alias("n_lines"),
        sql_round(slope, 6).alias("slope"),
        sql_round((F.col("sy") - slope * F.col("sx")) / n, 6).alias("intercept"),
        sql_round((cov_n * cov_n) / (var_x * var_y), 6).alias("r2"),
    )


@register(
    "embedding_dim_stats",
    """
    WITH ex AS (
      SELECT unnest(generate_series(1, len(embedding))) - 1 AS dim,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS iv
      FROM embeddings
    )
    SELECT dim, count(*)::BIGINT AS n,
           floor((CAST(sum(CAST(iv AS DECIMAL(38,0))) AS DOUBLE) / count(*) / 1000000)
                 * 1000000) / 1000000 AS mean,
           floor(sqrt(greatest(
             CAST(sum(CAST(iv AS DECIMAL(38,0)) * iv) AS DOUBLE)
               / count(*) / 1000000000000
             - (CAST(sum(CAST(iv AS DECIMAL(38,0))) AS DOUBLE) / count(*) / 1000000)
               * (CAST(sum(CAST(iv AS DECIMAL(38,0))) AS DOUBLE) / count(*) / 1000000),
             0.0)) * 1000000) / 1000000 AS std
    FROM ex GROUP BY dim
    """,
    doc="Per-dimension mean/std profile of the embedding column — the "
    "feature-drift monitor a training pipeline runs on every vector "
    "ingest (a shifted dimension means a broken encoder). posexplode "
    "fans each vector into (dim, value) rows; each float is quantized "
    "to INTEGER micro-units via floor(double(val)*1e6) — float->double "
    "widening is exact and floor of an identical double is identical in "
    "both engines, whereas a float->DECIMAL(12,6) CAST rounds per value "
    "under engine-specific modes (Spark HALF_UP, DuckDB half-even) and "
    "diverged on ~0.1%% of values (caught by the sf0.001 oracle run in "
    "round 6: every per-dim decimal moment sum differed in the last "
    "digit). Moment sums run over the integers (DECIMAL(38,0) "
    "accumulator: iv^2 ~ 1e12, so a BIGINT sum would overflow near 9M "
    "rows per dim — at 100 TB that is every dim), so they are exact and "
    "order-independent; ONE cast to double at the end feeds identical "
    "IEEE mean/std math, truncated at 6dp (floor, tie-free) in both "
    "engines. One dim-key aggregate — map-side combine keeps the "
    "shuffle at dims x partitions rows no matter how many vectors",
)
def q_embedding_dim_stats(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings").select(
        F.posexplode("embedding").alias("dim", "val")
    )
    iv = F.floor(F.col("val").cast("double") * F.lit(1000000.0)).cast("bigint")
    ex = e.select("dim", iv.alias("iv"))
    n = F.count(F.lit(1))
    dec = F.col("iv").cast("decimal(38,0)")
    sx = F.sum(dec).cast("double")
    sxx = F.sum(dec * F.col("iv")).cast("double")
    mean = sx / n / F.lit(1000000.0)

    def trunc6(col):
        return F.floor(col * F.lit(1000000.0)).cast("double") / F.lit(1000000.0)

    return ex.groupBy("dim").agg(
        n.alias("n"),
        trunc6(mean).alias("mean"),
        trunc6(
            F.sqrt(
                F.greatest(
                    sxx / n / F.lit(1_000_000_000_000.0) - mean * mean, F.lit(0.0)
                )
            )
        ).alias("std"),
    )


_PSI_SQL = """
    WITH b AS (
      SELECT least(9, CAST(floor(value / 50.0) AS INT)) AS bucket,
             CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS is_ref
      FROM events
    ),
    c AS (
      SELECT bucket,
             sum(is_ref)::BIGINT AS n_ref,
             sum(1 - is_ref)::BIGINT AS n_cur
      FROM b GROUP BY bucket
    ),
    ct AS (
      SELECT bucket, n_ref, n_cur,
             sum(n_ref) OVER () AS tr, sum(n_cur) OVER () AS tc
      FROM c
    )
    SELECT bucket, n_ref, n_cur,
           round(n_ref / CAST(tr AS DOUBLE), 6) AS p_ref,
           round(n_cur / CAST(tc AS DOUBLE), 6) AS p_cur,
           CASE WHEN n_ref = 0 OR n_cur = 0 THEN NULL
                ELSE round((n_ref / CAST(tr AS DOUBLE) - n_cur / CAST(tc AS DOUBLE))
                           * ln((n_ref / CAST(tr AS DOUBLE))
                                / (n_cur / CAST(tc AS DOUBLE))), 6)
           END AS psi_term
    FROM ct
    """


@register(
    "events_value_psi",
    _PSI_SQL,
    doc="Population Stability Index between the first and second half of "
    "the event window — THE distribution-drift gate for model inputs "
    "(PSI > 0.25 = investigate). One scan computes both halves' "
    "equi-width bucket counts via conditional sums (no second read, no "
    "self-join); totals come from the 10-row bucket relation so the "
    "final PSI terms are computed over a constant-size frame. Bucket "
    "membership is integer floor division (no FP boundary ambiguity); "
    "shares and ln() run on identical IEEE inputs in both engines, "
    "rounded at 6dp. A bucket empty on either side gets a NULL term "
    "(the unsmoothed PSI is undefined there — this dataset's top bucket "
    "is current-only; production monitors epsilon-smooth or re-bin, and "
    "the NULL makes the condition visible instead of burying an "
    "arbitrary clamp in the statistic). The per-bucket long format "
    "keeps the largest drift contributors visible, and sum(psi_term) "
    "is the headline statistic",
)
def q_events_value_psi(spark, sf_dir):
    e = psi_bucketize(load(spark, sf_dir, "events"))
    c = e.groupBy("bucket").agg(
        F.sum("is_ref").alias("n_ref"),
        F.sum(F.lit(1) - F.col("is_ref")).alias("n_cur"),
    )
    return psi_from_counts(c)


@register(
    "streaming_value_psi",
    _PSI_SQL,
    doc="The PSI drift gate AS A STREAMING JOB: per-bucket ref/current "
    "conditional counts run as a streaming aggregate (complete mode, "
    "availableNow for the finite verification run), so the monitor "
    "updates continuously as event files arrive instead of re-scanning "
    "history per check; the batch psi_from_counts post-processing turns "
    "the emitted 10-row counts table into the statistic. VALUE-oracled "
    "against the same SQL as the batch twin — stream/batch parity is "
    "exactly what complete-mode emission guarantees, and the streaming "
    "state is bucket-bounded forever (counts, not events). Production: "
    "a processing-time trigger feeding the monitoring table "
    "(streaming/sampled_stream.value_psi_counts_stream)",
    tags=("streaming",),
)
def q_streaming_value_psi(spark, sf_dir):
    from ..streaming.sampled_stream import value_psi_counts_stream

    return psi_from_counts(value_psi_counts_stream(spark, sf_dir))


@register(
    "events_hourly_incremental",
    """
    SELECT date_trunc('hour', ts) AS hour, event_type,
           count(*)::BIGINT AS cnt,
           CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
    doc="Incremental aggregate maintenance (materialized-view upkeep): the "
    "running hourly rollup is materialized ONCE for history (events "
    "before 2024-01-25), and each refresh aggregates ONLY the delta "
    "(days 25+) and merges it with the stored partials via "
    "union + re-aggregate — sum-of-counts and sum-of-decimal-sums are "
    "decomposable, so merged == full recompute, which is exactly what "
    "the oracle (a full-table aggregate) certifies. 100 TB: the daily "
    "refresh scans ONE day, never history; merge cost is bounded by "
    "|delta groups| + |stored groups|, both hour-x-type-bounded. The "
    "same decomposability argument underlies every partial+final agg in "
    "the engine (G1) — this query materializes the partial across RUNS "
    "instead of across tasks",
)
def q_events_hourly_incremental(spark, sf_dir):
    import hashlib
    import os

    cutoff = "2024-01-25"
    # The cached base holds a DERIVED aggregate (unlike the verbatim-copy
    # stream-source caches), so the key must fingerprint the DATA, not
    # just the path — otherwise regenerated events at the same sf_dir
    # would silently merge old partials with new deltas. name+size+mtime
    # of every source file is the standard cheap staleness signature.
    src_path = os.path.join(sf_dir, "events.parquet")
    sig = [sf_dir] + (file_signature(src_path) if os.path.exists(src_path) else [])
    key = hashlib.md5("|".join(sig).encode()).hexdigest()[:10]
    # Cache name = <source tag>_<data signature>: the tag pins WHICH
    # source directory the cache derives from, the signature pins the
    # data generation. Pruning removes same-source caches with a stale
    # signature (every source regeneration would otherwise leave a dead
    # /tmp layout behind, accumulating unboundedly — ADVICE r4) while
    # leaving other sources' caches (sf0.001 vs sf0.1) untouched.
    src_tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:6]
    cache_name = f"rsmr_hourly_base_{src_tag}_{key}"
    import shutil as _shutil

    for _name in os.listdir("/tmp"):
        _stale_same_src = (
            _name.startswith(f"rsmr_hourly_base_{src_tag}_") and _name != cache_name
        )
        # pre-tag layout (rsmr_hourly_base_<sig> with no source tag):
        # un-prunable under the old scheme, remove on sight
        _legacy = _name.startswith("rsmr_hourly_base_") and "_" not in _name[len("rsmr_hourly_base_"):]
        if _stale_same_src or _legacy:
            _shutil.rmtree(os.path.join("/tmp", _name), ignore_errors=True)

    def agg_part(df):
        return df.groupBy(
            F.date_trunc("hour", "ts").alias("hour"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(_dec("value")).alias("val_sum"),
        )

    base_dir = _ensure_layout(
        f"/tmp/{cache_name}",
        lambda d: agg_part(
            load(spark, sf_dir, "events").where(F.col("ts") < cutoff)
        ).write.mode("overwrite").parquet(d),
    )
    base = read_parquet(spark, base_dir)
    delta = agg_part(load(spark, sf_dir, "events").where(F.col("ts") >= cutoff))
    return (
        base.unionByName(delta)
        .groupBy("hour", "event_type")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("val_sum").cast("double").alias("total_value"),
        )
    )


@register(
    "events_dedup_consecutive",
    """
    WITH seq AS (
      SELECT event_type,
             CASE WHEN event_type = lag(event_type)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  THEN 1 ELSE 0 END AS is_rep
      FROM events
    )
    SELECT event_type,
           sum(1 - is_rep)::BIGINT AS kept,
           sum(is_rep)::BIGINT AS dropped
    FROM seq GROUP BY event_type
    """,
    doc="Consecutive-duplicate suppression (the sensor/changelog dedup "
    "primitive: keep a row only when its type differs from the SAME "
    "user's previous row): one lag() window on the user_id partitioning "
    "with the (ts, event_id) tiebreak, then a per-type kept/dropped "
    "tally. Unlike dropDuplicates, which dedups globally per key, this "
    "is ORDER-SENSITIVE run-length suppression — expressible only "
    "through the window, and the window is the whole cost: one "
    "exchange, no join, no state beyond one lag row per task. The "
    "NULL-safe inequality matters: each user's FIRST row has a NULL lag "
    "and must count as kept (CASE's NULL-falsy branch in both engines)",
)
def q_events_dedup_consecutive(spark, sf_dir):
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = load(spark, sf_dir, "events").select(
        "event_type",
        F.when(F.col("event_type") == F.lag("event_type").over(w), 1)
        .otherwise(0)
        .alias("is_rep"),
    )
    return seq.groupBy("event_type").agg(
        F.sum(F.lit(1) - F.col("is_rep")).alias("kept"),
        F.sum("is_rep").alias("dropped"),
    )


@register(
    "sessions_bounce_rate",
    """
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  <= 1800000000 THEN 0 ELSE 1 END AS is_new,
             event_id
      FROM events
    ),
    sess AS (
      SELECT user_id, ts,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    ),
    per_session AS (
      SELECT user_id, sid, min(CAST(ts AS DATE)) AS day,
             count(*) AS n_events
      FROM sess GROUP BY user_id, sid
    )
    SELECT day,
           count(*)::BIGINT AS n_sessions,
           sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)::BIGINT AS n_bounce,
           round(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS bounce_rate
    FROM per_session
    GROUP BY day
    """,
    doc="Daily bounce rate (share of 30-min-gap sessions with exactly one "
    "event), keyed to each session's START day — the engagement KPI "
    "downstream of sessionization. Composes the user_sessions "
    "gaps-and-islands build (same window chain on the user_id "
    "partitioning, so Catalyst plans ONE user exchange for the lag, the "
    "running sum, and the per-session agg), then a day-bounded final "
    "rollup. The bounce flag compares an exact integer event count, and "
    "the rate is one division rounded at 6dp — engine-identical",
)
def q_sessions_bounce_rate(spark, sf_dir):
    sess = sessionize_events(load(spark, sf_dir, "events")).withColumnRenamed(
        "session_id", "sid"
    )
    per_session = sess.groupBy("user_id", "sid").agg(
        F.min(F.to_date("ts")).alias("day"), F.count(F.lit(1)).alias("n_events")
    )
    bounce = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
    return per_session.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        bounce.alias("n_bounce"),
        sql_round(bounce / F.count(F.lit(1)).cast("double"), 6).alias("bounce_rate"),
    )


_ATTRIBUTION_SQL = """
    WITH seq AS (
      SELECT user_id, ts, event_type, value,
             last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS channel
      FROM events
    )
    SELECT coalesce(channel, 'direct') AS channel,
           count(*)::BIGINT AS n_purchases,
           CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS attributed_value
    FROM seq WHERE event_type = 'purchase'
    GROUP BY coalesce(channel, 'direct')
    """


@register(
    "purchase_attribution_last_touch",
    _ATTRIBUTION_SQL,
    doc="Last-touch purchase attribution (the marketing-analytics "
    "workhorse): each purchase's value is credited to the SAME user's "
    "most recent preceding non-purchase event type; a purchase with no "
    "prior touch is 'direct'. One window on the user_id partitioning — "
    "last(ignorenulls) over a ROWS UNBOUNDED..1-PRECEDING frame, so the "
    "strictly-before semantics need no self-join and no per-user "
    "collect; the (ts, event_id) tiebreak pins concurrent events. "
    "Channel totals are exact decimal sums. DuckDB mirrors via "
    "last_value(... IGNORE NULLS) over the identical frame — the frame "
    "bound, not the function, carries the strictly-before contract",
)
def q_purchase_attribution_last_touch(spark, sf_dir):
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")), ignorenulls=True
    ).over(w)
    seq = load(spark, sf_dir, "events").select(
        "event_type", "value", touch.alias("channel")
    )
    return (
        seq.where(F.col("event_type") == "purchase")
        .groupBy(F.coalesce(F.col("channel"), F.lit("direct")).alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(_dec("value")).cast("double").alias("attributed_value"),
        )
    )


def _stratified_hash_oracle() -> str:
    from ..sampling.deterministic import stratified_hash_weight_sql

    w_case = stratified_hash_weight_sql(
        "event_type", "event_id::VARCHAR", _STRAT_FRACTIONS, seed=11
    )
    return f"""
    WITH s AS (
      SELECT event_type, CAST(value AS DECIMAL(12,2)) AS v, {w_case} AS w
      FROM events
    )
    SELECT event_type,
           count(*)::BIGINT AS n_sampled,
           CAST(sum(w) AS DOUBLE) AS est_cnt,
           CAST(sum(w * v) AS DOUBLE) AS est_value_sum
    FROM s WHERE w IS NOT NULL
    GROUP BY event_type
    """


_STRAT_FRACTIONS = {
    "view": 0.05,
    "click": 0.05,
    "purchase": 0.2,
    "error": 0.5,
    "signup": 0.5,
}


@register(
    "stratified_events_hash_sampled",
    _stratified_hash_oracle(),
    doc="The value-oracled twin of stratified_events_by_type: per-stratum "
    "Bernoulli with the DETERMINISTIC md5 hash instead of sampleBy's "
    "engine RNG, so sample membership — and therefore the per-stratum "
    "Horvitz-Thompson weights 1/r_s and every estimate built from them "
    "— reproduces bit-for-bit in DuckDB. Rare strata (error/signup) "
    "keep 50%, the bulk (view/click) 5%: the rare-class-preserving "
    "allocation row-uniform sampling cannot give you, at the same "
    "total budget. One map-only CASE attaches the weight, one stratum "
    "agg; at 100 TB the hash filter sits in the scan exactly like "
    "every other hash-sampled twin. Weighted sums rounded at 2dp "
    "(weights are exact binary fractions: 20.0, 5.0, 2.0)",
    tags=("sampled",),
)
def q_stratified_events_hash_sampled(spark, sf_dir):
    from ..sampling.deterministic import stratified_hash_weight

    e = load(spark, sf_dir, "events").withColumn(
        "__k", F.col("event_id").cast("string")
    )
    # one pass: the keep-decision and the HT weight as a single CASE per
    # stratum (hash_bernoulli filters one global ratio; here the ratio
    # varies by stratum) — the shared helper is the single source of
    # truth for the weight encoding across batch/stream/oracle sites
    w = stratified_hash_weight("event_type", "__k", _STRAT_FRACTIONS, seed=11)
    s = e.withColumn("w", w).where(F.col("w").isNotNull())
    return s.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum("w").cast("double").alias("est_cnt"),
        F.sum(F.col("w") * _dec("value")).cast("double").alias("est_value_sum"),
    )


def _stratified_value_quantile_oracle() -> str:
    from ..sampling.deterministic import stratified_hash_weight_sql

    w_case = stratified_hash_weight_sql(
        "event_type", "event_id::VARCHAR", _STRAT_FRACTIONS, seed=11
    )
    # mirrors weighted_quantile: floor-quantized 2^-20-unit integer
    # weights (exact cumulative sums), default RANGE window frame (tied
    # values share one cumulative total in both engines), smallest v
    # with cum >= p * total.
    return f"""
    WITH s AS (
      SELECT CAST(ts AS DATE) AS d, CAST(value AS DOUBLE) AS v,
             {w_case} AS w
      FROM events
    ),
    k AS (
      SELECT d, v, CAST(floor(CAST(w AS DOUBLE) * 1048576.0) AS BIGINT) AS ws
      FROM s WHERE w IS NOT NULL
    ),
    c AS (
      SELECT d, v,
             sum(ws) OVER (PARTITION BY d ORDER BY v) AS cum,
             sum(ws) OVER (PARTITION BY d) AS tot,
             count(*) OVER (PARTITION BY d) AS n
      FROM k
    )
    SELECT d,
           min(CASE WHEN CAST(cum AS DOUBLE) >= 0.5 * CAST(tot AS DOUBLE)
                    THEN v END) AS est_p50,
           min(CASE WHEN CAST(cum AS DOUBLE) >= 0.9 * CAST(tot AS DOUBLE)
                    THEN v END) AS est_p90,
           max(n)::BIGINT AS n_sampled,
           (max(n) < 100) AS low_support
    FROM c GROUP BY 1
    """


@register(
    "stratified_value_quantile_hash_sampled",
    _stratified_value_quantile_oracle(),
    doc="Weighted quantiles from a STRATIFIED sample, fully value-oracled "
    "(round 6: closes the quantile gap in the weighted-estimator family "
    "— weighted_count/weighted_sum existed, the CDF inverse did not). "
    "Daily p50/p90 of event value from the same deterministic stratified "
    "hash sample as stratified_events_hash_sampled (rare strata kept at "
    "50%, bulk at 5%): each day mixes strata, so the PLAIN sample "
    "quantile is biased toward over-sampled rare strata and the weighted "
    "empirical-CDF inverse (sampling/sampled_frame.weighted_quantile) "
    "undoes the design distortion. Determinism: weights floor-quantized "
    "to integer 2^-20 units (exact cumulative sums — float cumsums are "
    "order-dependent at value ties), default RANGE window frame so tied "
    "values share one cumulative total in both engines, selection = "
    "smallest v with cum >= p*total; the oracle mirrors the arithmetic "
    "literally. min_support=100 flags thin days",
    tags=("sampled",),
)
def q_stratified_value_quantile_hash_sampled(spark, sf_dir):
    from ..sampling.deterministic import stratified_hash_weight
    from ..sampling.sampled_frame import weighted_quantile

    e = load(spark, sf_dir, "events").withColumn(
        "__k", F.col("event_id").cast("string")
    )
    w = stratified_hash_weight("event_type", "__k", _STRAT_FRACTIONS, seed=11)
    s = (
        e.withColumn("w", w)
        .where(F.col("w").isNotNull())
        .select(
            F.to_date("ts").alias("d"),
            F.col("value").cast("double").alias("v"),
            "w",
        )
    )
    return weighted_quantile(
        s, "v", [0.5, 0.9], "d", weight_col="w", min_support=100, alias="est"
    )


def _stratified_quantile_bootstrap_oracle() -> str:
    from ..sampling.bootstrap import _multiplier_sql, _uniform_sql
    from ..sampling.deterministic import stratified_hash_weight_sql

    w_case = stratified_hash_weight_sql(
        "event_type", "event_id::VARCHAR", _STRAT_FRACTIONS, seed=11
    )
    mult = _multiplier_sql(_uniform_sql("bk", "rep", 77))
    # mirrors weighted_quantile_bootstrap literally: rep -1 is the
    # original sample (multiplier 1); weights w*m floor-quantized to
    # integer 2^-20 units AFTER the multiply (same parenthesization as
    # the Spark column); per-(type, rep) CDF inverse under the default
    # RANGE frame; percentile ranks over the 32 replicate quantiles.
    # Every (type, rep) group here has thousands of rows so no replicate
    # quantile is NULL and len(arr) == 32 always — the dynamic Spark
    # ranks ceil(0.025*32)=1 / ceil(0.975*32)=32 are constants.
    return f"""
    WITH s AS (
      SELECT event_type, CAST(value AS DOUBLE) AS v,
             event_id::VARCHAR AS bk, CAST({w_case} AS DOUBLE) AS w
      FROM events
    ),
    k AS (SELECT * FROM s WHERE w IS NOT NULL),
    r AS (SELECT k.*, t.rep
          FROM k CROSS JOIN (SELECT unnest(range(-1, 32)) AS rep) t),
    m AS (SELECT event_type, rep, v,
                 CAST(floor(
                   (w * CAST(CASE WHEN rep = -1 THEN 1 ELSE {mult} END
                             AS DOUBLE)) * 1048576.0) AS BIGINT) AS ws
          FROM r),
    c AS (SELECT event_type, rep, v, ws,
                 sum(ws) OVER (PARTITION BY event_type, rep ORDER BY v)
                   AS cum,
                 sum(ws) OVER (PARTITION BY event_type, rep) AS tot
          FROM m),
    q AS (SELECT event_type, rep,
                 CASE WHEN min(ws) >= 0 THEN
                   min(CASE WHEN CAST(cum AS DOUBLE)
                                 >= 0.5 * CAST(tot AS DOUBLE)
                            THEN v END) END AS q50
          FROM c GROUP BY 1, 2),
    f AS (SELECT event_type,
                 max(CASE WHEN rep = -1 THEN q50 END) AS est,
                 list(q50 ORDER BY q50)
                   FILTER (WHERE rep >= 0 AND q50 IS NOT NULL) AS arr
          FROM q GROUP BY 1)
    SELECT event_type,
           est AS est_p50,
           CASE WHEN est IS NOT NULL THEN arr[1] END AS est_p50_ci_lo,
           CASE WHEN est IS NOT NULL THEN arr[32] END AS est_p50_ci_hi
    FROM f
    """


@register(
    "stratified_quantile_bootstrap_ci",
    _stratified_quantile_bootstrap_oracle(),
    doc="Weighted quantile WITH a bootstrap interval, fully value-oracled "
    "(VERDICT r6/r7 item: weighted_quantile was the one "
    "point-estimate-only estimator — the distribution-free binomial "
    "interval assumes equal weights, so a stratified sample needs "
    "resampling). Per-event-type median of value from the same "
    "deterministic stratified hash sample as the other stratified twins "
    "(rare strata 50%, bulk 5%, seed 11), composed with 32 "
    "hash-deterministic Poisson(1) replicates "
    "(sampling/bootstrap.weighted_quantile_bootstrap, seed 77): "
    "replicate -1 is the original sample (the point estimate), the "
    "percentile interval selects discrete order statistics of the "
    "replicate quantiles — no interpolation, no RNG, bit-identical in "
    "DuckDB. Coverage is seed-sweep-tested in "
    "tests/test_sampled_frame.py",
    tags=("sampled",),
)
def q_stratified_quantile_bootstrap_ci(spark, sf_dir):
    from ..sampling.bootstrap import weighted_quantile_bootstrap
    from ..sampling.deterministic import stratified_hash_weight

    # ensure_parallelism (round 16): the bootstrap computes 33 md5
    # multiplier hashes per sampled row BELOW the quantile window's
    # exchange — i.e. in the SCAN stage, which for the small events
    # parquet is a single task. This is exactly the CPU-heavy-pipeline
    # case the helper exists for (measured sf0.1: 2.97 s -> 1.72 s;
    # the cheap 1-hash twins measured the repartition as a LOSS, so
    # only this query gets it). No-op at cluster scale.
    e = ensure_parallelism(load(spark, sf_dir, "events")).withColumn(
        "__k", F.col("event_id").cast("string")
    )
    w = stratified_hash_weight("event_type", "__k", _STRAT_FRACTIONS, seed=11)
    s = (
        e.withColumn("w", w)
        .where(F.col("w").isNotNull())
        .select(
            "event_type",
            F.col("value").cast("double").alias("v"),
            F.col("event_id").cast("string").alias("bk"),
            "w",
        )
    )
    return weighted_quantile_bootstrap(
        s,
        "v",
        0.5,
        "event_type",
        key_col="bk",
        weight_col="w",
        n_replicates=32,
        seed=77,
        alias="est_p50",
    )


def _sampled_topk_tokens_oracle() -> str:
    from ..operators.dedup import _WORD_SPLIT_SQL
    from ..sampling import stats as _stats
    from ..sampling.deterministic import hash_bernoulli_sql

    z = _stats.z_score(0.95)
    keep = hash_bernoulli_sql("doc_id::VARCHAR", 0.1, seed=21)
    return f"""
    WITH d AS (SELECT doc_id, text FROM documents WHERE {keep}),
    toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text),
               '{_WORD_SPLIT_SQL}'), t -> len(t) > 0)) AS tok
      FROM d
    ),
    x AS (SELECT doc_id, tok, count(*)::BIGINT AS x FROM toks GROUP BY 1, 2),
    m AS (SELECT tok, sum(x)::BIGINT AS sx, sum(x * x)::BIGINT AS sxx
          FROM x GROUP BY tok),
    e AS (SELECT tok, sx * 10.0 AS est,
                 {z!r} * sqrt(0.9 * CAST(sxx AS DOUBLE)) / 0.1 AS est_ci
          FROM m),
    sel AS (SELECT tok, est, est_ci,
                   row_number() OVER w AS rank,
                   lead(est + est_ci) OVER w AS nxt,
                   lead(TRUE) OVER w AS hasnxt
            FROM e WINDOW w AS (ORDER BY est DESC, tok ASC))
    SELECT tok, est, est_ci, rank,
           CASE WHEN hasnxt IS NULL THEN TRUE
                ELSE coalesce((est - est_ci) > nxt, FALSE) END AS stable
    FROM sel WHERE rank <= 15
    """


@register(
    "sampled_topk_tokens",
    _sampled_topk_tokens_oracle(),
    doc="Approximate heavy hitters with rank-stability honesty, fully "
    "value-oracled (SampledFrame.approx_topk): top-15 corpus tokens by "
    "HT-estimated total count from a 10% DOCUMENT-level hash sample — "
    "cluster sampling, so the estimator aggregates per-(doc, token) "
    "counts and approx_sum's HT variance V^=(1-r)/r^2 * sum x_d^2 is "
    "exactly the cluster-level CI (sampling token ROWS instead would "
    "need no clustering but resample every doc's parse; sampling docs "
    "is the scan-cheap form the reference's design implies). Each item "
    "carries est +/- ci and `stable` = lower bound clears the NEXT "
    "rank's upper bound (computed against rank 16 before truncation) — "
    "adjacent ranks without clearance are statistically interchangeable "
    "at this sample size, which the reference's plain sorted output "
    "hides. Deterministic: integer moments scaled by an IEEE-exact 10.0, "
    "ties broken by token; the CI float and even the flag's comparison "
    "reproduce in DuckDB from the same integer sums. Plan: partial-agg "
    "shuffle + TakeOrderedAndProject(16), no global sort",
    tags=("sampled",),
)
def q_sampled_topk_tokens(spark, sf_dir):
    from ..sampling.deterministic import hash_bernoulli

    docs = load(spark, sf_dir, "documents").select("doc_id", "text").withColumn(
        "__k", F.col("doc_id").cast("string")
    )
    s = hash_bernoulli(docs, "__k", 0.1, seed=21)
    toks = s.select(
        "doc_id",
        F.explode_outer(T.words("text")).alias("tok"),
    ).where(F.col("tok").isNotNull())
    x = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("x"))
    sf = SampledFrame(df=x, ratio=0.1, config=SamplingConfig(ratio=0.1, seed=21))
    return sf.approx_topk("tok", k=15, value_col="x", alias="est")


@register(
    "streaming_stratified_counts",
    _stratified_hash_oracle(),
    doc="Stratified-sampling estimation AS A STREAMING JOB, value-oracled "
    "against the SAME SQL as its batch twin (stratified_events_hash_"
    "sampled): the deterministic per-stratum hash keep/weight CASE is "
    "map-side on the stream, weighted count/sum estimates run as a "
    "complete-mode streaming aggregate whose state is ONE ROW PER "
    "STRATUM forever — an always-current population estimate of a "
    "firehose with bounded state and no history re-scan. availableNow "
    "drains the finite verification corpus; complete mode emits the "
    "whole bounded state at termination, so stream == batch by "
    "construction (streaming/sampled_stream.stratified_weighted_counts_"
    "stream). Production swaps the trigger for processing-time",
    tags=("streaming", "sampled"),
)
def q_streaming_stratified_counts(spark, sf_dir):
    from ..streaming.sampled_stream import stratified_weighted_counts_stream

    return stratified_weighted_counts_stream(spark, sf_dir, _STRAT_FRACTIONS)


def _distinct_users_chao_oracle() -> str:
    from ..sampling.deterministic import hash_bernoulli_sql

    keep = hash_bernoulli_sql("event_id::VARCHAR", 0.1, seed=31)
    return f"""
    WITH s AS (
      SELECT event_type, user_id FROM events
      WHERE {keep} AND user_id IS NOT NULL
    ),
    c AS (SELECT event_type, user_id, count(*)::BIGINT AS c
          FROM s GROUP BY 1, 2),
    m AS (SELECT event_type,
                 count(*)::BIGINT AS d_sampled,
                 (count(*) FILTER (WHERE c = 1))::BIGINT AS f1,
                 (count(*) FILTER (WHERE c = 2))::BIGINT AS f2
          FROM c GROUP BY 1)
    SELECT event_type,
           CAST(d_sampled AS DOUBLE)
             + CAST(f1 * (f1 - 1) AS DOUBLE)
               / (2.0 * CAST(f2 + 1 AS DOUBLE)) AS est_distinct,
           d_sampled, f1, f2
    FROM m
    """


@register(
    "distinct_users_chao_hash_sampled",
    _distinct_users_chao_oracle(),
    doc="Unseen-species distinct estimation from a sample, fully "
    "value-oracled: population distinct users per event type via the "
    "bias-corrected Chao1 estimator d + f1(f1-1)/(2(f2+1)) over a 10% "
    "hash-deterministic row sample (SampledFrame.approx_distinct_chao). "
    "This is the correction approx_distinct's honesty note has pointed "
    "at since round 3 — distinct counts do NOT Horvitz-Thompson-scale "
    "(d/r overestimates, raw d underestimates), and Chao1 infers the "
    "unseen mass from the sample's singleton/doubleton profile, for "
    "which Bernoulli row sampling is exactly the abundance model. The "
    "integer moments (d, f1, f2) ship alongside the estimate: they ARE "
    "the estimator, and the single final double division is the only "
    "float op, so both engines produce identical values. Accuracy "
    "(estimate brackets the true distinct count far better than either "
    "naive form) is pinned in tests/test_sampled_frame.py",
    tags=("sampled",),
)
def q_distinct_users_chao_hash_sampled(spark, sf_dir):
    from ..sampling.deterministic import hash_bernoulli

    e = load(spark, sf_dir, "events").withColumn(
        "__k", F.col("event_id").cast("string")
    )
    sampled = hash_bernoulli(e, "__k", 0.1, seed=31)
    sf = SampledFrame(df=sampled, ratio=0.1, config=SamplingConfig(ratio=0.1, seed=31))
    return sf.approx_distinct_chao("user_id", "event_type")


def _bootstrap_qty_ci_oracle() -> str:
    from ..sampling import stats as _stats
    from ..sampling.bootstrap import _multiplier_sql, _uniform_sql

    z = _stats.z_score(0.95)
    mult = _multiplier_sql(_uniform_sql("bk", "rep", 42))
    return f"""
    WITH d AS (
      SELECT l_returnflag,
             l_orderkey::VARCHAR || '-' || l_linenumber::VARCHAR AS bk,
             l_quantity::BIGINT AS x
      FROM lineitem
    ),
    r AS (SELECT d.*, t.rep
          FROM d CROSS JOIN (SELECT unnest(range(64)) AS rep) t),
    m AS (SELECT l_returnflag, rep,
                 sum(x * ({mult}))::BIGINT AS sr,
                 sum(CASE WHEN rep = 0 THEN x END)::BIGINT AS s
          FROM r GROUP BY 1, 2),
    f AS (SELECT l_returnflag, CAST(sr AS DOUBLE) AS srd, s FROM m)
    SELECT l_returnflag,
           max(s) AS est_sum,
           {z!r} * sqrt(greatest(
             (sum(srd * srd) - sum(srd) * sum(srd) / 64.0) / 63.0, 0.0))
             AS est_sum_ci
    FROM f GROUP BY 1
    """


@register(
    "bootstrap_qty_ci_by_flag",
    _bootstrap_qty_ci_oracle(),
    doc="Deterministic Poisson-bootstrap CI, fully value-oracled "
    "(sampling/bootstrap.poisson_bootstrap_sum): quantity sum per "
    "return flag with a 64-replicate bootstrap half-width — the "
    "general-purpose CI for aggregates WITHOUT a closed-form variance, "
    "as one distributed pass. Each row's replicate multipliers are the "
    "Poisson(1) inverse-CDF of the (row key, replicate, seed) md5 "
    "uniform — no engine RNG — so every replicate sum, and therefore "
    "the CI itself, reproduces bit-for-bit in DuckDB (replicate sums "
    "are exact BIGINTs; their squares stay below 2^53 at every checked "
    "SF, so even the moment sums are exact integer-valued doubles; one "
    "sqrt at the end). Shuffle carries (flag, replicate) partials — "
    "64x more GROUP rows, not data rows. The bootstrap's honesty "
    "caveat (no finite-population factor: it widens the closed-form "
    "Bernoulli CI by ~1/sqrt(1-r)) is pinned against approx_sum's "
    "closed form in tests/test_sampled_frame.py",
    tags=("sampled",),
)
def q_bootstrap_qty_ci_by_flag(spark, sf_dir):
    from ..sampling.bootstrap import poisson_bootstrap_sum

    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber")).alias("bk"),
        F.col("l_quantity").cast("bigint").alias("x"),
    )
    return poisson_bootstrap_sum(
        li, "x", "bk", "l_returnflag", n_replicates=64, seed=42
    )


def _file_pick(n_groups: int = 8, keep_ratio: float = 0.5, seed: str = "file") -> tuple:
    """Frozen md5 file-group pick: group g kept iff hash64('file|g') lands
    under the ratio — pure Python, no Spark, so the picked set is a
    LITERAL both the Spark path list and the oracle's residue IN-list
    derive from (the same 60-bit md5 scheme as functions/hashing.hash64)."""
    import hashlib

    def h(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    return tuple(
        sorted(g for g in range(n_groups) if h(f"{seed}|{g}") % 1000 < int(keep_ratio * 1000))
    )


_FILE_PICKED = _file_pick()


def _word_count_file_hash_oracle() -> str:
    picked = ", ".join(str(g) for g in _FILE_PICKED)
    scale = f"8.0 / {len(_FILE_PICKED)}"
    return f"""
    SELECT word, count(*)::BIGINT AS cnt_sampled,
           CAST(count(*) * {scale} AS DOUBLE) AS est_cnt
    FROM (
      SELECT unnest(string_split_regex(lower(text), '{_WORD_SPLIT_SQL}')) AS word
      FROM documents
      WHERE doc_id % 8 IN ({picked})
        AND NOT regexp_matches(text, '[0-9]')
    )
    WHERE word <> '' AND NOT regexp_matches(word, '^[0-9]+$')
    GROUP BY word
    """


@register(
    "word_count_file_hash_sampled",
    _word_count_file_hash_oracle(),
    doc="The VALUE-ORACLED twin of word_count_file_sampled: file-level "
    "cluster sampling where both the file layout AND the pick are "
    "deterministic. The corpus is written once partitioned by "
    "doc_id % 8 (each residue = one file group), and a frozen md5 hash "
    "picks which groups to read — Spark passes ONLY the picked "
    "subdirectory paths to the reader, so unpicked groups cost zero "
    "I/O (the true cluster-sampling win no row sampler gets), while "
    "the oracle reproduces the exact same sample as a doc_id residue "
    "IN-list on the parquet table. The HT scale-up 8/|picked| applies "
    "to every count identically in both engines. This closes the "
    "file-sampling family's oracle gap: the RNG-pick original stays as "
    "the engine-RNG variant, this twin proves the estimator arithmetic "
    "value-for-value",
    tags=("sampled",),
)
def q_word_count_file_hash_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    src = _ensure_layout(
        f"/tmp/rsmr_text_bygroup_{key}",
        lambda d: load(spark, sf_dir, "documents")
        .select(F.col("text").alias("value"), (F.col("doc_id") % 8).alias("g"))
        .write.partitionBy("g")
        .mode("overwrite")
        .text(d),
    )
    lines = spark.read.text([f"{src}/g={g}" for g in _FILE_PICKED])
    kept = T.drop_digit_lines(lines, "value")
    scale = F.lit(8.0) / F.lit(float(len(_FILE_PICKED)))
    return (
        T.explode_words(kept, "value")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt_sampled"))
        .select(
            "word",
            "cnt_sampled",
            (F.col("cnt_sampled") * scale).cast("double").alias("est_cnt"),
        )
    )


def _word_count_hash_sampled_oracle() -> str:
    from ..sampling.deterministic import hash_bernoulli_sql

    keep = hash_bernoulli_sql("doc_id::VARCHAR", 0.1, seed=13)
    return f"""
    SELECT word, count(*)::BIGINT AS cnt_sampled,
           CAST(count(*) * 10.0 AS DOUBLE) AS est_cnt
    FROM (
      SELECT unnest(string_split_regex(lower(text), '{_WORD_SPLIT_SQL}')) AS word
      FROM documents
      WHERE ({keep}) AND NOT regexp_matches(text, '[0-9]')
    )
    WHERE word <> '' AND NOT regexp_matches(word, '^[0-9]+$')
    GROUP BY word
    """


@register(
    "word_count_hash_sampled",
    _word_count_hash_sampled_oracle(),
    doc="The flagship word count with the DETERMINISTIC hash sample "
    "(doc-level Bernoulli at 10%, frozen md5) instead of the engine-RNG "
    "Sample node — the value-oracled twin of word_count_sampled, "
    "completing the twin pattern for the reference's headline workload "
    "(tpch_q1_hash_sampled established it for Q1). The sampling unit is "
    "the DOCUMENT, so each kept document contributes its full token "
    "multiset and the per-word HT estimate cnt/0.1 is unbiased over "
    "document inclusion; the hash predicate sits in the scan, cutting "
    "tokenize+shuffle input 10x at any scale",
    tags=("sampled",),
)
def q_word_count_hash_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sampling.deterministic import hash_bernoulli

    docs = load(spark, sf_dir, "documents").withColumn(
        "__k", F.col("doc_id").cast("string")
    )
    sampled = hash_bernoulli(docs, "__k", 0.1, seed=13).select("text")
    kept = T.drop_digit_lines(sampled, "text")
    return (
        T.explode_words(kept, "text")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt_sampled"))
        .select(
            "word",
            "cnt_sampled",
            (F.col("cnt_sampled") * F.lit(10.0)).cast("double").alias("est_cnt"),
        )
    )


def _log_host_hash_sampled_oracle() -> str:
    from ..sampling.deterministic import hash_bernoulli_sql

    keep = hash_bernoulli_sql("event_id::VARCHAR", 0.1, seed=17)
    cte = AL.ORACLE_ACCESS_LOG_CTE.replace(
        "FROM events", f"FROM (SELECT * FROM events WHERE {keep})"
    )
    return (
        cte
        + """
    SELECT host, count(*)::BIGINT AS cnt_sampled,
           CAST(count(*) * 10.0 AS DOUBLE) AS est_cnt
    FROM access_log GROUP BY host
    """
    )


@register(
    "log_host_hash_sampled",
    _log_host_hash_sampled_oracle(),
    doc="Per-host request counts from a deterministic 10% line sample — "
    "the value-oracled twin of log_host_sampled (engine RNG), applying "
    "the twin pattern to the reference's log-analysis workload. The "
    "hash filter runs on event_id BEFORE the synthesize->parse round "
    "trip, so 90% of lines are never formatted OR regex-parsed — the "
    "same parse-cost-dominates reasoning as the reference's input-level "
    "sampling (its entire thesis); HT scale-up 1/0.1 on each host count",
    tags=("sampled",),
)
def q_log_host_hash_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sampling.deterministic import hash_bernoulli

    e = load(spark, sf_dir, "events").withColumn(
        "__k", F.col("event_id").cast("string")
    )
    sampled = hash_bernoulli(e, "__k", 0.1, seed=17).drop("__k")
    log = AL.access_log(sampled)
    return (
        AL.task_host(log)
        .withColumnRenamed("cnt", "cnt_sampled")
        .select(
            "host",
            "cnt_sampled",
            (F.col("cnt_sampled") * F.lit(10.0)).cast("double").alias("est_cnt"),
        )
    )


def _approx_host_counts_flagged_oracle() -> str:
    from ..sampling import stats as _stats
    from ..sampling.deterministic import hash_bernoulli_sql

    z = _stats.z_score(0.95)
    keep = hash_bernoulli_sql("event_id::VARCHAR", 0.1, seed=17)
    cte = AL.ORACLE_ACCESS_LOG_CTE.replace(
        "FROM events", f"FROM (SELECT * FROM events WHERE {keep})"
    )
    probe = " OR ".join(f"starts_with(path, '{p}')" for p in AL.HACK_PREFIXES)
    return (
        cte
        + f"""
    SELECT host,
           CAST(count(*) * 10.0 AS DOUBLE) AS est_cnt,
           round({z!r} * sqrt(CAST(count(*) AS DOUBLE) * 0.9) / 0.1, 6) AS est_cnt_ci,
           count(*)::BIGINT AS n_sampled,
           (count(*) < 30) AS low_support
    FROM access_log WHERE {probe} GROUP BY host
    """
    )


@register(
    "approx_host_counts_flagged",
    _approx_host_counts_flagged_oracle(),
    doc="Per-group small-sample honesty on the hack-prefix family (VERDICT "
    "r4 item 6; SURVEY.md §7 declared risk): hack-probe hits per host from "
    "a deterministic 10% line sample, HT-scaled with a per-group CI, PLUS "
    "the exact sampled support n_sampled and a low_support flag where "
    "n < 30 (the normal-approximation floor: relative CI width is "
    "z*sqrt((1-r)/n), so n=5 at 95% is +/-83%). The reference reports the "
    "scaled-up hack counts with one GLOBAL p=0.5 error bound "
    "(RandomizedApacheLogAnalysis.java:56-75 + RandomSamplingUtil.java:"
    "376-378) and silently presents garbage on rare hosts; this engine "
    "flags exactly which groups cannot be trusted. Hash-deterministic "
    "sampling (same sample as log_host_hash_sampled: event_id, seed 17) "
    "makes flag, CI, and estimate all value-oracle-checkable.",
    tags=("sampled",),
)
def q_approx_host_counts_flagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sampling.deterministic import hash_bernoulli

    e = load(spark, sf_dir, "events").withColumn("__k", F.col("event_id").cast("string"))
    sampled = hash_bernoulli(e, "__k", 0.1, seed=17).drop("__k")
    parsed = AL.access_log(sampled)
    sf = SampledFrame(df=parsed, ratio=0.1, config=SamplingConfig(ratio=0.1, seed=17))
    hack = sf.transform(
        lambda df: df.where(F.col("path").rlike("^(" + "|".join(AL.HACK_PREFIXES) + ")"))
    )
    out = hack.approx_count("host", ci=True, min_support=30, alias="est_cnt")
    return out.withColumn("est_cnt_ci", sql_round(F.col("est_cnt_ci"), 6))


@register(
    "events_type_hour_chi2",
    """
    WITH o AS (
      SELECT event_type, hour(ts) AS hod, count(*) AS obs
      FROM events GROUP BY event_type, hour(ts)
    ),
    grid AS (
      SELECT t.event_type, h.hod
      FROM (SELECT DISTINCT event_type FROM events) t,
           (SELECT unnest(generate_series(0, 23)) AS hod) h
    ),
    full_o AS (
      SELECT g.event_type, g.hod, coalesce(o.obs, 0) AS obs
      FROM grid g LEFT JOIN o ON g.event_type = o.event_type AND g.hod = o.hod
    ),
    m AS (
      SELECT event_type, hod, obs,
             sum(obs) OVER (PARTITION BY event_type) AS row_total,
             sum(obs) OVER (PARTITION BY hod) AS col_total,
             sum(obs) OVER () AS grand
      FROM full_o
    )
    SELECT event_type, hod, obs::BIGINT AS obs,
           round(CAST(row_total * col_total AS DOUBLE) / grand, 6) AS expected,
           round((obs - CAST(row_total * col_total AS DOUBLE) / grand)
                 * (obs - CAST(row_total * col_total AS DOUBLE) / grand)
                 / (CAST(row_total * col_total AS DOUBLE) / grand), 6) AS chi2_term
    FROM m
    """,
    doc="Chi-square independence test of event type vs hour-of-day — the "
    "seasonality-confound check run before trusting per-type metrics "
    "(a type whose traffic clusters in specific hours needs "
    "hour-stratified evaluation). One scan builds the contingency "
    "counts; the row/column/grand totals come from three windows over "
    "the CONTINGENCY relation (type x 24 cells, constant-size — never "
    "the fact table), so the margins cost nothing at any scale. All "
    "inputs are integer counts, combined through a fixed IEEE "
    "expression and rounded at 6dp — engine-identical; sum(chi2_term) "
    "vs the chi2(df=(R-1)(C-1)) critical value is the verdict and is "
    "cross-checked against scipy in tests",
)
def q_events_type_hour_chi2(spark, sf_dir):
    from pyspark.sql.window import Window

    e = load(spark, sf_dir, "events")
    o = e.groupBy("event_type", F.hour("ts").alias("hod")).agg(
        F.count(F.lit(1)).alias("obs")
    )
    # DENSIFY to the full type x 24 grid: a zero-observed cell still
    # contributes (0-E)^2/E = E to the statistic, and dropping it both
    # understates chi2 and breaks margin conservation. The grid comes
    # from an explode over the bounded distinct-types relation — a
    # map-side fan-out, not a cross join (which would plan a nested loop)
    grid = (
        e.select("event_type")
        .distinct()
        .select("event_type", F.explode(F.sequence(F.lit(0), F.lit(23))).alias("hod"))
    )
    full_o = grid.join(o, ["event_type", "hod"], "left").select(
        "event_type", "hod", F.coalesce(F.col("obs"), F.lit(0)).alias("obs")
    )
    m = full_o.select(
        "event_type",
        "hod",
        "obs",
        F.sum("obs").over(Window.partitionBy("event_type")).alias("row_total"),
        F.sum("obs").over(Window.partitionBy("hod")).alias("col_total"),
        F.sum("obs").over(Window.partitionBy()).alias("grand"),
    )
    expected = (F.col("row_total") * F.col("col_total")).cast("double") / F.col("grand")
    return m.select(
        "event_type",
        "hod",
        "obs",
        sql_round(expected, 6).alias("expected"),
        sql_round((F.col("obs") - expected) * (F.col("obs") - expected) / expected, 6).alias(
            "chi2_term"
        ),
    )


@register(
    "docs_token_entropy_by_lang",
    f"""
    WITH tok AS (
      SELECT lang, word, count(*) AS cnt
      FROM (
        SELECT lang,
               unnest(string_split_regex(lower(text), '{_WORD_SPLIT_SQL}')) AS word
        FROM documents
        WHERE NOT regexp_matches(text, '[0-9]')
      )
      WHERE word <> '' AND NOT regexp_matches(word, '^[0-9]+$')
      GROUP BY lang, word
    ),
    m AS (
      SELECT lang, word, cnt,
             sum(cnt) OVER (PARTITION BY lang) AS lang_total,
             count(*) OVER (PARTITION BY lang) AS vocab
      FROM tok
    )
    SELECT lang,
           max(vocab)::BIGINT AS vocab_size,
           max(lang_total)::BIGINT AS n_tokens,
           round(-CAST(sum(CAST(round((cnt / CAST(lang_total AS DOUBLE))
                                      * ln(cnt / CAST(lang_total AS DOUBLE)), 12)
                               AS DECIMAL(20,12))) AS DOUBLE), 6) AS token_entropy
    FROM m GROUP BY lang
    """,
    doc="Per-language token (Shannon) entropy — the diversity metric a "
    "training-data pipeline tracks per slice: a collapsing entropy "
    "means boilerplate/dedup failure upstream, and cross-language "
    "entropy gaps drive per-language sampling temperature. Build: one "
    "tokenize pass into (lang, word) counts (the word_count shuffle "
    "keyed wider), per-lang totals from a window over the vocab-bounded "
    "counts relation, then -sum(p ln p) per lang. Every p derives from "
    "integer counts through one division; each p*ln(p) TERM is rounded "
    "at 12dp and summed as an exact DECIMAL — a plain double sum over "
    "~1e4 addends would be partial-agg-order dependent (the same "
    "order-independence discipline as every money sum in this file, "
    "applied to transcendental terms)",
)
def q_docs_token_entropy_by_lang(spark, sf_dir):
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents").select("lang", "text")
    kept = T.drop_digit_lines(docs, "text")
    # explode_words projects the token alone; this build carries lang
    # through the explode (same explode_outer discipline, see
    # functions/text.explode_words docstring)
    tok = (
        kept.select("lang", F.explode_outer(T.words("text")).alias("word"))
        .where(~F.col("word").rlike("^[0-9]+$"))
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("lang")
    m = tok.select(
        "lang",
        "cnt",
        F.sum("cnt").over(w).alias("lang_total"),
        F.count(F.lit(1)).over(w).alias("vocab"),
    )
    p = F.col("cnt") / F.col("lang_total").cast("double")
    term = sql_round(p * F.log(p), 12).cast("decimal(20,12)")
    return m.groupBy("lang").agg(
        F.max("vocab").alias("vocab_size"),
        F.max("lang_total").alias("n_tokens"),
        sql_round(-F.sum(term).cast("double"), 6).alias("token_entropy"),
    )


@register(
    "streaming_attribution_last_touch",
    _ATTRIBUTION_SQL,
    doc="Last-touch attribution AS A STATEFUL STREAMING JOB "
    "(streaming/attribution_state.py): applyInPandasWithState keeps ONE "
    "short string of state per user (the most recent non-purchase "
    "touch) and emits (channel, value) per purchase — the custom "
    "stateful operator pattern for semantics session_window/"
    "dropDuplicates can't express. VALUE-oracled against the SAME SQL "
    "as the batch window twin: with per-user in-order arrival "
    "(availableNow over one ordered source) every purchase credits the "
    "identical channel, and the per-channel totals hash-match. State is "
    "live-user-bounded with event-time eviction; the ordering contract "
    "(per-key ordered upstream, or watermark-delayed per-batch sort) is "
    "documented in the module, not hidden",
    tags=("streaming",),
)
def q_streaming_attribution_last_touch(spark, sf_dir):
    from ..streaming.attribution_state import attribution_stream

    return attribution_stream(spark, sf_dir)


@register(
    "events_rolling_wau",
    """
    WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
    ex AS (
      SELECT unnest(generate_series(day, day + INTERVAL 6 DAY, INTERVAL 1 DAY))::DATE
               AS wday,
             user_id
      FROM du
    ),
    b AS (SELECT max(day) AS hi FROM du)
    SELECT wday, count(DISTINCT user_id)::BIGINT AS wau
    FROM ex, b WHERE wday <= b.hi
    GROUP BY wday
    """,
    doc="Rolling 7-day active users (WAU) per day — the flagship product "
    "health metric. The naive form is a RANGE join (every day joined to "
    "the 7 days around it), which Spark can only plan as a broadcast "
    "nested loop; the scale form used here EXPLODES each (day, user) "
    "contribution into the <=7 window days it serves, then one distinct "
    "count per window day — a map-side x7 fan-out of the already-"
    "compacted (day,user) relation followed by ONE shuffle, no join at "
    "all. Partial windows past the data's last day are dropped via a "
    "scalar max-day bound (a true ScalarSubquery); leading partial "
    "windows are the standard WAU convention (day 1's WAU is day 1's "
    "DAU). Exact distinct at test scale; the 100 TB swap to "
    "approx_count_distinct or a KMV merge is the documented variant",
)
def q_events_rolling_wau(spark, sf_dir):
    du = (
        load(spark, sf_dir, "events")
        .select(F.to_date("ts").alias("day"), "user_id")
        .distinct()
    )
    ex = du.select(
        F.explode(
            F.expr("sequence(day, day + interval 6 day, interval 1 day)")
        ).alias("wday"),
        "user_id",
    )
    hi = du.agg(F.max("day").alias("hi"))
    return (
        ex.where(F.col("wday") <= hi.scalar())
        .groupBy("wday")
        .agg(F.count_distinct("user_id").alias("wau"))
    )


def _dedup_summary_sql() -> str:
    from ..operators.dedup import minhash_lsh_candidates_sql

    return f"""
    WITH cand AS ({minhash_lsh_candidates_sql()}),
    near AS (
      SELECT count(*) AS n_pairs,
             count(DISTINCT doc_b) AS n_near_dup
      FROM cand
    ),
    ex AS (
      SELECT count(*) AS n_docs,
             count(DISTINCT md5(text)) AS n_unique_texts
      FROM documents
    )
    SELECT 'n_docs' AS metric, n_docs::BIGINT AS value FROM ex
    UNION ALL SELECT 'n_exact_dups', (n_docs - n_unique_texts)::BIGINT FROM ex
    UNION ALL SELECT 'n_near_dup_docs', n_near_dup::BIGINT FROM near
    UNION ALL SELECT 'n_candidate_pairs', n_pairs::BIGINT FROM near
    """


@register(
    "corpus_dedup_summary",
    _dedup_summary_sql(),
    doc="The dedup dashboard: corpus size, exact-duplicate count (md5 "
    "text identity), near-duplicate document count and candidate-pair "
    "count from the MinHash-LSH banding — the four numbers a corpus "
    "owner tracks per crawl to see duplication drift BEFORE paying for "
    "a full clustering pass. Composes the already-oracled components "
    "(dedup_exact's hash-groupBy, dedup_minhash_lsh's band join) into "
    "one long-format relation via unions of 1-row aggregates; every "
    "underlying shuffle is the component query's own, nothing new",
)
def q_corpus_dedup_summary(spark, sf_dir):
    from ..operators import dedup as D

    docs = load(spark, sf_dir, "documents")
    cand = D.minhash_lsh_candidates(docs)
    near = cand.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.count_distinct("doc_b").alias("n_near_dup"),
    )
    ex = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct(F.md5("text")).alias("n_unique_texts"),
    )

    def row(label, col, rel):
        return rel.select(F.lit(label).alias("metric"), F.col(col).cast("long").alias("value"))

    return (
        row("n_docs", "n_docs", ex)
        .union(
            ex.select(
                F.lit("n_exact_dups").alias("metric"),
                (F.col("n_docs") - F.col("n_unique_texts")).cast("long").alias("value"),
            )
        )
        .union(row("n_near_dup_docs", "n_near_dup", near))
        .union(row("n_candidate_pairs", "n_pairs", near))
    )


def _quantiles_hash_sampled_oracle() -> str:
    from ..sampling.deterministic import hash_bernoulli_sql

    keep = hash_bernoulli_sql("o_orderkey::VARCHAR", 0.3, seed=19)
    return f"""
    SELECT o_orderpriority,
           count(*)::BIGINT AS n_sampled,
           round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
           round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
           round(quantile_cont(o_totalprice, 0.99), 4) AS p99
    FROM orders WHERE {keep}
    GROUP BY o_orderpriority
    """


@register(
    "order_price_quantiles_hash_sampled",
    _quantiles_hash_sampled_oracle(),
    doc="Per-group quantiles from a DETERMINISTIC 30% hash sample — the "
    "AQP twin for ORDER STATISTICS, where the reference's estimator "
    "family (count/sum HT scale-ups) does not even apply: a sample "
    "quantile estimates the population quantile DIRECTLY, no 1/r "
    "factor, which is why quantiles are the friendliest aggregate to "
    "sample (the estimator is the identity). The hash filter sits in "
    "the scan, cutting the per-group sort input 3.3x; the exact "
    "interpolated percentile then runs on the sample — value-oracled "
    "end to end because sample membership is md5-frozen. Accuracy vs "
    "the exact twin asserted in tests (order-statistic error scales "
    "with 1/sqrt(n) density at the quantile, not with 1/r)",
    tags=("sampled",),
)
def q_order_price_quantiles_hash_sampled(spark, sf_dir):
    from ..sampling.deterministic import hash_bernoulli

    o = load(spark, sf_dir, "orders").withColumn(
        "__k", F.col("o_orderkey").cast("string")
    )
    s = hash_bernoulli(o, "__k", 0.3, seed=19)
    return s.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        sql_round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
        sql_round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
        sql_round(F.expr("percentile(o_totalprice, 0.99)"), 4).alias("p99"),
    )


def _char_count_hash_sampled_oracle() -> str:
    from ..sampling.deterministic import hash_bernoulli_sql

    keep = hash_bernoulli_sql("doc_id::VARCHAR", 0.1, seed=21)
    return f"""
    SELECT ch, count(*)::BIGINT AS cnt_sampled,
           CAST(count(*) * 10.0 AS DOUBLE) AS est_cnt
    FROM (SELECT unnest(string_split_regex(text, '')) AS ch
          FROM documents WHERE {keep})
    WHERE ch <> ''
    GROUP BY ch
    """


@register(
    "char_count_hash_sampled",
    _char_count_hash_sampled_oracle(),
    doc="randcharcount's sampled mode with the deterministic doc-level "
    "hash sample (10%, frozen md5) — the value-oracled twin completing "
    "the charcount family. The filter sits before the per-character "
    "explode, the single most amplifying transform in the engine "
    "(~1000 rows out per doc in), so the 10x input cut is a 10x cut of "
    "the explode AND the shuffle; HT 1/0.1 per character count",
    tags=("sampled",),
)
def q_char_count_hash_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sampling.deterministic import hash_bernoulli

    docs = load(spark, sf_dir, "documents").withColumn(
        "__k", F.col("doc_id").cast("string")
    )
    s = hash_bernoulli(docs, "__k", 0.1, seed=21).select("text")
    return (
        T.explode_chars(s, "text")
        .groupBy("ch")
        .agg(F.count(F.lit(1)).alias("cnt_sampled"))
        .select(
            "ch",
            "cnt_sampled",
            (F.col("cnt_sampled") * F.lit(10.0)).cast("double").alias("est_cnt"),
        )
    )


def _wireless_hash_sampled_oracle() -> str:
    from ..sampling.deterministic import hash_bernoulli_sql

    keep = hash_bernoulli_sql("event_id::VARCHAR", 0.1, seed=23)
    cte = WL.ORACLE_WIRELESS_CTE.replace(
        "FROM events", f"FROM (SELECT * FROM events WHERE {keep})"
    )
    return (
        cte
        + """
    SELECT greatest(snd_id, rcv_id) || '->' || least(snd_id, rcv_id) AS link,
           count(*)::BIGINT AS cnt_sampled,
           CAST(count(*) * 10.0 AS DOUBLE) AS est_cnt
    FROM wireless GROUP BY 1
    """
    )


@register(
    "wireless_links_hash_sampled",
    _wireless_hash_sampled_oracle(),
    doc="The wireless link-pair analysis from a deterministic 10% line "
    "sample — the value-oracled twin completing the wireless family: "
    "the hash filter runs before the CSV synthesize->parse round trip "
    "(the reference's skip-before-parse), HT 1/0.1 per canonical link",
    tags=("sampled",),
)
def q_wireless_links_hash_sampled(spark, sf_dir):
    from ..sampling.deterministic import hash_bernoulli

    e = load(spark, sf_dir, "events").withColumn(
        "__k", F.col("event_id").cast("string")
    )
    s = hash_bernoulli(e, "__k", 0.1, seed=23).drop("__k")
    return (
        WL.link_pairs(s)
        .withColumnRenamed("cnt", "cnt_sampled")
        .select(
            "link",
            "cnt_sampled",
            (F.col("cnt_sampled") * F.lit(10.0)).cast("double").alias("est_cnt"),
        )
    )


def _xml_hash_sampled_oracle() -> str:
    from ..sampling.deterministic import hash_bernoulli_sql

    keep = hash_bernoulli_sql("doc_id::VARCHAR", 0.25, seed=29)
    return f"""
    SELECT word, count(*)::BIGINT AS cnt_sampled,
           CAST(count(*) * 4.0 AS DOUBLE) AS est_cnt
    FROM (
      SELECT unnest(string_split_regex(lower(text), '{_WORD_SPLIT_SQL}')) AS word
      FROM documents WHERE {keep}
    )
    WHERE word <> '' AND NOT regexp_matches(word, '^[0-9]+$')
    GROUP BY word
    """


@register(
    "xml_page_words_hash_sampled",
    _xml_hash_sampled_oracle(),
    doc="The XML page workload from a deterministic 25% PAGE sample — the "
    "value-oracled twin completing the XML family (its engine-RNG "
    "sibling xml_page_words_sampled stays rows-only). Pages wrap "
    "documents one-to-one, so the page-level pick is a doc_id hash; the "
    "kept pages go through the full wrap->extract XML round trip "
    "(sample-before-extract, the RandomizedXMLRecordReader skip), and "
    "the oracle reproduces the identical sample on the parquet table. "
    "With this, EVERY reference workload family — word, char, log, "
    "wireless, XML, Q1 — has a value-oracled sampled twin",
    tags=("sampled",),
)
def q_xml_page_words_hash_sampled(spark, sf_dir):
    from ..sampling.deterministic import hash_bernoulli

    docs = load(spark, sf_dir, "documents").withColumn(
        "__k", F.col("doc_id").cast("string")
    )
    s = hash_bernoulli(docs, "__k", 0.25, seed=29).drop("__k")
    return (
        XP.page_word_counts(s)
        .withColumnRenamed("cnt", "cnt_sampled")
        .select(
            "word",
            "cnt_sampled",
            (F.col("cnt_sampled") * F.lit(4.0)).cast("double").alias("est_cnt"),
        )
    )


@register(
    "cohort_ltv_weekly",
    """
    WITH fs AS (
      SELECT user_id, min(date_trunc('week', ts)) AS cohort_week
      FROM events GROUP BY user_id
    ),
    p AS (
      SELECT e.user_id, fs.cohort_week,
             datediff('week', fs.cohort_week, date_trunc('week', e.ts)) AS offset_week,
             CAST(e.value AS DECIMAL(12,2)) AS v
      FROM events e JOIN fs ON e.user_id = fs.user_id
      WHERE e.event_type = 'purchase'
    ),
    w AS (
      SELECT cohort_week, offset_week,
             sum(v) AS rev, count(*) AS n_purchases
      FROM p GROUP BY cohort_week, offset_week
    )
    SELECT cohort_week, offset_week,
           n_purchases::BIGINT AS n_purchases,
           CAST(rev AS DOUBLE) AS week_revenue,
           CAST(sum(rev) OVER (PARTITION BY cohort_week ORDER BY offset_week
                               ROWS UNBOUNDED PRECEDING) AS DOUBLE)
             AS cumulative_ltv
    FROM w
    """,
    doc="Cohort lifetime value: purchase revenue by first-seen week x "
    "week offset, with the running cumulative LTV per cohort — the "
    "monetary companion to user_retention_cohorts and the table a "
    "growth team reads payback periods from. Shape: the first-seen "
    "relation groups and joins back on the SAME user_id key (one "
    "exchange reused, the retention pattern); the cumulative window "
    "runs over the cohort x offset relation, which is time-bounded "
    "(weeks squared), never the fact table. Revenue is exact decimal "
    "end to end — the cumulative sum is a decimal running total, so "
    "even the window's intermediate states are order-exact — cast to "
    "double only at output",
)
def q_cohort_ltv_weekly(spark, sf_dir):
    from pyspark.sql.window import Window

    e = load(spark, sf_dir, "events")
    fs = e.groupBy("user_id").agg(
        F.min(F.date_trunc("week", "ts")).alias("cohort_week")
    )
    p = (
        e.where(F.col("event_type") == "purchase")
        .join(fs, "user_id")
        .select(
            "cohort_week",
            (
                F.datediff(F.date_trunc("week", "ts"), F.col("cohort_week")) / 7
            ).cast("int").alias("offset_week"),
            _dec("value").alias("v"),
        )
    )
    w = p.groupBy("cohort_week", "offset_week").agg(
        F.sum("v").alias("rev"), F.count(F.lit(1)).alias("n_purchases")
    )
    cum = (
        Window.partitionBy("cohort_week")
        .orderBy("offset_week")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return w.select(
        "cohort_week",
        "offset_week",
        "n_purchases",
        F.col("rev").cast("double").alias("week_revenue"),
        F.sum("rev").over(cum).cast("double").alias("cumulative_ltv"),
    )


def _stratified_value_mean_oracle(drop_all_null_days: bool = False) -> str:
    """``drop_all_null_days``: the STREAMING twin pre-filters NULL values
    (an all-NULL day has no non-null moment to carry in state, so it
    never emits — documented at the filter site in
    streaming/sampled_stream.py), while batch weighted_mean keeps such a
    day with a NULL mean (avg semantics, ADVICE r8). The streaming
    registration passes True so its oracle matches its own contract
    instead of silently borrowing the batch one (review r9)."""
    from ..sampling import stats as _stats
    from ..sampling.deterministic import stratified_hash_weight_sql

    z = _stats.z_score(0.95)
    w_case = stratified_hash_weight_sql(
        "event_type", "event_id::VARCHAR", _STRAT_FRACTIONS, seed=11
    )
    # mirrors weighted_mean literally: value goes through DECIMAL cents
    # (exact), weights are exact doubles (2/5/20), every moment addend
    # is an exact integer-valued double (w(w-1)x^2 <= 380 * 1e8 per row,
    # sums < 2^53), so sums are order-independent; the delta-method
    # combine (A - 2mB + m^2 C)/(t1*t1) and the min(w) >= 1 guard use
    # the same literals and association as the Spark expression.
    return f"""
    WITH s AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
             CAST({w_case} AS DOUBLE) AS w
      FROM events
    ),
    k AS (SELECT d, CAST(cents AS DOUBLE) AS x, w FROM s
          WHERE w IS NOT NULL),
    a AS (SELECT d,
                 sum(w * x) AS tx,
                 sum(w) FILTER (WHERE x IS NOT NULL) AS t1,
                 sum(w * (w - 1.0) * x * x) AS ma,
                 sum(w * (w - 1.0) * x) AS mb,
                 sum(w * (w - 1.0)) FILTER (WHERE x IS NOT NULL) AS mc,
                 min(w) FILTER (WHERE x IS NOT NULL) AS minw,
                 count(x)::BIGINT AS n
          FROM k GROUP BY 1)
    SELECT d,
           tx / t1 AS est_mean,
           CASE WHEN minw >= 1.0 THEN
             {z!r} * sqrt(greatest(
               ma - 2.0 * (tx / t1) * mb + (tx / t1) * (tx / t1) * mc,
               0.0) / (t1 * t1)) END AS est_mean_ci,
           n AS n_sampled, (n < 100) AS low_support
    FROM a{" WHERE n > 0" if drop_all_null_days else ""}
    """


@register(
    "stratified_value_mean_hash_sampled",
    _stratified_value_mean_oracle(),
    doc="HT mean from a STRATIFIED sample, fully value-oracled (round 8: "
    "completes the weighted-estimator family — count/sum/quantile "
    "existed, the design-consistent mean did not; a plain avg of the "
    "sampled values is biased toward over-sampled strata). Daily mean "
    "event value in CENTS from the same deterministic stratified hash "
    "sample as the other stratified twins (rare types at 50%, bulk at "
    "5%, seed 11), via sampling/sampled_frame.weighted_mean = the "
    "ratio of HT sums with the Taylor delta-method CI "
    "Var ~= sum w(w-1)(x-m)^2 / (sum w)^2, computed single-pass from "
    "exact integer moments so both engines produce identical doubles. "
    "At uniform weights the width reduces to the classical z*s/sqrt(n) "
    "WITH the finite-population factor (pinned in tests); groups "
    "containing a weight < 1 get a NULL CI (honesty guard)",
    tags=("sampled",),
)
def q_stratified_value_mean_hash_sampled(spark, sf_dir):
    from ..sampling.deterministic import stratified_hash_weight
    from ..sampling.sampled_frame import weighted_mean

    e = load(spark, sf_dir, "events").withColumn(
        "__k", F.col("event_id").cast("string")
    )
    w = stratified_hash_weight("event_type", "__k", _STRAT_FRACTIONS, seed=11)
    s = (
        e.withColumn("w", w)
        .where(F.col("w").isNotNull())
        .select(
            F.to_date("ts").alias("d"),
            (_dec("value") * 100).cast("bigint").cast("double").alias("x"),
            "w",
        )
    )
    return weighted_mean(
        s, "x", "d", weight_col="w", min_support=100, ci_confidence=0.95,
        alias="est_mean",
    )


def _stratified_purchase_share_oracle() -> str:
    from ..sampling import stats as _stats
    from ..sampling.deterministic import stratified_hash_weight_sql

    z = _stats.z_score(0.95)
    w_case = stratified_hash_weight_sql(
        "event_type", "event_id::VARCHAR", _STRAT_FRACTIONS, seed=11
    )
    # mirrors weighted_ratio: R = purchase-value share of daily value;
    # x = cents for purchase events else 0, y = cents. Two-column
    # Taylor combine (Axx - 2R Axy + R^2 Ayy)/(ty*ty), same guard.
    return f"""
    WITH s AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
             (event_type = 'purchase') AS is_p,
             CAST({w_case} AS DOUBLE) AS w
      FROM events
    ),
    k AS (SELECT d,
                 CASE WHEN is_p THEN CAST(cents AS DOUBLE) ELSE 0.0 END AS x,
                 CAST(cents AS DOUBLE) AS y, w
          FROM s WHERE w IS NOT NULL),
    a AS (SELECT d,
                 sum(w * x) AS tx, sum(w * y) AS ty,
                 sum(w * (w - 1.0) * x * x) AS axx,
                 sum(w * (w - 1.0) * y * y) AS ayy,
                 sum(w * (w - 1.0) * x * y) AS axy,
                 min(w) AS minw, count(*)::BIGINT AS n
          FROM k GROUP BY 1)
    SELECT d,
           tx / ty AS est_ratio,
           CASE WHEN minw >= 1.0 THEN
             {z!r} * sqrt(greatest(
               axx - 2.0 * (tx / ty) * axy
                 + (tx / ty) * (tx / ty) * ayy,
               0.0) / (ty * ty)) END AS est_ratio_ci,
           n AS n_sampled, (n < 100) AS low_support
    FROM a
    """


@register(
    "stratified_purchase_share_hash_sampled",
    _stratified_purchase_share_oracle(),
    doc="HT ratio-of-sums from a STRATIFIED sample, fully value-oracled "
    "(round 8, the two-column completion of weighted_mean): the daily "
    "share of event value carried by purchase events, R = "
    "sum(w * purchase_cents) / sum(w * cents) via "
    "sampling/sampled_frame.weighted_ratio with the Taylor combine "
    "(Axx - 2R Axy + R^2 Ayy)/(sum wy)^2 over exact integer moments — "
    "a domain-share estimand the reference's global proportion bound "
    "cannot address per group. Same stratified design, determinism "
    "discipline, and weight-honesty guard as the mean twin",
    tags=("sampled",),
)
def q_stratified_purchase_share_hash_sampled(spark, sf_dir):
    from ..sampling.deterministic import stratified_hash_weight
    from ..sampling.sampled_frame import weighted_ratio

    e = load(spark, sf_dir, "events").withColumn(
        "__k", F.col("event_id").cast("string")
    )
    w = stratified_hash_weight("event_type", "__k", _STRAT_FRACTIONS, seed=11)
    cents = (_dec("value") * 100).cast("bigint").cast("double")
    s = (
        e.withColumn("w", w)
        .where(F.col("w").isNotNull())
        .select(
            F.to_date("ts").alias("d"),
            F.when(F.col("event_type") == "purchase", cents)
            .otherwise(F.lit(0.0))
            .alias("x"),
            cents.alias("y"),
            "w",
        )
    )
    return weighted_ratio(
        s, "x", "y", "d", weight_col="w", min_support=100, ci_confidence=0.95,
        alias="est_ratio",
    )


@register(
    "streaming_stratified_mean",
    _stratified_value_mean_oracle(drop_all_null_days=True),
    doc="The HT mean WITH its Taylor CI as a STREAMING JOB, value-oracled "
    "against the batch twin's SQL restricted to days with >= 1 non-null "
    "value (the stream's own contract: an all-NULL day has no non-null "
    "moment to carry in state and never emits, while batch weighted_mean "
    "keeps it with a NULL mean): everything the interval needs is a sum — tx, t1, "
    "the three delta-method moments, min(w), row count — so streaming "
    "state is one row of seven exact moments per day forever, and the "
    "est/CI combine is a stateless projection over the complete-mode "
    "aggregate. availableNow drains the verification corpus; stream == "
    "batch by construction (streaming/sampled_stream."
    "stratified_weighted_mean_stream). Production swaps the trigger "
    "for processing-time to keep an always-current mean-with-interval "
    "of a firehose",
    tags=("streaming", "sampled"),
)
def q_streaming_stratified_mean(spark, sf_dir):
    from ..streaming.sampled_stream import stratified_weighted_mean_stream

    return stratified_weighted_mean_stream(spark, sf_dir, _STRAT_FRACTIONS)
