"""Structured Streaming surface of the engine.

The reference is batch-only (job.waitForCompletion, RandomizedWordCount.
java:97); this module is the engine's forward extension: the same
sample -> transform -> estimate pipeline over unbounded input.

Design: Spark disallows the Sample operator on streams, so streaming
Bernoulli sampling is a stateless HASH-based filter — accept a row iff
``pmod(xxhash64(row, seed), M) < ratio*M``. Deterministic (replayable
across micro-batch retries, which a RNG sample would not be), uniform for
distinct rows, and it drops rows at ingest before any stateful operator —
cutting state size and shuffle exactly as the batch engine cuts scan cost.
Watermarked windows bound state at 100 TB/day rates; HT scale-up is
applied inside the windowed aggregate exactly as in batch (A6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sampling.config import SamplingConfig
from ..sources.tables import parquet_schema


_HASH_BUCKETS = 1_000_000


from contextlib import contextmanager


@contextmanager
def _state_partitions(spark):
    """Production state-store partition knob (VERDICT r16 item 9).

    A streaming query's state-store partition count is fixed at FIRST
    start from ``spark.sql.shuffle.partitions`` (and pinned thereafter by
    the checkpoint), so the right value is a per-deployment throughput
    decision: state partitions ~ peak distinct-key state / target
    partition size, NOT the verification run's core count. This knob
    applies ``RSMR_STREAM_STATE_PARTITIONS`` (env) or
    ``spark.rsmr.stream.statePartitions`` (conf) around stream start and
    restores the session default afterwards.

    DEFAULT: unset — the session's shuffle-partition setting stands,
    and bench.py never sets it (a local-core-count-tuned value would be
    exactly the config-only "win" the optimization rounds exclude;
    measured for the record: 8 state partitions halve the sf0.1
    streaming_events_hourly wall time, r16 rejected experiment #8).
    """
    import os

    raw = os.environ.get("RSMR_STREAM_STATE_PARTITIONS")
    if raw is None:
        try:
            raw = spark.conf.get("spark.rsmr.stream.statePartitions")
        except Exception:
            raw = None
    try:
        n = int(raw) if raw is not None else 0
    except (TypeError, ValueError):
        n = 0  # malformed knob: ignore rather than fail the stream
    if n <= 0:
        yield
        return
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def sample_stream(
    stream: DataFrame,
    config: SamplingConfig | None = None,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Hash-based Bernoulli sampling for streams (Sample is batch-only).

    Accept a row iff ``pmod(xxhash64(keys, seed), M) < ratio*M``.
    Deterministic across micro-batch replays (exactly-once safe), uniform
    over distinct key tuples. ``key_cols`` defaults to all columns;
    identical rows sample identically (document if rows can repeat).
    Exact mode (1.0) adds no filter (SampledFrame discipline; streams
    track counts via their windowed aggregates, Observations are
    batch-only).
    """
    cfg = config or SamplingConfig()
    ratio = cfg.resolve()
    if ratio >= 1.0:
        return stream
    cols = key_cols or stream.columns
    h = F.xxhash64(*[F.col(c) for c in cols], F.lit(cfg.seed if cfg.seed is not None else 0))
    from ..sampling.deterministic import bucket_threshold

    return stream.where(
        F.pmod(h, F.lit(_HASH_BUCKETS)) < bucket_threshold(ratio, _HASH_BUCKETS)
    )


def windowed_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    watermark: str = "10 minutes",
    ratio: float = 1.0,
) -> DataFrame:
    """Watermarked tumbling-window counts with HT scale-up.

    Late rows beyond ``watermark`` are dropped and their window state
    evicted — bounded state at any input rate. ``est_cnt`` scales the
    sampled count back to the population (A6); at ratio=1.0 it is exact.
    """
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), F.col(key_col))
        .agg((F.count(F.lit(1)) / F.lit(ratio)).alias("est_cnt"))
        .select(F.col("win.start").alias("window_start"), key_col, "est_cnt")
    )


def sampled_windowed_counts(
    stream: DataFrame,
    config: SamplingConfig,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """sample -> window -> HT-scale, fused: the streaming twin of the
    batch SampledFrame.approx_count over event-time windows."""
    ratio = config.resolve()
    return windowed_counts(
        sample_stream(stream, config), ts_col, key_col, window, watermark, ratio=ratio
    )


def dedup_stream(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Exact streaming deduplication with BOUNDED state.

    ``dropDuplicatesWithinWatermark``: a key's state is evicted once the
    watermark passes it, so state size tracks the duplicate-arrival window
    — the training-ingest dedup shape (the same document re-crawled within
    hours, not months). For full-history dedup run the batch operators
    over the accumulated table instead; unbounded streaming state is the
    wrong tool at 100 TB/day.
    """
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(key_cols)


def dedup_stream_near(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming NEAR-dup drop: canonical fingerprint (lowercase, punct
    stripped, whitespace collapsed — functions.text.fingerprint) computed
    as a column expression ON THE STREAM, then watermark-bounded dedup on
    it. Catches the re-crawled-with-formatting-noise case at ingest;
    deeper MinHash-band matching stays a batch pass over the accumulated
    table (ROUND1_NOTES #5 tracks the stateful-banding variant).
    """
    from ..functions.text import fingerprint

    fp = stream.withColumn("__fp", fingerprint(F.col(text_col)))
    return (
        fp.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["__fp"])
        .drop("__fp")
    )


def events_hourly_stream(spark, sf_dir: str, *, sampled: bool = False, ratio: float = 0.1):
    """Run the hourly events rollup AS A REAL STREAMING JOB and return the
    final result as a batch DataFrame.

    File source -> (optional hash sample) -> windowed agg -> memory sink,
    ``availableNow`` trigger (process everything, then stop). Complete
    output mode so every window is present — which makes the exact variant
    verifiable value-for-value against the batch SQL oracle: the
    stream/batch parity the Structured Streaming model guarantees.

    At cluster scale the memory sink becomes a Delta/Kafka sink and the
    trigger a continuous micro-batch; the plan (source -> stateful window
    agg) is unchanged. State stays bounded per trigger because windows
    group ~hours, not rows.
    """
    name = "rsmr_stream_events_hourly" + ("_sampled" if sampled else "")
    src = _stream_source_dir(spark, sf_dir)
    schema = parquet_schema(spark, src)
    stream = spark.readStream.schema(schema).parquet(src)
    if sampled:
        stream = sample_stream(stream, SamplingConfig(ratio=ratio, seed=42), key_cols=["event_id"])
        scale = 1.0 / ratio
    else:
        scale = 1.0
    agg = (
        stream.groupBy(F.window(F.col("ts"), "1 hour").alias("win"), F.col("event_type"))
        .agg(
            (F.count(F.lit(1)) * F.lit(scale)).cast("double").alias("raw_cnt"),
            (F.sum(F.col("value").cast("decimal(12,2)")) * F.lit(scale)).cast("double").alias("total_value"),
        )
    )
    with _state_partitions(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    cnt = (
        F.col("raw_cnt").cast("long").alias("cnt")
        if not sampled
        else F.col("raw_cnt").alias("est_cnt")
    )
    return spark.table(name).select(
        F.col("win.start").alias("hour"), "event_type", cnt, "total_value"
    )


def user_sessions_stream(spark, sf_dir: str) -> DataFrame:
    """Event-time sessionization AS A STREAMING JOB via the NATIVE
    ``session_window`` operator (gap 30 min), returning the final session
    table as a batch DataFrame.

    Semantics pinned empirically (and encoded in the SQL oracle): two
    events merge into one session iff their gap is <= the 30-minute gap
    duration (boundary-inclusive — an exactly-30:00 gap merges), and a
    session's window end is its LAST event's time + gap. That makes the
    result identical to the batch gaps-and-islands form (catalog
    ``user_sessions``), with start = min(ts), end = max(ts) + gap per
    island — the stream/batch parity this query value-checks.

    Complete output mode + availableNow: every session is present at
    termination, which is what makes the finite verification run exactly
    reproducible. At 100 TB/day the production form is
    ``withWatermark(ts, horizon)`` + append mode, where a session is
    emitted (and its state evicted) once the watermark passes its close —
    state is bounded by the live-session horizon, not history; the
    merging-session state store and the plan are identical in both modes.
    """
    src = _stream_source_dir(spark, sf_dir)
    schema = parquet_schema(spark, src)
    stream = spark.readStream.schema(schema).parquet(src)
    agg = (
        stream.groupBy(
            F.session_window(F.col("ts"), "30 minutes").alias("w"),
            F.col("user_id"),
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total_value"),
        )
    )
    name = "rsmr_stream_user_sessions"
    with _state_partitions(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name).select(
        "user_id",
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        "n_events",
        "total_value",
    )


def _stream_source_dir(spark, sf_dir: str) -> str:
    """Materialize the events table (ts already converted from parquet
    nanos) as a parquet DIRECTORY the file-stream source can read.
    Written once per sf_dir, cached under /tmp."""
    import hashlib
    import os

    from ..sources.tables import load

    from ..sources.tables import ensure_layout

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    out = f"/tmp/rsmr_stream_src_{key}"
    return ensure_layout(
        out,
        lambda staging: load(spark, sf_dir, "events")
        .write.mode("overwrite")
        .parquet(staging),
    )


def running_totals_stateful(
    stream: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Custom stateful operator: running per-key (count, sum) via
    applyInPandasWithState — the engine's template for operators Spark's
    built-ins can't express (arbitrary per-key state machines).

    Output one row per key per micro-batch with the cumulative totals.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("key", StringType()),
            StructField("total_count", LongType()),
            StructField("total_value", DoubleType()),
        ]
    )
    state_schema = StructType(
        [StructField("cnt", LongType()), StructField("sum", DoubleType())]
    )

    def update(key, pdfs, state: GroupState):
        cnt, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            cnt += len(pdf)
            total += float(pdf[value_col].sum())
        state.update((cnt, total))
        import pandas as pd

        yield pd.DataFrame({"key": [key[0]], "total_count": [cnt], "total_value": [total]})

    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.col(key_col))
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def value_psi_counts_stream(spark, sf_dir: str) -> "DataFrame":
    """PSI drift monitor AS A STREAMING JOB: the per-bucket ref/current
    conditional counts run as a streaming aggregate (complete mode), so
    the drift gate updates continuously as event files arrive instead of
    re-scanning history per check.

    Returns the final (bucket, n_ref, n_cur) counts table after an
    availableNow run — the batch PSI post-processing
    (plans.catalog.psi_from_counts) turns it into the statistic, which
    makes the stream result VALUE-comparable to the batch oracle: the
    streaming aggregate's state is exactly the 10-row bucket relation,
    and complete mode emits it whole at termination. Production: the
    same query with a processing-time trigger feeds the monitor table;
    state stays bucket-bounded forever (counts, not events).
    """
    from pyspark.sql import functions as F

    from ..operators.quality import psi_bucketize

    src = _stream_source_dir(spark, sf_dir)
    schema = parquet_schema(spark, src)
    stream = spark.readStream.schema(schema).parquet(src)
    agg = psi_bucketize(stream).groupBy("bucket").agg(
        F.sum("is_ref").alias("n_ref"),
        F.sum(F.lit(1) - F.col("is_ref")).alias("n_cur"),
    )
    name = "rsmr_stream_value_psi"
    with _state_partitions(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


def stratified_weighted_counts_stream(
    spark, sf_dir: str, fractions: dict, seed: int = 11
) -> "DataFrame":
    """Stratified-sampling estimation AS A STREAMING JOB: the
    deterministic per-stratum hash-Bernoulli keep/weight decision is a
    map-side CASE on the stream (the same md5 chain as the batch twin,
    so membership is reproducible row-for-row), and the weighted-count /
    weighted-sum estimates run as a streaming aggregate in complete
    mode. State is ONE ROW PER STRATUM forever (counts and sums, never
    events) — the streaming answer to 'keep an always-current estimate
    of a firehose without re-scanning history'.

    Returns the final (event_type, n_sampled, est_cnt, est_value_sum)
    table after an availableNow run, value-comparable to the SAME DuckDB
    oracle as the batch twin (stratified_events_hash_sampled): complete
    mode emits the whole bounded state at termination, so stream ==
    batch by construction. Production: a processing-time trigger feeding
    the estimates table.
    """
    from pyspark.sql import functions as F

    from ..sampling.deterministic import stratified_hash_weight

    src = _stream_source_dir(spark, sf_dir)
    schema = parquet_schema(spark, src)
    stream = spark.readStream.schema(schema).parquet(src)
    keyed = stream.withColumn("__k", F.col("event_id").cast("string"))
    w = stratified_hash_weight("event_type", "__k", fractions, seed=seed)
    s = keyed.withColumn("w", w).where(F.col("w").isNotNull())
    agg = s.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum("w").cast("double").alias("est_cnt"),
        F.sum(F.col("w") * F.col("value").cast("decimal(12,2)"))
        .cast("double")
        .alias("est_value_sum"),
    )
    name = "rsmr_stream_stratified_counts"
    with _state_partitions(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


def stratified_weighted_mean_stream(
    spark, sf_dir: str, fractions: dict, seed: int = 11,
    confidence: float = 0.95, min_support: int = 100,
) -> "DataFrame":
    """The HT MEAN estimator with its Taylor CI as a streaming job — the
    streaming twin of ``sampled_frame.weighted_mean`` over the same
    deterministic stratified hash sample (round 8; the counts/sums twin
    is ``stratified_weighted_counts_stream``).

    Everything the interval needs is a SUM — tx, t1, the three
    delta-method moments A/B/C, min(w), and the row count — so the
    streaming state is ONE ROW OF SEVEN EXACT MOMENTS PER GROUP (day)
    forever, and the est/CI combine is a stateless projection over the
    complete-mode aggregate. Both are ``weighted_mean``'s own, built
    over the stream. Value goes through DECIMAL cents so every moment
    addend is an exact integer-valued double, so the availableNow run
    hash-matches the SAME DuckDB oracle as the batch twin
    (stratified_value_mean_hash_sampled) — stream == batch by
    construction. Production swaps the trigger for processing-time to
    keep an always-current mean-with-interval of a firehose.
    """
    from ..sampling.deterministic import stratified_hash_weight
    from ..sampling.sampled_frame import weighted_mean

    src = _stream_source_dir(spark, sf_dir)
    schema = parquet_schema(spark, src)
    stream = spark.readStream.schema(schema).parquet(src)
    keyed = stream.withColumn("__k", F.col("event_id").cast("string"))
    w = stratified_hash_weight("event_type", "__k", fractions, seed=seed)
    s = (
        keyed.withColumn("w", w)
        .where(F.col("w").isNotNull())
        .select(
            F.to_date("ts").alias("d"),
            (F.col("value").cast("decimal(12,2)") * 100)
            .cast("bigint")
            .cast("double")
            .alias("x"),
            F.col("w").cast("double").alias("w"),
        )
        # KNOWN divergence (documented): the batch twin keeps a group
        # whose values are ALL NULL (NULL mean, avg semantics); this
        # pre-filter drops it — an all-NULL group has no non-null moment
        # to carry in streaming state, so it simply never emits
        .where(F.col("x").isNotNull())
    )
    out = weighted_mean(
        s, "x", "d", weight_col="w", min_support=min_support,
        ci_confidence=confidence, alias="est_mean",
    )
    name = "rsmr_stream_stratified_mean"
    with _state_partitions(spark):
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)
