"""Stateful streaming last-touch attribution via applyInPandasWithState.

The batch twin (catalog purchase_attribution_last_touch) computes each
purchase's crediting channel with a window over the user's full history;
a stream cannot window over history, but the SAME semantics need only
ONE value of state per user: the most recent non-purchase event type.
That is the canonical ``applyInPandasWithState`` shape — per-key scalar
state, emit-on-trigger — and the custom stateful operator pattern the
engine uses when built-ins (session_window, dropDuplicates) don't fit.

Ordering contract: attribution is order-SENSITIVE (the touch must
precede the purchase). Within a micro-batch the update function sorts
each user's rows by (ts, event_id) — deterministic; ACROSS micro-batches
the file source replays in file order, and the verification run uses
availableNow over a single source directory so each user's history
arrives in order. In production the guarantee comes from the upstream
log (per-key ordered Kafka partitions) or a watermark-delayed sort per
batch; out-of-order arrivals would mis-attribute exactly as they would
in any online attribution system — documented, not hidden.

State: one short string per user (last touch) — bounded by the live-user
count, evicted by event-time timeout past the watermark horizon. The
emitted rows are (channel, value) per purchase; the channel totals are a
plain batch aggregate over the collected sink table.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.tables import parquet_schema

_STATE_TTL_MS = 7 * 24 * 3600 * 1000


def attribution_stream(spark, sf_dir: str) -> DataFrame:
    """Run last-touch attribution AS A STREAMING JOB over the events table
    (file source -> per-user stateful touch tracking -> memory sink,
    availableNow) and return the per-channel totals as a batch DataFrame.

    Value-oracle identity: with per-user in-order arrival (availableNow,
    single ordered source), every purchase is credited to the same
    channel the batch window form computes, so the totals hash-match the
    purchase_attribution_last_touch SQL.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import DoubleType, StringType, StructField, StructType

    from .sampled_stream import _stream_source_dir

    src = _stream_source_dir(spark, sf_dir)
    schema = parquet_schema(spark, src)
    # Ordering enforcement (ADVICE r4): the value-oracle identity needs
    # each user's history sorted within ONE micro-batch; maxFilesPerTrigger
    # must therefore stay UNSET here (a file source with availableNow and
    # no file cap drains the directory in a single batch). The post-run
    # batch-count assertion below turns a silent mis-attribution into a
    # loud failure if someone sets it globally.
    stream = spark.readStream.schema(schema).option("latestFirst", "false").parquet(src)

    out_schema = StructType(
        [StructField("channel", StringType()), StructField("value", DoubleType())]
    )
    state_schema = StructType([StructField("last_touch", StringType())])

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["ts", "event_id"], kind="stable")
        (last_touch,) = state.get if state.exists else (None,)
        channels, values = [], []
        for etype, value in zip(rows["event_type"], rows["value"]):
            if etype == "purchase":
                channels.append(last_touch if last_touch is not None else "direct")
                # a NULL purchase value arrives from Arrow as NaN; emit
                # None so the downstream decimal sum null-skips like the
                # batch twin (review r8: float NaN through an ANSI
                # decimal cast kills the whole query)
                v = float(value)
                values.append(None if v != v else v)
            else:
                last_touch = etype
        state.update((last_touch,))
        state.setTimeoutTimestamp(max(state.getCurrentWatermarkMs(), 1) + _STATE_TTL_MS)
        if channels:
            yield pd.DataFrame({"channel": channels, "value": values})

    per_purchase = (
        stream.select("user_id", "ts", "event_id", "event_type", "value")
        .withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    name = "rsmr_stream_attribution"
    q = (
        per_purchase.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    data_batches = sum(
        1 for p in q.recentProgress if (p.get("numInputRows") or 0) > 0
    )
    if data_batches > 1:
        raise RuntimeError(
            f"attribution_stream processed {data_batches} micro-batches; the "
            "order-sensitive last-touch contract holds only when availableNow "
            "drains the source in ONE batch (is maxFilesPerTrigger set "
            "globally?). Unset it, or pre-sort the source files by min "
            "event time before splitting them across batches."
        )
    return (
        spark.table(name)
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias(
                "attributed_value"
            ),
        )
    )
