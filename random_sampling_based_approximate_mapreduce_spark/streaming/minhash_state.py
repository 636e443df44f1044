"""Stateful streaming MinHash near-dedup: band matching ACROSS micro-batches.

``dedup_stream_near`` (sampled_stream.py) catches formatting-noise dups via
an exact fingerprint; this module catches genuinely NEAR duplicates (high
word-shingle Jaccard, different fingerprints) at ingest time, keeping LSH
band-bucket state across micro-batches with ``applyInPandasWithState``.

Design (and why it is streaming-legal):

- The batch signature pipeline (operators/dedup.minhash_signatures) uses an
  explode + groupBy — a second stateful operator a stream cannot stack
  under ``applyInPandasWithState``. Here the signature is a pure per-row
  column expression chain instead: tokens -> shingles -> hashed shingle
  array -> NUM_HASHES affine mins. Each step is its own projection
  attribute, so the md5 hashing runs once per shingle even though 12
  ``array_min(transform(...))`` expressions reference it (Catalyst does no
  CSE across lambda boundaries; CollapseProject keeps multiply-referenced
  non-cheap aliases materialized).
- Band keys are built with the SAME geometry and coefficient family as the
  batch ``lsh_band_keys`` (4 bands x 3 rows, seed-frozen coefficients), so
  stream and batch signatures agree value-for-value — tested, and the
  basis of the DuckDB value oracle below.
- The only stateful operator is one ``applyInPandasWithState`` grouped by
  (band, key): state = the first document ever seen in that bucket. Each
  incoming (doc, band) row is emitted with the bucket owner; a doc whose
  owner differs in any band is a near-dup of that owner. Event-time
  timeout evicts buckets the watermark has passed — state size tracks the
  duplicate-arrival window, not history (same discipline as
  ``dedup_stream``).

Oracle identity (what makes this value-checkable): with event time
monotone in doc_id, a doc's final ``dup_of`` = min bucket-owner over its
bands = min doc_a over batch LSH candidate pairs (doc_a < doc_b) — i.e.

    SELECT doc_b AS doc_id, min(doc_a) AS dup_of FROM candidates GROUP BY doc_b

which DuckDB computes from the same shingle/hash algebra
(operators/dedup.minhash_lsh_candidates_sql). The reference has no
streaming at all (SURVEY.md §2.5 "absent"); this is the engine's forward
extension of its sampling-era design to continuous ingest.

At 100 TB/day: the signature chain is narrow per-row work at the scan; the
single shuffle is the (band, key) exchange; state is one long per live
bucket, bounded by the watermark horizon. Skewed buckets (boilerplate
shingles) are the known hazard — the band key includes ROWS_PER_BAND
min-hashes, which keeps buckets sharp; a per-bucket cardinality cap is the
production guard if a degenerate corpus shows up.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as T
from ..functions.hashing import MERSENNE_P, hash64, minhash_coefficients
from ..operators.dedup import NUM_BANDS, NUM_HASHES, ROWS_PER_BAND, SHINGLE_K
from ..sources.tables import parquet_schema

_STATE_TTL_MS = 7 * 24 * 3600 * 1000  # evict buckets 7 days past the watermark


def band_keys_stream(
    stream: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str = "ts",
) -> DataFrame:
    """(id, ts, band, key) rows from per-row MinHash banding — stateless.

    Matches operators/dedup.lsh_band_keys value-for-value (same tokenizer,
    shingle size, hash, coefficients, band layout) without the groupBy.
    """
    coeffs = minhash_coefficients(NUM_HASHES)

    def perm(a: int, b: int):
        # single-parameter lambda: a 2-arg lambda means (element, index)
        return lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MERSENNE_P)

    sig = [F.array_min(F.transform(F.col("__h"), perm(a, b))) for a, b in coeffs]
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    ",",
                    *[
                        F.element_at(F.col("__sig"), b * ROWS_PER_BAND + r + 1).cast("string")
                        for r in range(ROWS_PER_BAND)
                    ],
                ).alias("key"),
            )
            for b in range(NUM_BANDS)
        ]
    )
    return (
        stream.withColumn("__toks", T.word_tokens(F.col(text_col)))
        .withColumn("__sh", T.shingles_from_tokens(F.col("__toks"), SHINGLE_K))
        .withColumn("__h", F.transform("__sh", lambda s: hash64(s) % F.lit(MERSENNE_P)))
        .withColumn("__sig", F.array(*sig))
        .select(
            F.col(id_col), F.col(ts_col), F.explode_outer(bands).alias("bk")
        )
        .select(id_col, ts_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
        # empty-shingle docs produce all-null sigs -> concat_ws "" keys;
        # filtered here on the POST-explode attribute (nothing expensive
        # can be substituted into a pushed filter below the generate).
        .where(F.col("key") != "")
    )


def dedup_stream_minhash(
    stream: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str = "ts",
    watermark: str = "1 hour",
    bucket_cap: int = 100_000,
) -> DataFrame:
    """Streaming near-dup verdicts: one row per (doc, band) with the
    band-bucket's first-seen owner carried across micro-batches.

    Output: (doc_id long, band int, owner long). ``owner == doc_id`` means
    this doc claimed the bucket; ``owner != doc_id`` flags a near-dup of
    ``owner``; ``owner`` null means the bucket blew past ``bucket_cap``.

    ``bucket_cap`` is the skew guard: a degenerate band key (boilerplate
    shingles — think a million near-identical license headers) would
    otherwise route unbounded traffic through one state bucket AND emit a
    verdict row per arrival forever. Past the cap the bucket emits null
    owners — its verdicts are noise anyway (everything matches
    everything) — and the per-doc rollup simply ignores that band; the
    other bands still vote. Exact-duplicate floods belong to the cheaper
    fingerprint dedup upstream (dedup_stream_near). The default cap is
    far above any sane bucket occupancy, so it never fires on honest
    corpora (and never perturbs the value oracle).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    bands = band_keys_stream(stream, text_col, id_col, ts_col)

    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("band", IntegerType()),
            StructField("owner", LongType()),
        ]
    )
    state_schema = StructType(
        [StructField("owner", LongType()), StructField("cnt", LongType())]
    )

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        band = key[0]
        rows = pd.concat(list(pdfs), ignore_index=True)
        # deterministic first-seen within a micro-batch: event time, then id
        rows = rows.sort_values([ts_col, id_col], kind="stable")
        owner, cnt = state.get if state.exists else (None, 0)
        doc_ids, owners = [], []
        for doc in rows[id_col]:
            cnt += 1
            if owner is None:
                owner = int(doc)
            doc_ids.append(int(doc))
            owners.append(owner if cnt <= bucket_cap else None)
        state.update((owner, cnt))
        state.setTimeoutTimestamp(max(state.getCurrentWatermarkMs(), 1) + _STATE_TTL_MS)
        yield pd.DataFrame(
            {"doc_id": doc_ids, "band": [band] * len(doc_ids), "owner": owners}
        ).astype({"owner": "object"})

    return (
        bands.withWatermark(ts_col, watermark)
        .groupBy(F.col("band"), F.col("key"))
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def dup_rollup(verdicts: DataFrame) -> DataFrame:
    """Batch rollup of a collected verdict table: flagged docs only,
    (doc_id, dup_of) with dup_of = min owner over matching bands."""
    return (
        verdicts.where(F.col("owner") != F.col("doc_id"))
        .groupBy("doc_id")
        .agg(F.min("owner").alias("dup_of"))
    )


def dedup_minhash_stream_run(spark, sf_dir: str) -> DataFrame:
    """Run streaming MinHash dedup over the documents table AS A REAL
    STREAMING JOB (file source -> stateful band matching -> memory sink,
    availableNow) and return the flagged-doc rollup.

    Event time is synthesized monotone in doc_id (ingest order), which
    pins the first-seen owner of every bucket to the min doc_id — making
    the result value-checkable against the batch LSH-candidate SQL.
    """
    import hashlib

    from ..sources.tables import ensure_layout, load

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    # race-safe one-time materialization via ensure_layout (review r8):
    # writing straight to the final path let two concurrent sessions
    # overwrite each other's in-flight output under one _SUCCESS marker
    src = ensure_layout(
        f"/tmp/rsmr_stream_docs_{key}",
        lambda staging: load(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "text",
            (F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id"))).alias("ts"),
        )
        # one file -> one deterministic micro-batch; multi-batch state
        # carry-over is exercised explicitly in tests
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(staging),
    )
    schema = parquet_schema(spark, src)
    stream = spark.readStream.schema(schema).parquet(src)
    verdicts = dedup_stream_minhash(stream, watermark="365 days")
    name = "rsmr_stream_minhash_dedup"
    q = (
        verdicts.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return dup_rollup(spark.table(name))


def dedup_minhash_stream_sql() -> str:
    """DuckDB mirror: min LSH-candidate partner per flagged doc."""
    from ..operators.dedup import minhash_lsh_candidates_sql

    return f"""
    SELECT doc_b::BIGINT AS doc_id, min(doc_a)::BIGINT AS dup_of
    FROM ({minhash_lsh_candidates_sql()})
    GROUP BY doc_b
    """
