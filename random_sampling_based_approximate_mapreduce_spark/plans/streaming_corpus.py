"""Structured Streaming jobs (availableNow, stream/batch parity) and corpus preparation (PII, packing, boilerplate, keep-best).

Split out of the single-file catalog (round 8, VERDICT r7 item 6);
query text is unchanged. Entries self-register into the shared
``QUERIES`` registry on import — ``plans.catalog`` imports every
family module in the original source order.
"""

from __future__ import annotations

from ._base import (
    F,
    T,
    _CHEAP_PIPE_BYTES,
    _FP_SQL,
    _TOKEN_COUNT_SQL,
    _WORD_SPLIT_SQL,
    ensure_parallelism,
    load,
    register,
)
from ..session import reuse_barrier

# ===========================================================================
# 11. Structured Streaming (real streaming jobs run to completion with an
#     availableNow trigger; the exact variant is value-oracle-checked —
#     stream/batch parity)
# ===========================================================================


@register(
    "streaming_events_hourly",
    """
    SELECT date_trunc('hour', ts) AS hour, event_type,
           count(*)::BIGINT AS cnt,
           CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
    doc="Hourly rollup AS A STREAMING JOB (file source -> windowed agg -> "
    "memory sink, availableNow); exact stream/batch parity vs the SQL oracle",
)
def q_streaming_events_hourly(spark, sf_dir):
    from ..streaming.sampled_stream import events_hourly_stream

    return events_hourly_stream(spark, sf_dir, sampled=False)


@register(
    "streaming_user_sessions",
    """
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       <= 1800000000 THEN 0 ELSE 1 END AS is_new,
             event_id
      FROM events
    ),
    sess AS (
      SELECT user_id, ts, value,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*)::BIGINT AS n_events,
           CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM sess GROUP BY user_id, sid
    """,
    doc="Event-time sessionization AS A STREAMING JOB via the native "
    "session_window operator (30-min gap, merging-session state store). "
    "VALUE-oracled: session merge is boundary-INCLUSIVE (an exactly-30:00 "
    "gap merges — pinned empirically) and window end = last event + gap, "
    "so the stream result equals the batch gaps-and-islands form with "
    "end = max(ts) + gap; batch twin is user_sessions. Complete mode + "
    "availableNow for the finite verification run; production = "
    "watermark + append (state bounded by the live-session horizon)",
    tags=("streaming",),
)
def q_streaming_user_sessions(spark, sf_dir):
    from ..streaming.sampled_stream import user_sessions_stream

    return user_sessions_stream(spark, sf_dir)


@register(
    "streaming_sampled_hourly",
    None,
    doc="Streaming hash-Bernoulli sample (replay-deterministic) -> windowed "
    "agg with HT scale-up; accuracy asserted in tests (non-SQL-oracle-able)",
    tags=("sampled", "streaming"),
)
def q_streaming_sampled_hourly(spark, sf_dir):
    from ..streaming.sampled_stream import events_hourly_stream

    return events_hourly_stream(spark, sf_dir, sampled=True, ratio=0.1)


from ..streaming.minhash_state import dedup_minhash_stream_sql as _mh_stream_sql  # noqa: E402


@register(
    "streaming_dedup_minhash",
    _mh_stream_sql(),
    doc="STATEFUL streaming near-dedup: per-row MinHash banding -> "
    "applyInPandasWithState keeps first-seen owner per (band, key) bucket "
    "across micro-batches -> flagged-doc rollup. Value-oracled: with event "
    "time monotone in doc_id the result equals the batch LSH-candidate "
    "min-partner per doc (streaming/minhash_state.py docstring proves the "
    "identity)",
)
def q_streaming_dedup_minhash(spark, sf_dir):
    from ..streaming.minhash_state import dedup_minhash_stream_run

    return dedup_minhash_stream_run(spark, sf_dir)


@register(
    "streaming_dedup_incremental",
    f"""
    WITH fpd AS (SELECT doc_id, {_FP_SQL} AS fp FROM documents),
    ex AS (SELECT DISTINCT fp FROM fpd WHERE doc_id % 5 <> 0)
    SELECT fp, count(*)::BIGINT AS n_incoming
    FROM fpd WHERE doc_id % 5 = 0 AND fp NOT IN (SELECT fp FROM ex)
    GROUP BY fp
    """,
    doc="Streaming corpus admission: incoming docs stream anti-joined "
    "against the STATIC fingerprint index (stream-static join — no "
    "stream-side join state) with an fp-level novel-count rollup. The "
    "roster is arrival-order independent, so the whole streaming query "
    "value-checks against the batch SQL oracle; batch twin is "
    "dedup_incremental",
)
def q_streaming_dedup_incremental(spark, sf_dir):
    from ..streaming.admit_stream import dedup_incremental_stream_run

    return dedup_incremental_stream_run(spark, sf_dir)


@register(
    "streaming_ivf_cells",
    None,  # model-state operator: centroids are learned, no static SQL
    # mirror exists; running-mean identity + recall vs batch IVF are
    # pytest'd (tests/test_streaming.py::TestStreamingIVF)
    doc="Incremental IVF over a vector stream: per-micro-batch mini-batch "
    "k-means (Sculley WWW'10) via foreachBatch — distributed assignment + "
    "per-cell sufficient stats, O(centroids x dim) driver update — then "
    "final corpus occupancy by learned cell",
)
def q_streaming_ivf_cells(spark, sf_dir):
    from ..streaming.ivf_stream import streaming_ivf_cells_run

    return streaming_ivf_cells_run(spark, sf_dir)


# ===========================================================================
# 11. Corpus preparation (LLM training-data ops: PII redaction, heavy
#     hitters, sequence packing, boilerplate detection, keep-best dedup)
# ===========================================================================

def _pii_redaction_sql() -> str:
    from ..operators.corpus import EMAIL_RE, PHONE_RE, SSN_RE, inject_pii_sql

    injected = inject_pii_sql()
    redacted = f"regexp_replace({injected}, '{EMAIL_RE}', '[EMAIL]', 'g')"
    redacted = f"regexp_replace({redacted}, '{SSN_RE}', '[SSN]', 'g')"
    redacted = f"regexp_replace({redacted}, '{PHONE_RE}', '[PHONE]', 'g')"
    return f"""
    SELECT doc_id::BIGINT AS doc_id,
           len(regexp_extract_all({injected}, '{EMAIL_RE}'))::BIGINT AS n_emails,
           len(regexp_extract_all({injected}, '{PHONE_RE}'))::BIGINT AS n_phones,
           len(regexp_extract_all({injected}, '{SSN_RE}'))::BIGINT AS n_ssns,
           length({redacted})::BIGINT AS clean_len
    FROM documents
    WHERE len(regexp_extract_all({injected}, '{EMAIL_RE}'))
        + len(regexp_extract_all({injected}, '{PHONE_RE}'))
        + len(regexp_extract_all({injected}, '{SSN_RE}')) > 0
    """


@register(
    "pii_redaction",
    _pii_redaction_sql(),
    doc="PII redaction pass over the corpus (synthetic doc_id-derived PII "
    "so the oracle mirrors the exact bytes): typed placeholder replacement "
    "+ per-doc match counts. Pure regexp Column chain — map-only at 100 TB",
)
def q_pii_redaction(spark, sf_dir):
    from ..operators import corpus as C

    docs = load(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id", C.inject_pii(F.col("doc_id"), F.col("text")).alias("text")
    )
    counts = C.pii_counts(F.col("text"))
    out = injected.select(
        "doc_id",
        counts["n_emails"].alias("n_emails"),
        counts["n_phones"].alias("n_phones"),
        counts["n_ssns"].alias("n_ssns"),
        F.length(C.redact_pii(F.col("text"))).cast("long").alias("clean_len"),
    )
    return out.where(F.col("n_emails") + F.col("n_phones") + F.col("n_ssns") > 0)


@register(
    "heavy_hitter_tokens",
    f"""
    SELECT word AS token, cnt FROM (
      SELECT word, count(*)::BIGINT AS cnt FROM (
        SELECT unnest(string_split_regex(lower(text), '{_WORD_SPLIT_SQL}')) AS word
        FROM documents)
      WHERE word <> '' AND NOT regexp_matches(word, '^[0-9]+$')
      GROUP BY word)
    ORDER BY cnt DESC, token ASC LIMIT 50
    """,
    doc="Exact top-50 token frequencies, deterministic tie-break. Compiles "
    "to partial-agg + TakeOrderedAndProject (per-task k-row heap), so no "
    "global sort shuffle; output is 50 rows at any corpus size. The "
    "bounded-memory approximate sibling (Misra-Gries merge) lives in "
    "operators/corpus.misra_gries with its guarantee tested",
)
def q_heavy_hitter_tokens(spark, sf_dir):
    from ..operators import corpus as C

    # the cheap built-in tokenizer: a small input is not worth the shuffle
    docs = ensure_parallelism(
        load(spark, sf_dir, "documents").select("text"), skip_below_bytes=_CHEAP_PIPE_BYTES
    )
    return C.heavy_hitter_tokens(docs, "text", k=50).select(
        F.col("token"), F.col("cnt")
    )


@register(
    "sequence_packing",
    f"""
    WITH t AS (SELECT doc_id, {_TOKEN_COUNT_SQL} AS n_tokens FROM documents),
    b AS (SELECT doc_id, n_tokens,
                 CAST(floor(CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
                      / 2048) AS BIGINT) AS bin_id
          FROM t)
    SELECT bin_id, count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS bin_tokens,
           min(doc_id)::BIGINT AS first_doc, max(doc_id)::BIGINT AS last_doc
    FROM b GROUP BY bin_id
    """,
    doc="Greedy sequence packing under a 2048-token budget as a DISTRIBUTED "
    "prefix sum (range shuffle + per-partition Arrow cumsum + "
    "O(partitions) driver offset exchange) — never a single-partition "
    "global window. Oracle mirrors the semantics with a window cumsum, "
    "which DuckDB can afford at oracle scale",
)
def q_sequence_packing(spark, sf_dir):
    from ..operators import corpus as C

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", T.token_count(F.col("text")).alias("n_tokens")
    )
    packed = C.pack_sequences(docs, budget=2048, order_col="doc_id", tokens_col="n_tokens")
    return packed.groupBy("bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("bin_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


@register(
    "boilerplate_ngrams",
    f"""
    WITH w AS (SELECT list_filter(string_split_regex(lower(text), '{_WORD_SPLIT_SQL}'),
                                  t -> len(t) > 0) AS w
               FROM documents),
    s AS (SELECT unnest(list_distinct(list_transform(generate_series(1, len(w) - 2),
                        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS ngram
          FROM w)
    SELECT ngram, count(*)::BIGINT AS doc_freq
    FROM s GROUP BY ngram HAVING count(*) >= 4
    ORDER BY doc_freq DESC, ngram ASC LIMIT 100
    """,
    doc="Corpus-level boilerplate: 3-gram shingles shared by >= 4 docs, "
    "top-100. Per-doc distinct happens inside the row (array_distinct) "
    "BEFORE the explode+shuffle, bounding the shuffle at docs x distinct "
    "shingles; TakeOrderedAndProject caps the output",
)
def q_boilerplate_ngrams(spark, sf_dir):
    from ..operators import corpus as C

    docs = ensure_parallelism(load(spark, sf_dir, "documents").select("text"))
    return C.boilerplate_ngrams(docs, "text", k=3, min_doc_freq=4, top=100)


def _dup_spans_sql() -> str:
    from ..functions.hashing import hash64_sql

    gram = hash64_sql("array_to_string(w[pos:pos+2], ' ')")
    return f"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(lower(text), '{_WORD_SPLIT_SQL}'),
                                 t -> len(t) > 0) AS w
      FROM documents),
    g AS (
      SELECT doc_id, pos::BIGINT AS pos, {gram} AS h
      FROM (SELECT doc_id, w,
                   unnest(generate_series(1, greatest(len(w) - 2, 0))) AS pos
            FROM toks)),
    shared AS (SELECT h FROM g GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
    d AS (SELECT doc_id, pos FROM g WHERE h IN (SELECT h FROM shared)),
    flagged AS (
      SELECT doc_id, pos,
             CASE WHEN pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 2
                  THEN 1 ELSE 0 END AS new_island
      FROM d),
    islands AS (
      SELECT doc_id, pos,
             sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM flagged)
    SELECT doc_id, min(pos)::BIGINT AS start_tok, (max(pos) + 2)::BIGINT AS end_tok,
           count(*)::BIGINT AS n_gram_hits
    FROM islands GROUP BY doc_id, island
    """


@register(
    "cross_doc_dup_spans",
    _dup_spans_sql(),
    doc="Exact-substring dedup at token granularity (the span-strip stage "
    "of LLM corpus pipelines): merged token intervals covered by 3-grams "
    "shared across >= 2 distinct documents, per doc. Unlike the top-N "
    "boilerplate path the shared-gram relation is UNBOUNDED and the "
    "output is positional (strippable [start_tok, end_tok] spans via "
    "gaps-and-islands). One (hash, doc, pos) shuffle + hash equi-join + "
    "per-doc window over duplicated positions only — the shuffle-banded "
    "stand-in for a suffix-array ExactSubstr global sort. md5 gram "
    "hashes make every span value-reproducible in DuckDB",
)
def q_cross_doc_dup_spans(spark, sf_dir):
    from ..operators import corpus as C

    docs = ensure_parallelism(load(spark, sf_dir, "documents").select("doc_id", "text"))
    return C.duplicate_spans(docs, "text", "doc_id", k=3, min_docs=2)


def _dedup_keep_best_sql() -> str:
    from ..functions.hashing import hash64_sql

    norm = r"trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))"
    return f"""
    WITH e AS (SELECT doc_id, {hash64_sql(f"substr({norm}, 1, 120)")} AS fp,
               {_TOKEN_COUNT_SQL} AS q
               FROM documents)
    SELECT fp, arg_max(doc_id, printf('%020.9f', CAST(q AS DOUBLE))
                   || printf('%019d', 9223372036854775807 - doc_id))::BIGINT AS kept_doc,
           max(q)::BIGINT AS kept_quality, count(*)::BIGINT AS n_members
    FROM e GROUP BY fp HAVING count(*) >= 2
    """


@register(
    "dedup_keep_best",
    _dedup_keep_best_sql(),
    doc="Prefix-fingerprint dedup (re-crawl family: same normalized 120-char "
    "prefix, different trailing junk) keeping the BEST group member "
    "(longest, ties -> lowest id) via a string-ranked max_by (exact for fractional quality too) — one shuffle, "
    "one partial-merge aggregate, no window. Complements "
    "training_pipeline's keep-first full-fingerprint dedup",
)
def q_dedup_keep_best(spark, sf_dir):
    from ..operators import corpus as C

    docs = ensure_parallelism(load(spark, sf_dir, "documents").select("doc_id", "text"))
    return C.keep_best_by_fingerprint(docs).where(F.col("n_members") >= 2)


@register(
    "decontaminate_ngrams",
    f"""
    WITH w AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '{_WORD_SPLIT_SQL}'),
                                          t -> len(t) > 0) AS w
               FROM documents),
    g AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(w) - 2),
                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS ngram
          FROM w),
    e AS (SELECT DISTINCT ngram FROM g WHERE doc_id % 37 = 0)
    SELECT g.doc_id::BIGINT AS doc_id, count(*)::BIGINT AS n_shared_ngrams
    FROM g JOIN e USING (ngram)
    WHERE g.doc_id % 37 <> 0
    GROUP BY g.doc_id
    """,
    doc="Benchmark decontamination: training docs sharing any k-word "
    "shingle with the held-out eval slice (doc_id % 37 = 0 stands in for "
    "a benchmark set; real pipelines use k of 8-13, here k=3 so the "
    "synthetic corpus overlaps). Eval grams are BROADCAST — the corpus "
    "side is a map-only scan + broadcast-hash probe, no big-side shuffle",
)
def q_decontaminate_ngrams(spark, sf_dir):
    from ..operators import corpus as C

    docs = ensure_parallelism(load(spark, sf_dir, "documents").select("doc_id", "text"))
    eval_docs = docs.where(F.col("doc_id") % 37 == 0)
    train = docs.where(F.col("doc_id") % 37 != 0)
    return C.ngram_contamination(train, eval_docs, k=3)


@register(
    "doc_repetition",
    f"""
    WITH w AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '{_WORD_SPLIT_SQL}'),
                                          t -> len(t) > 0) AS w
               FROM documents),
    g AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 1),
                 i -> w[i] || ' ' || w[i+1])) AS gram
          FROM w),
    c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY doc_id, gram)
    SELECT doc_id::BIGINT AS doc_id,
           sum(cnt)::BIGINT AS total_bigrams,
           round(CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE), 6) AS top_bigram_frac,
           round(1.0 - CAST(count(*) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE), 6) AS dup_bigram_frac
    FROM c GROUP BY doc_id
    """,
    doc="Intra-document repetition stats (Gopher-style quality filters): "
    "per-doc duplicate-bigram and top-bigram fractions. The per-doc mode "
    "is computed DISTRIBUTIVELY (explode + two-level agg with map-side "
    "combine), never a per-row O(len^2) expression — a giant document "
    "spreads across tasks instead of making one codegen straggler",
)
def q_doc_repetition(spark, sf_dir):
    from ..operators import corpus as C

    docs = ensure_parallelism(load(spark, sf_dir, "documents").select("doc_id", "text"))
    return C.bigram_repetition_stats(docs)


@register(
    "boilerplate_strip",
    f"""
    WITH w AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '{_WORD_SPLIT_SQL}'),
                                          t -> len(t) > 0) AS w
               FROM documents),
    g AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(w) - 2),
                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS ngram
          FROM w),
    b AS (SELECT ngram FROM (SELECT ngram, count(*) AS doc_freq FROM g
                             GROUP BY ngram HAVING count(*) >= 4
                             ORDER BY doc_freq DESC, ngram ASC LIMIT 100)),
    s AS (SELECT g.doc_id, count(*) AS n_grams,
                 sum(CASE WHEN b.ngram IS NOT NULL THEN 1 ELSE 0 END) AS n_boiler
          FROM g LEFT JOIN b USING (ngram) GROUP BY g.doc_id)
    SELECT doc_id::BIGINT AS doc_id, n_grams::BIGINT AS n_grams,
           n_boiler::BIGINT AS n_boiler,
           round(CAST(n_boiler AS DOUBLE) / CAST(n_grams AS DOUBLE), 6) AS boiler_frac
    FROM s WHERE n_boiler > 0
    """,
    doc="End-to-end boilerplate cleaning: detect corpus-level boilerplate "
    "grams (doc_freq >= 4, top-100) then score every document's "
    "boilerplate fraction via a BROADCAST left join against the per-doc "
    "distinct gram explode — the corpus never shuffles on the gram; "
    "filter at boiler_frac to strip. Composes boilerplate_ngrams with "
    "the decontamination probe shape",
)
def q_boilerplate_strip(spark, sf_dir):
    from ..operators import corpus as C

    docs = ensure_parallelism(load(spark, sf_dir, "documents").select("doc_id", "text"))
    boiler = C.boilerplate_ngrams(docs, "text", k=3, min_doc_freq=4, top=100)
    return C.boilerplate_doc_stats(docs, boiler, k=3).where(F.col("n_boiler") > 0)


@register(
    "docs_cap_per_lang",
    """
    SELECT lang, doc_id, n_chars FROM (
      SELECT lang, doc_id, n_chars,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rk
      FROM documents)
    WHERE rk <= 40
    """,
    doc="Corpus balancing quota: keep at most 40 docs per language by "
    "STABLE md5-hash rank (same survivors under any partitioning or "
    "rerun — no RNG). One shuffle on the group key + per-partition "
    "window rank; dominant-group skew is AQE-split, and the uniform "
    "hash admits a map-only prefix pre-filter when k << group size",
)
def q_docs_cap_per_lang(spark, sf_dir):
    from ..operators import corpus as C

    docs = load(spark, sf_dir, "documents").select("lang", "doc_id", "n_chars")
    return C.cap_per_group(docs, "lang", k=40)


def _zorder_sql() -> str:
    from ..functions.zorder import z_value_sql

    # (((x % m) + m) % m) = Spark's F.pmod for any sign of x; bare DuckDB %
    # follows the dividend's sign and would feed negative lanes into the
    # bit interleave for pre-1970 timestamps or negative ids
    z = z_value_sql(
        "(((user_id % 65536) + 65536) % 65536)",
        "((((floor(epoch(ts))::BIGINT // 60) % 65536) + 65536) % 65536)",
        16,
    )
    return f"""
    WITH z AS (SELECT user_id, (floor(epoch(ts))::BIGINT // 60) AS minute, {z} AS zval
               FROM events)
    SELECT (zval >> 24)::BIGINT AS z_bucket, count(*)::BIGINT AS cnt,
           min(user_id)::BIGINT AS min_user, max(user_id)::BIGINT AS max_user,
           min(minute)::BIGINT AS min_minute, max(minute)::BIGINT AS max_minute
    FROM z GROUP BY 1
    """


@register(
    "events_zorder_buckets",
    _zorder_sql(),
    doc="Z-order (Morton) layout key over (user_id, event minute): "
    "interleaved bits give min/max file pruning on BOTH dimensions when "
    "the table is range-written by zval — the lakehouse layout for "
    "filter-on-either workloads. Pure codegen bit chain (no UDF), "
    "deterministic, so the bucket ranges are value-oracled; the "
    "min/max per bucket IS the pruning rectangle a writer would get",
)
def q_events_zorder_buckets(spark, sf_dir):
    from ..functions.zorder import z_value

    e = load(spark, sf_dir, "events").select(
        "user_id",
        (F.unix_timestamp("ts") / F.lit(60)).cast("long").alias("minute"),
    )
    z = z_value(
        F.pmod(F.col("user_id"), F.lit(65536)),
        F.pmod(F.col("minute"), F.lit(65536)),
        16,
    )
    return (
        e.withColumn("zval", z)
        .groupBy(F.shiftright("zval", 24).cast("long").alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("user_id").alias("min_user"),
            F.max("user_id").alias("max_user"),
            F.min("minute").alias("min_minute"),
            F.max("minute").alias("max_minute"),
        )
    )


def _dataset_split_sql() -> str:
    from ..operators.corpus import md5_bucket_sql

    b = md5_bucket_sql("doc_id")
    return f"""
    SELECT doc_id::BIGINT AS doc_id, {b}::INT AS bucket,
           CASE WHEN {b} < 244 THEN 'train'
                WHEN {b} < 250 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """


@register(
    "dataset_split_md5",
    _dataset_split_sql(),
    doc="Deterministic train/val/test split from 256 md5-derived buckets "
    "(~95/2.5/2.5). Content-hash bucketing keeps a row's split stable "
    "under repartitioning, re-crawls, and incremental appends — no RNG, "
    "no ordering dependence; md5 (not xxhash64) so any engine reproduces "
    "the assignment. Map-only Column chain at any scale",
)
def q_dataset_split_md5(spark, sf_dir):
    from ..operators import corpus as C

    docs = load(spark, sf_dir, "documents").select("doc_id")
    return C.hash_split(docs).select("doc_id", "bucket", "split")


def _corpus_pipeline_full_sql() -> str:
    from ..functions.hashing import hash64_sql
    from ..operators.corpus import md5_bucket_sql

    bucket = md5_bucket_sql("doc_id")
    norm = r"trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))"
    fp = hash64_sql(f"substr({norm}, 1, 120)")
    return f"""
    WITH w AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '{_WORD_SPLIT_SQL}'),
                                          t -> len(t) > 0) AS w
               FROM documents),
    g AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(w) - 2),
                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS ngram
          FROM w),
    e AS (SELECT DISTINCT ngram FROM g WHERE doc_id % 37 = 0),
    tr AS (SELECT doc_id, text, lang, n_chars FROM documents
           WHERE {bucket} < 244 AND doc_id % 37 <> 0),
    contaminated AS (SELECT DISTINCT g.doc_id FROM g JOIN e USING (ngram)
                     JOIN tr ON g.doc_id = tr.doc_id),
    clean AS (SELECT * FROM tr WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
    f AS (SELECT doc_id, lang, n_chars, {fp} AS fp, {_TOKEN_COUNT_SQL} AS q FROM clean),
    kept AS (SELECT arg_max(doc_id, printf('%020.9f', CAST(q AS DOUBLE))
                        || printf('%019d', 9223372036854775807 - doc_id)) AS doc_id
             FROM f GROUP BY fp),
    kd AS (SELECT f.* FROM f JOIN kept USING (doc_id)),
    capped AS (SELECT * FROM (
        SELECT kd.*, row_number() OVER (PARTITION BY lang
            ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rk
        FROM kd) WHERE rk <= 40)
    SELECT lang, count(*)::BIGINT AS n_docs, sum(q)::BIGINT AS total_tokens,
           sum(n_chars)::BIGINT AS total_chars
    FROM capped GROUP BY lang
    """


@register(
    "corpus_pipeline_full",
    _corpus_pipeline_full_sql(),
    doc="Flagship end-to-end corpus preparation: md5 train split -> drop "
    "the eval slice and every train doc sharing a 3-gram with it "
    "(broadcast decontamination) -> keep-best prefix-fingerprint dedup "
    "(one shuffle, string-ranked max_by) -> per-language quota cap "
    "(stable hash rank) -> per-language token/char totals. Every stage "
    "is deterministic, so the ENTIRE five-stage pipeline value-checks "
    "against one SQL mirror — the composition a 100 TB training-data "
    "job runs, with shuffles only on fp and lang (both post-filter)",
)
def q_corpus_pipeline_full(spark, sf_dir):
    from ..operators import corpus as C

    docs = ensure_parallelism(
        load(spark, sf_dir, "documents").select("doc_id", "text", "lang", "n_chars")
    )
    eval_docs = docs.where(F.col("doc_id") % 37 == 0)
    train = (
        C.hash_split(docs)
        .where(F.col("split") == "train")
        .where(F.col("doc_id") % 37 != 0)
        .drop("bucket", "split")
    )
    # clean is referenced twice (keep_best input + the semi-join left
    # side). AQE's stage reuse shares the duplicated GRAM subtrees (the
    # broadcast contamination stages — which is why checkpointing the
    # contaminated-id list alone measured no faster in r16), but the
    # plan's two copies of the SPINE (documents scan -> train filter ->
    # anti join) have no exchange boundary to reuse, so the corpus was
    # scanned and anti-joined twice. A lazy reuse barrier merges the
    # spines: one scan+anti, second consumer reads stored blocks
    # (round 17 A/B: 2.98 -> 2.51 s min-of-6 alternated, action jobs
    # 13 -> 12).
    cont = C.ngram_contamination(train, eval_docs, k=3).select("doc_id")
    clean = reuse_barrier(train.join(cont, "doc_id", "left_anti"), eager=False)
    kept = C.keep_best_by_fingerprint(clean).select(
        F.col("kept_doc").alias("doc_id")
    )
    clean_kept = clean.join(kept, "doc_id", "left_semi")
    capped = C.cap_per_group(clean_kept, "lang", k=40)
    return capped.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(T.token_count(F.col("text"))).alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
    )
