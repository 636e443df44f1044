"""Corpus-preparation operators for LLM training-data pipelines.

The reference engine's pipeline surface stops at sampled scan -> normalize
-> tokenize -> aggregate (RandomizedWordCount.java, RandomizedStat*.java).
A training-data pipeline at 100 TB additionally needs: PII redaction,
heavy-hitter vocabulary, greedy sequence packing under a token budget,
corpus-level boilerplate detection, and keep-best-representative dedup.
Each operator here is expressed so the plan Catalyst produces is the plan
a 1000-executor cluster wants:

- redaction is a pure Column expression chain (whole-stage codegen, no
  Python in the hot path);
- heavy hitters go through partial-agg + TakeOrderedAndProject (map-side
  top-k, no global sort shuffle);
- sequence packing is a distributed prefix sum: one range shuffle, a
  per-partition Arrow cumsum, and an O(num_partitions) driver offset
  exchange — never a single-partition global window;
- boilerplate detection is one shuffle on the shingle with per-doc
  distinct applied BEFORE the shuffle (map-side dedup bounds skew);
- Misra-Gries heavy hitters bound per-partition state at k counters
  regardless of vocabulary size (the sketch the reference's sampled
  aggregation family would want at true scale).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark import TaskContext
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as T
from ..functions.rounding import sql_round
from ..session import reuse_barrier

# ---------------------------------------------------------------------------
# PII injection (deterministic synthetic) + redaction
# ---------------------------------------------------------------------------

# Patterns chosen to behave identically in Java regex (Spark) and RE2
# (DuckDB oracle): no lookaround, no backrefs.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b555-[0-9]{4}\b"
SSN_RE = r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b"


def inject_pii(doc_id: Column, text: Column) -> Column:
    """Deterministically append synthetic PII to a subset of documents.

    The synthetic corpus (TESTDATA.md documents table) contains no
    emails/phones/SSNs (probed: zero '@', zero digit-hyphen-digit), so a
    redaction operator would be untestable on it.  Following the
    established multimodal-oracle pattern, we derive fake PII from doc_id
    so the DuckDB oracle can mirror the exact same bytes:

      doc_id % 3 == 0 -> an email
      doc_id % 4 == 1 -> a 555-phone
      doc_id % 5 == 2 -> an SSN-shaped id
    """
    email = F.concat(F.lit(" reach user"), doc_id.cast("string"), F.lit("@mail-example.com"))
    phone = F.concat(F.lit(" call 555-"), F.lpad((doc_id % 10000).cast("string"), 4, "0"))
    ssn = F.concat(
        F.lit(" id "),
        F.lpad((doc_id % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((doc_id % 100).cast("string"), 2, "0"),
        F.lit("-"),
        F.lpad((doc_id % 10000).cast("string"), 4, "0"),
    )
    out = text
    out = F.when(doc_id % 3 == 0, F.concat(out, email)).otherwise(out)
    out = F.when(doc_id % 4 == 1, F.concat(out, phone)).otherwise(out)
    out = F.when(doc_id % 5 == 2, F.concat(out, ssn)).otherwise(out)
    return out


def inject_pii_sql(doc_id: str = "doc_id", text: str = "text") -> str:
    """DuckDB mirror of :func:`inject_pii` (same bytes, same branches)."""
    email = f"' reach user' || {doc_id} || '@mail-example.com'"
    phone = f"' call 555-' || lpad(CAST({doc_id} % 10000 AS VARCHAR), 4, '0')"
    ssn = (
        f"' id ' || lpad(CAST({doc_id} % 1000 AS VARCHAR), 3, '0') || '-' || "
        f"lpad(CAST({doc_id} % 100 AS VARCHAR), 2, '0') || '-' || "
        f"lpad(CAST({doc_id} % 10000 AS VARCHAR), 4, '0')"
    )
    out = text
    out = f"(CASE WHEN {doc_id} % 3 = 0 THEN {out} || {email} ELSE {out} END)"
    out = f"(CASE WHEN {doc_id} % 4 = 1 THEN {out} || {phone} ELSE {out} END)"
    out = f"(CASE WHEN {doc_id} % 5 = 2 THEN {out} || {ssn} ELSE {out} END)"
    return out


def redact_pii(text: Column) -> Column:
    """Replace PII spans with typed placeholders.

    Order matters: emails first (their local parts may contain digit runs
    that the narrower patterns could otherwise nibble at), then SSN (the
    longer digit shape), then phone.  Pure regexp_replace chain — stays
    inside whole-stage codegen; at 100 TB this is a map-only pass.
    """
    out = F.regexp_replace(text, EMAIL_RE, "[EMAIL]")
    out = F.regexp_replace(out, SSN_RE, "[SSN]")
    out = F.regexp_replace(out, PHONE_RE, "[PHONE]")
    return out


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-document PII match counts (regexp_count is codegen'd JVM-side)."""
    return {
        "n_emails": F.regexp_count(text, F.lit(EMAIL_RE)).cast("long"),
        "n_phones": F.regexp_count(text, F.lit(PHONE_RE)).cast("long"),
        "n_ssns": F.regexp_count(text, F.lit(SSN_RE)).cast("long"),
    }


# ---------------------------------------------------------------------------
# Heavy hitters
# ---------------------------------------------------------------------------


def heavy_hitter_tokens(docs: DataFrame, text_col: str = "text", k: int = 50) -> DataFrame:
    """Exact top-k token frequencies with a deterministic tie-break.

    orderBy(...).limit(k) compiles to TakeOrderedAndProject: each task
    keeps a k-row heap after the partial aggregation, so the global sort
    never materializes — the only full shuffle is the token count itself
    (with map-side combine).  Scale contract: output is k rows no matter
    the corpus size.
    """
    toks = T.explode_words(docs.select(text_col), text_col, out="token")
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    return counts.orderBy(F.col("cnt").desc(), F.col("token").asc()).limit(k)


def misra_gries(
    df: DataFrame, col: str, k: int = 64
) -> DataFrame:
    """Misra-Gries heavy-hitters sketch, merged distributively.

    Per-partition state is bounded at k counters regardless of
    cardinality (an Arrow-batched pass, never a per-partition hash of the
    full vocabulary); the partition summaries are then summed by key.
    Guarantee (standard MG merge bound): every item with true frequency
    > n/(k+1) survives in the output, and each reported count
    undercounts by at most n/(k+1).  Use when the exact groupBy's
    map-side hash would blow memory (unbounded key space at 100 TB).

    Returns (item, est_count) — a SUPERSET of the true NON-NULL heavy
    hitters; callers re-check exact counts for the survivors if needed
    (a cheap semi-join-restricted second pass). NULL items are excluded
    EXPLICITLY (review r8: pandas value_counts drops them silently, so
    a mostly-NULL column would violate the superset guarantee without
    any signal) — count NULLs with count_if(col IS NULL), which needs
    no sketch.
    """

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict = {}
        for pdf in batches:
            for item, cnt in pdf[col].dropna().value_counts().items():
                # classic MG with batched decrements
                if item in counters:
                    counters[item] += cnt
                elif len(counters) < k:
                    counters[item] = cnt
                else:
                    dec = min(min(counters.values()), cnt)
                    counters = {i: c - dec for i, c in counters.items() if c > dec}
                    if cnt > dec:
                        counters[item] = cnt - dec
        yield pd.DataFrame(
            {"item": list(counters.keys()), "est_count": list(counters.values())}
        )

    field = df.schema[col]
    summaries = df.select(F.col(col).alias(col)).mapInPandas(
        summarize, schema=f"item {field.dataType.simpleString()}, est_count long"
    )
    return summaries.groupBy("item").agg(F.sum("est_count").alias("est_count"))


# ---------------------------------------------------------------------------
# Sequence packing (distributed prefix sum)
# ---------------------------------------------------------------------------


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Split each document into fixed-size token windows with overlap.

    The context-window preparation step of a pretraining pipeline: a
    document longer than the model context becomes strided windows
    (``stride < chunk_tokens`` keeps ``chunk_tokens - stride`` tokens of
    overlap so no boundary-spanning text is lost); the output feeds
    :func:`pack_sequences`. Emits one row per (doc, window):
    ``(id, chunk_ix, start_tok, n_tokens, chunk_text)``.

    100 TB shape: pure Column expressions — tokenize once per row (its
    own projection step, the shingles_from_tokens CSE discipline), one
    generator explode, no shuffle at all; chunking composes with
    whatever partitioning the surrounding pipeline already has. Window
    starts come from ``sequence(0, n-1, stride)``, so every token is
    covered and empty docs emit nothing.
    """
    toks = df.withColumn("__toks", T.word_tokens(F.col(text_col)))
    n = F.size("__toks")
    starts = F.when(n <= 0, F.array().cast("array<int>")).otherwise(
        F.sequence(F.lit(0), n - F.lit(1), F.lit(stride))
    )
    # explode_outer + isNotNull per module convention (the
    # InferFiltersFromGenerate trap measured at ngram_contamination)
    exploded = (
        toks.select(id_col, "__toks", F.explode_outer(starts).alias("__start"))
        .where(F.col("__start").isNotNull())
    )
    chunk = F.slice(F.col("__toks"), F.col("__start") + 1, chunk_tokens)
    with_chunk = exploded.withColumn("__chunk", chunk)
    return with_chunk.select(
        id_col,
        (F.col("__start") / F.lit(stride)).cast("long").alias("chunk_ix"),
        F.col("__start").cast("long").alias("start_tok"),
        F.size("__chunk").cast("long").alias("n_tokens"),
        F.concat_ws(" ", F.col("__chunk")).alias("chunk_text"),
    )


def chunk_documents_sql(
    chunk_tokens: int = 64, stride: int = 48, word_split_re: str = "[^a-z0-9'']+"
) -> str:
    """DuckDB mirror of :func:`chunk_documents` over the documents table."""
    return f"""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '{word_split_re}'),
                         t -> len(t) > 0) AS w
      FROM documents
    ),
    s AS (
      SELECT doc_id, w,
             unnest(CASE WHEN len(w) = 0 THEN CAST([] AS BIGINT[])
                    ELSE range(0, len(w), {stride}) END) AS start_tok
      FROM w
    )
    SELECT doc_id,
           (start_tok // {stride})::BIGINT AS chunk_ix,
           start_tok::BIGINT AS start_tok,
           len(list_slice(w, start_tok + 1,
                          least(start_tok + {chunk_tokens}, len(w))))::BIGINT AS n_tokens,
           array_to_string(list_slice(w, start_tok + 1,
                          least(start_tok + {chunk_tokens}, len(w))), ' ') AS chunk_text
    FROM s
    """


def pack_sequences(
    df: DataFrame,
    budget: int,
    order_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    num_partitions: int | None = None,
) -> DataFrame:
    """Assign each row to a training-sequence bin under a token budget.

    Semantics: rows are taken in ``order_col`` order; row r lands in bin
    ``floor(prefix_sum_before(r) / budget)`` — greedy sequential packing
    (documents may straddle a boundary; the consumer truncates/continues,
    which is the standard pretraining pack).

    100 TB shape — this is a distributed prefix sum, NOT a global window
    (a single-partition ``Window.orderBy`` is the classic scale-killer):

      1. one range shuffle on ``order_col`` (contiguous key ranges per
         partition, partitions ordered by range);
      2. an Arrow ``mapInPandas`` cumulative sum within each partition
         (batches arrive in sorted order; state is one running long);
      3. partition totals -> driver (O(num_partitions) rows, like the
         IVF training sample) -> prefix offsets rejoined as a literal map.

    A reuse barrier between (2) and (3) keeps the totals action from
    recomputing the scan.
    """
    spark = df.sparkSession
    n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    ranged = df.repartitionByRange(n, order_col).sortWithinPartitions(order_col)

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", _pid int, _cum_incl long"

    def cumsum(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pid = TaskContext.get().partitionId()
        run = 0
        for pdf in batches:
            pdf = pdf.copy()
            pdf["_pid"] = pid
            pdf["_cum_incl"] = run + pdf[tokens_col].cumsum()
            if len(pdf):
                run = int(pdf["_cum_incl"].iloc[-1])
            yield pdf

    cum = reuse_barrier(ranged.mapInPandas(cumsum, schema=out_schema), eager=True)

    totals = (
        cum.groupBy("_pid").agg(F.max("_cum_incl").alias("_tot")).orderBy("_pid").collect()
    )
    offsets: dict[int, int] = {}
    running = 0
    for row in totals:
        offsets[row["_pid"]] = running
        running += row["_tot"] or 0
    if offsets:
        off_expr = F.create_map(
            *[F.lit(x) for pid_tot in offsets.items() for x in pid_tot]
        )[F.col("_pid")]
    else:
        off_expr = F.lit(0)

    before = (off_expr + F.col("_cum_incl") - F.col(tokens_col)).cast("long")
    return (
        cum.withColumn("bin_id", F.floor(before / F.lit(budget)).cast("long"))
        .drop("_pid", "_cum_incl")
    )


# ---------------------------------------------------------------------------
# Boilerplate n-gram detection
# ---------------------------------------------------------------------------


def boilerplate_ngrams(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 3,
    min_doc_freq: int = 4,
    top: int = 100,
) -> DataFrame:
    """Word n-grams shared by >= min_doc_freq documents (template/boilerplate).

    Per-doc shingles are deduplicated BEFORE the explode+shuffle
    (array_distinct inside the row), so a shingle repeated 1000x inside
    one spammy document contributes one shuffle row, not 1000 — the
    map-side-distinct discipline that keeps the shingle shuffle bounded
    by (docs x distinct-shingles-per-doc) at 100 TB.  Output is capped at
    ``top`` rows via TakeOrderedAndProject.
    """
    # Two-step shingle projection + explode_outer (not an inline
    # explode(word_shingles(...))): the inline form both re-tokenizes per
    # shingle (no CSE through lambdas) and lets InferFiltersFromGenerate
    # push a size(expr) > 0 filter that re-evaluates the chain again —
    # the two traps documented at functions/text.shingles_from_tokens and
    # operators/dedup.minhash_signatures.
    sh = (
        T.with_word_shingles(docs.select(text_col), text_col, k)
        .select(F.explode_outer("shingles").alias("ngram"))
        .where(F.col("ngram").isNotNull())
    )
    counts = sh.groupBy("ngram").agg(F.count(F.lit(1)).alias("doc_freq"))
    return (
        counts.where(F.col("doc_freq") >= min_doc_freq)
        .orderBy(F.col("doc_freq").desc(), F.col("ngram").asc())
        .limit(top)
    )


def duplicate_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document duplicated SPANS: merged token intervals covered by
    k-grams that appear in >= ``min_docs`` distinct documents — the
    exact-substring dedup stage of LLM corpus pipelines (strip the span,
    keep the document) at k-token granularity.

    Differs from :func:`boilerplate_ngrams` on both axes that matter:
    the shared-gram relation is UNBOUNDED (every cross-doc gram, not a
    top-N template set) and the output is positional (merged
    ``[start_tok, end_tok]`` intervals per doc, ready for span removal),
    not a per-doc score.

    Returns ``(doc_id, start_tok, end_tok, n_gram_hits)`` — 1-based
    token positions, inclusive; overlapping/adjacent gram hits merge
    into one span (gaps-and-islands over the duplicated positions).

    100 TB shape: positional grams CANNOT dedupe inside the row (the
    position is the payload), so the gram relation is one shuffle of
    (hash, doc, pos) tuples — O(corpus tokens) rows of three scalars;
    the frequency agg is partial+final on the hash, the shared set joins
    back by hash equi-join (AQE may broadcast if it turns out small),
    and the island window runs per doc over DUPLICATED positions only
    (skew-bounded: a doc's dup positions <= its token count). This is
    the shuffle-banded stand-in for the suffix-array ExactSubstr
    construction, which needs a global sort no 100 TB shuffle should
    attempt. Hashes are md5-derived (functions/hashing) so the whole
    pipeline is value-reproducible in the SQL oracle.
    """
    from pyspark.sql import Window

    from ..functions.hashing import hash64

    toks = docs.select(F.col(id_col), T.word_tokens(F.col(text_col)).alias("__toks"))
    n_grams = F.greatest(F.size("__toks") - F.lit(k - 1), F.lit(0))
    # F.sequence(1, 0) yields a DESCENDING [1, 0] — guard the empty case
    idx = F.when(n_grams > F.lit(0), F.sequence(F.lit(1), n_grams)).otherwise(
        F.array().cast("array<int>")
    )
    grams = (
        toks.withColumn("__idx", idx)
        .select(F.col(id_col), F.explode_outer("__idx").alias("pos"), F.col("__toks"))
        .where(F.col("pos").isNotNull())
        .select(
            F.col(id_col),
            F.col("pos").cast("bigint").alias("pos"),
            hash64(F.concat_ws(" ", F.slice(F.col("__toks"), F.col("pos"), k))).alias("__h"),
        )
    )
    shared = (
        grams.groupBy("__h")
        .agg(F.countDistinct(F.col(id_col)).alias("__nd"))
        .where(F.col("__nd") >= min_docs)
        .select("__h")
    )
    dup = grams.join(shared, "__h").select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    new_island = F.when(
        F.col("pos") > F.lag("pos").over(w) + F.lit(k - 1), F.lit(1)
    ).otherwise(F.lit(0))
    # two projections: Spark cannot nest lag() inside the running sum
    islands = dup.withColumn("__new", new_island).withColumn(
        "__island", F.sum("__new").over(w)
    )
    return (
        islands.groupBy(F.col(id_col), F.col("__island"))
        .agg(
            F.min("pos").alias("start_tok"),
            (F.max("pos") + F.lit(k - 1)).cast("bigint").alias("end_tok"),
            F.count(F.lit(1)).alias("n_gram_hits"),
        )
        .drop("__island")
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination (n-gram overlap with a held-out eval set)
# ---------------------------------------------------------------------------


def ngram_contamination(
    train: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Training docs sharing any k-word shingle with the eval set.

    The standard pre-training decontamination pass (strip benchmark/test
    text from the corpus before training; real pipelines use k of 8-13,
    exposed here as a parameter — the synthetic corpus needs k=3 for any
    overlap to exist). Returns ``(doc_id, n_shared_ngrams)``; compose
    with a left_anti join against these ids to get the clean corpus.

    100 TB shape: eval sets are benchmark-sized (MBs), so the distinct
    eval-gram relation is BROADCAST — the training side is a map-only
    scan + broadcast-hash semi-match with NO shuffle of the corpus; the
    only shuffle is the per-doc hit count on (already tiny) matches.
    Per-doc shingles are deduplicated inside the row (array_distinct)
    before the explode, so a gram repeated within one doc contributes
    one probe.
    """
    # explode_outer + isNotNull, NOT plain explode: InferFiltersFromGenerate
    # turns explode(expensive_expr) into a pushed size(expensive_expr) > 0
    # filter that re-evaluates the whole tokenize->shingle chain per row
    # (measured 14x on this query: 32.9s -> 2.3s at sf0.1; same trap
    # documented at operators/dedup.minhash_signatures).
    eval_grams = (
        T.with_word_shingles(eval_docs.select(text_col), text_col, k)
        .select(F.explode_outer("shingles").alias("ngram"))
        .where(F.col("ngram").isNotNull())
        .distinct()
    )
    train_grams = (
        T.with_word_shingles(train.select(id_col, text_col), text_col, k)
        .select(id_col, F.explode_outer("shingles").alias("ngram"))
        .where(F.col("ngram").isNotNull())
    )
    hits = train_grams.join(F.broadcast(eval_grams), "ngram")
    return hits.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shared_ngrams"))


# ---------------------------------------------------------------------------
# Intra-document repetition stats (C4/Gopher-style quality filters)
# ---------------------------------------------------------------------------


def bigram_repetition_stats(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-doc duplicate-bigram and top-bigram fractions (Gopher filters).

    ``top_bigram_frac``  = occurrences of the most frequent word bigram /
    total bigrams; ``dup_bigram_frac`` = fraction of bigram OCCURRENCES
    beyond their first (1 - distinct/total). Both catch the
    machine-generated/template repetition the corpus-level boilerplate
    pass can't see (repetition INSIDE one document).

    100 TB shape: the mode of a per-doc multiset is computed
    distributively — explode bigrams, count per (doc, gram) with map-side
    combine, then a tiny per-doc merge — never a per-row O(len^2)
    higher-order-function sweep (a giant document would make one codegen
    expression the straggler; here it spreads across tasks after the
    explode).
    """
    toks = docs.select(id_col, T.word_tokens(F.col(text_col)).alias("__toks"))
    n_sh = F.size("__toks") - F.lit(1)
    # sequence(0, -1) yields a DESCENDING [0, -1] (not empty) — guard the
    # <2-token case explicitly so slice never sees start=0.
    idx = F.when(n_sh > 0, F.sequence(F.lit(0), n_sh - F.lit(1))).otherwise(
        F.array().cast("array<int>")
    )
    grams = toks.select(
        id_col,
        F.explode_outer(
            F.transform(
                idx,
                lambda i: F.concat_ws(" ", F.slice(F.col("__toks"), i + 1, 2)),
            )
        ).alias("gram"),
    ).where(F.col("gram").isNotNull())
    per_gram = grams.groupBy(id_col, "gram").agg(F.count(F.lit(1)).alias("cnt"))
    return per_gram.groupBy(id_col).agg(
        F.sum("cnt").alias("total_bigrams"),
        sql_round(
            F.max("cnt").cast("double") / F.sum("cnt").cast("double"), 6
        ).alias("top_bigram_frac"),
        sql_round(
            F.lit(1.0) - F.count(F.lit(1)).cast("double") / F.sum("cnt").cast("double"),
            6,
        ).alias("dup_bigram_frac"),
    )


# ---------------------------------------------------------------------------
# Deterministic train/val/test split
# ---------------------------------------------------------------------------

_HEX = "0123456789abcdef"


def md5_bucket(id_col: Column, n_hex: int = 2) -> Column:
    """Stable bucket in [0, 16**n_hex) from the md5 of the stringified id.

    Content/id-hash bucketing is how corpus splits stay stable under
    re-partitioning, re-crawls, and incremental appends (a row's split
    never depends on which file or partition it sat in). md5 (not
    xxhash64) so any engine — including the DuckDB oracle — reproduces
    the exact assignment from the same bytes.
    """
    h = F.md5(id_col.cast("string"))
    bucket = F.lit(0)
    for i in range(n_hex):
        digit = F.instr(F.lit(_HEX), F.substring(h, i + 1, 1)) - F.lit(1)
        bucket = bucket * F.lit(16) + digit
    return bucket.cast("int")


def md5_bucket_sql(id_expr: str, n_hex: int = 2) -> str:
    """DuckDB mirror of :func:`md5_bucket` (same md5 bytes, same digits)."""
    h = f"md5(CAST({id_expr} AS VARCHAR))"
    terms = [
        f"(instr('{_HEX}', substr({h}, {i + 1}, 1)) - 1) * {16 ** (n_hex - 1 - i)}"
        for i in range(n_hex)
    ]
    return "(" + " + ".join(terms) + ")"


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    val_frac: float = 0.025,
    test_frac: float = 0.025,
) -> DataFrame:
    """Deterministic train/val/test assignment from 256 md5 buckets.

    Adds ``bucket`` and ``split`` columns; fractions are quantized to
    1/256 (bucket granularity). Pure Column expressions — a map-only
    pass at any scale, and the assignment is reproducible from the id
    alone (no RNG, no ordering dependence).
    """
    n_val = round(val_frac * 256)
    n_test = round(test_frac * 256)
    train_hi = 256 - n_val - n_test
    b = md5_bucket(F.col(id_col))
    split = (
        F.when(b < train_hi, F.lit("train"))
        .when(b < train_hi + n_val, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return df.withColumn("bucket", b).withColumn("split", split)


def dedup_incremental(
    incoming: DataFrame,
    existing: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Admit only NOVEL incoming docs against an existing corpus index.

    The daily-crawl pattern: a new batch is deduplicated (a) against the
    corpus — an anti-join of incoming fingerprints against the existing
    fingerprint relation — and (b) within itself (keep the lowest id per
    surviving fingerprint). The full corpus is NEVER re-deduplicated;
    at 100 TB the existing side is the stored fingerprint INDEX (two
    longs per doc), so the anti-join shuffles index-sized relations —
    or broadcasts, when the day's batch is small enough to hash the
    index against.

    Returns the admitted incoming rows (original columns).
    """
    inc_fp = incoming.withColumn("__fp", T.fingerprint(F.col(text_col)))
    ex_fp = existing.select(T.fingerprint(F.col(text_col)).alias("__fp")).distinct()
    novel = inc_fp.join(ex_fp, "__fp", "left_anti")
    best = novel.groupBy("__fp").agg(F.min(id_col).alias(id_col))
    # semi-join on BOTH (__fp, id): a crawl batch may re-carry an id with
    # different text (re-crawl) — on id alone, every row sharing a winning
    # id would survive, one per fingerprint is the contract
    return (
        novel.join(best, ["__fp", id_col], "left_semi").drop("__fp")
    )


def boilerplate_doc_stats(
    docs: DataFrame,
    boilerplate: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Per-doc boilerplate load: distinct k-gram count and fraction.

    The removal half of boilerplate cleaning: score every document by
    how much of it is corpus-level boilerplate (``boilerplate`` is the
    small gram relation from :func:`boilerplate_ngrams`), then filter at
    the call site. Returns ``(doc_id, n_grams, n_boiler,
    boiler_frac)`` over docs that HAVE at least one gram.

    100 TB shape: the boilerplate set is top-N bounded (KBs) — broadcast
    left join against the per-doc DISTINCT gram explode, one count-agg
    per doc; the corpus never shuffles on the gram.
    """
    sh = (
        T.with_word_shingles(docs.select(id_col, text_col), text_col, k)
        .select(id_col, F.explode_outer("shingles").alias("ngram"))
        .where(F.col("ngram").isNotNull())
    )
    marked = sh.join(
        F.broadcast(boilerplate.select(F.col("ngram"), F.lit(1).alias("__b"))),
        "ngram",
        "left",
    )
    return marked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.coalesce(F.col("__b"), F.lit(0))).cast("long").alias("n_boiler"),
        sql_round(
            F.sum(F.coalesce(F.col("__b"), F.lit(0))).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("boiler_frac"),
    )


def cap_per_group(
    df: DataFrame,
    group_cols: list[str] | str,
    k: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep at most ``k`` rows per group, chosen by stable md5-hash rank.

    The corpus-balancing quota op (cap documents per domain/language so
    one crawl source can't dominate the training mix). Hash rank — not
    rand() — so the same rows survive every rerun, any partitioning, and
    incremental re-processing; md5 so the DuckDB oracle reproduces the
    exact survivor set.

    100 TB shape: one shuffle on the group key, then a per-partition
    window rank that never materializes the global sort. A dominant
    group (English is most of a web corpus) makes this window skewed;
    AQE splits oversized partitions, and because the rank source is a
    UNIFORM hash, a two-pass refinement (pre-filter on the hash prefix
    to ~2k/|G| of each big group, then exact rank) bounds the skew when
    k << |G| — at that selectivity the pre-filter is a map-only pass
    and the window sees only the survivors.
    """
    keys = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    w = Window.partitionBy(*keys).orderBy(
        F.md5(F.col(id_col).cast("string")).asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= k)
        .drop("__rk")
    )


# ---------------------------------------------------------------------------
# Keep-best-representative dedup
# ---------------------------------------------------------------------------


def keep_best_by_fingerprint(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    quality_col: Column | None = None,
    fingerprint_col: Column | None = None,
) -> DataFrame:
    """Fingerprint-group dedup keeping the best member, not the first.

    The reference's dedup story (and round-1 training_pipeline) keeps
    min(doc_id); a real corpus pipeline keeps the highest-quality member.
    Quality default: token count (longest wins), ties broken by lowest
    id.  Fingerprint default: prefix fingerprint (re-crawls share a
    normalized prefix but differ in trailing junk).  One shuffle on the
    fingerprint; max_by is a single partial-merge aggregate, never a
    window.

    Contract (enforced at runtime): ``quality_col`` must be NONNEGATIVE
    and < 1e10, and ``id_col`` a nonnegative integer — the fixed-width
    string rank below mis-orders outside that range ('-' sorts below
    '0', so negatives would rank reversed; >= 1e10 overflows the
    20-char field and mixed-width numeric strings compare wrong
    lexicographically). Any out-of-range quality raises at execution
    time instead of silently keeping the WORST member (ADVICE r8).
    Every quality function in this package satisfies the contract.
    """
    q = quality_col if quality_col is not None else T.token_count(F.col(text_col))
    fp = (
        fingerprint_col
        if fingerprint_col is not None
        else T.prefix_fingerprint(F.col(text_col))
    )
    enriched = docs.select(
        F.col(id_col),
        fp.alias("fp"),
        q.alias("_quality"),
    )
    # Fixed-width STRING rank (quality first, lowest id on ties) instead
    # of a struct key: max_by over a struct has no DuckDB arg_max
    # mirror, and a SCALAR numeric pack (quality * 2^32 - id, the
    # pre-round-8 form) silently mis-ranks FRACTIONAL quality columns —
    # one 1e-6 quality step is worth only ~4295 id units, so large-id
    # low-quality members could win (review r8). The lexicographic
    # string "%020.9f(quality)" ++ "%019d(MAX_LONG - id)" orders exactly
    # by (quality desc-able, id asc on ties) at 1e-9 quality resolution
    # for any NONNEGATIVE quality and nonnegative integer id — both of
    # which every quality function in this package satisfies — and
    # printf formatting is engine-identical, so the DuckDB mirrors stay
    # bit-for-bit.
    # + 0.0 normalizes IEEE -0.0 to +0.0 BEFORE formatting: -0.0 passes
    # the >= 0 guard but printf renders a leading '-', which would sort
    # below every '0…' string and lose a tie it should win (review r9).
    # DuckDB mirrors need no change: integer quality cannot be -0.0.
    qd = (F.col("_quality").cast("double") + F.lit(0.0))
    rank_raw = F.concat(
        F.format_string("%020.9f", qd),
        F.format_string(
            "%019d", F.lit(9223372036854775807) - F.col(id_col)
        ),
    )
    # runtime contract guard (see docstring): per-row lazy, so the
    # raise_error branch costs nothing on valid data and the DuckDB
    # mirrors (which never see invalid data) stay bit-for-bit.
    rank = F.when(
        (qd >= F.lit(0.0)) & (qd < F.lit(1.0e10)), rank_raw
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "keep_best_by_fingerprint: quality_col must be in "
                    "[0, 1e10) for the fixed-width string rank; got "
                ),
                F.coalesce(qd.cast("string"), F.lit("NULL")),
            )
        )
    )
    return enriched.groupBy("fp").agg(
        F.max_by(F.col(id_col), rank).alias("kept_doc"),
        F.max("_quality").alias("kept_quality"),
        F.count(F.lit(1)).alias("n_members"),
    )
