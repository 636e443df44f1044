"""Analytic-join coverage, value-oracled sketches, time-series spine/gap-fill, SCD2, profiling, TPC-H decorrelation shapes.

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
    _WORD_SPLIT_SQL,
    _dec,
    _ensure_layout,
    ensure_parallelism,
    load,
    register,
    sql_round,
)
from ..session import reuse_barrier

# ===========================================================================
# 12. Analytic-join coverage + value-oracled sketches (round-4 widening)
#
# The reference is a word-count/log MapReduce engine; these queries cover the
# classic warehouse join/subquery shapes (TPC-H Q2/Q13/Q14/Q16/Q18/Q22
# patterns) plus index/sketch builds a training-data pipeline runs, each with
# a DuckDB value oracle. Scalar subqueries use Spark 4's DataFrame subquery
# API (``DataFrame.scalar()``) so they plan as a real ScalarSubquery — a
# driver-broadcast single value, not a join — exactly like the SQL form.
# (A constant-key equi-join was measured first: FoldablePropagation folds
# the 1=1 condition away and degrades it to BroadcastNestedLoopJoin.)
# ===========================================================================


@register(
    "order_counts_distribution",
    """
    SELECT c_count, count(*)::BIGINT AS custdist
    FROM (
      SELECT coalesce(n, 0)::BIGINT AS c_count
      FROM customer LEFT JOIN (
        SELECT o_custkey, count(*)::BIGINT AS n FROM orders GROUP BY o_custkey
      ) oc ON c_custkey = o_custkey
    )
    GROUP BY c_count
    """,
    doc="TPC-H Q13 shape: customer order-count distribution via left outer "
    "join + double aggregation. 100 TB shape: the fact side is "
    "pre-aggregated to one row per custkey BEFORE the join, so the join "
    "input is |customers|, not |orders|; second agg keys on the tiny "
    "c_count domain (map-side combine collapses it almost entirely)",
)
def q_order_counts_distribution(spark, sf_dir):
    c = load(spark, sf_dir, "customer").select("c_custkey")
    oc = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    per = c.join(oc, c.c_custkey == oc.o_custkey, "left").select(
        F.coalesce(F.col("n"), F.lit(0).cast("long")).alias("c_count")
    )
    return per.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "promo_revenue_share",
    """
    SELECT date_trunc('month', l_shipdate) AS ship_month,
           CAST(sum(CASE WHEN p_type = 'PROMO'
                    THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (1.00 - CAST(l_discount AS DECIMAL(4,2)))
                    ELSE CAST(0.00 AS DECIMAL(12,2)) END) AS DOUBLE) AS promo_revenue,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1.00 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS total_revenue,
           round(CAST(sum(CASE WHEN p_type = 'PROMO'
                         THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (1.00 - CAST(l_discount AS DECIMAL(4,2)))
                         ELSE CAST(0.00 AS DECIMAL(12,2)) END) AS DOUBLE)
                 / CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1.00 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE),
                 6) AS promo_share
    FROM lineitem JOIN part ON p_partkey = l_partkey
    GROUP BY 1
    """,
    doc="TPC-H Q14 shape: conditional-aggregation ratio (promo revenue "
    "share per ship month). Dim broadcast, one fact shuffle on the month "
    "key; both sums are exact DECIMAL (order-independent) cast to DOUBLE "
    "only at the boundary, so the share divides two identical doubles on "
    "both engines",
)
def q_promo_revenue_share(spark, sf_dir):
    l = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_discount", "l_shipdate"
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    one = F.lit("1.00").cast("decimal(4,2)")
    zero = F.lit("0.00").cast("decimal(12,2)")
    rev = _dec("l_extendedprice") * (one - _dec("l_discount", 4, 2))
    agg = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy(F.date_trunc("month", F.col("l_shipdate")).alias("ship_month"))
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(zero)).alias("__p"),
            F.sum(rev).alias("__t"),
        )
    )
    return agg.select(
        "ship_month",
        F.col("__p").cast("double").alias("promo_revenue"),
        F.col("__t").cast("double").alias("total_revenue"),
        sql_round(
            F.col("__p").cast("double") / F.col("__t").cast("double"), 6
        ).alias("promo_share"),
    )


@register(
    "supplier_cnt_by_brand",
    """
    SELECT p_brand, p_type, count(DISTINCT l_suppkey)::BIGINT AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_size IN (1, 5, 9, 13, 17) AND p_brand <> 'Brand#1'
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000)
    GROUP BY p_brand, p_type
    """,
    doc="TPC-H Q16 shape: distinct-count by attribute pair with a NOT-IN "
    "exclusion subquery. NOT IN over non-null keys = broadcast left_anti "
    "join (the null-safe rewrite Spark itself would plan); part filter "
    "pushed to the dim scan before its broadcast; countDistinct expands "
    "to the standard two-phase partial-distinct aggregate",
)
def q_supplier_cnt_by_brand(spark, sf_dir):
    l = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = (
        load(spark, sf_dir, "part")
        .where(F.col("p_size").isin(1, 5, 9, 13, 17))
        .where(F.col("p_brand") != "Brand#1")
        .select("p_partkey", "p_brand", "p_type")
    )
    excl = (
        load(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 1000)
        .select("s_suppkey")
    )
    j = l.join(F.broadcast(p), l.l_partkey == p.p_partkey).join(
        F.broadcast(excl), l.l_suppkey == excl.s_suppkey, "left_anti"
    )
    return j.groupBy("p_brand", "p_type").agg(
        F.countDistinct("l_suppkey").alias("supplier_cnt")
    )


@register(
    "large_orders_topk",
    """
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, total_qty
    FROM (
      SELECT l_orderkey, sum(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300
    ) big
    JOIN orders ON o_orderkey = big.l_orderkey
    JOIN customer ON c_custkey = o_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q18 shape: HAVING-filtered aggregate semi-joined back "
    "through orders to customers, deterministic top-k. 100 TB shape: the "
    "per-order quantity aggregate runs FIRST (one shuffle with map-side "
    "combine) and its >300 survivors are a tiny relation, broadcast to "
    "orders — the classic agg-then-join inversion. quantities are "
    "integral doubles, so the group sums are exact on both engines",
)
def q_large_orders_topk(spark, sf_dir):
    big = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_quantity")
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .where(F.col("total_qty") > 300)
    )
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        o.join(F.broadcast(big), o.o_orderkey == big.l_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


@register(
    "idle_rich_customers",
    """
    WITH ab AS (
      SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_bal
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c_nationkey, count(*)::BIGINT AS numcust,
           CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
    FROM customer, ab
    WHERE c_acctbal > ab.avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    GROUP BY c_nationkey
    """,
    doc="TPC-H Q22 shape: scalar-subquery threshold (global positive-"
    "balance average) + NOT EXISTS anti-join (customers with no urgent "
    "order; every synthetic customer has SOME order, so the Q22 "
    "'no orders at all' predicate would be vacuous — the urgent variant "
    "keeps the anti-join selective). The average is exact-decimal-sum / "
    "count in DOUBLE so the > threshold compares identical doubles; it "
    "attaches via DataFrame.scalar() and plans as a true ScalarSubquery",
)
def q_idle_rich_customers(spark, sf_dir):
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
    avg_bal = (
        c.where(F.col("c_acctbal") > 0.0)
        .agg((F.sum(_dec("c_acctbal")).cast("double") / F.count(F.lit(1))).alias("__avg"))
    )
    urgent = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    rich = c.where(F.col("c_acctbal") > avg_bal.scalar())
    idle = rich.join(urgent, rich.c_custkey == urgent.o_custkey, "left_anti")
    return idle.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("numcust"),
        F.sum(_dec("c_acctbal")).cast("double").alias("totacctbal"),
    )


@register(
    "cheapest_supplier_per_part",
    """
    WITH ps AS (
      SELECT l_partkey, p_name, l_suppkey,
             round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*), 4) AS avg_price
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_size <= 3
      GROUP BY l_partkey, p_name, l_suppkey
    )
    SELECT l_partkey AS p_partkey, p_name, l_suppkey AS best_suppkey, avg_price AS best_price
    FROM (
      SELECT *, row_number() OVER (PARTITION BY l_partkey
                                   ORDER BY avg_price, l_suppkey) AS rk
      FROM ps
    ) WHERE rk = 1
    """,
    doc="TPC-H Q2 shape (min-cost supplier per part) re-expressed as a "
    "window rank instead of a correlated MIN subquery — one pass, no "
    "self-join. Part filter pushed before its broadcast; the per-"
    "(part,supplier) average is exact-decimal-sum / count rounded to 4dp "
    "BEFORE ranking so the rank order is engine-identical; suppkey "
    "tiebreak makes rk=1 deterministic under price ties",
)
def q_cheapest_supplier_per_part(spark, sf_dir):
    from pyspark.sql.window import Window

    l = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey", "l_extendedprice")
    p = load(spark, sf_dir, "part").where(F.col("p_size") <= 3).select("p_partkey", "p_name")
    ps = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("l_partkey", "p_name", "l_suppkey")
        .agg(
            sql_round(
                F.sum(_dec("l_extendedprice")).cast("double") / F.count(F.lit(1)), 4
            ).alias("avg_price")
        )
    )
    w = Window.partitionBy("l_partkey").orderBy(F.asc("avg_price"), F.asc("l_suppkey"))
    return (
        ps.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "p_name",
            F.col("l_suppkey").alias("best_suppkey"),
            F.col("avg_price").alias("best_price"),
        )
    )

_CM_W = 512  # CountMin width (buckets per row)
_CM_D = 3  # CountMin depth (hash rows)


def _cm_buckets(word_col):
    """(rix, bucket) structs for the d CountMin rows of one token.

    Bucket = md5-derived 60-bit hash of 'cm{r}|token' mod width — fully
    deterministic and reproducible in the SQL oracle (functions/hashing
    docstring). explode_outer per module convention (no inferred
    size()>0 pushdown re-evaluating the hash chain; the array is a
    constant-size literal so nulls are impossible anyway).
    """
    from ..functions.hashing import hash64

    return F.array(
        *[
            F.struct(
                F.lit(r).alias("rix"),
                F.pmod(
                    hash64(F.concat(F.lit(f"cm{r}|"), word_col)), F.lit(_CM_W)
                ).alias("bucket"),
            )
            for r in range(_CM_D)
        ]
    )


def _cm_bucket_sql(r: int, word_expr: str) -> str:
    from ..functions.hashing import hash64_sql

    inner = "'cm" + str(r) + "|' || " + word_expr
    return f"({hash64_sql(inner)} % {_CM_W})"


def _countmin_sql() -> str:
    rb_rows = " UNION ALL ".join(
        f"SELECT word, {r} AS rix, {_cm_bucket_sql(r, 'word')} AS bucket FROM w"
        for r in range(_CM_D)
    )
    return f"""
    WITH w AS (
      SELECT word FROM (
        SELECT unnest(string_split_regex(lower(text), '{_WORD_SPLIT_SQL}')) AS word
        FROM documents
        WHERE NOT regexp_matches(text, '[0-9]')
      ) WHERE word <> '' AND NOT regexp_matches(word, '^[0-9]+$')
    ),
    rb AS ({rb_rows}),
    sketch AS (SELECT rix, bucket, count(*)::BIGINT AS c FROM rb GROUP BY rix, bucket),
    exact AS (SELECT word, count(*)::BIGINT AS exact_cnt FROM w GROUP BY word),
    probes AS (SELECT word, exact_cnt FROM exact WHERE exact_cnt >= 50),
    pb AS (SELECT p.word, p.exact_cnt, r.r AS rix,
                  CASE r.r {' '.join(f"WHEN {r} THEN {_cm_bucket_sql(r, 'p.word')}" for r in range(_CM_D))} END AS bucket
           FROM probes p, range({_CM_D}) r(r))
    SELECT pb.word, pb.exact_cnt, min(s.c)::BIGINT AS cm_estimate
    FROM pb JOIN sketch s ON s.rix = pb.rix AND s.bucket = pb.bucket
    GROUP BY pb.word, pb.exact_cnt
    """


@register(
    "countmin_tokens",
    _countmin_sql(),
    doc="CountMin frequency sketch with a FULL value oracle: the sketch "
    "uses frozen md5-derived hash rows (d=3, w=512), so unlike RNG-seeded "
    "sketches the whole build + point-query path is deterministic and "
    "DuckDB reproduces it bit-for-bit. Probes are the tokens whose exact "
    "count >= 50 (a deterministic set), output (word, exact_cnt, "
    "cm_estimate) — the one-sided overestimate guarantee is also pinned "
    "in tests. 100 TB shape: the sketch is ONE groupBy over (rix,bucket) "
    "with map-side combine onto a bounded d*w=1536-cell relation — the "
    "distributive-merge property that makes CountMin the scan-once "
    "answer when the key domain itself is shuffle-prohibitive; the tiny "
    "sketch then broadcasts to the probe side",
)
def q_countmin_tokens(spark, sf_dir):
    docs = ensure_parallelism(
        load(spark, sf_dir, "documents").select("text"),
        skip_below_bytes=_CHEAP_PIPE_BYTES,
    )
    words = T.explode_words(T.drop_digit_lines(docs, "text"), "text")
    rb = (
        words.select(F.explode_outer(_cm_buckets(F.col("word"))).alias("rb"))
        .select("rb.rix", "rb.bucket")
    )
    sketch = rb.groupBy("rix", "bucket").agg(F.count(F.lit(1)).alias("c"))
    exact = words.groupBy("word").agg(F.count(F.lit(1)).alias("exact_cnt"))
    probes = exact.where(F.col("exact_cnt") >= 50)
    pb = (
        probes.select(
            "word", "exact_cnt", F.explode_outer(_cm_buckets(F.col("word"))).alias("rb")
        )
        .select("word", "exact_cnt", "rb.rix", "rb.bucket")
    )
    est = pb.join(F.broadcast(sketch), ["rix", "bucket"])
    return est.groupBy("word", "exact_cnt").agg(F.min("c").alias("cm_estimate"))


@register(
    "tfidf_top_terms",
    f"""
    WITH tok AS (
      SELECT doc_id, word FROM (
        SELECT doc_id, unnest(string_split_regex(lower(text), '{_WORD_SPLIT_SQL}')) AS word
        FROM documents
      ) WHERE word <> '' AND NOT regexp_matches(word, '^[0-9]+$')
    ),
    dfx AS (SELECT word, count(*)::BIGINT AS df
            FROM (SELECT DISTINCT doc_id, word FROM tok) GROUP BY word),
    nn AS (SELECT count(*)::BIGINT AS n FROM documents),
    tf AS (SELECT doc_id, word, count(*)::BIGINT AS tf
           FROM tok WHERE doc_id % 97 = 0 GROUP BY doc_id, word),
    scored AS (
      SELECT tf.doc_id, tf.word, tf.tf, dfx.df,
             round(tf.tf * ln(CAST(nn.n AS DOUBLE) / dfx.df), 6) AS tfidf
      FROM tf JOIN dfx USING (word), nn
    )
    SELECT doc_id, word, tf, df, tfidf FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, word) AS rk
      FROM scored
    ) WHERE rk <= 3
    """,
    doc="TF-IDF term weighting: top-3 terms per probe doc by "
    "tf * ln(N/df). 100 TB shape: df is ONE distinct-then-count shuffle "
    "over (doc,word) pairs for the whole corpus (unavoidable — it IS the "
    "statistic), then broadcasts to the tf side, which is computed only "
    "for the probe docs (filter pushed to the scan); the corpus count "
    "attaches via DataFrame.scalar() (a true ScalarSubquery). round(6) "
    "BEFORE ranking absorbs ln() last-ulp differences so the rank order "
    "is engine-identical, with the word tiebreak pinning ties",
)
def q_tfidf_top_terms(spark, sf_dir):
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    tok = (
        docs.select("doc_id", F.explode_outer(T.words("text")).alias("word"))
        .where(~F.col("word").rlike("^[0-9]+$"))
    )
    # df counts DISTINCT docs per word. Deduplicate INSIDE the row with
    # array_distinct before the explode (round 17, guide §2.3/§2.4):
    # the former tok.distinct() shuffled every (doc_id, word) pair of the
    # corpus just to collapse within-doc repeats — a dedup the row can do
    # itself — and then shuffled again on word. Now the per-word partial
    # count aggregates map-side over already-distinct-per-doc words and
    # ONE exchange (word) remains; the exchange also no longer carries
    # doc_id. Same df values by construction: distinct-per-doc explode
    # emits each (doc, word) once. That holds only while documents.doc_id
    # is unique (one row per doc): two rows of one doc_id would count a
    # shared word twice where the oracle's DISTINCT (doc_id, word) counts
    # it once. tests/test_analytics.py::TestTfIdf checks the key at sf0.01.
    df_tbl = (
        docs.select(
            F.explode_outer(F.array_distinct(T.words("text"))).alias("word")
        )
        .where(~F.col("word").rlike("^[0-9]+$"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    n = docs.agg(F.count(F.lit(1)).alias("__n"))
    tf = (
        tok.where(F.col("doc_id") % 97 == 0)
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # bind the raw score ONCE before rounding (round 17): sql_round
    # macro-expands its argument ~10x, and with the ScalarSubquery + ln
    # inline that minted 21 subquery instances and a 927-line plan
    # (ReuseSubquery dedupes them at runtime, but plan build, codegen
    # size, and per-row ln count all pay). A separate projection makes
    # the rounding operate on a plain column ref — CollapseProject keeps
    # non-cheap multi-referenced aliases intact — cutting the plan to
    # ~500 lines with ONE subquery instance. Arithmetic unchanged.
    scored = (
        tf.join(F.broadcast(df_tbl), "word")
        .withColumn(
            "__raw", F.col("tf") * F.log(n.scalar().cast("double") / F.col("df"))
        )
        .select(
            "doc_id",
            "word",
            "tf",
            "df",
            sql_round(F.col("__raw"), 6).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("word"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("doc_id", "word", "tf", "df", "tfidf")
    )


@register(
    "bigram_inverted_index",
    f"""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '{_WORD_SPLIT_SQL}'),
                         t -> len(t) > 0) AS w
      FROM documents
    ),
    bg AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(generate_series(1, len(w) - 1),
                                                 i -> w[i] || ' ' || w[i+1]))) AS bigram
      FROM w
    ),
    dfx AS (SELECT bigram, count(*)::BIGINT AS df
            FROM bg GROUP BY bigram HAVING count(*) <= 5)
    SELECT bg.bigram, dfx.df,
           string_agg(CAST(bg.doc_id AS VARCHAR), ',' ORDER BY bg.doc_id) AS postings
    FROM bg JOIN dfx USING (bigram)
    GROUP BY bg.bigram, dfx.df
    """,
    doc="Inverted-index build over word bigrams, banded to rare grams "
    "(df <= 5): token -> sorted posting list, the retrieval structure a "
    "corpus search/decontamination service materializes. 100 TB shape: "
    "TWO-PASS on purpose — df counts first (one shuffle, map-side "
    "combine), then only the surviving rare grams aggregate posting "
    "lists, so no collect_list ever runs on a stopword-gram key (the "
    "unbounded-posting-list OOM at scale); the df band relation "
    "broadcasts, and the gram relation sits behind a lazy reuse barrier so "
    "both passes share ONE tokenize (measured with an eager barrier at 20x "
    "corpus, git show 204ae3d:tools/measure_index_twopass.py: 0.7 vs 20.9 "
    "MB shuffle AND 1.1 vs 5.2 s wall against the one-pass form — without "
    "the barrier the double tokenize costs 10.8 s). Postings serialize as "
    "a sorted CSV string so the value oracle compares engine-neutral scalars",
)
def q_bigram_inverted_index(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    bg = reuse_barrier(
        T.with_word_shingles(docs, "text", 2)
        .select("doc_id", F.explode_outer("shingles").alias("bigram"))
        .where(F.col("bigram").isNotNull()),
        eager=False,
    )
    dfx = (
        bg.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= 5)
    )
    return (
        bg.join(F.broadcast(dfx), "bigram")
        .groupBy("bigram", "df")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_list("doc_id")), lambda x: x.cast("string")
                ),
            ).alias("postings")
        )
    )


@register(
    "events_sliding_peak",
    """
    SELECT event_type,
           max(h_sum) AS peak_hour_value,
           max(h_n)::BIGINT AS peak_hour_events,
           count(*)::BIGINT AS n_events
    FROM (
      SELECT event_type,
             CAST(sum(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) AS h_sum,
             count(*) OVER w AS h_n
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts)
                   RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    )
    GROUP BY event_type
    """,
    doc="Sliding event-time window via a RANGE frame: per event, the "
    "trailing-1-hour value sum and row count; reduced to the per-type "
    "peak (the load-spike profile). RANGE (not ROWS) so timestamp ties "
    "are peers on both engines — frames keyed on integer epoch_us make "
    "Spark's rangeBetween and DuckDB's RANGE BETWEEN identical; frame "
    "sums are exact DECIMAL. One shuffle on event_type, sort within "
    "partitions — no per-row self-join, the scale-correct sliding form",
)
def q_events_sliding_peak(spark, sf_dir):
    from pyspark.sql.window import Window

    e = load(spark, sf_dir, "events").select("event_type", "ts", "value")
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, 0)
    )
    sl = e.select(
        "event_type",
        F.sum(_dec("value")).over(w).cast("double").alias("h_sum"),
        F.count(F.lit(1)).over(w).alias("h_n"),
    )
    return sl.groupBy("event_type").agg(
        F.max("h_sum").alias("peak_hour_value"),
        F.max("h_n").alias("peak_hour_events"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "both_priority_customers",
    """
    SELECT c_nationkey, count(*)::BIGINT AS cnt
    FROM customer
    WHERE c_custkey IN (
      SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      INTERSECT
      SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
    )
    GROUP BY c_nationkey
    """,
    doc="Set ops (INTERSECT) + semi join: customers with BOTH an urgent "
    "and a low order, per nation — the intersect twin of "
    "urgent_only_customers (EXCEPT). Spark plans intersect as a "
    "distinct left-semi join pair; both branches prune to one column "
    "before the shuffle",
)
def q_both_priority_customers(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    urgent = o.where(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    low = o.where(F.col("o_orderpriority") == "5-LOW").select("o_custkey")
    keys = urgent.intersect(low)  # INTERSECT DISTINCT
    return (
        c.join(keys, c.c_custkey == keys.o_custkey, "left_semi")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "events_outlier_rate",
    """
    WITH st AS (
      SELECT event_type,
             count(*)::BIGINT AS n,
             CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS s,
             CAST(sum(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS ss
      FROM events GROUP BY event_type
    ),
    thr AS (
      SELECT event_type, n,
             s / n AS mu,
             sqrt(greatest(ss / n - (s / n) * (s / n), 0.0)) AS sigma
      FROM st
    )
    SELECT e.event_type,
           thr.n,
           sum(CASE WHEN abs(e.value - thr.mu) > 3.0 * thr.sigma THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
           round(sum(CASE WHEN abs(e.value - thr.mu) > 3.0 * thr.sigma THEN 1 ELSE 0 END)
                 / CAST(thr.n AS DOUBLE), 6) AS outlier_rate
    FROM events e JOIN thr USING (event_type)
    GROUP BY e.event_type, thr.n
    """,
    doc="Two-pass z-score outlier detection per group: pass 1 computes "
    "exact moments (count, decimal sum, decimal sum-of-squares -> mu and "
    "sigma as doubles derived ONLY from exact sums, so both engines get "
    "bit-identical thresholds; sqrt is IEEE-correctly-rounded, unlike "
    "ln), pass 2 re-scans with the per-group thresholds BROADCAST — the "
    "scale-correct filter shape: no window over the fact table, the "
    "second pass is map-only against a |groups|-row relation. The "
    "quality-filtering primitive for throwing out corrupt metric rows "
    "before training aggregation",
)
def q_events_outlier_rate(spark, sf_dir):
    e = load(spark, sf_dir, "events").select("event_type", "value")
    v = _dec("value")
    st = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).cast("double").alias("s"),
        F.sum(v * v).cast("double").alias("ss"),
    )
    mu = F.col("s") / F.col("n")
    sigma = F.sqrt(F.greatest(F.col("ss") / F.col("n") - mu * mu, F.lit(0.0)))
    thr = st.select("event_type", "n", mu.alias("mu"), sigma.alias("sigma"))
    j = e.join(F.broadcast(thr), "event_type")
    is_out = (F.abs(F.col("value") - F.col("mu")) > 3.0 * F.col("sigma")).cast("int")
    return j.groupBy("event_type", "n").agg(
        F.sum(is_out).cast("long").alias("n_outliers"),
        sql_round(F.sum(is_out) / F.col("n").cast("double"), 6).alias("outlier_rate"),
    )


@register(
    "events_daily_unpivot",
    """
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(count(*) AS DOUBLE) AS cnt,
             CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
      FROM events GROUP BY 1
    )
    SELECT day, 'cnt' AS metric, cnt AS val FROM d
    UNION ALL
    SELECT day, 'total_value' AS metric, total_value AS val FROM d
    """,
    doc="Unpivot/melt (the inverse of events_daily_pivot): the daily "
    "wide aggregate relayed long via DataFrame.unpivot — the "
    "metrics-table normalization step. Map-only expand over an "
    "already-tiny aggregate; oracle mirrors it as UNION ALL (what "
    "Expand generates)",
)
def q_events_daily_unpivot(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("double").alias("cnt"),
        F.sum(_dec("value")).cast("double").alias("total_value"),
    )
    return daily.unpivot(["day"], ["cnt", "total_value"], "metric", "val")


def _promo_share_sampled_oracle() -> str:
    from ..sampling.deterministic import hash_bernoulli_sql

    keep = hash_bernoulli_sql(
        "l_orderkey::VARCHAR || '-' || l_linenumber::VARCHAR", 0.1, seed=42
    )
    rev = "CAST(l_extendedprice AS DECIMAL(12,2)) * (1.00 - CAST(l_discount AS DECIMAL(4,2)))"
    promo = f"CASE WHEN p_type = 'PROMO' THEN {rev} ELSE CAST(0.00 AS DECIMAL(12,2)) END"
    return f"""
    SELECT date_trunc('month', l_shipdate) AS ship_month,
           count(*)::BIGINT AS n_sampled,
           round(CAST(sum({promo}) AS DOUBLE) / CAST(sum({rev}) AS DOUBLE), 6) AS est_promo_share
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE {keep}
    GROUP BY 1
    """


@register(
    "promo_share_hash_sampled",
    _promo_share_sampled_oracle(),
    doc="The reference's sample->estimate core applied to the Q14 analytic "
    "shape: promo revenue share per ship month from a hash-deterministic "
    "10% sample. The share is a RATIO of two HT sums over the same "
    "sample, so the 1/r scale-up cancels and the estimate is exactly the "
    "sampled ratio — value-oracled end to end (sample membership, "
    "decimal sums, one double division). At 100 TB the sample filter "
    "lands inside the fact scan, cutting the join+agg input 10x while "
    "the broadcast dim side is untouched",
    tags=("sampled",),
)
def q_promo_share_hash_sampled(spark, sf_dir):
    from ..sampling.deterministic import hash_bernoulli

    l = load(spark, sf_dir, "lineitem").withColumn(
        "__k", F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber"))
    )
    sampled = hash_bernoulli(l, "__k", 0.1, seed=42)
    p = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    one = F.lit("1.00").cast("decimal(4,2)")
    zero = F.lit("0.00").cast("decimal(12,2)")
    rev = _dec("l_extendedprice") * (one - _dec("l_discount", 4, 2))
    return (
        sampled.join(F.broadcast(p), sampled.l_partkey == p.p_partkey)
        .groupBy(F.date_trunc("month", F.col("l_shipdate")).alias("ship_month"))
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            sql_round(
                F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(zero)).cast("double")
                / F.sum(rev).cast("double"),
                6,
            ).alias("est_promo_share"),
        )
    )


def _histogram_sampled_oracle() -> str:
    from ..sampling.deterministic import hash_bernoulli_sql

    keep = hash_bernoulli_sql("event_id::VARCHAR", 0.1, seed=42)
    return f"""
    SELECT least(greatest(CAST(floor(value / 25.0) AS INTEGER), 0), 19) AS bucket,
           count(*)::BIGINT AS n_sampled,
           CAST(count(*) AS DOUBLE) / 0.1 AS est_cnt,
           CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / 0.1 AS est_total_value
    FROM events
    WHERE {keep}
    GROUP BY 1
    """


@register(
    "events_histogram_hash_sampled",
    _histogram_sampled_oracle(),
    doc="HT-scaled equi-width histogram from a hash-deterministic 10% "
    "sample — the profile-cheaply-before-the-full-pass pattern (A1+A6 on "
    "the histogram shape). est_cnt = n/r and est_total = decimal-sum/r, "
    "both exact doubles; the deterministic twin keeps the whole "
    "sample->bucket->scale path value-oracled",
    tags=("sampled",),
)
def q_events_histogram_hash_sampled(spark, sf_dir):
    from ..sampling.deterministic import hash_bernoulli

    e = load(spark, sf_dir, "events").select("event_id", "value")
    sampled = hash_bernoulli(
        e.withColumn("__k", F.col("event_id").cast("string")), "__k", 0.1, seed=42
    )
    bucket = F.least(
        F.greatest(F.floor(F.col("value") / F.lit(25.0)).cast("int"), F.lit(0)),
        F.lit(19),
    )
    return sampled.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_sampled"),
        (F.count(F.lit(1)).cast("double") / F.lit(0.1)).alias("est_cnt"),
        (F.sum(_dec("value")).cast("double") / F.lit(0.1)).alias("est_total_value"),
    )


def _doc_chunking_sql() -> str:
    from ..operators.corpus import chunk_documents_sql

    return chunk_documents_sql(chunk_tokens=64, stride=48, word_split_re=_WORD_SPLIT_SQL)


@register(
    "doc_chunking",
    _doc_chunking_sql(),
    doc="Context-window preparation: strided 64-token windows (stride 48, "
    "16-token overlap) per document — the step between corpus cleaning "
    "and sequence_packing in a pretraining pipeline. Map-only: tokenize "
    "once per row (CSE discipline), one generator explode, ZERO "
    "shuffles; value-oracled window-for-window including chunk text",
)
def q_doc_chunking(spark, sf_dir):
    from ..operators.corpus import chunk_documents

    docs = ensure_parallelism(
        load(spark, sf_dir, "documents").select("doc_id", "text"),
        skip_below_bytes=_CHEAP_PIPE_BYTES,
    )
    return chunk_documents(docs, chunk_tokens=64, stride=48)


@register(
    "events_value_histogram",
    """
    SELECT least(greatest(CAST(floor(value / 25.0) AS INTEGER), 0), 19) AS bucket,
           count(*)::BIGINT AS cnt,
           CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1
    """,
    doc="Equi-width histogram (20 x 25-unit buckets, clamped ends) over "
    "the event value column — the profiling primitive behind range "
    "pruning and skew diagnosis. Map-only bucket expression + one "
    "20-key aggregate; floor of an IEEE division is engine-identical, "
    "bucket sums use the exact-decimal discipline",
)
def q_events_value_histogram(spark, sf_dir):
    e = load(spark, sf_dir, "events").select("value")
    bucket = F.least(
        F.greatest(F.floor(F.col("value") / F.lit(25.0)).cast("int"), F.lit(0)),
        F.lit(19),
    )
    return e.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(_dec("value")).cast("double").alias("total_value"),
    )


# ===========================================================================
# Round-4 second widening batch: deterministic sketches, time-series
# spine/gap-fill, SCD2 dimension builds, single-pass profiling, frozen-
# weight model scoring, the remaining hard TPC-H decorrelation shapes
# (Q15/Q17/Q7), and the JSONL source round trip. All value-oracled.
# ===========================================================================


def _kmv_users_sql() -> str:
    from ..operators.sketches import kmv_distinct_sql

    return kmv_distinct_sql("events", "strftime(ts, '%Y-%m-%d')", "day", "user_id::VARCHAR", k=64)


@register(
    "kmv_users_daily",
    _kmv_users_sql(),
    doc="KMV (k-minimum-values) distinct-count sketch, the deterministic "
    "value-oracled counterpart of hll_users_daily: every hash is the "
    "frozen md5-derived hash64, so the whole build + (k-1)/U_(k) "
    "estimate path reproduces bit-for-bit in DuckDB (same discipline as "
    "countmin_tokens). k=64 (~13% SE) with the testdata's 125-141 "
    "distinct users/day keeps the estimator branch — not the exact "
    "fallback — under test. 100 TB shape: one map-side-deduped distinct "
    "shuffle, then a TWO-STAGE salted top-k (salt = h % fanout) so a hot "
    "group sorts fanout-wide and the final per-group pass sees at most "
    "fanout*k rows; hash-disjoint salts need no cross-shard dedup "
    "(operators/sketches.py docstring)",
)
def q_kmv_users_daily(spark, sf_dir):
    from ..operators.sketches import kmv_distinct

    ev = load(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "user_id"
    )
    return kmv_distinct(ev, ["day"], F.col("user_id").cast("string"), k=64, fanout=8)


@register(
    "events_gapfill_hourly",
    """
    WITH e AS (
      SELECT date_trunc('hour', ts) AS hour, value
      FROM events WHERE event_type = 'purchase' AND value >= 150.0
    ),
    counts AS (
      SELECT hour, count(*)::BIGINT AS cnt,
             CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
      FROM e GROUP BY hour
    ),
    spine AS (
      SELECT unnest(generate_series((SELECT min(hour) FROM e),
                                    (SELECT max(hour) FROM e),
                                    INTERVAL 1 HOUR)) AS hour
    )
    SELECT s.hour, coalesce(c.cnt, 0)::BIGINT AS cnt,
           coalesce(c.total_value, 0.0) AS total_value
    FROM spine s LEFT JOIN counts c ON s.hour = c.hour
    """,
    doc="Time-series gap fill: a generated hour spine (sequence + explode "
    "between the observed min/max) left-joined to the sparse hourly "
    "aggregate, zero-filling the 642 of 720 hours with no qualifying "
    "event — the resample/asfreq primitive every monitoring pipeline "
    "needs before windowed math. 100 TB shape: the spine is bounded by "
    "the TIME RANGE (not the data volume) and is generated from a 1-row "
    "scalar agg, so the only full-data cost is the one filtered groupBy; "
    "the join is dimension-sized regardless of input scale",
)
def q_events_gapfill_hourly(spark, sf_dir):
    e = (
        load(spark, sf_dir, "events")
        .where((F.col("event_type") == "purchase") & (F.col("value") >= 150.0))
        .select(F.date_trunc("hour", F.col("ts")).alias("hour"), "value")
    )
    counts = e.groupBy("hour").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(_dec("value")).cast("double").alias("total_value"),
    )
    spine = (
        e.agg(F.min("hour").alias("lo"), F.max("hour").alias("hi"))
        .select(F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour"))
    )
    return spine.join(counts, "hour", "left").select(
        "hour",
        F.coalesce("cnt", F.lit(0)).alias("cnt"),
        F.coalesce("total_value", F.lit(0.0)).alias("total_value"),
    )


@register(
    "user_state_scd2",
    """
    WITH ordered AS (
      SELECT user_id, event_type, ts,
             lag(event_type) OVER w AS prev_type
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    flagged AS (
      SELECT user_id, event_type, ts,
             sum(CASE WHEN prev_type IS NULL OR prev_type <> event_type
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM ordered
    ),
    versions AS (
      SELECT user_id, island, event_type,
             min(ts) AS valid_from, count(*)::BIGINT AS n_events
      FROM flagged GROUP BY user_id, island, event_type
    )
    SELECT user_id, event_type, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY island) AS valid_to,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY island) IS NULL AS is_current,
           n_events
    FROM versions
    """,
    doc="SCD2 (slowly-changing-dimension type 2) build: per-user "
    "event_type runs collapse gaps-and-islands-style into versioned "
    "rows (valid_from, valid_to, is_current), valid_to = next version's "
    "valid_from (half-open intervals, warehouse convention). "
    "Deterministic under ties via the (ts, event_id) total order. 100 TB "
    "shape: every window and the groupBy partition on the SAME user_id "
    "key, and Catalyst reuses that one exchange end-to-end (plan-audited "
    "exch=1); sorts are spillable; no self-join, no driver state. The "
    "dimension-history twin of customer_upsert's current-state merge",
)
def q_user_state_scd2(spark, sf_dir):
    from pyspark.sql.window import Window

    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = (
        ev.withColumn("__prev", F.lag("event_type").over(w_ord))
        .withColumn(
            "__new",
            F.when(F.col("__prev").isNull() | (F.col("__prev") != F.col("event_type")), 1).otherwise(0),
        )
        .withColumn("__island", F.sum("__new").over(w_ord))
    )
    versions = flagged.groupBy("user_id", "__island", "event_type").agg(
        F.min("ts").alias("valid_from"), F.count(F.lit(1)).alias("n_events")
    )
    w_isl = Window.partitionBy("user_id").orderBy("__island")
    lead_from = F.lead("valid_from").over(w_isl)
    return versions.select(
        "user_id",
        "event_type",
        "valid_from",
        lead_from.alias("valid_to"),
        lead_from.isNull().alias("is_current"),
        "n_events",
    )


# (column, kind) config for the single-pass profiler; kinds drive which
# min/max metrics exist and how values coerce to the uniform DOUBLE axis
_PROFILE_COLS = [
    ("o_orderkey", "num"),
    ("o_custkey", "num"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "num"),
    ("o_orderdate", "ts"),
    ("o_orderpriority", "str"),
]


def _profile_sql() -> str:
    aggs, arms = [], []
    for c, kind in _PROFILE_COLS:
        aggs.append(f"count(*) FILTER (WHERE {c} IS NULL)::BIGINT AS {c}__nulls")
        aggs.append(f"count(DISTINCT {c})::BIGINT AS {c}__nd")
        arms.append((c, "null_count", f"{c}__nulls"))
        arms.append((c, "distinct_count", f"{c}__nd"))
        if kind == "num":
            aggs.append(f"CAST(min({c}) AS DOUBLE) AS {c}__min")
            aggs.append(f"CAST(max({c}) AS DOUBLE) AS {c}__max")
            arms.append((c, "min", f"{c}__min"))
            arms.append((c, "max", f"{c}__max"))
        elif kind == "ts":
            aggs.append(f"epoch_us(min({c}))::BIGINT AS {c}__min")
            aggs.append(f"epoch_us(max({c}))::BIGINT AS {c}__max")
            arms.append((c, "min_epoch_us", f"{c}__min"))
            arms.append((c, "max_epoch_us", f"{c}__max"))
    union = "\n      UNION ALL ".join(
        f"SELECT '{c}' AS column_name, '{m}' AS metric, CAST({x} AS DOUBLE) AS value FROM a"
        for c, m, x in arms
    )
    return f"WITH a AS (SELECT {', '.join(aggs)} FROM orders)\n    {union}"


@register(
    "orders_profile",
    _profile_sql(),
    doc="Single-pass column profiler over orders: null_count + exact "
    "distinct_count for every column, min/max for numeric and timestamp "
    "columns (epoch micros), emitted long-format (column_name, metric, "
    "value DOUBLE) — the stats pass behind ingestion QA and CBO-style "
    "planning. One full-scan aggregate; the multi-column exact "
    "count-distincts plan as Spark's Expand (one pass, xN rows map-side) "
    "— at 100 TB swap countDistinct for approx_count_distinct (HLL) to "
    "drop the Expand entirely; exact is kept here because the oracle "
    "verifies values. The 1-row wide agg then unpivots via stack() — "
    "map-only on one row",
)
def q_orders_profile(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    aggs, arms = [], []
    for c, kind in _PROFILE_COLS:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("long").alias(f"{c}__nulls")
        )
        aggs.append(F.countDistinct(c).alias(f"{c}__nd"))
        arms.append((c, "null_count", f"{c}__nulls"))
        arms.append((c, "distinct_count", f"{c}__nd"))
        if kind == "num":
            aggs.append(F.min(c).cast("double").alias(f"{c}__min"))
            aggs.append(F.max(c).cast("double").alias(f"{c}__max"))
            arms.append((c, "min", f"{c}__min"))
            arms.append((c, "max", f"{c}__max"))
        elif kind == "ts":
            # parquet timestamps read as TIMESTAMP_NTZ; unix_micros only
            # takes TIMESTAMP and the NTZ->TZ cast would inject the session
            # timezone — timestampdiff from the NTZ epoch is timezone-free
            # and mirrors DuckDB's epoch_us on naive timestamps exactly
            aggs.append(
                F.expr(
                    f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', min({c}))"
                ).alias(f"{c}__min")
            )
            aggs.append(
                F.expr(
                    f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', max({c}))"
                ).alias(f"{c}__max")
            )
            arms.append((c, "min_epoch_us", f"{c}__min"))
            arms.append((c, "max_epoch_us", f"{c}__max"))
    stack_args = ", ".join(f"'{c}', '{m}', CAST({x} AS DOUBLE)" for c, m, x in arms)
    return o.agg(*aggs).select(
        F.expr(f"stack({len(arms)}, {stack_args}) AS (column_name, metric, value)")
    )


# Frozen logistic quality-filter weights (fastText-style "is this document
# worth training on" gate, with the model REDUCED to literals so scoring is
# a deterministic map-only expression — the same freeze discipline as the
# LSH hyperplanes and IVF centroids). Features: log doc length, English
# stopword density, punctuation density.
_LQ_BIAS = -3.0
_LQ_W_LEN = 0.6
_LQ_W_STOP = 3.0
_LQ_W_PUNCT = -6.0
_LQ_STOPWORDS = ("the", "and", "of", "to", "is", "a", "in", "it", "that")


def _logistic_quality_sql() -> str:
    stoplist = ", ".join(f"'{s}'" for s in _LQ_STOPWORDS)
    return rf"""
    WITH f AS (
      SELECT doc_id,
             ln(1.0 + CAST(n_chars AS DOUBLE)) AS f_len,
             CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                  x -> x IN ({stoplist}))) AS DOUBLE)
               / len(string_split_regex(lower(trim(text)), '\s+')) AS f_stop,
             CASE WHEN length(regexp_replace(text, '\s', '', 'g')) = 0 THEN 0.0
                  ELSE CAST(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS DOUBLE)
                       / length(regexp_replace(text, '\s', '', 'g')) END AS f_punct
      FROM documents
    ),
    s AS (
      SELECT doc_id,
             round(1.0 / (1.0 + exp(-({_LQ_BIAS} + {_LQ_W_LEN} * f_len
                                      + {_LQ_W_STOP} * f_stop
                                      + {_LQ_W_PUNCT} * f_punct))), 6) AS quality
      FROM f
    )
    SELECT doc_id::BIGINT AS doc_id, quality, quality >= 0.5 AS keep FROM s
    """


@register(
    "doc_quality_logistic",
    _logistic_quality_sql(),
    doc="Frozen-weight logistic quality classifier: sigmoid(w . [ln doc "
    "length, stopword density, punct density]) with the trained weights "
    "frozen as literals — how fastText-style quality gates actually "
    "deploy in corpus pipelines (score every doc, keep >= 0.5). Map-only "
    "Column chain in whole-stage codegen, zero shuffles; round(6) BEFORE "
    "the keep threshold pins exp/ln across engines (tfidf discipline) "
    "and makes the boolean derive from the identical rounded value",
)
def q_doc_quality_logistic(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    stop = F.size(F.filter(toks, lambda t: t.isin(*_LQ_STOPWORDS)))
    f_stop = stop.cast("double") / F.size(toks)
    f_len = F.log(F.lit(1.0) + F.col("n_chars").cast("double"))
    f_punct = T.punct_ratio(F.col("text"))
    z = (
        F.lit(_LQ_BIAS)
        + F.lit(_LQ_W_LEN) * f_len
        + F.lit(_LQ_W_STOP) * f_stop
        + F.lit(_LQ_W_PUNCT) * f_punct
    )
    scored = docs.select(
        "doc_id", sql_round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6).alias("quality")
    )
    return scored.select("doc_id", "quality", (F.col("quality") >= 0.5).alias("keep"))


@register(
    "top_supplier_revenue",
    """
    WITH rev AS (
      SELECT l_suppkey,
             sum(CAST(l_extendedprice AS DECIMAL(12,2))
                 * (1.00 - CAST(l_discount AS DECIMAL(4,2)))) AS r
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, CAST(r AS DOUBLE) AS total_revenue
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE r = (SELECT max(r) FROM rev)
    """,
    doc="TPC-H Q15 (top supplier by quarterly revenue): the CREATE VIEW + "
    "scalar max re-expressed as one agg reused for both the scalar and "
    "the probe — the view materializes once, max attaches via "
    "DataFrame.scalar() (a true ScalarSubquery), and the supplier dim "
    "broadcasts. Ties are returned (all max-revenue suppliers), exactly "
    "the spec's semantics. EXACT decimal revenue makes the max-equality "
    "engine-identical — a double sum would make 'equal to max' "
    "nondeterministic under partial-agg ordering",
)
def q_top_supplier_revenue(spark, sf_dir):
    one = F.lit("1.00").cast("decimal(4,2)")
    l = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    rev = l.groupBy("l_suppkey").agg(
        F.sum(_dec("l_extendedprice") * (one - _dec("l_discount", 4, 2))).alias("__rev")
    )
    mx = rev.agg(F.max("__rev").alias("m"))
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        F.broadcast(s)
        .join(rev, s.s_suppkey == rev.l_suppkey)
        .where(F.col("__rev") == mx.scalar())
        .select("s_suppkey", "s_name", F.col("__rev").cast("double").alias("total_revenue"))
    )


@register(
    "small_qty_revenue",
    """
    WITH lf AS (
      SELECT l_partkey, l_quantity, l_extendedprice
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_brand = 'Brand#3'
    ),
    pa AS (
      SELECT l_partkey,
             0.2 * (CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*))
               AS qty_thresh
      FROM lf GROUP BY l_partkey
    )
    SELECT count(*)::BIGINT AS n_lines,
           round(CAST(sum(CAST(lf.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0, 2)
             AS avg_yearly
    FROM lf JOIN pa ON lf.l_partkey = pa.l_partkey
    WHERE lf.l_quantity < pa.qty_thresh
    """,
    doc="TPC-H Q17 (small-quantity-order revenue): the correlated "
    "per-part AVG subquery decorrelated into an agg + broadcast join, "
    "with the brand filter applied BEFORE the per-part average so the "
    "threshold build touches only 1/25 of parts — the decorrelate-then-"
    "push-down plan Catalyst cannot derive from the correlated form "
    "itself. The threshold is exact-decimal-sum / count (ONE IEEE "
    "division + multiply), so the l_quantity < thresh row membership is "
    "engine-identical — a plain double avg() would be partial-agg-order "
    "dependent. 100 TB: both the threshold relation and the filtered "
    "part list are partkey-bounded broadcasts; the fact table is "
    "scanned once",
)
def q_small_qty_revenue(spark, sf_dir):
    pf = (
        load(spark, sf_dir, "part")
        .where(F.col("p_brand") == "Brand#3")
        .select("p_partkey")
    )
    l = load(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity", "l_extendedprice")
    lf = l.join(F.broadcast(pf), l.l_partkey == pf.p_partkey).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    pa = lf.groupBy("l_partkey").agg(
        (
            F.lit(0.2)
            * (F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1)))
        ).alias("qty_thresh")
    )
    return (
        lf.join(F.broadcast(pa), "l_partkey")
        .where(F.col("l_quantity") < F.col("qty_thresh"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            sql_round(F.sum(_dec("l_extendedprice")).cast("double") / F.lit(7.0), 2).alias(
                "avg_yearly"
            ),
        )
    )


@register(
    "volume_shipping_q7",
    """
    SELECT supp_nation, cust_nation, l_year,
           CAST(sum(volume) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l_shipdate) AS l_year,
             CAST(l_extendedprice AS DECIMAL(12,2))
               * (1.00 - CAST(l_discount AS DECIMAL(4,2))) AS volume
      FROM lineitem
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON n1.n_nationkey = s_nationkey
      JOIN nation n2 ON n2.n_nationkey = c_nationkey
      WHERE n1.n_name IN ('NATION_1', 'NATION_2')
        AND n2.n_name IN ('NATION_1', 'NATION_2')
        AND n1.n_name <> n2.n_name
    )
    GROUP BY supp_nation, cust_nation, l_year
    """,
    doc="TPC-H Q7 (volume shipping between two nations): the same nation "
    "dim joined in TWO ROLES (via supplier and via customer). Join order "
    "is the scale decision: each fact side is reduced by its broadcast "
    "dim chain FIRST (lineitem->supplier@2/25 nations, orders->customer@"
    "2/25), so the one unavoidable big-big shuffle join (lineitem x "
    "orders on orderkey) moves ~2/25 of each input instead of all of it; "
    "the asymmetric pair filter then cuts same-nation pairs. Exact "
    "decimal volume, cast to double only at output",
)
def q_volume_shipping_q7(spark, sf_dir):
    one = F.lit("1.00").cast("decimal(4,2)")
    n = (
        load(spark, sf_dir, "nation")
        .where(F.col("n_name").isin("NATION_1", "NATION_2"))
        .select("n_nationkey", "n_name")
    )
    sup = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cus = (
        load(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    lf = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    of = (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey")
        .join(F.broadcast(cus), F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "cust_nation")
    )
    return (
        lf.join(of, F.col("l_orderkey") == F.col("o_orderkey"))
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            F.sum(_dec("l_extendedprice") * (one - _dec("l_discount", 4, 2)))
            .cast("double")
            .alias("revenue")
        )
    )


@register(
    "documents_jsonl_roundtrip",
    """
    SELECT lang, count(*)::BIGINT AS n_docs,
           sum(n_chars)::BIGINT AS total_chars,
           sum(length(text))::BIGINT AS total_text_len
    FROM documents GROUP BY lang
    """,
    doc="JSON-lines source round trip: documents written once as an "
    "8-file .json layout (the interchange format crawl corpora actually "
    "arrive in), read back with an EXPLICIT schema — schema-on-read "
    "without the inference pre-scan that would double I/O at 100 TB — "
    "and aggregated per lang. The oracle computes the same aggregate "
    "from the parquet table directly, so a green row proves the "
    "write->escape->parse->read path is lossless (newlines, quotes, "
    "unicode all JSON-escaped; JSONL stays line-splittable, unlike "
    "multiLine CSV/JSON which serializes the whole file through one "
    "reader)",
)
def q_documents_jsonl_roundtrip(spark, sf_dir):
    import hashlib

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    src = _ensure_layout(
        f"/tmp/rsmr_docs_jsonl_{key}",
        lambda d: load(spark, sf_dir, "documents")
        .repartition(8)
        .write.mode("overwrite")
        .json(d),
    )
    schema = "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    docs = spark.read.schema(schema).json(src)
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.length("text")).alias("total_text_len"),
    )
