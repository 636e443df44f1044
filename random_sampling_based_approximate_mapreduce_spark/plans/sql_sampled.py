"""SQL-text surface (spark.sql end to end) and the deterministic hash-sampled estimator twins (joins, quantiles, TPC-H Q1).

Split out of the single-file catalog (round 8, VERDICT r7 item 6);
query text is unchanged. Entries self-register into the shared
``QUERIES`` registry on import — ``plans.catalog`` imports every
family module in the original source order.
"""

from __future__ import annotations

from ._base import (
    F,
    SampledFrame,
    SamplingConfig,
    T,
    _dec,
    load,
    register,
    sql_double,
    sql_round,
    sql_round_sql,
)

# ===========================================================================
# 10b. SQL surface — the same engine through spark.sql() text (the catalog
#      is DataFrame-first; this proves the SQL path end-to-end)
# ===========================================================================


@register(
    "tpch_q1_sql",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
           count(*)::BIGINT AS count_order
    FROM lineitem
    WHERE l_shipdate <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1 via spark.sql() text over registered temp views — the "
    "engine's SQL-string surface (same Catalyst plan as the DataFrame form)",
)
def q_tpch_q1_sql(spark, sf_dir):
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= DATE '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        """
    )


@register(
    "tpch_q1_sampled",
    None,
    doc="A1+A6 on relational data: TPC-H Q1 aggregates from a 10% lineitem "
    "sample, HT-scaled with CI columns (AQP over the warehouse path)",
    tags=("sampled",),
)
def q_tpch_q1_sampled(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").where(F.col("l_shipdate") <= "1998-09-02")
    sf = SampledFrame.from_dataframe(li, SamplingConfig(ratio=0.1, seed=42), observe=False)
    counts = sf.approx_count("l_returnflag", "l_linestatus", ci=True, alias="est_orders")
    sums = sf.approx_sum("l_quantity", "l_returnflag", "l_linestatus", ci=True, alias="est_qty")
    return counts.join(sums, ["l_returnflag", "l_linestatus"])


def _tpch_q1_hash_sampled_oracle() -> str:
    from ..sampling.deterministic import hash_bernoulli_sql

    keep = hash_bernoulli_sql("l_orderkey::VARCHAR || '-' || l_linenumber::VARCHAR", 0.2, seed=42)
    return f"""
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS DOUBLE) * 5.0 AS est_orders,
           CAST(sum(l_quantity) AS DOUBLE) * 5.0 AS est_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) * 5.0
             AS est_base_price
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02' AND {keep}
    GROUP BY l_returnflag, l_linestatus
    """


@register(
    "tpch_q1_hash_sampled",
    _tpch_q1_hash_sampled_oracle(),
    doc="A1+A6 on relational data with a FULL value oracle: TPC-H Q1 "
    "aggregates HT-scaled from a hash-deterministic 20% Bernoulli sample "
    "keyed on (l_orderkey, l_linenumber) — the deterministic twin of "
    "tpch_q1_sampled (whose engine-RNG sample is rows-only-checkable "
    "forever). Exercises the REAL SampledFrame estimator methods "
    "(approx_count/approx_sum), not a reimplementation: membership, "
    "scale-up, and the decimal money sum are all value-checked. "
    "l_quantity sums exactly (integral doubles < 2^53); money goes "
    "through DECIMAL before the double scale-up, per the module's "
    "float-stability discipline",
    tags=("sampled",),
)
def q_tpch_q1_hash_sampled(spark, sf_dir):
    from ..sampling.deterministic import hash_bernoulli

    li = (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .withColumn(
            "__k", F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber"))
        )
    )
    sampled = hash_bernoulli(li, "__k", 0.2, seed=42).drop("__k")
    sf = SampledFrame(df=sampled, ratio=0.2, config=SamplingConfig(ratio=0.2, seed=42))
    counts = sf.approx_count("l_returnflag", "l_linestatus", alias="est_orders")
    qty = sf.approx_sum("l_quantity", "l_returnflag", "l_linestatus", alias="est_qty")
    price = (
        sf.df.groupBy("l_returnflag", "l_linestatus")
        .agg((F.sum(_dec("l_extendedprice")).cast("double") * F.lit(sf.scale)).alias("est_base_price"))
    )
    return counts.join(qty, ["l_returnflag", "l_linestatus"]).join(
        price, ["l_returnflag", "l_linestatus"]
    )


def _sampled_join_hash_twin_oracle() -> str:
    from ..sampling.deterministic import hash_bernoulli_sql

    keep_l = hash_bernoulli_sql("l_orderkey::VARCHAR || '-' || l_linenumber::VARCHAR", 0.2, seed=9)
    keep_o = hash_bernoulli_sql("o_orderkey::VARCHAR", 0.5, seed=3)
    return f"""
    SELECT o.o_orderpriority,
           CAST(count(*) * 10.0 AS DOUBLE) AS est_pairs,
           CAST(sum(l.l_quantity::BIGINT) * 10.0 AS DOUBLE) AS est_qty
    FROM (SELECT * FROM lineitem WHERE {keep_l}) l
    JOIN (SELECT * FROM orders   WHERE {keep_o}) o
      ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """


@register(
    "sampled_join_hash_twin",
    _sampled_join_hash_twin_oracle(),
    doc="Sampled-JOIN composition, value-oracled (SURVEY.md §2.5: the "
    "relational propagation the reference cannot do — its sampling lives "
    "in the input reader, so it can never join two sampled inputs and "
    "keep the estimators honest). Two deterministic hash samples on "
    "INDEPENDENT keys — lineitem at r=0.2 (line identity, seed 9), "
    "orders at r=0.5 (orderkey, seed 3) — joined through "
    "SampledFrame.join_sampled, which composes the metadata to "
    "ratio r1*r2 = 0.1 (a pair survives iff BOTH rows were kept), so the "
    "per-priority HT scale-up is exactly 10x on pair counts AND on "
    "quantity sums. Every moment is an exact integer sum before the one "
    "float multiply, so both engines produce identical doubles. Until "
    "this query the join composition was pytest-only; this makes it a "
    "driver-checkable parity artifact",
    tags=("sampled",),
)
def q_sampled_join_hash_twin(spark, sf_dir):
    from ..sampling.deterministic import hash_bernoulli

    l = load(spark, sf_dir, "lineitem").withColumn(
        "__k", F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber"))
    )
    sl_df = hash_bernoulli(l, "__k", 0.2, seed=9).drop("__k")
    o = load(spark, sf_dir, "orders").withColumn("__k", F.col("o_orderkey").cast("string"))
    so_df = hash_bernoulli(o, "__k", 0.5, seed=3).drop("__k")
    sl = SampledFrame(df=sl_df, ratio=0.2, config=SamplingConfig(ratio=0.2, seed=9))
    so = SampledFrame(df=so_df, ratio=0.5, config=SamplingConfig(ratio=0.5, seed=3))
    joined = sl.join_sampled(so, F.col("l_orderkey") == F.col("o_orderkey"))
    joined = joined.transform(
        lambda df: df.withColumn("__qty", F.col("l_quantity").cast("bigint"))
    )
    pairs = joined.approx_count("o_orderpriority", alias="est_pairs")
    qty = joined.approx_sum("__qty", "o_orderpriority", alias="est_qty")
    return pairs.join(qty, "o_orderpriority")


def _sampled_left_join_hash_twin_oracle() -> str:
    from ..sampling.deterministic import hash_bernoulli_sql

    keep_o = hash_bernoulli_sql("o_orderkey::VARCHAR", 0.2, seed=3)
    keep_l = hash_bernoulli_sql(
        "l_orderkey::VARCHAR || '-' || l_linenumber::VARCHAR", 0.5, seed=9
    )
    # mirrors join_weighted_left at (r1=0.2, r2=0.5): matched weight
    # 1/(r1*r2)=10, per-kept-order null/correction weight (1-1/r2)^K/r1 =
    # (-1)^K * 5. All moments are exact integer sums before ONE float
    # multiply, so both engines produce identical doubles.
    return f"""
    WITH o AS (SELECT * FROM orders   WHERE {keep_o}),
         l AS (SELECT * FROM lineitem WHERE {keep_l}),
         k AS (SELECT o.o_orderkey, o.o_orderpriority,
                      count(l.l_orderkey) AS kk
               FROM o LEFT JOIN l ON o.o_orderkey = l.l_orderkey
               GROUP BY 1, 2),
         m AS (SELECT o.o_orderpriority, count(*)::BIGINT AS pairs,
                      sum(l.l_quantity::BIGINT) AS qty
               FROM o JOIN l ON o.o_orderkey = l.l_orderkey GROUP BY 1),
         c AS (SELECT o_orderpriority,
                      sum(CASE WHEN kk % 2 = 0 THEN 1 ELSE -1 END)::BIGINT
                        AS corr
               FROM k GROUP BY 1)
    SELECT c.o_orderpriority,
           CAST(coalesce(m.pairs, 0) * 10.0 + c.corr * 5.0 AS DOUBLE)
             AS est_rows,
           CAST(coalesce(m.qty, 0) * 10.0 AS DOUBLE) AS est_qty,
           CAST(c.corr * 5.0 AS DOUBLE) AS est_unmatched
    FROM c LEFT JOIN m USING (o_orderpriority)
    """


@register(
    "sampled_left_join_hash_twin",
    _sampled_left_join_hash_twin_oracle(),
    doc="Weighted LEFT-join composition, value-oracled (VERDICT r5 item "
    "4: the outer join join_sampled refuses, done right). Orders "
    "hash-sampled at r1=0.2 (seed 3) LEFT-joined to lineitem "
    "hash-sampled at r2=0.5 (line identity, seed 9) through "
    "SampledFrame.join_weighted_left: matched pairs carry weight "
    "1/(r1*r2)=10; every kept order also emits a null-extended row "
    "with weight (1-1/r2)^K/r1 = (-1)^K*5 (K = its kept-match count), "
    "which by E[(1-1/r2)^K] = 1{m=0} makes every weighted aggregate "
    "unbiased for the population left join — including est_unmatched, "
    "where the naive 1/r1 weighting would report a large positive count "
    "for TPC-H's zero truly-lineitem-less orders and the signed "
    "correction correctly hovers near zero. Weights at these ratios are "
    "IEEE-exact (+/-5, 10) and every addend is an integer-valued "
    "double, so sums are order-independent and both engines produce "
    "identical doubles. The oracle replicates the estimator "
    "arithmetic (matched*10 + (-1)^K*5) from first principles in SQL",
    tags=("sampled",),
)
def q_sampled_left_join_hash_twin(spark, sf_dir):
    from ..sampling.deterministic import hash_bernoulli

    o = load(spark, sf_dir, "orders").withColumn(
        "__k", F.col("o_orderkey").cast("string")
    )
    so_df = hash_bernoulli(o, "__k", 0.2, seed=3).drop("__k")
    li = load(spark, sf_dir, "lineitem").withColumn(
        "__k", F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber"))
    )
    sl_df = hash_bernoulli(li, "__k", 0.5, seed=9).drop("__k")
    so = SampledFrame(df=so_df, ratio=0.2, config=SamplingConfig(ratio=0.2, seed=3))
    sl = SampledFrame(df=sl_df, ratio=0.5, config=SamplingConfig(ratio=0.5, seed=9))
    w = so.join_weighted_left(sl, "o_orderkey", "l_orderkey")
    return w.groupBy("o_orderpriority").agg(
        F.sum("__weight").alias("est_rows"),
        F.sum(
            F.coalesce(F.col("l_quantity").cast("bigint"), F.lit(0))
            * F.col("__weight")
        ).alias("est_qty"),
        F.sum(
            F.when(F.col("l_orderkey").isNull(), F.col("__weight")).otherwise(
                F.lit(0.0)
            )
        ).alias("est_unmatched"),
    )


def _sampled_left_join_unmatched_boot_oracle() -> str:
    from ..sampling import stats as _stats
    from ..sampling.bootstrap import _multiplier_sql, _uniform_sql
    from ..sampling.deterministic import hash_bernoulli_sql

    z = _stats.z_score(0.95)
    keep_o = hash_bernoulli_sql("o_orderkey::VARCHAR", 0.2, seed=3)
    keep_l = hash_bernoulli_sql(
        "l_orderkey::VARCHAR || '-' || l_linenumber::VARCHAR", 0.5, seed=9
    )
    mult = _multiplier_sql(_uniform_sql("lk", "rep", 17))
    # mirrors poisson_bootstrap_sum over the correction rows: one signed
    # row per kept order (weight (-1)^K * 5, IEEE-exact), multiplier
    # keyed by o_orderkey — the cluster bootstrap unit. Same moment
    # arithmetic as the bootstrap_qty oracle (exact-integer replicate
    # sums, explicit-moments variance, one sqrt).
    return f"""
    WITH o AS (SELECT * FROM orders   WHERE {keep_o}),
         l AS (SELECT * FROM lineitem WHERE {keep_l}),
         k AS (SELECT o.o_orderkey AS lk, o.o_orderpriority AS g,
                      count(l.l_orderkey) AS kk
               FROM o LEFT JOIN l ON o.o_orderkey = l.l_orderkey
               GROUP BY 1, 2),
         c AS (SELECT g, lk,
                      CASE WHEN kk % 2 = 0 THEN 5.0 ELSE -5.0 END AS x
               FROM k),
         r AS (SELECT c.*, t.rep
               FROM c CROSS JOIN (SELECT unnest(range(64)) AS rep) t),
         m AS (SELECT g, rep,
                      sum(x * ({mult})) AS sr,
                      sum(CASE WHEN rep = 0 THEN x END) AS s
               FROM r GROUP BY 1, 2)
    SELECT g AS o_orderpriority,
           max(s) AS est_unmatched,
           {z!r} * sqrt(greatest(
             (sum(sr * sr) - sum(sr) * sum(sr) / 64.0) / 63.0, 0.0))
             AS est_unmatched_ci
    FROM m GROUP BY 1
    """


@register(
    "sampled_left_join_unmatched_boot_ci",
    _sampled_left_join_unmatched_boot_oracle(),
    doc="A CLUSTER-bootstrap interval for the weighted left join's "
    "null-stratum estimand, fully value-oracled (round 8: "
    "est_unmatched had a point estimate but no interval — its signed "
    "correction weights fail every closed-form guard by design). The "
    "same construction as sampled_left_join_hash_twin (orders r1=0.2 "
    "seed 3 LEFT lineitem r2=0.5 seed 9); the correction rows (one per "
    "kept order, weight (-1)^K * 5) feed poisson_bootstrap_sum KEYED "
    "BY o_orderkey, so each order's contribution resamples as one "
    "unit — the standard cluster bootstrap, valid because orders are "
    "independent sampling units (PK side of the join). Deterministic "
    "end to end (hash sample + hash multipliers), exact integer "
    "replicate sums, so both engines produce identical doubles; "
    "coverage is seed-sweep-tested (97/100 measured, conservative by "
    "the documented missing finite-population factor)",
    tags=("sampled",),
)
def q_sampled_left_join_unmatched_boot_ci(spark, sf_dir):
    from ..sampling.bootstrap import poisson_bootstrap_sum
    from ..sampling.deterministic import hash_bernoulli

    o = load(spark, sf_dir, "orders").withColumn(
        "__k", F.col("o_orderkey").cast("string")
    )
    so_df = hash_bernoulli(o, "__k", 0.2, seed=3).drop("__k")
    li = load(spark, sf_dir, "lineitem").withColumn(
        "__k", F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber"))
    )
    sl_df = hash_bernoulli(li, "__k", 0.5, seed=9).drop("__k")
    so = SampledFrame(df=so_df, ratio=0.2, config=SamplingConfig(ratio=0.2, seed=3))
    sl = SampledFrame(df=sl_df, ratio=0.5, config=SamplingConfig(ratio=0.5, seed=9))
    w = so.join_weighted_left(sl, "o_orderkey", "l_orderkey")
    corr = w.where(F.col("l_orderkey").isNull()).select(
        "o_orderpriority", "o_orderkey", "__weight"
    )
    return poisson_bootstrap_sum(
        corr, "__weight", "o_orderkey", "o_orderpriority",
        seed=17, alias="est_unmatched",
    )


def _sampled_join_cluster_ci_oracle() -> str:
    from ..sampling import stats as _stats
    from ..sampling.deterministic import hash_bernoulli_sql

    r1, r2 = 0.5, 0.2
    r = r1 * r2
    z = _stats.z_score(0.95)
    keep_o = hash_bernoulli_sql("o_orderkey::VARCHAR", r1, seed=3)
    keep_l = hash_bernoulli_sql(
        "l_orderkey::VARCHAR || '-' || l_linenumber::VARCHAR", r2, seed=9
    )
    scale = 1.0 / r
    a, b, c, rr = 1.0 - r, 1.0 - r1, 1.0 - r2, r * r
    # mirrors SampledFrame._joined_cluster literally: every moment (P,
    # L2, R2) is an exact integer sum; its one cluster combine
    # A_uv = (1-r)*P + (1-r1)*D_l + (1-r2)*D_r and the count, sum and
    # mean projections of _joined_stats use the SAME double literals and
    # left-associated order as the Spark SQL, so both engines produce
    # identical doubles. The right-side excess R2
    # is NOT zero here: the synthetic lineitem has duplicate
    # (l_orderkey, l_linenumber) keys, and hash_bernoulli keeps/drops
    # all rows of a key together — so key-sharing rows are fully
    # correlated and clustering by the SAMPLING key is the
    # design-correct unit (the id passed to join_sampled is the
    # sampling key for exactly this reason).
    return f"""
    WITH o AS (SELECT * FROM orders WHERE {keep_o}),
         l AS (SELECT * FROM lineitem WHERE {keep_l}),
         p AS (SELECT o.o_orderpriority AS g, o.o_orderkey AS lk,
                      l.l_orderkey AS rk1, l.l_linenumber AS rk2,
                      l.l_quantity::BIGINT AS qty
               FROM o JOIN l ON o.o_orderkey = l.l_orderkey),
         perl AS (SELECT g, lk,
                         count(*)::BIGINT AS cs,
                         sum(qty)::BIGINT AS qs,
                         sum(qty * qty)::BIGINT AS qq
                  FROM p GROUP BY 1, 2),
         aggl AS (SELECT g,
                         sum(cs)::BIGINT AS n,
                         sum(cs * cs - cs)::BIGINT AS cl2,
                         sum(qs)::BIGINT AS sq,
                         sum(qq)::BIGINT AS qp,
                         sum(qs * qs - qq)::BIGINT AS ql2,
                         sum(qs * cs - qs)::BIGINT AS qx1l
                  FROM perl GROUP BY 1),
         perr AS (SELECT g, rk1, rk2,
                         count(*)::BIGINT AS cs,
                         sum(qty)::BIGINT AS qs,
                         sum(qty * qty)::BIGINT AS qq
                  FROM p GROUP BY 1, 2, 3),
         aggr AS (SELECT g,
                         sum(cs * cs - cs)::BIGINT AS cr2,
                         sum(qs * qs - qq)::BIGINT AS qr2,
                         sum(qs * cs - qs)::BIGINT AS qx1r
                  FROM perr GROUP BY 1),
         fin AS (SELECT *,
                        CAST(sq AS DOUBLE) / CAST(n AS DOUBLE) AS m,
                        {a!r} * CAST(qp AS DOUBLE) + {b!r} * CAST(ql2 AS DOUBLE)
                          + {c!r} * CAST(qr2 AS DOUBLE) AS axx,
                        {a!r} * CAST(sq AS DOUBLE) + {b!r} * CAST(qx1l AS DOUBLE)
                          + {c!r} * CAST(qx1r AS DOUBLE) AS ax1,
                        {a!r} * CAST(n AS DOUBLE) + {b!r} * CAST(cl2 AS DOUBLE)
                          + {c!r} * CAST(cr2 AS DOUBLE) AS a11
                 FROM aggl JOIN aggr USING (g))
    SELECT g AS o_orderpriority,
           CAST(n AS DOUBLE) * {scale!r} AS est_pairs,
           {z!r} * sqrt(greatest(a11 / {rr!r}, 0.0)) AS est_pairs_ci,
           CAST(sq AS DOUBLE) * {scale!r} AS est_qty,
           {z!r} * sqrt(greatest(axx / {rr!r}, 0.0)) AS est_qty_ci,
           m AS est_qty_mean,
           {z!r} * sqrt(greatest(axx - 2.0 * m * ax1 + m * m * a11, 0.0))
             / CAST(n AS DOUBLE) AS est_qty_mean_ci
    FROM fin
    """


@register(
    "sampled_join_cluster_ci",
    _sampled_join_cluster_ci_oracle(),
    doc="Cluster-variance CI for the sampled-join composition, fully "
    "value-oracled (VERDICT r6/r7 item: the join_sampled count/sum CI "
    "was design-incorrect under key multiplicity, understating spread "
    "by ~sqrt(2) on multiplicity-5 keys). Orders hash-sampled at "
    "r1=0.5 (seed 3) joined to lineitem at r2=0.2 (line identity, "
    "seed 9) with row ids passed to join_sampled, so "
    "approx_count/approx_sum dispatch to the cluster estimator "
    "V^=[(1-r1r2)P + (1-r1)(S_l^2-Q_l) + (1-r2)(S_j^2-Q_j)]/(r1r2)^2 "
    "— pairs sharing a kept order (TPC-H multiplicity ~4) are "
    "positively correlated and the classical independent-Bernoulli "
    "form ignores it. The mean columns exercise the delta-method "
    "composition (Axx - 2m Ax1 + m^2 A11)/N^2 over the same moments. "
    "Every moment is an exact integer sum before the mirrored double "
    "combine, so both engines produce identical doubles; coverage is "
    "seed-sweep-tested in tests/test_sampled_frame.py (nominal at "
    "multiplicity 5, unwidened at 1:1)",
    tags=("sampled",),
)
def q_sampled_join_cluster_ci(spark, sf_dir):
    from ..sampling.deterministic import hash_bernoulli

    o = load(spark, sf_dir, "orders").withColumn(
        "__k", F.col("o_orderkey").cast("string")
    )
    so_df = hash_bernoulli(o, "__k", 0.5, seed=3).drop("__k")
    li = load(spark, sf_dir, "lineitem").withColumn(
        "__k", F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber"))
    )
    sl_df = hash_bernoulli(li, "__k", 0.2, seed=9).drop("__k")
    so = SampledFrame(df=so_df, ratio=0.5, config=SamplingConfig(ratio=0.5, seed=3))
    sl = SampledFrame(df=sl_df, ratio=0.2, config=SamplingConfig(ratio=0.2, seed=9))
    joined = so.join_sampled(
        sl,
        F.col("o_orderkey") == F.col("l_orderkey"),
        left_id="o_orderkey",
        right_id=["l_orderkey", "l_linenumber"],
    )
    joined = joined.transform(
        lambda df: df.withColumn("__qty", F.col("l_quantity").cast("bigint"))
    )
    # the fused single-moments-pass form (approx_join_stats) — pinned
    # equal to the three separate estimators in pytest; 7 exchanges
    # instead of the 21 the count+sum+mean joins cost
    return joined.approx_join_stats(
        "__qty",
        "o_orderpriority",
        count_alias="est_pairs",
        sum_alias="est_qty",
        mean_alias="est_qty_mean",
    )


def _sampled_full_join_hash_twin_oracle() -> str:
    from ..sampling.deterministic import hash_bernoulli_sql

    keep_c = hash_bernoulli_sql("c_custkey::VARCHAR", 0.5, seed=5)
    keep_o = hash_bernoulli_sql("o_orderkey::VARCHAR", 0.5, seed=8)
    # mirrors join_weighted_full at r1=r2=0.5: matched weight
    # 1/(r1*r2)=4, each side's null-correction weight (1-1/r)^K/r =
    # (-1)^K * 2 — all IEEE-exact, every addend an integer-valued
    # double, so sums are order-independent across engines.
    return f"""
    WITH c AS (SELECT c_custkey, c_mktsegment FROM customer WHERE {keep_c}),
         o AS (SELECT o_orderkey, o_custkey,
                      CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                        AS cents
               FROM orders WHERE {keep_o}),
         kc AS (SELECT c.c_custkey, c.c_mktsegment,
                       count(o.o_orderkey) AS k
                FROM c LEFT JOIN o ON c.c_custkey = o.o_custkey
                GROUP BY 1, 2),
         ko AS (SELECT o.o_orderkey, o.cents, count(c.c_custkey) AS k
                FROM o LEFT JOIN c ON o.o_custkey = c.c_custkey
                GROUP BY 1, 2),
         rows_ AS (
           SELECT c.c_mktsegment, c.c_custkey, o.o_orderkey, o.cents,
                  4.0 AS w
           FROM c JOIN o ON c.c_custkey = o.o_custkey
           UNION ALL
           SELECT c_mktsegment, c_custkey, NULL, NULL,
                  CASE WHEN k % 2 = 0 THEN 2.0 ELSE -2.0 END FROM kc
           UNION ALL
           SELECT NULL, NULL, o_orderkey, cents,
                  CASE WHEN k % 2 = 0 THEN 2.0 ELSE -2.0 END FROM ko
         )
    SELECT c_mktsegment,
           sum(w) AS est_rows,
           sum(coalesce(cents, 0) * w) AS est_cents,
           sum(CASE WHEN o_orderkey IS NULL THEN w ELSE 0.0 END)
             AS est_unmatched_cust,
           sum(CASE WHEN c_custkey IS NULL THEN w ELSE 0.0 END)
             AS est_unmatched_ord
    FROM rows_ GROUP BY 1
    """


@register(
    "sampled_full_join_hash_twin",
    _sampled_full_join_hash_twin_oracle(),
    doc="Weighted FULL-OUTER-join composition, value-oracled — completes "
    "the sampled-join family (inner r5, left r6, right by symmetry). "
    "Customers and orders each hash-sampled at 0.5 (seeds 5/8), joined "
    "through SampledFrame.join_weighted_full: matched pairs carry "
    "1/(r1*r2)=4; every kept customer emits a null-extended row at "
    "(1-1/r2)^K/r1 = (-1)^K*2 (K = kept-order count) estimating the "
    "order-less-customer stratum (truly nonzero in TPC-H: ~1/3 of "
    "customers), and every kept order emits the symmetric row at "
    "(-1)^K'*2 estimating the customer-less-order stratum (zero truth "
    "— the signed corrections must hover near zero, which naive 1/r "
    "weighting would miss by thousands). Grouping by c_mktsegment "
    "sends order-side corrections to the NULL-segment group — that row "
    "IS the right-only-stratum estimate. Money flows as exact integer "
    "cents so both engines produce identical doubles; the oracle "
    "replicates the three-stratum weighting from first principles",
    tags=("sampled",),
)
def q_sampled_full_join_hash_twin(spark, sf_dir):
    from ..sampling.deterministic import hash_bernoulli

    c = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    ).withColumn("__k", F.col("c_custkey").cast("string"))
    sc_df = hash_bernoulli(c, "__k", 0.5, seed=5).drop("__k")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    ).withColumn("__k", F.col("o_orderkey").cast("string"))
    so_df = hash_bernoulli(o, "__k", 0.5, seed=8).drop("__k")
    sc_ = SampledFrame(df=sc_df, ratio=0.5, config=SamplingConfig(ratio=0.5, seed=5))
    so_ = SampledFrame(df=so_df, ratio=0.5, config=SamplingConfig(ratio=0.5, seed=8))
    w = sc_.join_weighted_full(so_, "c_custkey", "o_custkey")
    cents = F.coalesce(
        (_dec("o_totalprice") * 100).cast("bigint"), F.lit(0)
    )
    return w.groupBy("c_mktsegment").agg(
        F.sum("__weight").alias("est_rows"),
        F.sum(cents * F.col("__weight")).alias("est_cents"),
        F.sum(
            F.when(F.col("o_orderkey").isNull(), F.col("__weight")).otherwise(
                F.lit(0.0)
            )
        ).alias("est_unmatched_cust"),
        F.sum(
            F.when(F.col("c_custkey").isNull(), F.col("__weight")).otherwise(
                F.lit(0.0)
            )
        ).alias("est_unmatched_ord"),
    )


def _price_per_qty_hash_sampled_oracle() -> str:
    from ..sampling.deterministic import hash_bernoulli_sql

    keep = hash_bernoulli_sql("l_orderkey::VARCHAR || '-' || l_linenumber::VARCHAR", 0.1, seed=42)
    return f"""
    SELECT l_returnflag,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
             / CAST(sum(l_quantity::BIGINT) AS DOUBLE) AS est_price_per_qty,
           count(*)::BIGINT AS n_sampled
    FROM lineitem
    WHERE {keep}
    GROUP BY l_returnflag
    """


@register(
    "price_per_qty_hash_sampled",
    _price_per_qty_hash_sampled_oracle(),
    doc="Ratio-of-sums estimator with a FULL value oracle: avg price per "
    "unit per return flag from a hash-deterministic 10% sample — the "
    "deterministic twin of approx_price_per_qty (engine-RNG, rows-only "
    "forever). The ratio of two HT sums is scale-free (1/r cancels), so "
    "the estimate is sampled-sum(price)/sampled-sum(qty); sums follow "
    "the float-stability discipline (DECIMAL money sum, BIGINT qty sum, "
    "ONE double division) so both engines produce the identical double. "
    "tests pin SampledFrame.approx_ratio to this stable composition on "
    "the same sample, so the real estimator method stays value-anchored",
    tags=("sampled",),
)
def q_price_per_qty_hash_sampled(spark, sf_dir):
    from ..sampling.deterministic import hash_bernoulli

    li = load(spark, sf_dir, "lineitem").withColumn(
        "__k", F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber"))
    )
    sampled = hash_bernoulli(li, "__k", 0.1, seed=42)
    return sampled.groupBy("l_returnflag").agg(
        (
            F.sum(_dec("l_extendedprice")).cast("double")
            / F.sum(F.col("l_quantity").cast("bigint")).cast("double")
        ).alias("est_price_per_qty"),
        F.count(F.lit(1)).alias("n_sampled"),
    )


@register(
    "approx_price_per_qty",
    None,
    doc="Ratio-of-sums estimator (avg price per unit) from a 10% sample "
    "with Taylor-linearized CI per return flag; coverage asserted in tests",
    tags=("sampled",),
)
def q_approx_price_per_qty(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    sf = SampledFrame.from_dataframe(li, SamplingConfig(ratio=0.1, seed=42), observe=False)
    return sf.approx_ratio("l_extendedprice", "l_quantity", "l_returnflag", ci=True)


def _order_price_quantile_hash_sampled_oracle() -> str:
    from ..sampling import stats as _stats
    from ..sampling.deterministic import hash_bernoulli_sql

    z = _stats.z_score(0.95)
    keep = hash_bernoulli_sql("o_orderkey::VARCHAR", 0.1, seed=7)
    # rank arithmetic mirrors SampledFrame.approx_quantile at p=0.5,
    # r=0.1: every *0.5 is exact IEEE exponent math, so the floor/ceil
    # boundaries cannot drift between engines; the selected values are
    # untouched data (no interpolation).
    half = f"{z!r} * sqrt(n * 0.5 * 0.5 * 0.9)"
    return f"""
    WITH s AS (
      SELECT o_orderpriority, CAST(o_totalprice AS DOUBLE) AS v
      FROM orders WHERE {keep}
    ),
    r AS (
      SELECT o_orderpriority, v,
             row_number() OVER (PARTITION BY o_orderpriority ORDER BY v) AS rn,
             count(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM s
    )
    SELECT o_orderpriority,
           max(CASE WHEN rn = greatest(1, ceil(0.5 * n)) THEN v END)
             AS est_median,
           max(CASE WHEN rn = greatest(1, floor(n * 0.5 - {half})) THEN v END)
             AS est_median_ci_lo,
           max(CASE WHEN rn = least(n, ceil(n * 0.5 + {half})) THEN v END)
             AS est_median_ci_hi,
           max(n)::BIGINT AS n_sampled,
           (max(n) < 100) AS low_support
    FROM r GROUP BY 1
    """


@register(
    "order_price_quantile_hash_sampled",
    _order_price_quantile_hash_sampled_oracle(),
    doc="Sampled median with a DISTRIBUTION-FREE order-statistic CI, fully "
    "value-oracled — the deterministic twin of SampledFrame."
    "approx_quantile (round 6: extends the reference's approximate-"
    "aggregation surface, sums/counts only in RandomSamplingUtil.java, to "
    "quantiles). Median o_totalprice per order priority from a 10% "
    "hash-deterministic orders sample; estimate = order statistic at rank "
    "ceil(p*n) (percentile_disc semantics — an actual data value, no "
    "cross-engine interpolation arithmetic), CI = order statistics at the "
    "binomial ranks n*p -/+ z*sqrt(n*p*(1-p)*(1-r)) with the engine's "
    "(1-r) FPC. p=0.5 keeps every rank boundary exact in IEEE (*0.5 is "
    "exponent math), so both engines select identical rows; the oracle "
    "replicates the rank arithmetic from first principles in SQL. "
    "min_support=100 exercises the rare-group honesty contract "
    "(n_sampled + low_support) on the same output. CI coverage is "
    "seed-sweep-tested in tests/test_sampled_frame.py",
    tags=("sampled",),
)
def q_order_price_quantile_hash_sampled(spark, sf_dir):
    from ..sampling.deterministic import hash_bernoulli

    o = load(spark, sf_dir, "orders").withColumn(
        "__k", F.col("o_orderkey").cast("string")
    )
    sampled = hash_bernoulli(o, "__k", 0.1, seed=7).withColumn(
        "v", F.col("o_totalprice").cast("double")
    )
    sf = SampledFrame(
        df=sampled, ratio=0.1, config=SamplingConfig(ratio=0.1, seed=7)
    )
    return sf.approx_quantile(
        "v", 0.5, "o_orderpriority", ci=True, min_support=100, alias="est_median"
    )


@register(
    "order_price_quantile_histogram",
    _order_price_quantile_hash_sampled_oracle(),
    doc="The SAME estimand as order_price_quantile_hash_sampled — "
    "identical sample, ranks, and oracle SQL — computed by the exact "
    "distributed k-selection strategy (approx_quantile method="
    "'histogram': per-group stats pass, 8192-bin value histogram, "
    "cumulative-count rank location, targeted-bucket residual sort) "
    "instead of the per-group window sort. Registering both against ONE "
    "oracle gives the driver external proof that the scale path is "
    "value-identical to the reference implementation, the same way "
    "dedup keeps its blocked and all-pairs forms. The histogram path is "
    "the few-group/global regime answer to the measured one-sort-task-"
    "per-group window limit (docs/SCALE.md round 6)",
    tags=("sampled",),
)
def q_order_price_quantile_histogram(spark, sf_dir):
    from ..sampling.deterministic import hash_bernoulli

    o = load(spark, sf_dir, "orders").withColumn(
        "__k", F.col("o_orderkey").cast("string")
    )
    sampled = hash_bernoulli(o, "__k", 0.1, seed=7).withColumn(
        "v", F.col("o_totalprice").cast("double")
    )
    sf = SampledFrame(
        df=sampled, ratio=0.1, config=SamplingConfig(ratio=0.1, seed=7)
    )
    return sf.approx_quantile(
        "v", 0.5, "o_orderpriority", ci=True, min_support=100,
        alias="est_median", method="histogram",
    )


def _order_price_percentiles_hash_sampled_oracle() -> str:
    from ..sampling import stats as _stats
    from ..sampling.deterministic import hash_bernoulli_sql

    z = _stats.z_score(0.95)
    keep = hash_bernoulli_sql("o_orderkey::VARCHAR", 0.1, seed=7)
    # generated per-p so every float literal is the repr of the EXACT
    # Python double the Spark side feeds to F.lit — e.g. 1.0-0.9 is
    # 0.09999999999999998, not 0.1; both engines then evaluate the
    # identical IEEE expression and land on identical integer ranks.
    cols = []
    for q in (0.25, 0.5, 0.9):
        sfx = "_p" + f"{100.0 * q:g}".replace(".", "_")
        half = f"{z!r} * sqrt(n * {q!r} * {(1.0 - q)!r} * 0.9)"
        cols.append(
            f"max(CASE WHEN rn = greatest(1, ceil({q!r} * n)) THEN v END)"
            f" AS est{sfx}"
        )
        cols.append(
            f"max(CASE WHEN rn = greatest(1, floor(n * {q!r} - {half}))"
            f" THEN v END) AS est{sfx}_ci_lo"
        )
        cols.append(
            f"max(CASE WHEN rn = least(n, ceil(n * {q!r} + {half}))"
            f" THEN v END) AS est{sfx}_ci_hi"
        )
    sel = ",\n           ".join(cols)
    return f"""
    WITH s AS (
      SELECT o_orderpriority, CAST(o_totalprice AS DOUBLE) AS v
      FROM orders WHERE {keep}
    ),
    r AS (
      SELECT o_orderpriority, v,
             row_number() OVER (PARTITION BY o_orderpriority ORDER BY v) AS rn,
             count(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM s
    )
    SELECT o_orderpriority,
           {sel}
    FROM r GROUP BY 1
    """


@register(
    "order_price_percentiles_hash_sampled",
    _order_price_percentiles_hash_sampled_oracle(),
    doc="Multi-quantile form of the sampled order-statistic estimator, "
    "fully value-oracled: p25/p50/p90 of o_totalprice per order priority "
    "from the same 10% hash-deterministic orders sample, all three (with "
    "their distribution-free CIs) from ONE window pass — one sort, one "
    "rank-selection filter over the union of the nine candidate ranks, "
    "one aggregate (SampledFrame.approx_quantile with a probability "
    "list). The oracle is GENERATED per probability so every float "
    "literal is the repr of the exact Python double the Spark plan uses "
    "(1.0-0.9 != 0.1 in IEEE); rank selection then lands on identical "
    "rows in both engines even where p*n sits an ulp from an integer",
    tags=("sampled",),
)
def q_order_price_percentiles_hash_sampled(spark, sf_dir):
    from ..sampling.deterministic import hash_bernoulli

    o = load(spark, sf_dir, "orders").withColumn(
        "__k", F.col("o_orderkey").cast("string")
    )
    sampled = hash_bernoulli(o, "__k", 0.1, seed=7).withColumn(
        "v", F.col("o_totalprice").cast("double")
    )
    sf = SampledFrame(
        df=sampled, ratio=0.1, config=SamplingConfig(ratio=0.1, seed=7)
    )
    return sf.approx_quantile(
        "v", [0.25, 0.5, 0.9], "o_orderpriority", ci=True, alias="est"
    )


def _sum_ci_families_oracle() -> str:
    from ..sampling import stats as _stats
    from ..sampling.deterministic import hash_bernoulli_sql

    z = _stats.z_score(0.95)
    keep = hash_bernoulli_sql("l_orderkey::VARCHAR || '-' || l_linenumber::VARCHAR", 0.1, seed=42)
    return f"""
    WITH s AS (
      SELECT l_returnflag,
             count(*)::BIGINT AS n_sampled,
             sum(l_quantity::BIGINT)::BIGINT AS sq,
             sum(l_quantity::BIGINT * l_quantity::BIGINT)::BIGINT AS sqq
      FROM lineitem WHERE {keep}
      GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           n_sampled,
           CAST(sq AS DOUBLE) / 0.1 AS est_qty,
           round({z!r} * sqrt(0.9 * CAST(sqq AS DOUBLE)) / 0.1, 6) AS ci_sum,
           round(sqrt(0.25 / CAST(n_sampled AS DOUBLE)) * {z!r}
                 * sqrt((CAST(n_sampled AS DOUBLE) / 0.1 - CAST(n_sampled AS DOUBLE))
                        / (CAST(n_sampled AS DOUBLE) / 0.1 - 1.0)), 6) AS ci_reference_rel
    FROM s
    """


@register(
    "approx_sum_ci_families",
    _sum_ci_families_oracle(),
    doc="The engine's TWO error-bound families side by side, value-oracled "
    "(VERDICT r3 item 6): per return flag from a hash-deterministic 10% "
    "lineitem sample, (a) ci_sum = z*sqrt((1-r)*Σ_s qty²)/r — the proper "
    "normal-approximation half-width for an HT sum (unbiased HT variance "
    "estimator; sampled_frame.approx_sum), which reads the VALUE column; "
    "and (b) ci_reference_rel = sqrt(0.25/n)*z*sqrt((N-n)/(N-1)) with "
    "N = n/r — the reference's worst-case p=0.5 PROPORTION bound "
    "(RandomSamplingUtil.java:376-378, stats.achieved_error), which is "
    "blind to values and therefore honest only for counts. Every moment "
    "is an exact BIGINT sum before one double conversion, so both "
    "engines produce identical doubles (round 6dp on the sqrt outputs); "
    "the skewed-column test in tests/test_sampled_frame.py shows family "
    "(b) underestimating sum error 10x where (a) stays calibrated",
    tags=("sampled",),
)
def q_approx_sum_ci_families(spark, sf_dir):
    from ..sampling import stats as _stats
    from ..sampling.deterministic import hash_bernoulli

    # JVM-parsed SQL: one parse per projection (docs/SCALE.md, "Plan build")
    z = sql_double(_stats.z_score(0.95))
    li = load(spark, sf_dir, "lineitem").withColumn(
        "__k", F.expr("concat_ws('-', l_orderkey, l_linenumber)")
    )
    sampled = hash_bernoulli(li, "__k", 0.1, seed=42)
    q = "CAST(l_quantity AS BIGINT)"
    agg = sampled.groupBy("l_returnflag").agg(
        F.expr("count(1) AS n_sampled"),
        F.expr(f"sum({q}) AS __sq"),
        F.expr(f"sum({q} * {q}) AS __sqq"),
    )
    n = "CAST(n_sampled AS DOUBLE)"
    big_n = f"({n} / 0.1D)"
    ci_sum = f"{z} * sqrt(0.9D * CAST(__sqq AS DOUBLE)) / 0.1D"
    ci_rel = f"sqrt(0.25D / {n}) * {z} * sqrt(({big_n} - {n}) / ({big_n} - 1.0D))"
    return agg.selectExpr(
        "l_returnflag",
        "n_sampled",
        "CAST(__sq AS DOUBLE) / 0.1D AS est_qty",
        f"{sql_round_sql(ci_sum, 6)} AS ci_sum",
        f"{sql_round_sql(ci_rel, 6)} AS ci_reference_rel",
    )


@register(
    "events_ewma",
    """
    WITH ordered AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events
    )
    SELECT event_type,
           round(sum((CASE WHEN rn = 1 THEN power(0.9, n - 1)
                      ELSE 0.1 * power(0.9, n - rn) END) * value), 6) AS final_ewma,
           count(*)::BIGINT AS n
    FROM ordered GROUP BY event_type
    """,
    doc="Per-key exponentially-weighted moving average over event time via "
    "applyInPandas (iterative recurrence - no recursive window in Spark; "
    "grouped Arrow batches, one group per key). VALUE-oracled: the final "
    "EWMA state unrolls to the closed form "
    "s_n = (1-a)^(n-1) x_1 + sum_i a (1-a)^(n-i) x_i, which DuckDB "
    "computes from row_number weights; the (ts, event_id) sort contract "
    "makes the recurrence order identical on both sides, and round(6) "
    "absorbs iterative-vs-closed-form float noise",
    tags=("approx",),
)
def q_events_ewma(spark, sf_dir):
    from ..operators.pandas_ops import grouped_ewma

    e = load(spark, sf_dir, "events")
    out = grouped_ewma(
        e,
        key_col="event_type",
        ts_col="ts",
        value_col="value",
        alpha=0.1,
        tiebreak_cols=("event_id",),
    )
    # last EWMA value per key: a compact, deterministic summary
    return out.groupBy("event_type").agg(
        sql_round(F.max_by("ewma", F.struct("ts", "event_id")), 6).alias("final_ewma"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "tablesample_words",
    None,
    doc="SQL TABLESAMPLE surface: sampled word count via pure SQL with "
    "REPEATABLE seed + HT scale-up in the projection",
    tags=("sampled",),
)
def q_tablesample_words(spark, sf_dir):
    load(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        f"""
        SELECT word, count(*) / 0.25 AS est_cnt
        FROM (
          SELECT explode_outer({T._words_sql("text")}) AS word
          FROM documents TABLESAMPLE (25 PERCENT) REPEATABLE (42)
        )
        WHERE NOT word RLIKE '^[0-9]+$'
        GROUP BY word
        """
    )
