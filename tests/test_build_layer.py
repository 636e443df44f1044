"""The driver-side build layer: the parquet schema cache behind
``sources.tables.load`` and the SQL-string builders (tokenizer, Apache
log round trip, hash sampling, the plain, weighted, quantile, bootstrap
and top-k estimators, TPC-H Q1, the CI families).

A plan build should launch no Spark job and make few py4j calls; these
tests pin what the shortcuts must not change: the schema a read sees,
the attribute IDs of each read, and each optimized plan, which must
equal the plan of a Column-API reference written out here. Budget
tests cap the py4j round trips of one warm build.
"""

from __future__ import annotations

import gc
import hashlib
import os
import re
import shutil
import struct

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, DoubleType, StringType, TimestampType

from random_sampling_based_approximate_mapreduce_spark import session
from random_sampling_based_approximate_mapreduce_spark.functions import text as T
from random_sampling_based_approximate_mapreduce_spark.functions.hashing import hash64
from random_sampling_based_approximate_mapreduce_spark.functions.quoting import ident, sql_double
from random_sampling_based_approximate_mapreduce_spark.functions.rounding import sql_round
from random_sampling_based_approximate_mapreduce_spark.plans.catalog import QUERIES
from random_sampling_based_approximate_mapreduce_spark.sampling import stats
from random_sampling_based_approximate_mapreduce_spark.sampling.bootstrap import (
    _POISSON1_CUM,
    poisson_bootstrap_sum,
    weighted_quantile_bootstrap,
)
from random_sampling_based_approximate_mapreduce_spark.sampling.config import SamplingConfig
from random_sampling_based_approximate_mapreduce_spark.sampling.deterministic import _BUCKETS, _bucket, hash_bernoulli
from random_sampling_based_approximate_mapreduce_spark.sampling.sampled_frame import (
    SampledFrame,
    _normalize_quantile_ps,
    weighted_count,
    weighted_mean,
    weighted_quantile,
    weighted_ratio,
    weighted_sum,
)
from random_sampling_based_approximate_mapreduce_spark.sources import apache_log as AL
from random_sampling_based_approximate_mapreduce_spark.sources import scale_up, tables
from random_sampling_based_approximate_mapreduce_spark.sources.tables import (
    load,
    parquet_schema,
)


def _jobs_in_group(spark, group: str, build):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(list(sc.statusTracker().getJobIdsForGroup(group)))


def test_second_load_runs_no_job(spark, sf_dir, tmp_path):
    shutil.copy(os.path.join(sf_dir, "region.parquet"), tmp_path / "region.parquet")
    first, n_first = _jobs_in_group(spark, "build-layer-first", lambda: load(spark, str(tmp_path), "region"))
    second, n_second = _jobs_in_group(spark, "build-layer-second", lambda: load(spark, str(tmp_path), "region"))
    assert n_first >= 1  # the inference job the cache exists to skip
    assert n_second == 0
    assert second.schema == first.schema
    assert second.count() == first.count()


def test_rewritten_file_shows_its_new_column(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["a", "b"]}), path)
    assert load(spark, str(tmp_path), "region").columns == ["r_regionkey", "r_name"]
    pq.write_table(
        pa.table({"r_regionkey": [0, 1], "r_name": ["a", "b"], "r_comment": ["x", "y"]}), path
    )
    df = load(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name", "r_comment"]
    assert sorted(r.r_comment for r in df.collect()) == ["x", "y"]


def test_inference_conf_is_part_of_the_key(spark, tmp_path):
    path = str(tmp_path / "blob.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x", b"y"], pa.binary())}), path)
    key = "spark.sql.parquet.binaryAsString"
    try:
        spark.conf.set(key, "false")
        assert isinstance(parquet_schema(spark, path)["b"].dataType, BinaryType)
        spark.conf.set(key, "true")
        assert isinstance(parquet_schema(spark, path)["b"].dataType, StringType)
    finally:
        spark.conf.unset(key)


def _nanos_copy(sf_dir: str, out_dir) -> str:
    """events.parquet with ``ts`` rewritten as parquet TIMESTAMP(NANOS)."""
    t = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    i = t.schema.get_field_index("ts")
    pq.write_table(t.set_column(i, "ts", t.column("ts").cast(pa.timestamp("ns"))), out_dir / "events.parquet")
    return str(out_dir)


@pytest.mark.parametrize("nanos_as_long", ["true", "false"])
def test_events_ts_is_a_timestamp(spark, sf_dir, tmp_path, monkeypatch, nanos_as_long):
    """``load`` normalizes events.ts to a timestamp under either reading
    of nanosecond timestamps. The conf is held at the case's value
    (``load`` would set it on); Spark cannot read TIMESTAMP(NANOS) with
    it off, so that case reads the MICROS testdata only."""
    key = "spark.sql.legacy.parquet.nanosAsLong"
    monkeypatch.setattr(session, "configure_existing", lambda s: s)
    want = [r.ts for r in load(spark, sf_dir, "events").orderBy("event_id").select("ts").collect()]
    dirs = [sf_dir] + ([_nanos_copy(sf_dir, tmp_path)] if nanos_as_long == "true" else [])
    try:
        spark.conf.set(key, nanos_as_long)
        for d in dirs:
            df = load(spark, d, "events")
            assert isinstance(df.schema["ts"].dataType, TimestampType)
            assert [r.ts for r in df.orderBy("event_id").select("ts").collect()] == want
    finally:
        spark.conf.set(key, "true")


def test_self_join_of_two_loads_resolves_both_sides(spark, sf_dir):
    a = load(spark, sf_dir, "nation")
    b = load(spark, sf_dir, "nation")
    got = a.join(b, a["n_nationkey"] == b["n_regionkey"]).select(
        a["n_name"].alias("a_name"), b["n_name"].alias("b_name")
    )
    nation = pq.read_table(os.path.join(sf_dir, "nation.parquet")).to_pylist()
    by_key = {r["n_nationkey"]: r["n_name"] for r in nation}
    want = sorted((by_key[r["n_regionkey"]], r["n_name"]) for r in nation)
    assert sorted((r.a_name, r.b_name) for r in got.collect()) == want


def _column_api_runs(col):
    return F.regexp_extract_all(F.lower(F.col(col)), F.lit("[a-z0-9']+"), F.lit(0))


def _column_api_words(df, col, out="word"):
    """The Column-API tokenizer the SQL-string builders replace: the
    maximal runs of [a-z0-9'] in the lowercased text."""
    kept = df.where(~F.col(col).rlike(r"\d"))
    return (
        kept.select(F.explode_outer(_column_api_runs(col)).alias(out))
        .where(~F.col(out).rlike("^[0-9]+$"))
    )


def _optimized(df) -> str:
    """The optimized plan with attribute IDs and the session-wide
    ``_common_expr_N`` counter (``nullif``'s shared operand) normalized."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return re.sub(r"_common_expr_\d+", "_common_expr_", re.sub(r"#\d+L?", "#", plan))


def test_sql_string_tokenizer_plan_matches_column_api(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").select("text")
    got = T.explode_words(T.drop_digit_lines(docs, "text"), "text")
    plan = _optimized(got)
    assert plan == _optimized(_column_api_words(docs, "text"))
    # explode_outer, and no InferFiltersFromGenerate size() filter
    assert "explode(" in plan and ", true," in plan.split("Generate", 1)[1]
    assert "size(" not in plan
    assert "split(" not in plan


def test_words_column_plan_matches_column_api(spark, sf_dir):
    """``words`` (the array-column form the TF-IDF, count-min and entropy
    plans use) builds from the same SQL rule as ``explode_words``."""
    docs = load(spark, sf_dir, "documents")
    got = docs.select("doc_id", F.explode_outer(T.words("text")).alias("word"))
    want = docs.select("doc_id", F.explode_outer(_column_api_runs("text")).alias("word"))
    plan = _optimized(got)
    assert plan == _optimized(want)
    assert "split(" not in plan


def test_tokenizer_quotes_column_names(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").select("text").limit(50)
    odd = "doc `text`.1"
    renamed = docs.withColumnsRenamed({"text": odd})
    got = T.explode_words(T.drop_digit_lines(renamed, odd), odd, out="it's")
    want = _column_api_words(docs, "text")
    assert got.columns == ["it's"]
    assert sorted(r[0] for r in got.collect()) == sorted(r[0] for r in want.collect())


def test_scale_up_signature_is_unchanged(tmp_path):
    """The replica cache name derives from the same string as before the
    signature moved into ``tables.file_signature``: existing replicas
    still hit."""
    src = tmp_path / "src"
    (src / "events.parquet").mkdir(parents=True)
    (src / "events.parquet" / "part-0.parquet").write_bytes(b"abc")
    (src / "documents.parquet").write_bytes(b"defg")

    def old_sig(p):
        if os.path.isdir(p):
            return ",".join(
                f"{f}:{os.stat(os.path.join(p, f)).st_size}:{os.stat(os.path.join(p, f)).st_mtime_ns}"
                for f in sorted(os.listdir(p))
            )
        st = os.stat(p)
        return f"{st.st_size}:{st.st_mtime_ns}"

    names = ("documents", "events")
    raw = "|".join(
        [os.path.abspath(src)]
        + [f"{t}={old_sig(os.path.join(src, f'{t}.parquet'))}" for t in names]
        + ["2", ",".join(names), f"v{scale_up._LAYOUT_VERSION}"]
    )
    assert scale_up._signature(str(src), 2, names) == hashlib.md5(raw.encode()).hexdigest()[:12]
    assert tables.file_signature(str(src / "documents.parquet")) == [old_sig(str(src / "documents.parquet"))]


def test_sql_double_reads_back_as_the_same_double(spark):
    """A bare ``0.1`` would parse as DECIMAL; the rendered literal is the
    DOUBLE ``F.lit`` makes, bit for bit, negatives and subnormals too."""
    xs = [0.1, -0.5, 1 / 3, 1e-300, 5e-324, 1e16, 9.0e18, -0.0]
    df = spark.range(1).selectExpr(*[f"{sql_double(x)} AS c{i}" for i, x in enumerate(xs)])
    assert all(isinstance(f.dataType, DoubleType) for f in df.schema.fields)
    got = df.first()
    assert [struct.pack("<d", v) for v in got] == [struct.pack("<d", x) for x in xs]


# --- Column-API references of the SQL-string builders ----------------------


def _column_api_raw_log(events):
    """``synthesize_raw_log`` written with ``pyspark.sql.functions``."""
    e = events
    is_hack = (e.event_type == "error") & (e.event_id % 7 < 3)
    hack_path = F.element_at(F.array(*[F.lit(p) for p in AL.HACK_PATHS]), (e.event_id % 9 + 1).cast("int"))
    page_path = F.concat(F.lit("/page/"), e.event_type, F.lit("/"), (e.event_id % 20).cast("string"))
    query = F.when(e.event_id % 5 == 0, F.concat(F.lit("?q="), e.user_id.cast("string"))).otherwise(F.lit(""))
    status = (
        F.when(e.event_type == "error", F.when(e.event_id % 2 == 0, 404).otherwise(500))
        .when(e.event_type == "purchase", 201)
        .otherwise(200)
        .cast("int")
    )
    line = F.format_string(
        '%s - - [%s] "%s %s%s HTTP/1.1" %d %d',
        F.concat(F.lit("host-"), (e.user_id % 50).cast("string")),
        F.date_format(e.ts, AL.APACHE_TS_FMT),
        F.when(e.event_type.isin("purchase", "signup"), "POST").otherwise("GET"),
        F.when(is_hack, hack_path).otherwise(page_path),
        query,
        status,
        (F.floor(e.value * 37) + 100).cast("long"),
    )
    return events.select(line.alias("line"))


def _column_api_parse(raw, col="line", keep=()):
    """``parse_apache_log`` written with ``pyspark.sql.functions``: the
    checked fields and the carried line out of one Generate, the check
    above it, the other fields derived from the carried line above that."""
    c, rx = F.col(col), AL._LOG_RE
    checked = raw.select(
        *[F.col(k) for k in keep],
        F.inline(
            F.array(
                F.struct(
                    F.nullif(F.regexp_extract(c, rx, 1), F.lit("")).alias("host"),
                    F.try_to_timestamp(F.regexp_extract(c, rx, 2), F.lit(AL.APACHE_TS_FMT)).alias("ts"),
                    F.regexp_extract(c, rx, 6).try_cast("int").alias("status"),
                    c.alias("__log_line"),
                )
            )
        ),
    ).where(F.col("host").isNotNull() & F.col("ts").isNotNull() & F.col("status").isNotNull())
    line = F.col("__log_line")
    request = F.regexp_extract(line, rx, 4)
    return checked.select(
        *[F.col(k) for k in keep],
        "host",
        "ts",
        F.regexp_extract(line, rx, 3).alias("method"),
        F.regexp_extract(request, r"^([^?]*)", 1).alias("path"),
        F.nullif(F.regexp_extract(request, r"\?(.*)$", 1), F.lit("")).alias("query"),
        F.regexp_extract(line, rx, 5).alias("proto"),
        "status",
        F.regexp_extract(line, rx, 7).try_cast("long").alias("bytes"),
    )


def _cnt(log, key):
    return log.groupBy(key).agg(F.count(F.lit(1)).alias("cnt"))


_COLUMN_API_TASKS = {
    "hack": lambda log: _cnt(log.where(F.col("path").rlike("^(" + "|".join(AL.HACK_PREFIXES) + ")")), "host"),
    "host": lambda log: _cnt(log, "host"),
    "dateweek": lambda log: _cnt(log.select(F.date_format("ts", "EEE HH").alias("dateweek")), "dateweek"),
    "size": lambda log: _cnt(
        log.select((F.floor(F.col("bytes") / 100) * 100).cast("long").alias("size_bucket")), "size_bucket"
    ),
    "totalsize": lambda log: log.agg(F.sum("bytes").alias("total_bytes")),
    "pagesize": lambda log: log.groupBy("path").agg(F.sum("bytes").alias("total_bytes")),
    "page": lambda log: _cnt(log, "path"),
}


def _column_api_hash_bernoulli(df, key_col, ratio, seed):
    pri = hash64(F.concat(F.col(key_col).cast("string"), F.lit(f"#{seed}")))
    return df.where(F.pmod(pri, F.lit(1_000_000)) < round(ratio * 1_000_000))


def _events(spark, sf_dir):
    return load(spark, sf_dir, "events")


@pytest.mark.parametrize("task", sorted(AL.LOG_TASKS))
def test_log_task_plan_matches_column_api(spark, sf_dir, task):
    events = _events(spark, sf_dir)
    got = AL.LOG_TASKS[task](AL.access_log(events))
    want = _COLUMN_API_TASKS[task](
        _column_api_parse(_column_api_raw_log(tables.ensure_parallelism(events)))
    )
    assert _optimized(got) == _optimized(want)


def test_parse_with_keep_plan_matches_column_api(spark, sf_dir):
    raw = AL.synthesize_raw_log(_events(spark, sf_dir)).withColumn("cluster id", F.lit(7))
    got = AL.parse_apache_log(raw, keep=("cluster id",))
    assert got.columns[0] == "cluster id"
    assert _optimized(got) == _optimized(_column_api_parse(raw, keep=("cluster id",)))


def test_access_log_formats_each_line_once(spark, sf_dir):
    """The malformed-line check filters above the parse's Generate, so it
    is not pushed below the exchange with the synthesized line
    substituted in: one ``format_string`` per row, not one per field."""
    plan = _optimized(AL.access_log(_events(spark, sf_dir)).select("host", "path"))
    assert plan.count("format_string(") == 1
    lines = plan.splitlines()
    check = next(i for i, l in enumerate(lines) if "Filter" in l and "isnotnull(host" in l)
    assert "Generate inline(" in lines[check + 1]


def test_hash_bernoulli_plan_matches_column_api(spark, sf_dir):
    events = _events(spark, sf_dir).withColumn("__k", F.col("event_id").cast("string"))
    got = hash_bernoulli(events, "__k", 0.1, seed=7)
    assert _optimized(got) == _optimized(_column_api_hash_bernoulli(events, "__k", 0.1, 7))


def _column_api_tpch_q1(spark, sf_dir):
    l = load(spark, sf_dir, "lineitem").where(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc, tax = F.col("l_discount").cast("decimal(4,2)"), F.col("l_tax").cast("decimal(4,2)")
    one = F.lit("1.00").cast("decimal(4,2)")
    qty_l = F.col("l_quantity").cast("bigint")
    n = F.count(F.lit(1))
    return l.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(qty_l).alias("sum_qty"),
        F.sum(price).cast("double").alias("sum_base_price"),
        F.sum(price * (one - disc)).cast("double").alias("sum_disc_price"),
        F.sum(price * (one - disc) * (one + tax)).cast("double").alias("sum_charge"),
        (F.sum(qty_l).cast("double") / n).alias("avg_qty"),
        (F.sum(price).cast("double") / n).alias("avg_price"),
        (F.sum(disc).cast("double") / n).alias("avg_disc"),
        n.cast("long").alias("count_order"),
    )


def _column_api_ci_families(spark, sf_dir):
    z = stats.z_score(0.95)
    li = load(spark, sf_dir, "lineitem").withColumn(
        "__k", F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber"))
    )
    q = F.col("l_quantity").cast("bigint")
    agg = _column_api_hash_bernoulli(li, "__k", 0.1, 42).groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum(q).alias("__sq"),
        F.sum(q * q).alias("__sqq"),
    )
    n = F.col("n_sampled").cast("double")
    big_n = n / F.lit(0.1)
    return agg.select(
        "l_returnflag",
        "n_sampled",
        (F.col("__sq").cast("double") / F.lit(0.1)).alias("est_qty"),
        sql_round(
            F.lit(z) * F.sqrt(F.lit(0.9) * F.col("__sqq").cast("double")) / F.lit(0.1), 6
        ).alias("ci_sum"),
        sql_round(
            F.sqrt(F.lit(0.25) / n) * F.lit(z) * F.sqrt((big_n - n) / (big_n - F.lit(1.0))), 6
        ).alias("ci_reference_rel"),
    )


@pytest.mark.parametrize(
    "name, reference",
    [("tpch_q1", _column_api_tpch_q1), ("approx_sum_ci_families", _column_api_ci_families)],
)
def test_catalog_plan_matches_column_api(spark, sf_dir, name, reference):
    got = QUERIES[name].spark(spark, sf_dir)
    assert _optimized(got) == _optimized(reference(spark, sf_dir))


def _column_api_approx_count(sf, group_cols, ci, min_support, alias):
    agg = sf.df.groupBy(*[F.col(c) for c in group_cols]).agg(F.count(F.lit(1)).alias("__n"))
    n = F.col("__n")
    cols = [F.col(c) for c in group_cols] + [(n * F.lit(sf.scale)).alias(alias)]
    if ci:
        z = stats.z_score(sf.config.confidence)
        ci_half = F.lit(z) * F.sqrt(n.cast("double") * F.lit(1.0 - sf.ratio)) / F.lit(sf.ratio)
        cols.append(ci_half.alias(f"{alias}_ci"))
    if min_support is not None:
        cols += [n.alias("n_sampled"), (n < F.lit(min_support)).alias("low_support")]
    return agg.select(*cols)


@pytest.mark.parametrize(
    "group_cols, ci, min_support",
    [
        (("event_type",), False, None),
        (("event_type", "user_id"), True, None),
        ((), False, 30),
        (("event_type",), True, 5),
    ],
)
def test_approx_count_plan_matches_column_api(spark, sf_dir, group_cols, ci, min_support):
    sf = SampledFrame.from_dataframe(
        _events(spark, sf_dir), SamplingConfig(ratio=0.25, seed=11), observe=False
    )
    got = sf.approx_count(*group_cols, ci=ci, min_support=min_support, alias="est `n`")
    want = _column_api_approx_count(sf, group_cols, ci, min_support, "est `n`")
    assert got.columns == want.columns
    assert _optimized(got) == _optimized(want)


def _column_api_support(min_support):
    n = F.count(F.lit(1))
    return [] if min_support is None else [n.alias("n_sampled"), (n < F.lit(min_support)).alias("low_support")]


def _column_api_approx_sum(sf, group_cols, ci, min_support, alias):
    x = F.col("value")
    aggs = [(F.sum(x) * F.lit(sf.scale)).alias(alias)]
    if ci:
        z = stats.z_score(sf.config.confidence)
        ci_half = F.lit(z) * F.sqrt(F.lit(1.0 - sf.ratio) * F.sum(x * x)) / F.lit(sf.ratio)
        aggs.append(ci_half.alias(f"{alias}_ci"))
    return sf.df.groupBy(*group_cols).agg(*aggs, *_column_api_support(min_support))


def _column_api_approx_mean(sf, group_cols, ci, min_support, alias):
    x = F.col("value")
    aggs = [F.avg(x).alias(alias)]
    if ci:
        z = stats.z_score(sf.config.confidence)
        aggs.append((F.lit(z) * F.stddev(x) / F.sqrt(F.count(x))).alias(f"{alias}_ci"))
    return sf.df.groupBy(*group_cols).agg(*aggs, *_column_api_support(min_support))


def _column_api_approx_distinct(sf, group_cols, ci, min_support, alias):
    return sf.df.groupBy(*group_cols).agg(F.approx_count_distinct(F.col("user_id"), rsd=0.05).alias(alias))


def _column_api_approx_distinct_chao(sf, group_cols, ci, min_support, alias):
    gs = [F.col(c) for c in group_cols]
    per_val = sf.df.where(F.col("user_id").isNotNull()).groupBy(*gs, F.col("user_id")).agg(
        F.count(F.lit(1)).alias("__c")
    )
    agg = per_val.groupBy(*gs).agg(
        F.count(F.lit(1)).alias("d_sampled"),
        F.count_if(F.col("__c") == 1).alias("f1"),
        F.count_if(F.col("__c") == 2).alias("f2"),
    )
    f1, f2 = F.col("f1"), F.col("f2")
    est = F.col("d_sampled").cast("double") + (f1 * (f1 - F.lit(1))).cast("double") / (
        F.lit(2.0) * (f2 + F.lit(1)).cast("double")
    )
    return agg.select(*gs, est.alias(alias), "d_sampled", "f1", "f2")


def _column_api_weighted(df, value, group_cols, ci, min_support, alias):
    """``weighted_count`` (``value`` None) and ``weighted_sum``."""
    w = F.col("__weight")
    if value is None:
        est, addend = F.sum(w), w * (w - F.lit(1.0))
    else:
        x = F.col(value).cast("double")
        est, addend = F.sum(F.col(value) * w), x * x * w * (w - F.lit(1.0))
    aggs = [est.alias(alias)]
    if ci:
        s = F.sum(addend)
        ci_half = F.lit(stats.z_score(0.95)) * F.sqrt(F.when(s < F.lit(0.0), F.lit(0.0)).otherwise(s))
        aggs.append(F.when(F.min(w) >= F.lit(1.0), ci_half).alias(f"{alias}_ci"))
    return df.groupBy(*group_cols).agg(*aggs, *_column_api_support(min_support))


_QUANTILE_PS = [0.5, 0.9]

# The rank-selection estimators as Column-API trees. ``F.col`` reads a
# name with backticks as a quoted multi-part name, so an output column
# picked back by name goes through ``ident``.


def _column_api_admit(df, value_col):
    cond = F.col(value_col).isNotNull()
    if dict(df.dtypes).get(value_col) in ("float", "double"):
        cond = cond & (F.abs(F.col(value_col)) < F.lit(float("inf")))
    return cond


def _column_api_rank_targets(sf, ps, sfx, ci, alias, n_long):
    with_ci = ci and sf.ratio < 1.0
    z = stats.z_score(sf.config.confidence) if with_ci else None
    fpc = max(0.0, 1.0 - sf.ratio)
    nd = n_long.cast("double")
    out = []
    for q in ps:
        out.append((f"{alias}{sfx(q)}", F.greatest(F.lit(1).cast("bigint"), F.ceil(F.lit(q) * nd))))
        if with_ci:
            half = F.lit(z) * F.sqrt(nd * F.lit(q) * F.lit(1.0 - q) * F.lit(fpc))
            klo = F.greatest(F.lit(1).cast("bigint"), F.floor(nd * F.lit(q) - half))
            khi = F.least(n_long.cast("bigint"), F.ceil(nd * F.lit(q) + half))
            out += [(f"{alias}{sfx(q)}_ci_lo", klo), (f"{alias}{sfx(q)}_ci_hi", khi)]
    return out


def _column_api_quantile(sf, group_cols, ci, min_support, alias, method):
    """``approx_quantile("value", [0.5, 0.9], ...)``, both methods."""
    ps, sfx = _normalize_quantile_ps(_QUANTILE_PS)

    def targets(n):
        return _column_api_rank_targets(sf, ps, sfx, ci, alias, n)

    flag = min_support is not None and sf.ratio < 1.0
    if method == "histogram":
        return _column_api_quantile_histogram(sf, list(group_cols), targets, flag, min_support)
    gs = [F.col(c) for c in group_cols]
    w = Window.partitionBy(*gs)
    wo = w.orderBy(F.col("value").asc())
    rn, n = F.col("__rn"), F.col("__n")
    ranked = sf.df.where(_column_api_admit(sf.df, "value")).select(
        *gs,
        F.col("value").alias("__v"),
        F.row_number().over(wo).alias("__rn"),
        F.count(F.lit(1)).over(w).alias("__n"),
    )
    want, aggs = None, []
    for name, k in targets(n):
        aggs.append(F.max(F.when(rn == k, F.col("__v"))).alias(name))
        want = (rn == k) if want is None else (want | (rn == k))
    if flag:
        aggs += [F.max(n).alias("n_sampled"), (F.max(n) < F.lit(min_support)).alias("low_support")]
    return ranked.where(want).groupBy(*gs).agg(*aggs)


def _column_api_nullsafe_join(left, right, cols, how="inner"):
    renamed = right
    for c in cols:
        renamed = renamed.withColumnRenamed(c, f"__rjk_{c}")
    cond = None
    for c in cols:
        e = F.col(c).eqNullSafe(F.col(f"__rjk_{c}"))
        cond = e if cond is None else (cond & e)
    out = left.join(renamed, cond, how)
    if how in ("left_semi", "left_anti"):
        return out
    for c in cols:
        out = out.drop(f"__rjk_{c}")
    return out


def _column_api_quantile_histogram(sf, gnames, targets, flag, min_support, n_buckets=8192):
    gs = [F.col(c) for c in gnames]
    data = sf.df.where(_column_api_admit(sf.df, "value")).select(*gs, F.col("value").alias("__v"))
    stats_df = data.groupBy(*gs).agg(
        F.count(F.lit(1)).alias("__n"), F.min("__v").alias("__mn"), F.max("__v").alias("__mx")
    )
    out_names = [name for name, _ in targets(F.lit(0).cast("bigint"))]
    st = F.broadcast(stats_df)
    joined = _column_api_nullsafe_join(data, st, gnames) if gnames else data.crossJoin(st)
    span = F.col("__mx") - F.col("__mn")
    b = F.when(span <= F.lit(0.0), F.lit(0)).otherwise(
        F.least(
            F.lit(n_buckets - 1),
            F.greatest(
                F.lit(0),
                F.floor((F.col("__v") - F.col("__mn")) / span * F.lit(float(n_buckets))).cast("int"),
            ),
        )
    )
    bucketed = joined.select(*gs, "__v", b.alias("__b"))
    hist = bucketed.groupBy(*gs, F.col("__b")).agg(F.count(F.lit(1)).alias("__c"))
    wcum = Window.partitionBy(*gs).orderBy(F.col("__b"))
    cum = hist.select(*gnames, "__b", F.sum("__c").over(wcum).alias("__cum"), F.col("__c")).withColumn(
        "__cum_prev", F.col("__cum") - F.col("__c")
    )
    nsel = stats_df.select(*gnames, "__n")
    cum2 = (
        _column_api_nullsafe_join(cum, F.broadcast(nsel), gnames)
        if gnames
        else cum.crossJoin(F.broadcast(nsel))
    )
    matches = F.array(
        *[
            F.when(
                (F.col("__cum_prev") < k) & (k <= F.col("__cum")),
                F.struct(F.lit(name).alias("o"), (k - F.col("__cum_prev")).alias("r")),
            )
            for name, k in targets(F.col("__n"))
        ]
    )
    loc = (
        cum2.select(*gnames, "__b", F.explode(matches).alias("__m"))
        .where(F.col("__m").isNotNull())
        .select(*gnames, "__b", F.col("__m.o").alias("__out"), F.col("__m.r").alias("__res"))
    )
    tb = loc.select(*gnames, "__b").distinct()
    on_cols = gnames + ["__b"]
    cand = _column_api_nullsafe_join(bucketed, F.broadcast(tb), on_cols, how="left_semi")
    wsel = Window.partitionBy(*(gs + [F.col("__b")])).orderBy(F.col("__v"))
    rsel = cand.select(*gnames, "__b", "__v", F.row_number().over(wsel).alias("__rn"))
    hit = _column_api_nullsafe_join(rsel, F.broadcast(loc), on_cols).where(F.col("__rn") == F.col("__res"))
    res = hit.groupBy(*gs).agg(
        *[F.max(F.when(F.col("__out") == name, F.col("__v"))).alias(name) for name in out_names]
    )
    if flag:
        supp = stats_df.select(
            *gnames, F.col("__n").alias("n_sampled"), (F.col("__n") < F.lit(min_support)).alias("low_support")
        )
        res = _column_api_nullsafe_join(res, supp, gnames) if gnames else res.crossJoin(supp)
        res = res.select(*gnames, *[F.col(ident(n)) for n in out_names], "n_sampled", "low_support")
    return res


def _column_api_weighted_quantile(df, value_col, p, group_cols, weight_col, min_support, alias, scale_bits=20):
    ps, sfx = _normalize_quantile_ps(p)
    gs = [F.col(c) for c in group_cols]
    ws = F.floor(F.col(weight_col).cast("double") * F.lit(float(1 << scale_bits))).cast("bigint")
    data = df.where(_column_api_admit(df, value_col)).select(*gs, F.col(value_col).alias("__v"), ws.alias("__ws"))
    wtot = Window.partitionBy(*gs)
    wcum = wtot.orderBy(F.col("__v"))
    staged = data.select(
        *gs,
        "__v",
        "__ws",
        F.sum("__ws").over(wcum).alias("__cum"),
        F.sum("__ws").over(wtot).alias("__tot"),
        F.count(F.lit(1)).over(wtot).alias("__n"),
    )
    valid = (F.min("__ws") >= F.lit(0)) & (F.max("__tot") > F.lit(0))
    aggs = [
        F.when(
            valid, F.min(F.when(F.col("__cum").cast("double") >= F.lit(q) * F.col("__tot").cast("double"), F.col("__v")))
        ).alias(f"{alias}{sfx(q)}")
        for q in ps
    ]
    if min_support is not None:
        aggs.append(F.max("__n").alias("n_sampled"))
        aggs.append((F.max("__n") < F.lit(int(min_support))).alias("low_support"))
    return staged.groupBy(*gs).agg(*aggs)


def _column_api_multiplier(key, rep, seed):
    keyrep = f"concat(CAST(`{key}` AS STRING), '|', CAST(`{rep}` AS STRING))"
    u = F.expr(f"CAST({_bucket(keyrep, seed)} AS DOUBLE) / {sql_double(_BUCKETS)}")
    m = None
    for k, c in enumerate(_POISSON1_CUM):
        m = F.when(u < F.lit(c), F.lit(k)) if m is None else m.when(u < F.lit(c), F.lit(k))
    return m.otherwise(F.lit(8))


def _column_api_bootstrap_sum(df, value_col, key_col, group_cols, n_replicates, alias, seed=42):
    gs = [F.col(c) for c in group_cols]
    z = stats.z_score(0.95)
    reps = F.explode(F.array(*[F.lit(i) for i in range(n_replicates)]))
    d = df.select(*gs, F.col(key_col).alias("__bk"), F.col(value_col).alias("__x")).withColumn("__rep", reps)
    m = _column_api_multiplier("__bk", "__rep", seed)
    per = d.groupBy(*gs, F.col("__rep")).agg(
        F.sum(F.col("__x") * m).alias("__sr"),
        F.sum(F.when(F.col("__rep") == F.lit(0), F.col("__x"))).alias("__s"),
    )
    srd = F.col("__sr").cast("double")
    rn = float(n_replicates)
    agged = per.groupBy(*gs).agg(
        F.max("__s").alias(alias), F.sum(srd).alias("__ssum"), F.sum(srd * srd).alias("__ssq")
    )
    var = (F.col("__ssq") - F.col("__ssum") * F.col("__ssum") / F.lit(rn)) / F.lit(rn - 1.0)
    return agged.select(
        *gs, F.col(ident(alias)), (F.lit(z) * F.sqrt(F.greatest(var, F.lit(0.0)))).alias(f"{alias}_ci")
    )


def _column_api_quantile_bootstrap(df, value_col, p, group_cols, key_col, n_replicates, min_support, alias, seed=42):
    ps, sfx = _normalize_quantile_ps(p)
    gs = [F.col(c) for c in group_cols]
    reps = F.explode(F.array(*[F.lit(i) for i in range(-1, n_replicates)]))
    d = df.select(
        *gs,
        F.col(key_col).alias("__bk"),
        F.col(value_col).alias("__v"),
        F.col("__weight").cast("double").alias("__w"),
    ).withColumn("__rep", reps)
    m = F.when(F.col("__rep") == F.lit(-1), F.lit(1)).otherwise(_column_api_multiplier("__bk", "__rep", seed))
    d = d.withColumn("__wm", F.col("__w") * m.cast("double"))
    per = _column_api_weighted_quantile(d, "__v", p, list(group_cols) + ["__rep"], "__wm", min_support, "__q")
    alpha = 1.0 - 0.95
    aggs = []
    for q in ps:
        qc = F.col(f"__q{sfx(q)}")
        est = F.max(F.when(F.col("__rep") == F.lit(-1), qc))
        arr = F.array_sort(F.collect_list(F.when(F.col("__rep") >= F.lit(0), qc)))
        nrep = F.size(arr).cast("double")
        lo_k = F.greatest(F.lit(1), F.ceil(F.lit(0.5 * alpha) * nrep).cast("int"))
        hi_k = F.greatest(F.lit(1), F.ceil(F.lit(1.0 - 0.5 * alpha) * nrep).cast("int"))
        aggs.append(est.alias(f"{alias}{sfx(q)}"))
        aggs.append(F.when(est.isNotNull(), F.get(arr, lo_k - F.lit(1))).alias(f"{alias}{sfx(q)}_ci_lo"))
        aggs.append(F.when(est.isNotNull(), F.get(arr, hi_k - F.lit(1))).alias(f"{alias}{sfx(q)}_ci_hi"))
    if min_support is not None:
        n0 = F.max(F.when(F.col("__rep") == F.lit(-1), F.col("n_sampled")))
        aggs.append(n0.alias("n_sampled"))
        aggs.append((n0 < F.lit(int(min_support))).alias("low_support"))
    return per.groupBy(*gs).agg(*aggs)


def _column_api_topk(sf, group_cols, k, value_col, alias):
    est_col, ci_col = F.col(ident(alias)), F.col(ident(f"{alias}_ci"))
    if value_col is None:
        base = sf.approx_count(*group_cols, ci=True, alias=alias)
    else:
        base = sf.approx_sum(value_col, *group_cols, ci=True, alias=alias)
    order = [est_col.desc()] + [F.col(c).asc() for c in group_cols]
    w = Window.orderBy(*order)
    if sf.ratio >= 1.0:
        topped = base.orderBy(*order).limit(k)
        return topped.select("*", F.row_number().over(w).alias("rank")).withColumn("stable", F.lit(True))
    ranked = base.orderBy(*order).limit(k + 1).select("*", F.row_number().over(w).alias("rank"))
    nxt_hi = F.lead(est_col + ci_col).over(w)
    has_next = F.lead(F.lit(True)).over(w)
    flagged = ranked.select(
        "*",
        F.when(has_next.isNull(), F.lit(True))
        .otherwise(F.coalesce((est_col - ci_col) > nxt_hi, F.lit(False)))
        .alias("stable"),
    )
    return flagged.where(F.col("rank") <= k)


_ESTIMATORS = {
    "approx_sum": (
        lambda sf, g, ci, ms, a: sf.approx_sum("value", *g, ci=ci, min_support=ms, alias=a),
        _column_api_approx_sum,
    ),
    "approx_mean": (
        lambda sf, g, ci, ms, a: sf.approx_mean("value", *g, ci=ci, min_support=ms, alias=a),
        _column_api_approx_mean,
    ),
    "approx_distinct": (
        lambda sf, g, ci, ms, a: sf.approx_distinct("user_id", *g, alias=a),
        _column_api_approx_distinct,
    ),
    "approx_distinct_chao": (
        lambda sf, g, ci, ms, a: sf.approx_distinct_chao("user_id", *g, alias=a),
        _column_api_approx_distinct_chao,
    ),
    "weighted_count": (
        lambda sf, g, ci, ms, a: weighted_count(
            sf.df, *g, min_support=ms, ci_confidence=0.95 if ci else None, alias=a
        ),
        lambda sf, g, ci, ms, a: _column_api_weighted(sf.df, None, g, ci, ms, a),
    ),
    "weighted_sum": (
        lambda sf, g, ci, ms, a: weighted_sum(
            sf.df, "value", *g, min_support=ms, ci_confidence=0.95 if ci else None, alias=a
        ),
        lambda sf, g, ci, ms, a: _column_api_weighted(sf.df, "value", g, ci, ms, a),
    ),
    "approx_quantile": (
        lambda sf, g, ci, ms, a: sf.approx_quantile("value", _QUANTILE_PS, *g, ci=ci, min_support=ms, alias=a),
        lambda sf, g, ci, ms, a: _column_api_quantile(sf, g, ci, ms, a, "window"),
    ),
    "approx_quantile_histogram": (
        lambda sf, g, ci, ms, a: sf.approx_quantile(
            "value", _QUANTILE_PS, *g, ci=ci, min_support=ms, alias=a, method="histogram"
        ),
        lambda sf, g, ci, ms, a: _column_api_quantile(sf, g, ci, ms, a, "histogram"),
    ),
    "weighted_quantile": (
        lambda sf, g, ci, ms, a: weighted_quantile(sf.df, "value", _QUANTILE_PS, *g, min_support=ms, alias=a),
        lambda sf, g, ci, ms, a: _column_api_weighted_quantile(sf.df, "value", _QUANTILE_PS, g, "__weight", ms, a),
    ),
    "poisson_bootstrap_sum": (
        lambda sf, g, ci, ms, a: poisson_bootstrap_sum(sf.df, "value", "event_id", *g, n_replicates=8, alias=a),
        lambda sf, g, ci, ms, a: _column_api_bootstrap_sum(sf.df, "value", "event_id", g, 8, a),
    ),
    "weighted_quantile_bootstrap": (
        lambda sf, g, ci, ms, a: weighted_quantile_bootstrap(
            sf.df, "value", _QUANTILE_PS, *g, key_col="event_id", n_replicates=8, min_support=ms, alias=a
        ),
        lambda sf, g, ci, ms, a: _column_api_quantile_bootstrap(sf.df, "value", _QUANTILE_PS, g, "event_id", 8, ms, a),
    ),
    "approx_topk": (
        lambda sf, g, ci, ms, a: sf.approx_topk(*g, k=3, value_col="value" if ci else None, alias=a),
        lambda sf, g, ci, ms, a: _column_api_topk(sf, g, 3, "value" if ci else None, a),
    ),
    "approx_topk_exact": (
        lambda sf, g, ci, ms, a: _exact(sf).approx_topk(*g, k=3, value_col="value" if ci else None, alias=a),
        lambda sf, g, ci, ms, a: _column_api_topk(_exact(sf), g, 3, "value" if ci else None, a),
    ),
}


def _exact(sf):
    return SampledFrame(df=sf.df, ratio=1.0, config=SamplingConfig(ratio=1.0))


@pytest.mark.parametrize(
    "group_cols, ci, min_support",
    [(("event_type",), True, 5), ((), False, None), (("event_type", "user_id"), True, None)],
)
@pytest.mark.parametrize("name", sorted(_ESTIMATORS))
def test_estimator_plan_matches_column_api(spark, sf_dir, name, group_cols, ci, min_support):
    """The SQL-text estimators whose arithmetic the Column-API builders
    fixed: same optimized plan as those builders, written out here.
    ``__weight`` makes the sampled rows a frame the weighted estimators
    read."""
    events = _events(spark, sf_dir).withColumn("__weight", F.lit(4.0))
    sf = SampledFrame.from_dataframe(events, SamplingConfig(ratio=0.25, seed=11), observe=False)
    build, reference = _ESTIMATORS[name]
    got = build(sf, group_cols, ci, min_support, "est `n`")
    want = reference(sf, group_cols, ci, min_support, "est `n`")
    assert got.columns == want.columns
    assert _optimized(got) == _optimized(want)


def _warm_round_trips(build) -> list[int]:
    """The py4j round trips of three warm builds, after one cold build.
    Each ``send_command`` call is one round trip; garbage collection is
    off while counting, and the caller takes the minimum, which drops
    the object-release commands a collection can flush into a build."""
    import py4j.clientserver as cs

    build()  # cold: schema inference and layouts
    calls = [0]
    orig = cs.ClientServerConnection.send_command

    def counting(self, command):
        calls[0] += 1
        return orig(self, command)

    counts, kept = [], []
    gc.collect()
    gc.disable()
    try:
        cs.ClientServerConnection.send_command = counting
        for _ in range(3):
            calls[0] = 0
            kept.append(build())
            counts.append(calls[0])
    finally:
        cs.ClientServerConnection.send_command = orig
        gc.enable()
    return counts


@pytest.mark.parametrize(
    "name",
    [
        "log_host",
        "log_host_sampled",
        "tpch_q1",
        "approx_sum_ci_families",
        "sampled_join_cluster_ci",
        "order_price_quantile_hash_sampled",
        "order_price_quantile_histogram",
        "order_price_percentiles_hash_sampled",
    ],
)
def test_warm_build_round_trip_budget(spark, sf_dir, name):
    """One warm build stays at or under 300 py4j round trips (the
    Column-API builders made 500-2,300, and the Column-API join-cluster
    moments chain about 3,000)."""
    counts = _warm_round_trips(lambda: QUERIES[name].spark(spark, sf_dir))
    assert min(counts) <= 300, counts


_ESTIMATOR_BUILDS = {
    "approx_count": lambda sf: sf.approx_count("g", ci=True, min_support=10),
    "approx_sum": lambda sf: sf.approx_sum("x", "g", ci=True, min_support=10),
    "approx_mean": lambda sf: sf.approx_mean("x", "g", ci=True, min_support=10),
    "approx_ratio": lambda sf: sf.approx_ratio("x", "y", "g", ci=True, min_support=10),
    "approx_distinct": lambda sf: sf.approx_distinct("x", "g"),
    "approx_distinct_chao": lambda sf: sf.approx_distinct_chao("x", "g"),
    "weighted_count": lambda sf: weighted_count(sf.df, "g", min_support=10, ci_confidence=0.95),
    "weighted_sum": lambda sf: weighted_sum(sf.df, "x", "g", min_support=10, ci_confidence=0.95),
    "weighted_mean": lambda sf: weighted_mean(sf.df, "x", "g", min_support=10, ci_confidence=0.95),
    "weighted_ratio": lambda sf: weighted_ratio(sf.df, "x", "y", "g", min_support=10, ci_confidence=0.95),
    "approx_quantile": lambda sf: sf.approx_quantile("x", [0.5, 0.9], "g", ci=True, min_support=10),
    "approx_quantile_histogram": lambda sf: sf.approx_quantile(
        "x", [0.5, 0.9], "g", ci=True, min_support=10, method="histogram"
    ),
    "weighted_quantile": lambda sf: weighted_quantile(sf.df, "x", [0.5, 0.9], "g", min_support=10),
    "poisson_bootstrap_sum": lambda sf: poisson_bootstrap_sum(sf.df, "x", "id", "g"),
    "weighted_quantile_bootstrap": lambda sf: weighted_quantile_bootstrap(
        sf.df, "x", [0.5, 0.9], "g", key_col="id", min_support=10
    ),
    "approx_topk": lambda sf: sf.approx_topk("g", k=3, value_col="x"),
}


@pytest.mark.parametrize("name", sorted(_ESTIMATOR_BUILDS))
def test_estimator_warm_build_round_trip_budget(spark, name):
    """Each estimator's warm build, grouped with its CI and support
    flags on, is one SQL statement (``approx_topk`` two: the count's and
    its ranking): at most 40 py4j round trips (the Column-API builders
    before them made 27-3,155)."""
    rows = spark.range(1000).selectExpr(
        "id", "id % 7 AS g", "CAST(id % 13 AS DOUBLE) AS x", "CAST(id % 5 + 1 AS DOUBLE) AS y", "4.0D AS __weight"
    )
    sf = SampledFrame.from_dataframe(rows, SamplingConfig(ratio=0.25, seed=5), observe=False)
    counts = _warm_round_trips(lambda: _ESTIMATOR_BUILDS[name](sf))
    assert min(counts) <= 40, counts
