"""The driver-side build layer: the parquet schema cache behind
``sources.tables.load`` and the SQL-string tokenizer builders.

A plan build should launch no Spark job and make few py4j calls; these
tests pin what the two shortcuts must not change: the schema a read
sees, the attribute IDs of each read, and the optimized tokenizer plan.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StringType, TimestampType

from random_sampling_based_approximate_mapreduce_spark import session
from random_sampling_based_approximate_mapreduce_spark.functions import text as T
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


def _column_api_words(df, col, out="word"):
    """The Column-API tokenizer the SQL-string builders replace."""
    kept = df.where(~F.col(col).rlike(r"\d"))
    return (
        kept.select(F.explode_outer(F.split(F.lower(F.col(col)), T.WORD_SPLIT_RE)).alias(out))
        .where(F.length(out) > 0)
        .where(~F.col(out).rlike("^[0-9]+$"))
    )


def _optimized(df) -> str:
    return re.sub(r"#\d+L?", "#", df._jdf.queryExecution().optimizedPlan().toString())


def test_sql_string_tokenizer_plan_matches_column_api(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").select("text")
    got = T.explode_words(T.drop_digit_lines(docs, "text"), "text")
    plan = _optimized(got)
    assert plan == _optimized(_column_api_words(docs, "text"))
    # explode_outer, and no InferFiltersFromGenerate size() filter
    assert "explode(" in plan and ", true," in plan.split("Generate", 1)[1]
    assert "size(" not in plan


def test_words_column_plan_matches_column_api(spark, sf_dir):
    """``words`` (the array-column form the TF-IDF, count-min and entropy
    plans use) builds from the same SQL rule as ``explode_words``."""
    docs = load(spark, sf_dir, "documents")
    got = docs.select("doc_id", F.explode_outer(T.words("text")).alias("word"))
    want = docs.select(
        "doc_id", F.explode_outer(F.split(F.lower(F.col("text")), T.WORD_SPLIT_RE)).alias("word")
    )
    assert _optimized(got) == _optimized(want)


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
