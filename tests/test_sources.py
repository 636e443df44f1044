"""Source-layer semantics: permissive parsing, round-trips, sampled reads."""

import pytest
from pyspark.sql import functions as F

from random_sampling_based_approximate_mapreduce_spark import SamplingConfig
from random_sampling_based_approximate_mapreduce_spark.sources import apache_log as AL
from random_sampling_based_approximate_mapreduce_spark.sources import text as TXT
from random_sampling_based_approximate_mapreduce_spark.sources import wireless as WL
from random_sampling_based_approximate_mapreduce_spark.sources import xml_pages as XP


class TestApacheLogParse:
    def test_well_formed_line(self, spark):
        line = '203.0.113.7 - - [12/Mar/2024:14:03:22 +0000] "GET /page/view/3?q=9 HTTP/1.1" 200 5120'
        df = AL.parse_apache_log(spark.createDataFrame([(line,)], ["line"]))
        r = df.collect()[0]
        assert r["host"] == "203.0.113.7"
        assert r["method"] == "GET"
        assert r["path"] == "/page/view/3"
        assert r["query"] == "q=9"
        assert r["status"] == 200 and r["bytes"] == 5120
        assert r["ts"].hour == 14

    def test_malformed_lines_dropped(self, spark):
        rows = [
            ("not a log line at all",),
            ("",),
            ('host - - [bad-date] "GET / HTTP/1.1" 200 10',),
            ('1.2.3.4 - - [12/Mar/2024:14:03:22 +0000] "GET / HTTP/1.1" 200 10',),
        ]
        df = AL.parse_apache_log(spark.createDataFrame(rows, ["line"]))
        assert df.count() == 1  # only the last is valid

    def test_dash_bytes_becomes_null(self, spark):
        line = '1.2.3.4 - - [12/Mar/2024:14:03:22 +0000] "HEAD / HTTP/1.1" 304 -'
        df = AL.parse_apache_log(spark.createDataFrame([(line,)], ["line"]))
        assert df.collect()[0]["bytes"] is None

    _GOOD = '1.2.3.4 - - [12/Mar/2024:14:03:22 +0000] "GET / HTTP/1.1" 200 10'

    @pytest.mark.parametrize(
        "bad",
        [
            "not a log line at all",
            '1.2.3.4 - - [12/Mar/2024:14:03:22 +0000] "GET / HTTP/1.1" 2x0 10',
            '1.2.3.4 - - [12/Mar/2024:14:03:22 +0000] "GET / HTTP/1.1" 2000 10',
        ],
    )
    def test_ansi_unparsable_line_is_dropped_not_raised(self, spark, bad):
        """The checked fields are computed before the check filters them,
        so each must be null, not an ANSI cast error, on a line the regex
        does not match (a status field that is not three digits included)."""
        assert spark.conf.get("spark.sql.ansi.enabled") == "true"
        df = AL.parse_apache_log(spark.createDataFrame([(bad,), (self._GOOD,)], ["line"]))
        assert [(r["host"], r["status"], r["bytes"]) for r in df.collect()] == [("1.2.3.4", 200, 10)]

    def test_ansi_dash_bytes_is_null_not_raised(self, spark):
        assert spark.conf.get("spark.sql.ansi.enabled") == "true"
        dash = '1.2.3.4 - - [12/Mar/2024:14:03:22 +0000] "HEAD / HTTP/1.1" 304 -'
        rows = AL.parse_apache_log(spark.createDataFrame([(dash,)], ["line"])).collect()
        assert [(r["status"], r["bytes"]) for r in rows] == [(304, None)]

    def test_keep_may_name_the_parsed_column(self, spark):
        df = AL.parse_apache_log(spark.createDataFrame([(self._GOOD,)], ["line"]), keep=("line",))
        assert df.columns == ["line", "host", "ts", "method", "path", "query", "proto", "status", "bytes"]
        assert df.collect()[0]["line"] == self._GOOD

    def test_round_trip_preserves_rowcount(self, spark, sf_dir):
        from random_sampling_based_approximate_mapreduce_spark.sources.tables import load

        events = load(spark, sf_dir, "events")
        assert AL.access_log(events).count() == events.count()


class TestWireless:
    def test_canonical_pair_collapses_orders(self, spark):
        rows = [("dev-1,dev-2,x,1,-40",), ("dev-2,dev-1,y,2,-50",)]
        parsed = WL.parse_wireless(spark.createDataFrame(rows, ["line"]))
        links = parsed.select(WL.canonical_link(F.col("snd_id"), F.col("rcv_id")).alias("link")).collect()
        assert {r["link"] for r in links} == {"dev-2->dev-1"}

    def test_malformed_dropped(self, spark):
        rows = [("",), ("only-one-field",), ("a,b",)]
        parsed = WL.parse_wireless(spark.createDataFrame(rows, ["line"]))
        assert parsed.count() == 1


class TestXmlPages:
    def test_multiline_pages_split(self, spark):
        blob = "<page>\n<title>A</title>\n<text>alpha beta\ngamma</text>\n</page>junk<page><title>B</title><text>delta</text></page>"
        pages = XP.split_pages(spark.createDataFrame([(blob,)], ["value"]))
        assert pages.count() == 2
        fields = XP.extract_fields(pages).orderBy("title").collect()
        assert fields[0]["title"] == "A" and "gamma" in fields[0]["text"]
        assert fields[1]["title"] == "B" and fields[1]["text"] == "delta"

    def test_wrap_extract_round_trip(self, spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        extracted = XP.extract_fields(XP.wrap_documents(docs))
        assert extracted.count() == docs.count()
        # text survives byte-for-byte
        orig = docs.agg(F.sum(F.length("text"))).collect()[0][0]
        back = extracted.agg(F.sum(F.length("text"))).collect()[0][0]
        assert orig == back


class TestSampledTextRead(object):
    def test_sampled_read_counts(self, spark, tmp_path):
        p = str(tmp_path / "lines.txt")
        with open(p, "w") as f:
            for i in range(10_000):
                f.write(f"line {i} content\n")
        sf = TXT.read_text_sampled(spark, p, SamplingConfig(ratio=0.1, seed=42))
        n = sf.df.count()
        rep = sf.report()
        assert rep.total_records == 10_000
        assert rep.sampled_records == n
        assert 800 < n < 1200

    def test_exact_read_passthrough(self, spark, tmp_path):
        p = str(tmp_path / "lines2.txt")
        with open(p, "w") as f:
            f.write("a\nb\nc\n")
        sf = TXT.read_text_sampled(spark, p, SamplingConfig.exact())
        assert sf.df.count() == 3

    def test_tsv_sink_round_trip(self, spark, tmp_path):
        out = str(tmp_path / "out_tsv")
        df = spark.createDataFrame([("k1", 5), ("k2", 7)], ["key", "cnt"])
        TXT.write_tsv(df, out, sort_by="key")
        back = spark.read.option("sep", "\t").csv(out)
        rows = sorted((r["_c0"], int(r["_c1"])) for r in back.collect())
        assert rows == [("k1", 5), ("k2", 7)]

    def test_gzip_input_transparent(self, spark, tmp_path):
        """S4 parity: compressed input needs no engine code — Spark's text
        source detects the codec by extension, like the reference's codec
        factory (RandomizedXMLRecordReader.java:76-106)."""
        import gzip

        p = str(tmp_path / "lines.txt.gz")
        with gzip.open(p, "wt") as f:
            for i in range(1000):
                f.write(f"line {i}\n")
        sf = TXT.read_text_sampled(spark, p, SamplingConfig(ratio=0.5, seed=42))
        rep = sf.report(trigger=True)
        assert rep.total_records == 1000
        assert 350 < rep.sampled_records < 650

    def test_csv_sampled_with_malformed_drop(self, spark, tmp_path):
        from random_sampling_based_approximate_mapreduce_spark.sources.files import read_csv_sampled

        p = tmp_path / "data.csv"
        lines = ["id,val"] + [f"{i},{i * 2}" for i in range(500)] + ["oops,not,number,extra"]
        p.write_text("\n".join(lines))
        sf = read_csv_sampled(
            spark, str(p), schema="id INT, val INT", config=SamplingConfig(ratio=0.5, seed=42)
        )
        rep = sf.report(trigger=True)
        assert rep.total_records == 500  # malformed row dropped pre-sample
        assert 180 < rep.sampled_records < 320
        assert sf.df.columns == ["id", "val"]

    def test_json_sampled_exact(self, spark, tmp_path):
        from random_sampling_based_approximate_mapreduce_spark.sources.files import read_json_sampled

        p = tmp_path / "data.jsonl"
        p.write_text("\n".join(f'{{"k": {i}, "v": "x{i}"}}' for i in range(100)))
        sf = read_json_sampled(spark, str(p), schema="k BIGINT, v STRING", config=SamplingConfig.exact())
        assert sf.ratio == 1.0
        assert sf.df.count() == 100
        assert sf.df.agg({"k": "sum"}).collect()[0][0] == sum(range(100))

    def test_run_manifest_written(self, spark, tmp_path):
        """S6 parity: the CLI persists the sampling report as a JSON
        manifest next to the part files (ZK report znode replacement)."""
        import json

        from random_sampling_based_approximate_mapreduce_spark.cli import _finish, _sampled_lines

        src = tmp_path / "m.txt"
        src.write_text("x\n" * 100)
        out = str(tmp_path / "out")
        sf = _sampled_lines(spark, str(src), "0.5")
        from pyspark.sql import functions as F

        counts = sf.df.groupBy("value").agg(F.count(F.lit(1)).alias("cnt"))
        _finish(sf, counts, out)
        with open(f"{out}/_SAMPLING_REPORT.json") as f:
            manifest = json.load(f)
        assert manifest["total_records"] == 100
        assert manifest["designed_ratio"] == 0.5
        assert 0 < manifest["actual_ratio"] < 1


class TestFileLevelSampling:
    @pytest.fixture(scope="class")
    def corpus_dir(self, spark, tmp_path_factory):
        out = str(tmp_path_factory.mktemp("fs_corpus"))
        spark.range(2000).select(
            F.concat(F.lit("w"), (F.col("id") % 40).cast("string")).alias("value")
        ).repartition(16).write.mode("overwrite").text(out)
        return out

    def test_pick_is_deterministic_and_ratio_composes(self, spark, corpus_dir):
        from random_sampling_based_approximate_mapreduce_spark.sources.text import read_text_file_sampled

        a = read_text_file_sampled(spark, corpus_dir, 0.5, SamplingConfig(ratio=0.5, seed=7))
        b = read_text_file_sampled(spark, corpus_dir, 0.5, SamplingConfig(ratio=0.5, seed=7))
        assert a.df.inputFiles() == b.df.inputFiles()
        n_picked = len(a.df.inputFiles())
        assert 0 < n_picked < 16
        assert a.ratio == pytest.approx((n_picked / 16) * 0.5)

    def test_full_ratios_read_everything_exactly(self, spark, corpus_dir):
        from random_sampling_based_approximate_mapreduce_spark.sources.text import read_text_file_sampled

        sf = read_text_file_sampled(spark, corpus_dir, 1.0)
        assert sf.ratio == 1.0
        assert sf.df.count() == 2000

    def test_estimates_track_exact(self, spark, corpus_dir):
        from random_sampling_based_approximate_mapreduce_spark.sources.text import read_text_file_sampled

        sf = read_text_file_sampled(spark, corpus_dir, 0.5, SamplingConfig(ratio=0.5, seed=42))
        est = sf.df.count() * sf.scale
        # rows are round-robin across files (repartition), so cluster
        # variance is small; total estimate must land near 2000
        assert est == pytest.approx(2000, rel=0.25)

    def test_parquet_file_sampled(self, spark, tmp_path):
        from random_sampling_based_approximate_mapreduce_spark.sources.files import (
            read_parquet_file_sampled,
        )

        out = str(tmp_path / "pq_corpus")
        spark.range(4000).select(
            F.col("id"), (F.col("id") % 10).alias("k")
        ).repartition(16).write.parquet(out)
        sf = read_parquet_file_sampled(spark, out, 0.5, SamplingConfig(ratio=0.5, seed=42))
        assert 0 < len(sf.df.inputFiles()) < 16
        assert sf.df.count() * sf.scale == pytest.approx(4000, rel=0.25)


class TestSplittableCompression:
    """S4: splittable compressed input (RandomizedXMLRecordReader.java:
    76-106 uses SplittableCompressionCodec block reads). Hadoop's bzip2
    codec is pure-Java and block-splittable, so a large .bz2 text file
    must fan out into MULTIPLE scan partitions with no lost/duplicated
    records at split boundaries; gzip (non-splittable) stays one split."""

    @staticmethod
    def _write_bz2(path, n):
        import bz2
        import hashlib

        # incompressible payload so the COMPRESSED size (what split
        # planning sees) comfortably exceeds maxPartitionBytes
        with bz2.open(path, "wt") as f:
            for i in range(n):
                h = hashlib.md5(f"{i}".encode()).hexdigest()
                f.write(f"rec {i} {h}{h}\n")

    def test_bzip2_splits_and_roundtrips(self, spark, tmp_path):
        p = str(tmp_path / "big.txt.bz2")
        n = 200_000
        self._write_bz2(p, n)
        old = spark.conf.get("spark.sql.files.maxPartitionBytes")
        try:
            spark.conf.set("spark.sql.files.maxPartitionBytes", str(256 * 1024))
            df = spark.read.text(p)
            parts = df.rdd.getNumPartitions()
            assert parts > 1, f"bzip2 must split (got {parts} partition)"
            assert df.count() == n
            assert df.distinct().count() == n  # no boundary dup/loss
        finally:
            spark.conf.set("spark.sql.files.maxPartitionBytes", old)

    def test_bzip2_sampled_text_contract(self, spark, tmp_path):
        p = str(tmp_path / "sampled.txt.bz2")
        self._write_bz2(p, 10_000)
        sf = TXT.read_text_sampled(spark, p, SamplingConfig(ratio=0.2, seed=42))
        rep = sf.report(trigger=True)
        assert rep.total_records == 10_000
        assert 1_500 < rep.sampled_records < 2_500

    def test_bzip2_xml_pages_roundtrip(self, spark, tmp_path):
        import bz2

        from random_sampling_based_approximate_mapreduce_spark.sources.xml_pages import (
            END_TAG,
            START_TAG,
        )

        p = str(tmp_path / "pages.xml.bz2")
        n_pages = 500
        with bz2.open(p, "wt") as f:
            for i in range(n_pages):
                f.write(f"{START_TAG}\n  <title>p{i}</title>\n  <text>body {i}</text>\n{END_TAG}\n")
        sf = TXT.read_xml_pages_sampled(spark, p, SamplingConfig(ratio=1.0))
        assert sf.df.count() == n_pages

    def test_zstd_if_codec_available(self, spark, tmp_path):
        """zstd needs the native Hadoop codec; skip (not fail) where the
        container lacks it — the engine adds no code either way."""
        import pytest

        try:
            import zstandard  # noqa: F401
        except ImportError:
            pytest.skip("no python zstandard module to write test input")
        p = str(tmp_path / "z.txt.zst")
        import zstandard as zstd

        with zstd.open(p, "wt") as f:
            for i in range(1000):
                f.write(f"line {i}\n")
        try:
            assert spark.read.text(p).count() == 1000
        except Exception as e:  # pragma: no cover - env dependent
            pytest.skip(f"zstd codec unavailable in this JVM: {e}")


class TestEnsureParallelism:
    """Partition estimate from scan metadata (no per-call RDD conversion)."""

    def test_small_scan_gets_repartitioned(self, spark, sf_dir):
        from random_sampling_based_approximate_mapreduce_spark.sources.tables import (
            ensure_parallelism,
            load,
        )

        df = ensure_parallelism(load(spark, sf_dir, "documents").select("text"))
        target = spark.sparkContext.defaultParallelism
        assert df.rdd.getNumPartitions() >= target

    def test_big_estimate_is_noop(self, spark, sf_dir):
        """With maxPartitionBytes tiny, the estimate sees >= target splits
        and must NOT insert a repartition (plan unchanged)."""
        from random_sampling_based_approximate_mapreduce_spark.sources.tables import (
            ensure_parallelism,
            load,
        )

        old = spark.conf.get("spark.sql.files.maxPartitionBytes")
        try:
            spark.conf.set("spark.sql.files.maxPartitionBytes", "1k")
            base = load(spark, sf_dir, "documents").select("text")
            out = ensure_parallelism(base)
            assert out is base  # no repartition node added
        finally:
            spark.conf.set("spark.sql.files.maxPartitionBytes", old)

    @pytest.fixture(scope="class")
    def replica(self, spark, sf_dir, tmp_path_factory):
        """The 8-file events replica ``ensure_scaled_tables`` builds."""
        from random_sampling_based_approximate_mapreduce_spark.sources.scale_up import (
            ensure_scaled_tables,
        )

        root = str(tmp_path_factory.mktemp("replica"))
        return ensure_scaled_tables(spark, sf_dir, ("events",), copies=2, cache_root=root)

    @staticmethod
    def _estimate(df):
        import os

        from random_sampling_based_approximate_mapreduce_spark.sources import tables

        spark = df.sparkSession
        sizes = [os.path.getsize(f[7:] if f.startswith("file://") else f) for f in df.inputFiles()]
        max_bytes = tables._parse_bytes(spark.conf.get("spark.sql.files.maxPartitionBytes"))
        return tables._file_partitions(spark, sizes, max_bytes), len(sizes)

    @pytest.mark.parametrize("layout", ["one_small_file", "replica", "lowered_max_bytes"])
    def test_estimate_is_the_scans_partition_count(self, spark, sf_dir, replica, layout):
        from random_sampling_based_approximate_mapreduce_spark.sources.tables import load

        old = spark.conf.get("spark.sql.files.maxPartitionBytes")
        try:
            if layout == "lowered_max_bytes":
                spark.conf.set("spark.sql.files.maxPartitionBytes", "16k")
            df = load(spark, replica if layout == "replica" else sf_dir, "events")
            est, n_files = self._estimate(df)
            assert n_files == (8 if layout == "replica" else 1)
            assert est == df.rdd.getNumPartitions()
        finally:
            spark.conf.set("spark.sql.files.maxPartitionBytes", old)

    def test_replica_spark_already_splits_is_left_alone(self, spark, replica):
        """At ``local[2]`` (two cores: Spark's split size and the target
        both follow the parallelism) the 8 files pack into 2 partitions,
        so no round-robin exchange is added."""
        from random_sampling_based_approximate_mapreduce_spark.sources.tables import (
            ensure_parallelism,
            load,
        )

        spark.conf.set("spark.sql.leafNodeDefaultParallelism", "2")
        try:
            df = load(spark, replica, "events")
            assert self._estimate(df)[0] == df.rdd.getNumPartitions() == 2
            assert ensure_parallelism(df, min_partitions=2) is df
        finally:
            spark.conf.unset("spark.sql.leafNodeDefaultParallelism")

    def test_conf_suffix_parsing(self):
        from random_sampling_based_approximate_mapreduce_spark.sources.tables import _parse_bytes

        assert _parse_bytes("134217728b") == 134217728
        assert _parse_bytes("128m") == 128 << 20
        assert _parse_bytes("1g") == 1 << 30
        assert _parse_bytes("64k") == 64 << 10
        assert _parse_bytes("12345") == 12345
        assert _parse_bytes("nonsense") is None


class TestEnsureLayoutRace:
    """ADVICE r8: the marker-repair branch rmtree'd src between the
    marker check and the rename, deleting a layout a racer published in
    that window. The fix claims src by ATOMIC rename-aside and re-checks
    the marker on what it actually grabbed."""

    def _write_fn(self, content):
        import os

        def write(staging):
            os.makedirs(staging, exist_ok=True)
            with open(os.path.join(staging, "data.txt"), "w") as f:
                f.write(content)
            open(os.path.join(staging, "_SUCCESS"), "w").close()

        return write

    def test_repair_broken_layout(self, tmp_path):
        import os

        from random_sampling_based_approximate_mapreduce_spark.sources.tables import ensure_layout

        src = str(tmp_path / "layout")
        os.makedirs(src)
        with open(os.path.join(src, "junk.txt"), "w") as f:
            f.write("partial")
        # no _SUCCESS -> broken; must be replaced and republished
        out = ensure_layout(src, self._write_fn("ours"))
        assert out == src
        assert os.path.exists(os.path.join(src, "_SUCCESS"))
        assert open(os.path.join(src, "data.txt")).read() == "ours"
        assert not os.path.exists(os.path.join(src, "junk.txt"))

    def test_racer_publish_during_repair_survives(self, tmp_path, monkeypatch):
        """Simulate the TOCTOU window: a racer publishes a VALID layout
        at src after our marker check (src looked broken) but before we
        claim it. Our build must detect the marker on the claimed dir,
        restore the racer's layout, and discard our staging."""
        import os
        import shutil

        from random_sampling_based_approximate_mapreduce_spark.sources import tables as TBL

        src = str(tmp_path / "layout")
        os.makedirs(src)
        with open(os.path.join(src, "junk.txt"), "w") as f:
            f.write("partial")

        real_rename = os.rename
        fired = {"n": 0}

        def racing_rename(a, b):
            # first rename is staging -> src: fail it (src exists), and
            # have the "racer" replace src with its valid layout inside
            # the window before our repair branch claims src
            if fired["n"] == 0 and b == src:
                fired["n"] = 1
                shutil.rmtree(src)
                os.makedirs(src)
                with open(os.path.join(src, "data.txt"), "w") as f:
                    f.write("racer")
                open(os.path.join(src, "_SUCCESS"), "w").close()
                raise OSError("simulated ENOTEMPTY")
            return real_rename(a, b)

        # the racer's publish happens AFTER ensure_layout's initial
        # marker check read "missing" -- patching rename reproduces the
        # exact interleaving the ADVICE describes
        monkeypatch.setattr(os, "rename", racing_rename)
        # defeat the post-failure marker re-check shortcut: ensure_layout
        # re-checks _SUCCESS right after the failed rename and returns
        # early if present; the ADVICE race is the branch where that
        # check ALSO read missing. Simulate by hiding the marker from
        # exists() until the claim happens.
        real_exists = os.path.exists
        hidden = {"on": True}

        def patched_exists(p):
            if hidden["on"] and p == os.path.join(src, "_SUCCESS"):
                # visible again once src was renamed aside (claimed)
                if not real_exists(src):
                    hidden["on"] = False
                    return real_exists(p)
                return False
            return real_exists(p)

        monkeypatch.setattr(os.path, "exists", patched_exists)
        out = TBL.ensure_layout(src, self._write_fn("ours"))
        monkeypatch.undo()

        assert out == src
        assert os.path.exists(os.path.join(src, "_SUCCESS"))
        assert open(os.path.join(src, "data.txt")).read() == "racer", (
            "repair branch deleted a layout published during the window"
        )
        assert not os.path.exists(src + f".staging.{os.getpid()}")
        assert not os.path.exists(src + f".trash.{os.getpid()}")
