"""Storage-layout scale mechanics: bucketed joins and partition pruning.

These verify the two claims docs/SCALE.md makes about what changes first
at cluster scale — that bucketing removes the join exchange and that a
partitioned layout prunes scanned files — so the claims are executable,
not aspirational.
"""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def warehouse(spark, sf_dir, tmp_path_factory):
    """Orders + customer written BUCKETED by the join key into a local
    warehouse (saveAsTable is required for bucket metadata)."""
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    (orders.write.mode("overwrite").bucketBy(8, "o_custkey").sortBy("o_custkey")
     .saveAsTable("b_orders"))
    (customer.withColumn("o_custkey", F.col("c_custkey")).write.mode("overwrite")
     .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable("b_customer"))
    yield spark
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")


class TestBucketedJoin:
    def test_bucketed_join_has_no_shuffle(self, warehouse):
        spark = warehouse
        # disable broadcast so the join strategy decision is about shuffling
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = spark.table("b_orders").join(spark.table("b_customer"), "o_custkey")
            plan = j._jdf.queryExecution().executedPlan().toString()
            # co-bucketed on the join key: SMJ reads buckets directly,
            # zero Exchange on either side
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    def test_bucketed_results_match_plain_join(self, warehouse, sf_dir):
        spark = warehouse
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
        plain = (
            orders.join(customer, orders.o_custkey == customer.c_custkey)
            .groupBy("c_mktsegment").count().collect()
        )
        bucketed = (
            spark.table("b_orders").join(spark.table("b_customer"), "o_custkey")
            .groupBy("c_mktsegment").count().collect()
        )
        assert sorted((r["c_mktsegment"], r["count"]) for r in plain) == sorted(
            (r["c_mktsegment"], r["count"]) for r in bucketed
        )


class TestPartitionPruning:
    def test_filter_prunes_partitions(self, spark, sf_dir, tmp_path_factory):
        out = str(tmp_path_factory.mktemp("events_part"))
        from random_sampling_based_approximate_mapreduce_spark.sources.tables import load

        events = load(spark, sf_dir, "events").withColumn(
            "day", F.date_format("ts", "yyyy-MM-dd")
        )
        events.write.mode("overwrite").partitionBy("day").parquet(out)
        all_days = spark.read.parquet(out)
        n_days = all_days.select("day").distinct().count()
        assert n_days > 3

        day0 = all_days.select("day").orderBy("day").first()["day"]
        one_day = all_days.where(F.col("day") == day0)
        # the filter must reach the file index as a partition filter
        # (inputFiles() reports the unpruned relation; the one-line plan
        # truncates scan metadata — formatted explain prints it in full)
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            one_day.explain("formatted")
        import re

        m = [ln for ln in buf.getvalue().splitlines() if "PartitionFilters" in ln]
        assert m and re.search(rf"\(day#\d+ = {day0}\)", m[0])
        # and pruning is semantically right
        assert one_day.count() == events.where(F.col("day") == day0).count()


class TestCatalogLayoutQueries:
    def test_docs_partitioned_query_prunes(self, spark, sf_dir):
        """The docs_partitioned_lang CATALOG query (not just a synthetic
        frame) carries its lang IN filter as PartitionFilters."""
        import contextlib
        import io

        from random_sampling_based_approximate_mapreduce_spark.plans.catalog import QUERIES

        df = QUERIES["docs_partitioned_lang"].spark(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        lines = [ln for ln in buf.getvalue().splitlines() if "PartitionFilters" in ln]
        assert lines and "lang" in lines[0] and "in(lang" in lines[0].replace("IN (", "in(lang")

    def test_multifile_text_scan_is_parallel(self, spark, sf_dir):
        """The 8-file text layout yields >= 8 scan partitions without any
        repartition in the query."""
        import glob
        import os

        from random_sampling_based_approximate_mapreduce_spark.plans import relational
        from random_sampling_based_approximate_mapreduce_spark.plans.catalog import QUERIES

        QUERIES["word_count_multifile"].spark(spark, sf_dir).count()  # materialize layout
        layout = relational._multifile_text_layout(spark, sf_dir)
        files = glob.glob(f"{layout}/part-*")
        assert len(files) == 8 and all(os.path.getsize(f) > 0 for f in files)
        # tiny files are bin-packed (maxPartitionBytes/openCostInBytes), so
        # the floor is the session's parallelism, not the file count
        floor = min(8, spark.sparkContext.defaultParallelism)
        assert spark.read.text(layout).rdd.getNumPartitions() >= floor


class TestRelationalPlanShapes:
    def test_exists_subqueries_decorrelate(self, spark, sf_dir):
        from random_sampling_based_approximate_mapreduce_spark.plans.catalog import QUERIES

        plan = (
            QUERIES["exists_subquery_customers"].spark(spark, sf_dir)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "LeftSemi" in plan and "LeftAnti" in plan

    def test_grouping_sets_single_scan(self, spark, sf_dir):
        from random_sampling_based_approximate_mapreduce_spark.plans.catalog import QUERIES

        qe = QUERIES["events_grouping_sets"].spark(spark, sf_dir)._jdf.queryExecution()
        plan = qe.executedPlan().toString()
        assert "Expand" in plan
        assert plan.count("Scan parquet") == 1 or plan.count("FileScan") == 1


class TestZOrderLayout:
    def test_zorder_write_prunes_on_both_dims(self, spark, sf_dir, tmp_path_factory):
        """Range-write by the Morton key, then check per-file min/max
        footers: a z-ordered layout bounds BOTH dimensions per file, so a
        filter on EITHER dimension can skip files; a single-column sort
        only prunes its own column. Each dim is normalized to 8 bits
        first — Morton pruning needs comparable lane widths (a 16-bit
        lane interleaved with an 8-bit one is just a sort on the wide
        lane)."""
        import glob

        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from random_sampling_based_approximate_mapreduce_spark.sources.tables import load

        e = load(spark, sf_dir, "events").select(
            "user_id",
            (F.unix_timestamp("ts") / F.lit(60)).cast("long").alias("minute"),
        )
        b = e.agg(
            F.min("user_id"), F.max("user_id"), F.min("minute"), F.max("minute")
        ).first()
        u_lo, u_hi, m_lo, m_hi = b

        zdir = str(tmp_path_factory.mktemp("ev_z"))
        sdir = str(tmp_path_factory.mktemp("ev_s"))
        # enough files that each covers a fine z-range: with 2^6 files the
        # top 6 interleaved bits split each dimension into ~8 slices, so a
        # ~10%-wide filter on either dim can skip most rectangles even
        # though range-partition boundaries are data quantiles
        n_files = 64
        from random_sampling_based_approximate_mapreduce_spark.sources.layout import write_zordered

        write_zordered(e, zdir, "user_id", "minute", bits=8, n_files=n_files)
        e.repartitionByRange(n_files, "user_id").sortWithinPartitions(
            "user_id"
        ).write.mode("overwrite").parquet(sdir)

        def file_ranges(d, col):
            out = []
            for f in sorted(glob.glob(f"{d}/part-*.parquet")):
                md = pq.ParquetFile(f).metadata
                if md.num_rows == 0:
                    continue
                idx = {md.schema.column(i).name: i for i in range(md.num_columns)}[col]
                lo, hi = None, None
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(idx).statistics
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
                out.append((lo, hi))
            return out

        def prunable(ranges, q_lo, q_hi):
            return sum(1 for lo, hi in ranges if hi < q_lo or lo > q_hi) / len(ranges)

        u_mid = (u_lo + u_hi) // 2
        u_w = max(1, (u_hi - u_lo) // 10)
        m_mid = (m_lo + m_hi) // 2
        m_w = max(1, (m_hi - m_lo) // 10)
        # filter on user_id: the user-sorted layout prunes nearly all
        # files, the z layout prunes a meaningful fraction
        assert prunable(file_ranges(sdir, "user_id"), u_mid, u_mid + u_w) >= 0.8
        assert prunable(file_ranges(zdir, "user_id"), u_mid, u_mid + u_w) >= 0.3
        # filter on minute: ONLY the z layout can prune at all
        assert prunable(file_ranges(sdir, "minute"), m_mid, m_mid + m_w) == 0.0
        assert prunable(file_ranges(zdir, "minute"), m_mid, m_mid + m_w) >= 0.3

    def test_zorder_row_group_rectangles(self, spark, tmp_path_factory):
        """Row-group-LEVEL pruning, not just file-level: on a larger write
        with a small parquet block size, each file holds many row groups;
        because rows are z-sorted within files, every row group's footer
        carries a TIGHT (user_id, minute) rectangle, so a narrow filter on
        either dimension skips row groups INSIDE files whose file-level
        range could not be skipped at all. This is the claim that matters
        at 100 TB, where one file is ~1 GB and the row group (~128 MB) is
        the real pruning unit."""
        import glob

        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from random_sampling_based_approximate_mapreduce_spark.sources.layout import write_zordered
        from random_sampling_based_approximate_mapreduce_spark.sources.tables import load

        import os

        sf_big = os.path.join(
            os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata"), "sf0.1"
        )
        e = load(spark, sf_big, "events").select(
            "user_id",
            (F.unix_timestamp("ts") / F.lit(60)).cast("long").alias("minute"),
        )
        b = e.agg(
            F.min("user_id"), F.max("user_id"), F.min("minute"), F.max("minute")
        ).first()
        u_lo, u_hi, m_lo, m_hi = b

        zdir = str(tmp_path_factory.mktemp("ev_z_rg"))
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        old_block = hconf.get("parquet.block.size")
        # force many row groups per file: 16 KiB blocks, few files
        hconf.set("parquet.block.size", str(16 * 1024))
        try:
            write_zordered(e, zdir, "user_id", "minute", bits=8, n_files=2)
        finally:
            if old_block is None:
                hconf.unset("parquet.block.size")
            else:
                hconf.set("parquet.block.size", old_block)

        def rg_and_file_ranges(d, col):
            rg_ranges, file_ranges = [], []
            for f in sorted(glob.glob(f"{d}/part-*.parquet")):
                md = pq.ParquetFile(f).metadata
                if md.num_rows == 0:
                    continue
                idx = {md.schema.column(i).name: i for i in range(md.num_columns)}[col]
                f_lo, f_hi = None, None
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(idx).statistics
                    rg_ranges.append((st.min, st.max))
                    f_lo = st.min if f_lo is None else min(f_lo, st.min)
                    f_hi = st.max if f_hi is None else max(f_hi, st.max)
                file_ranges.append((f_lo, f_hi))
            return rg_ranges, file_ranges

        def prunable(ranges, q_lo, q_hi):
            return sum(1 for lo, hi in ranges if hi < q_lo or lo > q_hi) / len(ranges)

        rg_m, files_m = rg_and_file_ranges(zdir, "minute")
        rg_u, files_u = rg_and_file_ranges(zdir, "user_id")
        # the write must actually have produced multi-row-group files,
        # else this test degenerates into the file-level one
        assert len(rg_m) >= 4 * len(files_m), (len(rg_m), len(files_m))

        m_mid = (m_lo + m_hi) // 2
        m_w = max(1, (m_hi - m_lo) // 10)
        u_mid = (u_lo + u_hi) // 2
        u_w = max(1, (u_hi - u_lo) // 10)
        for rg_ranges, file_ranges, q_lo, q_hi in (
            (rg_m, files_m, m_mid, m_mid + m_w),
            (rg_u, files_u, u_mid, u_mid + u_w),
        ):
            rg_frac = prunable(rg_ranges, q_lo, q_hi)
            file_frac = prunable(file_ranges, q_lo, q_hi)
            # row-group rectangles must prune strictly beyond what whole-
            # file ranges can, and a ~10%-wide filter must skip a
            # meaningful share of row groups
            assert rg_frac > file_frac, (rg_frac, file_frac)
            assert rg_frac >= 0.3, rg_frac


class TestCompaction:
    def test_compact_restores_file_count_and_data(self, spark, sf_correct_dir, tmp_path):
        import os

        from random_sampling_based_approximate_mapreduce_spark.sources.layout import (
            compact_files,
        )
        from random_sampling_based_approximate_mapreduce_spark.sources.tables import load

        # simulate streaming-sink fragmentation: 64 tiny files
        src = str(tmp_path / "fragmented")
        docs = load(spark, sf_correct_dir, "documents")
        docs.repartition(64).write.mode("overwrite").parquet(src)
        n_src = sum(1 for f in os.listdir(src) if f.endswith(".parquet"))
        assert n_src == 64

        total = sum(
            os.path.getsize(os.path.join(src, f))
            for f in os.listdir(src)
            if f.endswith(".parquet")
        )
        dst = str(tmp_path / "compacted")
        n_out = compact_files(spark, src, dst, target_file_bytes=total // 4)
        assert n_out <= 8  # 64 fragments -> a handful of right-sized files

        # losslessness: same rows, same content hash surrogate
        a = spark.read.parquet(src).selectExpr("sum(hash(doc_id, text, lang))", "count(*)").collect()[0]
        b = spark.read.parquet(dst).selectExpr("sum(hash(doc_id, text, lang))", "count(*)").collect()[0]
        assert a == b

    def test_compact_with_sort_restores_clustering(self, spark, sf_correct_dir, tmp_path):
        import pyarrow.parquet as pq

        from random_sampling_based_approximate_mapreduce_spark.sources.layout import (
            compact_files,
        )
        from random_sampling_based_approximate_mapreduce_spark.sources.tables import load

        import os

        src = str(tmp_path / "frag2")
        load(spark, sf_correct_dir, "documents").repartition(32).write.mode("overwrite").parquet(src)
        dst = str(tmp_path / "sorted")
        compact_files(spark, src, dst, target_file_bytes=1 << 40, sort_by=["doc_id"])
        files = [f for f in os.listdir(dst) if f.endswith(".parquet")]
        assert len(files) == 1
        meta = pq.ParquetFile(os.path.join(dst, files[0]))
        # row groups sorted within the file: doc_id min/max non-overlapping
        prev_max = -1
        for rg in range(meta.metadata.num_row_groups):
            col = meta.metadata.row_group(rg).column(0)
            assert col.statistics.min > prev_max
            prev_max = col.statistics.max
