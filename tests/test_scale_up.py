"""Key-consistent TPC-H replication (sources/scale_up.py): the bench's
10x corpus must preserve join selectivity exactly, or the tpch_x10 block
measures a different workload than the base."""

import pytest
from pyspark.sql import functions as F

from random_sampling_based_approximate_mapreduce_spark.sources.scale_up import (
    STRIDE,
    ensure_scaled_tables,
    ensure_scaled_tpch,
    replicate_table,
)


@pytest.fixture(scope="module")
def cache_root(tmp_path_factory):
    return str(tmp_path_factory.mktemp("scaleup"))


@pytest.fixture(scope="module")
def scaled_dir(spark, sf_dir, cache_root):
    return ensure_scaled_tpch(spark, sf_dir, copies=3, cache_root=cache_root)


class TestReplicateTable:
    def test_row_count_multiplies(self, spark, sf_dir):
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        out = replicate_table(orders, ("o_orderkey", "o_custkey"), 3)
        assert out.count() == 3 * orders.count()

    def test_copies_have_disjoint_keys(self, spark, sf_dir):
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        out = replicate_table(orders, ("o_orderkey",), 3)
        # distinct keys also multiply: no collision between copies
        assert (
            out.select("o_orderkey").distinct().count()
            == 3 * orders.select("o_orderkey").distinct().count()
        )
        # copy i lives in [i*STRIDE, (i+1)*STRIDE)
        bands = (
            out.select((F.col("o_orderkey") / STRIDE).cast("int").alias("band"))
            .distinct()
            .collect()
        )
        assert sorted(r["band"] for r in bands) == [0, 1, 2]


class TestReplicateManyCopies:
    def test_no_int32_overflow_past_21_copies(self, spark, sf_dir):
        # copies >= 22 puts i*STRIDE past 2^31-1; the offset arithmetic
        # must run in BIGINT or ANSI mode raises ARITHMETIC_OVERFLOW
        nation = spark.read.parquet(f"{sf_dir}/nation.parquet").withColumnRenamed(
            "n_nationkey", "k"
        )
        out = replicate_table(nation, ("k",), 25)
        assert out.count() == 25 * nation.count()
        assert out.agg(F.max("k")).collect()[0][0] >= 24 * STRIDE


class TestScaledDatabase:
    def test_join_selectivity_preserved(self, spark, sf_dir, scaled_dir):
        base_l = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        base_o = spark.read.parquet(f"{sf_dir}/orders.parquet")
        big_l = spark.read.parquet(f"{scaled_dir}/lineitem.parquet")
        big_o = spark.read.parquet(f"{scaled_dir}/orders.parquet")
        base_matches = base_l.join(
            base_o, base_l.l_orderkey == base_o.o_orderkey
        ).count()
        big_matches = big_l.join(big_o, big_l.l_orderkey == big_o.o_orderkey).count()
        assert big_matches == 3 * base_matches

    def test_dims_unscaled_and_cache_reused(self, spark, sf_dir, scaled_dir, cache_root):
        base_n = spark.read.parquet(f"{sf_dir}/nation.parquet").count()
        assert spark.read.parquet(f"{scaled_dir}/nation.parquet").count() == base_n
        # second call with the same signature returns the same dir, no rebuild
        again = ensure_scaled_tpch(spark, sf_dir, copies=3, cache_root=cache_root)
        assert again == scaled_dir

    def test_tpch_query_runs_on_scaled(self, spark, scaled_dir):
        from random_sampling_based_approximate_mapreduce_spark.plans.catalog import QUERIES

        rows = QUERIES["tpch_q1"].spark(spark, scaled_dir).collect()
        assert len(rows) > 0

    def test_reference_corpus_replica(self, spark, sf_dir, cache_root):
        from random_sampling_based_approximate_mapreduce_spark.plans.catalog import QUERIES
        from random_sampling_based_approximate_mapreduce_spark.sources.tables import load

        d = ensure_scaled_tables(
            spark, sf_dir, ("events", "documents"), copies=2, cache_root=cache_root
        )
        base_events = load(spark, sf_dir, "events")
        big_events = load(spark, d, "events")
        assert big_events.count() == 2 * base_events.count()
        # user_id offset -> distinct users multiply (fresh entities, not
        # duplicated history)
        assert (
            big_events.select("user_id").distinct().count()
            == 2 * base_events.select("user_id").distinct().count()
        )
        # a reference workload runs and its counts scale exactly
        base_words = {
            r["word"]: r["cnt"] for r in QUERIES["word_count"].spark(spark, sf_dir).collect()
        }
        big_words = {
            r["word"]: r["cnt"] for r in QUERIES["word_count"].spark(spark, d).collect()
        }
        assert big_words == {w: 2 * c for w, c in base_words.items()}


class TestStagingPrune:
    def test_dead_pid_staging_pruned_live_kept(self, spark, sf_dir, cache_root):
        """A crashed builder's '.staging.<pid>' dir is swept once its pid is
        dead; a live builder's staging dir survives (ADVICE r5)."""
        import os

        d = ensure_scaled_tables(
            spark, sf_dir, ("events",), copies=2, cache_root=cache_root
        )
        family_prefix = os.path.basename(d).rsplit("_", 1)[0] + "_"
        # fabricate: a stale generation, a dead-pid staging leak, and a
        # live-pid (our own) staging dir of the same family
        stale = os.path.join(cache_root, family_prefix + "deadbeef0000")
        dead_staging = stale + ".staging.999999999"  # no such pid
        live_staging = stale + f".staging.{os.getpid()}"
        for p in (stale, dead_staging, live_staging):
            os.makedirs(p, exist_ok=True)
        # force a re-sweep: same family, same signature -> early return
        # unless we remove the marker; instead call with the marker intact
        # (sweep runs only when dest is unbuilt), so point at a NEW copies
        # value to trigger the build path of a DIFFERENT family... simpler:
        # delete the success marker to force the sweep+rebuild of THIS one.
        os.remove(os.path.join(d, "_SUCCESS"))
        d2 = ensure_scaled_tables(
            spark, sf_dir, ("events",), copies=2, cache_root=cache_root
        )
        assert d2 == d
        assert not os.path.exists(stale), "stale generation not pruned"
        assert not os.path.exists(dead_staging), "dead-pid staging leaked"
        assert os.path.exists(live_staging), "live builder's staging removed"
        # review r8: ensure_layout must REPAIR a dest that lost its
        # marker (replace-and-republish), not rebuild forever without
        # ever publishing
        assert os.path.exists(os.path.join(d, "_SUCCESS")), (
            "rebuild did not restore the _SUCCESS marker"
        )
        os.rmdir(live_staging)

    def test_aged_live_pid_staging_reclaimed(self, spark, sf_dir, cache_root):
        """ADVICE r7 + review r8: a live FOREIGN PID is not proof of an
        active builder (PID recycling) — a foreign staging dir past
        _STAGING_MAX_AGE_S is reclaimed even when its PID exists; a
        FRESH foreign live-pid dir survives; and our OWN pid's staging
        is NEVER swept regardless of age (this process cannot be a
        recycled ghost of itself, and sweeping an active build would
        publish a partial replica)."""
        import os
        import time

        from random_sampling_based_approximate_mapreduce_spark.sources.scale_up import (
            _STAGING_MAX_AGE_S,
        )

        d = ensure_scaled_tables(
            spark, sf_dir, ("events",), copies=2, cache_root=cache_root
        )
        family_prefix = os.path.basename(d).rsplit("_", 1)[0] + "_"
        foreign_live = 1  # init: alive, never ours
        aged_foreign = os.path.join(
            cache_root, family_prefix + f"cafecafe0000.staging.{foreign_live}"
        )
        fresh_foreign = os.path.join(
            cache_root, family_prefix + f"cafecafe1111.staging.{foreign_live}"
        )
        aged_own = os.path.join(
            cache_root, family_prefix + f"cafecafe2222.staging.{os.getpid()}"
        )
        for p in (aged_foreign, fresh_foreign, aged_own):
            os.makedirs(p, exist_ok=True)
        old = time.time() - _STAGING_MAX_AGE_S - 60.0
        os.utime(aged_foreign, (old, old))
        os.utime(aged_own, (old, old))
        os.remove(os.path.join(d, "_SUCCESS"))
        d2 = ensure_scaled_tables(
            spark, sf_dir, ("events",), copies=2, cache_root=cache_root
        )
        assert d2 == d
        assert not os.path.exists(aged_foreign), "aged foreign staging leaked"
        assert os.path.exists(fresh_foreign), "fresh foreign staging removed"
        assert os.path.exists(aged_own), "our own active staging was swept"
        os.rmdir(fresh_foreign)
        os.rmdir(aged_own)

    def test_fresh_cache_root_is_created(self, spark, sf_dir, tmp_path):
        """A ``cache_root`` that does not exist yet is created before the
        stale-generation sweep lists it."""
        import os

        root = tmp_path / "not" / "yet"
        d = ensure_scaled_tables(spark, sf_dir, ("events",), copies=2, cache_root=str(root))
        assert os.path.dirname(d) == str(root)
        assert os.path.exists(os.path.join(d, "_SUCCESS"))


class TestFooterSampleBound:
    def test_stride_honors_budget(self):
        from random_sampling_based_approximate_mapreduce_spark.sources.layout import (
            _FOOTER_SAMPLE,
            _footer_sample,
        )

        for n in (1, 63, 64, 65, 100, 127, 128, 129, 1000, 100_000):
            paths = [f"f{i}" for i in range(n)]
            got = _footer_sample(paths)
            assert len(got) <= _FOOTER_SAMPLE, (n, len(got))
            if n >= _FOOTER_SAMPLE // 2:
                assert len(got) >= _FOOTER_SAMPLE // 2, (n, len(got))
            # evenly spread: first path always included, no duplicates
            assert got[0] == "f0" and len(set(got)) == len(got)
