"""SparkSession factory with the engine's scale-oriented defaults.

Local testing runs ``local[N]``; the same config block is what we would
ship to a 1000-executor cluster — AQE for runtime re-planning (skew joins,
partition coalescing), Arrow for any Pandas-UDF exchange, UTC session time
so results are timezone-stable and DuckDB-oracle-comparable.
"""

from __future__ import annotations

import os
import warnings

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def get_spark(
    app_name: str = "rsmr-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # testdata events.parquet stores TIMESTAMP(NANOS); read as long and
        # convert in sources.tables.load (Spark has no ns timestamp type)
        .config(_NANOS_AS_LONG, "true")
        # With CSV column pruning, a count() over a DROPMALFORMED csv scan
        # parses ZERO columns and malformed rows are silently kept — row
        # counts become plan-dependent. An AQP engine's observed totals
        # feed estimators, so count semantics win over csv-scan pruning.
        .config("spark.sql.csv.parser.columnPruning.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # keep managed tables (bucketing tests/queries) out of the repo cwd
        .config("spark.sql.warehouse.dir", "/tmp/rsmr_warehouse")
    )
    if extra_conf:
        active = SparkSession.getActiveSession()
        if active is not None:
            # getOrCreate() would return the existing session and silently
            # DROP extra_conf — a measurement script run after another
            # session would then report numbers under the wrong config.
            import warnings

            warnings.warn(
                "get_spark(extra_conf=...) called while a SparkSession is "
                "already active: extra confs are applied via conf.set where "
                "runtime-settable, but static confs (memory, master, "
                "codegen) keep the active session's values. Stop the "
                "active session first for a clean configuration.",
                RuntimeWarning,
                stacklevel=2,
            )
            for k, v in extra_conf.items():
                try:
                    active.conf.set(k, v)
                except Exception:
                    warnings.warn(
                        f"extra_conf {k!r} is static and was NOT applied to "
                        "the active session",
                        RuntimeWarning,
                        stacklevel=2,
                    )
            return active
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def configure_existing(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to a session we didn't build
    (the driver hands us one in ``__spark_entry__.entry``)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    spark.conf.set("spark.sql.csv.parser.columnPruning.enabled", "false")
    try:
        spark.conf.set(_NANOS_AS_LONG, "true")
    except Exception as exc:
        # static in some builds. tables.load still reads MICROS data, but
        # with the conf off Spark refuses a TIMESTAMP(NANOS) column at
        # schema inference, so say so instead of failing later
        warnings.warn(
            f"could not set {_NANOS_AS_LONG} ({exc}); Spark will refuse "
            "parquet TIMESTAMP(NANOS) columns at schema inference",
            RuntimeWarning,
            stacklevel=2,
        )
    return spark


def reuse_barrier(df: DataFrame, *, eager: bool) -> DataFrame:
    """Store ``df`` once so that its later consumers read stored blocks
    instead of re-running its lineage. The package's one reuse barrier.

    Lifecycle: a local checkpoint, not ``persist()``. A persisted plan is
    registered in the SQL CacheManager until someone calls ``unpersist``,
    and the CacheManager matches by canonicalized plan, so a repeat call
    over the same input path would reuse the first call's data after the
    files changed. Checkpoint blocks belong to the returned DataFrame
    alone: no cache entry, no reuse across calls, and ContextCleaner
    frees them once the DataFrame is garbage-collected.

    ``eager=True`` runs one job now. Use it when the driver goes on to
    run several actions over the result (a loop of rounds, a probe then
    a build), or to cut a plan that would otherwise grow per round.
    ``eager=False`` stores the blocks during the first action that reads
    them, so the one later job computes the chain once and its other
    consumers of ``df`` read the stored blocks; it adds no job.

    Executor loss: a checkpoint cuts the lineage, so a lost block cannot
    be recomputed. On a ``local``/``local[...]`` master the only executor
    is the driver, whose loss ends the application anyway, and the
    default storage level is kept (a replicated level there has no peer
    to copy to and warns once per block). On any other master,
    ``local-cluster[...]`` included, the blocks are stored
    ``MEMORY_AND_DISK_2``: each has a copy on a second executor, so
    losing one executor costs a re-read, not the query.
    Losing every executor that holds a block still fails the job with
    ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``.
    """
    master = df.sparkSession.sparkContext.master
    if master == "local" or master.startswith("local["):
        return df.localCheckpoint(eager=eager)
    return df.localCheckpoint(eager=eager, storageLevel=StorageLevel.MEMORY_AND_DISK_2)
