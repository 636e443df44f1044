"""Key-consistent TPC-H scale-up by replication (bench infrastructure).

The driver testdata tops out at sf0.1 (TESTDATA.md), where every TPC-H
query sits on the fixed plan/schedule floor (docs/SCALE.md "floor table"):
100x the data moves wall time at most 40%, so per-round bench numbers say
nothing about scaling. This module materializes an ~sf1 database by
replicating sf0.1 ten times with key offsets so the bench can carry a
second, data-dominated headline block (VERDICT r4 item 7).

Replication is KEY-CONSISTENT: copy i adds ``i * STRIDE`` to every
primary and foreign key (custkey, suppkey, partkey, orderkey), so joins
have exactly 10x the matches of the base — the same join selectivity,
cardinality ratios, and skew profile as the base corpus, at 10x mass.
Dates, prices, and dimension attributes are untouched; region/nation
stay at their real cardinality (they are broadcast dims at every scale).
This mirrors how dbgen itself scales TPC-H (row counts linear in SF for
the five scaled tables, constant for region/nation).

The scaled database is cached under /tmp keyed by a source signature
(path + lineitem file size/mtime + copy count); stale caches for the
same source are pruned when the signature changes (same discipline as
the incremental-rollup cache, ADVICE r4).
"""

from __future__ import annotations

import os
import re
import shutil
import time

from pyspark.sql import DataFrame, SparkSession

from .tables import file_signature

# staging dirs older than this are reclaimed even if a process with the
# builder's PID is alive (PID recycling; ADVICE r7) — generous: a real
# 10-copy sf0.1 build takes ~1 minute on the bench box
_STAGING_MAX_AGE_S = 3600.0


def _pid_alive(pid: int) -> bool:
    """True if ``pid`` is a live process (signal-0 probe; EPERM counts as
    alive — it exists, we just don't own it)."""
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True
from pyspark.sql import functions as F

# key columns to offset, per table (the TPC-H tables dbgen scales, plus
# the engine's event/document corpora: offsetting user_id/doc_id means
# 10x the USERS and DOCUMENTS with the same per-entity history shape,
# not the same entities with 10x-duplicated history)
_SCALED_KEYS: dict[str, tuple[str, ...]] = {
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
    "events": ("event_id", "user_id"),
    "documents": ("doc_id",),
}
_COPIED = ("region", "nation")
_TPCH_TABLES = ("customer", "supplier", "part", "orders", "lineitem")

# far above any sf0.1 key (max is l_orderkey ~600k); copies stay disjoint
STRIDE = 100_000_000


def replicate_table(df: DataFrame, keys: tuple[str, ...], copies: int) -> DataFrame:
    """One scan -> ``copies``x rows: explode a copy index, offset the keys.

    The explode is a map-side row amplifier (no shuffle); at cluster scale
    the same pattern fans a seed corpus out to any test mass.
    """
    out = df.withColumn("__i", F.explode(F.array(*[F.lit(i) for i in range(copies)])))
    # the copy index and stride must multiply as BIGINT: int32 literals
    # overflow under ANSI mode at copies >= 22 (i * 1e8 > 2^31-1) — caught
    # by the 40x scaling run, now pinned in tests
    offset = F.col("__i").cast("bigint") * F.lit(STRIDE).cast("bigint")
    for k in keys:
        out = out.withColumn(k, F.col(k).cast("bigint") + offset)
    return out.drop("__i")


# bump when the generated LAYOUT changes (not just the data): v2 = scaled
# facts written with full write parallelism instead of inheriting the
# source's file count
_LAYOUT_VERSION = 2


def _signature(src_dir: str, copies: int, tables: tuple[str, ...]) -> str:
    # fingerprint EVERY replicated table (not a proxy file): regenerating
    # events.parquet alone must invalidate an events replica, and a
    # corpus-only source dir need not contain lineitem at all
    raw = "|".join(
        [os.path.abspath(src_dir)]
        + [f"{t}={','.join(file_signature(os.path.join(src_dir, f'{t}.parquet')))}" for t in tables]
        + [str(copies), ",".join(tables), f"v{_LAYOUT_VERSION}"]
    )
    import hashlib

    return hashlib.md5(raw.encode()).hexdigest()[:12]


def _src_tag(src_dir: str) -> str:
    import hashlib

    return hashlib.md5(os.path.abspath(src_dir).encode()).hexdigest()[:6]


def ensure_scaled_tables(
    spark: SparkSession,
    src_dir: str,
    tables: tuple[str, ...],
    copies: int = 10,
    cache_root: str = "/tmp",
    prefix: str = "rsmr_x",
) -> str:
    """Materialize (or reuse) a replicated database of ``tables``; returns
    its dir.

    Layout matches ``sources.tables.load`` (``{dir}/{table}.parquet``);
    region/nation ride along unscaled whenever any TPC-H table is asked
    for (they are constant-cardinality broadcast dims at every SF).
    Prunes stale caches built from the same source with a different
    signature, so regeneration never accumulates dead directories.
    """
    from .tables import ensure_layout

    tables = tuple(sorted(tables))
    unknown = [t for t in tables if t not in _SCALED_KEYS]
    if unknown:
        raise KeyError(f"no replication key spec for table(s) {unknown}")
    sig = _signature(src_dir, copies, tables)
    tag = _src_tag(src_dir)
    # the cache IDENTITY (everything that makes two replicas different
    # builds, not just different data) lives in the NAME: copies, source
    # dir, and table set — so the prune below can never hit a sibling
    # that is a different build rather than a stale generation of THIS
    # one. Only the data signature is hash-only.
    tbl_tag = "-".join(t[:2] for t in tables)
    family = f"{prefix}{copies}_{tag}_{tbl_tag}_"
    dest = os.path.join(cache_root, family + sig)
    if os.path.exists(os.path.join(dest, "_SUCCESS")):
        return dest
    # prune stale generations of THIS family only (same source + table
    # set, older data signature); other sources' and other table sets'
    # replicas stay untouched. In-flight staging dirs are skipped ONLY
    # while their builder PID is alive — a builder that crashed mid-build
    # would otherwise leak a multi-hundred-MB '.staging.<pid>' dir forever,
    # the very accumulation this sweep exists to prevent (ADVICE r5).
    # A live FOREIGN PID alone is not proof of an active builder: PIDs
    # recycle, and an unrelated long-lived process could pin the leak
    # forever (ADVICE r7) — so a foreign staging dir older than
    # _STAGING_MAX_AGE_S is reclaimed even if its PID exists. Our OWN
    # pid is exempt from the age check (this process cannot be a
    # recycled ghost of itself; review r8 — the TTL must never delete
    # an active builder's staging mid-build and let it publish a
    # partial replica).
    os.makedirs(cache_root, exist_ok=True)
    now = time.time()
    for name in os.listdir(cache_root):
        if not name.startswith(family) or name == os.path.basename(dest):
            continue
        path = os.path.join(cache_root, name)
        m = re.search(r"\.staging\.(\d+)$", name)
        if m:
            pid = int(m.group(1))
            if pid == os.getpid():
                continue  # our own active build, never swept
            try:
                age = now - os.stat(path).st_mtime
            except OSError:
                continue  # vanished under us (concurrent sweep)
            if age < _STAGING_MAX_AGE_S and _pid_alive(pid):
                continue  # an active, recent foreign builder owns it
        shutil.rmtree(path, ignore_errors=True)

    def _build(staging: str) -> None:
        os.makedirs(staging, exist_ok=True)
        # Write scaled facts at full core parallelism: the source is a
        # one-file toy layout, and inheriting its scan partitioning would
        # emit ~3 fat files whose row groups cap every downstream scan at
        # 3-way parallelism (measured: promo_revenue_share 9.9 s on the
        # 3-file layout vs the sub-second properly-split run — a 10x
        # parallelism loss that looked like a query regression). Real sf1
        # data arrives as many files; this reproduces that.
        n_files = max(spark.sparkContext.defaultParallelism, 8)
        for table in tables:
            src = spark.read.parquet(f"{src_dir}/{table}.parquet")
            replicate_table(src, _SCALED_KEYS[table], copies).repartition(
                n_files
            ).write.mode("overwrite").parquet(f"{staging}/{table}.parquet")
        if any(t in _TPCH_TABLES for t in tables):
            for table in _COPIED:
                spark.read.parquet(f"{src_dir}/{table}.parquet").write.mode(
                    "overwrite"
                ).parquet(f"{staging}/{table}.parquet")
        # completeness check before stamping: if a concurrent sweep (or
        # anything else) removed earlier table dirs mid-build, refuse to
        # publish a partial replica under a valid signature (review r8)
        expected = list(tables) + (
            list(_COPIED) if any(t in _TPCH_TABLES for t in tables) else []
        )
        missing = [
            t
            for t in expected
            if not os.path.isdir(os.path.join(staging, f"{t}.parquet"))
        ]
        if missing:
            raise RuntimeError(
                f"replica staging lost table dirs mid-build: {missing} "
                f"(concurrent sweep?); refusing to stamp a partial replica"
            )
        with open(os.path.join(staging, "_SUCCESS"), "w") as fh:
            fh.write(sig)

    # race-safe publish: per-PID staging + atomic rename (ensure_layout),
    # so two concurrent builders can never interleave writes into the
    # published directory or stamp a marker on a mixed-generation replica
    return ensure_layout(dest, _build)


def ensure_scaled_tpch(
    spark: SparkSession,
    src_dir: str,
    copies: int = 10,
    cache_root: str = "/tmp",
) -> str:
    """The TPC-H replica (bench ``tpch_x10`` block)."""
    return ensure_scaled_tables(
        spark, src_dir, _TPCH_TABLES, copies=copies, cache_root=cache_root,
        prefix="rsmr_tpch_x",
    )
