"""Bloom-style semi-join reduction — shrink a huge probe side BEFORE its
shuffle.

The classic big-join accelerator: when a selective dimension predicate
keeps only a fraction of join keys, the fact side should be filtered by a
compact membership structure of those keys BEFORE it pays the join
shuffle. Spark ships this idea twice, and neither form works here:

- ``DataFrame.stat.bloomFilter`` builds the sketch ON THE DRIVER and
  returns a local object — usable only via RDD plumbing, not as a Column
  predicate in a declarative plan.
- The optimizer's runtime row-level filtering
  (``spark.sql.optimizer.runtime.bloomFilter.enabled``) injects
  ``BloomFilterAggregate``/``BloomFilterMightContain`` under a shuffle
  join on its own cost model, but the underlying ``bloom_filter_agg`` /
  ``might_contain`` expressions are NOT registered for SQL/DataFrame use
  (probed in this build — AnalysisException: unresolved routine), and an
  optimizer-injected filter is neither guaranteed nor value-oracle-able.

So the engine expresses the reduction explicitly with the md5 hash family
(functions/hashing.hash64) the whole catalog already uses:

    buckets = DISTINCT pmod(hash64(key), n_buckets) of the small side
    big' = big LEFT-SEMI broadcast-join buckets on the same bucket expr

This is a one-hash Bloom filter whose "bitmap" is a broadcast hash
relation of occupied buckets. False positives are bucket collisions —
rate ~= occupancy = distinct_keys / n_buckets (3% at 30k keys over 2^20
buckets) — and are dropped by the real join that follows, so composing
``bloom_semi_join`` + the actual join is EXACTLY the plain join (the SQL
oracle for any query using it is the plain-join SQL; correctness never
depends on the filter, only speed does).

100 TB shape: the broadcast is <= n_buckets deduped ints (a few MB at
2^20 — far smaller than broadcasting the dimension rows, which is the
regime where this matters: dim too big to broadcast whole, key set
small enough to hash). The semi-join is a map-side BroadcastHashJoin
inside the big side's scan stage: rejected rows never reach the
exchange, so shuffle bytes drop by ~the selectivity while the md5+pmod
stays in whole-stage codegen. Swap ``hash64`` for ``F.xxhash64`` in
production if oracle parity is not needed (same plan shape, faster
hash).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import hash64

DEFAULT_BUCKETS = 1 << 20


def _bucket(key: Column, n_buckets: int) -> Column:
    return F.pmod(hash64(key.cast("string")), F.lit(n_buckets))


def key_buckets(df: DataFrame, key_col: str, n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """DISTINCT occupied md5 buckets of ``df[key_col]`` — the broadcast
    side of the filter. One partial-agg shuffle over bucket ints (bounded
    by n_buckets regardless of df's size)."""
    return df.select(_bucket(F.col(key_col), n_buckets).alias("__bucket")).distinct()


def bloom_semi_join(
    big: DataFrame,
    big_key: str,
    small: DataFrame,
    small_key: str,
    n_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Filter ``big`` to rows whose key bucket is occupied by ``small``.

    Returns ``big``'s rows (original schema) minus most non-joining rows;
    keeps all joining rows (never a false negative — same-key rows hash
    to the same bucket). Follow with the real join; the composition
    equals the plain join exactly.
    """
    buckets = key_buckets(small, small_key, n_buckets)
    return (
        big.withColumn("__bucket", _bucket(F.col(big_key), n_buckets))
        .join(F.broadcast(buckets), "__bucket", "left_semi")
        .drop("__bucket")
    )
