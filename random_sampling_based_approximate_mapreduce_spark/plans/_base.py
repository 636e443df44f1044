"""Shared registry + helpers for the query-catalog family modules.

Each entry pairs a PySpark DataFrame query with an equivalent ANSI-SQL
string DuckDB runs on the same parquet tables — the driver's correctness
gate (CORRECTNESS_r{N}.json) and our local tools/check_oracle.py both walk
this registry. Sampled/approximate queries are inherently non-SQL-oracle-
able (Spark's Bernoulli sampler is not reproducible in DuckDB) and carry
``oracle=None`` -> rows-only check; their accuracy is asserted statistically
in tests/ instead (the reference's own comparator loop, SURVEY.md §5).

Float-stability discipline (so value-hashes match across engines): money
sums are computed over DECIMAL-cast columns (exact, order-independent) and
cast back to DOUBLE; averages are exact-decimal-sum / count in DOUBLE;
integral doubles (quantities) sum as BIGINT. Raw ``sum(double)`` never
crosses an oracle boundary.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import sql_round
from ..functions import text as T
from ..operators.quality import psi_bucketize, psi_from_counts
from ..sampling.config import SamplingConfig
from ..sampling.sampled_frame import SampledFrame
from ..sources import apache_log as AL
from ..sources import wireless as WL
from ..sources import xml_pages as XP
from ..sources.tables import ensure_parallelism, load


@dataclass
class QueryDef:
    """One catalog entry: Spark implementation + optional DuckDB oracle."""

    spark: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]
    doc: str = ""
    tags: tuple = ()


QUERIES: dict[str, QueryDef] = {}


def register(name: str, oracle: Optional[str], doc: str = "", tags: tuple = ()):
    def deco(fn):
        QUERIES[name] = QueryDef(spark=fn, oracle=oracle, doc=doc, tags=tags)
        return fn

    return deco


def _dec(col, prec: int = 12, scale: int = 2):
    return F.col(col).cast(f"decimal({prec},{scale})") if isinstance(col, str) else col.cast(f"decimal({prec},{scale})")


# race-safe one-time /tmp layout materializer (shared with streaming)
from ..sources.tables import ensure_layout as _ensure_layout  # noqa: E402


def content_keyed_text(lines: Callable[[], DataFrame], parts: int, codec: Optional[str] = None):
    """A layout writer: the one string column of ``lines()`` as ``parts``
    text files, hash-partitioned and sorted BY CONTENT, with canonical
    part names. A bare round-robin repartition writes a row placement
    that depends on upstream scan split planning, and Spark's part names
    carry a per-job UUID; the byte-skip picks key on the file path and
    unit index, so either made every rebuild a different byte draw.
    Keyed on the line itself, placement and order are functions of the
    data alone (ties are identical lines — byte-equal output either
    way): same corpus -> bit-stable layout -> comparable picks."""
    from ..sources.tables import canonicalize_part_names

    def write(d: str) -> None:
        df = lines()
        col = df.columns[0]
        w = df.repartition(parts, col).sortWithinPartitions(col).write.mode("overwrite")
        (w.option("compression", codec) if codec else w).text(d)
        canonicalize_part_names(d)

    return write


def codec_layout(name, key, write=None, src=None, convert=None, count_units=None, shape=None, sidecar=""):
    """The one-time, race-safe layout ``/tmp/rsmr_{name}_{md5(key)}`` of
    a byte-skip rung: ``write(d)`` writes text parts; ``convert(src, d)``
    turns them (or the plain layout ``src``) into the codec's files;
    ``count_units(part)`` feeds the build-time shape assertion (review
    r10: a disk-shape twin is only honest if the corpus spans several
    parts, each crossing a seam), or ``shape(d, what)`` replaces it;
    ``sidecar`` index files must sit beside every part. ``key`` names the
    content recipe and must move whenever the bytes would."""
    import hashlib
    import os
    import shutil
    import tempfile

    from ..sources.tables import assert_layout_shape, ensure_layout

    what = f"{name.replace('_', ' ')} layout"

    def build(d: str) -> None:
        if convert is None:
            write(d)
        elif src is not None:
            parts = convert(src, d)
        else:
            tmp = tempfile.mkdtemp(prefix=f"rsmr_{name}_src_")
            try:
                write(tmp)
                parts = convert(tmp, d)
            finally:
                shutil.rmtree(tmp, ignore_errors=True)
        missing = [p for p in parts if not os.path.exists(p + sidecar)] if sidecar else []
        if missing:
            raise ValueError(f"{what} missing sidecars: {missing}")
        if shape is not None:
            return shape(d, what)
        skip = (lambda p: p.endswith(sidecar)) if sidecar else None
        assert_layout_shape(d, min_parts=2, count_units=count_units, what=what, skip=skip)

    digest = hashlib.md5(key.encode()).hexdigest()[:10]
    return ensure_layout(f"/tmp/rsmr_{name}_{digest}", build)


# --- helpers shared across family modules (hoisted in the round-8
# catalog split; definitions unchanged) ---

_WORD_SPLIT_SQL = "[^a-z0-9'']+"

# word_count's oracle, shared by every layout twin that must reproduce it
_WORD_COUNT_SQL = f"""
    SELECT word, count(*)::BIGINT AS cnt
    FROM (
      SELECT unnest(string_split_regex(lower(text), '{_WORD_SPLIT_SQL}')) AS word
      FROM documents
      WHERE NOT regexp_matches(text, '[0-9]')
    )
    WHERE word <> '' AND NOT regexp_matches(word, '^[0-9]+$')
    GROUP BY word
    """

# cheap built-in tokenize pipelines skip the parallelism shuffle below this
# input size (measured crossover, sources/tables.ensure_parallelism docstring)
_CHEAP_PIPE_BYTES = 128 << 20

_TOKEN_COUNT_SQL = (
    r"CASE WHEN length(trim(text)) = 0 THEN 0 "
    r"ELSE len(string_split_regex(trim(text), '\s+')) END"
)

def sessionize_events(e: DataFrame, gap_us: int = 1_800_000_000) -> DataFrame:
    """events -> (user_id, ts, session_id) via gaps-and-islands (lag gap
    marker + running sum over ONE user_id window chain).

    Shared by user_sessions and sessions_bounce_rate so the gap threshold
    and the (ts, event_id) tiebreak can never drift apart between the
    per-user rollup and the bounce KPI built on it (the same single-
    definition rule as psi_bucketize for the PSI twins).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    is_new = F.when(gap <= gap_us, F.lit(0)).otherwise(F.lit(1))
    return e.select("user_id", "ts", "event_id", is_new.alias("is_new")).select(
        "user_id",
        "ts",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("session_id"),
    )

_FP_SQL = (
    r"(('0x' || substr(md5(trim(regexp_replace(regexp_replace(lower(text), "
    r"'[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))), 1, 15))::BIGINT)"
)
