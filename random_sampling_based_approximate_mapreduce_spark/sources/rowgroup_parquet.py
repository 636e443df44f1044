"""Row-group-level parquet sampling — skip-without-materialize for the
engine's native columnar format.

The reference's XML reader skips whole rejected records at the BYTE level
before buffering them (RandomizedXMLRecordReader.java:117-123), so a
rejected record costs a tag scan, not a parse. Row sampling above a
parquet scan (``df.sample``) cannot do that: Spark still reads and
decodes every page, and the sampled scan floors at full-scan cost
(measured in docs/SCALE.md — ``df.sample`` saturates at the scan).

The columnar transplant of that idea is to skip whole ROW GROUPS: a
parquet footer lists each row group's byte range and row count, so a
cheap driver-side metadata read can hash-pick a subset of row groups and
the scan never touches the I/O for the rest. This is two-stage cluster
sampling one rung below ``files.pick_files`` (whole files) and one above
``df.sample`` (rows):

    file-level  — zero I/O for skipped files; coarsest clusters
    row-group   — zero I/O for skipped groups; works on a SINGLE huge
                  file (where file-level sampling cannot help at all)
    row-level   — exact Bernoulli semantics; full scan cost

Estimator contract: row groups are CLUSTERS (size ~128 MB by writer
default), so the achieved ratio is exact — picked_rows / total_rows from
footer metadata, no observation pass needed — but between-cluster
variance adds to the Bernoulli bound exactly as documented for
file-level sampling (sources/text.read_text_file_sampled); compose a
within-group row sample for a two-stage design.

Implementation: the driver's pick becomes ``(path, rg)`` rows of the
shared ``unit_source.scan_units`` scan; ``mapInArrow`` reads each
picked row group via pyarrow and yields its Arrow record batches, so the
exchange into the JVM is columnar (Arrow), not row-by-row. The rows
spread over at most ``defaultParallelism`` tasks in pick order, and the
footer pass is a driver-side metadata read (at very large file counts,
distribute it or use a ``_metadata`` sidecar).
"""

from __future__ import annotations

from ..sampling.config import SamplingConfig
from ..sampling.sampled_frame import SampledFrame, compose_cluster_row_stage
from . import unit_source
from .tables import parquet_schema, read_parquet
from .unit_source import list_files, only_suffixes, scan_units, unit_runs


def _footers(path: str):
    """[(file, footer metadata)] over the parquet files under ``path``."""
    import pyarrow.parquet as pq

    check = only_suffixes((".parquet",), "rowgroup_parquet reads .parquet files only")
    files = list_files(path, check, what="parquet ")
    return [(f, pq.ParquetFile(f).metadata) for f in files]


def pick_row_groups(
    path: str, rg_ratio: float, seed: int = 42
) -> tuple[list[tuple[str, int]], int, int]:
    """Deterministic hash-pick of ``rg_ratio`` of all row groups (the
    shared run pick, one row group per unit).

    Returns (picked [(file, row_group_idx)], picked_rows, total_rows) —
    row counts are EXACT from footer metadata (the reference needs a
    whole-job counter side channel for its totals; a columnar format
    carries them in the footer for free). Never returns an empty pick.
    """
    by_file = [
        (f, [(rg, meta.row_group(rg).num_rows) for rg in range(meta.num_row_groups)])
        for f, meta in _footers(path)
    ]
    return unit_source.pick_runs(by_file, rg_ratio, lambda f, rg: f"{seed}:{f}#rg{rg}")


def _read_row_group(path: str, rg: int):
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).iter_batches(row_groups=[rg])


def read_parquet_rowgroup_sampled(
    spark,
    path: str,
    rg_ratio: float,
    seed: int = 42,
    row_config: SamplingConfig | None = None,
) -> SampledFrame:
    """Row-group cluster sample of a parquet path -> SampledFrame.

    The achieved ratio is EXACT (footer row counts), so HT estimators
    scale by the true inclusion probability — no observation pass.
    ``row_config`` adds a within-group Bernoulli row stage (two-stage
    cluster sampling in one call): keep the coarse skip ratio here and
    the fine ratio in ``row_config``, exactly as for file-level sampling.
    """
    import pyarrow as pa

    schema = parquet_schema(spark, path)
    picked, picked_rows, total_rows = pick_row_groups(path, rg_ratio, seed)
    achieved = picked_rows / total_rows if total_rows else 1.0
    df = scan_units(spark, picked, pa.field("rg", pa.int64()), _read_row_group, schema)
    return compose_cluster_row_stage(df, achieved, seed, row_config)


def rowgroup_id_ranges(
    path: str, rg_ratio: float, id_col: str, seed: int = 42, band_size: int = 1
) -> tuple[list[tuple], int, int]:
    """Hash-pick row groups and return their (min, max) ranges of ``id_col``
    from footer statistics, plus exact (picked_rows, total_rows).

    ``band_size`` > 1 picks contiguous BANDS of that many row groups per
    draw and merges each band's range into ONE filter arm: at 10^5+ row
    groups a per-group OR-of-BETWEEN predicate would dwarf the plan, while
    bands keep arm count = picked_bands (and a coarser-cluster estimator —
    same algebra, bigger clusters; keep bands small relative to the
    corpus's id-locality). band_size=1 hashes per row group, identical to
    the original pick.

    Raises if the picked ranges overlap UNPICKED ones — the pruned read
    would then return rows outside the sample (or the filter would not
    align with row-group boundaries), silently breaking the estimator.
    Requires data written in ``id_col`` order (ingest ids, event time —
    the common case for append-only corpora).
    """
    if band_size < 1:
        raise ValueError(f"band_size must be >= 1, got {band_size}")
    # per-file ordered row groups, with their id_col (min, max) stats
    by_file = []
    stats: dict[tuple[str, int], tuple[object, object]] = {}
    for f, meta in _footers(path):
        names = meta.schema.names
        if id_col not in names:
            raise ValueError(f"{id_col!r} not in {f} (columns: {names})")
        col_idx = names.index(id_col)
        units = []
        for rg in range(meta.num_row_groups):
            rg_meta = meta.row_group(rg)
            st = rg_meta.column(col_idx).statistics
            if st is None or st.min is None or st.max is None:
                raise ValueError(f"no min/max stats for {id_col!r} in {f} rg{rg}")
            stats[(f, rg)] = (st.min, st.max)
            units.append((rg, rg_meta.num_rows))
        by_file.append((f, units))

    # a band is a run of band_size row groups; its merged (lo, hi) is one
    # filter arm (band == row group, keyed per row group, when 1)
    def _band_key(f: str, idx: int) -> str:
        return f"{seed}:{f}#rg{idx}" if band_size == 1 else f"{seed}:{f}#band{idx}x{band_size}"

    picked_units, picked_rows, total_rows = unit_source.pick_runs(
        by_file, rg_ratio, _band_key, band_size
    )
    picked_set = set(picked_units)
    bands = []
    for f, j, rgs, _ in unit_runs(by_file, band_size):
        lo, hi = min(stats[(f, rg)][0] for rg in rgs), max(stats[(f, rg)][1] for rg in rgs)
        bands.append((f, j, lo, hi, (f, rgs[0]) in picked_set))
    picked = [(lo, hi) for _, _, lo, hi, on in bands if on]
    for f, idx, lo, hi, on in bands:
        if on:
            continue
        for plo, phi in picked:
            if not (hi < plo or lo > phi):
                raise ValueError(
                    f"row-group {id_col!r} ranges overlap ({f} band {idx} "
                    f"[{lo},{hi}] vs picked [{plo},{phi}]); data must be "
                    f"written in {id_col} order for pruned sampling — use "
                    "read_parquet_rowgroup_sampled (direct reader) instead"
                )
    return picked, picked_rows, total_rows


def read_parquet_rowgroup_pruned(
    spark,
    path: str,
    rg_ratio: float,
    id_col: str,
    seed: int = 42,
    band_size: int = 1,
    row_config: SamplingConfig | None = None,
) -> SampledFrame:
    """Row-group sampling expressed as footer-stats PRUNING on the native
    JVM parquet scan — the fastest skip-without-read path.

    The hash-picked row groups' (min, max) ``id_col`` ranges become an
    OR-of-BETWEEN filter that Catalyst pushes into the parquet source
    (``PushedFilters`` in the plan); parquet row-group statistics then
    eliminate every unpicked row group WITHOUT reading its pages. Unlike
    the ``mapInArrow`` read of ``read_parquet_rowgroup_sampled`` (a
    Python worker decodes each picked row group) this keeps the whole
    scan JVM-side and vectorized — measured the only variant that beats
    the ``df.sample`` scan floor on a page-cached local disk
    (docs/SCALE.md).

    Scale note: one BETWEEN arm per picked row group is fine up to ~10^3
    arms; at 100 TB pass ``band_size`` > 1 to pick contiguous row-group
    BANDS (coarser clusters, same estimator, one arm per band) so the
    predicate stays small, or use the direct reader whose picked row
    groups are never a predicate. ``row_config`` adds the within-group
    Bernoulli stage (two-stage design in one call).
    """
    from pyspark.sql import functions as F

    ranges, picked_rows, total_rows = rowgroup_id_ranges(
        path, rg_ratio, id_col, seed, band_size=band_size
    )
    achieved = picked_rows / total_rows if total_rows else 1.0
    df = read_parquet(spark, path)
    cond = None
    for lo, hi in ranges:
        arm = F.col(id_col).between(F.lit(lo), F.lit(hi))
        cond = arm if cond is None else (cond | arm)
    return compose_cluster_row_stage(df.where(cond), achieved, seed, row_config)
