"""One unit-indexed sampled source under every byte-skip rung.

Each rung cuts a file into ordered UNITS — raw byte blocks, compressed
bzip2 ranges, seekable-zstd frames, BGZF blocks, parquet row groups —
and samples whole units as clusters (the block is the sampling unit).
What every rung shares lives here once: the file lister, the run pick
over ``sampling.deterministic.pick_units``, the per-file task batcher,
the Spark source of the text rungs and the ``suggest_*`` cluster rule.
A text codec describes itself with a ``TextRung``: its unit table, its
run reader (decode + ``seam_text`` line ownership) and its key tags.
"""

from __future__ import annotations

import glob as _glob
import os
from collections.abc import Sequence
from dataclasses import dataclass
from typing import Callable

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from ..sampling.config import SamplingConfig
from ..sampling.sampled_frame import SampledFrame, compose_cluster_row_stage
from .seam_text import SpanEntry

DEFAULT_BATCH_BYTES = 4 << 20
_BATCH_ROWS = 8192
_TABLE_CACHE_CAP = 256  # unit tables kept per worker


def list_files(path: str, check=None, what: str = "", sidecar: str = "") -> list[str]:
    """``path`` -> its sorted data files. A directory lists its files,
    an existing file lists itself, anything else is a glob whose matched
    directories expand one level, like a named directory (Hive-style
    ``logs/date=*``). ``_``/``.`` names (markers, checksums, Spark's
    ``_temporary``) and ``sidecar`` files (indexes beside a data file)
    are not data unless named directly. Matching nothing
    fails here as ``no {what}files under``; ``check(files)`` then
    refuses another codec's files."""

    def is_data(f: str) -> bool:
        name = os.path.basename(f)
        return not (name.startswith(("_", ".")) or sidecar and f.endswith(sidecar))

    if os.path.isfile(path):
        found = [path]
    else:
        matched = [path] if os.path.isdir(path) else filter(is_data, _glob.glob(path))
        found = []
        for m in matched:
            found.extend(_glob.glob(os.path.join(m, "*")) if os.path.isdir(m) else [m])
        found = sorted(f for f in found if os.path.isfile(f) and is_data(f))
    if not found:
        raise ValueError(f"no {what}files under {path}")
    if check is not None:
        check(found)
    return found


def only_suffixes(suffixes: tuple[str, ...], refusal: str):
    """A ``list_files`` check refusing files without one of ``suffixes``."""

    def check(files: list[str]) -> None:
        bad = [f for f in files if not f.endswith(suffixes)]
        if bad:
            raise ValueError(f"{refusal} (got {bad[:3]})")

    return check


def remember(cache: dict, key, value):
    """Store a unit table in a per-worker cache (Spark reuses Python
    workers; every task of a file needs its table), evicting the oldest
    entry past ``_TABLE_CACHE_CAP`` — not clear(), which wipes every hot
    entry."""
    while len(cache) > _TABLE_CACHE_CAP:
        cache.pop(next(iter(cache)))
    cache[key] = value
    return value


def convert_parts(src_dir: str, dst_dir: str, suffix: str, write) -> list[str]:
    """Convert every plain-text part under ``src_dir`` to
    ``dst_dir/<name><suffix>`` by ``write(src_fh, dst_path)``, one
    streaming pass per file (so canonical names carry over), then mark
    ``_SUCCESS`` — the published-check of ``ensure_layout``."""
    os.makedirs(dst_dir, exist_ok=True)
    out = []
    for p in list_files(src_dir):
        dst = os.path.join(dst_dir, os.path.basename(p) + suffix)
        with open(p, "rb") as fh:
            write(fh, dst)
        out.append(dst)
    with open(os.path.join(dst_dir, "_SUCCESS"), "w"):
        pass
    return out


class ByteSpans(Sequence):
    """A file cut into ``unit_bytes`` spans (the last may be short; an
    empty file is one empty span) as a lazy unit table whose compressed
    and decompressed offsets coincide."""

    def __init__(self, path: str, unit_bytes: int):
        if unit_bytes < 1:
            raise ValueError(f"unit bytes must be >= 1, got {unit_bytes}")
        self.size = os.path.getsize(path)
        self.unit_bytes = unit_bytes

    def __len__(self) -> int:
        return max(1, -(-self.size // self.unit_bytes))

    def __getitem__(self, i: int) -> SpanEntry:
        if not -len(self) <= i < len(self):
            raise IndexError(i)
        start = (i % len(self)) * self.unit_bytes
        n = min(self.size, start + self.unit_bytes) - start
        return SpanEntry(start, n, start, n)


@dataclass(frozen=True)
class TextRung:
    """One text codec under the shared source. ``table(path,
    unit_bytes)`` lists a file's units; ``read_run(path, table, start,
    stop)`` returns the lines OWNED by units ``[start, stop)``; pick keys
    are ``{seed}:{path}#{unit_tag}{idx}`` per unit and
    ``{seed}:{path}#{run_tag}{K}:{j}`` per run of K > 1. ``unit_option``
    / ``run_option`` name the DataSource knob; ``batched`` rungs pack
    picks into ``batch_bytes`` tasks (else one unit per task);
    ``pick_empty`` keeps data-less units as per-unit candidates."""

    name: str
    table: Callable[[str, int], Sequence[SpanEntry]]
    read_run: Callable[[str, Sequence[SpanEntry], int, int], list[str]]
    check: Callable[[list[str]], None]
    unit_tag: str
    run_tag: str = ""
    unit_option: str = ""
    default_unit_bytes: int = 0
    run_option: str = ""
    batched: bool = False
    pick_empty: bool = True
    sidecar: str = ""

    def files(self, path: str) -> list[str]:
        return list_files(path, self.check, sidecar=self.sidecar)

    def pick(self, path: str, ratio: float, seed: int, unit_bytes: int = 0, run: int = 1):
        """-> (picked [(file, unit_idx)], picked_bytes, total_bytes) over
        compressed bytes; runs of ``run`` adjacent data units are the
        clusters. Never empty."""
        if run < 1:
            raise ValueError(f"{self.run_option} must be >= 1, got {run}")
        tables = [(f, self.table(f, unit_bytes)) for f in self.files(path)]
        by_file = [(f, [(i, e.c_size) for i, e in enumerate(t)]) for f, t in tables]
        if run > 1 or not self.pick_empty:
            data = [(f, [(i, e.c_size) for i, e in enumerate(t) if e.d_size]) for f, t in tables]
            if any(units for _, units in data):  # all empty: keep one unit
                by_file = data
        tag = self.unit_tag if run == 1 else f"{self.run_tag}{run}:"
        return pick_runs(by_file, ratio, lambda f, j: f"{seed}:{f}#{tag}{j}", run)

    def batches(self, picked, batch_bytes: int = DEFAULT_BATCH_BYTES, unit_bytes: int = 0):
        return batch_units(picked, lambda f, i: self.table(f, unit_bytes)[i].c_size, batch_bytes)


def unit_runs(by_file, run: int = 1) -> list[tuple[str, int, list[int], int]]:
    """[(path, [(idx, weight)])] -> [(path, j, member idxs, weight)]:
    consecutive groups of ``run`` units per file, ``j`` the run's index
    in its file (the unit's own index when ``run`` is 1)."""
    out = []
    for f, units in by_file:
        for s in range(0, len(units), run):
            chunk = units[s : s + run]
            j = chunk[0][0] if run == 1 else s // run
            out.append((f, j, [i for i, _ in chunk], sum(w for _, w in chunk)))
    return out


def pick_runs(by_file, ratio: float, key_of, run: int = 1):
    """The run pick: each run accepted by ``pick_units`` on
    ``key_of(path, j)`` -> (picked [(path, idx)] per member unit,
    picked weight, total weight). Every unit keeps inclusion
    probability ``ratio``; the run is the cluster."""
    from ..sampling.deterministic import pick_units

    runs = unit_runs(by_file, run)
    members = {(f, j): idxs for f, j, idxs, _ in runs}
    picked, pw, tw = pick_units([(f, j, w) for f, j, _, w in runs], ratio, key_of)
    return [(f, i) for f, j in picked for i in members[(f, j)]], pw, tw


def pick_spans(rung: TextRung, path: str, ratio: float, unit_bytes: int, seed: int):
    """A fixed-span rung's pick as (picked [(file, start, end)],
    picked_bytes, total_bytes); the reader aligns spans to lines."""
    picked, picked_bytes, total = rung.pick(path, ratio, seed, unit_bytes)
    size = {f: os.path.getsize(f) for f in {f for f, _ in picked}}
    spans = [(f, i * unit_bytes, min(size[f], (i + 1) * unit_bytes)) for f, i in picked]
    return spans, picked_bytes, total


def batch_units(picked, size_of, batch_bytes: int = DEFAULT_BATCH_BYTES) -> list[tuple[str, list[int]]]:
    """Picked (file, idx) units packed into per-task batches of
    ~``batch_bytes`` (``size_of(file, idx)`` each; a batch overshoots by
    at most its last unit), never crossing a file. Scheduling only: the
    sample is the pick's."""
    if batch_bytes < 1:
        raise ValueError(f"batch_bytes must be >= 1, got {batch_bytes}")
    out: list[tuple[str, list[int]]] = []
    cur_bytes = 0
    for f, i in picked:
        if not out or f != out[-1][0] or cur_bytes >= batch_bytes:
            out.append((f, []))
            cur_bytes = 0
        out[-1][1].append(i)
        cur_bytes += size_of(f, i)
    return out


def contiguous_runs(idxs: list[int]) -> list[tuple[int, int]]:
    """Ascending unit indices -> maximal [start, stop) runs, each read
    in one pass (per-unit reads would decode every interior successor
    twice, once more for its boundary line)."""
    runs: list[tuple[int, int]] = []
    for i in idxs:
        if runs and i == runs[-1][1]:
            runs[-1] = (runs[-1][0], i + 1)
        else:
            runs.append((i, i + 1))
    return runs


class UnitBatch(InputPartition):
    """One task: picked units ``idxs`` of ``path`` within span
    ``[start, end)`` (the whole span when ``idxs`` is omitted)."""

    def __init__(self, path: str, start: int, end: int, idxs: list[int] | None = None):
        self.path, self.start, self.end = path, start, end
        self.idxs = list(range(start, end)) if idxs is None else idxs


class UnitTextReader(DataSourceReader):
    """The reader of every text rung (a codec subclass sets ``rung``).
    Options: path, ratio, seed, the rung's knob, and batch_bytes on
    batched rungs."""

    rung: TextRung

    def __init__(self, options):
        rung = self.rung
        self.path = options.get("path")
        if not self.path:
            raise ValueError(f"{rung.name} requires .option('path', ...)")
        self.ratio = float(options.get("ratio", "1.0"))
        self.seed = int(options.get("seed", "42"))

        def knob(name: str, default: int) -> int:
            return int(options.get(name, str(default))) if name else default

        self.unit_bytes = knob(rung.unit_option, rung.default_unit_bytes)
        self.run = knob(rung.run_option, 1)
        self.batch_bytes = knob("batch_bytes", DEFAULT_BATCH_BYTES) if rung.batched else 0

    def partitions(self):
        rung = self.rung
        picked, _, _ = rung.pick(self.path, self.ratio, self.seed, self.unit_bytes, self.run)
        if not rung.batched:
            return [UnitBatch(f, i, i + 1) for f, i in picked]
        batches = rung.batches(picked, self.batch_bytes, self.unit_bytes)
        return [UnitBatch(f, idxs[0], idxs[-1] + 1, idxs) for f, idxs in batches]

    def read(self, partition: UnitBatch):
        import pyarrow as pa

        table = self.rung.table(partition.path, self.unit_bytes)
        buf: list[str] = []
        for start, stop in contiguous_runs(partition.idxs):
            buf.extend(self.rung.read_run(partition.path, table, start, stop))
            while len(buf) >= _BATCH_ROWS:
                chunk, buf = buf[:_BATCH_ROWS], buf[_BATCH_ROWS:]
                yield pa.record_batch([pa.array(chunk, pa.string())], names=["value"])
        if buf:
            yield pa.record_batch([pa.array(buf, pa.string())], names=["value"])


class UnitTextDataSource(DataSource):
    """The DataSource of every text rung: schema ``value string``, one
    row per line like ``spark.read.text``; a codec subclass sets
    ``reader_class``, whose rung names the format."""

    reader_class: type[UnitTextReader]

    @classmethod
    def name(cls) -> str:
        return cls.reader_class.rung.name

    def schema(self) -> str:
        return "value string"

    def reader(self, schema) -> UnitTextReader:
        return self.reader_class(self.options)


def read_sampled(
    spark,
    source: type[UnitTextDataSource],
    path: str,
    ratio: float,
    seed: int,
    row_config: SamplingConfig | None,
    **knobs: int,
) -> SampledFrame:
    """Unit cluster sample through ``source`` -> SampledFrame. Every
    line's inclusion probability is ``ratio``, so estimators HT-scale by
    1/ratio; ``row_config`` composes a within-cluster Bernoulli stage.
    The pick also runs here, driver-side, so a bad path or knob fails
    with a clear error instead of an executor stack trace."""
    spark.dataSource.register(source)
    options = {"path": path, "ratio": str(ratio), "seed": str(seed)}
    options.update((k, str(v)) for k, v in knobs.items())
    source.reader_class(options).partitions()
    df = spark.read.format(source.name()).options(**options).load()
    return compose_cluster_row_stage(df, ratio, seed, row_config)


def cluster_bytes(total_bytes: int, ratio: float, floor: int, cap: int, target_picks: int = 20) -> int:
    """The cluster-size rule behind every ``suggest_*`` knob:
    ``clamp(total * ratio / target_picks, floor, cap)`` — ~20 expected
    picked clusters, floored where sequential I/O amortizes, capped where
    pick quantization outweighs streaming gains. The best measured cell
    at every (codec, ratio) of the round-15 grids sits on it
    (docs/SCALE.md round-15 addendum; docs/bench/LOG_BGZF_RUNS_GRID_x1000
    .json and LOG_BZIP2_RANGE_GRID_x1000.json). Advisory only: the unit
    index is part of the pick key, so applying it by default would
    silently change which lines a seeded sample returns."""
    if not 0.0 < ratio <= 1.0:
        raise ValueError(f"ratio must be in (0, 1], got {ratio}")
    if target_picks < 1:
        raise ValueError(f"target_picks must be >= 1, got {target_picks}")
    if total_bytes < 1:
        raise ValueError(f"total bytes must be >= 1, got {total_bytes}")
    return int(max(floor, min(cap, total_bytes * ratio / target_picks)))
