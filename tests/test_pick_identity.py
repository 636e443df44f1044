"""Seeded picks stay bit-identical across refactors of the byte-skip rungs.

Every cluster pick keys its md5 accept on (seed, file path, unit index),
so a changed lister, run grouping or key string silently redraws every
seeded sample. These literals were recorded once on small fixtures built
here; the fixtures sit under ``tmp_path`` and are addressed by RELATIVE
path (``monkeypatch.chdir``), so the path-keyed picks repeat in any
checkout. Only pick lists are pinned for the compressed rungs whose unit
tables come from real codec output: their picked byte counts depend on
the codec library's exact output, their picks do not.
"""

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from random_sampling_based_approximate_mapreduce_spark.sources import bgzf_text
from random_sampling_based_approximate_mapreduce_spark.sources import byteblock_text
from random_sampling_based_approximate_mapreduce_spark.sources.bzip2_block_text import (
    pick_ranges,
)
from random_sampling_based_approximate_mapreduce_spark.sources.rowgroup_parquet import (
    pick_row_groups,
    rowgroup_id_ranges,
)
from random_sampling_based_approximate_mapreduce_spark.sources.zstd_seekable_text import (
    pick_frames,
    write_seekable_zstd,
)


def _text(i: int, n: int) -> bytes:
    return b"".join(f"f{i} line {j:04d} {'x' * (j % 23)}\n".encode() for j in range(n))


@pytest.fixture
def fixtures(tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    for d in ("bb", "bz", "zs", "gz", "pq"):
        (tmp_path / d).mkdir()
    for i in range(2):
        (tmp_path / "bb" / f"part-{i}.txt").write_bytes(_text(i, 120))
        # the range pick reads file sizes only, so fixed-size payloads
        # pin it without depending on the bzip2 library's output
        (tmp_path / "bz" / f"part-{i}.bz2").write_bytes(bytes(3000 + 700 * i))
        write_seekable_zstd(_text(i, 200), str(tmp_path / "zs" / f"part-{i}.zst"), frame_bytes=512)
        bgzf_text.write_bgzf(_text(i, 200), str(tmp_path / "gz" / f"part-{i}.gz"), block_bytes=512)
    ids = pa.array(range(400), pa.int64())
    pq.write_table(pa.table({"id": ids}), str(tmp_path / "pq" / "a.parquet"), row_group_size=25)
    pq.write_table(
        pa.table({"id": pa.array(range(400, 700), pa.int64())}),
        str(tmp_path / "pq" / "b.parquet"),
        row_group_size=25,
    )
    (tmp_path / "pq" / "_SUCCESS").write_bytes(b"")


def test_byteblock_pick_blocks(fixtures):
    assert byteblock_text.pick_blocks("bb", 0.3, 512, seed=7) == BYTEBLOCK


def test_bzip2_pick_ranges(fixtures):
    assert pick_ranges("bz", 0.3, 256, 7) == BZIP2


def test_bgzf_pick_blocks(fixtures):
    assert bgzf_text.pick_blocks("gz", 0.3, 7)[0] == BGZF_1
    assert bgzf_text.pick_blocks("gz", 0.3, 7, run_blocks=4)[0] == BGZF_4


def test_zstd_pick_frames(fixtures):
    assert pick_frames("zs", 0.3, 7)[0] == ZSTD_1
    assert pick_frames("zs", 0.3, 7, run_frames=4)[0] == ZSTD_4


def test_pick_row_groups(fixtures):
    assert pick_row_groups("pq", 0.3, seed=7) == ROW_GROUPS


def test_rowgroup_id_ranges(fixtures):
    assert rowgroup_id_ranges("pq", 0.3, "id", seed=7) == ID_RANGES_1
    assert rowgroup_id_ranges("pq", 0.3, "id", seed=7, band_size=3) == ID_RANGES_3


# recorded once; a refactor that changes any of these redraws seeded samples
BYTEBLOCK = (
    [
        ("bb/part-0.txt", 0, 512),
        ("bb/part-0.txt", 512, 1024),
        ("bb/part-1.txt", 1024, 1536),
        ("bb/part-1.txt", 1536, 2048),
        ("bb/part-1.txt", 2048, 2560),
    ],
    2560,
    5910,
)
BZIP2 = (
    [
        ("bz/part-0.bz2", 512, 768),
        ("bz/part-0.bz2", 2816, 3000),
        ("bz/part-1.bz2", 768, 1024),
        ("bz/part-1.bz2", 1280, 1536),
        ("bz/part-1.bz2", 1792, 2048),
        ("bz/part-1.bz2", 2048, 2304),
    ],
    1464,
    6700,
)
BGZF_1 = [("gz/part-0.gz", 3), ("gz/part-0.gz", 9), ("gz/part-1.gz", 1), ("gz/part-1.gz", 6), ("gz/part-1.gz", 8)]
BGZF_4 = [("gz/part-0.gz", 8), ("gz/part-0.gz", 9)]
ZSTD_1 = [
    ("zs/part-0.zst", 2),
    ("zs/part-0.zst", 4),
    ("zs/part-0.zst", 8),
    ("zs/part-1.zst", 3),
    ("zs/part-1.zst", 6),
    ("zs/part-1.zst", 7),
]
ZSTD_4 = [("zs/part-0.zst", 8), ("zs/part-0.zst", 9), ("zs/part-1.zst", 8), ("zs/part-1.zst", 9)]
ROW_GROUPS = (
    [
        ("pq/a.parquet", 0),
        ("pq/a.parquet", 3),
        ("pq/a.parquet", 11),
        ("pq/a.parquet", 12),
        ("pq/a.parquet", 15),
        ("pq/b.parquet", 4),
    ],
    150,
    700,
)
ID_RANGES_1 = ([(0, 24), (75, 99), (275, 299), (300, 324), (375, 399), (500, 524)], 150, 700)
ID_RANGES_3 = ([(0, 74), (75, 149), (400, 474)], 225, 700)
