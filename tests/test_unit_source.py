"""The shared unit-indexed source (sources/unit_source.py) and the shared
codec layout builder (plans/_base.codec_layout): one listing rule for
every rung, and layouts whose rebuilds are byte- and name-identical."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from random_sampling_based_approximate_mapreduce_spark.sources import tables
from random_sampling_based_approximate_mapreduce_spark.sources.rowgroup_parquet import (
    pick_row_groups,
)
from random_sampling_based_approximate_mapreduce_spark.sources.sampled_text_source import (
    SampledTextReader,
)
from random_sampling_based_approximate_mapreduce_spark.sources.unit_source import list_files


class TestListFiles:
    def test_dir_and_glob_agree_next_to_markers(self, tmp_path):
        for name in ("b.txt", "a.txt", "_SUCCESS", ".a.txt.crc"):
            (tmp_path / name).write_text("x\n")
        (tmp_path / "sub").mkdir()
        want = [str(tmp_path / "a.txt"), str(tmp_path / "b.txt")]
        assert list_files(str(tmp_path)) == want
        assert list_files(str(tmp_path / "*")) == want

    def test_glob_expands_matched_directories(self, tmp_path):
        """A glob's matched directories list their files one level down
        (Hive-style ``date=*`` partitions), markers and hidden names
        excluded; a matched ``_``-prefixed directory is not data."""
        for d in ("date=1", "date=2", "_temporary"):
            (tmp_path / d).mkdir()
            (tmp_path / d / "part-0.txt").write_text("x\n")
            (tmp_path / d / "_SUCCESS").write_text("")
        (tmp_path / "date=2" / "nested").mkdir()
        (tmp_path / "top.txt").write_text("x\n")
        want = [str(tmp_path / "date=1" / "part-0.txt"), str(tmp_path / "date=2" / "part-0.txt")]
        assert list_files(str(tmp_path / "date=*")) == want
        assert list_files(str(tmp_path / "*")) == want + [str(tmp_path / "top.txt")]
        reader = SampledTextReader({"path": str(tmp_path / "date=*"), "ratio": "1.0"})
        assert [p.path for p in reader.partitions()] == want

    def test_named_file_lists_itself(self, tmp_path):
        p = tmp_path / "_odd[1].txt"
        p.write_text("x\n")
        assert list_files(str(p)) == [str(p)]

    def test_missing_path_fails_as_no_files(self, tmp_path):
        with pytest.raises(ValueError, match="no files under"):
            list_files(str(tmp_path / "nope"))

    def test_sidecars_and_check(self, tmp_path):
        (tmp_path / "a.gz").write_bytes(b"x")
        (tmp_path / "a.gz.gzi").write_bytes(b"x")
        assert list_files(str(tmp_path), sidecar=".gzi") == [str(tmp_path / "a.gz")]

        def refuse(files):
            raise ValueError(f"wrong codec: {files}")

        with pytest.raises(ValueError, match="wrong codec"):
            list_files(str(tmp_path), refuse)


def test_parquet_glob_next_to_success_marker(tmp_path):
    """The glob form lists what the directory form lists: a ``_SUCCESS``
    marker is not a (zero-byte, unreadable) parquet file."""
    for i in range(2):
        pq.write_table(
            pa.table({"id": pa.array(range(i * 100, i * 100 + 100), pa.int64())}),
            str(tmp_path / f"part-{i}.parquet"),
            row_group_size=10,
        )
    (tmp_path / "_SUCCESS").write_bytes(b"")
    via_dir = pick_row_groups(str(tmp_path), 0.5, 1)
    assert pick_row_groups(str(tmp_path / "*"), 0.5, 1) == via_dir
    assert via_dir[2] == 200


def test_sampled_text_missing_path_fails_at_planning(tmp_path):
    reader = SampledTextReader({"path": str(tmp_path / "nope")})
    with pytest.raises(ValueError, match="no files under"):
        reader.partitions()


def _data_files(d):
    """name -> bytes of the visible files (hidden checksum sidecars are
    Hadoop's, never listed as data)."""
    out = {}
    for name in sorted(os.listdir(d)):
        if name.startswith(("_", ".")):
            continue
        with open(os.path.join(d, name), "rb") as fh:
            out[name] = fh.read()
    return out


@pytest.mark.parametrize("layout", ["_bz2_text_layout", "_zstd_text_layout", "_multifile_text_layout"])
def test_documents_layout_rebuild_is_identical(spark, sf_dir, tmp_path, monkeypatch, layout):
    """Two builds of a documents-text layout into two directories give
    the same file names and bytes, so the path-keyed picks of
    word_count_{bzip2,zstd,gzip,byteblock,file}_sampled repeat across
    rebuilds."""
    from random_sampling_based_approximate_mapreduce_spark.plans import relational

    builds = []

    def build_here(src, write_fn):
        d = str(tmp_path / f"build{len(builds)}")
        write_fn(d)
        builds.append(d)
        return d

    monkeypatch.setattr(tables, "ensure_layout", build_here)
    for _ in range(2):
        getattr(relational, layout)(spark, sf_dir)
    first, second = (_data_files(d) for d in builds)
    assert list(first) == list(second)
    assert len(first) >= 2 and all(name.startswith("part-0000") for name in first)
    assert first == second


def test_rungs_read_without_python_datasource(spark, tmp_path, monkeypatch):
    """Every byte-skip rung picks once, on the driver, and reads its
    pick through ``mapInArrow`` over a local relation of picked units:
    no Python DataSource scan, no second pick, and rows in pick order."""
    import bz2

    from random_sampling_based_approximate_mapreduce_spark.sources import unit_source
    from random_sampling_based_approximate_mapreduce_spark.sources.bgzf_text import (
        read_text_bgzf_sampled,
        write_bgzf,
    )
    from random_sampling_based_approximate_mapreduce_spark.sources.byteblock_text import (
        read_text_byteblock_sampled,
    )
    from random_sampling_based_approximate_mapreduce_spark.sources.bzip2_block_text import (
        read_text_bzip2_sampled,
    )
    from random_sampling_based_approximate_mapreduce_spark.sources.rowgroup_parquet import (
        pick_row_groups,
        read_parquet_rowgroup_sampled,
    )
    from random_sampling_based_approximate_mapreduce_spark.sources.zstd_seekable_text import (
        read_text_zstd_sampled,
        write_seekable_zstd,
    )

    # one bzip2 block (~80 KB of text): ranges after the first own no
    # block, so that rung reads at ratio 1 to be never empty
    lines = [f"line-{j:05d}-" + "x" * (j % 41) for j in range(3000)]
    data = ("\n".join(lines) + "\n").encode()
    for d in ("txt", "bz2", "zst", "bgzf"):
        (tmp_path / d).mkdir()
    text = tmp_path / "txt" / "part-0.txt"
    text.write_bytes(data)
    (tmp_path / "bz2" / "part-0.txt.bz2").write_bytes(bz2.compress(data, 1))
    write_seekable_zstd(data, str(tmp_path / "zst" / "part-0.txt.zst"), frame_bytes=8192)
    write_bgzf(data, str(tmp_path / "bgzf" / "part-0.txt.gz"), block_bytes=4096)
    rg_path = str(tmp_path / "lines.parquet")
    pq.write_table(pa.table({"id": list(range(len(lines))), "line": lines}), rg_path, row_group_size=300)

    t = str(tmp_path)
    reads = {
        "byteblock": lambda: read_text_byteblock_sampled(spark, str(text), 1.0, block_bytes=256),
        "bzip2": lambda: read_text_bzip2_sampled(spark, f"{t}/bz2", 1.0, range_bytes=2048),
        "zstd": lambda: read_text_zstd_sampled(spark, f"{t}/zst", 0.5),
        "bgzf": lambda: read_text_bgzf_sampled(spark, f"{t}/bgzf", 1.0, batch_bytes=2048),
        "rowgroup": lambda: read_parquet_rowgroup_sampled(spark, rg_path, 0.5),
    }
    picks = []
    real_pick = unit_source.pick_runs

    def counting_pick(*args, **kwargs):
        picks.append(args)
        return real_pick(*args, **kwargs)

    monkeypatch.setattr(unit_source, "pick_runs", counting_pick)
    parts = {}
    for name, read in reads.items():
        picks.clear()
        df = read().df
        rows = df.collect()
        assert rows and len(picks) == 1, (name, len(picks))
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "MapInArrow" in plan and "BatchScan" not in plan, (name, plan)
        if name in ("byteblock", "bgzf"):
            # ratio 1 in pick order: the file's lines, in order, across
            # every partition (bgzf's small batches make several)
            assert [r.value for r in rows] == open(text).read().splitlines(), name
        parts[name] = df.rdd.getNumPartitions()
    assert parts["bgzf"] > 1
    # one scan row per picked row group, sliced over at most
    # defaultParallelism partitions; which groups are picked hashes the
    # file's path, so the count is read off this run's own pick
    picked, _, _ = pick_row_groups(rg_path, 0.5)
    assert parts["rowgroup"] == min(len(picked), spark.sparkContext.defaultParallelism)
