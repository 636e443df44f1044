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


@pytest.mark.parametrize("layout", ["_bz2_text_layout", "_zstd_text_layout"])
def test_documents_layout_rebuild_is_identical(spark, sf_dir, tmp_path, monkeypatch, layout):
    """Two builds of a documents-text layout into two directories give
    the same file names and bytes, so the path-keyed picks of
    word_count_{bzip2,zstd,gzip}_sampled repeat across rebuilds."""
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
