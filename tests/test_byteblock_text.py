"""Byte-block text sampling: the partition-boundary algebra (no line lost
or duplicated at any block seam), exact agreement with a pure-Python
ownership oracle, two-stage composition, and the compressed-input guard."""

import pytest

from random_sampling_based_approximate_mapreduce_spark.sampling.config import SamplingConfig
from random_sampling_based_approximate_mapreduce_spark.sources.byteblock_text import (
    BYTEBLOCK,
    _accept_block,
    pick_blocks,
    read_text_byteblock_sampled,
)


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    """Two files, ragged line lengths (0..40 chars), sizes not aligned to
    any block size — maximal boundary abuse."""
    import random

    d = tmp_path_factory.mktemp("bbtext")
    rnd = random.Random(7)
    files = []
    for i in range(2):
        lines = [f"f{i}-line-{j:05d}-" + "x" * rnd.randint(0, 40) for j in range(2000)]
        p = d / f"part-{i}.txt"
        p.write_text("\n".join(lines) + "\n")
        files.append(str(p))
    return str(d), files


def _expected_lines(files, block_bytes, seed, ratio):
    """Ownership oracle: a line belongs to the block of its FIRST byte
    under the reader pairing (followers discard their first line, so a
    line starting exactly at a boundary belongs to the PRECEDING block):
    block 0 for offset 0, else ceil(s / bb) - 1."""
    out = []
    for f in files:
        pos = 0
        with open(f, "rb") as fh:
            for raw in fh:
                s = pos
                pos += len(raw)
                blk = 0 if s == 0 else (s - 1) // block_bytes
                if _accept_block(f, blk, seed, ratio):
                    out.append(raw.decode().rstrip("\r\n"))
    return sorted(out)


class TestByteBlockText:
    def test_ratio_one_is_the_exact_file(self, spark, corpus):
        d, files = corpus
        # 256-byte blocks: hundreds of seams per file
        sf = read_text_byteblock_sampled(spark, d, 1.0, block_bytes=256)
        got = sorted(r["value"] for r in sf.df.collect())
        want = sorted(ln for f in files for ln in open(f).read().splitlines())
        assert got == want

    def test_sample_equals_ownership_oracle(self, spark, corpus):
        d, files = corpus
        for ratio, bb, seed in ((0.4, 512, 9), (0.15, 1024, 42), (0.7, 300, 3)):
            sf = read_text_byteblock_sampled(spark, d, ratio, block_bytes=bb, seed=seed)
            got = sorted(r["value"] for r in sf.df.collect())
            assert got == _expected_lines(files, bb, seed, ratio), (ratio, bb, seed)

    def test_partitions_are_only_picked_blocks(self, spark, corpus):
        d, _ = corpus
        picked, picked_bytes, total_bytes = pick_blocks(d, 0.4, 512, seed=9)
        assert 0 < picked_bytes < total_bytes
        sf = read_text_byteblock_sampled(spark, d, 0.4, block_bytes=512, seed=9)
        # the scan rows cover exactly the picked blocks, in pick order —
        # skipped blocks never become work — over at most
        # defaultParallelism tasks
        units = [(f, start // 512) for f, start, _ in picked]
        batches = BYTEBLOCK.batches(units, unit_bytes=512)
        assert [(f, i) for f, idxs in batches for i in idxs] == units
        tasks = min(len(batches), spark.sparkContext.defaultParallelism)
        assert sf.df.rdd.getNumPartitions() == tasks

    def test_ht_scale_and_two_stage(self, spark, corpus):
        d, _ = corpus
        sf = read_text_byteblock_sampled(spark, d, 0.4, block_bytes=512, seed=9)
        n = sf.df.count()
        est = sf.approx_count(alias="est").collect()[0]["est"]
        assert est == pytest.approx(n / 0.4)
        two = read_text_byteblock_sampled(
            spark, d, 0.4, block_bytes=512, seed=9, row_config=SamplingConfig(ratio=0.5, seed=1)
        )
        assert two.ratio == pytest.approx(0.2)

    def test_never_empty_pick(self, corpus):
        d, _ = corpus
        picked, _, _ = pick_blocks(d, 1e-9, 512, seed=0)
        assert len(picked) == 1

    def test_compressed_input_refused(self, tmp_path):
        import gzip

        p = tmp_path / "x.txt.gz"
        with gzip.open(p, "wt") as fh:
            fh.write("hello\nworld\n")
        with pytest.raises(ValueError, match="compressed"):
            pick_blocks(str(p), 0.5, 512)

    def test_empty_dir_and_bad_ratio(self, tmp_path):
        with pytest.raises(ValueError, match="no files"):
            pick_blocks(str(tmp_path), 0.5)
        # ratio validation on a dir the test OWNS — pointing this at a
        # shared dir like /tmp made the expected error depend on what
        # other files happened to live there (review r10: a stray .zst
        # flipped it to the compressed-input refusal)
        (tmp_path / "a.txt").write_text("x\n")
        with pytest.raises(ValueError, match="ratio"):
            pick_blocks(str(tmp_path), 0.0)


class TestSeamProperties:
    """Hypothesis hammering of the reader pairing WITHOUT Spark: the
    per-batch read function is called directly, one block per batch, so
    hundreds of random (corpus, block size) seam configurations run in
    seconds. Property:
    at ratio 1.0 the union over all block partitions is the file's exact
    line sequence — every line exactly once, any seam placement."""

    def _read_all_blocks(self, path, block_bytes):
        from random_sampling_based_approximate_mapreduce_spark.sources.unit_source import (
            read_units,
        )

        picked, _, _ = BYTEBLOCK.pick(path, 1.0, 42, block_bytes)
        out = []
        for f, i in picked:
            for batch in read_units(BYTEBLOCK, f, [i], block_bytes):
                out.extend(batch.column(0).to_pylist())
        return out

    def test_random_seams_cover_exactly(self, tmp_path):
        import random

        from hypothesis import given, settings
        from hypothesis import strategies as st

        counter = [0]

        @settings(max_examples=150, deadline=None)
        @given(
            seed=st.integers(0, 10**6),
            n_lines=st.integers(0, 60),
            block_bytes=st.integers(1, 64),
        )
        def prop(seed, n_lines, block_bytes):
            rnd = random.Random(seed)
            # ragged lines incl. empty; no trailing-newline variant too
            lines = ["x" * rnd.randint(0, 2 * block_bytes) for _ in range(n_lines)]
            body = "\n".join(lines) + ("\n" if rnd.random() < 0.8 or not lines else "")
            counter[0] += 1
            p = tmp_path / f"prop-{counter[0]}.txt"
            p.write_text(body)
            got = self._read_all_blocks(str(p), block_bytes)
            want = body.splitlines()
            assert got == want, (seed, n_lines, block_bytes)

        prop()
