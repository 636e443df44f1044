"""Bzip2-block sampling: independent per-block decode round-trips, the
range-seam ownership algebra (no line lost or duplicated at any seam, for
any range size), exact agreement with a line-ownership oracle, two-stage
composition, and input guards. Mirrors tests/test_byteblock_text.py in
compressed-offset space."""

import bz2
import os

import pytest

from random_sampling_based_approximate_mapreduce_spark.sampling.config import SamplingConfig
from random_sampling_based_approximate_mapreduce_spark.sources.bzip2_block_text import (
    _FIRST_BLOCK_BIT,
    BLOCK_MAGIC,
    BZIP2,
    FOOTER_MAGIC,
    _FileWindow,
    _decode_block_robust,
    _find_magics,
    pick_ranges,
    read_range_lines,
    read_text_bzip2_sampled,
)


def _make_corpus_file(path, n_lines=30000, seed=7, level=1, crlf=False, trailing=True):
    import random

    rnd = random.Random(seed)
    lines = [f"line-{j:06d}-" + "x" * rnd.randint(0, 60) for j in range(n_lines)]
    sep = "\r\n" if crlf else "\n"
    body = sep.join(lines) + (sep if trailing else "")
    with open(path, "wb") as fh:
        fh.write(bz2.compress(body.encode(), level))
    return lines


def _magic_bits(path):
    data = open(path, "rb").read()
    return (
        _find_magics(data, 0, BLOCK_MAGIC),
        _find_magics(data, 0, FOOTER_MAGIC),
        data,
    )


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    """One multi-block .bz2 (level 1 -> ~10 blocks) with ragged lines."""
    d = tmp_path_factory.mktemp("bz2text")
    p = d / "corpus.txt.bz2"
    lines = _make_corpus_file(str(p))
    blocks, _, _ = _magic_bits(str(p))
    assert len(blocks) >= 4, "fixture must span multiple bzip2 blocks"
    return str(d), str(p), lines


class TestBlockDecode:
    def test_independent_blocks_roundtrip(self, corpus):
        """Concatenating every independently-fabricated single-block
        decode must equal the real whole-stream decompression."""
        _, p, _ = corpus
        blocks, footers, data = _magic_bits(p)
        win = _FileWindow(p, 0)
        try:
            out = b""
            for m in blocks:
                text, _ = _decode_block_robust(win, m)
                out += text
        finally:
            win.close()
        assert out == bz2.decompress(data)

    def test_multi_stream_roundtrip(self, tmp_path):
        """pbzip2-style concatenated streams, different levels."""
        p = tmp_path / "multi.bz2"
        raw1, raw2 = b"alpha\nbeta\n", b"gamma\ndelta\n"
        p.write_bytes(bz2.compress(raw1, 9) + bz2.compress(raw2, 1))
        blocks, _, data = _magic_bits(str(p))
        assert len(blocks) == 2
        win = _FileWindow(str(p), 0)
        try:
            out = b"".join(_decode_block_robust(win, m)[0] for m in blocks)
        finally:
            win.close()
        assert out == raw1 + raw2

    def test_first_magic_is_bit_32(self, corpus):
        _, p, _ = corpus
        blocks, _, _ = _magic_bits(p)
        assert blocks[0] == _FIRST_BLOCK_BIT


def _expected_lines(path, range_bytes, seed, ratio):
    """Line-ownership oracle: a line belongs to the BLOCK containing its
    first decompressed byte (byteblock quirk: a line starting exactly at
    a block boundary belongs to the PRECEDING block; offset 0 to block
    0); a block belongs to the RANGE containing its magic's first bit.
    Block boundaries come from the per-block decode already proven
    correct by TestBlockDecode's round-trip."""
    import bisect

    from random_sampling_based_approximate_mapreduce_spark.sampling.deterministic import (
        md5_accept,
    )

    blocks, _, data = _magic_bits(path)
    win = _FileWindow(path, 0)
    try:
        sizes = [len(_decode_block_robust(win, m)[0]) for m in blocks]
    finally:
        win.close()
    starts = [0]
    for s in sizes[:-1]:
        starts.append(starts[-1] + s)
    accepted_range = {
        idx: md5_accept(f"{seed}:{path}#bzr{idx}", ratio)
        for idx in range(-(-len(data) // range_bytes))
    }

    def line_owner_block(offset):
        if offset == 0:
            return 0
        # largest k with starts[k] < offset (boundary -> preceding block)
        return bisect.bisect_left(starts, offset) - (
            0 if bisect.bisect_left(starts, offset) < len(starts)
            and starts[bisect.bisect_left(starts, offset)] < offset
            else 1
        )

    full = bz2.decompress(data)
    out = []
    pos = 0
    for raw in full.split(b"\n")[:-1]:
        blk = line_owner_block(pos)
        rng = (blocks[blk] // 8) // range_bytes
        if accepted_range[rng]:
            out.append(raw.rstrip(b"\r").decode())
        pos += len(raw) + 1
    # a file not ending in newline has a final unterminated line
    if not full.endswith(b"\n") and full:
        raw = full.rsplit(b"\n", 1)[-1]
        blk = line_owner_block(len(full) - len(raw))
        rng = (blocks[blk] // 8) // range_bytes
        if accepted_range[rng]:
            out.append(raw.rstrip(b"\r").decode())
    return sorted(out)


class TestBzip2BlockText:
    def test_ratio_one_is_the_exact_file(self, spark, corpus):
        d, _, lines = corpus
        # 2 KiB ranges: many seams inside and between blocks
        sf = read_text_bzip2_sampled(spark, d, 1.0, range_bytes=2048)
        got = sorted(r["value"] for r in sf.df.collect())
        assert got == sorted(lines)

    def test_sample_equals_ownership_oracle(self, spark, corpus):
        d, p, _ = corpus
        for ratio, rb, seed in ((0.4, 2048, 9), (0.15, 4096, 42), (0.7, 1024, 3)):
            sf = read_text_bzip2_sampled(spark, d, ratio, range_bytes=rb, seed=seed)
            got = sorted(r["value"] for r in sf.df.collect())
            assert got == _expected_lines(p, rb, seed, ratio), (ratio, rb, seed)

    def test_partitions_are_only_picked_ranges(self, spark, corpus):
        d, _, _ = corpus
        picked, picked_bytes, total_bytes = pick_ranges(d, 0.4, 2048, seed=9)
        assert 0 < picked_bytes < total_bytes
        sf = read_text_bzip2_sampled(spark, d, 0.4, range_bytes=2048, seed=9)
        # the scan rows cover exactly the picked ranges, in pick order,
        # over at most defaultParallelism tasks
        units = [(f, start // 2048) for f, start, _ in picked]
        batches = BZIP2.batches(units, unit_bytes=2048)
        assert [(f, i) for f, idxs in batches for i in idxs] == units
        tasks = min(len(batches), spark.sparkContext.defaultParallelism)
        assert sf.df.rdd.getNumPartitions() == tasks

    def test_ht_scale_and_two_stage(self, spark, corpus):
        d, _, _ = corpus
        sf = read_text_bzip2_sampled(spark, d, 0.4, range_bytes=2048, seed=9)
        n = sf.df.count()
        est = sf.approx_count(alias="est").collect()[0]["est"]
        assert est == pytest.approx(n / 0.4)
        two = read_text_bzip2_sampled(
            spark, d, 0.4, range_bytes=2048, seed=9,
            row_config=SamplingConfig(ratio=0.5, seed=1),
        )
        assert two.ratio == pytest.approx(0.2)

    def test_never_empty_pick(self, corpus):
        d, _, _ = corpus
        picked, _, _ = pick_ranges(d, 1e-9, 2048, seed=0)
        assert len(picked) == 1

    def test_non_bz2_refused(self, tmp_path):
        p = tmp_path / "x.txt"
        p.write_text("hello\n")
        with pytest.raises(ValueError, match="bz2 files only"):
            pick_ranges(str(p), 0.5, 2048)

    def test_empty_dir_and_bad_ratio(self, tmp_path, corpus):
        d, _, _ = corpus
        with pytest.raises(ValueError, match="no files"):
            pick_ranges(str(tmp_path), 0.5)
        with pytest.raises(ValueError, match="ratio"):
            pick_ranges(d, 0.0)


class TestRangeSeamProperties:
    """The reader pairing WITHOUT Spark: read_range_lines per range, many
    range sizes over one fixed multi-block file. Property: at ratio 1.0
    the union over all ranges is the exact line multiset — every line
    exactly once, any seam placement (ranges cutting mid-block,
    mid-magic, mid-line, at block boundaries)."""

    def _read_all_ranges(self, path, range_bytes):
        size = os.path.getsize(path)
        out = []
        for start in range(0, max(size, 1), range_bytes):
            out.extend(read_range_lines(path, start, min(size, start + range_bytes)))
        return out

    def test_many_range_sizes_cover_exactly(self, corpus):
        _, p, lines = corpus
        size = os.path.getsize(p)
        want = sorted(lines)
        for rb in (1 << 9, 1 << 10, 3000, 1 << 12, 9999, 1 << 14, size, 2 * size):
            got = self._read_all_ranges(p, rb)
            assert sorted(got) == want, rb
            # and order within the concatenation is the file order
        # tiny ranges around the header/first block edge
        for rb in (3, 5, 7):
            small = read_range_lines(p, 0, rb)  # may be empty or own block 0
            assert isinstance(small, list)

    def test_tiny_ranges_smaller_than_header(self, tmp_path):
        """range_bytes < 5: byte 4 (first magic) is not in range 0 — the
        file's first line must survive exactly once."""
        p = tmp_path / "tiny.bz2"
        p.write_bytes(bz2.compress(b"a\nb\nc\n", 1))
        got = self._read_all_ranges(str(p), 3)
        assert sorted(got) == ["a", "b", "c"]

    def test_no_trailing_newline(self, tmp_path):
        p = tmp_path / "notrail.bz2"
        _make_corpus_file(str(p), n_lines=4000, trailing=False)
        want = sorted(
            bz2.decompress(p.read_bytes()).decode().splitlines()
        )
        for rb in (1024, 4096):
            assert sorted(self._read_all_ranges(str(p), rb)) == want, rb

    def test_crlf_lines(self, tmp_path):
        p = tmp_path / "crlf.bz2"
        lines = _make_corpus_file(str(p), n_lines=4000, crlf=True)
        for rb in (1024, 4096):
            assert sorted(self._read_all_ranges(str(p), rb)) == sorted(lines), rb

    def test_line_spanning_multiple_blocks(self, tmp_path):
        """A single line larger than the bzip2 block size (level 1 =
        100 KB blocks) spans several blocks; its owner decodes forward
        through them, and mid-line ranges emit nothing."""
        import random

        p = tmp_path / "giant.bz2"
        rnd = random.Random(5)
        # incompressible (bzip2 RLE-folds runs, so random chars are
        # needed to actually overflow the 100 KB level-1 block size)
        giant = "".join(chr(rnd.randint(33, 126)) for _ in range(350_000))
        body = f"head\n{giant}\nmid\n{giant[::-1]}tail\n"
        p.write_bytes(bz2.compress(body.encode(), 1))
        blocks, _, _ = _magic_bits(str(p))
        assert len(blocks) >= 3
        want = sorted(body.splitlines())
        for rb in (2048, 8192, 1 << 20):
            assert sorted(self._read_all_ranges(str(p), rb)) == want, rb

    def test_multi_stream_file_cover_exactly(self, tmp_path):
        """Concatenated streams: ownership stays file-wide and exact."""
        p = tmp_path / "streams.bz2"
        part1 = "\n".join(f"s1-{i}" for i in range(5000)) + "\n"
        part2 = "\n".join(f"s2-{i}" for i in range(5000)) + "\n"
        # straddle: stream 1 does NOT end with newline -> its last line
        # is finished by stream 2's first block
        part1 = part1[:-1]
        p.write_bytes(bz2.compress(part1.encode(), 1) + bz2.compress(part2.encode(), 1))
        want = sorted((part1 + part2).splitlines())
        for rb in (1024, 4096, 1 << 20):
            assert sorted(self._read_all_ranges(str(p), rb)) == want, rb


class TestEmptyLeadingStream:
    """Review r9 (confirmed repro): a file opening with an EMPTY bzip2
    stream (pbzip2 emits these) pushes the first data block past bit
    32; the old 'file-first == magic at bit 32' rule dropped the file's
    first line at every ratio. The exact rule (no block magic before the
    first owned block) must keep it."""

    def _read_all(self, path, range_bytes):
        size = os.path.getsize(path)
        out = []
        for start in range(0, max(size, 1), range_bytes):
            out.extend(read_range_lines(path, start, min(size, start + range_bytes)))
        return out

    def test_empty_first_stream_keeps_first_line(self, tmp_path):
        p = tmp_path / "lead_empty.bz2"
        p.write_bytes(bz2.compress(b"") + bz2.compress(b"hello\nworld\n", 1))
        for rb in (3, 7, 64, 1 << 20):
            assert sorted(self._read_all(str(p), rb)) == ["hello", "world"], rb

    def test_multiple_empty_leading_streams(self, tmp_path):
        p = tmp_path / "many_empty.bz2"
        p.write_bytes(
            bz2.compress(b"") * 3 + bz2.compress(b"a\nb\n", 9) + bz2.compress(b"")
        )
        for rb in (5, 1 << 20):
            assert sorted(self._read_all(str(p), rb)) == ["a", "b"], rb


class TestFalsePositiveEndRetry:
    """Review r9 (xhigh pass): bz2.decompress raises ValueError — not
    OSError/EOFError — for a truncated fabricated stream, so the
    false-positive-end retry was dead code. Pin that a bogus first end
    candidate is retried past, not crashed on."""

    def test_bogus_end_candidate_is_retried(self, corpus):
        _, p, _ = corpus
        blocks, _, data = _magic_bits(p)
        real_first, real_second = blocks[0], blocks[1]

        class FakeScanner:
            """Yields a mid-block false positive before the real end."""

            def __init__(self):
                self.cands = sorted({real_first + 5000, *blocks[1:]}) + [
                    m for m in _find_magics(data, 0, FOOTER_MAGIC)
                ]

            def next_after(self, bit):
                for c in sorted(self.cands):
                    if c > bit:
                        return c
                return None

        win = _FileWindow(p, 0)
        try:
            text, end = _decode_block_robust(win, real_first, FakeScanner())
        finally:
            win.close()
        assert end == real_second
        assert text == bz2.decompress(data)[: len(text)]
        assert len(text) > 0

    def test_eof_clamped_end_candidate_is_retried(self, corpus):
        """Review r10: a false-positive end candidate in the file's last
        bytes clamps decode_block's window slice short at EOF, so
        ``aligned[n_full]`` raises IndexError — which must be treated as
        a failed candidate (retry), never a crash."""
        _, p, _ = corpus
        blocks, footers, data = _magic_bits(p)
        last = blocks[-1]
        file_bits = len(data) * 8

        class FakeScanner:
            """First candidate sits 3 bits past the last full byte —
            the fabricated span overruns EOF by construction — then
            the real footer magic follows."""

            def __init__(self):
                self.cands = [file_bits - 3, *footers]

            def next_after(self, bit):
                for c in sorted(self.cands):
                    if c > bit:
                        return c
                return None

        win = _FileWindow(p, 0)
        try:
            text, end = _decode_block_robust(win, last, FakeScanner())
        finally:
            win.close()
        assert end == footers[-1]
        assert len(text) > 0
        assert bz2.decompress(data).endswith(text)

    def test_over_cap_blockless_prefix_raises_not_loses(self, tmp_path):
        """Review r9 (xhigh): a blockless prefix past the file-first scan
        cap must fail the job loudly (start-0 reader), never silently
        drop the file's first line."""
        from random_sampling_based_approximate_mapreduce_spark.sources.bzip2_block_text import (
            _FILE_FIRST_SCAN_CAP,
        )

        p = tmp_path / "pathological.bz2"
        empty = bz2.compress(b"")
        n = _FILE_FIRST_SCAN_CAP // len(empty) + 2
        p.write_bytes(empty * n + bz2.compress(b"first\nsecond\n", 1))
        size = os.path.getsize(str(p))
        with pytest.raises(ValueError, match="blockless prefix"):
            for start in range(0, size, 1 << 18):
                read_range_lines(str(p), start, min(size, start + (1 << 18)))

    def test_empty_only_file_is_fine(self, tmp_path):
        p = tmp_path / "allempty.bz2"
        p.write_bytes(bz2.compress(b"") * 5)
        assert read_range_lines(str(p), 0, os.path.getsize(str(p))) == []


class TestSuggestRangeBytes:
    """Guidance pinned to the measured x1000 grid
    (docs/bench/LOG_BZIP2_RANGE_GRID_x1000.json): the best cold cell at
    each ratio matches range_bytes ~ total * r / 20, floored at one
    compressed block (256 KiB) and capped at the 4 MiB default."""

    GRID_TOTAL = 2_513_972_347  # the x1000 layout's compressed bytes

    def test_matches_grid_best_cells(self):
        from random_sampling_based_approximate_mapreduce_spark.sources.bzip2_block_text import (
            suggest_range_bytes,
        )

        assert suggest_range_bytes(self.GRID_TOTAL, 0.1) == 4 << 20
        assert suggest_range_bytes(self.GRID_TOTAL, 0.01) == 1 << 20
        assert suggest_range_bytes(self.GRID_TOTAL, 0.001) == 256 << 10

    def test_floor_and_cap(self):
        from random_sampling_based_approximate_mapreduce_spark.sources.bzip2_block_text import (
            suggest_range_bytes,
        )

        # tiny corpus x tiny ratio -> one-compressed-block floor
        assert suggest_range_bytes(10_000_000, 0.001) == 256 << 10
        # huge corpus x big ratio -> task-size cap (the default unit)
        assert suggest_range_bytes(10**12, 0.5) == 4 << 20

    def test_power_of_two_and_validation(self):
        from random_sampling_based_approximate_mapreduce_spark.sources.bzip2_block_text import (
            suggest_range_bytes,
        )

        for r in (0.003, 0.02, 0.7):
            got = suggest_range_bytes(self.GRID_TOTAL, r)
            assert got & (got - 1) == 0  # power of two
            assert 256 << 10 <= got <= 4 << 20
        import pytest as _pytest

        with _pytest.raises(ValueError):
            suggest_range_bytes(self.GRID_TOTAL, 0.0)
        with _pytest.raises(ValueError):
            suggest_range_bytes(0, 0.1)
        with _pytest.raises(ValueError):
            suggest_range_bytes(self.GRID_TOTAL, 0.1, target_picks=0)

    def test_path_form_sums_bz2_files(self, tmp_path):
        import bz2 as _bz2

        from random_sampling_based_approximate_mapreduce_spark.sources.bzip2_block_text import (
            suggest_range_bytes,
        )

        for i in range(2):
            (tmp_path / f"part-{i}.bz2").write_bytes(
                _bz2.compress(b"line\n" * 100)
            )
        # small corpus -> floor, computed from the summed file sizes
        assert suggest_range_bytes(str(tmp_path), 0.5) == 256 << 10
