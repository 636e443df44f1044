"""BGZF block sampling: header-hop round-trip against Python's gzip
module (both directions — our files are ordinary multi-member gzip),
the block-seam ownership algebra (no line lost or duplicated at any
seam, line-aligned AND hostile mid-line splits), exact agreement with
an ownership oracle through Spark, two-stage composition, and the
honesty guards (plain .gz refused, corrupt BSIZE/trailers refused).
Mirrors tests/test_zstd_seekable_text.py over the SAM spec 4.1 blocked
gzip format — both sources delegate to the shared seam_text algebra,
so this suite and the zstd one pin the same pairing through two
independent codecs."""

import gzip
import os
import struct

import pytest

from random_sampling_based_approximate_mapreduce_spark.sampling.config import SamplingConfig
from random_sampling_based_approximate_mapreduce_spark.sampling.deterministic import md5_accept
from random_sampling_based_approximate_mapreduce_spark.sources.bgzf_text import (
    BGZF,
    BGZF_EOF,
    MAX_INPUT_BYTES,
    _list_bgzf_files,
    decode_block,
    decompress_file,
    pick_blocks,
    read_block_lines,
    read_text_bgzf_sampled,
    scan_blocks,
    write_bgzf,
)


def _make_text(n_lines=3000, seed=7):
    import random

    rnd = random.Random(seed)
    lines = [f"line-{j:05d}-" + "x" * rnd.randint(0, 40) for j in range(n_lines)]
    return ("\n".join(lines) + "\n").encode()


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    """Two BGZF .gz files with SMALL blocks (hundreds of seams): one
    line-aligned, one with hostile mid-line block splits."""
    d = tmp_path_factory.mktemp("bgzftext")
    paths, raws = [], []
    for i, align in enumerate((True, False)):
        raw = _make_text(seed=7 + i)
        p = str(d / f"part-{i}.txt.gz")
        write_bgzf(raw, p, block_bytes=700, align_lines=align)
        paths.append(p)
        raws.append(raw)
    return str(d), paths, raws


class TestFormat:
    def test_roundtrip_and_hop_consistency(self, corpus):
        _, paths, raws = corpus
        for p, raw in zip(paths, raws):
            entries = scan_blocks(p)
            assert len(entries) > 50, "fixture must have many blocks"
            assert decompress_file(p) == raw
            # compressed spans tile the file exactly (EOF marker last)
            off = 0
            for e in entries:
                assert e.c_off == off
                off += e.c_size
            assert off == os.path.getsize(p)
            assert entries[-1].d_size == 0, "spec EOF marker scanned"
            assert entries[-1].c_size == len(BGZF_EOF)
            # decompressed spans tile the stream exactly
            d = 0
            for e in entries:
                assert e.d_off == d
                d += e.d_size
            assert d == len(raw)

    def test_gzip_module_reads_our_files(self, corpus):
        """Every BGZF file is a valid multi-member gzip file — the
        interop claim that makes this the gzip rung, not a bespoke
        format."""
        _, paths, raws = corpus
        for p, raw in zip(paths, raws):
            assert gzip.decompress(open(p, "rb").read()) == raw

    def test_we_read_generic_bgzf_style_members(self, tmp_path):
        """A file whose members carry EXTRA subfields beyond BC (in
        either order) still hops — the scanner walks subfields instead
        of assuming ours."""
        chunk = b"alpha\nbeta\n"
        import zlib

        co = zlib.compressobj(6, zlib.DEFLATED, -15)
        comp = co.compress(chunk) + co.flush()
        # extra: first an unrelated subfield, then BC
        other = struct.pack("<BBH", 88, 89, 3) + b"xyz"
        block_wo_bc = 12 + len(other) + 6 + len(comp) + 8
        extra = other + struct.pack("<BBHH", 66, 67, 2, block_wo_bc - 1)
        p = str(tmp_path / "generic.gz")
        with open(p, "wb") as fh:
            fh.write(
                struct.pack(
                    "<BBBBIBBH", 0x1F, 0x8B, 8, 4, 0, 0, 0xFF, len(extra)
                )
            )
            fh.write(extra)
            fh.write(comp)
            fh.write(struct.pack("<II", zlib.crc32(chunk), len(chunk)))
            fh.write(BGZF_EOF)
        entries = scan_blocks(p)
        assert [e.d_size for e in entries] == [len(chunk), 0]
        assert decompress_file(p) == chunk

    def test_each_block_decodes_independently(self, corpus):
        _, paths, raws = corpus
        p, raw = paths[1], raws[1]
        entries = scan_blocks(p)
        blob = open(p, "rb").read()
        got = b"".join(decode_block(blob, e) for e in entries if e.d_size)
        assert got == raw

    def test_plain_gz_refused(self, tmp_path):
        p = str(tmp_path / "plain.gz")
        open(p, "wb").write(gzip.compress(b"hello\nworld\n"))
        with pytest.raises(ValueError, match="FEXTRA.*plain gzip"):
            scan_blocks(p)

    def test_fextra_without_bc_refused(self, tmp_path):
        """gzip-with-extras but no BC subfield: not BGZF, refused with
        the ladder message (not a KeyError or a silent mis-hop)."""
        import zlib

        chunk = b"x\n"
        co = zlib.compressobj(6, zlib.DEFLATED, -15)
        comp = co.compress(chunk) + co.flush()
        extra = struct.pack("<BBH", 88, 89, 1) + b"q"
        p = str(tmp_path / "nobc.gz")
        with open(p, "wb") as fh:
            fh.write(struct.pack("<BBBBIBBH", 0x1F, 0x8B, 8, 4, 0, 0, 0xFF, len(extra)))
            fh.write(extra)
            fh.write(comp)
            fh.write(struct.pack("<II", zlib.crc32(chunk), len(chunk)))
        with pytest.raises(ValueError, match="no BC subfield"):
            scan_blocks(p)

    def test_truncated_bc_subfield_refused(self, tmp_path):
        """FEXTRA declaring a BC subfield with SLEN=2 but no payload
        bytes left in XLEN: the module's ValueError + ladder message,
        never a bare struct.error (ADVICE r11)."""
        import zlib

        chunk = b"x\n"
        co = zlib.compressobj(6, zlib.DEFLATED, -15)
        comp = co.compress(chunk) + co.flush()
        extra = struct.pack("<BBH", 66, 67, 2)  # BC header, payload missing
        p = str(tmp_path / "truncbc.gz")
        with open(p, "wb") as fh:
            fh.write(struct.pack("<BBBBIBBH", 0x1F, 0x8B, 8, 4, 0, 0, 0xFF, len(extra)))
            fh.write(extra)
            fh.write(comp)
            fh.write(struct.pack("<II", zlib.crc32(chunk), len(chunk)))
        with pytest.raises(ValueError, match="corrupt FEXTRA"):
            scan_blocks(p)

    def test_zeroed_isize_refused(self, corpus, tmp_path):
        """A zeroed ISIZE trailer on a block with a real payload must be
        refused at scan time, not silently treated as an empty block —
        d_size==0 blocks are never inflated, so without this check the
        block's lines vanish and every later block's d_off ownership
        shifts (ADVICE r11, medium)."""
        _, paths, raws = corpus
        blob = bytearray(open(paths[0], "rb").read())
        entries = scan_blocks(paths[0])
        e = entries[2]
        struct.pack_into("<I", blob, e.c_off + e.c_size - 4, 0)
        p = str(tmp_path / "isize0.gz")
        open(p, "wb").write(bytes(blob))
        with pytest.raises(ValueError, match="ISIZE|corrupt trailer"):
            scan_blocks(p)
        # and a TINY real block (payload smaller than any size
        # threshold could allow) with a zeroed trailer is refused too
        tiny = str(tmp_path / "tiny.gz")
        write_bgzf(b"a\n", tiny, block_bytes=16)
        blob2 = bytearray(open(tiny, "rb").read())
        e0 = scan_blocks(tiny)[0]
        struct.pack_into("<I", blob2, e0.c_off + e0.c_size - 4, 0)
        p2 = str(tmp_path / "tiny0.gz")
        open(p2, "wb").write(bytes(blob2))
        with pytest.raises(ValueError, match="ISIZE|corrupt trailer"):
            scan_blocks(p2)
        # and the untouched file still round-trips (scan cache keyed on
        # path+size+mtime, so the corrupt sibling can't poison it)
        assert decompress_file(paths[0]) == raws[0]

    def test_zeroed_isize_probe_is_bounded(self, tmp_path):
        """The claims-empty verification must NOT inflate the whole
        block (ADVICE r12, low): a crafted max-expansion block
        (spec-max 65280 input bytes of one repeated byte deflate to
        ~70 compressed bytes) with a zeroed trailer is refused from a
        max_length=1 probe — peak allocation stays O(KB), never the
        ~64 KiB+ full inflate (or ~67 MB for a 64 KiB crafted
        compressed payload)."""
        import tracemalloc

        big = str(tmp_path / "big.gz")
        write_bgzf(b"\x00" * 65280, big, block_bytes=65280, align_lines=False)
        blob = bytearray(open(big, "rb").read())
        e0 = scan_blocks(big)[0]
        assert e0.d_size == 65280 and e0.c_size < 2048  # genuinely expansive
        struct.pack_into("<I", blob, e0.c_off + e0.c_size - 4, 0)
        p = str(tmp_path / "big0.gz")
        open(p, "wb").write(bytes(blob))
        tracemalloc.start()
        with pytest.raises(ValueError, match="ISIZE|corrupt trailer"):
            scan_blocks(p)
        _, peak = tracemalloc.get_traced_memory()
        tracemalloc.stop()
        # zlib's internal window (~32-64 KB) + the compressed read; the
        # unbounded decode held the full 65280-byte output on top
        assert peak < 48 * 1024, peak

    def test_zeroed_isize_truncated_stream_refused(self, tmp_path):
        """A block whose trailer claims ISIZE 0 but whose deflate
        stream never terminates inside the block (truncation) is
        refused — the bounded probe's eof check, covering what the old
        unbounded decode caught via flush()."""
        donor = str(tmp_path / "donor.gz")
        write_bgzf(b"hello world\n", donor, block_bytes=16)
        e0 = scan_blocks(donor)[0]
        blob = open(donor, "rb").read()
        # keep only the first 2 bytes of the deflate payload, then a
        # trailer claiming CRC 0 / ISIZE 0; fix BSIZE to the new extent
        hdr_len = 18  # fixed header (12) + BC subfield (6)
        payload = blob[e0.c_off + hdr_len : e0.c_off + hdr_len + 2]
        member = bytearray(blob[e0.c_off : e0.c_off + hdr_len] + payload + b"\x00" * 8)
        struct.pack_into("<H", member, 16, len(member) - 1)  # BSIZE
        p = str(tmp_path / "trunc0.gz")
        open(p, "wb").write(bytes(member) + BGZF_EOF)
        with pytest.raises(ValueError, match="ISIZE|corrupt|terminate"):
            scan_blocks(p)

    def test_corrupt_bsize_refused(self, corpus, tmp_path):
        _, paths, _ = corpus
        blob = bytearray(open(paths[0], "rb").read())
        # BSIZE of the first block lives at bytes 16-17; shrink it so the
        # hop lands mid-payload where no gzip magic exists
        (bsize,) = struct.unpack_from("<H", blob, 16)
        struct.pack_into("<H", blob, 16, bsize - 7)
        p = str(tmp_path / "corrupt.gz")
        open(p, "wb").write(bytes(blob))
        with pytest.raises(ValueError, match="not a gzip member|corrupt"):
            scan_blocks(p)

    def test_corrupt_payload_fails_crc(self, corpus, tmp_path):
        """zlib's gzip-wrapper decode verifies CRC32 — a flipped payload
        bit surfaces as a decode error, never as silent wrong lines."""
        _, paths, _ = corpus
        blob = bytearray(open(paths[0], "rb").read())
        entries = scan_blocks(paths[0])
        e = entries[2]
        blob[e.c_off + 20] ^= 0x01  # inside block 2's deflate payload
        p = str(tmp_path / "crc.gz")
        open(p, "wb").write(bytes(blob))
        es = scan_blocks(p)
        with pytest.raises(Exception):  # zlib.error or ValueError
            decode_block(p, es[2])

    def test_block_bytes_cap_enforced(self, tmp_path):
        with pytest.raises(ValueError, match="block_bytes"):
            write_bgzf(b"x\n", str(tmp_path / "c.gz"), block_bytes=MAX_INPUT_BYTES + 1)
        with pytest.raises(ValueError, match="block_bytes"):
            write_bgzf(b"x\n", str(tmp_path / "c.gz"), block_bytes=0)


def _ownership_oracle(raw: bytes, entries, path, seed, ratio):
    """A line belongs to the block whose decompressed span contains its
    first byte, with the boundary line owned by the PRECEDING block
    (the shared pairing). Returns the sorted kept lines."""
    bounds = [(e.d_off, e.d_off + e.d_size, i) for i, e in enumerate(entries) if e.d_size]
    out = []
    pos = 0
    for rawline in raw.splitlines(keepends=True):
        s = pos
        pos += len(rawline)
        if s == 0:
            owner = bounds[0][2]
        else:
            owner = next(i for lo, hi, i in bounds if lo < s <= hi)
        if md5_accept(f"{seed}:{path}#blk{owner}", ratio):
            out.append(rawline.decode().rstrip("\r\n"))
    return sorted(out)


class TestSeamAlgebra:
    def test_union_at_ratio_one_is_exact(self, corpus):
        _, paths, raws = corpus
        for p, raw in zip(paths, raws):
            entries = scan_blocks(p)
            got = sorted(
                ln for i in range(len(entries)) for ln in read_block_lines(p, entries, i)
            )
            assert got == sorted(raw.decode().splitlines())

    def test_ownership_matches_oracle_per_block(self, corpus):
        _, paths, raws = corpus
        p, raw = paths[1], raws[1]  # the hostile mid-line splits
        entries = scan_blocks(p)
        for seed, ratio in ((9, 0.4), (42, 0.15)):
            got = sorted(
                ln
                for i in range(len(entries))
                if md5_accept(f"{seed}:{p}#blk{i}", ratio)
                for ln in read_block_lines(p, entries, i)
            )
            assert got == _ownership_oracle(raw, entries, p, seed, ratio)

    def test_many_block_sizes_cover_exactly(self, tmp_path):
        raw = _make_text(n_lines=400, seed=3)
        for bb in (37, 128, 1000, 10_000, MAX_INPUT_BYTES):
            for align in (True, False):
                p = str(tmp_path / f"c{bb}{align}.gz")
                write_bgzf(raw, p, block_bytes=bb, align_lines=align)
                entries = scan_blocks(p)
                got = sorted(
                    ln
                    for i in range(len(entries))
                    for ln in read_block_lines(p, entries, i)
                )
                assert got == sorted(raw.decode().splitlines()), (bb, align)

    def test_no_trailing_newline(self, tmp_path):
        raw = b"alpha\nbeta\ngamma-no-newline"
        p = str(tmp_path / "nt.gz")
        write_bgzf(raw, p, block_bytes=8, align_lines=False)
        entries = scan_blocks(p)
        got = sorted(
            ln for i in range(len(entries)) for ln in read_block_lines(p, entries, i)
        )
        assert got == ["alpha", "beta", "gamma-no-newline"]

    def test_crlf_lines(self, tmp_path):
        raw = b"a\r\nbb\r\nccc\r\n"
        p = str(tmp_path / "crlf.gz")
        write_bgzf(raw, p, block_bytes=4, align_lines=False)
        entries = scan_blocks(p)
        got = sorted(
            ln for i in range(len(entries)) for ln in read_block_lines(p, entries, i)
        )
        assert got == ["a", "bb", "ccc"]

    def test_line_spanning_many_blocks(self, tmp_path):
        raw = b"short\n" + b"L" * 5000 + b"\nshort2\n"
        p = str(tmp_path / "span.gz")
        write_bgzf(raw, p, block_bytes=64, align_lines=False)
        entries = scan_blocks(p)
        assert len(entries) > 10
        got = sorted(
            ln for i in range(len(entries)) for ln in read_block_lines(p, entries, i)
        )
        assert got == sorted(["short", "L" * 5000, "short2"])

    def test_align_respects_spec_cap(self, tmp_path):
        """A line longer than the 65280-byte input cap must end the
        block unaligned (bounded readline) and stay spec-legal — the
        seam algebra owns the straddle."""
        raw = b"s\n" + b"Q" * (2 * MAX_INPUT_BYTES) + b"\ntail\n"
        p = str(tmp_path / "cap.gz")
        write_bgzf(raw, p, block_bytes=MAX_INPUT_BYTES, align_lines=True)
        entries = scan_blocks(p)
        assert all(e.c_size <= 65536 for e in entries)
        assert all(e.d_size <= MAX_INPUT_BYTES for e in entries)
        assert gzip.decompress(open(p, "rb").read()) == raw
        got = sorted(
            ln for i in range(len(entries)) for ln in read_block_lines(p, entries, i)
        )
        assert got == sorted(["s", "Q" * (2 * MAX_INPUT_BYTES), "tail"])

    def test_eof_marker_owns_nothing(self, corpus):
        _, paths, _ = corpus
        p = paths[0]
        entries = scan_blocks(p)
        assert read_block_lines(p, entries, len(entries) - 1) == []


class TestRunReader:
    """read_block_run_lines: a contiguous run decodes each block once
    and owns exactly the union of its blocks' per-block ownership —
    the equivalence that lets the batched Spark reader merge runs."""

    def test_run_equals_union_of_blocks(self, corpus):
        from random_sampling_based_approximate_mapreduce_spark.sources.bgzf_text import (
            read_block_run_lines,
        )

        _, paths, _ = corpus
        p = paths[1]  # hostile mid-line splits
        entries = scan_blocks(p)
        n = len(entries)
        spans = [(0, 1), (0, 3), (2, 7), (n - 3, n), (0, n), (5, 5)]
        for start, stop in spans:
            want = [
                ln
                for i in range(start, stop)
                for ln in read_block_lines(p, entries, i)
            ]
            got = read_block_run_lines(p, entries, start, stop)
            assert got == want, (start, stop)

    def test_run_spanning_long_line(self, tmp_path):
        from random_sampling_based_approximate_mapreduce_spark.sources.bgzf_text import (
            read_block_run_lines,
        )

        raw = b"short\n" + b"L" * 5000 + b"\nshort2\n"
        p = str(tmp_path / "runspan.gz")
        write_bgzf(raw, p, block_bytes=64, align_lines=False)
        entries = scan_blocks(p)
        for start, stop in ((0, 4), (3, len(entries)), (0, len(entries))):
            want = [
                ln
                for i in range(start, stop)
                for ln in read_block_lines(p, entries, i)
            ]
            assert read_block_run_lines(p, entries, start, stop) == want


class TestSeamProperties:
    """Hypothesis hammering of the block-ownership pairing WITHOUT Spark
    (the zstd/byteblock TestSeamProperties over the gzip codec): at
    ratio 1.0 the union over all block partitions is the file's exact
    line sequence — every line exactly once, for random corpora
    (ragged/empty lines, missing trailing newline) and random block
    splits including mid-line splits."""

    def test_random_block_splits_cover_exactly(self, tmp_path):
        import random

        from hypothesis import given, settings
        from hypothesis import strategies as st

        counter = [0]

        @settings(max_examples=120, deadline=None)
        @given(
            seed=st.integers(0, 10**6),
            n_lines=st.integers(0, 50),
            block_bytes=st.integers(1, 64),
            align=st.booleans(),
        )
        def prop(seed, n_lines, block_bytes, align):
            rnd = random.Random(seed)
            lines = ["x" * rnd.randint(0, 2 * block_bytes) for _ in range(n_lines)]
            body = ("\n".join(lines) + ("\n" if rnd.random() < 0.8 or not lines else "")).encode()
            counter[0] += 1
            p = str(tmp_path / f"prop-{counter[0]}.gz")
            write_bgzf(body, p, block_bytes=block_bytes, align_lines=align)
            entries = scan_blocks(p)
            got = [
                ln
                for i in range(len(entries))
                for ln in read_block_lines(p, entries, i)
            ]
            assert got == body.decode().splitlines(), (seed, n_lines, block_bytes, align)

        prop()


class TestWriterContract:
    def test_stream_writer_matches_in_memory(self, tmp_path):
        """stream_bgzf (O(block_bytes) memory) must produce
        byte-identical output to the in-memory wrapper for aligned and
        hostile splits, terminated and unterminated final lines."""
        import io

        from random_sampling_based_approximate_mapreduce_spark.sources.bgzf_text import stream_bgzf

        cases = [
            (_make_text(200, seed=3), 700, True),
            (_make_text(200, seed=4), 700, False),
            (_make_text(50, seed=5)[:-1], 64, True),  # no trailing \n
            (b"", 16, True),  # empty input: just the EOF marker
            (b"one line no newline", 4, True),
            (b"\n\n\n", 1, True),
        ]
        for i, (raw, bb, align) in enumerate(cases):
            p_mem = str(tmp_path / f"mem-{i}.gz")
            p_str = str(tmp_path / f"str-{i}.gz")
            e_mem = write_bgzf(raw, p_mem, block_bytes=bb, align_lines=align)
            e_str = stream_bgzf(io.BytesIO(raw), p_str, block_bytes=bb, align_lines=align)
            assert e_mem == e_str, (i, bb, align)
            assert open(p_mem, "rb").read() == open(p_str, "rb").read(), i
            assert decompress_file(p_str) == raw, i
            assert gzip.decompress(open(p_str, "rb").read()) == raw, i

    def test_empty_input_is_bare_eof_marker(self, tmp_path):
        p = str(tmp_path / "empty.gz")
        assert write_bgzf(b"", p) == []
        assert open(p, "rb").read() == BGZF_EOF
        assert gzip.decompress(open(p, "rb").read()) == b""
        assert decompress_file(p) == b""

    def test_compression_level_honored(self, tmp_path):
        """level=0 (stored) and level=9 must reach zlib, not be dropped
        by a truthiness check (the zstd r10 ADVICE class of bug)."""
        raw = _make_text(500, seed=11)
        sizes = {}
        for lvl in (None, 0, 1, 9):
            p = str(tmp_path / f"lvl{lvl}.gz")
            write_bgzf(raw, p, block_bytes=8192, level=lvl)
            assert decompress_file(p) == raw
            sizes[lvl] = os.path.getsize(p)
        assert sizes[0] > len(raw), "level 0 must be stored, not defaulted"
        assert sizes[9] < sizes[0]

    def test_block_hop_cache_contract(self, corpus):
        """Cached hops are immutable tuples keyed on st_mtime_ns — the
        zstd seek-table cache contract."""
        from random_sampling_based_approximate_mapreduce_spark.sources.bgzf_text import _BLOCK_CACHE

        _, paths, _ = corpus
        p = paths[0]
        t1 = scan_blocks(p)
        assert isinstance(t1, tuple), "cache must hand out immutable entries"
        assert scan_blocks(p) is t1, "second call must be the cache hit"
        st = os.stat(p)
        # key = (path, size, mtime_ns, sidecar (size, mtime_ns) or None)
        # since round 13 — an index rebuild must invalidate the entry
        assert (p, st.st_size, st.st_mtime_ns, None) in _BLOCK_CACHE

    def test_nonexistent_path_says_no_files(self, tmp_path):
        with pytest.raises(ValueError, match="no files under"):
            pick_blocks(str(tmp_path / "does-not-exist.gz"), 0.5)


class TestSparkSource:
    def test_ratio_one_is_the_exact_files(self, spark, corpus):
        d, _, raws = corpus
        sf = read_text_bgzf_sampled(spark, d, 1.0)
        got = sorted(r["value"] for r in sf.df.collect())
        want = sorted(ln for raw in raws for ln in raw.decode().splitlines())
        assert got == want

    def test_sample_equals_ownership_oracle(self, spark, corpus):
        d, paths, raws = corpus
        for ratio, seed in ((0.4, 9), (0.15, 42)):
            sf = read_text_bgzf_sampled(spark, d, ratio, seed=seed)
            got = sorted(r["value"] for r in sf.df.collect())
            want = sorted(
                ln
                for p, raw in zip(paths, raws)
                for ln in _ownership_oracle(raw, scan_blocks(p), p, seed, ratio)
            )
            assert got == want, (ratio, seed)

    def test_partitions_are_batched_picked_blocks(self, spark, corpus):
        """The pick is per-block but the scan row is a ~batch_bytes pack
        of picked blocks, spread over at most defaultParallelism tasks
        (one task per 64 KiB block would be ~1.6B tasks at 100 TB);
        values are identical across batch sizes."""
        d, _, _ = corpus
        picked, picked_bytes, total_bytes = pick_blocks(d, 0.4, seed=9)
        assert 0 < picked_bytes < total_bytes
        # small batch target -> several batches per file; each batch
        # stays within one file and covers every picked block exactly once
        batches = BGZF.batches(picked, batch_bytes=2000)
        assert 1 < len(batches) < len(picked)
        assert [(f, i) for f, idxs in batches for i in idxs] == picked
        assert all(len({f}) == 1 for f, idxs in batches)
        slots = spark.sparkContext.defaultParallelism
        sf_small = read_text_bgzf_sampled(spark, d, 0.4, seed=9, batch_bytes=2000)
        assert sf_small.df.rdd.getNumPartitions() == min(len(batches), slots)
        sf_default = read_text_bgzf_sampled(spark, d, 0.4, seed=9)
        default_batches = BGZF.batches(picked)
        assert sf_default.df.rdd.getNumPartitions() == min(len(default_batches), slots)
        assert sorted(r["value"] for r in sf_small.df.collect()) == sorted(
            r["value"] for r in sf_default.df.collect()
        )

    def test_ht_scale_and_two_stage(self, spark, corpus):
        d, _, _ = corpus
        sf = read_text_bgzf_sampled(spark, d, 0.4, seed=9)
        n = sf.df.count()
        est = sf.approx_count(alias="est").collect()[0]["est"]
        assert est == pytest.approx(n / 0.4)
        two = read_text_bgzf_sampled(
            spark, d, 0.4, seed=9, row_config=SamplingConfig(ratio=0.5, seed=9)
        )
        n2 = two.df.count()
        est2 = two.approx_count(alias="est").collect()[0]["est"]
        assert est2 == pytest.approx(n2 / 0.2)
        assert n2 < n

    def test_never_empty_pick(self, corpus):
        d, _, _ = corpus
        picked, _, _ = pick_blocks(d, 1e-9, seed=1)
        assert len(picked) == 1

    def test_eof_marker_never_a_unit(self, corpus):
        """The pick excludes zero-decompressed-size blocks, so the
        never-empty fallback can't land on the EOF marker and return an
        empty sample."""
        _, paths, _ = corpus
        p = paths[0]
        n_data = sum(1 for e in scan_blocks(p) if e.d_size)
        picked, _, _ = pick_blocks(p, 1.0, seed=1)
        assert len(picked) == n_data

    def test_non_gz_refused(self, tmp_path):
        (tmp_path / "x.txt").write_text("a\n")
        with pytest.raises(ValueError, match="gz"):
            pick_blocks(str(tmp_path), 0.5)

    def test_bad_run_blocks(self, corpus):
        d, _, _ = corpus
        with pytest.raises(ValueError, match="run_blocks"):
            pick_blocks(d, 0.5, run_blocks=0)


def _run_oracle_keys(path, run_blocks, seed, ratio):
    """Per-block accept decision under the run-cluster pick: block ->
    its run's md5 verdict (runs = consecutive chunks of run_blocks
    data blocks, per file)."""
    data_idxs = [i for i, e in enumerate(scan_blocks(path)) if e.d_size]
    accept = {}
    for j, s in enumerate(range(0, len(data_idxs), run_blocks)):
        ok = md5_accept(f"{seed}:{path}#run{run_blocks}:{j}", ratio)
        for i in data_idxs[s : s + run_blocks]:
            accept[i] = ok
    return accept


class TestRunBlocks:
    """run_blocks > 1: the sampling cluster is a CONTIGUOUS run of K
    adjacent blocks (VERDICT r11 item 4 — sequential cold I/O at
    moderate r). Ownership equivalence: a picked run keeps exactly the
    union of its blocks' owned lines; HT semantics unchanged with the
    run as the unit."""

    def test_run_pick_expands_accepted_runs(self, corpus):
        d, paths, _ = corpus
        K, seed, ratio = 3, 11, 0.4
        picked, pw, tw = pick_blocks(d, ratio, seed=seed, run_blocks=K)
        want = []
        for p in paths:
            acc = _run_oracle_keys(p, K, seed, ratio)
            want.extend((p, i) for i in sorted(acc) if acc[i])
        assert picked == want
        # weight accounting: picked bytes = sum of picked blocks' c_size
        sizes = {p: scan_blocks(p) for p in paths}
        assert pw == sum(sizes[f][i].c_size for f, i in picked)
        assert tw == sum(
            e.c_size for p in paths for e in sizes[p] if e.d_size
        )

    def test_run_blocks_one_is_backcompat(self, corpus):
        """run_blocks=1 keys are the historical per-block keys — same
        picks, same partitions, bit-for-bit."""
        d, _, _ = corpus
        assert pick_blocks(d, 0.3, seed=5, run_blocks=1) == pick_blocks(
            d, 0.3, seed=5
        )

    def test_picked_runs_are_contiguous(self, corpus):
        """A picked run's blocks are adjacent on disk, so the reader's
        contiguity merge decodes each run in ONE sequential pass — the
        whole point of the knob."""
        d, _, _ = corpus
        K = 4
        picked, _, _ = pick_blocks(d, 0.3, seed=7, run_blocks=K)
        runs = []
        for f, i in picked:
            if runs and runs[-1][0] == f and i == runs[-1][2]:
                runs[-1][2] = i + 1
            else:
                runs.append([f, i, i + 1])
        # every merged run is at least K blocks unless it's a file tail
        for f, start, stop in runs:
            n_data = sum(1 for e in scan_blocks(f) if e.d_size)
            assert stop - start >= min(K, n_data - start)

    def test_ratio_one_any_run_width_is_exact(self, spark, corpus):
        d, _, raws = corpus
        sf = read_text_bgzf_sampled(spark, d, 1.0, run_blocks=4)
        got = sorted(r["value"] for r in sf.df.collect())
        want = sorted(ln for raw in raws for ln in raw.decode().splitlines())
        assert got == want

    def test_run_sample_equals_ownership_oracle(self, spark, corpus):
        """Sampled lines = lines whose OWNER block sits in an accepted
        run — per-block ownership composed with the run-level verdict,
        through Spark."""
        d, paths, raws = corpus
        K, seed, ratio = 3, 11, 0.4
        sf = read_text_bgzf_sampled(spark, d, ratio, seed=seed, run_blocks=K)
        got = sorted(r["value"] for r in sf.df.collect())
        want = []
        for p, raw in zip(paths, raws):
            entries = scan_blocks(p)
            acc = _run_oracle_keys(p, K, seed, ratio)
            bounds = [
                (e.d_off, e.d_off + e.d_size, i)
                for i, e in enumerate(entries)
                if e.d_size
            ]
            pos = 0
            for rawline in raw.splitlines(keepends=True):
                s = pos
                pos += len(rawline)
                owner = (
                    bounds[0][2]
                    if s == 0
                    else next(i for lo, hi, i in bounds if lo < s <= hi)
                )
                if acc[owner]:
                    want.append(rawline.decode().rstrip("\r\n"))
        assert got == sorted(want)

    def test_suggest_run_blocks_guidance(self):
        from random_sampling_based_approximate_mapreduce_spark.sources.bgzf_text import (
            DEFAULT_BLOCK_BYTES,
            suggest_run_blocks,
        )

        # the measured crossover: singletons below r=0.01 (pick floor
        # wins), ~1 MB clusters at moderate r (runs of 16 at the
        # default block size — the committed x16000 grid's K)
        assert suggest_run_blocks(0.001) == 1
        assert suggest_run_blocks(0.005) == 1
        assert suggest_run_blocks(0.025) == 16
        assert suggest_run_blocks(0.1) == 16
        assert suggest_run_blocks(1.0) == 16
        # scales with block size toward the same cluster bytes
        assert suggest_run_blocks(0.1, block_bytes=DEFAULT_BLOCK_BYTES // 4) == 64
        assert suggest_run_blocks(0.1, target_cluster_bytes=DEFAULT_BLOCK_BYTES) == 1
        with pytest.raises(ValueError, match="ratio"):
            suggest_run_blocks(0.0)
        # corpus-aware form (round 15): cluster ~ clamp(total*r/20,
        # 1 MiB, 4 MiB). Pins = the x1000 run-length grid's best cells
        # (LOG_BGZF_RUNS_GRID_x1000: 3.45 GB, 64 KiB blocks — K=64 at
        # r=0.1 where the fixed 1 MiB target measured slower, and the
        # 16 MiB rung's quantization collapse bounds the cap)
        total = 3_449_115_181
        assert suggest_run_blocks(0.1, 64 * 1024, total_bytes=total) == 64
        # at r=0.01 the clamp keeps the target between the measured
        # best (1 MiB) and the measured-worse 4 MiB
        assert 16 <= suggest_run_blocks(0.01, 64 * 1024, total_bytes=total) < 64
        # small corpus -> the 1 MiB sequential-I/O floor
        assert suggest_run_blocks(0.1, 64 * 1024, total_bytes=10_000_000) == 16
        # the floor rule still wins below r=0.01 regardless of total
        assert suggest_run_blocks(0.005, 64 * 1024, total_bytes=total) == 1
        with pytest.raises(ValueError, match="total"):
            suggest_run_blocks(0.1, total_bytes=0)

    def test_run_ownership_equivalence_property(self, tmp_path):
        """Hypothesis: for random corpora, block sizes, run widths and
        ratios, the run-cluster pick keeps EXACTLY the lines whose
        owner block sits in an accepted run — i.e. run sampling is the
        per-block ownership algebra composed with the run verdict,
        never a reimplementation that could drift at seams."""
        import random as _random

        from hypothesis import given, settings
        from hypothesis import strategies as st

        from random_sampling_based_approximate_mapreduce_spark.sources.bgzf_text import (
            read_block_run_lines,
        )

        counter = [0]

        @settings(max_examples=60, deadline=None)
        @given(
            seed=st.integers(0, 10**6),
            n_lines=st.integers(0, 40),
            block_bytes=st.integers(1, 64),
            align=st.booleans(),
            run_blocks=st.integers(1, 7),
            ratio=st.sampled_from([0.2, 0.5, 0.9, 1.0]),
        )
        def prop(seed, n_lines, block_bytes, align, run_blocks, ratio):
            rnd = _random.Random(seed)
            lines = ["y" * rnd.randint(0, 2 * block_bytes) for _ in range(n_lines)]
            body = (
                "\n".join(lines) + ("\n" if rnd.random() < 0.8 or not lines else "")
            ).encode()
            counter[0] += 1
            p = str(tmp_path / f"runprop-{counter[0]}.gz")
            write_bgzf(body, p, block_bytes=block_bytes, align_lines=align)
            picked, _, _ = pick_blocks(p, ratio, seed=seed, run_blocks=run_blocks)
            # decode picked blocks as the reader does: contiguous runs
            runs = []
            for _, i in picked:
                if runs and i == runs[-1][1]:
                    runs[-1][1] = i + 1
                else:
                    runs.append([i, i + 1])
            entries = scan_blocks(p)
            got = [
                ln
                for start, stop in runs
                for ln in read_block_run_lines(p, entries, start, stop)
            ]
            # oracle: per-block ownership filtered by the run verdict
            # (never-empty fallback handled by trusting picked itself)
            picked_idx = {i for _, i in picked}
            want = [
                ln
                for i in sorted(picked_idx)
                for ln in read_block_lines(p, entries, i)
            ]
            assert got == want, (seed, n_lines, block_bytes, align, run_blocks, ratio)
            if ratio == 1.0:
                assert got == body.decode().splitlines()

        prop()

    def test_run_ht_scale(self, spark, corpus):
        d, _, _ = corpus
        sf = read_text_bgzf_sampled(spark, d, 0.4, seed=11, run_blocks=3)
        n = sf.df.count()
        est = sf.approx_count(alias="est").collect()[0]["est"]
        assert est == pytest.approx(n / 0.4)

    def test_bad_ratio(self, corpus):
        d, _, _ = corpus
        with pytest.raises(ValueError, match="ratio"):
            pick_blocks(d, 0.0)
        with pytest.raises(ValueError, match="ratio"):
            pick_blocks(d, 1.5)


class TestGziIndex:
    """The htslib .gzi sidecar (the public format `bgzip -r` writes):
    O(1) metadata reads per file instead of the O(blocks) header hop —
    the zstd seek table's pick-cost model for the BGZF rung (round 13).
    Trust model mirrors the seek table: structural verification +
    spot-checked boundary headers + decode-time CRC as the safety net;
    a present-but-corrupt index is REFUSED, never silently re-hopped."""

    def _indexed(self, tmp_path, name, body, block_bytes=512, align=True):
        p = str(tmp_path / name)
        write_bgzf(body, p, block_bytes=block_bytes, align_lines=align, index=True)
        return p

    def test_index_scan_equals_hop(self, tmp_path):
        """Entry-for-entry identity with the hop, on line-aligned AND
        hostile mid-line block splits (and a multi-of-16 block count
        so the middle spot-check lands on a real boundary)."""
        import random

        rnd = random.Random(5)
        body = (
            "\n".join("w" * rnd.randint(0, 80) for _ in range(3000)) + "\n"
        ).encode()
        for align in (True, False):
            p = self._indexed(tmp_path, f"eq{align}.gz", body, align=align)
            via_idx = scan_blocks(p)
            os.remove(p + ".gzi")
            assert via_idx == scan_blocks(p), align
            assert decompress_file(p) == body

    def test_gzi_bytes_are_htslib_format(self, tmp_path):
        """The sidecar is exactly LE u64 count + (c_off, d_off) u64
        pairs for every data block except the implicit first — parsed
        back by hand against the writer's entries."""
        body = b"alpha\nbeta\ngamma\ndelta\n"
        p = str(tmp_path / "fmt.gz")
        entries = write_bgzf(body, p, block_bytes=8, index=True)
        raw = open(p + ".gzi", "rb").read()
        (n,) = struct.unpack_from("<Q", raw, 0)
        assert n == len(entries) - 1 and len(raw) == 8 + 16 * n
        pairs = [struct.unpack_from("<QQ", raw, 8 + 16 * i) for i in range(n)]
        assert pairs == [(e.c_off, e.d_off) for e in entries[1:]]

    def test_corrupt_index_refused(self, tmp_path):
        p = self._indexed(tmp_path, "bad.gz", b"one\ntwo\nthree\n", block_bytes=4)
        raw = bytearray(open(p + ".gzi", "rb").read())
        # (a) truncated payload
        open(p + ".gzi", "wb").write(bytes(raw[:-8]))
        with pytest.raises(ValueError, match="corrupt|truncated"):
            scan_blocks(p)
        # (b) non-monotonic compressed offset
        bad = bytearray(raw)
        struct.pack_into("<Q", bad, 8, 1 << 60)
        open(p + ".gzi", "wb").write(bytes(bad))
        with pytest.raises(ValueError, match="non-monotonic|out-of-bounds"):
            scan_blocks(p)
        # (c) a SPOT-CHECKED boundary that is not a block header (stale
        # index): the scan verifies first/middle/last boundaries — with
        # 4 data blocks the middle is pairs[2] = raw pair 1. Interior
        # unchecked boundaries are covered by decode-time CRC instead
        # (the documented trust model).
        bad = bytearray(raw)
        (c_mid,) = struct.unpack_from("<Q", raw, 8 + 16)
        struct.pack_into("<Q", bad, 8 + 16, c_mid + 1)
        open(p + ".gzi", "wb").write(bytes(bad))
        with pytest.raises(ValueError, match="not a gzip member|corrupt"):
            scan_blocks(p)
        # (d) index that stops short of the file's blocks
        n = struct.unpack_from("<Q", raw, 0)[0]
        short = struct.pack("<Q", n - 1) + bytes(raw[8 : 8 + 16 * (n - 1)])
        open(p + ".gzi", "wb").write(short)
        with pytest.raises(ValueError, match="does not cover"):
            scan_blocks(p)
        # removing the sidecar falls back to the hop cleanly
        os.remove(p + ".gzi")
        assert decompress_file(p) == b"one\ntwo\nthree\n"

    def test_lying_duplicate_offset_refused(self, tmp_path):
        """An index entry claiming a REAL block decompresses to zero
        (duplicate uncompressed offsets) is decode-to-verified and
        refused — the index twin of the zeroed-ISIZE trailer."""
        p = self._indexed(tmp_path, "dup.gz", b"aa\nbb\ncc\ndd\n", block_bytes=3)
        raw = bytearray(open(p + ".gzi", "rb").read())
        # make entry 1's d_off equal entry 0's implicit predecessor span
        # end by copying entry 0's d_off into entry 1 (claims block 1
        # is empty)
        d0 = struct.unpack_from("<QQ", raw, 8)[1]
        # entry pairs: (c,d) at 8+16i; zero the FIRST pair's d to claim
        # block 0 (a real block) is empty
        struct.pack_into("<Q", raw, 8 + 8, 0)
        open(p + ".gzi", "wb").write(bytes(raw))
        with pytest.raises(ValueError, match="inflates to at least 1 byte"):
            scan_blocks(p)
        assert d0 > 0  # the original index really claimed a non-empty block

    def test_lying_empty_interval_hiding_data_block_refused(self, tmp_path):
        """ADVICE r13 repro: a crafted index interval laid out as
        [empty member][data block] with a DUPLICATE uncompressed
        offset. The bounded probe proves the first member empty and
        reaches eof — but trailing bytes in the span mean a real data
        block is being concealed (its lines would silently vanish and
        every later block's d_off ownership would shift). Must be
        refused on the unconsumed remainder, not accepted."""
        p = str(tmp_path / "hide.gz")
        entries = write_bgzf(b"secret\nlines\nhere\n", p, block_bytes=6)
        assert len(entries) >= 2
        data = open(p, "rb").read()
        # prepend a spec EOF marker: the file becomes
        # [empty member][data blocks...][EOF] — still valid BGZF
        open(p, "wb").write(BGZF_EOF + data)
        shift = len(BGZF_EOF)
        hidden_d = entries[1].d_off  # first data block's true size
        pairs = [(shift + entries[1].c_off, 0)]  # the lying interval
        pairs += [
            (shift + e.c_off, e.d_off - hidden_d) for e in entries[2:]
        ]
        with open(p + ".gzi", "wb") as fh:
            fh.write(struct.pack("<Q", len(pairs)))
            for c, d in pairs:
                fh.write(struct.pack("<QQ", c, d))
        with pytest.raises(
            ValueError, match="beyond its first|lying index"
        ):
            scan_blocks(p)

    def test_gzi_htslib_trailing_eof_entry_parses_identically(self, tmp_path):
        """htslib's `bgzip -r` may index every flush INCLUDING the
        last, i.e. carry a final entry at (EOF-marker offset, total
        uncompressed size) that write_gzi omits (ADVICE r13). Both
        layouts must parse to the identical block table — pinning the
        'indexes travel both ways' claim at the byte level."""
        p = self._indexed(
            tmp_path, "trail.gz", b"aa\nbb\ncc\ndd\nee\n", block_bytes=3
        )
        ours = scan_blocks(p)
        eof = ours[-1]
        assert eof.d_size == 0  # the EOF-marker entry
        raw = bytearray(open(p + ".gzi", "rb").read())
        (n,) = struct.unpack_from("<Q", raw, 0)
        struct.pack_into("<Q", raw, 0, n + 1)
        raw += struct.pack("<QQ", eof.c_off, eof.d_off)
        open(p + ".gzi", "wb").write(bytes(raw))
        assert scan_blocks(p) == ours

    def test_cache_invalidates_on_index_change(self, tmp_path):
        p = self._indexed(tmp_path, "cache.gz", b"x\ny\nz\n", block_bytes=2)
        first = scan_blocks(p)
        os.remove(p + ".gzi")
        second = scan_blocks(p)  # hop path, fresh cache key
        assert first == second

    def test_sidecars_not_listed_as_data(self, tmp_path):
        p = self._indexed(tmp_path, "data.gz", b"hello\nworld\n")
        files = _list_bgzf_files(str(tmp_path))
        assert files == [p]
        picked, _, _ = pick_blocks(str(tmp_path), 1.0)
        assert {f for f, _ in picked} == {p}

    def test_spark_reads_indexed_layout_exactly(self, spark, tmp_path):
        import random

        rnd = random.Random(7)
        body = (
            "\n".join("q" * rnd.randint(0, 50) for _ in range(1500)) + "\n"
        ).encode()
        d = tmp_path / "layout"
        d.mkdir()
        self._indexed(d, "part-0.gz", body, align=False)
        sf = read_text_bgzf_sampled(spark, str(d), 1.0)
        got = sorted(r["value"] for r in sf.df.collect())
        assert got == sorted(body.decode().splitlines())

    def test_spark_sampled_read_identical_with_and_without_index(
        self, spark, tmp_path
    ):
        """At a SAMPLED ratio, the indexed and hop layouts return the
        same rows through Spark: picks key on (file, block idx) over
        identical tables, so which scan path ran is invisible to the
        sample — the end-to-end form of the index/hop table identity."""
        import random

        rnd = random.Random(11)
        body = (
            "\n".join("z" * rnd.randint(0, 60) for _ in range(2000)) + "\n"
        ).encode()
        d = tmp_path / "idxlay"
        d.mkdir()
        p = self._indexed(d, "part-0.gz", body, align=True)
        with_idx = sorted(
            r["value"]
            for r in read_text_bgzf_sampled(spark, str(d), 0.35, seed=13).df.collect()
        )
        os.remove(p + ".gzi")
        without = sorted(
            r["value"]
            for r in read_text_bgzf_sampled(spark, str(d), 0.35, seed=13).df.collect()
        )
        assert with_idx == without and 0 < len(with_idx) < len(
            body.decode().splitlines()
        )

    def test_index_hop_identity_property(self, tmp_path):
        """Hypothesis: for random corpora and block sizes, the .gzi
        scan and the header hop produce IDENTICAL block tables (so
        every downstream pick/read is bit-identical whichever path
        ran)."""
        import random as _random

        from hypothesis import given, settings
        from hypothesis import strategies as st

        counter = [0]

        @settings(max_examples=40, deadline=None)
        @given(
            seed=st.integers(0, 10**6),
            n_lines=st.integers(0, 40),
            block_bytes=st.integers(1, 64),
            align=st.booleans(),
        )
        def prop(seed, n_lines, block_bytes, align):
            rnd = _random.Random(seed)
            lines = ["y" * rnd.randint(0, 2 * block_bytes) for _ in range(n_lines)]
            body = (
                "\n".join(lines) + ("\n" if rnd.random() < 0.8 or not lines else "")
            ).encode()
            counter[0] += 1
            p = str(tmp_path / f"gzi-{counter[0]}.gz")
            write_bgzf(body, p, block_bytes=block_bytes, align_lines=align, index=True)
            via_idx = scan_blocks(p)
            os.remove(p + ".gzi")
            assert via_idx == scan_blocks(p), (seed, n_lines, block_bytes, align)

        prop()
