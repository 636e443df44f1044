"""Seekable-zstd frame sampling: seek-table round-trip against an
independent frame walk, the frame-seam ownership algebra (no line lost
or duplicated at any seam, line-aligned AND hostile mid-line splits),
exact agreement with an ownership oracle through Spark, two-stage
composition, and the honesty guards (plain .zst refused, corrupt tables
refused). Mirrors tests/test_byteblock_text.py in decompressed-offset
space and tests/test_bzip2_block_text.py's format-guard coverage."""

import os
import struct

import pyarrow as pa
import pytest

from random_sampling_based_approximate_mapreduce_spark.sampling.config import SamplingConfig
from random_sampling_based_approximate_mapreduce_spark.sampling.deterministic import md5_accept
from random_sampling_based_approximate_mapreduce_spark.sources.zstd_seekable_text import (
    SEEKABLE_MAGIC,
    SKIPPABLE_MAGIC,
    ZSTD,
    ZSTD_FRAME_MAGIC,
    decompress_file,
    parse_seek_table,
    pick_frames,
    read_frame_lines,
    read_frame_run_lines,
    read_text_zstd_sampled,
    write_seekable_zstd,
)


def _make_text(n_lines=3000, seed=7):
    import random

    rnd = random.Random(seed)
    lines = [f"line-{j:05d}-" + "x" * rnd.randint(0, 40) for j in range(n_lines)]
    return ("\n".join(lines) + "\n").encode()


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    """Two seekable .zst files with SMALL frames (hundreds of seams):
    one line-aligned, one with hostile mid-line frame splits."""
    d = tmp_path_factory.mktemp("zsttext")
    paths, raws = [], []
    for i, align in enumerate((True, False)):
        raw = _make_text(seed=7 + i)
        p = str(d / f"part-{i}.txt.zst")
        write_seekable_zstd(raw, p, frame_bytes=700, align_lines=align)
        paths.append(p)
        raws.append(raw)
    return str(d), paths, raws


class TestFormat:
    def test_roundtrip_and_table_consistency(self, corpus):
        _, paths, raws = corpus
        for p, raw in zip(paths, raws):
            entries = parse_seek_table(p)
            assert len(entries) > 50, "fixture must have many frames"
            assert decompress_file(p) == raw
            # independent frame walk from the FRONT agrees with the table
            with open(p, "rb") as fh:
                data = fh.read()
            for e in entries:
                if e.c_size:
                    (magic,) = struct.unpack_from("<I", data, e.c_off)
                    assert magic == ZSTD_FRAME_MAGIC, e
            # decompressed spans tile the stream exactly
            off = 0
            for e in entries:
                assert e.d_off == off
                off += e.d_size
            assert off == len(raw)

    def test_each_frame_decodes_independently(self, corpus):
        _, paths, raws = corpus
        p, raw = paths[1], raws[1]
        entries = parse_seek_table(p)
        codec = pa.Codec("zstd")
        with open(p, "rb") as fh:
            blob = fh.read()
        got = b"".join(
            codec.decompress(blob[e.c_off : e.c_off + e.c_size], e.d_size, asbytes=True)
            for e in entries
            if e.d_size
        )
        assert got == raw

    def test_plain_zst_refused(self, tmp_path):
        p = str(tmp_path / "plain.zst")
        with open(p, "wb") as fh:
            fh.write(pa.Codec("zstd").compress(b"hello\nworld\n", asbytes=True))
        with pytest.raises(ValueError, match="seekable"):
            parse_seek_table(p)

    def test_lying_empty_entry_refused(self, corpus, tmp_path):
        """A seek-table entry claiming d_size=0 for a REAL frame must
        be refused at parse time, not skipped: d_size==0 frames are
        never decoded by any reader, so the lie would silently drop
        the frame's lines and shift d_off ownership for every later
        frame — the zstd twin of the zeroed BGZF ISIZE trailer
        (ADVICE r11 medium, fixed in both codecs in round 12)."""
        _, paths, raws = corpus
        blob = bytearray(open(paths[0], "rb").read())
        entries = parse_seek_table(paths[0])
        table_start = len(blob) - (len(entries) * 8 + 9) - 8
        # zero entry 2's decompressed-size field (bytes 4-8 of the entry)
        struct.pack_into("<I", blob, table_start + 8 + 2 * 8 + 4, 0)
        p = str(tmp_path / "lying0.zst")
        open(p, "wb").write(bytes(blob))
        with pytest.raises(ValueError, match="lying seek-table entry"):
            parse_seek_table(p)
        # the untouched sibling still parses (cache keyed per path+mtime)
        assert len(parse_seek_table(paths[0])) == len(entries)

    def test_corrupt_size_field_refused(self, corpus, tmp_path):
        _, paths, _ = corpus
        blob = bytearray(open(paths[0], "rb").read())
        # flip a bit in the table's first entry's compressed size
        entries = parse_seek_table(paths[0])
        table_start = len(blob) - (len(entries) * 8 + 9) - 8
        blob[table_start + 8] ^= 0x01
        p = str(tmp_path / "corrupt.zst")
        open(p, "wb").write(bytes(blob))
        with pytest.raises(ValueError, match="corrupt"):
            parse_seek_table(p)

    def test_reserved_descriptor_bits_refused(self, corpus, tmp_path):
        _, paths, _ = corpus
        blob = bytearray(open(paths[0], "rb").read())
        blob[-5] |= 0x04  # a reserved descriptor bit
        p = str(tmp_path / "reserved.zst")
        open(p, "wb").write(bytes(blob))
        with pytest.raises(ValueError, match="reserved"):
            parse_seek_table(p)

    def test_checksum_entries_parse(self, corpus, tmp_path):
        """A table with the checksum flag (12-byte entries) parses to the
        same spans (checksums carried, not verified — module docstring)."""
        _, paths, raws = corpus
        entries = parse_seek_table(paths[0])
        with open(paths[0], "rb") as fh:
            data_frames = fh.read(sum(e.c_size for e in entries))
        p = str(tmp_path / "ck.zst")
        with open(p, "wb") as fh:
            fh.write(data_frames)
            fh.write(struct.pack("<II", SKIPPABLE_MAGIC, len(entries) * 12 + 9))
            for e in entries:
                fh.write(struct.pack("<III", e.c_size, e.d_size, 0xDEADBEEF))
            fh.write(struct.pack("<IBI", len(entries), 0x80, SEEKABLE_MAGIC))
        got = parse_seek_table(p)
        assert [(e.c_off, e.c_size, e.d_off, e.d_size) for e in got] == [
            (e.c_off, e.c_size, e.d_off, e.d_size) for e in entries
        ]
        assert decompress_file(p) == raws[0]


def _ownership_oracle(raw: bytes, entries, path, seed, ratio):
    """A line belongs to the frame whose decompressed span contains its
    first byte, with the boundary line owned by the PRECEDING frame
    (byteblock pairing). Returns the sorted kept lines."""
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
        if md5_accept(f"{seed}:{path}#frm{owner}", ratio):
            out.append(rawline.decode().rstrip("\r\n"))
    return sorted(out)


class TestSeamAlgebra:
    def test_union_at_ratio_one_is_exact(self, corpus):
        _, paths, raws = corpus
        for p, raw in zip(paths, raws):
            entries = parse_seek_table(p)
            got = sorted(
                ln for i in range(len(entries)) for ln in read_frame_lines(p, entries, i)
            )
            assert got == sorted(raw.decode().splitlines())

    def test_ownership_matches_oracle_per_frame(self, corpus):
        _, paths, raws = corpus
        p, raw = paths[1], raws[1]  # the hostile mid-line splits
        entries = parse_seek_table(p)
        for seed, ratio in ((9, 0.4), (42, 0.15)):
            got = sorted(
                ln
                for i in range(len(entries))
                if md5_accept(f"{seed}:{p}#frm{i}", ratio)
                for ln in read_frame_lines(p, entries, i)
            )
            assert got == _ownership_oracle(raw, entries, p, seed, ratio)

    def test_many_frame_sizes_cover_exactly(self, tmp_path):
        raw = _make_text(n_lines=400, seed=3)
        for fb in (37, 128, 1000, 10_000, len(raw) + 10):
            for align in (True, False):
                p = str(tmp_path / f"c{fb}{align}.zst")
                write_seekable_zstd(raw, p, frame_bytes=fb, align_lines=align)
                entries = parse_seek_table(p)
                got = sorted(
                    ln
                    for i in range(len(entries))
                    for ln in read_frame_lines(p, entries, i)
                )
                assert got == sorted(raw.decode().splitlines()), (fb, align)

    def test_no_trailing_newline(self, tmp_path):
        raw = b"alpha\nbeta\ngamma-no-newline"
        p = str(tmp_path / "nt.zst")
        write_seekable_zstd(raw, p, frame_bytes=8, align_lines=False)
        entries = parse_seek_table(p)
        got = sorted(
            ln for i in range(len(entries)) for ln in read_frame_lines(p, entries, i)
        )
        assert got == ["alpha", "beta", "gamma-no-newline"]

    def test_crlf_lines(self, tmp_path):
        raw = b"a\r\nbb\r\nccc\r\n"
        p = str(tmp_path / "crlf.zst")
        write_seekable_zstd(raw, p, frame_bytes=4, align_lines=False)
        entries = parse_seek_table(p)
        got = sorted(
            ln for i in range(len(entries)) for ln in read_frame_lines(p, entries, i)
        )
        assert got == ["a", "bb", "ccc"]

    def test_line_spanning_many_frames(self, tmp_path):
        raw = b"short\n" + b"L" * 5000 + b"\nshort2\n"
        p = str(tmp_path / "span.zst")
        write_seekable_zstd(raw, p, frame_bytes=64, align_lines=False)
        entries = parse_seek_table(p)
        assert len(entries) > 10
        got = sorted(
            ln for i in range(len(entries)) for ln in read_frame_lines(p, entries, i)
        )
        assert got == sorted(["short", "L" * 5000, "short2"])

    def test_empty_frames_own_nothing(self, tmp_path):
        """Hand-built file with empty frames between content frames:
        boundary lines stay owned by the preceding non-empty frame."""
        codec = pa.Codec("zstd")
        chunks = [b"a\nb", b"", b"\nc\n", b"", b""]
        p = str(tmp_path / "empty.zst")
        entries = []
        c_off = d_off = 0
        with open(p, "wb") as fh:
            for ch in chunks:
                comp = codec.compress(ch, asbytes=True)
                fh.write(comp)
                entries.append((len(comp), len(ch)))
                c_off += len(comp)
            fh.write(struct.pack("<II", SKIPPABLE_MAGIC, len(chunks) * 8 + 9))
            for cs, ds in entries:
                fh.write(struct.pack("<II", cs, ds))
            fh.write(struct.pack("<IBI", len(chunks), 0, SEEKABLE_MAGIC))
        es = parse_seek_table(p)
        per_frame = [read_frame_lines(p, es, i) for i in range(len(es))]
        assert per_frame[1] == [] and per_frame[3] == [] and per_frame[4] == []
        assert sorted(ln for fl in per_frame for ln in fl) == ["a", "b", "c"]


class TestSeamProperties:
    """Hypothesis hammering of the frame-ownership pairing WITHOUT Spark
    (mirrors byteblock's TestSeamProperties in decompressed-offset
    space): at ratio 1.0 the union over all frame partitions is the
    file's exact line sequence — every line exactly once, for random
    corpora (ragged/empty lines, missing trailing newline) and random
    frame splits including mid-line and empty frames."""

    def test_random_frame_splits_cover_exactly(self, tmp_path):
        import random

        from hypothesis import given, settings
        from hypothesis import strategies as st

        counter = [0]

        @settings(max_examples=120, deadline=None)
        @given(
            seed=st.integers(0, 10**6),
            n_lines=st.integers(0, 50),
            frame_bytes=st.integers(1, 64),
            align=st.booleans(),
        )
        def prop(seed, n_lines, frame_bytes, align):
            rnd = random.Random(seed)
            lines = ["x" * rnd.randint(0, 2 * frame_bytes) for _ in range(n_lines)]
            body = ("\n".join(lines) + ("\n" if rnd.random() < 0.8 or not lines else "")).encode()
            counter[0] += 1
            p = str(tmp_path / f"prop-{counter[0]}.zst")
            write_seekable_zstd(body, p, frame_bytes=frame_bytes, align_lines=align)
            entries = parse_seek_table(p)
            got = [
                ln
                for i in range(len(entries))
                for ln in read_frame_lines(p, entries, i)
            ]
            assert got == body.decode().splitlines(), (seed, n_lines, frame_bytes, align)

        prop()


class TestRound11Hardening:
    """Round-11 ADVICE fixes: streaming writer equivalence, level=0
    honored, mtime_ns/tuple cache contract, nonexistent-path error."""

    def test_stream_writer_matches_in_memory(self, tmp_path):
        """stream_seekable_zstd (O(frame_bytes) memory) must produce
        byte-identical output to the in-memory splitter for aligned and
        hostile splits, terminated and unterminated final lines."""
        import io

        from random_sampling_based_approximate_mapreduce_spark.sources.zstd_seekable_text import (
            stream_seekable_zstd,
        )

        cases = [
            (_make_text(200, seed=3), 700, True),
            (_make_text(200, seed=4), 700, False),
            (_make_text(50, seed=5)[:-1], 64, True),  # no trailing \n
            (b"", 16, True),  # empty input: one empty frame
            (b"one line no newline", 4, True),
            (b"\n\n\n", 1, True),
        ]
        for i, (raw, fb, align) in enumerate(cases):
            p_mem = str(tmp_path / f"mem-{i}.zst")
            p_str = str(tmp_path / f"str-{i}.zst")
            e_mem = write_seekable_zstd(raw, p_mem, frame_bytes=fb, align_lines=align)
            e_str = stream_seekable_zstd(
                io.BytesIO(raw), p_str, frame_bytes=fb, align_lines=align
            )
            assert e_mem == e_str, (i, fb, align)
            assert open(p_mem, "rb").read() == open(p_str, "rb").read(), i
            assert decompress_file(p_str) == raw, i

    def test_compression_level_zero_and_negative_honored(self, tmp_path):
        """level=0 (zstd 'library default') and negative fast levels must
        reach the codec, not be silently dropped by a truthiness check."""
        raw = _make_text(500, seed=11)
        sizes = {}
        for lvl in (None, 0, -5, 19):
            p = str(tmp_path / f"lvl{lvl}.zst")
            write_seekable_zstd(raw, p, frame_bytes=len(raw) + 1, level=lvl)
            assert decompress_file(p) == raw
            sizes[lvl] = os.path.getsize(p)
        # a fast negative level and a max level must actually differ —
        # proof the parameter reaches the codec
        assert sizes[-5] != sizes[19]

    def test_seek_table_cache_contract(self, corpus):
        """Cached tables are immutable tuples keyed on st_mtime_ns."""
        from random_sampling_based_approximate_mapreduce_spark.sources.zstd_seekable_text import (
            _TABLE_CACHE,
        )

        _, paths, _ = corpus
        p = paths[0]
        t1 = parse_seek_table(p)
        assert isinstance(t1, tuple), "cache must hand out immutable entries"
        assert parse_seek_table(p) is t1, "second call must be the cache hit"
        st = os.stat(p)
        assert (p, st.st_size, st.st_mtime_ns) in _TABLE_CACHE, (
            "cache key must use st_mtime_ns (float st_mtime truncation "
            "can alias a same-size overwrite)"
        )

    def test_nonexistent_path_says_no_files(self, tmp_path):
        with pytest.raises(ValueError, match="no files under"):
            pick_frames(str(tmp_path / "does-not-exist.zst"), 0.5)


class TestSparkSource:
    def test_ratio_one_is_the_exact_files(self, spark, corpus):
        d, _, raws = corpus
        sf = read_text_zstd_sampled(spark, d, 1.0)
        got = sorted(r["value"] for r in sf.df.collect())
        want = sorted(ln for raw in raws for ln in raw.decode().splitlines())
        assert got == want

    def test_sample_equals_ownership_oracle(self, spark, corpus):
        d, paths, raws = corpus
        for ratio, seed in ((0.4, 9), (0.15, 42)):
            sf = read_text_zstd_sampled(spark, d, ratio, seed=seed)
            got = sorted(r["value"] for r in sf.df.collect())
            want = sorted(
                ln
                for p, raw in zip(paths, raws)
                for ln in _ownership_oracle(raw, parse_seek_table(p), p, seed, ratio)
            )
            assert got == want, (ratio, seed)

    def test_partitions_are_only_picked_frames(self, spark, corpus):
        d, _, _ = corpus
        picked, picked_bytes, total_bytes = pick_frames(d, 0.4, seed=9)
        assert 0 < picked_bytes < total_bytes
        # batching packs picked frames into scan rows (round 13); the
        # rows cover EXACTLY the picked frames, in pick order, over at
        # most defaultParallelism tasks
        batches = ZSTD.batches(picked)
        assert [(f, i) for f, idxs in batches for i in idxs] == picked
        sf = read_text_zstd_sampled(spark, d, 0.4, seed=9)
        tasks = min(len(batches), spark.sparkContext.defaultParallelism)
        assert sf.df.rdd.getNumPartitions() == tasks

    def test_batches_respect_bytes_and_files(self, corpus):
        """Batches never cross a file and roll over at batch_bytes of
        compressed data; a tiny batch_bytes degenerates to one frame
        per task (the pre-round-13 layout)."""
        d, paths, _ = corpus
        picked, _, _ = pick_frames(d, 0.7, seed=3)
        assert len({f for f, _ in picked}) == len(paths)
        batches = ZSTD.batches(picked, batch_bytes=1)
        assert [(f, [i]) for f, i in picked] == batches
        big = ZSTD.batches(picked, batch_bytes=1 << 30)
        assert len(big) == len(paths)  # one batch per file
        assert [(f, i) for f, idxs in big for i in idxs] == picked
        with pytest.raises(ValueError, match="batch_bytes"):
            ZSTD.batches(picked, batch_bytes=0)

    def test_ht_scale_and_two_stage(self, spark, corpus):
        d, _, _ = corpus
        sf = read_text_zstd_sampled(spark, d, 0.4, seed=9)
        n = sf.df.count()
        est = sf.approx_count(alias="est").collect()[0]["est"]
        assert est == pytest.approx(n / 0.4)
        two = read_text_zstd_sampled(
            spark, d, 0.4, seed=9, row_config=SamplingConfig(ratio=0.5, seed=9)
        )
        n2 = two.df.count()
        est2 = two.approx_count(alias="est").collect()[0]["est"]
        assert est2 == pytest.approx(n2 / 0.2)
        assert n2 < n

    def test_never_empty_pick(self, corpus):
        d, _, _ = corpus
        picked, _, _ = pick_frames(d, 1e-9, seed=1)
        assert len(picked) == 1

    def test_non_zst_refused(self, tmp_path):
        (tmp_path / "x.txt").write_text("a\n")
        with pytest.raises(ValueError, match="zst"):
            pick_frames(str(tmp_path), 0.5)

    def test_bad_ratio(self, corpus):
        d, _, _ = corpus
        with pytest.raises(ValueError, match="ratio"):
            pick_frames(d, 0.0)
        with pytest.raises(ValueError, match="ratio"):
            pick_frames(d, 1.5)


def _run_oracle_keys(path, run_frames, seed, ratio):
    """Per-frame accept decision under the run-cluster pick: frame ->
    its run's md5 verdict (runs = consecutive chunks of run_frames
    data frames, per file)."""
    data_idxs = [i for i, e in enumerate(parse_seek_table(path)) if e.d_size]
    accept = {}
    for j, s in enumerate(range(0, len(data_idxs), run_frames)):
        ok = md5_accept(f"{seed}:{path}#frmrun{run_frames}:{j}", ratio)
        for i in data_idxs[s : s + run_frames]:
            accept[i] = ok
    return accept


class TestRunFrames:
    """run_frames > 1: the sampling cluster is a CONTIGUOUS run of K
    adjacent frames (VERDICT r12 item 2 — the BGZF run_blocks knob
    generalized to the frame rung). Ownership equivalence: a picked run
    keeps exactly the union of its frames' owned lines; HT semantics
    unchanged with the run as the unit. Mirrors
    tests/test_bgzf_text.py::TestRunBlocks test-for-test."""

    def test_run_pick_expands_accepted_runs(self, corpus):
        d, paths, _ = corpus
        K, seed, ratio = 3, 11, 0.4
        picked, pw, tw = pick_frames(d, ratio, seed=seed, run_frames=K)
        want = []
        for p in paths:
            acc = _run_oracle_keys(p, K, seed, ratio)
            want.extend((p, i) for i in sorted(acc) if acc[i])
        assert picked == want
        # weight accounting: picked bytes = sum of picked frames' c_size
        sizes = {p: parse_seek_table(p) for p in paths}
        assert pw == sum(sizes[f][i].c_size for f, i in picked)
        assert tw == sum(e.c_size for p in paths for e in sizes[p] if e.d_size)

    def test_run_frames_one_is_backcompat(self, corpus):
        """run_frames=1 keys are the historical per-frame keys — same
        picks, same partitions, bit-for-bit."""
        d, _, _ = corpus
        assert pick_frames(d, 0.3, seed=5, run_frames=1) == pick_frames(
            d, 0.3, seed=5
        )

    def test_picked_runs_are_contiguous(self, corpus):
        """A picked run's frames are adjacent on disk, so the reader
        decodes each run in ONE sequential pass — the whole point of
        the knob."""
        d, _, _ = corpus
        K = 4
        picked, _, _ = pick_frames(d, 0.3, seed=7, run_frames=K)
        runs = []
        for f, i in picked:
            if runs and runs[-1][0] == f and i == runs[-1][2]:
                runs[-1][2] = i + 1
            else:
                runs.append([f, i, i + 1])
        # every merged run is at least K frames unless it's a file tail
        for f, start, stop in runs:
            n_data = sum(1 for e in parse_seek_table(f) if e.d_size)
            assert stop - start >= min(K, n_data - start)

    def test_ratio_one_any_run_width_is_exact(self, spark, corpus):
        d, _, raws = corpus
        sf = read_text_zstd_sampled(spark, d, 1.0, run_frames=4)
        got = sorted(r["value"] for r in sf.df.collect())
        want = sorted(ln for raw in raws for ln in raw.decode().splitlines())
        assert got == want

    def test_run_partitions_stay_bounded(self, spark, corpus):
        """At ratio 1.0 the batch roll-over caps each scan row: a file
        never collapses into one giant row, and every picked frame
        lands in exactly one batch, in pick order (batching is
        scheduling only; runs compose with it because a run's frames
        are adjacent)."""
        d, paths, _ = corpus
        picked, _, _ = pick_frames(d, 1.0, seed=42, run_frames=4)
        batches = ZSTD.batches(picked, batch_bytes=2048)
        assert [(f, i) for f, idxs in batches for i in idxs] == picked
        assert len(batches) > len(paths)  # roll-over actually split files
        for f, idxs in batches:
            sizes = parse_seek_table(f)
            # a batch exceeds the cap by at most its last frame
            assert sum(sizes[i].c_size for i in idxs[:-1]) < 2048
        sf = read_text_zstd_sampled(spark, d, 1.0, run_frames=4, batch_bytes=2048)
        tasks = min(len(batches), spark.sparkContext.defaultParallelism)
        assert sf.df.rdd.getNumPartitions() == tasks

    def test_run_sample_equals_ownership_oracle(self, spark, corpus):
        """Sampled lines = lines whose OWNER frame sits in an accepted
        run — per-frame ownership composed with the run-level verdict,
        through Spark."""
        d, paths, raws = corpus
        K, seed, ratio = 3, 11, 0.4
        sf = read_text_zstd_sampled(spark, d, ratio, seed=seed, run_frames=K)
        got = sorted(r["value"] for r in sf.df.collect())
        want = []
        for p, raw in zip(paths, raws):
            entries = parse_seek_table(p)
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

    def test_run_ownership_equivalence_property(self, tmp_path):
        """Hypothesis: for random corpora, frame sizes, run widths and
        ratios, the run-cluster pick keeps EXACTLY the lines whose
        owner frame sits in an accepted run — i.e. run sampling is the
        per-frame ownership algebra composed with the run verdict,
        never a reimplementation that could drift at seams."""
        import random as _random

        from hypothesis import given, settings
        from hypothesis import strategies as st

        counter = [0]

        @settings(max_examples=60, deadline=None)
        @given(
            seed=st.integers(0, 10**6),
            n_lines=st.integers(0, 40),
            frame_bytes=st.integers(1, 64),
            align=st.booleans(),
            run_frames=st.integers(1, 7),
            ratio=st.sampled_from([0.2, 0.5, 0.9, 1.0]),
        )
        def prop(seed, n_lines, frame_bytes, align, run_frames, ratio):
            rnd = _random.Random(seed)
            lines = ["y" * rnd.randint(0, 2 * frame_bytes) for _ in range(n_lines)]
            body = (
                "\n".join(lines) + ("\n" if rnd.random() < 0.8 or not lines else "")
            ).encode()
            counter[0] += 1
            p = str(tmp_path / f"runprop-{counter[0]}.zst")
            write_seekable_zstd(body, p, frame_bytes=frame_bytes, align_lines=align)
            picked, _, _ = pick_frames(p, ratio, seed=seed, run_frames=run_frames)
            # decode picked frames as the reader does: contiguous runs
            runs = []
            for _, i in picked:
                if runs and i == runs[-1][1]:
                    runs[-1][1] = i + 1
                else:
                    runs.append([i, i + 1])
            entries = parse_seek_table(p)
            got = [
                ln
                for start, stop in runs
                for ln in read_frame_run_lines(p, entries, start, stop)
            ]
            # oracle: per-frame ownership filtered by the run verdict
            # (never-empty fallback handled by trusting picked itself)
            picked_idx = {i for _, i in picked}
            want = [
                ln
                for i in sorted(picked_idx)
                for ln in read_frame_lines(p, entries, i)
            ]
            assert got == want, (seed, n_lines, frame_bytes, align, run_frames, ratio)
            if ratio == 1.0:
                assert got == body.decode().splitlines()

        prop()

    def test_run_ht_scale(self, spark, corpus):
        d, _, _ = corpus
        sf = read_text_zstd_sampled(spark, d, 0.4, seed=11, run_frames=3)
        n = sf.df.count()
        est = sf.approx_count(alias="est").collect()[0]["est"]
        assert est == pytest.approx(n / 0.4)

    def test_bad_run_frames(self, corpus):
        d, _, _ = corpus
        with pytest.raises(ValueError, match="run_frames"):
            pick_frames(d, 0.5, run_frames=0)

    def test_suggest_run_frames_guidance(self):
        from random_sampling_based_approximate_mapreduce_spark.sources.zstd_seekable_text import (
            DEFAULT_FRAME_BYTES,
            suggest_run_frames,
        )

        # the shared crossover: singletons below r=0.01 (pick floor
        # dominates), clusters at moderate ratios — with THIS rung's
        # measured ~16 MB target (the x16000 grid's run_frames=4 at
        # the 4 MB default frame, which flipped both moderate-r cells)
        assert suggest_run_frames(0.001) == 1
        assert suggest_run_frames(0.005) == 1
        assert suggest_run_frames(0.025) == 4
        assert suggest_run_frames(0.1) == 4
        # scales with frame size toward the same measured cluster bytes
        assert suggest_run_frames(0.1, frame_bytes=1 << 20) == 16
        assert suggest_run_frames(0.1, target_cluster_bytes=DEFAULT_FRAME_BYTES) == 1
        with pytest.raises(ValueError, match="ratio"):
            suggest_run_frames(0.0)
