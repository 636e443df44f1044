"""Bzip2-block byte-skip sampling — splittable COMPRESSED text input.

Closes the one gap byteblock_text leaves open (its module docstring, and
VERDICT r8 "what's missing" #2): the reference samples splits INSIDE
splittable-compressed XML streams (RandomizedXMLRecordReader.java:76-106
rides Hadoop's SplittableCompressionCodec), while ``byteblock_text``
refuses codecs and the engine fell back to whole-stream reads. This
module restores the I/O-skip win for bzip2 — the one mainstream codec
whose format makes mid-stream entry possible — using only public format
facts (the bzip2 format is documented in the bzip2 sources and the
Hadoop/commons-compress splittable readers):

- a .bz2 STREAM is ``"BZh" + level digit`` then a sequence of blocks,
  each starting with the 48-bit magic 0x314159265359 at an arbitrary
  BIT offset, then a 32-bit block CRC; the stream ends with the 48-bit
  footer magic 0x177245385090 + a combined CRC.
- a block decompresses INDEPENDENTLY: fabricate a single-block stream
  (``"BZh9"`` header — the digit only sizes the decoder buffer, so 9 is
  always safe — + the block's bits re-aligned to byte boundaries + the
  footer magic + the block's own CRC, which IS the combined CRC of a
  one-block stream) and hand it to ``bz2.decompress``. Round-trip
  equality over every block is pinned in tests.

Sampling design — the byteblock contract transplanted to COMPRESSED
offset space, so the whole cluster-sampling ladder (file / byte-block /
row-group / row) keeps one algebra:

- COMPRESSED byte ranges are hash-picked from file sizes alone (zero
  plan-time I/O; unpicked ranges are never opened — the actual skip).
- a BLOCK belongs to the range containing its magic's first bit; a LINE
  belongs to the block containing its first byte. A reader decodes its
  owned blocks, drops content up to and including the first newline
  (unless it owns the file's first block), emits complete lines, then
  decodes FORWARD block-by-block just far enough to finish its final
  straddling line — exactly Hadoop's LineRecordReader pairing, so the
  union over all ranges at ratio 1.0 is the file, no loss, no dup
  (tests prove the partition-boundary algebra per range size).
- every line's inclusion probability is its range's acceptance
  probability = ``ratio`` -> HT scale-up 1/ratio, the same estimator
  contract as byteblock_text (clusters are compressed ranges).

Honesty notes:
- magic false positives (the 48-bit pattern arising inside compressed
  data, ~2^-48 per bit position) are handled by retrying a failed block
  decode against successive candidate end positions; a start-position
  false positive (astronomically rarer: it must also sit exactly where
  a range begins scanning) raises a clear error rather than emitting
  wrong text.
- multi-stream files (pbzip2-style concatenation) work: block discovery
  is magic-based, per-block decode is stream-independent, and line
  ownership is defined file-wide (only the FILE's first block keeps its
  first line).
- gzip/zstd/lz4 remain refused in byteblock_text: their formats have no
  independently-decodable blocks, so a seek is genuinely meaningless
  there. bzip2 is the codec where the reference's semantics can be met
  honestly.

100 TB shape: one picked range = one task = one contiguous
~``range_bytes`` compressed read + a numpy bit-shift magic scan (8
shifted copies of the range) + per-block decode (itself a numpy bulk
bit-realign + one C ``bz2.decompress``). Decode dominates, as it
should; unpicked ranges cost nothing. Scale ``range_bytes`` to a few
compressed blocks (default 4 MiB ~ 4-40 bzip2 blocks depending on
level).
"""

from __future__ import annotations

import bz2
import os

from ..sampling.config import SamplingConfig
from ..sampling.sampled_frame import SampledFrame
from .unit_source import (
    ByteSpans,
    TextRung,
    UnitTextDataSource,
    UnitTextReader,
    cluster_bytes,
    only_suffixes,
    pick_spans,
    read_sampled,
)

BLOCK_MAGIC = 0x314159265359
FOOTER_MAGIC = 0x177245385090
_MAGIC_BITS = 48
_FIRST_BLOCK_BIT = 32  # "BZh" + level digit = 4 bytes of stream header
DEFAULT_RANGE_BYTES = 4 << 20
_SCAN_CHUNK = 1 << 20  # forward-scan window when hunting the next magic


def _shift_left(data: bytes, s: int) -> bytes:
    """``data`` as a bit string shifted left by ``s`` bits (numpy bulk).

    Output byte i = bits [i*8+s, i*8+s+8) of the input; one byte shorter
    than the input for s > 0 (the final partial byte is dropped).
    """
    import numpy as np

    if s == 0:
        return data
    a = np.frombuffer(data, dtype=np.uint8).astype(np.uint16)
    return (((a[:-1] << s) | (a[1:] >> (8 - s))) & 0xFF).astype(np.uint8).tobytes()


def _find_all_magics(data: bytes, base_byte: int, magics: tuple[int, ...]) -> list[int]:
    """ABSOLUTE bit offsets of any of ``magics`` starting within ``data``.

    Each 48-bit pattern is byte-aligned in exactly one of the 8
    left-shifted copies of the buffer; ``bytes.find`` does the rest. A
    match at shifted-byte i under shift s = absolute bit
    ``(base_byte + i) * 8 + s``. All patterns are searched against the
    SAME shifted buffers — the shift is the expensive part (review r9:
    shifting separately per pattern doubled the scan cost on the hot
    per-partition path).
    """
    if len(data) < 6:
        return []
    pats = [m.to_bytes(6, "big") for m in magics]
    hits: list[int] = []
    for s in range(8):
        shifted = _shift_left(data, s)
        for pat in pats:
            i = 0
            while (i := shifted.find(pat, i)) >= 0:
                hits.append((base_byte + i) * 8 + s)
                i += 1
    return sorted(hits)


def _find_magics(data: bytes, base_byte: int, magic: int) -> list[int]:
    """Single-pattern convenience over ``_find_all_magics``."""
    return _find_all_magics(data, base_byte, (magic,))


def assert_bz2_layout_shape(d: str, what: str) -> None:
    """Layout-shape assertion for oracled .bz2 layouts (review r10: a
    value-oracled seam query is only as strong as its fixture's shape, so
    builders verify their own nontrivial shape at BUILD time): >= 2
    non-empty part files, every part holds >= 1 block magic, and any part
    whose decompressed size spans multiple 900k bzip2 blocks actually
    contains >= 2 (magic candidates can false-positive at ~2^-48 per bit
    position — negligible, and only the >= direction is asserted).

    Caveat: bzip2's RLE1 stage runs BEFORE the 900k block split, so a
    pathologically run-heavy input (megabytes of one repeated byte) can
    legally pack >2x900k decompressed bytes into one block and fail this
    guard. That is the desired behavior for ORACLED layouts — such a
    fixture genuinely has no block seam to cross, so the build should
    fail loudly rather than publish a seam oracle that tests nothing."""
    import bz2 as _bz2

    from .tables import assert_layout_shape

    for p in assert_layout_shape(d, min_parts=2, what=what):
        with open(p, "rb") as fh:
            raw = fh.read()
        n = len(_find_magics(raw, 0, BLOCK_MAGIC))
        need = 2 if len(_bz2.decompress(raw)) >= 2 * 900_000 else 1
        if n < need:
            raise ValueError(
                f"{what}: {os.path.basename(p)} has {n} bzip2 block "
                f"magic(s), need >= {need} for its decompressed size — "
                "the oracle would not cross a block seam in this file "
                "(layout-shape assertion, review r10)"
            )


def _get_bits(data: bytes, bit_start: int, nbits: int) -> int:
    byte0 = bit_start // 8
    byte_n = (bit_start + nbits + 7) // 8
    chunk = int.from_bytes(data[byte0:byte_n], "big")
    total = (byte_n - byte0) * 8
    return (chunk >> (total - (bit_start - byte0 * 8) - nbits)) & ((1 << nbits) - 1)


class _BitWriter:
    """Accumulate bit-granular writes into a byte buffer (zero-padded)."""

    def __init__(self) -> None:
        self._acc = 0
        self._n = 0
        self.out = bytearray()

    def write(self, val: int, nbits: int) -> None:
        self._acc = (self._acc << nbits) | (val & ((1 << nbits) - 1))
        self._n += nbits
        while self._n >= 8:
            self.out.append((self._acc >> (self._n - 8)) & 0xFF)
            self._n -= 8
            self._acc &= (1 << self._n) - 1

    def write_aligned(self, data: bytes) -> None:
        assert self._n == 0, "write_aligned requires byte alignment"
        self.out.extend(data)

    def padded(self) -> bytes:
        if self._n:
            self.out.append((self._acc << (8 - self._n)) & 0xFF)
            self._n = 0
        return bytes(self.out)


def decode_block(data: bytes, bit_start: int, bit_end: int) -> bytes:
    """Decompress ONE block given its bit span [magic_start, next_magic).

    Fabricates the single-block stream described in the module
    docstring. The block body is byte-aligned in one numpy pass (the
    4-byte header leaves the writer byte-aligned, so the body is bulk-
    appended; only the <=7 leftover bits and the footer go through the
    bit writer).
    """
    crc = _get_bits(data, bit_start + _MAGIC_BITS, 32)
    s = bit_start % 8
    first_byte = bit_start // 8
    nbits = bit_end - bit_start
    aligned = _shift_left(data[first_byte : (bit_end + 7) // 8 + 1], s)
    n_full = nbits // 8
    rem = nbits - n_full * 8
    w = _BitWriter()
    for b in b"BZh9":
        w.write(b, 8)
    w.write_aligned(aligned[:n_full])
    if rem:
        w.write(aligned[n_full] >> (8 - rem), rem)
    w.write(FOOTER_MAGIC, _MAGIC_BITS)
    w.write(crc, 32)
    return bz2.decompress(w.padded())


class _FileWindow:
    """Lazily-extended in-memory window of a file from ``base`` onward.

    A partition only ever touches [its range start, forward spill]; the
    window grows forward on demand, so bytes before the range and after
    the spill are never read. All offsets are absolute file offsets.
    """

    def __init__(self, path: str, base: int) -> None:
        self._fh = open(path, "rb")
        self._base = base
        self._fh.seek(base)
        self._buf = bytearray()
        self._eof = False
        self.size = os.path.getsize(path)

    def close(self) -> None:
        self._fh.close()

    def ensure(self, upto_abs: int) -> None:
        need = upto_abs - self._base - len(self._buf)
        while need > 0 and not self._eof:
            chunk = self._fh.read(max(need, _SCAN_CHUNK))
            if not chunk:
                self._eof = True
                break
            self._buf.extend(chunk)
            need -= len(chunk)

    def slice(self, a_abs: int, b_abs: int) -> bytes:
        if a_abs < self._base:
            raise ValueError(
                f"window starts at byte {self._base}, requested {a_abs}"
            )
        b_abs = min(b_abs, self.size)
        self.ensure(b_abs)
        return bytes(self._buf[a_abs - self._base : b_abs - self._base])


class _CandidateScanner:
    """Monotonic cached scan for block/footer magics from ``from_byte``.

    One numpy shift pass per _SCAN_CHUNK window, results cached — the
    per-block end lookups during a range decode reuse the same scan
    instead of re-shifting a fresh window per block (profiled: the
    rescan cost exceeded the bz2 decompression itself before this).
    The scan starts at ``from_byte``, so a magic straddling the range
    start is invisible — correctly: it belongs to the previous range.
    """

    def __init__(self, win: _FileWindow, from_byte: int) -> None:
        self._win = win
        self._scanned_to = from_byte
        self._cands: list[int] = []

    def next_after(self, bit: int) -> int | None:
        """First cached-or-scanned magic at bit > ``bit`` (None at EOF)."""
        import bisect

        while True:
            i = bisect.bisect_right(self._cands, bit)
            if i < len(self._cands):
                return self._cands[i]
            if self._scanned_to >= self._win.size:
                return None
            stop = min(self._scanned_to + _SCAN_CHUNK, self._win.size)
            data = self._win.slice(
                self._scanned_to, min(stop + 6, self._win.size)
            )
            found = _find_all_magics(
                data, self._scanned_to, (BLOCK_MAGIC, FOOTER_MAGIC)
            )
            # a magic starting at byte >= stop is re-found (without the
            # 6-byte-overlap truncation risk) by the next window
            self._cands.extend(c for c in found if c < stop * 8)
            self._scanned_to = stop


def _is_block_magic(win: _FileWindow, bit: int) -> bool:
    data = win.slice(bit // 8, bit // 8 + 7)
    return _get_bits(data, bit - (bit // 8) * 8, _MAGIC_BITS) == BLOCK_MAGIC


def _decode_block_robust(
    win: _FileWindow, bit_start: int, scanner: _CandidateScanner | None = None
) -> tuple[bytes, int]:
    """Decode the block at ``bit_start``; returns (text, end_bit).

    The end is the next block/footer magic candidate; a candidate that
    is a false positive (the 48-bit pattern inside compressed data)
    makes the decode fail, so successive candidates are tried — which
    also means false positives INSIDE an owned block are skipped over
    naturally. Gives up after 8 candidates: at that point ``bit_start``
    itself is almost surely a false positive, and wrong text must never
    be emitted.
    """
    if scanner is None:
        scanner = _CandidateScanner(win, bit_start // 8)
    end = bit_start + _MAGIC_BITS
    for _ in range(8):
        nxt = scanner.next_after(end)
        if nxt is None:
            raise ValueError(
                f"bzip2 block at bit {bit_start}: no end magic before EOF "
                "(truncated file or false-positive block magic)"
            )
        end = nxt
        try:
            data = win.slice(bit_start // 8, end // 8 + 8)
            base_bit = (bit_start // 8) * 8
            return decode_block(data, bit_start - base_bit, end - base_bit), end
        except (OSError, EOFError, ValueError, IndexError):
            # a truncated fabricated stream raises ValueError
            # ("Compressed data ended before the end-of-stream marker")
            # — verified empirically, 400/400 simulated false-positive
            # ends raise exactly that (review r9: the original tuple
            # caught only OSError/EOFError, making this retry dead
            # code); OSError covers corrupt-data shapes, EOFError the
            # incremental-decompressor analogue. IndexError (review
            # r10): a false-positive end candidate in the file's last
            # bytes can clamp decode_block's aligned slice short at
            # EOF, so aligned[n_full] is out of bounds — that candidate
            # is wrong by construction and must be retried, not crash.
            continue
    raise ValueError(
        f"bzip2 block at bit {bit_start}: decode failed against 8 candidate "
        "ends — the start magic itself is likely a false positive"
    )


_refuse_non_bz2 = only_suffixes(
    (".bz2",),
    "bzip2_block_text reads .bz2 files only; raw text wants byteblock_text, "
    "other codecs want read_text_file_sampled / read_text_sampled",
)


def suggest_range_bytes(
    path_or_total: "str | int",
    ratio: float,
    target_picks: int = 20,
    min_range: int = 256 * 1024,
    max_range: int = DEFAULT_RANGE_BYTES,
) -> int:
    """Measured guidance for the compressed-range size, NOT an automatic
    default (a default change would silently change which lines a
    seeded sample returns — the unit index is part of the pick key, so
    callers opt in explicitly; the bgzf rung's ``suggest_run_blocks``
    has the same contract).

    Unlike the bgzf run knob, this rung's cluster size must scale with
    the CORPUS: the range is the sampling unit, so the expected picked
    count is total_bytes * ratio / range_bytes — too-large ranges hit
    the pick floor and quantization (few units), too-small ranges pay
    one task per pick plus whole-bzip2-block decode waste (a range
    shorter than its ~100-250 KiB compressed block decodes the block
    anyway). The x1000 grid
    (docs/bench/LOG_BZIP2_RANGE_GRID_x1000.json, 2.5 GB corpus) pins
    both walls: at r=0.1 cold speedup rises 1.04x -> 6.9x from 64 KiB
    to 4 MiB ranges; at r=0.001 it falls 50.6x -> 15.2x from 256 KiB
    to 4 MiB (achieved ratio 0.00063 vs 0.00167 — the floor). The best
    measured cell at each ratio matches range_bytes ~ total * r /
    ``target_picks`` (~20 expected picks), floored at one compressed
    block and capped at the 4 MiB task-size default — this function
    returns that (``unit_source.cluster_bytes``), rounded down to a
    power of two.

    ``path_or_total``: a layout dir/file (sizes summed) or an explicit
    total compressed byte count."""
    is_path = isinstance(path_or_total, str)
    total = sum(map(os.path.getsize, BZIP2.files(path_or_total))) if is_path else int(path_or_total)
    raw = cluster_bytes(total, ratio, min_range, max_range, target_picks)
    return 1 << raw.bit_length() - 1


# a reader must know whether its first owned block is the FILE's first
# block (that one keeps its first line; every other drops through its
# first newline). "magic at bit 32" is NOT sufficient: a concatenated
# file can open with an EMPTY stream (header + footer only — pbzip2
# emits these), pushing the first data block past bit 32; the naive rule
# dropped the file's first line there (review r9, repro'd). Exact rule:
# no block magic exists before `first`. start == 0 readers know this
# from their own scan; others verify by reading the prefix — bounded,
# because a blockless prefix can only be empty 14-byte streams, so a
# prefix past the cap means ~75k concatenated empty streams. Beyond the
# cap the owner assumes non-first; to keep that assumption from ever
# LOSING a line silently, the start == 0 reader independently raises on
# such a file (_guard_pathological_prefix) — a clear job error instead
# of wrong output, per the module's honesty stance (review r9, xhigh).
_FILE_FIRST_SCAN_CAP = 1 << 20


def _guard_pathological_prefix(scanner: "_CandidateScanner") -> None:
    """Raise if the file's first BLOCK magic lies beyond the scan cap.

    Called only by the start == 0 reader (once per file, cached scan):
    walks candidates from the stream header, skipping footers of empty
    streams, until a block magic (normal: the very first candidate) or
    the cap. A file with no blocks at all (empty-only streams) is fine —
    there is no line to lose.
    """
    c = scanner.next_after(_FIRST_BLOCK_BIT - 1)
    while c is not None:
        byte = c // 8
        if byte > _FILE_FIRST_SCAN_CAP:
            raise ValueError(
                "bzip2_block_text: the file's first data block sits past "
                f"{_FILE_FIRST_SCAN_CAP} bytes of blockless prefix "
                "(~75k concatenated empty streams) — beyond the "
                "file-first ownership scan cap, so line ownership cannot "
                "be established honestly. Re-compress the file without "
                "the degenerate empty-stream prefix."
            )
        if _is_block_magic(scanner._win, c):
            return
        c = scanner.next_after(c)


def _is_file_first_block(path: str, start: int, first_bit: int) -> bool:
    if start == 0:
        # the scanner covered [0, first) from byte 0; only non-block
        # candidates (footers of empty streams) preceded `first`
        return True
    first_byte = first_bit // 8
    if first_byte > _FILE_FIRST_SCAN_CAP:
        return False
    with open(path, "rb") as fh:
        prefix = fh.read(first_byte + 6)
    return not any(
        m < first_bit for m in _find_magics(prefix, 0, BLOCK_MAGIC)
    )


def _strip_cr(line: bytes) -> str:
    if line.endswith(b"\r"):
        line = line[:-1]
    return line.decode("utf-8", errors="replace")


def read_range_lines(path: str, start: int, end: int) -> list[str]:
    """All text lines OWNED by compressed range [start, end) of a .bz2.

    Pure-Python core shared by the Spark reader and the tests' ownership
    oracle — the ownership contract lives here exactly once. See the
    module docstring for the contract; the byteblock quirk is preserved:
    a line starting exactly at a block boundary belongs to the PREVIOUS
    block (owners always read one line past their content; followers
    always drop through their first newline).
    """
    win = _FileWindow(path, start)
    try:
        end_limit = end * 8
        scanner = _CandidateScanner(win, start)
        from_bit = max(start * 8, _FIRST_BLOCK_BIT)
        first = scanner.next_after(from_bit - 1)
        while first is not None and first < end_limit and not _is_block_magic(win, first):
            first = scanner.next_after(first)
        if first is None or first >= end_limit:
            if start == 0:
                # the byte-0 reader is the one place the pathological
                # blockless-prefix case (first block past the scan cap)
                # can be detected exactly — fail the job loudly there
                # rather than let the true owner silently drop line 1
                _guard_pathological_prefix(scanner)
            return []  # no block starts here; some other range owns these bytes
        parts: list[bytes] = []
        cur: int | None = first
        while cur is not None and cur < end_limit:
            if _is_block_magic(win, cur):
                text, cur = _decode_block_robust(win, cur, scanner)
                parts.append(text)
            else:
                cur = scanner.next_after(cur)  # skip footers / stream headers
        content = b"".join(parts)
        file_first = _is_file_first_block(path, start, first)
        if not file_first:
            nl = content.find(b"\n")
            if nl < 0:
                # the whole range is the middle of one line owned by an
                # earlier block (its reader decodes forward through us)
                return []
            content = content[nl + 1 :]
        pieces = content.split(b"\n")
        tail = pieces.pop()  # bytes after the last newline (may be empty)
        out = [_strip_cr(p) for p in pieces]
        # finish the straddling final line: decode forward block-by-block
        # until a newline or EOF. ``cur`` sits at the first candidate at
        # or past the range end (or None at EOF).
        fwd = bytearray()
        found_nl = False
        while cur is not None:
            if not _is_block_magic(win, cur):
                cur = scanner.next_after(cur)
                continue
            text, cur = _decode_block_robust(win, cur, scanner)
            fwd.extend(text)
            if b"\n" in fwd:
                found_nl = True
                break
        if found_nl:
            j = bytes(fwd).find(b"\n")
            out.append(_strip_cr(tail + bytes(fwd[:j])))
        elif tail or fwd:
            out.append(_strip_cr(tail + bytes(fwd)))  # file without final \n
        return out
    finally:
        win.close()


def _read_range_run(path: str, table, start: int, stop: int) -> list[str]:
    # one range = a few decompressed blocks (bounded by range_bytes *
    # bzip2's ~10x text ratio), so materializing before batching is
    # bounded by the partition size by construction
    last = table[stop - 1]
    return read_range_lines(path, table[start].c_off, last.c_off + last.c_size)


BZIP2 = TextRung(
    name="bzip2_block_text",
    table=ByteSpans,
    read_run=_read_range_run,
    check=_refuse_non_bz2,
    unit_tag="bzr",
    unit_option="range_bytes",
    default_unit_bytes=DEFAULT_RANGE_BYTES,
)


def pick_ranges(
    path: str, ratio: float, range_bytes: int = DEFAULT_RANGE_BYTES, seed: int = 42
) -> tuple[list[tuple[str, int, int]], int, int]:
    """Deterministic hash-pick of COMPRESSED byte ranges across files.

    Same pick algebra as ``byteblock_text.pick_blocks`` (md5 of
    (seed, file, index), never-empty hash-min fallback); boundaries are
    compressed offsets — the READER resolves them to whole bzip2 blocks
    and line boundaries. Returns (picked [(file, start, end)],
    picked_bytes, total_bytes).
    """
    return pick_spans(BZIP2, path, ratio, range_bytes, seed)


class Bzip2BlockTextReader(UnitTextReader):
    rung = BZIP2


class Bzip2BlockTextDataSource(UnitTextDataSource):
    """format ``bzip2_block_text``; options: path, ratio, range_bytes, seed."""

    reader_class = Bzip2BlockTextReader


def read_text_bzip2_sampled(
    spark,
    path: str,
    range_ratio: float,
    range_bytes: int = DEFAULT_RANGE_BYTES,
    seed: int = 42,
    row_config: SamplingConfig | None = None,
) -> SampledFrame:
    """Compressed-range cluster sample of .bz2 text -> SampledFrame.

    Every line's inclusion probability is ``range_ratio`` (its range's
    independent acceptance); estimators HT-scale by 1/range_ratio.
    ``row_config`` composes a within-range Bernoulli row stage — the
    same two-stage algebra as the byteblock / file-level samplers.

    ``range_bytes`` is this rung's cluster-size knob:
    ``suggest_range_bytes(path, range_ratio)`` returns the measured
    guidance (~ total*r/20, floored at one compressed block, capped at
    the 4 MiB default — docs/SCALE.md round-15 addendum has the grid).
    Deliberately NOT applied automatically: the unit index is part of
    the pick key, so a default change would silently change which
    lines a seeded sample returns.
    """
    source = Bzip2BlockTextDataSource
    return read_sampled(spark, source, path, range_ratio, seed, row_config, range_bytes=range_bytes)
