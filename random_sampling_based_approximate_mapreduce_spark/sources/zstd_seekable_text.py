"""Seekable-zstd text sampling — byte-skip inside .zst via the seekable
frame format.

Closes the one codec gap the byte-skip ladder honestly refused
(``byteblock_text`` / VERDICT r9 "what's missing" #2): a PLAIN zstd
stream has no independently decodable blocks, so a seek into it is
meaningless and stays refused. But zstd's SEEKABLE variant — the public
seekable_format spec shipped in the zstd repo (contrib/seekable_format/
zstd_seekable_compression_format.md) — is a sequence of ordinary,
INDEPENDENT zstd frames followed by a seek table carried in a standard
skippable frame. Every seekable-zstd file is also a valid plain zstd
file (any decompressor that concatenates frames and ignores skippable
frames reads it whole), and the seek table gives EXACT per-frame
(compressed_size, decompressed_size) — better than bzip2, where block
boundaries must be bit-scanned from magic numbers.

Format facts used (all from the public spec):

- seek table = skippable frame: LE32 magic ``0x184D2A5E``, LE32
  Frame_Size, then payload;
- payload = N entries (LE32 Compressed_Size, LE32 Decompressed_Size,
  optional LE32 Checksum when the descriptor's bit 7 is set) + a 9-byte
  footer: LE32 Number_Of_Frames, 1-byte Seek_Table_Descriptor, LE32
  Seekable_Magic_Number ``0x8F92EAB1`` — the LAST 9 bytes of the file,
  so the table is found by reading the tail only;
- each data frame is a self-contained zstd frame (magic ``0x28B52FFD``)
  decodable in isolation.

Sampling semantics: FRAMES are the clusters. ``pick_frames`` hash-picks
frame indices deterministically (md5 of (seed, file, frame index) — the
shared ``unit_source`` run pick, never-empty per pick) from
the seek table alone, so the pick costs a tail read per file, not a
scan. A picked frame becomes one partition that seeks straight to its
compressed offset and decompresses ONLY itself (pyarrow's zstd codec;
the seek table supplies the exact decompressed size the codec needs).
Unpicked frames are never opened, never read, never decoded.

Line-boundary contract: identical to ``byteblock_text`` but in
DECOMPRESSED offset space — a line belongs to the frame containing its
first byte; a reader whose frame starts at decompressed offset > 0
discards the line it lands in (the previous frame's reader finishes it,
pulling follow-on frames as needed), then emits lines whose start
offset is <= its frame end. Union over all frames at ratio 1.0 is
exactly the file (tests prove the seam algebra for arbitrary — not just
line-aligned — frame splits). Estimators HT-scale by 1/ratio exactly as
for byte blocks; ``row_config`` composes a within-frame Bernoulli stage.

The WRITER here (``write_seekable_zstd`` / ``convert_text_to_seekable``)
produces spec-conforming files (plain-zstd-decodable, verified in tests
against an independent frame walk) so layouts can be built without the
zstd CLI; files produced by the reference zstd seekable tools are read
by the same table parser. Files WITHOUT the seekable footer are refused
loudly — skipping inside a monolithic zstd stream cannot be honest —
with the same fallback ladder as byteblock_text (file-level clusters or
row Bernoulli through Spark's own codec).

100 TB shape: the FRAME is the sampling unit, but the PARTITION is a
batch of picked frames packed to ``batch_bytes`` (~4 MB compressed)
per task, never crossing a file (round 13 — the BGZF task-batching
carried over: the ×16000 grid measured a worker round-trip + boundary
fetch per one-frame task, and at 100 TB / r=0.1 one task per 4 MB
frame would be ~2.5M tasks); contiguous picked frames inside a batch
decode in one sequential pass. The pick is O(files) tail reads
driver-side.
``run_frames=K`` (round 13, VERDICT r12 item 2) widens the sampling
unit to a contiguous run of K adjacent frames — the BGZF rung's
contiguous-run pick carried over verbatim (the seek-table frame list is
the same SpanEntry shape as the block hop) — so a picked unit reads
K frames' compressed bytes in ONE sequential pass. At this rung's 4 MB
default frame the knob is rarely needed (a singleton is already a ~1 MB
sequential read); it exists for small-frame layouts and for symmetry
with ``bgzf_text``, and the ratio-1.0 prover
(``word_count_zstd_runs_exact``) value-oracles the run composition.
Frame checksums (XXH64 low bits) are parsed but not verified — no
xxhash in this environment's public deps; corruption still surfaces as
a zstd decode error.
"""

from __future__ import annotations

import os
import struct

from ..sampling.config import SamplingConfig
from ..sampling.sampled_frame import SampledFrame
from .seam_text import SpanEntry, run_lines
from .unit_source import (
    DEFAULT_BATCH_BYTES,
    TextRung,
    UnitTextDataSource,
    UnitTextReader,
    convert_parts,
    only_suffixes,
    read_sampled,
    remember,
)

SKIPPABLE_MAGIC = 0x184D2A5E
SEEKABLE_MAGIC = 0x8F92EAB1
ZSTD_FRAME_MAGIC = 0xFD2FB528  # bytes 28 B5 2F FD read as LE uint32
_FOOTER_BYTES = 9
DEFAULT_FRAME_BYTES = 4 << 20

# One data frame: the shared skip-unit descriptor (seam_text.SpanEntry);
# the frame-specific name is kept for this module's public surface.
FrameEntry = SpanEntry


# ---------------------------------------------------------------------------
# seek table: parse + write
# ---------------------------------------------------------------------------


_TABLE_CACHE: dict[tuple[str, int, int], tuple[FrameEntry, ...]] = {}


def parse_seek_table(path: str) -> tuple[FrameEntry, ...]:
    """Read the seekable-format table from the file TAIL (no data scan).

    Raises ValueError (with the fallback ladder) for files that are not
    seekable-format zstd — including plain single-frame .zst.

    Cached per (path, size, mtime_ns) (``unit_source.remember``): Spark
    reuses Python workers across tasks, and every frame partition of a
    file needs the same table — without the cache a 100k-frame file
    would pay an O(frames) tail read per task, O(frames^2) across its
    tasks. Keyed on st_mtime_ns (not the float st_mtime, whose
    sub-second truncation can alias a same-size overwrite) and
    stored/returned as an immutable tuple so no caller can mutate the
    cached entries (review r10 ADVICE).
    """
    st = os.stat(path)
    cache_key = (path, st.st_size, st.st_mtime_ns)
    hit = _TABLE_CACHE.get(cache_key)
    if hit is not None:
        return hit
    size = os.path.getsize(path)
    with open(path, "rb") as fh:
        if size < _FOOTER_BYTES + 8:
            raise ValueError(f"{path}: too small to be seekable zstd")
        fh.seek(size - _FOOTER_BYTES)
        n_frames, descriptor, magic = struct.unpack("<IBI", fh.read(_FOOTER_BYTES))
        if magic != SEEKABLE_MAGIC:
            raise ValueError(
                f"{path}: no zstd seekable-format seek table (footer magic "
                f"0x{magic:08X} != 0x{SEEKABLE_MAGIC:08X}). Frame-skip needs "
                "the seekable variant (zstd contrib seekable_format; this "
                "module's write_seekable_zstd produces it). For plain .zst "
                "use read_text_file_sampled (file-level clusters) or "
                "read_text_sampled (row Bernoulli) through Spark's codec"
            )
        if descriptor & 0x7C:
            raise ValueError(
                f"{path}: reserved seek-table descriptor bits set "
                f"(0x{descriptor:02X}) — refusing to guess the entry layout"
            )
        has_checksum = bool(descriptor & 0x80)
        entry_size = 12 if has_checksum else 8
        table_payload = n_frames * entry_size + _FOOTER_BYTES
        table_start = size - table_payload - 8
        if table_start < 0:
            raise ValueError(f"{path}: seek table larger than file (corrupt)")
        fh.seek(table_start)
        skip_magic, frame_size = struct.unpack("<II", fh.read(8))
        if skip_magic != SKIPPABLE_MAGIC:
            raise ValueError(
                f"{path}: seek-table skippable-frame magic mismatch "
                f"(0x{skip_magic:08X}) — truncated or corrupt seekable file"
            )
        if frame_size != table_payload:
            raise ValueError(
                f"{path}: seek-table size field {frame_size} != computed "
                f"{table_payload} (corrupt table)"
            )
        raw = fh.read(n_frames * entry_size)
    parsed: list[FrameEntry] = []
    c_off = 0
    d_off = 0
    for i in range(n_frames):
        c_size, d_size = struct.unpack_from("<II", raw, i * entry_size)
        parsed.append(FrameEntry(c_off, c_size, d_off, d_size))
        c_off += c_size
        d_off += d_size
    entries = tuple(parsed)
    if c_off != table_start:
        raise ValueError(
            f"{path}: frames sum to {c_off} compressed bytes but the seek "
            f"table starts at {table_start} (corrupt table)"
        )
    claims_empty = [e for e in parsed if e.d_size == 0 and e.c_size]
    if claims_empty:
        # Every d_size==0 entry is skipped by all readers (the frame is
        # never decoded), so a seek-table entry LYING d_size=0 for a
        # real frame would silently drop its lines and shift d_off
        # ownership for every later frame — the same corruption class
        # as a zeroed BGZF ISIZE trailer (bgzf_text.scan_blocks), and
        # unlike bgzf the seek table is a detached footer, so the lie
        # costs one flipped field. Decode each claims-empty frame into
        # a zero-byte budget: a truly empty frame (~9 bytes) passes; a
        # real payload makes zstd fail loudly. Normal files have no
        # such entries, so this path costs nothing.
        import pyarrow as pa

        codec = pa.Codec("zstd")
        with open(path, "rb") as fh:
            for e in claims_empty:
                fh.seek(e.c_off)
                buf = fh.read(e.c_size)
                try:
                    out = codec.decompress(buf, 0, asbytes=True)
                except Exception as exc:
                    raise ValueError(
                        f"{path}: frame at offset {e.c_off} claims "
                        f"decompressed size 0 in the seek table but fails "
                        f"a zero-budget decode ({exc}) — lying seek-table "
                        "entry (corrupt)"
                    ) from exc
                if out:
                    raise ValueError(
                        f"{path}: frame at offset {e.c_off} inflates to "
                        f"{len(out)} bytes but the seek table claims 0 "
                        "(lying seek-table entry)"
                    )
    return remember(_TABLE_CACHE, cache_key, entries)


def write_seekable_zstd(
    data: bytes,
    out_path: str,
    frame_bytes: int = DEFAULT_FRAME_BYTES,
    align_lines: bool = True,
    level: int | None = None,
) -> list[FrameEntry]:
    """Compress ``data`` as seekable zstd: independent frames of
    ~``frame_bytes`` decompressed bytes + the spec's seek table.

    ``align_lines=True`` extends each frame to the next newline (the
    natural layout for line data — seams then never split a line);
    tests also exercise ``align_lines=False`` to prove the reader's
    seam algebra on hostile splits. Returns the frame entries written.

    Thin wrapper over ``stream_seekable_zstd`` for in-memory inputs.
    """
    import io

    return stream_seekable_zstd(
        io.BytesIO(data),
        out_path,
        frame_bytes=frame_bytes,
        align_lines=align_lines,
        level=level,
    )



def stream_seekable_zstd(
    src,
    out_path: str,
    frame_bytes: int = DEFAULT_FRAME_BYTES,
    align_lines: bool = True,
    level: int | None = None,
) -> list[FrameEntry]:
    """Streaming seekable-zstd writer: reads ``src`` (a binary file-like)
    one frame at a time, so peak memory is O(frame_bytes) regardless of
    input size (review r10 ADVICE: the cold-skip layout builder held 8
    whole part files in RAM at once via ``fh.read()`` per thread).

    Frame split semantics are identical to the in-memory path: a frame is
    ``frame_bytes`` decompressed bytes, extended to the next newline when
    ``align_lines`` (so a frame always ends on a line boundary except the
    final one at EOF).
    """
    import pyarrow as pa

    if frame_bytes < 1:
        raise ValueError(f"frame_bytes must be >= 1, got {frame_bytes}")
    # `is not None`, not truthiness: zstd level 0 means "library default"
    # and negative fast levels are valid — 0 was the one silently-dropped
    # value (review r10 ADVICE)
    codec = (
        pa.Codec("zstd", compression_level=level)
        if level is not None
        else pa.Codec("zstd")
    )
    entries: list[FrameEntry] = []
    c_off = 0
    d_off = 0
    with open(out_path, "wb") as fh:
        while True:
            chunk = src.read(frame_bytes)
            if not chunk and entries:
                break  # EOF (an empty INPUT still writes one empty frame)
            if align_lines and chunk and not chunk.endswith(b"\n"):
                # extend through the next newline — readline() is the
                # streaming twin of the former in-memory `data.find`
                # walk, and returns b"" at EOF so the final unterminated
                # line is left intact
                chunk += src.readline()
            comp = codec.compress(chunk, asbytes=True)
            fh.write(comp)
            entries.append(FrameEntry(c_off, len(comp), d_off, len(chunk)))
            c_off += len(comp)
            d_off += len(chunk)
            if not chunk:
                break
        payload_size = len(entries) * 8 + _FOOTER_BYTES
        fh.write(struct.pack("<II", SKIPPABLE_MAGIC, payload_size))
        for e in entries:
            fh.write(struct.pack("<II", e.c_size, e.d_size))
        fh.write(struct.pack("<IBI", len(entries), 0, SEEKABLE_MAGIC))
    return entries


def convert_text_to_seekable(
    src_dir: str, dst_dir: str, frame_bytes: int = DEFAULT_FRAME_BYTES
) -> list[str]:
    """Convert every plain-text part file under ``src_dir`` to a
    seekable .zst under ``dst_dir`` (driver-side, one streaming pass per
    file, ``unit_source.convert_parts``) — the layout builder for
    fixtures and measurements. Peak memory is O(frame_bytes), not
    O(part size), and ``frame_bytes`` really sets the frames (review
    r10: it was silently dropped here, so every converted file was one
    4 MB-default frame and the oracled layout never crossed a seam).

    Writes a ``_SUCCESS`` marker like Spark's own writers: callers wrap
    this in ``ensure_layout``, whose published-check is that marker —
    without it every call would rebuild AND destructively replace a
    layout another session may be reading (review r10)."""
    return convert_parts(
        src_dir,
        dst_dir,
        ".zst",
        lambda fh, dst: stream_seekable_zstd(fh, dst, frame_bytes=frame_bytes),
    )


def decompress_file(path: str) -> bytes:
    """Whole-file decode via the seek table (tests compare this against
    the original bytes and against per-frame reads)."""
    return b"".join(_decode_frame(path, e) for e in parse_seek_table(path) if e.d_size)


# ---------------------------------------------------------------------------
# frame reader (byteblock seam algebra in decompressed-offset space)
# ---------------------------------------------------------------------------


class _FrameTailStream:
    """Readable stream over the decompressed bytes of frames ``j..`` —
    the seam algebra's boundary-line fetch, STREAMING (review r10: the
    aligned-layout common case needs only the successor frame's first
    line, and a one-shot ``Codec.decompress`` of that whole frame
    doubled every partition's decode work). ``CompressedInputStream``
    over the concatenated frames (libzstd streaming — it also skips the
    trailing seek-table skippable frame) decodes ~one 64 KB chunk
    instead; closing also closes the underlying file handle."""

    def __init__(self, path: str, c_off: int):
        import pyarrow as pa

        self._raw = pa.OSFile(path, "rb")
        self._raw.seek(c_off)
        self._stream = pa.CompressedInputStream(self._raw, "zstd")

    def read(self, n: int) -> bytes:
        return self._stream.read(n)

    def close(self) -> None:
        try:
            self._stream.close()
        finally:
            if not self._raw.closed:
                self._raw.close()


def _decode_frame(path: str, e: FrameEntry) -> bytes:
    import pyarrow as pa

    with open(path, "rb") as fh:
        fh.seek(e.c_off)
        return pa.Codec("zstd").decompress(fh.read(e.c_size), e.d_size, asbytes=True)


def read_frame_lines(path: str, entries: list[FrameEntry], idx: int) -> list[str]:
    """All lines OWNED by frame ``idx`` — the shared ``seam_text``
    pairing (one C-level split over the frame body; review r10: an
    O(n^2) readline re-slice made a 4 MB frame cost ~100x its decode).
    Only frame ``idx`` and the frames its edge lines actually span are
    decompressed."""

    return read_frame_run_lines(path, entries, idx, idx + 1)


def read_frame_run_lines(
    path: str, entries: list[FrameEntry], start: int, stop: int
) -> list[str]:
    """All lines OWNED by the CONTIGUOUS frame run ``[start, stop)`` —
    exactly the union of per-frame ownership (tests pin the
    equivalence), but each frame is decoded ONCE
    (``seam_text.run_lines``): per-frame reads of a contiguous run
    would fetch every interior boundary line by decoding into the
    following frame a second time — the same double-decode the BGZF run
    reader avoids (``bgzf_text.read_block_run_lines``)."""
    return run_lines(
        entries,
        start,
        stop,
        lambda e: _decode_frame(path, e),
        lambda j: _FrameTailStream(path, entries[j].c_off),
    )


ZSTD = TextRung(
    name="zstd_seekable_text",
    table=lambda path, _unit_bytes: parse_seek_table(path),
    read_run=read_frame_run_lines,
    check=only_suffixes((".zst", ".zstd"), "zstd_seekable_text expects .zst/.zstd files"),
    unit_tag="frm",
    run_tag="frmrun",
    run_option="run_frames",
    batched=True,
)


def pick_frames(
    path: str, ratio: float, seed: int = 42, run_frames: int = 1
) -> tuple[list[tuple[str, int]], int, int]:
    """Deterministic hash-pick of frames across all files from their seek
    tables alone. Returns (picked [(file, frame_idx)], picked_compressed
    bytes, total_compressed_bytes of data frames). Never empty. The
    accept rule + never-empty fallback is the shared ``pick_units``
    algebra, reached through ``unit_source.pick_runs``.

    ``run_frames > 1`` makes the sampling UNIT a contiguous run of that
    many adjacent data frames (the last run per file may be shorter) —
    the BGZF rung's contiguous-run pick (``bgzf_text.pick_blocks``,
    VERDICT r12 item 2) generalized to the frame rung; the seek-table
    frame list is the same SpanEntry offsets shape as the block hop, so
    the run algebra carries over verbatim. HT semantics are unchanged —
    every line's inclusion probability is still ``ratio``, with the run
    as the cluster — but a picked unit's compressed bytes are sequential
    on disk. The price is the same coarser pick floor (~run_frames x),
    and at this rung's 4 MB default frame a SINGLETON pick is already a
    ~1 MB sequential compressed read, so the knob matters mainly for
    small-frame layouts (the BGZF crossover analysis in
    ``bgzf_text.suggest_run_blocks`` applies with frame_bytes in place
    of block_bytes). ``run_frames=1`` is bit-for-bit the historical
    per-frame pick (same keys, same picks). Returned picks stay
    per-FRAME so downstream accounting is unchanged; a run's frames are
    adjacent, so the reader decodes each picked run in one pass."""
    return ZSTD.pick(path, ratio, seed, run=run_frames)


def batch_picked_frames(
    picked: list[tuple[str, int]], batch_bytes: int = DEFAULT_BATCH_BYTES
) -> list[tuple[str, list[int]]]:
    """Pack picked (file, frame_idx) units into per-task batches of
    ~``batch_bytes`` compressed bytes, never crossing a file boundary
    (a task holds one open file) — ``bgzf_text.batch_picked_blocks``
    carried to the frame rung (round 13: the ×16000 grid showed the
    one-task-per-frame layout pays a worker round-trip + boundary
    fetch per 4 MB frame, which is what the run knob was compensating
    for; at 100 TB and r=0.1 it would be ~2.5M tasks). The pick stays
    per-FRAME — batching changes scheduling, not sampling semantics;
    tests pin that the batched read equals the per-frame ownership
    oracle exactly."""
    return ZSTD.batches(picked, batch_bytes)


def suggest_run_frames(
    ratio: float,
    frame_bytes: int = DEFAULT_FRAME_BYTES,
    target_cluster_bytes: int = 16 << 20,
) -> int:
    """Measured guidance for ``run_frames`` — the shared crossover rule
    (``bgzf_text.suggest_run_blocks``: singletons below r=0.01 where
    the pick floor dominates, contiguous clusters at moderate ratios)
    with THIS rung's measured cluster target (~16 MB = runs of 4 at
    the default frame). History matters for reading the numbers: the
    round-13 ×16000 grid first measured runs of 4 flipping the losing
    moderate-r cells (r=0.1 warm 0.57x -> 1.04x, cold 1.07x -> 2.68x,
    COLD_SKIP_zstd_runframes_x16000.json), which exposed that the
    dominant cost was ONE-TASK-PER-FRAME scheduling, fixed the same
    round by ``batch_picked_frames`` (the BGZF task batching). On the
    batched reader (COLD_SKIP_zstd_batched_x16000.json) singletons
    already win every cell (r=0.1: 1.23x warm / 2.59x cold) and runs
    of 4 add a measured ~5-25% on top (1.29x / 3.0x; r=0.025: 2.46x ->
    3.02x warm, 5.41x -> 6.33x cold) — locality still pays, but the
    knob is now a margin, not a rescue. Advisory only, never applied
    automatically (the run key differs from the frame key, so a
    default change would silently change which rows a seeded sample
    returns)."""
    from .bgzf_text import suggest_run_blocks

    return suggest_run_blocks(
        ratio, block_bytes=frame_bytes, target_cluster_bytes=target_cluster_bytes
    )


class ZstdSeekableTextReader(UnitTextReader):
    rung = ZSTD


class ZstdSeekableTextDataSource(UnitTextDataSource):
    """format ``zstd_seekable_text``; options: path, ratio, seed,
    batch_bytes, run_frames."""

    reader_class = ZstdSeekableTextReader


def read_text_zstd_sampled(
    spark,
    path: str,
    frame_ratio: float,
    seed: int = 42,
    row_config: SamplingConfig | None = None,
    batch_bytes: int = DEFAULT_BATCH_BYTES,
    run_frames: int = 1,
) -> SampledFrame:
    """Seekable-zstd frame cluster sample -> SampledFrame.

    Every line's inclusion probability is ``frame_ratio`` (its frame's
    independent acceptance), so estimators HT-scale by 1/frame_ratio;
    ``row_config`` composes a within-frame Bernoulli row stage — the
    same two-stage algebra as the byteblock / bzip2 / file samplers.
    ``batch_bytes`` packs picked frames into per-task batches
    (scheduling only — sampling semantics are per-cluster; round 13,
    the BGZF task-batching carried over). ``run_frames`` widens the
    cluster to a contiguous run of that many frames, trading
    pick-floor granularity for sequential I/O locality (see
    ``pick_frames``; ``suggest_run_frames`` gives this rung's measured
    crossover)."""
    knobs = {"batch_bytes": batch_bytes, "run_frames": run_frames}
    source = ZstdSeekableTextDataSource
    return read_sampled(spark, source, path, frame_ratio, seed, row_config, **knobs)
