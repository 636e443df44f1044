"""Byte-block text sampling — skip-without-read for RAW uncompressed text.

The reference's readers skip rejected records at the byte level: the XML
reader seeks past an unsampled page without buffering it
(RandomizedXMLRecordReader.java:117-123), so a rejected record costs a
tag scan, not a parse — but it still READS every byte of the stream.
This source goes one step further down the same axis: hash-pick BYTE
BLOCKS of each file driver-side (from file sizes alone — no I/O), and
make the picked blocks the scan's partitions. Unpicked blocks are never
opened, never read, never decoded — the text analog of the parquet
row-group skipper (sources/rowgroup_parquet.py), completing the engine's
cluster-sampling ladder:

    file-level    sources/files.pick_files     zero I/O per skipped file
    byte-block    THIS MODULE                  zero I/O per skipped block,
                                               works on a SINGLE huge file
    row-group     sources/rowgroup_parquet     columnar twin (exact counts)
    row-level     SampledFrame / df.sample     exact Bernoulli, full scan

Line-boundary contract (the standard splittable-text rule, same as
Hadoop's LineRecordReader): a line BELONGS to the block containing its
first byte — the shared ``seam_text`` ownership rule with an identity
decode (a block's "decompressed" bytes are its raw bytes). A reader
discards the partial line it lands in (the previous block's reader
finishes it, whether or not that block was picked), then emits lines
until its end offset. Union over all blocks at ratio 1.0 is exactly the
file, no loss, no duplication (tests/test_byteblock_text.py proves the
partition-boundary algebra). The pick, the Spark source and the
sampled-read wrapper are the shared ``unit_source`` ones.

Estimator contract: blocks are CLUSTERS accepted independently with
probability ``ratio`` (md5 of (seed, file, block index) — deterministic,
replay-stable). Every line's inclusion probability is its block's
acceptance probability = ratio, so HT scale-up is 1/ratio, unbiased for
totals; between-block variance adds to the Bernoulli bound exactly as
documented for file-level sampling (the clusters are just finer). The
never-empty fallback (keep the hash-min block) perturbs π only on
pathologically tiny inputs, like the row-group picker.

Compression: a seek into a gzip/zstd stream is meaningless (the
reference hits the same wall and falls back to whole-stream reads,
RandomizedXMLRecordReader.java:93-97). This source refuses compressed
inputs: .bz2 goes to ``bzip2_block_text`` (bzip2 blocks ARE
independently decodable, so the byte-skip win survives compression
there — round 9); other codecs go to ``read_text_file_sampled``
(file-level clusters) / ``read_text_sampled`` (row Bernoulli), which
handle them transparently.

100 TB shape: one picked block = one task = one contiguous ~``block_bytes``
read — the natural text split. The pick is a driver-side stat() pass
(O(files)); at extreme file counts distribute the listing like any
catalog. Arrow batches carry rows into the JVM columnar-side.
"""

from __future__ import annotations

from ..sampling.config import SamplingConfig
from ..sampling.sampled_frame import SampledFrame
from .seam_text import SpanEntry, run_lines
from .unit_source import (
    ByteSpans,
    TextRung,
    UnitTextDataSource,
    UnitTextReader,
    pick_spans,
    read_sampled,
)

DEFAULT_BLOCK_BYTES = 16 << 20

_COMPRESSED_EXTS = (".gz", ".bz2", ".zst", ".zstd", ".snappy", ".lz4", ".deflate")


def _accept_block(path: str, idx: int, seed: int, ratio: float) -> bool:
    from ..sampling.deterministic import md5_accept

    return md5_accept(f"{seed}:{path}#blk{idx}", ratio)


def _refuse_compressed(files: list[str]) -> None:
    for f in files:
        if f.endswith(_COMPRESSED_EXTS):
            raise ValueError(
                f"byte-block sampling cannot seek into compressed input {f}; "
                "use bzip2_block_text (block-level byte skip) for .bz2, or "
                "read_text_file_sampled (file-level clusters) / "
                "read_text_sampled (row Bernoulli) for other codecs"
            )


def read_block_run(path: str, table, start: int, stop: int) -> list[str]:
    """All lines OWNED by the contiguous blocks ``[start, stop)``: the
    shared ``seam_text.run_lines`` with an identity decode. It is the
    Hadoop LineRecordReader pairing: since every follower block discards
    its first line UNCONDITIONALLY, a block owns lines starting at any
    offset <= its end (including exactly its end), and its last line is
    finished past its end whether or not the next block was picked.
    Exactly one terminator (\\n or \\r\\n) is stripped, like
    ``spark.read.text``; classic-Mac \\r-only endings are out of
    contract, as for Hadoop's default LineReader."""

    def read_span(e: SpanEntry) -> bytes:
        with open(path, "rb") as fh:
            fh.seek(e.c_off)
            return fh.read(e.c_size)

    def open_stream(j: int):
        fh = open(path, "rb")
        fh.seek(table[j].c_off)
        return fh

    return run_lines(table, start, stop, read_span, open_stream)


BYTEBLOCK = TextRung(
    name="byteblock_text",
    table=ByteSpans,
    read_run=read_block_run,
    check=_refuse_compressed,
    unit_tag="blk",
    unit_option="block_bytes",
    default_unit_bytes=DEFAULT_BLOCK_BYTES,
)


def pick_blocks(
    path: str, ratio: float, block_bytes: int = DEFAULT_BLOCK_BYTES, seed: int = 42
) -> tuple[list[tuple[str, int, int]], int, int]:
    """Deterministic hash-pick of byte blocks across all files.

    Returns (picked [(file, start, end)], picked_bytes, total_bytes).
    Never returns an empty pick (hash-min fallback). Block boundaries are
    raw byte offsets — the READER aligns them to line boundaries.
    """
    return pick_spans(BYTEBLOCK, path, ratio, block_bytes, seed)


class ByteBlockTextReader(UnitTextReader):
    rung = BYTEBLOCK


class ByteBlockTextDataSource(UnitTextDataSource):
    """format ``byteblock_text``; options: path, ratio, block_bytes, seed."""

    reader_class = ByteBlockTextReader


def read_text_byteblock_sampled(
    spark,
    path: str,
    block_ratio: float,
    block_bytes: int = DEFAULT_BLOCK_BYTES,
    seed: int = 42,
    row_config: SamplingConfig | None = None,
) -> SampledFrame:
    """Byte-block cluster sample of raw text -> SampledFrame.

    Every line's inclusion probability is ``block_ratio`` (its block's
    independent acceptance), so estimators HT-scale by 1/block_ratio.
    ``row_config`` composes a within-block Bernoulli row stage (two-stage
    design, same algebra as the file-level and row-group samplers).
    """
    source = ByteBlockTextDataSource
    return read_sampled(spark, source, path, block_ratio, seed, row_config, block_bytes=block_bytes)
