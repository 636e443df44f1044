"""Shared line-seam ownership algebra for unit-compressed text sources.

Two byte-skip sources have a skip unit that is an independently
decodable compressed span with exact (compressed, decompressed) extents
— seekable-zstd frames (``zstd_seekable_text``) and BGZF gzip blocks
(``bgzf_text``) — and the uncompressed byteblock source reads its byte
blocks through the same pairing with an identity decode. All three
share ONE line-ownership rule (the project rule since r8: shared algebra
lands once, like ``sources.unit_source.pick_runs`` for the cluster
pick); the bzip2 rung applies the same rule to bit-scanned blocks in
``bzip2_block_text.read_range_lines``:

- a line belongs to the unit whose DECOMPRESSED span contains its first
  byte;
- a reader whose unit starts at decompressed offset > 0 lands mid-line
  (or exactly on a boundary) and discards the line it lands in — the
  previous unit's reader owns and finishes it, pulling follow-on units
  as needed;
- a line starting exactly at a unit's END boundary is owned by that
  unit (the follower discards it), so the pairing never loses or
  duplicates a line;
- the union over all units at ratio 1.0 is exactly the file, for
  arbitrary — not just line-aligned — unit splits (each source's
  Hypothesis seam sweep pins this).

This module holds the rule once, parameterized by two callables so each
codec supplies only its decode:

- ``decode_unit(entry) -> bytes`` — the decompressed bytes of one unit;
- ``open_stream(j) -> file-like`` — a readable stream over the
  decompressed bytes of units ``j..`` (used only to fetch the boundary
  line's tail, typically one small read).

``SpanEntry`` is the shared unit descriptor: compressed span
[c_off, c_off+c_size) in the file, decompressed span
[d_off, d_off+d_size) in the logical stream.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class SpanEntry:
    """One skip unit: compressed span [c_off, c_off+c_size) in the file,
    decompressed span [d_off, d_off+d_size) in the logical stream."""

    c_off: int
    c_size: int
    d_off: int
    d_size: int


def next_line_bytes(entries, j: int, open_stream):
    """Decompressed bytes of units ``j..`` up to and EXCLUDING the first
    newline (i.e. one line's content); ``None`` if there are no
    decompressed bytes at all past ``j`` (EOF).

    Streaming: the aligned-layout common case needs only the successor
    unit's first line, so this reads ~one small chunk instead of
    decoding whole units (the r10 zstd lesson — a one-shot decompress of
    the whole successor frame doubled every partition's decode work).
    """
    if all(e.d_size == 0 for e in entries[j:]):
        return None
    stream = open_stream(j)
    try:
        out = bytearray()
        while True:
            chunk = stream.read(64 * 1024)
            if not chunk:
                return bytes(out)
            nl = chunk.find(b"\n")
            if nl >= 0:
                out += chunk[:nl]
                return bytes(out)
            out += chunk
    finally:
        stream.close()


def unit_lines(entries, idx: int, decode_unit, open_stream) -> list[str]:
    """All lines OWNED by unit ``idx`` under the shared pairing: start
    offset strictly inside its decompressed span, plus the boundary line
    starting exactly at its end (the follower discards that line).

    One C-level ``split`` over the unit body instead of a per-line
    buffer scan; only unit ``idx`` and the units its edge lines actually
    span are decoded.
    """
    e = entries[idx]
    if e.d_size == 0:
        return []  # empty span: no line starts inside it, boundary owned
        # by the preceding non-empty unit (each source's tests pin this)
    data = decode_unit(e)
    if e.d_off > 0:
        # land mid-line (or on a boundary): the previous unit's reader
        # owns the line we land in — drop through its newline
        cut = data.find(b"\n")
        if cut < 0:
            return []  # the whole unit is inside one line
        body = data[cut + 1 :]
    else:
        body = data
    parts = body.split(b"\n")
    if data.endswith(b"\n"):
        parts.pop()  # split's trailing empty piece, not a line
        # a line starts exactly at this unit's end boundary: owned here
        # (the follower discards it); its bytes live entirely in later
        # units
        boundary = next_line_bytes(entries, idx + 1, open_stream)
        if boundary is not None:
            parts.append(boundary)
    elif parts:
        # final straddler: complete it from the following units
        tail = next_line_bytes(entries, idx + 1, open_stream)
        if tail is not None:
            parts[-1] = parts[-1] + tail
    return [
        (p[:-1] if p.endswith(b"\r") else p).decode("utf-8", errors="replace")
        for p in parts
    ]


def run_lines(entries, start: int, stop: int, decode_unit, open_stream) -> list[str]:
    """All lines OWNED by the contiguous units ``[start, stop)`` —
    exactly the union of per-unit ownership (the pairing depends only on
    span boundaries, so merging interior boundaries merges ownership),
    but each unit is decoded ONCE: per-unit reads would fetch every
    interior boundary line by decoding the following unit a second time.
    ``open_stream(j)`` streams the decompressed bytes of units ``j..``."""
    stop = min(stop, len(entries))
    if start >= stop:
        return []
    first, last, tail = entries[start], entries[stop - 1], entries[-1]
    end_c, end_d = last.c_off + last.c_size, last.d_off + last.d_size
    # the run as one unit, followed by the rest of the stream as another
    view = [
        SpanEntry(first.c_off, end_c - first.c_off, first.d_off, end_d - first.d_off),
        SpanEntry(end_c, tail.c_off + tail.c_size - end_c, end_d, tail.d_off + tail.d_size - end_d),
    ]
    return unit_lines(
        view,
        0,
        lambda _e: b"".join(decode_unit(entries[i]) for i in range(start, stop) if entries[i].d_size),
        lambda _j: open_stream(stop),
    )
