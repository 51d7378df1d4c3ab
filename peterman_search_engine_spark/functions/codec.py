"""Posting-list codecs — SURVEY.md §2.2 B5-B7.

Byte-format parity with the reference:

* ``DeltaVarLenCompressor`` (``index/inverted/DeltaVarLenCompressor.java:16-101``):
  delta vs previous value (first delta taken against 0), each delta
  encoded MSB-first base-128 varint — 7 payload bits per byte, the
  high bit is a continuation flag set on every byte except the last.
  Golden bytes (``Team3CompressorTest.java:24-101``):
    [1,2,3,4,5,6]            -> 01 01 01 01 01 01
    [128,384,896,1920,3968]  -> 81 00 82 00 84 00 88 00 90 00
    [2147483647]             -> 87 ff ff ff 7f
* ``NaiveCompressor`` (``index/inverted/NaiveCompressor.java:14-28``):
  4-byte big-endian ints, no compression.

All encode/decode is numpy-vectorized (no per-int Python loops); these
run inside the Arrow posting-build kernel during segment build and
inside the re-encode pandas UDF of merges and compactions.
Reads of stored position lists decode inside the JVM instead
(``varint_positions_sql``, a Spark SQL expression), so no query or
maintenance plan ships position bytes to a Python worker.
"""

from __future__ import annotations

import numpy as np

# 1..9 bytes: full non-negative int64 range. The reference only ever
# encodes Java ints (<= 5 bytes, DeltaVarLenCompressor.java:48-57) and
# the byte format below is identical over that range; the extra
# thresholds matter at 10^12-turn scale, where the FIRST delta of a
# posting list is an absolute doc_id that can exceed 2^35 — a 5-byte
# cap would silently corrupt it (caught by the hypothesis roundtrip
# property in tests/test_skew_and_codec_props.py).
_THRESHOLDS = np.array([1 << (7 * k) for k in range(1, 9)], dtype=np.int64)


def _varint_nbytes(vals: np.ndarray) -> np.ndarray:
    """Bytes needed per value (1..5) for unsigned base-128 varint."""
    return 1 + np.searchsorted(_THRESHOLDS, vals, side="right").astype(np.int64)


def delta_varint_encode(values: np.ndarray | list[int]) -> bytes:
    """Encode a sorted (non-decreasing not required, but postings are
    sorted) int sequence as delta + MSB-first varint bytes."""
    vals = np.asarray(values, dtype=np.int64)
    if vals.size == 0:
        return b""
    deltas = np.empty_like(vals)
    deltas[0] = vals[0]
    np.subtract(vals[1:], vals[:-1], out=deltas[1:])
    if deltas.min() < 0:
        raise ValueError("delta_varint_encode requires non-decreasing input")
    nb = _varint_nbytes(deltas)
    ends = np.cumsum(nb)
    total = int(ends[-1])
    out = np.zeros(total, dtype=np.uint8)
    # Fill byte j-from-last for every value with >= j+1 bytes; set the
    # continuation bit on all but the final byte. 5 passes max.
    maxb = int(nb.max())
    for j in range(maxb):  # j = distance from the value's last byte
        mask = nb > j
        pos = ends[mask] - 1 - j
        payload = (deltas[mask] >> (7 * j)) & 0x7F
        if j > 0:
            payload |= 0x80
        out[pos] = payload.astype(np.uint8)
    return out.tobytes()


def delta_varint_encode_grouped(
    values: np.ndarray, starts: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Encode MANY posting lists stored back-to-back in one flat array
    in a single vectorized pass. ``values`` is the concatenation of
    the groups' sorted values; ``starts`` the 0-based start index of
    each group (``starts[0] == 0``). The delta resets at every group
    start (first delta taken against 0), so each group's byte slice is
    byte-identical to ``delta_varint_encode`` of that group alone.

    Returns ``(buf, byte_offsets)``: one uint8 buffer holding every
    group's bytes contiguously, and an int64 array of G+1 offsets —
    exactly the (offsets, data) pair an Arrow BinaryArray wants, so a
    whole segment's blobs materialize with zero per-list Python.

    Empty groups (``starts[i] == starts[i+1]``, or a trailing
    ``starts[i] == values.size``) are valid and yield a zero-length
    byte slice (``byte_offsets[i+1] == byte_offsets[i]``).
    """
    vals = np.asarray(values, dtype=np.int64)
    starts = np.asarray(starts, dtype=np.int64)
    if vals.size == 0:
        return np.empty(0, dtype=np.uint8), np.zeros(len(starts) + 1, dtype=np.int64)
    deltas = np.empty_like(vals)
    deltas[0] = vals[0]
    np.subtract(vals[1:], vals[:-1], out=deltas[1:])
    # reset: first delta of a group vs 0 (a trailing empty group has
    # starts == vals.size — no value to reset)
    rs = starts[starts < vals.size]
    deltas[rs] = vals[rs]
    if deltas.min() < 0:
        raise ValueError("groups must be internally non-decreasing")
    nb = _varint_nbytes(deltas)
    ends = np.cumsum(nb)
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    for j in range(int(nb.max())):
        mask = nb > j
        pos = ends[mask] - 1 - j
        payload = (deltas[mask] >> (7 * j)) & 0x7F
        if j > 0:
            payload |= 0x80
        out[pos] = payload.astype(np.uint8)
    # group i's end offset = end byte of the last value BEFORE the next
    # group's start. An empty group shares its predecessor's end (zero
    # bytes); leading empty groups (group_last == -1) end at offset 0.
    group_last = np.append(starts[1:], vals.size) - 1
    byte_offsets = np.concatenate(
        ([0], np.where(group_last >= 0, ends[np.maximum(group_last, 0)], 0))
    )
    return out, byte_offsets


def delta_varint_decode(blob: bytes, offset: int = 0, length: int | None = None) -> np.ndarray:
    """Decode delta+varint bytes back to the original int64 values.

    ``offset``/``length`` give partial decode of a byte slice that
    must start at a value boundary (mirrors the reference's
    ``Compressor.decode(bytes, start, length)`` partial-decode API,
    ``index/inverted/Compressor.java:18-27``) — note a partial slice
    yields the *deltas-decoded-from-zero* values of that slice, exactly
    as the reference does when a posting block is cut."""
    if length is None:
        length = len(blob) - offset
    buf = np.frombuffer(blob, dtype=np.uint8, count=length, offset=offset).astype(np.int64)
    if buf.size == 0:
        return np.empty(0, dtype=np.int64)
    is_final = (buf & 0x80) == 0
    # group id per byte: 0-based index of the value it belongs to
    gid = np.zeros(buf.size, dtype=np.int64)
    gid[1:] = np.cumsum(is_final)[:-1]
    nvals = int(gid[-1]) + 1
    if not is_final[-1]:
        raise ValueError("truncated varint stream")
    # position of each byte from the END of its group
    ends = np.flatnonzero(is_final)  # last byte index per group
    dist_from_end = ends[gid] - np.arange(buf.size)
    weights = np.left_shift(np.int64(1), 7 * dist_from_end)
    contrib = (buf & 0x7F) * weights
    deltas = np.zeros(nvals, dtype=np.int64)
    np.add.at(deltas, gid, contrib)
    return np.cumsum(deltas)


def varint_positions_sql(slice_sql: str) -> str:
    """``delta_varint_decode`` of a binary SQL expression, as Spark SQL
    text for ``F.expr``: ``array<int>``, null for a null slice, ``[]``
    for an empty one. The bytes become ints through their hex digits,
    then one ``aggregate`` folds them over the state ``(out, v, last)``:
    a byte below 128 ends a value and appends ``last + (v << 7 | b)``;
    any other byte accumulates ``v = v << 7 | (b & 127)``. The values
    must fit an int, as position lists do.

    SQL text rather than a ``Column`` builder: the parser builds the
    whole lambda tree in one call, where the Column API makes hundreds
    of driver-to-JVM calls per query plan, and text nests inside an
    enclosing lambda (``indexer.with_positions``)."""
    return (
        "aggregate("
        f"transform(regexp_extract_all(hex({slice_sql}), '..', 0), "
        "hx -> cast(conv(hx, 16, 10) as int)), "
        "named_struct('out', cast(array() as array<int>), 'v', 0, 'last', 0), "
        "(st, bt) -> if(bt < 128, "
        "named_struct('out', concat(st.out, array(st.last + (shiftleft(st.v, 7) | bt))), "
        "'v', 0, 'last', st.last + (shiftleft(st.v, 7) | bt)), "
        "named_struct('out', st.out, 'v', shiftleft(st.v, 7) | (bt & 127), 'last', st.last)), "
        "st -> st.out)"
    )


def naive_encode(values: np.ndarray | list[int]) -> bytes:
    """B7 NaiveCompressor: 4-byte big-endian ints."""
    return np.asarray(values, dtype=">i4").tobytes()


def naive_decode(blob: bytes, offset: int = 0, length: int | None = None) -> np.ndarray:
    if length is None:
        length = len(blob) - offset
    return np.frombuffer(blob, dtype=">i4", count=length // 4, offset=offset).astype(np.int64)


def block_offsets(n: int, block_size: int) -> list[tuple[int, int]]:
    """(start, end) value-index ranges for fixed-size posting blocks —
    the granularity at which block max-scores are stored for
    block-max WAND pruning (north-star addition; no reference
    counterpart — the closest analogue is the per-segment dictionary
    skip at ``InvertedIndexManager.java:617``)."""
    return [(i, min(i + block_size, n)) for i in range(0, n, block_size)]
