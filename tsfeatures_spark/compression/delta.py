"""Delta-of-delta + zigzag varint block codec for integer token windows.

Lossless: ``decode(encode(x)) == x`` exactly (the engine's token-array
equality invariant, BASELINE.json input_hint). Fully vectorized NumPy —
no per-element Python in the hot path.

Layout (little-endian):
  [u8 version=1][u64 n][i64 first][i64 first_delta][varint-zigzag dd...]
n==0 -> header only; n==1 -> first only is meaningful.
"""

from __future__ import annotations

import struct

import numpy as np


class BlockCorruption(ValueError):
    """A block failed structural validation during decode."""


_MAGIC = 1


def zigzag_encode(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.int64, copy=False)
    return ((v << 1) ^ (v >> 63)).astype(np.uint64)


def zigzag_decode(u: np.ndarray) -> np.ndarray:
    u = u.astype(np.uint64, copy=False)
    return ((u >> np.uint64(1)).astype(np.int64)) ^ -((u & np.uint64(1)).astype(np.int64))


def varint_encode_ex(u: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Vectorized LEB128 encode of a uint64 array.
    Returns (buffer, per-value byte counts) so callers can split the stream.
    """
    u = u.astype(np.uint64, copy=False)
    n = u.shape[0]
    if n == 0:
        return b"", np.empty(0, dtype=np.int64)
    # bytes needed per value: ceil(bit_length/7), min 1
    tmp = u.copy()
    nbytes = np.ones(n, dtype=np.int64)
    tmp >>= np.uint64(7)
    while np.any(tmp):
        more = tmp > 0
        nbytes[more] += 1
        tmp >>= np.uint64(7)
    total = int(nbytes.sum())
    out = np.empty(total, dtype=np.uint8)
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    # write byte position j of every value that has >= j+1 bytes
    max_b = int(nbytes.max())
    for j in range(max_b):
        sel = nbytes > j
        vals = (u[sel] >> np.uint64(7 * j)) & np.uint64(0x7F)
        cont = (nbytes[sel] - 1) > j
        out[starts[sel] + j] = vals.astype(np.uint8) | (cont.astype(np.uint8) << 7)
    return out.tobytes(), nbytes


def varint_encode(u: np.ndarray) -> bytes:
    return varint_encode_ex(u)[0]


def varint_decode(buf: bytes, count: int) -> np.ndarray:
    """Vectorized LEB128 decode of ``count`` values."""
    if count == 0:
        return np.empty(0, dtype=np.uint64)
    b = np.frombuffer(buf, dtype=np.uint8)
    is_end = (b & 0x80) == 0
    if int(is_end.sum()) < count:
        raise BlockCorruption(f"varint stream truncated: {int(is_end.sum())} < {count} values")
    ends = np.flatnonzero(is_end)[:count]
    starts = np.concatenate([[0], ends[:-1] + 1])
    nbytes = ends - starts + 1
    out = np.zeros(count, dtype=np.uint64)
    max_b = int(nbytes.max())
    for j in range(max_b):
        sel = nbytes > j
        out[sel] |= (b[starts[sel] + j].astype(np.uint64) & np.uint64(0x7F)) << np.uint64(7 * j)
    return out


def dod_encode(x: np.ndarray) -> bytes:
    """Delta-of-delta encode an int array (token window)."""
    x = np.asarray(x).astype(np.int64, copy=False)
    n = x.shape[0]
    first = int(x[0]) if n >= 1 else 0
    first_delta = int(x[1] - x[0]) if n >= 2 else 0
    header = struct.pack("<BQqq", _MAGIC, n, first, first_delta)
    if n <= 2:
        return header
    d = np.diff(x)
    dd = np.diff(d)
    return header + varint_encode(zigzag_encode(dd))


def split_windows(n: int, W: int, lengths=None) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Windows of ``n`` ticks holding series of ``lengths`` (default: one
    series) laid end to end, each cut into ``W``-tick windows that restart
    at the series' first tick; the last window of a series may be short
    and an empty series has none. Returns each window's start and length,
    and each tick's window index."""
    lengths = np.asarray([n] if lengths is None else lengths, dtype=np.int64)
    if int(lengths.sum()) != n:
        raise ValueError(f"series lengths sum to {int(lengths.sum())}, not {n}")
    nw = -(-lengths // W)
    k = np.arange(int(nw.sum())) - np.repeat(np.cumsum(nw) - nw, nw)
    starts = np.repeat(np.cumsum(lengths) - lengths, nw) + k * W
    L = np.minimum(W, np.repeat(lengths, nw) - k * W)
    return starts, L, np.repeat(np.arange(len(L)), L)


def join_blocks(parts: list[tuple[np.ndarray, np.ndarray]]) -> list[bytes]:
    """One block per window from byte streams that each hold one segment
    per window, given as (uint8 stream, per-window segment sizes): block w
    is segment w of every part in order. All blocks are scattered into one
    buffer, then sliced."""
    sizes = sum(counts for _, counts in parts)
    ends = np.cumsum(sizes)
    at = ends - sizes
    out = np.empty(int(ends[-1]) if len(ends) else 0, dtype=np.uint8)
    for data, counts in parts:
        out[np.arange(len(data)) + np.repeat(at - (np.cumsum(counts) - counts), counts)] = data
        at = at + counts
    buf = out.tobytes()
    return [buf[a:b] for a, b in zip((ends - sizes).tolist(), ends.tolist())]


_HEADER = np.dtype([("magic", "u1"), ("n", "<u8"), ("first", "<i8"), ("first_delta", "<i8")])


def dod_encode_windows(x: np.ndarray, W: int, lengths=None) -> list[bytes]:
    """Batched per-window delta-of-delta encode: ONE varint pass over the
    concatenated window dd-streams, one packed header array, one output
    buffer. ``x`` is one series, or with ``lengths`` several laid end to
    end whose windows restart at each series boundary. Output blocks are
    byte-identical to calling ``dod_encode`` per window (a window's dd
    array is the slice of the series' dd whose three ticks share that
    window)."""
    x = np.asarray(x).astype(np.int64, copy=False)
    n = x.shape[0]
    starts, L, win = split_windows(n, W, lengths)
    nw = len(starts)
    if nw == 0:
        return []
    dd = np.diff(x, n=2)[win[:-2] == win[2:]]
    buf, nbytes = varint_encode_ex(zigzag_encode(dd))
    counts = np.maximum(L - 2, 0)
    cum = np.concatenate([[0], np.cumsum(nbytes)])
    val_ends = np.cumsum(counts)
    hdr = np.zeros(nw, dtype=_HEADER)
    hdr["magic"] = _MAGIC
    hdr["n"] = L
    hdr["first"] = x[starts]
    hdr["first_delta"] = np.where(L >= 2, x[np.minimum(starts + 1, n - 1)] - x[starts], 0)
    return join_blocks([(hdr.view(np.uint8), np.full(nw, _HEADER.itemsize)),
                        (np.frombuffer(buf, dtype=np.uint8), cum[val_ends] - cum[val_ends - counts])])


def dod_decode(buf: bytes) -> np.ndarray:
    """Inverse of dod_encode; returns int64 array.
    Raises BlockCorruption on malformed input (integrity auditing is the
    lineage table's sha256 digests; this is the structural backstop)."""
    if len(buf) < struct.calcsize("<BQqq"):
        raise BlockCorruption(f"block too short: {len(buf)} bytes")
    magic, n, first, first_delta = struct.unpack_from("<BQqq", buf, 0)
    if magic != _MAGIC:
        raise BlockCorruption(f"bad delta-block magic {magic}")
    if n == 0:
        return np.empty(0, dtype=np.int64)
    if n == 1:
        return np.array([first], dtype=np.int64)
    dd = zigzag_decode(varint_decode(buf[struct.calcsize("<BQqq"):], n - 2)) if n > 2 else np.empty(0, dtype=np.int64)
    deltas = np.empty(n - 1, dtype=np.int64)
    deltas[0] = first_delta
    if n > 2:
        deltas[1:] = first_delta + np.cumsum(dd)
    out = np.empty(n, dtype=np.int64)
    out[0] = first
    out[1:] = first + np.cumsum(deltas)
    return out
