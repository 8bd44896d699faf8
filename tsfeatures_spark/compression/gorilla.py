"""Gorilla-style XOR block codec for float64 series.

XORs each value's bit pattern with its predecessor (the core idea of
Facebook's Gorilla TSDB, Pelkonen et al., VLDB 2015; successors like
Chimp, VLDB 2022, refine the bit packing), then stores each XOR
result byte-aligned with leading zero *bytes* stripped (a byte-aligned
variant of Facebook Gorilla's bit-packing — same XOR-of-successive-values
core, simpler framing so the codec stays fully NumPy-vectorized; the
round-trip is bit-exact, which is the engine invariant. Bit-level packing
is a ratio optimisation, not a semantics change).

Layout: [u8 version=2][u64 n][f64 first][u4-pairs len nibbles][payload bytes]
Each XOR value stores ``nbytes`` (0..8) in a nibble stream, then its
significant little-endian bytes in the payload.
"""

from __future__ import annotations

import struct

import numpy as np

from .delta import BlockCorruption, join_blocks, split_windows

_MAGIC = 2
_HEADER = np.dtype([("magic", "u1"), ("n", "<u8"), ("first", "<f8")])


def xor_encode(x: np.ndarray) -> bytes:
    x = np.ascontiguousarray(np.asarray(x, dtype=np.float64))
    n = x.shape[0]
    header = struct.pack("<BQd", _MAGIC, n, float(x[0]) if n else 0.0)
    if n <= 1:
        return header
    bits = x.view(np.uint64)
    xors = bits[1:] ^ bits[:-1]
    m = xors.shape[0]
    # significant bytes per xor value (0 if identical)
    nbytes = np.zeros(m, dtype=np.uint8)
    tmp = xors.copy()
    while np.any(tmp):
        nz = tmp > 0
        nbytes[nz] += 1
        tmp >>= np.uint64(8)
    # nibble stream of lengths
    if m % 2 == 1:
        nib = np.concatenate([nbytes, np.zeros(1, dtype=np.uint8)])
    else:
        nib = nbytes
    packed_len = (nib[0::2] | (nib[1::2] << 4)).tobytes()
    # payload: for each value, its nbytes little-endian bytes
    total = int(nbytes.sum())
    payload = np.empty(total, dtype=np.uint8)
    ends = np.cumsum(nbytes.astype(np.int64))
    starts = ends - nbytes
    max_b = int(nbytes.max()) if m else 0
    for j in range(max_b):
        sel = nbytes > j
        payload[starts[sel] + j] = ((xors[sel] >> np.uint64(8 * j)) & np.uint64(0xFF)).astype(np.uint8)
    return header + packed_len + payload.tobytes()


def xor_encode_windows(x: np.ndarray, W: int, lengths=None) -> list[bytes]:
    """Batched per-window XOR encode: the pairwise XORs, significant-byte
    counts, nibble stream and payload bytes for ALL windows are computed in
    one vectorized pass, headers come from one packed array, and every
    block goes into one output buffer. ``x`` is one series, or with
    ``lengths`` several laid end to end whose windows restart at each
    series boundary. Output blocks are byte-identical to ``xor_encode`` of
    each window (pinned by test): the XOR chain is window-local because
    each window re-seeds from its own first value, and each window's
    nibble run is padded to a whole byte. This is the higher-tier block
    path of the rollup cascade."""
    x = np.ascontiguousarray(np.asarray(x, dtype=np.float64))
    starts, L, win = split_windows(x.shape[0], W, lengths)
    nw = len(starts)
    if nw == 0:
        return []
    bits = x.view(np.uint64)
    xors = (bits[1:] ^ bits[:-1])[win[1:] == win[:-1]]
    nbytes = np.zeros(len(xors), dtype=np.uint8)
    tmp = xors.copy()
    while np.any(tmp):
        nz = tmp > 0
        nbytes[nz] += 1
        tmp >>= np.uint64(8)
    ends = np.cumsum(nbytes.astype(np.int64))
    starts_b = ends - nbytes
    payload = np.empty(int(ends[-1]) if len(ends) else 0, dtype=np.uint8)
    max_b = int(nbytes.max()) if len(nbytes) else 0
    for j in range(max_b):
        sel = nbytes > j
        payload[starts_b[sel] + j] = ((xors[sel] >> np.uint64(8 * j)) & np.uint64(0xFF)).astype(np.uint8)
    # nibble stream: each window's byte counts padded to an even count, so
    # byte pairs never straddle two windows
    counts = L - 1
    padded = counts + (counts & 1)
    nib = np.zeros(int(padded.sum()), dtype=np.uint8)
    nib[np.arange(len(nbytes)) + np.repeat((np.cumsum(padded) - padded) - (np.cumsum(counts) - counts),
                                           counts)] = nbytes
    cum = np.concatenate([[0], ends])
    val_ends = np.cumsum(counts)
    hdr = np.zeros(nw, dtype=_HEADER)
    hdr["magic"] = _MAGIC
    hdr["n"] = L
    hdr["first"] = x[starts]
    return join_blocks([(hdr.view(np.uint8), np.full(nw, _HEADER.itemsize)),
                        (nib[0::2] | (nib[1::2] << 4), padded // 2),
                        (payload, cum[val_ends] - cum[val_ends - counts])])


def xor_decode(buf: bytes) -> np.ndarray:
    if len(buf) < struct.calcsize("<BQd"):
        raise BlockCorruption(f"block too short: {len(buf)} bytes")
    magic, n, first = struct.unpack_from("<BQd", buf, 0)
    if magic != _MAGIC:
        raise BlockCorruption(f"bad gorilla-block magic {magic}")
    if n == 0:
        return np.empty(0, dtype=np.float64)
    out_bits = np.empty(n, dtype=np.uint64)
    out_bits[0] = np.float64(first).view(np.uint64)
    if n == 1:
        return out_bits.view(np.float64)
    m = n - 1
    off = struct.calcsize("<BQd")
    nib_len = (m + 1) // 2
    nib = np.frombuffer(buf, dtype=np.uint8, count=nib_len, offset=off)
    nbytes = np.empty(nib_len * 2, dtype=np.uint8)
    nbytes[0::2] = nib & 0x0F
    nbytes[1::2] = nib >> 4
    nbytes = nbytes[:m]
    payload = np.frombuffer(buf, dtype=np.uint8, offset=off + nib_len)
    xors = np.zeros(m, dtype=np.uint64)
    ends = np.cumsum(nbytes.astype(np.int64))
    starts = ends - nbytes
    max_b = int(nbytes.max()) if m else 0
    for j in range(max_b):
        sel = nbytes > j
        xors[sel] |= payload[starts[sel] + j].astype(np.uint64) << np.uint64(8 * j)
    # xor prefix-scan: bits[i] = bits[i-1] ^ xors[i-1]; cumulative xor has no
    # numpy ufunc.accumulate for ^ on uint64? np.bitwise_xor.accumulate exists.
    acc = np.bitwise_xor.accumulate(np.concatenate([out_bits[:1], xors]))
    return acc.view(np.float64)
