"""Vectorized LEB128 varints + zigzag transform.

Reimplements (from public knowledge of the ORC v1 spec + protobuf varints)
the semantics of the reference encoder `src/writer/encoder/varint.rs:10-58`:
7 bits per byte, 0x80 continuation, little-endian groups, max 10 bytes for
u64; signed values zigzag-transformed ``(x << 1) ^ (x >> 63)``
(varint.rs:42) before the unsigned encoding.

Everything here is numpy-vectorized over whole arrays — no per-value Python
in the encode/decode hot path (bounded loops over the <=10 byte positions
only), so these kernels are safe to call from Arrow-batched Spark UDFs.
"""

from __future__ import annotations

import numpy as np

_U1 = np.uint64(1)
_U7 = np.uint64(7)
_U63 = np.uint64(63)
_U7F = np.uint64(0x7F)


def zigzag_encode(v: np.ndarray) -> np.ndarray:
    """int64 array -> uint64 zigzag codes. Mirrors varint.rs:42."""
    u = np.ascontiguousarray(v, dtype=np.int64).view(np.uint64)
    return (u << _U1) ^ (np.uint64(0) - (u >> _U63))


def zigzag_decode(z: np.ndarray) -> np.ndarray:
    """uint64 zigzag codes -> int64 array."""
    z = np.ascontiguousarray(z, dtype=np.uint64)
    u = (z >> _U1) ^ (np.uint64(0) - (z & _U1))
    return u.view(np.int64)


def varint_lengths(u: np.ndarray) -> np.ndarray:
    """Bytes of each value's varint (non-empty uint64 array): 1 + the
    number of 7-bit thresholds it reaches."""
    nb = np.ones(u.size, np.int64)
    mx = int(u.max())
    for k in range(1, 10):
        if mx < (1 << (7 * k)):
            break
        nb += (u >= np.uint64(1 << (7 * k))).astype(np.int64)
    return nb


def encode_varints(u: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Encode a uint64 array as concatenated LEB128 varints.

    Returns (bytes_u8, offsets_int64) where offsets has n+1 entries and the
    varint of value i occupies bytes_u8[offsets[i]:offsets[i+1]].
    """
    u = np.ascontiguousarray(u, dtype=np.uint64)
    n = u.size
    if n == 0:
        return np.empty(0, np.uint8), np.zeros(1, np.int64)
    nb = varint_lengths(u)
    offsets = np.zeros(n + 1, np.int64)
    np.cumsum(nb, out=offsets[1:])
    out = np.zeros(int(offsets[-1]), np.uint8)
    starts = offsets[:-1]
    for k in range(10):
        sel = nb > k
        if not sel.any():
            break
        kk = np.uint64(7 * k)
        byte = ((u[sel] >> kk) & _U7F).astype(np.uint8)
        byte |= (nb[sel] > k + 1).astype(np.uint8) << 7
        out[starts[sel] + k] = byte
    return out, offsets


def decode_varints(
    buf: np.ndarray, count: int | None = None
) -> tuple[np.ndarray, int]:
    """Decode LEB128 varints from a uint8 array.

    If ``count`` is given, decode exactly that many values (trailing bytes
    ignored). Returns (values_uint64, bytes_consumed).
    """
    buf = np.ascontiguousarray(buf, dtype=np.uint8)
    if buf.size == 0 or count == 0:
        return np.empty(0, np.uint64), 0
    term = np.flatnonzero(buf < 0x80)  # last byte of each varint
    if count is not None:
        if len(term) < count:
            raise ValueError("varint stream truncated")
        term = term[:count]
    n = len(term)
    if n == 0:
        return np.empty(0, np.uint64), 0
    consumed = int(term[-1]) + 1
    payload = buf[:consumed] & np.uint8(0x7F)
    width = consumed // n
    if width * n == consumed and (term == np.arange(1, n + 1) * width - 1).all():
        # every varint has the same length: one column per byte
        rows = payload.reshape(n, width)
        vals = rows[:, 0].astype(np.uint64)
        for k in range(1, width):
            vals |= rows[:, k].astype(np.uint64) << np.uint64(7 * k)
        return vals, consumed
    starts = np.empty(n, np.int64)
    starts[0] = 0
    starts[1:] = term[:-1] + 1
    # each byte's 7-bit group, shifted to its place in its varint and
    # OR-reduced per varint
    place = np.arange(consumed, dtype=np.int64) - np.repeat(starts, term - starts + 1)
    vals = np.bitwise_or.reduceat(
        payload.astype(np.uint64) << (place * 7).astype(np.uint64), starts
    )
    return vals, consumed


def encode_varint_one(x: int) -> bytes:
    """Single unsigned varint (python int, 0 <= x < 2**64)."""
    out = bytearray()
    while True:
        if x < 0x80:
            out.append(x)
            return bytes(out)
        out.append(0x80 | (x & 0x7F))
        x >>= 7


def decode_varint_one(buf, pos: int = 0) -> tuple[int, int]:
    """Decode one varint at ``pos``; returns (value, next_pos)."""
    x = 0
    shift = 0
    while True:
        b = buf[pos]
        x |= (b & 0x7F) << shift
        pos += 1
        if b < 0x80:
            return x & 0xFFFFFFFFFFFFFFFF, pos
        shift += 7
