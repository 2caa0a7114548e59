"""Timestamp codec: seconds (signed RLEv1) + trailing-zero-compacted nanos
(unsigned RLEv1), vectorized.

Reimplements the reference's timestamp stream pair
(`src/writer/data/timestamp.rs:22-26,103-133`): seconds are stored
relative to the ORC epoch 2015-01-01 (EPOCH_SECONDS = -1420070400,
timestamp.rs:62-63); nanos with z >= 2 trailing decimal zeros are stored
as ``(nanos / 10**z) << 3 | (z - 1)``, otherwise ``nanos << 3`` — the
unrolled %100/%10000/%100/%10 ladder of timestamp.rs:111-126 reduced to
its closed form.
"""

from __future__ import annotations

import numpy as np

from .rle_v1 import decode_int_rle_v1, encode_int_rle_v1
from .varint import decode_varint_one, encode_varint_one

EPOCH_SECONDS = -1420070400  # timestamp.rs:63

_POW10 = np.array([10**k for k in range(10)], dtype=np.int64)


def compact_nanos(nanos: np.ndarray) -> np.ndarray:
    """Vectorized trailing-zero compaction -> uint64 SECONDARY values."""
    nz = np.ascontiguousarray(nanos, dtype=np.int64)
    if not nz.any():
        return np.zeros(nz.size, np.uint64)  # whole-second timestamps
    z = np.zeros(nz.size, np.int64)
    pos = nz > 0
    for k in range(1, 9):
        z += ((nz % _POW10[k]) == 0) & pos
    use = z >= 2
    zz = np.where(use, z, 0)
    vals = np.where(use, (nz // _POW10[zz]) << 3 | (zz - 1), nz << 3)
    return vals.astype(np.uint64)


def expand_nanos(vals: np.ndarray) -> np.ndarray:
    v = np.ascontiguousarray(vals, dtype=np.uint64).view(np.int64)
    tz = v & 7
    body = v >> 3
    return np.where(tz > 0, body * _POW10[tz + 1], body)


def encode_timestamp_us(ts_us: np.ndarray) -> bytes:
    """Encode microsecond epoch timestamps (Spark TimestampType unit)."""
    t = np.ascontiguousarray(ts_us, dtype=np.int64)
    sec = np.floor_divide(t, 1_000_000)
    nanos = (t - sec * 1_000_000) * 1000  # always in [0, 1e9)
    sec_stream = encode_int_rle_v1(sec + EPOCH_SECONDS, signed=True)
    nano_stream = encode_int_rle_v1(compact_nanos(nanos), signed=False)
    return (
        encode_varint_one(len(sec_stream))
        + sec_stream
        + nano_stream
    )


def decode_timestamp_us(buf) -> np.ndarray:
    slen, pos = decode_varint_one(buf, 0)
    sec = decode_int_rle_v1(buf[pos : pos + slen], signed=True) - EPOCH_SECONDS
    nanos = expand_nanos(decode_int_rle_v1(buf[pos + slen :], signed=False))
    return sec * 1_000_000 + nanos.astype(np.int64) // 1000
