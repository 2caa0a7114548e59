"""Dictionary encoding for integer and string columns.

Not present in the reference repo: its string writer always emits DIRECT
encoding even for low-cardinality columns (string.rs:173-177 hardcodes
DIRECT — SURVEY.md section 4.2). Dictionary encoding is a mandated
addition from BASELINE.json, modeled on the public ORC v1 DICTIONARY
encoding (dictionary payload + index stream).

String dictionaries are built with pyarrow's vectorized
``dictionary_encode`` (first-appearance order, deterministic for a given
partition order) — no per-row Python anywhere.

Layout (self-consistent):
  ints:    varint(card) | varint(n) | varint(dict_len) |
           FoR-bitpacked unique values | packed indices at
           ceil(log2(card)) bits
  strings: varint(card) | varint(n) | varint(len_stream_len) |
           varint(payload_len) | RLEv1(u) dict lengths | concatenated
           bytes | packed indices
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .bitpack import bitpack, bits_required, bitunpack, decode_for_bitpack, encode_for_bitpack
from .rle_v1 import decode_int_rle_v1, encode_int_rle_v1
from .varint import decode_varint_one, encode_varint_one


def _index_width(card: int) -> int:
    return bits_required(np.array([max(0, card - 1)], np.uint64)) if card > 1 else 0


def encode_dict_int(values: np.ndarray, signed: bool = True) -> bytes:
    v = np.ascontiguousarray(values)
    if v.dtype.kind not in "iu":
        v = v.astype(np.int64 if signed else np.uint64)
    if v.size and v.dtype.kind in "iu":
        mn, mx = int(v.min()), int(v.max())
    else:
        mn, mx = 0, 1 << 20
    if 0 <= mx - mn < (1 << 16) and v.size:
        # small value range: O(n) bincount instead of the np.unique sort
        # (identical sorted-unique output, byte-identical stream)
        if v.dtype.itemsize >= 4:
            # safe in-dtype subtract: 0 <= result < 2^16 fits any >=32-bit
            # int, so no wrap is possible
            off = v - v.dtype.type(mn)
            if off.dtype == np.uint64:
                off = off.view(np.int64)  # bincount refuses uint64
        else:
            off = v.astype(np.int32) - mn  # int8/16 diff could wrap
        counts = np.bincount(off, minlength=mx - mn + 1)
        uniq_off = np.flatnonzero(counts)
        lut = np.zeros(mx - mn + 1, np.uint32)
        lut[uniq_off] = np.arange(uniq_off.size, dtype=np.uint32)
        inv = lut[off]
        # in the column's dtype: through int64 a uint64 min >= 2^63
        # would go to float; narrow dtypes wrap back to the exact value
        uniq = uniq_off.astype(v.dtype) + v.dtype.type(mn)
    else:
        uniq, inv = np.unique(v, return_inverse=True)
    card = uniq.size
    dict_bytes = encode_for_bitpack(uniq, signed)
    idx_bytes = bitpack(inv.astype(np.uint32 if card <= 0xFFFFFFFF else np.uint64), _index_width(card))
    return (
        encode_varint_one(card)
        + encode_varint_one(v.size)
        + encode_varint_one(len(dict_bytes))
        + dict_bytes
        + idx_bytes
    )


def decode_dict_int(buf, signed: bool = True) -> np.ndarray:
    card, pos = decode_varint_one(buf, 0)
    n, pos = decode_varint_one(buf, pos)
    dlen, pos = decode_varint_one(buf, pos)
    uniq = decode_for_bitpack(buf[pos : pos + dlen], signed)
    pos += dlen
    inv = bitunpack(buf[pos:], _index_width(card), n)
    return uniq[inv.astype(np.int64)]


def _binary_array(data: np.ndarray, offsets: np.ndarray) -> pa.Array:
    n = offsets.size - 1
    return pa.LargeBinaryArray.from_buffers(
        pa.large_binary(),
        n,
        [None, pa.py_buffer(np.ascontiguousarray(offsets, np.int64)), pa.py_buffer(np.ascontiguousarray(data, np.uint8))],
    )


def encode_dict_bytes(data: np.ndarray, offsets: np.ndarray) -> bytes:
    """Dictionary-encode a flattened byte-string column.

    ``data`` is the concatenated utf8/bytes payload (uint8); ``offsets``
    is int64 with n+1 entries delimiting each value.
    """
    arr = _binary_array(data, offsets)
    n = len(arr)
    denc = pc.dictionary_encode(arr)
    codes = denc.indices.to_numpy(zero_copy_only=False).astype(np.uint64)
    dvals = denc.dictionary
    card = len(dvals)
    dbufs = dvals.buffers()
    doff = np.frombuffer(dbufs[1], np.int64, card + 1)
    dlengths = (doff[1:] - doff[:-1]).astype(np.uint64)
    payload = dbufs[2].to_pybytes()[int(doff[0]) : int(doff[-1])] if card else b""
    len_stream = encode_int_rle_v1(dlengths, signed=False)
    idx_bytes = bitpack(codes, _index_width(card))
    return (
        encode_varint_one(card)
        + encode_varint_one(n)
        + encode_varint_one(len(len_stream))
        + encode_varint_one(len(payload))
        + len_stream
        + payload
        + idx_bytes
    )


def decode_dict_bytes(buf) -> tuple[np.ndarray, np.ndarray]:
    """Returns (data_u8, offsets_i64) of the decoded flattened strings."""
    card, pos = decode_varint_one(buf, 0)
    n, pos = decode_varint_one(buf, pos)
    llen, pos = decode_varint_one(buf, pos)
    plen, pos = decode_varint_one(buf, pos)
    lengths = decode_int_rle_v1(buf[pos : pos + llen], signed=False).astype(np.int64)
    pos += llen
    payload = np.frombuffer(buf[pos : pos + plen], np.uint8)
    pos += plen
    inv = bitunpack(buf[pos:], _index_width(card), n).astype(np.int64)
    uoff = np.zeros(card + 1, np.int64)
    np.cumsum(lengths, out=uoff[1:])
    out_lens = lengths[inv]
    out_off = np.zeros(n + 1, np.int64)
    np.cumsum(out_lens, out=out_off[1:])
    total = int(out_off[-1])
    if not total:
        return np.empty(0, np.uint8), out_off
    # vectorized gather: per-byte source index = dict start + in-value ramp
    rep_starts = np.repeat(uoff[inv], out_lens)
    ramp = np.arange(total, dtype=np.int64) - np.repeat(out_off[:-1], out_lens)
    return payload[rep_starts + ramp], out_off
