"""Raw (pass-through) codecs: IEEE floats and length+payload strings.

- Float/Double: little-endian IEEE-754 passthrough, exactly the
  reference's float path (`src/writer/data/float.rs:95-101` /
  `double.rs:95-101`) — 4/8 bytes per value.
- Strings/binary raw: unsigned-RLEv1 LENGTH stream + concatenated bytes,
  the reference's string layout (`src/writer/data/string.rs:24-28`): one
  LENGTH stream (UnsignedIntRLEv1) + the raw utf8 DATA stream.
"""

from __future__ import annotations

import numpy as np

from .rle_v1 import decode_int_rle_v1, encode_int_rle_v1
from .varint import decode_varint_one, encode_varint_one


def encode_float_raw(values: np.ndarray, double: bool = False) -> bytes:
    dt = "<f8" if double else "<f4"
    return np.ascontiguousarray(values, dtype=dt).tobytes()


def decode_float_raw(buf, double: bool = False) -> np.ndarray:
    return np.frombuffer(buf, "<f8" if double else "<f4")


def encode_bytes_raw(data: np.ndarray, offsets: np.ndarray) -> bytes:
    """LENGTH (unsigned RLEv1) + concatenated payload."""
    lengths = (offsets[1:] - offsets[:-1]).astype(np.uint64)
    len_stream = encode_int_rle_v1(lengths, signed=False)
    payload = np.ascontiguousarray(data, np.uint8).tobytes()
    return (
        encode_varint_one(lengths.size)
        + encode_varint_one(len(len_stream))
        + len_stream
        + payload
    )


def decode_bytes_raw(buf) -> tuple[np.ndarray, np.ndarray]:
    n, pos = decode_varint_one(buf, 0)
    llen, pos = decode_varint_one(buf, pos)
    lengths = decode_int_rle_v1(buf[pos : pos + llen], signed=False).astype(np.int64)
    pos += llen
    offsets = np.zeros(n + 1, np.int64)
    np.cumsum(lengths, out=offsets[1:])
    data = np.frombuffer(buf, np.uint8, int(offsets[-1]), pos)
    return data, offsets


def encode_float_split(values: np.ndarray, double: bool = False) -> bytes:
    """Byte-stream split (the idea behind Parquet's BYTE_STREAM_SPLIT
    encoding, public format spec): byte j of every value is gathered
    into stream j, so the slowly-varying exponent/high-mantissa bytes
    become long compressible runs for the block codec. Stream j is
    the low byte of each value's bit pattern shifted right by 8j:
    ``w`` contiguous passes, several times faster than the strided
    copy of a byte-matrix transpose."""
    dt, ut = ("<f8", "<u8") if double else ("<f4", "<u4")
    x = np.ascontiguousarray(values, dtype=dt).view(ut)
    out = np.empty((x.dtype.itemsize, x.size), np.uint8)
    for j in range(x.dtype.itemsize):
        np.copyto(out[j], x >> x.dtype.type(8 * j), casting="unsafe")
    return out.tobytes()


def decode_float_split(buf, double: bool = False) -> np.ndarray:
    w = 8 if double else 4
    b = np.frombuffer(buf, np.uint8)
    n = b.size // w
    return (
        np.ascontiguousarray(b.reshape(w, n).T)
        .view("<f8" if double else "<f4")
        .ravel()
    )
