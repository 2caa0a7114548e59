"""Big-endian bit packing + frame-of-reference codec.

Bit packing follows the ORC RLEv2 convention (public ORC v1 spec): values
are written MSB-first at a fixed bit width, concatenated, zero-padded to a
byte boundary. Not present in the reference repo (its proto knows RLEv2 but
the writer only emits DIRECT/RLEv1 — see SURVEY.md section 2.7); mandated
by BASELINE.json.

The frame-of-reference (FoR) codec subtracts the minimum and bit-packs the
residuals:  header = zigzag-varint(min) | width u8 | varint(count) | packed.
Width 0 encodes a constant column in a handful of bytes.

All kernels are numpy-vectorized; the per-bit (packbits) path only takes
inputs of at most 512 values per bit of width.
"""

from __future__ import annotations

import numpy as np

from .varint import (
    decode_varint_one,
    encode_varint_one,
    zigzag_decode,
    zigzag_encode,
)

# ORC RLEv2 closed set of bit widths (public spec, "Direct" encoding)
WIDTH_TABLE = tuple(range(1, 25)) + (26, 28, 30, 32, 40, 48, 56, 64)
_WIDTH_TO_CODE = {w: i for i, w in enumerate(WIDTH_TABLE)}


def round_width(width: int) -> int:
    """Smallest spec width >= ``width`` (min 1)."""
    if width <= 24:
        return max(1, width)
    for w in WIDTH_TABLE[24:]:
        if width <= w:
            return w
    raise ValueError(f"width {width} > 64")


def width_code(width: int) -> int:
    return _WIDTH_TO_CODE[width]


def code_width(code: int) -> int:
    return WIDTH_TABLE[code]


def bits_required(u: np.ndarray) -> int:
    """Bits needed for the max of a uint64 array (0 for all-zero)."""
    if u.size == 0:
        return 0
    m = int(u.max())
    return m.bit_length()


def bitpack(u: np.ndarray, width: int) -> bytes:
    """Pack unsigned values at ``width`` bits each, MSB-first big-endian.

    Accepts any unsigned dtype — narrow inputs (uint8/16/32) are packed
    without an uint64 upcast, halving/quartering memory traffic on the
    hot token path.

    Non-byte-aligned widths use block assembly: 8 values span exactly
    ``width`` output bytes, and each output byte is OR-assembled from the
    (at most two) values overlapping it with static shifts — ~2 shift/or
    word ops per value instead of a per-bit uint8 matrix (~10x less
    memory traffic than a packbits formulation).
    """
    u = np.ascontiguousarray(u)
    if u.dtype.kind != "u":
        u = u.astype(np.uint64)
    n = u.size
    if n == 0 or width == 0:
        return b""
    if width % 8 and n <= 512 * width:
        # few values relative to the width (e.g. a 50-entry dictionary
        # at 63 bits): the block loop below runs ``width`` rounds of
        # numpy calls whatever n is, while unpacking every value's bits
        # costs O(n * itemsize) in three calls
        k = u.dtype.itemsize
        be = u.astype(f">u{k}").view(np.uint8).reshape(n, k)
        return np.packbits(np.unpackbits(be, axis=1)[:, 8 * k - width :]).tobytes()
    if width % 8 == 0:
        # byte-aligned: each value is the low width/8 bytes of its
        # big-endian representation; lane = smallest power-of-2 cover
        # (values always fit: they are < 2^width)
        nb = width // 8
        if nb == 1:
            return u.astype(np.uint8).tobytes()
        lane = 2
        while lane < nb:
            lane *= 2
        be = u.astype(f">u{lane}").view(np.uint8).reshape(n, lane)[:, lane - nb :]
        return np.ascontiguousarray(be).tobytes()
    # lane type: value << (up to 7) must not overflow the lane
    dt = np.uint16 if width <= 8 else (np.uint32 if width <= 24 else np.uint64)
    pad = (-n) % 8
    a = u.astype(dt, copy=False)
    if pad:
        a = np.concatenate([a, np.zeros(pad, dt)])  # zero pad == packbits pad
    # transpose to (8, nblk) so every per-value-slot op is contiguous
    cols = np.ascontiguousarray(a.reshape(-1, 8).T)
    nblk = cols.shape[1]
    out = np.empty((width, nblk), np.uint8)
    acc = np.empty(nblk, dt)
    for k in range(width):
        # output byte k holds block bits [8k, 8k+8); value j occupies
        # block bits [j*width, (j+1)*width)
        j1 = (8 * k) // width
        j2 = min((8 * k + 7) // width, 7)
        first = True
        for j in range(j1, j2 + 1):
            shift = 8 * k + 8 - (j + 1) * width  # in [-(width-1), 7]
            if shift >= 0:
                part = cols[j] << dt(shift)
            else:
                part = cols[j] >> dt(-shift)
            if first:
                np.bitwise_and(part, dt(0xFF), out=acc)
                first = False
            else:
                acc |= part & dt(0xFF)
        out[k] = acc.astype(np.uint8)
    total = (n * width + 7) // 8
    return np.ascontiguousarray(out.T).reshape(-1)[:total].tobytes()


def bitunpack(buf, width: int, count: int) -> np.ndarray:
    """Inverse of bitpack -> uint64 array of ``count`` values.

    Non-byte-aligned widths mirror the pack-side block assembly: each
    value is rebuilt from the <=7 bytes its bits span (the vectorized
    path covers every non-aligned width up to 56; only width > 56 falls
    back to the per-bit path)."""
    if count == 0 or width == 0:
        return np.zeros(count, np.uint64)
    raw = np.frombuffer(buf, np.uint8)
    if width % 8 == 0:
        nb = width // 8
        be = np.zeros((count, 8), np.uint8)
        be[:, 8 - nb :] = raw[: count * nb].reshape(count, nb)
        return be.reshape(-1).view(">u8").astype(np.uint64)
    if width > 56:
        # >7-byte span: rare (only possible via raw dict index widths);
        # simple per-bit fallback
        bits = np.unpackbits(raw)[: count * width]
        m = bits.reshape(count, width).astype(np.uint64)
        acc = np.zeros(count, np.uint64)
        for k in range(width):
            acc |= m[:, k] << np.uint64(width - 1 - k)
        return acc
    # pad the byte stream to whole 8-value blocks (width bytes per block);
    # lane: byte << (width-1) must fit
    dt = np.uint16 if width <= 8 else (np.uint32 if width <= 24 else np.uint64)
    nblk = (count + 7) // 8
    need = nblk * width
    if raw.size < need:
        raw = np.concatenate([raw, np.zeros(need - raw.size, np.uint8)])
    # (width, nblk) contiguous per byte-slot
    m = np.ascontiguousarray(raw[:need].reshape(nblk, width).T).astype(dt)
    out = np.empty((8, nblk), dt)
    mask = dt((1 << width) - 1)
    for j in range(8):
        # value j occupies block bits [j*width, (j+1)*width) spanning
        # bytes k1..k2; assemble big-endian and shift its LSB to bit 0.
        # Garbage bits from the neighbors land above `width` (masked at
        # the end) or fall below bit 0 (shifted out).
        k1 = (j * width) // 8
        k2 = ((j + 1) * width - 1) // 8
        acc = out[j]
        first = True
        for k in range(k1, k2 + 1):
            shift = (j + 1) * width - 8 * k - 8  # may be negative
            if shift >= 0:
                part = m[k] << dt(shift)
            else:
                part = m[k] >> dt(-shift)
            if first:
                acc[:] = part
                first = False
            else:
                acc |= part
        acc &= mask
    return np.ascontiguousarray(out.T).reshape(-1)[:count].astype(np.uint64)


def bitunpack_runs(src: np.ndarray, offs, counts, width: int) -> np.ndarray:
    """Several bit-packed payloads of one ``width`` in one call: payload
    i holds ``counts[i]`` values MSB-first from byte ``offs[i]`` of the
    uint8 array ``src``; payloads come in increasing offset order and do
    not overlap. Returns their values concatenated, equal to
    ``bitunpack`` of each payload in turn.

    Payloads that all end on a byte boundary are copied into one packed
    stream: read as big-endian words at 8/16/32/64 bits, else unpacked
    by one ``bitunpack`` (up to 24 bits: its block kernel is the faster
    below 9 bits, and at every such width on long payloads). Otherwise each value is cut from the two big-endian 64-bit
    words that hold its bits, so a payload's padding bits need no
    alignment with the next one's."""
    counts = np.asarray(counts, np.int64)
    total = int(counts.sum())
    if total == 0 or width == 0:
        return np.zeros(total, np.uint64)
    offs = np.asarray(offs, np.int64)
    nbytes = (counts * width + 7) // 8
    if int(offs[-1] + nbytes[-1]) > src.size:
        raise ValueError("bitunpack: payload runs past its buffer")
    if not (counts * width % 8).any() and (width % 8 == 0 or width <= 24):
        raw = np.concatenate([src[o : o + n] for o, n in
                              zip(offs.tolist(), nbytes.tolist())])
        if width in (8, 16, 32, 64):
            return raw.view(f">u{width // 8}").astype(np.uint64)
        return bitunpack(raw, width, total)
    base = int(offs[0])
    first = np.cumsum(counts) - counts
    # bit position of every value, counted from byte ``base``
    bit = np.arange(total, dtype=np.uint64) * np.uint64(width)
    bit += np.repeat(((offs - base) * 8 - first * width).astype(np.uint64), counts)
    need = (int(bit[-1]) + width + 7) // 8
    words = np.zeros(need // 8 + 2, ">u8")
    words.view(np.uint8)[:need] = src[base : base + need]
    words = words.astype(np.uint64)
    i = bit >> np.uint64(6)
    s = bit & np.uint64(63)
    # (w >> 1) >> (63 - s) is w >> (64 - s) without a 64-bit shift at s = 0
    hi = (words[1:] >> np.uint64(1))[i]
    hi >>= ~bit & np.uint64(63)
    lo = words[i]
    lo <<= s
    lo |= hi
    lo >>= np.uint64(64 - width)
    return lo


# ------------------------------------------------------- frame-of-reference


_UNSIGNED_OF = {1: np.uint8, 2: np.uint16, 4: np.uint32, 8: np.uint64}


def encode_for_bitpack(values: np.ndarray, signed: bool = True) -> bytes:
    v = np.ascontiguousarray(values)
    n = v.size
    if n == 0:
        return b""
    if v.dtype.itemsize < 8 and (v.dtype.kind == "u" or (signed and v.dtype.kind == "i")):
        # narrow fast path: residual = wrapping subtract in the native
        # unsigned width (exact because the value range fits the width);
        # avoids the int64 upcast -> half/quarter the memory traffic
        udt = _UNSIGNED_OF[v.dtype.itemsize]
        mn = int(v.min())
        mask = (1 << (8 * v.dtype.itemsize)) - 1
        residual = v.view(udt) - udt(mn & mask)
        width = int(residual.max()).bit_length() if n else 0
        header = (
            encode_varint_one(int(zigzag_encode(np.array([mn], np.int64))[0]))
            + bytes((width,))
            + encode_varint_one(n)
        )
        return header + bitpack(residual, width)
    if signed:
        v64 = np.ascontiguousarray(v, dtype=np.int64)
        u = v64.view(np.uint64)
        mn = int(v64.min())
        residual = (u - np.uint64(mn & 0xFFFFFFFFFFFFFFFF))  # wraps correctly
    else:
        u = np.ascontiguousarray(v, dtype=np.uint64)
        # the header holds the min's 64-bit pattern, so a min >= 2^63
        # goes in as its int64 view (the decoder masks it back)
        mn = int(u.min().view(np.int64))
        residual = u - np.uint64(mn & 0xFFFFFFFFFFFFFFFF)
    width = bits_required(residual)
    header = (
        encode_varint_one(int(zigzag_encode(np.array([mn], np.int64))[0]))
        + bytes((width,))
        + encode_varint_one(n)
    )
    return header + bitpack(residual, width)


def decode_for_bitpack(buf, signed: bool = True) -> np.ndarray:
    if len(buf) == 0:
        return np.empty(0, np.int64 if signed else np.uint64)
    zz, pos = decode_varint_one(buf, 0)
    mn = int(zigzag_decode(np.array([zz], np.uint64))[0])
    width = buf[pos]
    pos += 1
    n, pos = decode_varint_one(buf, pos)
    residual = bitunpack(buf[pos:], width, n)
    vals = residual + np.uint64(mn & 0xFFFFFFFFFFFFFFFF)
    return vals.view(np.int64) if signed else vals
