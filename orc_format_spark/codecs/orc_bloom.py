"""ORC bloom filter index (BLOOM_FILTER_UTF8) — spec-exact hashing.

The reference's proto lists bloom filters (`protos/orc_proto.proto:98-106`)
but never writes them; this module implements the ORC v1 spec's bloom
filter exactly as Apache ORC's Java/C++ readers expect, so the filters we
emit into real ORC files are CONSUMED by Spark's Java reader for
row-group elimination under ``spark.sql.orc.filterPushdown`` (and
byte-compared against ``org.apache.orc.util.BloomFilterUtf8`` itself via
py4j in tests/test_orc_bloom.py — a golden oracle for every constant
below).

Spec pieces (all public, from the ORC v1 specification and the Apache
ORC reader sources they describe):
- string/binary values hash with the ORC 64-bit Murmur3 variant
  (single-lane x64 constants, seed 104729);
- integer/date values hash with the Thomas Wang 64-bit mix;
- positions: ``hash1 = low32(h)``, ``hash2 = high32(h)`` (both signed),
  ``combined_i = int32(hash1 + i*hash2)`` for i in 1..k, bit-NOT when
  negative, ``% num_bits``;
- sizing: ``m = int(-n * ln(p) / ln(2)^2)`` rounded UP to the next
  multiple of 64 (adding a full word when already aligned — the Java
  constructor's quirk, matched deliberately);
  ``k = max(1, round(m/n * ln 2))``;
- BLOOM_FILTER_UTF8 serializes the bit words little-endian into the
  ``utf8bitset`` bytes field.
"""

from __future__ import annotations

import math

import numpy as np

DEFAULT_FPP = 0.05
_SEED = 104729  # ORC Murmur3 DEFAULT_SEED (the 10,000th prime)
_C1 = 0x87C37B91114253D5
_C2 = 0x4CF5AD432745937F
_M64 = (1 << 64) - 1


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def murmur3_hash64(data: bytes, seed: int = _SEED) -> int:
    """ORC's 64-bit Murmur3 variant (unsigned result, 0..2^64-1)."""
    length = len(data)
    h = seed & _M64
    nblocks = length >> 3
    for i in range(nblocks):
        k = int.from_bytes(data[i * 8 : i * 8 + 8], "little")
        k = (k * _C1) & _M64
        k = _rotl64(k, 31)
        k = (k * _C2) & _M64
        h ^= k
        h = (_rotl64(h, 27) * 5 + 0x52DCE729) & _M64
    tail = data[nblocks * 8 :]
    if tail:
        k = int.from_bytes(tail, "little")  # implicit high-zero padding
        k = (k * _C1) & _M64
        k = _rotl64(k, 31)
        k = (k * _C2) & _M64
        h ^= k
    h ^= length
    # fmix64
    h ^= h >> 33
    h = (h * 0xFF51AFD7ED558CCD) & _M64
    h ^= h >> 33
    h = (h * 0xC4CEB9FE1A85EC53) & _M64
    h ^= h >> 33
    return h


def _rotl64v(x: np.ndarray, r: int) -> np.ndarray:
    r = np.uint64(r)
    return (x << r) | (x >> np.uint64(64 - r))


def murmur3_hash64_buffer(
    buf: np.ndarray, offs: np.ndarray, lens: np.ndarray
) -> np.ndarray:
    """Vectorized ORC Murmur3-64 over ``len(offs)`` byte strings stored
    contiguously in ``buf`` (uint8) at ``offs``/``lens`` — bit-identical
    to :func:`murmur3_hash64` per value (asserted against it on random
    inputs in tests/test_orc_bloom.py). The Python-level loop runs over
    BLOCK INDEX (8-byte lanes), so cost scales with the longest value,
    not the value count: the no-per-row-Python shape the rest of the
    engine uses."""
    n = len(offs)
    if n == 0:
        return np.zeros(0, np.uint64)
    buf = np.ascontiguousarray(buf, np.uint8)
    offs = np.asarray(offs, np.int64)
    lens = np.asarray(lens, np.int64)
    c1, c2 = np.uint64(_C1), np.uint64(_C2)
    h = np.full(n, _SEED, np.uint64)
    nblocks = lens >> 3
    with np.errstate(over="ignore"):
        for j in range(int(nblocks.max()) if n else 0):
            act = np.flatnonzero(nblocks > j)
            idx = offs[act] + 8 * j
            k = buf[idx].astype(np.uint64)
            for b in range(1, 8):
                k |= buf[idx + b].astype(np.uint64) << np.uint64(8 * b)
            k *= c1
            k = _rotl64v(k, 31)
            k *= c2
            ha = h[act] ^ k
            h[act] = _rotl64v(ha, 27) * np.uint64(5) + np.uint64(0x52DCE729)
        tl = lens & 7
        tact = np.flatnonzero(tl > 0)
        if len(tact):
            base = offs[tact] + 8 * nblocks[tact]
            k = np.zeros(len(tact), np.uint64)
            for b in range(7):
                m = tl[tact] > b
                k[m] |= buf[base[m] + b].astype(np.uint64) << np.uint64(8 * b)
            k *= c1
            k = _rotl64v(k, 31)
            k *= c2
            h[tact] ^= k
        h ^= lens.view(np.uint64)
        # fmix64
        h ^= h >> np.uint64(33)
        h *= np.uint64(0xFF51AFD7ED558CCD)
        h ^= h >> np.uint64(33)
        h *= np.uint64(0xC4CEB9FE1A85EC53)
        h ^= h >> np.uint64(33)
    return h


def _asr(u: np.ndarray, r: int) -> np.ndarray:
    """ARITHMETIC right shift of the uint64 bit pattern — ORC's long
    hash uses Java's signed ``>>`` (verified against
    org.apache.orc.util.BloomFilter.getLongHash via reflection: the
    textbook Thomas Wang mix with logical shifts diverges on any input
    whose intermediate state goes negative, e.g. key=0 hashes to 0
    because ``-1 >> 24 == -1`` and ``-1 ^ -1 == 0``)."""
    return (u.view(np.int64) >> np.int64(r)).view(np.uint64)


def wang_hash64(vals: np.ndarray) -> np.ndarray:
    """ORC's long hash: Thomas Wang's 64-bit mix with SIGNED right
    shifts (vectorized; bit-identical to Java's getLongHash)."""
    k = np.asarray(vals).astype(np.int64).view(np.uint64)
    k = ~k + (k << np.uint64(21))
    k ^= _asr(k, 24)
    k = k + (k << np.uint64(3)) + (k << np.uint64(8))
    k ^= _asr(k, 14)
    k = k + (k << np.uint64(2)) + (k << np.uint64(4))
    k ^= _asr(k, 28)
    k = k + (k << np.uint64(31))
    return k


def optimal_num_bits(n: int, fpp: float) -> int:
    nb = int(-n * math.log(fpp) / (math.log(2) ** 2))
    return nb + (64 - nb % 64)  # Java adds a full word even when aligned


def optimal_num_hashes(n: int, m: int) -> int:
    return max(1, round(m / n * math.log(2)))


class OrcBloomFilter:
    """One row group's bloom filter, bit-identical to Java's
    ``BloomFilterUtf8(expected_entries, fpp)`` fed the same values."""

    def __init__(self, expected_entries: int, fpp: float = DEFAULT_FPP):
        n = max(1, int(expected_entries))
        self.num_bits = optimal_num_bits(n, fpp)
        self.num_hashes = optimal_num_hashes(n, self.num_bits)
        self._words = np.zeros(self.num_bits // 64, np.uint64)

    # ------------------------------------------------------ positions

    def _positions(self, h64: np.ndarray) -> np.ndarray:
        """(len(h64) * k) bit positions, Java int32 semantics."""
        h = np.asarray(h64, np.uint64)
        h1 = h.astype(np.uint32).view(np.int32).astype(np.int64)
        h2 = (h >> np.uint64(32)).astype(np.uint32).view(np.int32).astype(np.int64)
        i = np.arange(1, self.num_hashes + 1, dtype=np.int64)
        combined = (h1[:, None] + i[None, :] * h2[:, None]).astype(np.int64)
        combined = (combined & 0xFFFFFFFF).astype(np.uint32).view(np.int32)
        combined = np.where(combined < 0, ~combined, combined)
        return (combined.astype(np.int64) % self.num_bits).ravel()

    def _set(self, h64: np.ndarray) -> None:
        bits = np.zeros(self.num_bits, bool)  # bit i is bit i % 64 of word i // 64
        bits[self._positions(h64)] = True
        self._words |= np.packbits(bits, bitorder="little").view("<u8").astype(np.uint64)

    def _test_one(self, h64: int) -> bool:
        pos = self._positions(np.array([h64], np.uint64))
        w = self._words[pos // 64]
        return bool(
            np.all(w & (np.uint64(1) << (pos % 64).astype(np.uint64)) != 0)
        )

    # --------------------------------------------------------- values

    def add_longs(self, vals: np.ndarray) -> None:
        if len(vals):
            self._set(wang_hash64(vals))

    def add_bytes_values(self, vals) -> None:
        if not len(vals):
            return
        lens = np.fromiter((len(v) for v in vals), np.int64, len(vals))
        offs = np.zeros(len(vals), np.int64)
        np.cumsum(lens[:-1], out=offs[1:])
        buf = np.frombuffer(b"".join(vals), np.uint8)
        self._set(murmur3_hash64_buffer(buf, offs, lens))

    def add_bytes_buffer(self, buf, offs, lens) -> None:
        """Add values straight from an Arrow binary array's data/offset
        buffers — zero per-value Python objects."""
        if len(offs):
            self._set(murmur3_hash64_buffer(buf, offs, lens))

    def test_long(self, v: int) -> bool:
        return self._test_one(int(wang_hash64(np.array([v]))[0]))

    def test_bytes(self, b: bytes) -> bool:
        return self._test_one(murmur3_hash64(b))

    # ------------------------------------------------------ serialize

    def utf8bitset(self) -> bytes:
        """Little-endian words — the BLOOM_FILTER_UTF8 wire form."""
        return self._words.astype("<u8").tobytes()

    @classmethod
    def from_utf8bitset(cls, num_hashes: int, bitset: bytes) -> "OrcBloomFilter":
        f = cls.__new__(cls)
        f._words = np.frombuffer(bitset, "<u8").astype(np.uint64)
        f.num_bits = len(f._words) * 64
        f.num_hashes = int(num_hashes)
        return f
