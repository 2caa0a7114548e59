"""Per-chunk Bloom filters for equality-predicate row-group skipping.

The reference declares BloomFilter streams in its proto only
(`/root/reference/src/protos/orc_proto.proto:98-106` — never written by
the writer, never read: src/reader.rs is a stub); this module makes the
feature real for our chunk container. Min/max stats prune range
predicates on *clustered* columns; a Bloom filter prunes ``==`` probes
on columns with no useful ordering (point lookups into unsorted id
columns — the "find this doc_id's row group" case).

Construction is fully vectorized (no per-value Python):
- splitmix64 finalizer (public-domain mix by Sebastiano Vigna) over the
  uint64 view of the values — two independent 64-bit hashes from two
  seed offsets,
- Kirsch-Mitzenmacher double hashing h1 + i*h2 for k probes,
- one flat bit array, ``bits_per_key`` * n bits rounded up to a power
  of two (10 bits/key + k=7 ~= 1% false positives).

Wire form: raw little-endian bitset bytes, stored base64 inside the
chunk-stats JSON under ``<col>@bloom`` (alongside the [min, max] entry).
"""

from __future__ import annotations

import base64
import functools

import numpy as np

_C1 = np.uint64(0x9E3779B97F4A7C15)
_M1 = np.uint64(0xBF58476D1CE4E5B9)
_M2 = np.uint64(0x94D049BB133111EB)
K_PROBES = 7
BITS_PER_KEY = 10


def _splitmix64(x: np.ndarray) -> np.ndarray:
    x = (x + _C1).astype(np.uint64)
    x ^= x >> np.uint64(30)
    x *= _M1
    x ^= x >> np.uint64(27)
    x *= _M2
    x ^= x >> np.uint64(31)
    return x


def _hash_pair(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    v = np.ascontiguousarray(values, dtype=np.int64).view(np.uint64)
    h1 = _splitmix64(v)
    h2 = _splitmix64(v ^ _C1) | np.uint64(1)  # odd -> full-period stride
    return h1, h2


def _n_bits(n_keys: int, bits_per_key: int) -> int:
    want = max(64, n_keys * bits_per_key)
    return 1 << int(want - 1).bit_length()


def bloom_build(
    values, bits_per_key: int = BITS_PER_KEY, k: int = K_PROBES
) -> bytes:
    """Build a Bloom bitset over int values (array-like, int64 domain)."""
    v = np.asarray(values, dtype=np.int64)
    m = _n_bits(v.size, bits_per_key)
    mask = np.uint64(m - 1)
    bits = np.zeros(m, dtype=bool)  # bit i is bit (i & 7) of byte i >> 3
    if v.size:
        h1, h2 = _hash_pair(v)
        for i in range(k):
            bits[(h1 + np.uint64(i) * h2) & mask] = True
    return np.packbits(bits, bitorder="little").tobytes()


def bloom_may_contain(bitset: bytes, value: int, k: int = K_PROBES) -> bool:
    """Probe: False is definite absence; True may be a false positive."""
    m = len(bitset) * 8
    ph = _hash_pair(np.array([value], dtype=np.int64))
    h1, h2 = int(ph[0][0]), int(ph[1][0])  # python ints: wraparound below
    mask = m - 1
    for i in range(k):
        idx = (h1 + i * h2) & 0xFFFFFFFFFFFFFFFF & mask
        if not (bitset[idx >> 3] >> (idx & 7)) & 1:
            return False
    return True


def bloom_to_b64(bitset: bytes) -> str:
    return base64.b64encode(bitset).decode("ascii")


@functools.lru_cache(maxsize=512)
def bloom_from_b64(s: str) -> bytes:
    """Decode a base64 bitset; cached because the chunk-prune loop
    re-tests the SAME per-chunk bitset for every ``==`` conjunct and
    every ``in`` member (k probes x m chunks would otherwise re-decode
    k x m times). Bitsets are immutable bytes, ~bits_per_key*rows/8
    per 10k-row chunk, so the 512-entry cache stays a few MB.

    Every bitset :func:`bloom_build` writes is a power of two of at least
    8 bytes; any other length would probe with a mask the builder never
    used and report matching rows absent, so it raises ValueError."""
    bits = base64.b64decode(s.encode("ascii"))
    if len(bits) < 8 or len(bits) & (len(bits) - 1):
        raise ValueError(f"malformed Bloom bitset: {len(bits)} bytes")
    return bits
