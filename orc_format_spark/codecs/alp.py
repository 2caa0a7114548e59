"""ALP: adaptive lossless floating-point compression for decimal-like
doubles (Afroozeh & Boncz, "ALP: Adaptive Lossless floating-Point
Compression", SIGMOD 2024 — public paper; no reference-repo
counterpart, the reference writes floats raw, src/writer/data/double.rs).

The insight: most real-world double columns (prices, rates, physical
measurements) are decimals that landed in a double. For a per-vector
exponent pair (e, f) the transform

    digits = round(v * 10^e * 10^-f)        # encode
    v'     = digits * 10^f * 10^-e          # decode

reproduces v BIT-exactly for the decimal values, and ``digits`` is a
small integer that frame-of-reference bit-packing crushes. Values the
transform cannot reproduce (true reals, NaN/inf, huge magnitudes) are
stored as positional exceptions with their raw IEEE bit pattern, so the
codec is lossless on EVERY input — the auto-selector simply won't pick
it when the exception rate makes it lose on measured bytes.

(e, f) is chosen per call by scoring candidate pairs on a bounded
sample (exactness count + bit width), mirroring the paper's sampling
scheme; a branch and bound skips pairs whose score can no longer win
(``_choose_exponents``). Whether ALP itself is used is decided by the
codec selector on measured post-compression sizes (selector.py).

Wire format (all little-endian):
  [0]  e (uint8)            [1] f (uint8)
  varint n                  varint n_exc
  varint len(digits_for)    digits_for (FoR+bitpack, signed)
  varint len(pos_rle)       pos_rle (UnsignedIntRLEv1 exception idxs)
  n_exc * 8 (or 4) raw IEEE bit patterns

Exception slots in ``digits`` are filled with the vector's first exact
digit value so they never widen the FoR range.
"""

from __future__ import annotations

import functools

import numpy as np

from .bitpack import decode_for_bitpack, encode_for_bitpack
from .rle_v1 import decode_int_rle_v1, encode_int_rle_v1
from .varint import decode_varint_one, encode_varint_one

MAX_EXPONENT = 16  # 10^16 < 2^53: digits stay exactly representable
_SAFE_DIGITS = float(1 << 51)  # |digits| bound: exact in f8 AND in i64

# Powers as f8 arrays so encode/decode share the literal same constants.
_POW10 = 10.0 ** np.arange(MAX_EXPONENT + 1)
_IPOW10 = 10.0 ** -np.arange(MAX_EXPONENT + 1)


def _transform(v64: np.ndarray, e: int, f: int):
    """(digits int64, exact bool-mask) for the (e, f) candidate.

    The decode expression here is THE decode expression
    (``decode_alp``), evaluated with the same numpy ops and constants,
    so ``exact`` is a bit-level roundtrip guarantee, not a model."""
    with np.errstate(over="ignore", invalid="ignore"):
        scaled = v64 * _POW10[e] * _IPOW10[f]
    in_range = np.isfinite(scaled) & (np.abs(scaled) < _SAFE_DIGITS)
    digits = np.where(in_range, scaled, 0.0)
    digits = np.round(digits)
    d_int = digits.astype(np.int64)
    recon = d_int * _POW10[f] * _IPOW10[e]
    exact = in_range & (recon.view(np.int64) == v64.view(np.int64))
    return d_int, exact


# all 153 (e, f) candidates with f <= e, in the (e asc, f asc) order the
# original per-pair loop scanned — np.argmin's first-minimum tie-break
# then reproduces that loop's selection exactly
_CAND = [(e, f) for e in range(MAX_EXPONENT + 1) for f in range(e + 1)]
_CAND_E = np.array([e for e, _ in _CAND])
_CAND_F = np.array([f for _, f in _CAND])


_NO_HI = np.int64(-(1 << 62))  # max/min sentinels: no exact digit yet
_NO_LO = np.int64(1 << 62)


def _block_stats(s: np.ndarray, idx: np.ndarray):
    """(exceptions, max, min of the exact digits) of candidates ``idx``
    on the values ``s``, in one len(idx) x len(s) matrix pass."""
    pe = _POW10[_CAND_E[idx]][:, None]
    ipf = _IPOW10[_CAND_F[idx]][:, None]
    with np.errstate(over="ignore", invalid="ignore"):
        scaled = s[None, :] * pe * ipf
        in_range = np.isfinite(scaled) & (np.abs(scaled) < _SAFE_DIGITS)
        d_int = np.round(np.where(in_range, scaled, 0.0)).astype(np.int64)
        # the same two-constant product decode_alp evaluates (10^e*10^-f
        # is NOT 10^(e-f) bit-for-bit, so the constants must match)
        recon = d_int * _POW10[_CAND_F[idx]][:, None] * _IPOW10[_CAND_E[idx]][:, None]
    exact = in_range & (recon.view(np.int64) == s.view(np.int64)[None, :])
    return (
        s.size - exact.sum(axis=1),
        np.where(exact, d_int, _NO_HI).max(axis=1),
        np.where(exact, d_int, _NO_LO).min(axis=1),
    )


@functools.lru_cache(maxsize=1)
def _head_stats(head: bytes):
    """``_block_stats`` of all candidates on the float64 values ``head``:
    the chooser's first stage. The selector's float profile scores the
    same block on the same values just before, so the last one is kept."""
    out = _block_stats(np.frombuffer(head, np.float64), np.arange(len(_CAND)))
    for a in out:
        a.flags.writeable = False
    return out


def has_exact_pair(v64: np.ndarray) -> bool:
    """Whether some (e, f) candidate reproduces every value of ``v64``."""
    return bool((_head_stats(np.ascontiguousarray(v64, np.float64).tobytes())[0] == 0).any())


def _bits(n: int, n_exc, hi, lo):
    """Estimated bits: bitwidth(digit span) * n + 80 * exceptions. The
    span is < 2^52, exact as f8, so frexp's exponent is its bit length."""
    span = np.maximum(hi - lo, 0)
    return np.maximum(1, np.frexp(span.astype(np.float64))[1]) * n + 80 * n_exc


# prefixes of the sample at which the surviving candidates are bounded
_STAGES = (64, 256, 512)


def _choose_exponents(v64: np.ndarray, sample: int = 1024) -> tuple[int, int]:
    """Best (e, f) on a bounded head sample: minimize estimated bits =
    bitwidth(digit span) * n + 80 * n_exceptions (paper's cost model,
    exception = 64-bit pattern + position); the first minimum in
    ``_CAND`` order wins.

    Branch and bound over the 153 candidates, scored incrementally over
    growing prefixes of the sample. On a prefix a candidate's exceptions
    and exact-digit span can only be fewer and narrower than on the
    whole sample, so its prefix ``_bits`` (with the full n) is a lower
    bound of its cost. At each of ``_STAGES`` the best-bounded
    candidate with no prefix exception (else with at least one exact
    prefix value) is scored on the whole sample and becomes the
    incumbent if it beats it; candidates bounded above the incumbent's
    cost are dropped (on a tie, kept only if they come before the
    incumbent, so the first minimum still wins). Each value
    is scored at most once per surviving candidate: on lineitem's
    decimal columns the search scores a fifth of the full 153 x 1024
    matrix, and on real-valued columns, where nothing is pruned, all of
    it plus the incumbents' rows."""
    s = np.ascontiguousarray(v64[: min(v64.size, sample)])
    n = s.size
    idx = np.arange(len(_CAND))
    n_exc = np.zeros(idx.size, np.int64)
    hi = np.full(idx.size, _NO_HI)
    lo = np.full(idx.size, _NO_LO)
    best = None  # (cost, index) of the incumbent, scored on all of s
    done = 0
    for m in (*(m for m in _STAGES if m < n), n):
        x, h, l = _block_stats(s[done:m], idx) if done else _head_stats(s[:m].tobytes())
        n_exc += x
        np.maximum(hi, h, out=hi)
        np.minimum(lo, l, out=lo)
        done = m
        if m == n:
            break
        bound = _bits(n, n_exc, hi, lo)
        # seed from the best-bounded candidate exact on the whole
        # prefix; a few prefix exceptions can hide a cost far above the
        # bound (l_extendedprice's (16, 15): 23,152 bound, 97,680 cost)
        seedable = np.flatnonzero(n_exc == 0)
        if not seedable.size:
            seedable = np.flatnonzero(n_exc < m)
        if seedable.size:
            k = int(idx[seedable[np.argmin(bound[seedable])]])
            seed = (int(_bits(n, *_block_stats(s, np.array([k])))[0]), k)
            best = seed if best is None else min(best, seed)
        if best is not None:
            keep = (bound < best[0]) | ((bound == best[0]) & (idx <= best[1]))
            idx, n_exc, hi, lo = idx[keep], n_exc[keep], hi[keep], lo[keep]
    cost = np.where(n_exc == n, np.inf, _bits(n, n_exc, hi, lo))
    if not np.isfinite(cost).any():
        return (0, 0)
    return _CAND[int(idx[np.argmin(cost)])]


def encode_alp(values: np.ndarray, double: bool = True) -> bytes:
    v = np.ascontiguousarray(values, "<f8" if double else "<f4")
    n = v.size
    if n == 0:
        return b""
    v64 = v.astype(np.float64) if not double else v
    e, f = _choose_exponents(v64)
    d_int, exact = _transform(v64, e, f)
    if not double:
        # exactness must hold in the f4 domain the reader returns
        recon32 = (d_int * _POW10[f] * _IPOW10[e]).astype(np.float32)
        exact &= recon32.view(np.int32) == v.view(np.int32)
    exc_pos = np.flatnonzero(~exact).astype(np.uint64)
    if exc_pos.size:
        fill = d_int[exact][0] if exact.any() else np.int64(0)
        d_int = np.where(exact, d_int, fill)
    digits_for = encode_for_bitpack(d_int, signed=True)
    pos_rle = encode_int_rle_v1(exc_pos, signed=False) if exc_pos.size else b""
    exc_raw = v[~exact].tobytes() if exc_pos.size else b""
    return b"".join(
        (
            bytes((e, f)),
            encode_varint_one(n),
            encode_varint_one(exc_pos.size),
            encode_varint_one(len(digits_for)),
            digits_for,
            encode_varint_one(len(pos_rle)),
            pos_rle,
            exc_raw,
        )
    )


def decode_alp(buf, double: bool = True) -> np.ndarray:
    if len(buf) == 0:
        return np.empty(0, np.float64 if double else np.float32)
    buf = bytes(buf)
    e, f = buf[0], buf[1]
    n, pos = decode_varint_one(buf, 2)
    n_exc, pos = decode_varint_one(buf, pos)
    dlen, pos = decode_varint_one(buf, pos)
    d_int = decode_for_bitpack(buf[pos : pos + dlen], signed=True)
    if d_int.size != n:
        raise ValueError(f"alp: {d_int.size} digits, header says {n}")
    pos += dlen
    plen, pos = decode_varint_one(buf, pos)
    v = d_int * _POW10[f] * _IPOW10[e]
    if not double:
        v = v.astype(np.float32)
    else:
        v = v.copy()  # decode_for_bitpack result math yields a fresh array already
    if n_exc:
        exc_pos = decode_int_rle_v1(buf[pos : pos + plen], signed=False)[:n_exc]
        pos += plen
        width = 8 if double else 4
        exc = np.frombuffer(buf[pos : pos + n_exc * width], "<f8" if double else "<f4")
        v[exc_pos.astype(np.int64)] = exc
    return v
