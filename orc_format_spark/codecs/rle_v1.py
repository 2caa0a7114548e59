"""ORC RLEv1 family: ByteRLE, BooleanRLE, signed/unsigned IntRLEv1.

Reimplements, bit-identically, the greedy run-length machines of the
reference writer (studied for behavior, not copied):

- ByteRLE  — `src/writer/encoder/byte_rle.rs:46-98`: runs of >=3 equal
  bytes -> header ``run_len-3`` (0..127 => run 3..130) + value byte;
  literal groups -> header ``256-len`` (255..128 => len 1..128) + raw bytes.
- BooleanRLE — `src/writer/encoder/boolean_rle.rs:28-66`: MSB-first 8-per-
  byte bit packing, final partial byte left-aligned, then ByteRLE.
- IntRLEv1 — `src/writer/encoder/int_rle_v1.rs:5-158`: greedy RLE with a
  per-run constant delta in [-128,128); run group = header ``run_len-3`` +
  delta byte (two's complement) + varint base; literal group = header
  ``256-len`` + varints. Signed values are zigzag'd inside the varint.

The greedy segmentation (including the 128-literal / 130-run buffer caps
and the value "stranding" that happens when a run pattern straddles a
128-literal flush) is reproduced exactly; the reference's own golden byte
vectors are asserted in tests/test_rle_v1.py.

Implementation strategy: instead of a per-value state machine, group
boundaries are derived from vectorized numpy delta/stretch analysis plus an
O(#groups) assembly loop, so cost scales with the number of emitted groups
(<= n/3 for runs, n/128 for incompressible data), not with values.
"""

from __future__ import annotations

from bisect import bisect_left

import numpy as np

from .varint import (
    decode_varints,
    encode_varint_one,
    encode_varints,
    varint_lengths,
    zigzag_decode,
    zigzag_encode,
)

_LIT_CAP = 128  # max literal group (byte_rle.rs buf len / int_rle_v1 buf cap)
_RUN_CAP = 130  # max run length (run_len cap at 130, header 127)


def _range_gather_indices(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Index array covering [starts[i], starts[i]+lens[i]) concatenated."""
    lens = np.asarray(lens, np.int64)
    total = int(lens.sum())
    if total == 0:
        return np.empty(0, np.int64)
    ends = np.cumsum(lens)
    outst = ends - lens
    return (
        np.arange(total, dtype=np.int64)
        - np.repeat(outst, lens)
        + np.repeat(np.asarray(starts, np.int64), lens)
    )


def _greedy_groups(
    d_u64: np.ndarray, fits: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Compute the exact group segmentation of the reference machine.

    ``d_u64[i] = v[i] - v[i-1]`` (wrapping, d_u64[0] unused); ``fits[i]``
    is whether d_u64[i] is an admissible run delta (|delta| i8 for ints,
    delta==0 for bytes). Returns (is_run, start, count) numpy arrays.

    A run starts at value index c (>= 2) when d[c] == d[c-1], fits[c], and
    the literal buffer at that moment holds >= 2 values (buffer restarts at
    every 128-literal cap flush). It extends while d stays constant,
    emitting groups of <=130; 1-2 leftover same-delta values fall back into
    the literal buffer.

    The loop below is O(#candidate-stretches) pure-Python-int work; all
    per-value analysis is vectorized up front.
    """
    n = d_u64.size
    g_run: list[bool] = []
    g_start: list[int] = []
    g_cnt: list[int] = []
    empty = (np.empty(0, bool), np.empty(0, np.int64), np.empty(0, np.int64))
    if n == 0:
        return empty
    same = np.zeros(n, bool)
    if n >= 3:
        same[2:] = d_u64[2:] == d_u64[1:-1]
    cand_np = np.flatnonzero(same & fits)
    not_same = np.flatnonzero(~same)  # positions where a stretch breaks
    # stretch end for each candidate, precomputed vectorized
    j = np.searchsorted(not_same, cand_np, side="right")
    e_np = np.where(
        j < len(not_same), not_same[np.minimum(j, len(not_same) - 1)] - 1, n - 1
    )
    cand = cand_np.tolist()
    cend = e_np.tolist()
    nc = len(cand)
    i = 0  # next value index to account for
    ls = 0  # literal buffer start
    ci = 0  # candidate cursor
    while True:
        if ci < nc and cand[ci] < i:
            ci = bisect_left(cand, i, ci)
        c = -1
        cj = ci
        while cj < nc:
            cc = cand[cj]
            # effective buffer start after 128-cap flushes
            ls_eff = ls + _LIT_CAP * ((cc - ls) // _LIT_CAP)
            if cc - ls_eff >= 2:
                c = cc
                break
            cj += 1  # candidate lands too close to a cap flush; stays literal
        if c < 0:
            # no more runs: flush literals ls..n-1 in cap-sized chunks
            p = ls
            while n - p > _LIT_CAP:
                g_run.append(False)
                g_start.append(p)
                g_cnt.append(_LIT_CAP)
                p += _LIT_CAP
            if n - p > 0:
                g_run.append(False)
                g_start.append(p)
                g_cnt.append(n - p)
            break
        # literals before the run: full 128-groups up to ls_eff, then the
        # popped-to remainder ls_eff..c-3 as one group
        ls_eff = ls + _LIT_CAP * ((c - ls) // _LIT_CAP)
        p = ls
        while p < ls_eff:
            g_run.append(False)
            g_start.append(p)
            g_cnt.append(_LIT_CAP)
            p += _LIT_CAP
        if c - 2 - ls_eff > 0:
            g_run.append(False)
            g_start.append(ls_eff)
            g_cnt.append(c - 2 - ls_eff)
        # run from c-2 through the end of the constant-delta stretch
        e = cend[cj]
        pos = c - 2
        rem = e - pos + 1
        while rem >= 3:
            r = rem if rem < _RUN_CAP else _RUN_CAP
            g_run.append(True)
            g_start.append(pos)
            g_cnt.append(r)
            pos += r
            rem -= r
        ls = pos  # 0..2 leftover same-delta values re-enter the buffer
        i = e + 1
        ci = cj + 1
        if i >= n:
            if n - ls > 0:  # flush leftovers (always < 3 here)
                g_run.append(False)
                g_start.append(ls)
                g_cnt.append(n - ls)
            break
    return (
        np.array(g_run, bool),
        np.array(g_start, np.int64),
        np.array(g_cnt, np.int64),
    )


# ---------------------------------------------------------------- ByteRLE


def encode_byte_rle(values: np.ndarray) -> bytes:
    """Greedy byte RLE, bit-identical to byte_rle.rs:46-98."""
    v = np.ascontiguousarray(values, dtype=np.uint8)
    n = v.size
    if n == 0:
        return b""
    d = np.zeros(n, np.uint64)
    u = v.astype(np.uint64)
    d[1:] = u[1:] - u[:-1]
    fits = d == 0  # byte runs require equal values
    is_run, gs, gc = _greedy_groups(d, fits)
    # payload values: the run's single value byte, or the literal bytes
    vcnt = np.where(is_run, 1, gc)
    payload = v[_range_gather_indices(gs, vcnt)]
    cum_h = np.arange(1, gs.size + 1, dtype=np.int64)  # all headers 1 byte
    out = np.empty(gs.size + payload.size, np.uint8)
    gstart = np.concatenate(([0], np.cumsum(1 + vcnt)[:-1]))
    out[gstart] = np.where(is_run, gc - 3, (256 - gc) & 0xFF).astype(np.uint8)
    out[np.arange(payload.size, dtype=np.int64) + np.repeat(cum_h, vcnt)] = payload
    return out.tobytes()


def decode_byte_rle(buf, count: int | None = None) -> np.ndarray:
    """``count`` bounds the header scan: decoding stops at the first
    group boundary at or past ``count`` values (callers slice the
    exact prefix), so a positioned mid-stream read pays only for the
    values it needs, not the rest of the stripe."""
    bb = buf if isinstance(buf, bytes) else bytes(buf)
    b = np.frombuffer(bb, np.uint8)
    L = len(bb)
    kinds: list[bool] = []
    cnts: list[int] = []
    srcs: list[int] = []  # value byte position (run) / literal start
    i = 0
    total = 0
    while i < L and (count is None or total < count):
        h = bb[i]
        if h < 128:
            kinds.append(True)
            cnts.append(h + 3)
            srcs.append(i + 1)
            total += h + 3
            i += 2
        else:
            cnt = 256 - h
            kinds.append(False)
            cnts.append(cnt)
            srcs.append(i + 1)
            total += cnt
            i += 1 + cnt
    if not cnts:
        return np.empty(0, np.uint8)
    is_run = np.array(kinds, bool)
    cnt_a = np.array(cnts, np.int64)
    src_a = np.array(srcs, np.int64)
    oends = np.cumsum(cnt_a)
    ostarts = oends - cnt_a
    out = np.empty(int(oends[-1]), np.uint8)
    lit = ~is_run
    if lit.any():
        out[_range_gather_indices(ostarts[lit], cnt_a[lit])] = b[
            _range_gather_indices(src_a[lit], cnt_a[lit])
        ]
    if is_run.any():
        rc = cnt_a[is_run]
        out[_range_gather_indices(ostarts[is_run], rc)] = np.repeat(b[src_a[is_run]], rc)
    return out


# -------------------------------------------------------------- BooleanRLE


def encode_boolean_rle(mask: np.ndarray) -> bytes:
    """MSB-first bit packing (boolean_rle.rs:45-61) + ByteRLE."""
    m = np.ascontiguousarray(mask, dtype=bool)
    if m.size == 0:
        return b""
    packed = np.packbits(m)  # MSB-first, zero-padded right: exact match
    return encode_byte_rle(packed)


def decode_boolean_rle(buf, count: int) -> np.ndarray:
    if count == 0:
        return np.empty(0, bool)
    packed = decode_byte_rle(buf)
    bits = np.unpackbits(packed)[:count]
    return bits.astype(bool)


# -------------------------------------------------------------- IntRLEv1


def _prep_u64(values: np.ndarray, signed: bool) -> np.ndarray:
    v = np.asarray(values)
    if signed:
        return np.ascontiguousarray(v, dtype=np.int64).view(np.uint64)
    return np.ascontiguousarray(v, dtype=np.uint64)


def _encode_constant_rle_v1(first: np.ndarray, n: int, signed: bool) -> bytes:
    """The greedy machine's output for ``n`` copies of ``first[0]``:
    delta-0 runs of 130 from the start, then a run of the remaining
    3..129 values, or 1-2 leftover values as one literal group."""
    z = zigzag_encode(first.view(np.int64)) if signed else first
    vb = encode_varint_one(int(z[0]))
    full, tail = divmod(n, _RUN_CAP)
    out = bytes((_RUN_CAP - 3, 0)) + vb
    if tail >= 3:
        return out * full + bytes((tail - 3, 0)) + vb
    return out * full + (bytes((256 - tail,)) + vb * tail if tail else b"")


def encode_int_rle_v1(values: np.ndarray, signed: bool = True) -> bytes:
    """IntRLEv1, bit-identical to int_rle_v1.rs:49-97 (greedy delta runs)."""
    u = _prep_u64(values, signed)
    n = u.size
    if n == 0:
        return b""
    if u[0] == u[-1] and (u == u[0]).all():
        return _encode_constant_rle_v1(u[:1], n, signed)
    return _encode_greedy_rle_v1(u, signed)


def _encode_greedy_rle_v1(u: np.ndarray, signed: bool) -> bytes:
    """IntRLEv1 of a non-empty ``_prep_u64`` array, any shape of input."""
    n = u.size
    d = np.zeros(n, np.uint64)
    d[1:] = u[1:] - u[:-1]  # wrapping subtraction
    di = d.view(np.int64)
    fits = (di >= -128) & (di < 128)  # VarInt::fits_i8 (varint.rs:29-31)
    is_run, gs, gc = _greedy_groups(d, fits)
    # varint-encode only the needed values: run base or literal values,
    # gathered in group order so payloads tile the varint stream exactly
    vcnt = np.where(is_run, 1, gc)
    ends = np.cumsum(vcnt)
    vstarts = ends - vcnt
    vals = u[_range_gather_indices(gs, vcnt)]
    zz = zigzag_encode(vals.view(np.int64)) if signed else vals
    vbytes, voff = encode_varints(zz)
    plen = voff[ends] - voff[vstarts]
    hlen = np.where(is_run, 2, 1)
    cum_h = np.cumsum(hlen)
    gstart = np.concatenate(([0], np.cumsum(hlen + plen)[:-1]))
    out = np.empty(int(cum_h[-1]) + vbytes.size, np.uint8)
    out[gstart] = np.where(is_run, gc - 3, (256 - gc) & 0xFF).astype(np.uint8)
    run_pos = np.flatnonzero(is_run)
    if run_pos.size:
        # delta byte: two's-complement low byte of the run's constant delta
        out[gstart[run_pos] + 1] = (d[gs[run_pos] + 1] & np.uint64(0xFF)).astype(
            np.uint8
        )
    out[np.arange(vbytes.size, dtype=np.int64) + np.repeat(cum_h, plen)] = vbytes
    return out.tobytes()


def size_lower_bound(values: np.ndarray, signed: bool = True) -> int:
    """A size ``encode_int_rle_v1(values, signed)`` never undercuts.

    Only a "triple" (three consecutive values with one constant delta in
    [-128, 128)) can sit in a run group, and a run group's triples all
    lie in one maximal run of triples (a *region*). So:

    - a value in no triple is literal: its varint, plus one literal
      header per 128 such values;
    - a region whose values are ``m`` varint bytes or more costs at
      least ``2 + m`` (a run group: header, delta, base) or, if it holds
      no run group, ``m`` per value it owns. Adjacent regions share at
      most one value; a shared value is owned by the earlier region, and
      a region's last value may sit in the next region's run group, so
      ``L - shared`` of its ``L`` values are surely literal and its own.
    """
    u = _prep_u64(values, signed)
    n = u.size
    if n == 0:
        return 0
    vlen = varint_lengths(zigzag_encode(u.view(np.int64)) if signed else u)
    d = np.diff(u)  # wrapping
    tri = (d[1:] == d[:-1]) & (d[1:] + np.uint64(128) < np.uint64(256))
    cov = np.zeros(n, bool)
    cov[: n - 2] = tri
    cov[1 : n - 1] |= tri
    cov[2:] |= tri
    lit_vlen = vlen[~cov]
    bound = int(lit_vlen.sum()) + -(-lit_vlen.size // _LIT_CAP)
    if lit_vlen.size < n:
        edge = np.flatnonzero(np.diff(tri, prepend=False, append=False))
        a = edge[::2]  # first triple of each region
        e = edge[1::2] + 2  # one past its last value
        shared = a[1:] == e[:-1] - 1
        lit = e - a  # values per region, less the shared ones
        lit[1:] -= shared
        lit[:-1] -= shared
        m = np.minimum.reduceat(np.append(vlen, 0), np.stack([a, e], 1).ravel())[::2]
        bound += int(np.minimum(2 + m, lit * m).sum())
    return bound


def decode_int_rle_v1(buf, signed: bool = True,
                      count: int | None = None) -> np.ndarray:
    """Decode IntRLEv1 -> int64 (signed) or uint64 (unsigned) array.

    Group boundaries are found with O(1) Python-int work per group (varint
    terminators are pre-indexed); all value reconstruction is vectorized.
    ``count`` stops the scan at the first group boundary at or past that
    many values (positioned mid-stream reads pay only for what they use).
    """
    bb = buf if isinstance(buf, bytes) else bytes(buf)
    if not bb:
        return np.empty(0, np.int64 if signed else np.uint64)
    b = np.frombuffer(bb, np.uint8)
    term = np.flatnonzero((b & 0x80) == 0).tolist()  # varint end positions
    L = len(bb)
    kinds: list[bool] = []
    cnts: list[int] = []
    deltas: list[int] = []
    vr_start: list[int] = []  # first varint byte per group
    i = 0
    ti = 0
    total = 0
    nterm = len(term)
    while i < L and (count is None or total < count):
        h = bb[i]
        if h < 128:  # run group: header, delta byte, base varint
            delta = bb[i + 1]
            vs = i + 2
            if ti < nterm and term[ti] < vs:
                ti = bisect_left(term, vs, ti)
            ve = term[ti]
            ti += 1
            kinds.append(True)
            cnts.append(h + 3)
            deltas.append(delta - 256 if delta >= 128 else delta)
            vr_start.append(vs)
            i = ve + 1
            total += h + 3
        else:  # literal group: header + cnt varints
            cnt = 256 - h
            vs = i + 1
            if ti < nterm and term[ti] < vs:
                ti = bisect_left(term, vs, ti)
            ve = term[ti + cnt - 1]
            ti += cnt
            kinds.append(False)
            cnts.append(cnt)
            deltas.append(0)
            vr_start.append(vs)
            i = ve + 1
            total += cnt
    if not cnts:  # count=0 positioned read: nothing to materialize
        return np.empty(0, np.int64 if signed else np.uint64)
    is_run = np.array(kinds, bool)
    cnt_a = np.array(cnts, np.int64)
    vcnt = np.where(is_run, 1, cnt_a)
    # the varint bytes: every scanned byte but the group headers (and
    # run groups' delta bytes)
    keep = np.ones(i, bool)
    vs_a = np.array(vr_start, np.int64)
    keep[vs_a - 1] = False
    keep[vs_a[is_run] - 2] = False
    vals_u, _ = decode_varints(b[:i][keep], count=int(vcnt.sum()))
    vals = zigzag_decode(vals_u).view(np.uint64) if signed else vals_u
    if not any(kinds):  # literal groups only: values are in output order
        return vals.view(np.int64) if signed else vals
    vends = np.cumsum(vcnt)
    vstarts = vends - vcnt
    oends = np.cumsum(cnt_a)
    ostarts = oends - cnt_a
    out = np.empty(int(oends[-1]), np.uint64)
    lit = ~is_run
    if lit.any():
        out[_range_gather_indices(ostarts[lit], cnt_a[lit])] = vals[
            _range_gather_indices(vstarts[lit], vcnt[lit])
        ]
    if is_run.any():
        rc = cnt_a[is_run]
        total_r = int(rc.sum())
        rends = np.cumsum(rc)
        # within-run step index 0..cnt-1 for every expanded position
        off = np.arange(total_r, dtype=np.int64) - np.repeat(rends - rc, rc)
        base = np.repeat(vals[vstarts[is_run]], rc)
        dl = np.repeat(
            np.array(deltas, np.int64)[is_run].view(np.uint64), rc
        )
        out[_range_gather_indices(ostarts[is_run], rc)] = base + off.view(np.uint64) * dl
    return out.view(np.int64) if signed else out
