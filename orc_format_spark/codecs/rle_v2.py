"""ORC RLEv2-style integer codec: short-repeat / direct / patched-base /
delta sub-encodings.

Not present in the reference repo (its writer only emits RLEv1 + DIRECT
encodings; RLEv2 exists only in its proto enum — see SURVEY.md section
2.7). Mandated by BASELINE.json; the wire layout follows the public ORC
v1 specification's four sub-encodings exactly — the spec's own worked
byte examples for short-repeat, direct, patched-base, and delta are
pinned as golden vectors in tests/test_rle_v2_spec.py.

Header layouts (byte0 top 2 bits select the sub-encoding; ORC v1 spec
"Run Length Encoding, version 2"):

  short-repeat  00WWWRRR                         W=value bytes-1, R=count-3
                value: W+1 bytes big-endian (zigzag if signed); runs 3..10
  direct        01CCCCCL LLLLLLLL                C=width code, L=count-1
                values bit-packed MSB-first at WIDTH_TABLE[C] (zigzag if
                signed); count 1..512
  patched-base  10CCCCCL LLLLLLLL  (BBB PPPPP) (GGG NNNNN)
                B=base bytes-1, P=patch width code, G=patch gap bits-1,
                N=patch count (0..31); base sign-magnitude big-endian;
                residuals (v-min) packed at WIDTH_TABLE[C]; patch list
                entries ((gap<<PW)|patch_high_bits) packed at the closest
                fixed width >= (G+1)+PW bits (Apache readers demand the
                rounded width); gaps >255 bridged with (255, 0) fillers
  delta         11DDDDDL LLLLLLLL                D=0: fixed delta, else
                D is the spec width code of |deltas[1:]| (so the packed
                width is WIDTH_TABLE[D], never less than 2 — code 0 is
                taken by the fixed-delta case, the spec's known quirk);
                widths are rounded up to the spec's *aligned* set
                (2,4,8,16,24,...), matching the Java writer and the
                spec's worked example; base varint (zigzag if signed),
                first delta signed zigzag varint; monotonic runs only;
                count 2..512

The encoder splits the input into long equal-value runs (>= 32 values,
found with one flatnonzero) and the literal stretches between them, cut
into 512-value chunks from each stretch's start, and picks the cheapest
applicable sub-encoding per chunk. Its Python steps once per long run
and once per literal stretch, never per value or per short segment: all
full 512-value literal chunks are scored together on (k, 512) matrices
(``_full_chunk_entries``), only patched-base candidates and each
stretch's ragged tail go through the per-chunk ``_encode_literal_chunk``,
and the bit packs of every chunk are batched per width at the end
(``_join_deferred``). Encoder *strategy* (which valid sub-encoding/width
a writer picks — e.g. our exact-count 95th-percentile patched-base
split) is a writer freedom the spec grants; the emitted bytes are always
spec-decodable.
"""

from __future__ import annotations

import math

import numpy as np

from .bitpack import (
    bitpack,
    bitunpack,
    bitunpack_runs,
    code_width,
    round_width,
    width_code,
)
from .rle_v1 import _prep_u64, _range_gather_indices
from .varint import (
    decode_varint_one,
    encode_varint_one,
    zigzag_decode,
    zigzag_encode,
)

_MAX_CHUNK = 512
_U64_MASK = 0xFFFFFFFFFFFFFFFF

_POW2 = np.array([1 << k for k in range(64)], dtype=np.uint64)
_ZEROS_U64 = np.zeros(8, np.uint64)


def _bit_lengths(u: np.ndarray) -> np.ndarray:
    """Per-value bit length of a uint64 array (0 for zero)."""
    return np.searchsorted(_POW2, u, side="right").astype(np.int64)


def _zigzag_one(x: int) -> int:
    return ((x << 1) ^ (x >> 63)) & _U64_MASK if x < 0 else (x << 1) & _U64_MASK


def _unzigzag_one(z: int) -> int:
    return (z >> 1) ^ -(z & 1)


# ------------------------------------------------------------------ encode


def _emit_short_repeat(out: list[bytes], value_u: int, count: int, signed: bool):
    v = _zigzag_one(value_u - (1 << 64) if signed and value_u >> 63 else value_u) if signed else value_u
    nbytes = max(1, (v.bit_length() + 7) // 8)
    out.append(bytes(((0 << 6) | ((nbytes - 1) << 3) | (count - 3),)))
    out.append(v.to_bytes(nbytes, "big"))


def _direct_header(w: int, n: int) -> bytes:
    c = width_code(w)
    return bytes(((1 << 6) | (c << 1) | ((n - 1) >> 8), (n - 1) & 0xFF))


def _emit_direct(
    out: list[bytes], seg_u: np.ndarray, signed: bool, zz: np.ndarray | None = None
):
    if zz is None:
        zz = zigzag_encode(seg_u.view(np.int64)) if signed else seg_u
    w = round_width(int(_bit_lengths(zz).max()) if zz.size else 1)
    c = width_code(w)
    n = seg_u.size
    out.append(bytes(((1 << 6) | (c << 1) | ((n - 1) >> 8), (n - 1) & 0xFF)))
    out.append(bitpack(zz, w))


# Spec "aligned" widths (Java writer getClosestAlignedFixedBits); delta
# never packs below 2 bits because delta width code 0 means fixed-delta.
_DELTA_ALIGNED = (2, 4, 8, 16, 24, 32, 40, 48, 56, 64)


def _delta_packed_width(bits: int) -> int:
    for w in _DELTA_ALIGNED:
        if bits <= w:
            return w
    raise ValueError(f"delta width {bits} > 64")


def _delta_width_field(d0: int, rest_abs: np.ndarray) -> int | None:
    """The 5-bit width field for a delta chunk: 0 for fixed delta, else
    the SPEC width code of the aligned packed width of |deltas[1:]|
    (ORC quirk: code 0 is taken by fixed-delta, so packed widths start
    at 2). None if the deltas exceed 64 bits (use direct/patched)."""
    if rest_abs.size and not bool((rest_abs == np.uint64(abs(d0))).all()):
        bits = int(_bit_lengths(rest_abs).max())
        if bits > 64:
            return None
        return width_code(_delta_packed_width(bits))
    return 0  # fixed delta: decoder replays |d0| with d0's sign


def _delta_prefix(n: int, dfield: int, base_u, d0: int, signed: bool) -> bytes:
    """Header, base varint (zigzag if signed) and first-delta zigzag
    varint of an ``n``-value delta run; the |deltas[1:]| pack follows
    when ``dfield`` is non-zero."""
    base = int(base_u)
    if signed:
        base = _zigzag_one(base - (1 << 64) if base >> 63 else base)
    return (
        bytes(((3 << 6) | (dfield << 1) | ((n - 1) >> 8), (n - 1) & 0xFF))
        + encode_varint_one(base)
        + encode_varint_one(_zigzag_one(d0))
    )


def _emit_delta(
    out: list[bytes], seg_u: np.ndarray, d0: int, rest_abs: np.ndarray, signed: bool
):
    dfield = _delta_width_field(d0, rest_abs)
    assert dfield is not None, "caller must pre-check _delta_width_field"
    out.append(_delta_prefix(seg_u.size, dfield, seg_u[0], d0, signed))
    if dfield:
        out.append(bitpack(rest_abs, code_width(dfield)))


def _bitpack_py(vals, width: int) -> bytes:
    """MSB-first bitpack via one Python big-int — beats the numpy
    kernel's per-call overhead for the <=31-entry patch lists."""
    acc = 0
    for v in vals:
        acc = (acc << width) | int(v)
    nbits = len(vals) * width
    if not nbits:
        return b""
    pad = (-nbits) % 8
    return (acc << pad).to_bytes((nbits + pad) // 8, "big")


def _try_patched(seg_u: np.ndarray, signed: bool):
    """Patched-base encoding if applicable and beneficial: returns
    (total_size, prefix_bytes, masked_residual, w, suffix_bytes) with
    the residual pack DEFERRED (batched by the caller), else None."""
    n = seg_u.size
    if n < 16:
        return None
    if signed:
        s = seg_u.view(np.int64)
        base = int(s.min())
    else:
        base = int(seg_u.min())
        if base >= 1 << 63:
            return None
    residual = seg_u - np.uint64(base & _U64_MASK)
    bl = _bit_lengths(residual)
    max_w = int(bl.max())
    # 95th-percentile width via bincount (bl <= 64, far faster than
    # np.percentile on small chunks)
    counts = np.bincount(bl, minlength=65)
    w95 = int(np.searchsorted(np.cumsum(counts), 0.95 * n))
    w = round_width(max(1, w95))
    if w >= max_w:
        return None  # no outliers to patch
    outliers = np.flatnonzero(bl > w)
    if outliers.size == 0 or outliers.size > 31:
        return None
    pw = round_width(max_w - w)
    # patch entries: (gap, high bits); bridge gaps > 255
    entries: list[tuple[int, int]] = []
    prev = 0
    ok = True
    for idx in outliers.tolist():
        gap = idx - prev
        while gap > 255:
            entries.append((255, 0))
            gap -= 255
        entries.append((gap, int(residual[idx] >> np.uint64(w))))
        prev = idx
    if len(entries) > 31:
        return None
    pgw = max(1, max(e[0] for e in entries).bit_length())
    if pgw > 8 or pgw + pw > 64:
        return None
    # +1: the MSB of the first base byte is the SIGN bit (sign-magnitude
    # big-endian) — the magnitude must not reach into it, or a
    # spec-compliant reader (Apache ORC C++) reads a negative base.
    # Caught by the write_orc(rle="v2") external-reader loop; our own
    # symmetric decoder masked it.
    bw = max(1, ((abs(base)).bit_length() + 1 + 7) // 8)
    if bw > 8 or abs(base) >= 1 << 63:
        return None
    # patch-list entries are packed at the CLOSEST FIXED WIDTH >= pgw+pw
    # (ORC spec / Apache readers: getClosestFixedBits(patchBitSize+pgw)) —
    # packing at the raw sum desyncs the Apache C++ reader's stream walk
    ew = round_width(pgw + pw)
    packed_patch = _bitpack_py([(g << pw) | p for g, p in entries], ew)
    header = bytes(
        (
            (2 << 6) | (width_code(w) << 1) | ((n - 1) >> 8),
            (n - 1) & 0xFF,
            ((bw - 1) << 5) | width_code(pw),
            ((pgw - 1) << 5) | len(entries),
        )
    )
    base_mag = abs(base)
    base_bytes = bytearray(base_mag.to_bytes(bw, "big"))
    if base < 0:
        base_bytes[0] |= 0x80
    prefix = header + bytes(base_bytes)
    size = len(prefix) + (n * w + 7) // 8 + len(packed_patch)
    return size, prefix, residual & np.uint64((1 << w) - 1), w, packed_patch


def _direct_size(n: int, w: int) -> int:
    return 2 + (n * w + 7) // 8


def _encode_literal_chunk(
    out: list, seg_u: np.ndarray, signed: bool, zz: np.ndarray | None = None
):
    """Pick the cheapest of delta/patched/direct for a <=512 chunk.

    DIRECT payloads are not packed here: a (header, zz, w, b"") entry
    is appended instead, and ``_join_deferred`` packs all same-width
    entries in one bitpack at the end."""
    n = seg_u.size
    if n == 1:
        _emit_direct(out, seg_u, signed, zz)
        return
    if 3 <= n <= 10 and bool((seg_u == seg_u[0]).all()):
        _emit_short_repeat(out, int(seg_u[0]), n, signed)
        return
    if zz is None:
        zz = zigzag_encode(seg_u.view(np.int64)) if signed else seg_u
    bl = _bit_lengths(zz)
    w_direct = round_width(max(1, int(bl.max())))
    dsize = _direct_size(n, w_direct)
    # monotonic? (compare in the value domain)
    if signed:
        s = seg_u.view(np.int64)
        nondec = bool((s[1:] >= s[:-1]).all())
        noninc = bool((s[1:] <= s[:-1]).all())
    else:
        nondec = bool((seg_u[1:] >= seg_u[:-1]).all())
        noninc = bool((seg_u[1:] <= seg_u[:-1]).all())
    if nondec or noninc:
        if nondec:
            dabs = seg_u[1:] - seg_u[:-1]
        else:
            dabs = seg_u[:-1] - seg_u[1:]
        # the decoder takes the run direction from sign(d0): a decreasing
        # sequence whose FIRST delta is 0 would decode with the wrong sign
        dir_ok = nondec or dabs.size == 0 or int(dabs[0]) != 0 or not dabs.any()
        if (
            dir_ok
            and (dabs.size == 0 or int(dabs.max()) < 1 << 63)
            and (
                dabs.size == 0
                or _delta_width_field(
                    int(dabs[0]) if nondec else -int(dabs[0]), dabs[1:]
                )
                is not None
            )
        ):
            d0 = int(dabs[0]) if nondec else (-int(dabs[0]) if dabs.size else 0)
            buf: list[bytes] = []
            _emit_delta(buf, seg_u, d0, dabs[1:], signed)
            delta_bytes = b"".join(buf)
            if len(delta_bytes) <= dsize:
                out.append(delta_bytes)
            else:
                out.append((_direct_header(w_direct, n), zz, w_direct, b""))
            return
    patched = _try_patched(seg_u, signed)
    if patched is not None and patched[0] < dsize:
        out.append(patched[1:])
    else:
        out.append((_direct_header(w_direct, n), zz, w_direct, b""))


def _emit_run(out: list, u: np.ndarray, s: int, L: int, signed: bool):
    """One equal-value run of ``L`` (>= 32) values at ``u[s]``: fixed-zero
    delta chunks of 512, then the tail as short-repeat (3..10 values),
    direct (1..2) or another zero delta."""
    full, r = divmod(L, _MAX_CHUNK)
    out.extend([_delta_prefix(_MAX_CHUNK, 0, u[s], 0, signed)] * full)
    if 3 <= r <= 10:
        _emit_short_repeat(out, int(u[s]), r, signed)
    elif r >= 11:
        out.append(_delta_prefix(r, 0, u[s], 0, signed))
    elif r:
        _emit_direct(out, u[s : s + r], signed)


# round_width / the aligned delta width / the varint length as lookup
# tables indexed by bit length 0..64, for the (k, 512) chunk matrices
_ROUND_W = np.array([round_width(b) for b in range(65)], np.int64)
_DELTA_W = np.array([_delta_packed_width(b) for b in range(65)], np.int64)
_VARINT_LEN = np.array([max(1, (b + 6) // 7) for b in range(65)], np.int64)
_P95 = int(np.ceil(0.95 * _MAX_CHUNK)) - 1  # patched-base width rank
_BATCH_CHUNKS = 256  # full chunks scored per matrix pass (128Ki values)


def _full_chunk_entries(u: np.ndarray, zz: np.ndarray, cs: np.ndarray,
                        signed: bool) -> list:
    """One output entry per full 512-value literal chunk ``u[c:c+512]``
    for ``c`` in ``cs``: ``_encode_literal_chunk``'s delta / patched /
    direct choice, scored for all chunks at once on (k, 512) matrices.

    Per row: the max bit length gives the direct width and size; the
    monotone flags, first delta and delta width field give the exact
    delta size; the 95th-percentile residual width says whether
    patched-base can apply. Only those patched-eligible chunks run
    ``_encode_literal_chunk`` itself; delta and direct payloads are
    deferred for ``_join_deferred``'s batched bitpack."""
    entries: list = []
    lane = np.arange(_MAX_CHUNK)
    for b0 in range(0, cs.size, _BATCH_CHUNKS):
        rows = cs[b0 : b0 + _BATCH_CHUNKS, None] + lane
        U = u[rows]
        Z = zz[rows]
        w_direct = _ROUND_W[_bit_lengths(Z.max(axis=1))]
        dsize = _direct_size(_MAX_CHUNK, w_direct)
        V = U.view(np.int64) if signed else U
        nondec = (V[:, 1:] >= V[:, :-1]).all(axis=1)
        noninc = (V[:, 1:] <= V[:, :-1]).all(axis=1)
        D = np.where(nondec[:, None], U[:, 1:] - U[:, :-1], U[:, :-1] - U[:, 1:])
        d0 = D[:, 0]
        # the decoder takes the direction from sign(d0): a decreasing
        # chunk whose first delta is 0 cannot be a delta run
        delta = (
            (nondec | noninc)
            & (nondec | (d0 != 0) | ~D.any(axis=1))
            & (D.max(axis=1) < np.uint64(1 << 63))
        )
        fixed = (D[:, 1:] == d0[:, None]).all(axis=1)
        dw = _DELTA_W[_bit_lengths(D[:, 1:].max(axis=1))]
        neg = ~nondec  # a decreasing delta chunk has d0 != 0
        d0_zz = (d0 << np.uint64(1)) - neg  # zigzag of -d0 when neg
        dsize_delta = (
            2
            + _VARINT_LEN[_bit_lengths(Z[:, 0] if signed else U[:, 0])]
            + _VARINT_LEN[_bit_lengths(d0_zz)]
            + np.where(fixed, 0, ((_MAX_CHUNK - 2) * dw + 7) // 8)
        )
        # patched-base needs residuals wider than the rounded
        # 95th-percentile residual width (see _try_patched; at most 25
        # of 512 are, within its 31-patch limit); bit length is
        # monotone, so the rank is taken on the residuals
        patch = np.zeros(delta.size, bool)
        rest = np.flatnonzero(~delta)
        if rest.size:
            R = U[rest] - V[rest].min(axis=1).view(np.uint64)[:, None]
            w95 = _bit_lengths(np.partition(R, _P95, axis=1)[:, _P95])
            patch[rest] = _ROUND_W[np.maximum(1, w95)] < _bit_lengths(R.max(axis=1))
        for k, (is_delta, is_patch) in enumerate(zip(delta.tolist(), patch.tolist())):
            if is_patch:
                _encode_literal_chunk(entries, U[k], signed, Z[k])
            elif is_delta and dsize_delta[k] <= dsize[k]:
                w = int(dw[k])
                prefix = _delta_prefix(
                    _MAX_CHUNK, 0 if fixed[k] else width_code(w), U[k, 0],
                    -int(d0[k]) if neg[k] else int(d0[k]), signed,
                )
                entries.append(prefix if fixed[k] else (prefix, D[k, 1:], w, b""))
            else:
                w = int(w_direct[k])
                entries.append((_direct_header(w, _MAX_CHUNK), Z[k], w, b""))
    return entries


def _segments(u: np.ndarray):
    """(run starts, run lengths, stretch starts, stretch ends) of a
    non-empty array. Only long equal-value runs (>= 32) are split out:
    short runs inside a monotonic stretch are cheaper in a 1-bit-delta
    512-chunk than as standalone groups. The literal stretches are the
    gaps before, between and after the long runs; stretch j precedes
    run j, and each is cut into 512-value chunks from its start."""
    n = u.size
    change = np.empty(n, bool)
    change[0] = True
    change[1:] = u[1:] != u[:-1]
    starts = np.flatnonzero(change)
    lengths = np.diff(np.append(starts, n))
    long_runs = np.flatnonzero(lengths >= 32)
    run_s = starts[long_runs]
    run_len = lengths[long_runs]
    lit_s = np.concatenate(([0], run_s + run_len))
    lit_e = np.append(run_s, n)
    return run_s, run_len, lit_s, lit_e


def size_lower_bound(values: np.ndarray, signed: bool = True) -> int:
    """A size ``encode_int_rle_v2(values, signed)`` never undercuts.

    Long runs count 0. Each literal chunk (``_segments``) costs at least
    2 bytes if it is monotone (delta, short-repeat or one value), else
    the least of its exact DIRECT size and a PATCHED_BASE floor: a
    5-byte header and base, and every value packed at a spec width that
    holds all but 31 of the chunk's residuals (a patch list has at most
    31 entries), i.e. at least the bit length of its 32nd-largest."""
    u = _prep_u64(values, signed)
    if u.size == 0:
        return 0
    _, _, lit_s, lit_e = _segments(u)
    nch = -(-(lit_e - lit_s) // _MAX_CHUNK)
    first = np.cumsum(nch) - nch
    c_s = np.repeat(lit_s, nch) + _MAX_CHUNK * (
        np.arange(int(nch.sum())) - np.repeat(first, nch)
    )
    c_e = np.minimum(c_s + _MAX_CHUNK, np.repeat(lit_e, nch))
    c = c_e - c_s
    if c.size == 0:
        return 0
    val = u.view(np.int64) if signed else u
    zz = zigzag_encode(val) if signed else u
    spans = np.stack([c_s, c_e], 1).ravel()  # reduceat: even rows
    direct = _direct_size(c, _ROUND_W[np.maximum(1, _bit_lengths(
        np.maximum.reduceat(np.append(zz, zz[:1]), spans)[::2]))])
    steps = np.stack([c_s, c_e - 1], 1).ravel()
    up = np.append(val[1:] >= val[:-1], True)
    down = np.append(val[1:] <= val[:-1], True)
    mono = ((c == 1) | np.minimum.reduceat(up, steps)[::2]
            | np.minimum.reduceat(down, steps)[::2])
    patch_w = np.ones(c.size, np.int64)
    lo = np.minimum.reduceat(np.append(val, val[:1]), spans)[::2].view(np.uint64)
    rank = _MAX_CHUNK - 32
    full = np.flatnonzero(~mono & (c == _MAX_CHUNK))
    if full.size:
        r = u[c_s[full, None] + np.arange(_MAX_CHUNK)] - lo[full, None]
        patch_w[full] = _bit_lengths(np.partition(r, rank, axis=1)[:, rank])
    for j in np.flatnonzero(~mono & (c >= 32) & (c < _MAX_CHUNK)).tolist():
        rank = int(c[j]) - 32
        patch_w[j] = int(np.partition(u[c_s[j] : c_e[j]] - lo[j], rank)[rank]).bit_length()
    patched = 5 + (c * _ROUND_W[np.maximum(1, patch_w)] + 7) // 8
    return int(np.where(mono, 2, np.minimum(direct, patched)).sum())


def encode_int_rle_v2(values: np.ndarray, signed: bool = True) -> bytes:
    u = _prep_u64(values, signed)
    n = u.size
    if n == 0:
        return b""
    zz_full = zigzag_encode(u.view(np.int64)) if signed else u
    run_s, run_len, lit_s, lit_e = _segments(u)
    nfull = (lit_e - lit_s) // _MAX_CHUNK
    first = np.cumsum(nfull) - nfull
    cs = np.repeat(lit_s, nfull) + _MAX_CHUNK * (
        np.arange(int(nfull.sum())) - np.repeat(first, nfull)
    )
    full_entries = _full_chunk_entries(u, zz_full, cs, signed)
    out: list = []
    runs = zip(run_s.tolist(), run_len.tolist())
    for s, e, k, c in zip(lit_s.tolist(), lit_e.tolist(), nfull.tolist(),
                          first.tolist()):
        out += full_entries[c : c + k]
        ts = s + k * _MAX_CHUNK
        if ts < e:
            _encode_literal_chunk(out, u[ts:e], signed, zz_full[ts:e])
        run = next(runs, None)
        if run is not None:
            _emit_run(out, u, run[0], run[1], signed)
    return _join_deferred(out)


def _join_deferred(out: list) -> bytes:
    """Join the output entries, resolving the deferred packs (direct
    values, delta magnitudes, patched residuals) with one bitpack per
    width. MSB-first packing of byte-aligned payloads concatenates, and
    a payload whose last byte is partly filled is made aligned with
    zero values when they fit inside that byte (510 delta magnitudes at
    2 bits: two zeros), so the split packing is byte-identical."""
    by_w: dict[int, list[int]] = {}
    for k, p in enumerate(out):
        if type(p) is tuple:
            prefix, arr, w, suffix = p
            if (-arr.size % (8 // math.gcd(w, 8))) * w < 8:
                by_w.setdefault(w, []).append(k)
            else:
                out[k] = prefix + bitpack(arr, w) + suffix
    for w, ks in by_w.items():
        step = 8 // math.gcd(w, 8)
        parts = []
        for k in ks:
            arr = out[k][1]
            parts.append(arr)
            if arr.size % step:
                parts.append(_ZEROS_U64[: -arr.size % step])
        packed = bitpack(np.concatenate(parts), w)
        off = 0
        for k in ks:
            prefix, arr, _, suffix = out[k]
            nb = (arr.size * w + 7) // 8
            out[k] = prefix + packed[off : off + nb] + suffix
            off += nb
    return b"".join(out)


# ------------------------------------------------------------------ decode


def _scatter_ranges(dst: np.ndarray, starts, lens, vals) -> None:
    """dst[starts[i] : starts[i]+lens[i]] = next lens[i] of vals: one
    slice copy per range when ranges are long (RLEv2 runs hold up to
    512 values), one index scatter when they are short."""
    starts = np.asarray(starts, np.int64)
    lens = np.asarray(lens, np.int64)
    if starts.size == 0:
        return
    total = int(lens.sum())
    if starts.size == 1 or (starts[1:] == starts[:-1] + lens[:-1]).all():
        s0 = int(starts[0])
        dst[s0 : s0 + total] = vals
        return
    if total < 64 * starts.size:
        dst[_range_gather_indices(starts, lens)] = vals
        return
    o = 0
    for s, n in zip(starts.tolist(), lens.tolist()):
        dst[s : s + n] = vals[o : o + n]
        o += n


def decode_int_rle_v2(buf, signed: bool = True,
                      count: int | None = None) -> np.ndarray:
    """Two-pass decode: a cheap Python header scan files every segment
    under its sub-encoding (and direct payloads under their width),
    then each materializes BATCHED across all its segments straight
    into one output. Short-repeat is a single np.repeat + scatter;
    same-width direct/delta payloads, padded or not, are unpacked in
    ONE ``bitunpack_runs`` call; ALL delta segments share one global
    cumsum with per-segment resets. Writers emit runs of <= 512 values,
    so per-segment numpy calls would be overhead-bound, and so are
    per-kind masks over the segment table: a 10,000-value group of 20
    runs costs a few dozen numpy calls whatever its mix."""
    b = bytes(buf)
    L = len(b)
    # ---- pass 1: header scan. Each kind's lists hold the segments'
    # output positions and counts, in stream order.
    sr_at: list[int] = []
    sr_n: list[int] = []
    sr_val: list[int] = []
    direct: dict[int, tuple[list, list, list]] = {}  # w -> (offs, n, at)
    patched: list[tuple] = []
    d_at: list[int] = []
    d_n: list[int] = []
    d_base: list[int] = []
    d_d0: list[int] = []
    d_var: dict[int, tuple[list, list, list]] = {}  # w -> (offs, k, n-2)
    pos = 0
    total = 0
    # ``count`` bounds the scan at the first run boundary at or past
    # that many values: positioned mid-stream reads stop early instead
    # of walking (and later materializing) the rest of the stripe
    while pos < L and (count is None or total < count):
        h0 = b[pos]
        kind = h0 >> 6
        if kind == 0:  # short repeat
            nbytes = ((h0 >> 3) & 0x7) + 1
            raw = int.from_bytes(b[pos + 1 : pos + 1 + nbytes], "big")
            val = _unzigzag_one(raw) if signed else raw
            n = (h0 & 0x7) + 3
            sr_at.append(total)
            sr_n.append(n)
            sr_val.append(val & _U64_MASK)
            pos += 1 + nbytes
        elif kind == 1:  # direct
            w = code_width((h0 >> 1) & 0x1F)
            n = (((h0 & 1) << 8) | b[pos + 1]) + 1
            offs, ns, at = direct.setdefault(w, ([], [], []))
            offs.append(pos + 2)
            ns.append(n)
            at.append(total)
            pos += 2 + (n * w + 7) // 8
        elif kind == 2:  # patched base
            w = code_width((h0 >> 1) & 0x1F)
            n = (((h0 & 1) << 8) | b[pos + 1]) + 1
            h2 = b[pos + 2]
            h3 = b[pos + 3]
            bw = ((h2 >> 5) & 0x7) + 1
            pw = code_width(h2 & 0x1F)
            pgw = ((h3 >> 5) & 0x7) + 1
            pll = h3 & 0x1F
            # entries are packed at the closest fixed width >= pgw+pw
            # (matches Apache readers; see _try_patched)
            ew = round_width(pgw + pw)
            patched.append((total, n, pos + 4, w, bw, pw, ew, pll))
            pos += 4 + bw + (n * w + 7) // 8 + (pll * ew + 7) // 8
        else:  # delta
            dfield = (h0 >> 1) & 0x1F
            n = (((h0 & 1) << 8) | b[pos + 1]) + 1
            pos += 2
            base_raw, pos = decode_varint_one(b, pos)
            base = _unzigzag_one(base_raw) if signed else base_raw
            d0_raw, pos = decode_varint_one(b, pos)
            if dfield:
                if n < 2:
                    # spec: delta runs hold >= 2 values; a foreign
                    # stream claiming n=1 with a residual width would
                    # compute a NEGATIVE payload length and silently
                    # desync the header walk — fail loudly instead
                    raise ValueError(
                        "rle_v2: variable-width delta run with n < 2"
                    )
                w = code_width(dfield)
                offs, ks, nds = d_var.setdefault(w, ([], [], []))
                offs.append(pos)
                ks.append(len(d_at))
                nds.append(n - 2)
                pos += ((n - 2) * w + 7) // 8
            # else fixed delta: a pure arithmetic sequence (the encoder
            # writes |d| for deltas[2:] with d0's sign, i.e. step is
            # exactly d0 throughout)
            d_at.append(total)
            d_n.append(n)
            d_base.append(base & _U64_MASK)
            d_d0.append(_unzigzag_one(d0_raw))
        total += n
    if pos > L:
        raise ValueError("rle_v2: run past the end of the stream")
    out = np.empty(total, np.uint64)
    if not total:  # count=0 positioned read: nothing to materialize
        return out.view(np.int64) if signed else out
    bview = np.frombuffer(b, np.uint8)

    # ---- short repeat: ALL segments via one repeat + one scatter
    if sr_at:
        _scatter_ranges(out, sr_at, sr_n,
                        np.repeat(np.array(sr_val, np.uint64), sr_n))

    # ---- direct: every segment of one width in one unpack + scatter
    for w, (offs, ns, at) in direct.items():
        packed = bitunpack_runs(bview, offs, ns, w)
        _scatter_ranges(
            out, at, ns,
            zigzag_decode(packed).view(np.uint64) if signed else packed,
        )

    # ---- patched base (rare; unchanged semantics)
    for at, n, off, w, bw, pw, ew, pll in patched:
        base_raw = int.from_bytes(b[off : off + bw], "big")
        base = base_raw & ((1 << (bw * 8 - 1)) - 1)
        if base_raw >> (bw * 8 - 1):
            base = -base
        off += bw
        nbytes = (n * w + 7) // 8
        residual = bitunpack(b[off : off + nbytes], w, n)
        off += nbytes
        entries = bitunpack(b[off : off + (pll * ew + 7) // 8], ew, pll)
        idx = 0
        for e in entries.tolist():
            gap = e >> pw
            patch = e & ((1 << pw) - 1)
            idx += gap
            if patch:
                residual[idx] |= np.uint64(patch << w)
        out[at : at + n] = residual + np.uint64(base & _U64_MASK)

    # ---- delta: ONE global cumsum over every delta segment's
    # increment stream [base_i, d0_i, ±|d|...], with per-segment
    # resets via prefix subtraction (uint64 wraparound keeps negative
    # steps exact). Every increment starts as d0 (the whole tail of a
    # fixed-delta run); variable-width runs' |d| payloads replace their
    # tails, unpacked in one call per width like direct.
    if d_at:
        c = np.array(d_n, np.int64)
        first = np.cumsum(c) - c
        base_u = np.array(d_base, np.uint64)
        inc = np.repeat(np.array([d & _U64_MASK for d in d_d0], np.uint64), c)
        for w, (offs, ks, nds) in d_var.items():
            dabs = bitunpack_runs(bview, offs, nds, w)
            neg = [d_d0[k] < 0 for k in ks]
            if any(neg):
                dabs = np.where(np.repeat(neg, nds), np.uint64(0) - dabs, dabs)
            _scatter_ranges(inc, first[ks] + 2, nds, dabs)
        inc[first] = base_u
        csum = np.cumsum(inc, dtype=np.uint64)
        prefix = csum[first] - base_u  # running total before each seg
        _scatter_ranges(out, d_at, c, csum - np.repeat(prefix, c))

    return out.view(np.int64) if signed else out


def rle_v2_has_patched(buf) -> bool:
    """Header-only scan: True iff any run in ``buf`` uses the
    patched-base sub-encoding (kind 2) — the ONLY RLEv2 wire that
    changed in engine 4.0 (patch-entry width rounding, sign-bit-safe
    base bytes). Walks the same headers as ``decode_int_rle_v2``'s
    pass 1 but never touches a payload, so pre-4.0 blobs whose
    short-repeat/direct/delta streams are byte-identical across
    versions stay decodable (deserialize_blob's cross-major gate calls
    this instead of refusing every rle_v2 blob)."""
    b = bytes(buf)
    L = len(b)
    pos = 0
    while pos < L:
        h0 = b[pos]
        kind = h0 >> 6
        if kind == 0:  # short repeat
            pos += 1 + (((h0 >> 3) & 0x7) + 1)
        elif kind == 1:  # direct
            w = code_width((h0 >> 1) & 0x1F)
            n = (((h0 & 1) << 8) | b[pos + 1]) + 1
            pos += 2 + (n * w + 7) // 8
        elif kind == 2:  # patched base
            return True
        else:  # delta
            dfield = (h0 >> 1) & 0x1F
            n = (((h0 & 1) << 8) | b[pos + 1]) + 1
            pos += 2
            _, pos = decode_varint_one(b, pos)  # base
            _, pos = decode_varint_one(b, pos)  # d0
            if dfield:
                if n < 2:
                    raise ValueError(
                        "rle_v2: variable-width delta run with n < 2"
                    )
                pos += ((n - 2) * code_width(dfield) + 7) // 8
    return False
