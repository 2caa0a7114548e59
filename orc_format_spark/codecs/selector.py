"""Per-partition codec auto-selection.

The reference never selects codecs: every column is hardcoded to DIRECT
encoding (string.rs:173-177; SURVEY.md section 4.2). This module is the
Spark-era replacement mandated by BASELINE.json's north rule: sampled
cardinality / run-length / value-range statistics drive the choice.

Every full selection is made on a bounded contiguous sample (16Ki
values for numbers, 2,048 strings) and picks exactly the codec that
trial-encoding every candidate would pick (the first minimum in
candidate order), so no output byte depends on how the choice was
reached:

1. Exact sizes first: the candidate with the cheap kernel is encoded
   outright (``for_bitpack`` for ints, ``dict_str`` for clearly
   low-cardinality strings).
2. Then lower bounds: for each other candidate, one pass over the
   sample gives a size its encoder provably never undercuts
   (``rle_v2.size_lower_bound``: per-chunk direct and patched-base
   floors; ``rle_v1.size_lower_bound``: literal varints and run
   groups; the index width of the leading distinct count for
   ``dict_int``; the payload length for ``raw_str``).
3. A trial encode only where a bound can still win (``_can_win``):
   below the best exact size so far, or equal to it when the candidate
   comes first in order and so would win the tie.

The estimates (``est``) hold the measured bytes per sampled value (per
sampled payload byte for strings) of the candidates that were encoded;
pruned candidates' bounds go to the optional ``_bounds`` dict, which
the container records in the codec-lineage row.

Floats stay trial-encoded: their candidates are compared after the
block codec, and a post-zstd size has no provable bound. Rules such as
"ALP wins when it is exact and at most 4 B/value" change winners on
ordinary columns (a 0.01-step progression is 0.197 B/value as
``float_split`` and 1.703 as ``alp``), so a chunked encode decides
floats, like ints and strings, once per partition instead.

Per partition: ``container.encode_table`` passes each auto-selected
column a ``_prior`` dict that lives for one call. The first chunk runs
the full selection above, so the exactness holds per deciding chunk,
and leaves in the dict its winner, its profile (``_int_profile``,
``_str_profile``, ``_float_profile``) and a size limit: the smallest
``est`` or pruned bound among the other candidates. A later chunk
encodes only the winner and keeps it when its own profile equals the
deciding chunk's and the winner's ``est`` does not exceed the limit.
Otherwise it runs the full selection and becomes the deciding chunk;
``prior["reselected"]`` counts these fallbacks by reason (``profile``
or ``size``) for the lineage row. The size check and that selection
share one memo of sample encodes (``functools.cache``), so a winner the
check already encoded is not encoded again; it still enters ``est``
only where the selection itself tries it, never where its bound prunes
it.

No candidate encode is wrapped in an error gate: every kernel encodes
any column of its type (``tests/test_selector.py`` fuzzes them), so a
kernel that raises is a bug that surfaces instead of silently moving
the choice to another codec and changing the bytes.
"""

from __future__ import annotations

import functools

import numpy as np
import pyarrow.compute as pc

from . import dictionary, fsst, raw, rle_v1, rle_v2
from .bitpack import encode_for_bitpack
from .varint import decode_varint_one, encode_varint_one

SAMPLE_VALUES = 1 << 14

INT_CANDIDATES = ("rle_v1", "rle_v2", "for_bitpack", "dict_int")
STR_CANDIDATES = ("raw_str", "dict_str", "fsst")


def _encode_int(codec: str, v: np.ndarray, signed: bool) -> bytes:
    if codec == "rle_v1":
        return rle_v1.encode_int_rle_v1(v, signed)
    if codec == "rle_v2":
        return rle_v2.encode_int_rle_v2(v, signed)
    if codec == "for_bitpack":
        return encode_for_bitpack(v, signed)
    if codec == "dict_int":
        return dictionary.encode_dict_int(v, signed)
    raise ValueError(codec)


def _length_head(offsets: np.ndarray) -> bytes:
    """What ``raw_str`` and ``fsst`` both start with: the value count,
    the length stream's size and the lengths as unsigned RLEv1."""
    lens = (offsets[1:] - offsets[:-1]).astype(np.uint64)
    lstream = rle_v1.encode_int_rle_v1(lens, signed=False)
    return encode_varint_one(len(lens)) + encode_varint_one(len(lstream)) + lstream


def _encode_str(codec: str, data: np.ndarray, offsets: np.ndarray,
                table=None, head: bytes | None = None) -> bytes:
    if codec == "raw_str":
        return raw.encode_bytes_raw(data, offsets)
    if codec == "dict_str":
        return dictionary.encode_dict_bytes(data, offsets)
    if codec == "fsst":
        # fsst payload after a length stream so values can be re-split;
        # ``table`` reuses an already-trained symbol table (bit-identical
        # when it was trained on the same first _SAMPLE_BYTES), ``head``
        # an already-encoded ``_length_head(offsets)``
        if head is None:
            head = _length_head(offsets)
        return head + fsst.fsst_encode(data, table)
    raise ValueError(codec)


def _can_win(c: str, bound: int, size: dict[str, int], order: tuple) -> bool:
    """Whether a candidate of at least ``bound`` bytes could still be
    the first minimum in ``order`` among the exact ``size``s so far."""
    if not size:
        return True
    best = min(size.values())
    first = next(x for x in order if size.get(x) == best)
    return bound < best or (bound == best and order.index(c) < order.index(first))


def _reuse(prior: dict | None, profile, measure) -> tuple | None:
    """(codec, est, sample bytes) of the column's prior winner when this
    chunk keeps it; None when the chunk must run the full selection,
    with the reason counted in ``prior["reselected"]``. ``measure(c)``
    encodes candidate ``c`` on the sample: (bytes, est)."""
    if not prior or "codec" not in prior:
        return None
    if profile != prior["profile"]:
        why = "profile"
    else:
        c = prior["codec"]
        b, e = measure(c)
        if e <= prior["limit"]:
            return c, {c: e}, b
        why = "size"
    prior["reselected"][why] = prior["reselected"].get(why, 0) + 1
    return None


def _decide(prior: dict | None, best: str, est: dict, bounds: dict, profile) -> None:
    """Make this chunk the column's deciding chunk."""
    if prior is None:
        return
    prior.setdefault("reselected", {})
    prior["codec"] = best
    prior["profile"] = profile
    other = [x for c, x in (*est.items(), *bounds.items()) if c != best]
    prior["limit"] = min(other, default=float("inf"))


def _shape(s: np.ndarray, keys: np.ndarray) -> tuple[bool, bool, float]:
    """Whether the sample ``s`` is sorted; whether most of its values
    repeat their predecessor (runs); the distinct share of the first
    512 ``keys`` (``s`` itself, or the floats' bit patterns)."""
    k0 = min(keys.size, 512)
    return (
        bool((s[1:] >= s[:-1]).all()),
        2 * np.count_nonzero(keys[1:] == keys[:-1]) > keys.size,
        np.unique(keys[:k0]).size / k0,
    )


def _int_profile(s: np.ndarray) -> tuple:
    """Bit length of the sample's value range, sortedness, runs, and
    whether the first 512 values are under half distinct (the
    ``dict_int`` gate)."""
    is_sorted, runs, distinct = _shape(s, s)
    return (int(s.max()) - int(s.min())).bit_length(), is_sorted, runs, distinct < 0.5


def select_and_encode_int(
    v: np.ndarray, signed: bool = True, sample: int = SAMPLE_VALUES, *,
    _bounds: dict | None = None, _prior: dict | None = None,
) -> tuple[str, dict[str, float], bytes]:
    """Selection + final encode fused: returns (codec, estimates, wire
    bytes). When the sample covered the whole column (the common case
    for every column except long token lists), the winning candidate's
    bytes ARE the final bytes — one encode instead of two, bit-identical
    (every int codec is deterministic).

    ``for_bitpack`` (exact and cheap) is encoded first; ``rle_v2``,
    ``rle_v1`` and, below a 0.5 distinct ratio, ``dict_int`` follow
    only when their lower bound can still win. ``_bounds`` receives the
    pruned ones' bounds in bytes per value. ``_prior``: see the module
    docstring."""
    n = v.size
    if n == 0:
        return "rle_v1", {}, _encode_int("rle_v1", v, signed)
    s = v[: min(n, sample)]
    profile = _int_profile(s) if _prior is not None else None

    @functools.cache
    def measure(c: str) -> tuple[bytes, float]:
        b = _encode_int(c, s, signed)
        return b, len(b) / len(s)

    kept = _reuse(_prior, profile, measure)
    if kept is not None:
        best, est, b = kept
        return best, est, b if n <= sample else _encode_int(best, v, signed)
    # cheap stats to prune candidates
    uniq = np.unique(s[: 4096])
    card_ratio = uniq.size / min(len(s), 4096)
    size: dict[str, int] = {}
    enc: dict[str, bytes] = {}
    pruned: dict[str, float] = {}

    def trial(c: str) -> None:
        enc[c] = measure(c)[0]
        size[c] = len(enc[c])

    trial("for_bitpack")
    for c in ("rle_v2", "rle_v1", "dict_int"):
        if c == "rle_v2":
            bound = rle_v2.size_lower_bound(s, signed)
        elif c == "rle_v1":
            bound = rle_v1.size_lower_bound(s, signed)
        elif card_ratio < 0.5:
            # the index stream alone, at the width of the leading
            # distinct count, plus >= 6 bytes of counts and dictionary
            bound = -(-len(s) * dictionary._index_width(uniq.size) // 8) + 6
        else:
            continue
        if _can_win(c, bound, size, INT_CANDIDATES):
            trial(c)
        else:
            pruned[c] = bound / len(s)
    if _bounds is not None:
        _bounds.update(pruned)
    est = {c: size[c] / len(s) for c in INT_CANDIDATES if c in size}
    best = min(est, key=est.get)
    _decide(_prior, best, est, pruned, profile)
    if n <= sample:
        return best, est, enc[best]
    return best, est, _encode_int(best, v, signed)


def _fsst_table(sdata: np.ndarray) -> fsst.SymbolTable:
    return fsst.SymbolTable(fsst.train_symbol_table(sdata[: fsst._SAMPLE_BYTES].tobytes()))


def _all_distinct(data: np.ndarray, offsets: np.ndarray) -> bool:
    return pc.count_distinct(dictionary._binary_array(data, offsets)).as_py() == offsets.size - 1


def _str_profile(data: np.ndarray, offsets: np.ndarray) -> tuple[bool, bool]:
    """Whether the first 512 strings are clearly low-cardinality (< 5%
    distinct), and whether they are under half distinct."""
    k0 = min(offsets.size - 1, 512)
    head = dictionary._binary_array(data[: int(offsets[k0])], offsets[: k0 + 1])
    distinct = pc.count_distinct(head).as_py() / k0
    return distinct < 0.05, distinct < 0.5


def select_and_encode_str(
    data: np.ndarray, offsets: np.ndarray, sample: int = 2048, *,
    _bounds: dict | None = None, _prior: dict | None = None,
) -> tuple[str, dict[str, float], bytes]:
    """Selection + final encode fused: returns (codec, estimates, wire
    bytes), bit-identical to trial-encoding every candidate on the
    sample and encoding the winner afresh:

    - a clearly low-cardinality sample (distinct ratio < 5% over the
      first 512 strings) never picks fsst over dict, so fsst's symbol
      table training is skipped in selection entirely; ``dict_str`` is
      encoded first, and ``raw_str`` only when its lower bound (the
      payload, two bytes per 130-value length group, two count bytes)
      does not exceed the dictionary's size;
    - otherwise, when every sampled string is distinct, the dictionary
      is the sample in order, so ``dict_str`` is ``raw_str`` plus two
      varints and the packed indices: that bound is recorded and
      ``dict_str`` is never encoded;
    - fsst is trained once per column. When the sample is shorter than
      the column and holds >= the training window (_SAMPLE_BYTES), the
      final encode would train on exactly the same leading bytes, so
      the column is fsst-encoded once with the sample's table and the
      sample's size is read off that parse (``fsst.prefix_size``);
    - ``raw_str`` and fsst share the sample's length stream; when the
      sample covered the whole column, the winning candidate's bytes
      ARE the final bytes.

    ``_bounds`` receives the pruned candidates' bounds in bytes per
    sampled payload byte, the unit of the estimates. ``_prior``: see
    the module docstring.
    """
    n = offsets.size - 1
    if n == 0:
        return "raw_str", {}, _encode_str("raw_str", data, offsets)
    k = min(n, sample)
    sdata = data[: int(offsets[k])]
    soff = offsets[: k + 1]
    profile = _str_profile(data, offsets)
    low_card = profile[0]
    size: dict[str, int] = {}
    measured: dict[str, int] = {}  # exact sample sizes, as encoded or read off a parse
    enc: dict[str, bytes] = {}
    pruned: dict[str, float] = {}
    column: dict[str, bytes] = {}  # candidates already encoded on the whole column
    nbytes = max(1, sdata.size)

    def head() -> bytes:
        b = enc.get("raw_str")
        return b[: len(b) - sdata.size] if b is not None else _length_head(soff)

    @functools.cache
    def measure(c: str) -> tuple[bytes, float]:
        table = _fsst_table(sdata) if c == "fsst" else None
        if c == "fsst" and k < n and sdata.size >= fsst._SAMPLE_BYTES:
            column[c] = b = _encode_str(c, data, offsets, table=table)
            _, pos = decode_varint_one(b, 0)
            lsize, pos = decode_varint_one(b, pos)
            blob = memoryview(b)[pos + lsize :]
            measured[c] = len(head()) + fsst.prefix_size(blob, table, data, sdata.size)
        else:
            b = _encode_str(c, sdata, soff, table=table, head=head() if c == "fsst" else None)
            measured[c] = len(b)
        return b, measured[c] / nbytes

    def attempt(c: str) -> None:
        enc[c] = measure(c)[0]
        size[c] = measured[c]

    kept = _reuse(_prior, profile, measure)
    if kept is not None:
        best, est, b = kept
        enc[best] = b
    else:
        if low_card:
            attempt("dict_str")
            bound = sdata.size + 2 * -(-k // rle_v1._RUN_CAP) + 2
            if _can_win("raw_str", bound, size, STR_CANDIDATES):
                attempt("raw_str")
            else:
                pruned["raw_str"] = bound / nbytes
        else:
            attempt("raw_str")
            if _all_distinct(sdata, soff):
                # above raw_str's exact size, so never the first minimum
                w = dictionary._index_width(k)
                pruned["dict_str"] = (size["raw_str"] + 2 + -(-k * w // 8)) / nbytes
            else:
                attempt("dict_str")
            attempt("fsst")
        if _bounds is not None:
            _bounds.update(pruned)
        est = {c: size[c] / nbytes for c in STR_CANDIDATES if c in size}
        best = min(est, key=est.get)
        _decide(_prior, best, est, pruned, profile)
    if k == n:
        return best, est, enc[best]
    if best in column:
        return best, est, column[best]
    return best, est, _encode_str(best, data, offsets)


FLOAT_CANDIDATES = ("raw", "float_split", "dict_float", "alp")


def _float_bits(v: np.ndarray, double: bool) -> np.ndarray:
    if double:
        return np.ascontiguousarray(v, "<f8").view(np.int64)
    # sign-extend the 32 bit patterns so the int codecs roundtrip exactly
    return np.ascontiguousarray(v, "<f4").view(np.int32).astype(np.int64)


def _encode_float(codec: str, v: np.ndarray, double: bool) -> bytes:
    if codec in ("raw", "raw_float", "raw_double"):
        return raw.encode_float_raw(v, double)
    if codec == "float_split":
        return raw.encode_float_split(v, double)
    if codec == "dict_float":
        return dictionary.encode_dict_int(_float_bits(v, double), True)
    if codec == "alp":
        from .alp import encode_alp

        return encode_alp(v, double)
    raise ValueError(codec)


def _float_profile(s: np.ndarray, double: bool) -> tuple:
    """Whether some ALP (e, f) is exact on the first 64 values; whether
    the first 512 are clearly low-cardinality (< 5% distinct), and
    whether under half distinct; sortedness and runs."""
    from .alp import has_exact_pair

    is_sorted, runs, distinct = _shape(s, _float_bits(s, double))
    return (has_exact_pair(np.asarray(s[:64], np.float64)),
            distinct < 0.05, distinct < 0.5, is_sorted, runs)


def select_and_encode_float(
    v: np.ndarray,
    double: bool = True,
    compression: str = "zstd",
    sample: int = SAMPLE_VALUES,
    *,
    _prior: dict | None = None,
) -> tuple[str, dict[str, float], bytes]:
    """Selection + final encode fused: returns (codec, estimates, wire
    bytes). When the sample covered the whole column, the winning
    candidate's PRE-compression bytes are the final stream bytes — one
    encode instead of two, bit-identical (the block codec is applied
    downstream either way).

    Float codec selection must compare POST-compression sizes: raw
    and byte-split are the same 8 B/value on the wire and only diverge
    under the block codec (split groups the slowly-varying
    exponent/high-mantissa bytes into runs), while dict-on-bit-patterns
    crushes low-cardinality columns (prices, rates) the other two can't.
    Measured on lineitem sf0.01 under zstd: l_discount raw 69.7 KB /
    split 177.0 KB / dict 26.1 KB; l_extendedprice 250 KB / 333 KB /
    382 KB — no single choice is ever right, so each candidate's sample
    is actually compressed (bounded: <= sample values per candidate).
    ``_prior``: see the module docstring."""
    from .blocks import compress_stream

    raw_name = "raw_double" if double else "raw_float"
    n = v.size
    if n == 0:
        return raw_name, {}, _encode_float(raw_name, v, double)
    s = v[: min(n, sample)]
    profile = _float_profile(s, double) if _prior is not None else None

    @functools.cache
    def measure(c: str) -> tuple[bytes, float]:
        b = _encode_float(c, s, double)
        return b, len(compress_stream(b, compression)) / len(s)

    kept = _reuse(_prior, profile, measure)
    if kept is not None:
        best, est, b = kept
        enc = {best: b}
    else:
        est, enc = {}, {}
        for c in FLOAT_CANDIDATES:
            enc[c], est[c] = measure(c)
        best = min(est, key=est.get)
        _decide(_prior, best, est, {}, profile)
    wire = enc[best] if n <= sample else _encode_float(best, v, double)
    if best == "raw":
        best = raw_name
    return best, est, wire
