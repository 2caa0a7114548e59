"""Per-partition codec auto-selection.

The reference never selects codecs: every column is hardcoded to DIRECT
encoding (string.rs:173-177; SURVEY.md section 4.2). This module is the
Spark-era replacement mandated by BASELINE.json's north rule: sampled
cardinality / run-length / value-range statistics drive the choice.

Strategy: honesty over modeling — each candidate codec is actually run on
a bounded contiguous sample (default 16Ki values) and the cheapest
extrapolated size wins. Sampling cost is O(sample) per partition and the
measured bytes/value feed the codec-lineage metrics row.
"""

from __future__ import annotations

import numpy as np

from . import dictionary, fsst, raw, rle_v1, rle_v2
from .bitpack import encode_for_bitpack

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


def _encode_str(codec: str, data: np.ndarray, offsets: np.ndarray,
                table=None) -> bytes:
    if codec == "raw_str":
        return raw.encode_bytes_raw(data, offsets)
    if codec == "dict_str":
        return dictionary.encode_dict_bytes(data, offsets)
    if codec == "fsst":
        # fsst payload plus a length stream so values can be re-split;
        # ``table`` reuses an already-trained symbol table (bit-identical
        # when it was trained on the same first _SAMPLE_BYTES)
        lens = (offsets[1:] - offsets[:-1]).astype(np.uint64)
        lstream = rle_v1.encode_int_rle_v1(lens, signed=False)
        from .varint import encode_varint_one

        return (
            encode_varint_one(len(lens))
            + encode_varint_one(len(lstream))
            + lstream
            + fsst.fsst_encode(data, table)
        )
    raise ValueError(codec)


def select_and_encode_int(
    v: np.ndarray, signed: bool = True, sample: int = SAMPLE_VALUES
) -> tuple[str, dict[str, float], bytes]:
    """Selection + final encode fused: returns (codec, estimates, wire
    bytes). When the sample covered the whole column (the common case
    for every column except long token lists), the winning candidate's
    bytes ARE the final bytes — one encode instead of two, bit-identical
    (every int codec is deterministic)."""
    n = v.size
    if n == 0:
        return "rle_v1", {}, _encode_int("rle_v1", v, signed)
    s = v[: min(n, sample)]
    # cheap stats to prune candidates
    uniq = np.unique(s[: 4096])
    card_ratio = uniq.size / min(len(s), 4096)
    cands = ["rle_v1", "rle_v2", "for_bitpack"]
    if card_ratio < 0.5:
        cands.append("dict_int")
    est: dict[str, float] = {}
    enc: dict[str, bytes] = {}
    for c in cands:
        try:
            enc[c] = _encode_int(c, s, signed)
            est[c] = len(enc[c]) / len(s)
        except Exception:
            continue
    best = min(est, key=est.get)
    if n <= sample:
        return best, est, enc[best]
    return best, est, _encode_int(best, v, signed)


def select_and_encode_str(
    data: np.ndarray, offsets: np.ndarray, sample: int = 2048
) -> tuple[str, dict[str, float], bytes]:
    """Selection + final encode fused: returns (codec, estimates, wire
    bytes). Two measured savings over select-then-encode, both
    bit-identical to the unfused output:

    - a clearly low-cardinality sample (distinct ratio < 5% over the
      first 512 strings) never picks fsst over dict, so fsst's symbol
      table training is skipped in selection entirely;
    - when fsst IS tried and the sample holds >= the fsst training
      window (_SAMPLE_BYTES), the final encode trains on exactly the
      same leading bytes — the selection-trained table is reused
      instead of retrained; and when the sample covered the whole
      column, the winning candidate's bytes ARE the final bytes.
    """
    n = offsets.size - 1
    if n == 0:
        return "raw_str", {}, _encode_str("raw_str", data, offsets)
    k = min(n, sample)
    sdata = data[: int(offsets[k])]
    soff = offsets[: k + 1]
    k0 = min(n, 512)
    distinct = len(
        {bytes(data[offsets[i] : offsets[i + 1]]) for i in range(k0)}
    )
    cands = list(STR_CANDIDATES)
    if distinct / k0 < 0.05:
        cands.remove("fsst")
    est: dict[str, float] = {}
    enc: dict[str, bytes] = {}
    fsst_table = None
    nbytes = max(1, sdata.size)
    for c in cands:
        try:
            if c == "fsst":
                tbl = fsst.SymbolTable(
                    fsst.train_symbol_table(
                        sdata[: fsst._SAMPLE_BYTES].tobytes()
                    )
                )
                if sdata.size >= fsst._SAMPLE_BYTES:
                    fsst_table = tbl
                enc[c] = _encode_str(c, sdata, soff, table=tbl)
            else:
                enc[c] = _encode_str(c, sdata, soff)
            est[c] = len(enc[c]) / nbytes
        except Exception:
            continue
    best = min(est, key=est.get)
    if k == n:
        return best, est, enc[best]
    return best, est, _encode_str(
        best, data, offsets, table=fsst_table if best == "fsst" else None
    )


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


def select_and_encode_float(
    v: np.ndarray,
    double: bool = True,
    compression: str = "zstd",
    sample: int = SAMPLE_VALUES,
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
    is actually compressed (bounded: <= sample values per candidate)."""
    from .blocks import compress_stream

    raw_name = "raw_double" if double else "raw_float"
    n = v.size
    if n == 0:
        return raw_name, {}, _encode_float(raw_name, v, double)
    s = v[: min(n, sample)]
    est: dict[str, float] = {}
    enc: dict[str, bytes] = {}
    for c in FLOAT_CANDIDATES:
        try:
            enc[c] = _encode_float(c, s, double)
            est[c] = len(compress_stream(enc[c], compression)) / len(s)
        except Exception:
            continue
    best = min(est, key=est.get)
    wire = enc[best] if n <= sample else _encode_float(best, v, double)
    if best == "raw":
        best = raw_name
    return best, est, wire
