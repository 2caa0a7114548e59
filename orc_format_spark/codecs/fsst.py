"""FSST: Fast Static Symbol Table string compression.

From the public algorithm (Boncz, Neumann, Leis: "FSST: Fast Random Access
String Compression", VLDB 2020) — not in the reference repo; mandated by
BASELINE.json for string columns.

- Symbol table: up to 255 symbols (codes 0..254) of 1..8 bytes; code 255
  is the escape marker (next byte is a literal).
- Training: a few generations of greedy re-encoding of a bounded sample,
  counting gain = frequency x length for current symbols and for
  concatenations of adjacent matches (the paper's iterative scheme,
  simplified). Sample is capped, so training cost is O(1) per partition.
  Generation 0's table is empty, so its parse is every byte.
- Encoding: per-position longest-match tables are precomputed with
  vectorized numpy window keys (1- and 2-byte symbols through direct
  lookup tables, longer ones through searchsorted); the only sequential
  part is one O(#output symbols) step loop over plain Python ints, which
  training shares, and the escape/code bytes are then scattered from
  the symbol starts with numpy.
- One encode per column: the codec selector encodes a long column once
  with the table trained on its sample and reads the sample's encoded
  size off that parse (``prefix_size``) instead of encoding the sample.
- Decoding: fully vectorized — escape/literal classification by 0xFF-run
  parity, then a repeat/ramp gather to expand symbols.

Layout: u8 n_symbols | per symbol (u8 len | bytes) | varint(payload_len) |
payload.
"""

from __future__ import annotations

import functools

import numpy as np

from .varint import decode_varint_one, encode_varint_one

_MAX_SYMBOLS = 255
_ESCAPE = 255
_MAX_LEN = 8
_SAMPLE_BYTES = 1 << 13
_GENERATIONS = 3


def _window_keys(data: np.ndarray, max_len: int) -> list[np.ndarray]:
    """keys[L-1][i] = big-endian integer of data[i:i+L], for i <= n-L."""
    keys: list[np.ndarray] = []
    k = data.astype(np.uint64)
    keys.append(k.copy())
    for L in range(2, max_len + 1):
        k = (k[:-1] << np.uint64(8)) | data[L - 1 :].astype(np.uint64)
        keys.append(k)
    return keys


def _sym_key(s: bytes) -> int:
    return int.from_bytes(s, "big")


def _matcher(lens: np.ndarray, keys: np.ndarray) -> tuple:
    """Lookup structures for the symbols (lens[c], keys[c]), c = code:
    1- and 2-byte symbols in direct 256- and 65,536-entry tables
    (code + 1, 0 = none), longer ones as sorted keys per length."""
    lut1 = np.zeros(256, np.uint16)
    lut2 = np.zeros(1 << 16, np.uint16)
    codes = np.arange(1, lens.size + 1, dtype=np.uint16)
    lut1[keys[lens == 1]] = codes[lens == 1]
    lut2[keys[lens == 2]] = codes[lens == 2]
    by_len = {}
    for L in range(3, _MAX_LEN + 1):
        m = lens == L
        if m.any():
            order = np.argsort(keys[m])
            by_len[L] = (keys[m][order], codes[m][order] - 1)
    return lut1, lut2, by_len


def _longest_match(
    d: np.ndarray, keys: list[np.ndarray], matcher: tuple
) -> tuple[np.ndarray, np.ndarray]:
    """Per-position longest symbol match: (match_len, code) arrays."""
    lut1, lut2, by_len = matcher
    n = d.size
    c1 = lut1[d]
    mlen = (c1 > 0).astype(np.int8)
    mcode = c1 - 1
    if n >= 2:
        c2 = lut2[keys[1]]
        hp = np.flatnonzero(c2)
        mlen[hp] = 2  # longer L overwrites (lengths ascend)
        mcode[hp] = c2[hp] - 1
    for L in range(3, min(_MAX_LEN, n) + 1):
        ent = by_len.get(L)
        if ent is None:
            continue
        skeys, scodes = ent
        kL = keys[L - 1]
        pos_idx = np.searchsorted(skeys, kL)
        pos_idx[pos_idx == len(skeys)] = 0
        hp = np.flatnonzero(skeys[pos_idx] == kL)
        mlen[hp] = L
        mcode[hp] = scodes[pos_idx[hp]]
    return mlen, mcode


def _parse(d: np.ndarray, keys: list[np.ndarray], matcher: tuple) -> tuple:
    """The greedy longest-match parse of ``d``: (start positions, match
    length at each start, 0 = escaped literal, code at each start)."""
    mlen, mcode = _longest_match(d, keys, matcher)
    n = d.size
    if n == 0 or mlen.max() <= 1:
        starts = np.arange(n)  # every byte starts a symbol
    else:
        step = np.maximum(mlen, 1).tolist()
        out: list[int] = []
        append = out.append
        i = 0
        while i < n:
            append(i)
            i += step[i]
        starts = np.array(out, np.int64)
    return starts, mlen[starts], mcode[starts]


def _payload(d: np.ndarray, matcher: tuple) -> np.ndarray:
    """The encoded payload of ``d``: one code byte per matched symbol,
    an escape byte and the literal per unmatched byte."""
    n = d.size
    starts, ml, mc = _parse(d, _window_keys(d, min(_MAX_LEN, n)), matcher)
    esc = ml == 0
    pos = np.arange(starts.size) + np.cumsum(esc) - esc
    out = np.empty(starts.size + int(np.count_nonzero(esc)), np.uint8)
    out[pos] = np.where(esc, _ESCAPE, mc)
    out[pos[esc] + 1] = d[starts[esc]]
    return out


def train_symbol_table(sample: bytes) -> list[bytes]:
    """Train an FSST symbol table on a (bounded) sample.

    Each generation greedy-encodes the sample with the current table
    (vectorized longest-match + an O(#matches) jump loop), then
    accumulates gain = frequency x length for every matched symbol and
    every adjacent-pair concatenation <= 8 bytes, keeping the top 255.
    Symbols are handled as (length, big-endian-key) integer pairs; the
    table of generation 0 is empty, so its parse is every single byte.
    """
    sample = sample[:_SAMPLE_BYTES]
    if not sample:
        return []
    d = np.frombuffer(sample, np.uint8)
    n = d.size
    keys = _window_keys(d, min(_MAX_LEN, n))
    l_arr, k_arr = np.ones(n, np.int64), keys[0]
    for gen in range(_GENERATIONS):
        if gen:
            s_arr, ml, _ = _parse(d, keys, _matcher(g_l, g_k))
            l_arr = np.maximum(ml.astype(np.int64), 1)
            k_arr = np.empty(s_arr.size, np.uint64)
            for L in range(1, min(_MAX_LEN, n) + 1):
                m = l_arr == L
                if m.any():
                    k_arr[m] = keys[L - 1][s_arr[m]]
        # adjacent-pair concatenations (<= 8 bytes)
        la, lb = l_arr[:-1], l_arr[1:]
        lc = la + lb
        pm = lc <= _MAX_LEN
        kc = (k_arr[:-1][pm] << (np.uint64(8) * lb[pm].astype(np.uint64))) | k_arr[1:][
            pm
        ]
        all_k = np.concatenate((k_arr, kc))
        all_l = np.concatenate((l_arr, lc[pm]))
        # group by (length, key) in that order: a symbol under 8 bytes
        # is keyed with a marker bit above its bytes, so one sort orders
        # it by length, then key; 8-byte symbols follow, by key
        short = all_l < _MAX_LEN
        tags, c_short = np.unique(
            all_k[short] | (np.uint64(1) << (np.uint64(8) * all_l[short].astype(np.uint64))),
            return_counts=True,
        )
        k8, c8 = np.unique(all_k[~short], return_counts=True)
        t_len = np.searchsorted(_TAG_FLOORS, tags, side="right")
        g_l = np.concatenate((t_len, np.full(k8.size, _MAX_LEN)))
        g_k = np.concatenate((tags ^ _TAG_FLOORS[t_len - 1], k8))
        gain = g_l * np.concatenate((c_short, c8))
        # deterministic top-255: by (-gain, len, key)
        top = np.argsort(-gain, kind="stable")[:_MAX_SYMBOLS]
        g_l, g_k = g_l[top], g_k[top]
    return sorted(int(k).to_bytes(int(L), "big") for L, k in zip(g_l, g_k))


# the marker bit of each length under 8 (see train_symbol_table)
_TAG_FLOORS = np.array([1 << (8 * L) for L in range(1, _MAX_LEN)], np.uint64)


class SymbolTable:
    def __init__(self, symbols: list[bytes]):
        self.symbols = symbols

    @functools.cached_property
    def matcher(self) -> tuple:
        return _matcher(
            np.array([len(s) for s in self.symbols], np.int64),
            np.array([_sym_key(s) for s in self.symbols], np.uint64),
        )

    def serialize(self) -> bytes:
        parts = [bytes((len(self.symbols),))]
        for s in self.symbols:
            parts.append(bytes((len(s),)))
            parts.append(s)
        return b"".join(parts)

    @classmethod
    def deserialize(cls, buf, pos: int = 0) -> tuple["SymbolTable", int]:
        n = buf[pos]
        pos += 1
        syms = []
        for _ in range(n):
            L = buf[pos]
            pos += 1
            syms.append(bytes(buf[pos : pos + L]))
            pos += L
        return cls(syms), pos


def fsst_encode(data: np.ndarray, table: SymbolTable | None = None) -> bytes:
    """Encode a uint8 array. Trains a table on a sample if none given."""
    d = np.ascontiguousarray(data, np.uint8)
    if table is None:
        table = SymbolTable(train_symbol_table(d[: _SAMPLE_BYTES].tobytes()))
    payload = _payload(d, table.matcher)
    return table.serialize() + encode_varint_one(payload.size) + payload.tobytes()


def _unit_kinds(enc: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(escape, literal) masks of a payload: a run of 0xFF bytes starts
    a unit, so within it escapes and literal 0xFFs alternate, and a
    byte after an escape is its literal."""
    is_ff = enc == _ESCAPE
    n = enc.size
    run_start = np.zeros(n, np.int64)
    first = is_ff.copy()
    first[1:] &= ~is_ff[:-1]
    idx = np.flatnonzero(first)
    run_start[idx] = idx
    np.maximum.accumulate(run_start, out=run_start)
    odd = (np.arange(n) - run_start) & 1 == 1
    escape = is_ff & ~odd
    literal = is_ff & odd
    literal[1:] |= escape[:-1]
    return escape, literal


def prefix_size(blob, table: SymbolTable, data: np.ndarray, size: int) -> int:
    """``len(fsst_encode(data[:size], table))``, read off ``blob`` =
    ``fsst_encode(data, table)``. A greedy match looks at most
    _MAX_LEN bytes ahead, so both parses agree on every symbol that
    starts at or before ``size - _MAX_LEN``; only the sample's bytes
    after those (at most 8) are parsed again."""
    head = table.serialize()
    plen, pos = decode_varint_one(blob, len(head))
    enc = np.frombuffer(blob, np.uint8, plen, pos)
    escape, literal = _unit_kinds(enc)
    units = np.flatnonzero(~literal)  # payload offset of each symbol
    sym_lens = np.ones(256, np.int64)
    sym_lens[: len(table.symbols)] = [len(s) for s in table.symbols]
    ulen = np.where(escape[units], 1, sym_lens[enc[units]])
    start = np.cumsum(ulen) - ulen  # input offset of each symbol
    u = int(np.searchsorted(start, size - _MAX_LEN, side="right"))
    j, out = (int(start[u]), int(units[u])) if u < units.size else (data.size, plen)
    out += _payload(np.ascontiguousarray(data[j:size], np.uint8), table.matcher).size
    return len(head) + len(encode_varint_one(out)) + out


def fsst_decode(buf) -> np.ndarray:
    table, pos = SymbolTable.deserialize(buf, 0)
    plen, pos = decode_varint_one(buf, pos)
    enc = np.frombuffer(buf, np.uint8, plen, pos)
    n = enc.size
    if n == 0:
        return np.empty(0, np.uint8)
    escape, literal = _unit_kinds(enc)
    code_pos = ~escape & ~literal
    # per-position output lengths
    sym_lens = np.array([len(s) for s in table.symbols] + [0], np.int64)
    out_len = np.zeros(n, np.int64)
    out_len[literal] = 1
    cp = np.flatnonzero(code_pos)
    codes = enc[cp].astype(np.int64)
    if codes.size and table.symbols and int(codes.max()) >= len(table.symbols):
        raise ValueError("FSST code out of range")
    out_len[cp] = sym_lens[codes] if table.symbols else 0
    out_off = np.zeros(n + 1, np.int64)
    np.cumsum(out_len, out=out_off[1:])
    total = int(out_off[-1])
    out = np.empty(total, np.uint8)
    # literals
    lit_idx = np.flatnonzero(literal)
    out[out_off[lit_idx]] = enc[lit_idx]
    # symbols: gather from concatenated symbol payload
    if table.symbols and cp.size:
        payload = np.frombuffer(b"".join(table.symbols), np.uint8)
        soff = np.zeros(len(table.symbols) + 1, np.int64)
        np.cumsum(sym_lens[:-1], out=soff[1:])
        lens = sym_lens[codes]
        tot = int(lens.sum())
        rep_starts = np.repeat(soff[codes], lens)
        dst_starts = np.repeat(out_off[cp], lens)
        ramp = np.arange(tot, dtype=np.int64) - np.repeat(
            np.cumsum(lens) - lens, lens
        )
        out[dst_starts + ramp] = payload[rep_starts + ramp]
    return out
