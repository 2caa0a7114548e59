"""FSST training and encode pinned, and fuzzed against the kernels they
replaced.

The digests below were taken from the per-byte-loop implementation
(kept here as ``_old_*``): the trained tables and the ``fsst_encode``
output of document text, doc ids and edge cases (a sample under the
8 KiB training window, 0xFF runs, a one-byte alphabet, inputs whose
tables hold 1- and 8-byte symbols). The fuzz then compares the library
with that implementation on random inputs, including random payloads
for the decoder.
"""

import hashlib

import numpy as np
import pyarrow.parquet as pq
import pytest

from orc_format_spark.codecs import fsst
from orc_format_spark.codecs.fsst import SymbolTable, fsst_decode, fsst_encode, train_symbol_table
from orc_format_spark.codecs.varint import decode_varint_one, encode_varint_one
from tests.conftest import SF01_DIR

# ------------------------------------------------ the replaced kernels


def _old_window_keys(data, max_len):
    keys = []
    k = data.astype(np.uint64)
    keys.append(k.copy())
    for L in range(2, max_len + 1):
        k = (k[:-1] << np.uint64(8)) | data[L - 1 :].astype(np.uint64)
        keys.append(k)
    return keys


def _old_by_len(symbols):
    by_len = {}
    for L in range(1, 9):
        idx = [i for i, s in enumerate(symbols) if len(s) == L]
        if idx:
            keys = np.array([int.from_bytes(symbols[i], "big") for i in idx], np.uint64)
            order = np.argsort(keys)
            by_len[L] = (keys[order], np.array(idx, np.uint16)[order])
    return by_len


def _old_longest_match(d, keys, by_len):
    n = d.size
    mlen = np.zeros(n, np.int8)
    mcode = np.zeros(n, np.uint16)
    for L in range(1, min(8, n) + 1):
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


def _old_train(sample: bytes) -> list[bytes]:
    sample = sample[: 1 << 13]
    if not sample:
        return []
    d = np.frombuffer(sample, np.uint8)
    n = d.size
    keys = _old_window_keys(d, min(8, n))
    table: list[bytes] = []
    for _ in range(3):
        mlen, _ = _old_longest_match(d, keys, _old_by_len(table))
        ml = mlen.tolist()
        starts = []
        i = 0
        while i < n:
            starts.append(i)
            l = ml[i]
            i += l if l else 1
        s_arr = np.array(starts, np.int64)
        l_arr = np.maximum(mlen[s_arr].astype(np.int64), 1)
        k_arr = np.empty(s_arr.size, np.uint64)
        for L in range(1, min(8, n) + 1):
            m = l_arr == L
            if m.any():
                k_arr[m] = keys[L - 1][s_arr[m]]
        la, lb = l_arr[:-1], l_arr[1:]
        lc = la + lb
        pm = lc <= 8
        kc = (k_arr[:-1][pm] << (np.uint64(8) * lb[pm].astype(np.uint64))) | k_arr[1:][pm]
        all_k = np.concatenate((k_arr, kc))
        all_l = np.concatenate((l_arr, lc[pm]))
        order = np.lexsort((all_k, all_l))
        sk, sl = all_k[order], all_l[order]
        new_grp = np.ones(sk.size, bool)
        new_grp[1:] = (sk[1:] != sk[:-1]) | (sl[1:] != sl[:-1])
        gstart = np.flatnonzero(new_grp)
        counts = np.diff(np.append(gstart, sk.size))
        g_l = sl[gstart]
        g_k = sk[gstart]
        gain = g_l * counts
        top = np.lexsort((g_k, g_l, -gain))[:255]
        table = [int(g_k[t]).to_bytes(int(g_l[t]), "big") for t in top]
    return sorted(table)


def _old_encode(data, symbols) -> bytes:
    d = np.ascontiguousarray(data, np.uint8)
    n = d.size
    header = SymbolTable(symbols).serialize()
    if n == 0:
        return header + encode_varint_one(0)
    if symbols:
        mlen, mcode = _old_longest_match(d, _old_window_keys(d, min(8, n)), _old_by_len(symbols))
    else:
        mlen = np.zeros(n, np.int8)
        mcode = np.zeros(n, np.uint16)
    ml, mc, dv = mlen.tolist(), mcode.tolist(), d.tolist()
    out = bytearray()
    i = 0
    while i < n:
        l = ml[i]
        if l:
            out.append(mc[i])
            i += l
        else:
            out.append(255)
            out.append(dv[i])
            i += 1
    return header + encode_varint_one(len(out)) + bytes(out)


def _old_unit_kinds(enc):
    n = enc.size
    is_ff = enc == 255
    literal = np.zeros(n, bool)
    escape = np.zeros(n, bool)
    if is_ff.any():
        prev_ff = np.concatenate(([False], is_ff[:-1]))
        starts = np.flatnonzero(is_ff & ~prev_ff)
        nxt = np.concatenate((is_ff[1:], [False]))
        ends = np.flatnonzero(is_ff & ~nxt)
        for s, e in zip(starts.tolist(), ends.tolist()):
            escape[s : e + 1 : 2] = True
            literal[s + 1 : e + 1 : 2] = True
            if (e - s + 1) % 2 == 1 and e + 1 < n:
                literal[e + 1] = True
    return escape, literal


# ------------------------------------------------------------ corpora


def _corpora() -> dict[str, bytes]:
    texts = pq.read_table(f"{SF01_DIR}/documents.parquet", columns=["text"]).column("text")
    text = "".join(texts.to_pylist()).encode()[:40_000]
    rng = np.random.default_rng(17)
    ids = [f"{i}_{r}" for i in range(500) for r in range(5)]
    word = b"abcdefgh"
    return {
        "text": text,
        "docids": "".join(ids[j] for j in rng.permutation(len(ids))).encode(),
        "small": text[:3000],
        "ff_runs": b"".join(text[i * 40 : (i + 1) * 40] + b"\xff" * (i % 9 + 1) for i in range(300)),
        "one_byte": b"a" * 10_000,
        "sym1_8": b"".join(word * int(rng.integers(1, 4)) + bytes([int(rng.integers(0, 256))])
                           for _ in range(1500)),
        "random": rng.integers(0, 256, 12_000).astype(np.uint8).tobytes(),
        "empty": b"",
        "one": b"\xff",
    }


# corpus: (sha256 of the trained table, sha256 of fsst_encode, symbols)
_PINS = {
    "text": ("6d86adce5316f9391d0a608a55684dedb37f5ddeb7a6150263f69c0b971ff0c9",
             "d8439e13c0f9eb9b0fc244d5d145b417b836e399f1e5877d45317ff45da52244", 255),
    "docids": ("ed61013cb1fbfdd2da819d4d63690b817afe8dc090e4fdfd760557ca74062f74",
               "80ea877b341d1aab2fc69280bfa2e6ab3c71faf8a7ce964cf4417d061d806749", 255),
    "small": ("0137e8f9baf94a433511da41de5bd5dc404f2b08e2fa0f31141ec90e078d3040",
              "3a89f853a6b24b51c21e150fba37369f5fbc9e1f9220d75a60b4409707d6fcc5", 255),
    "ff_runs": ("90d53303f39a488147fbdb27a570691517dae3ee1bf4bddfef198bf0f903befc",
                "de8084af32c76f70cdec6fe0116a635f7d2da64ec79fac4985e0d176247d2e53", 255),
    "one_byte": ("e9e2b81b59932c4735204dd9bbb9e37b67c416b935a1d7575144d62fb8d8590a",
                 "3fa231290ed52e6aa955a1193bfc32c8e557f11260c9fdee04f9e328f1dfaa83", 2),
    "sym1_8": ("ac20211c0dbe8c18603a13eca7dc86e08eb2cdadd969af8e7e1c1b5a5f58978d",
               "27d2694f705759cc46526a7bea06c53055049d6382f0eb28224d7931c1c54db3", 255),
    "random": ("93ce026cf4470895d8034c6d403a346b9ee85e58fd64f9a013d7ed4bc7668135",
               "ec3163b00fa1e468a6779382482a9896ea9be7eee839ac6ef94e01aa8b70503b", 255),
    "empty": ("6e340b9cffb37a989ca544e6bb780a2c78901d3fb33738768511a30617afa01d",
              "96a296d224f285c67bee93c30f8a309157f0daa35dc5b87e410b78630a09cfc7", 0),
    "one": ("ff9b5729d5ed88f97042a190185d50112cecdbd62ff67f57dcde221e63bc95a7",
            "6aec69b55bd26720a2cdbfd01e335870e452ba3b01f3546e68031ee7ca411ae5", 1),
}


def _sha(b: bytes) -> str:
    return hashlib.sha256(b).hexdigest()


@pytest.mark.parametrize("name", sorted(_PINS))
def test_trained_tables_and_encodes_pinned(name):
    b = _corpora()[name]
    symbols = train_symbol_table(b)
    assert (_sha(SymbolTable(symbols).serialize()), _sha(fsst_encode(np.frombuffer(b, np.uint8))),
            len(symbols)) == _PINS[name]
    assert fsst_decode(fsst_encode(np.frombuffer(b, np.uint8))).tobytes() == b


def test_pinned_corpora_cover_the_edge_cases():
    lens = {name: {len(s) for s in train_symbol_table(b)} for name, b in _corpora().items()}
    assert {1, 8} <= lens["sym1_8"] and {1, 8} <= lens["ff_runs"] | lens["text"]
    assert len(_corpora()["small"]) < fsst._SAMPLE_BYTES


def test_old_kernels_reproduce_the_pins():
    """The copies below the pins are the implementation they came from."""
    for name, b in _corpora().items():
        symbols = _old_train(b)
        assert _sha(SymbolTable(symbols).serialize()) == _PINS[name][0]
        assert _sha(_old_encode(np.frombuffer(b, np.uint8), symbols)) == _PINS[name][1]


def _fuzz_inputs(rng):
    for _ in range(60):
        n = int(rng.integers(0, 12_000))
        kind = int(rng.integers(0, 4))
        if kind == 0:  # a small alphabet
            alpha = rng.integers(0, 256, int(rng.integers(1, 6)))
            yield rng.choice(alpha, n).astype(np.uint8).tobytes()
        elif kind == 1:  # words of 1..12 bytes, some of them 0xFF runs
            words = [rng.integers(0, 256, int(rng.integers(1, 13))).astype(np.uint8).tobytes()
                     for _ in range(int(rng.integers(1, 40)))] + [b"\xff" * 3, b"\xff"]
            yield b"".join(words[i] for i in rng.integers(0, len(words), n // 4 + 1))[:n]
        elif kind == 2:  # uniform bytes
            yield rng.integers(0, 256, n).astype(np.uint8).tobytes()
        else:  # skewed bytes
            yield np.minimum(rng.geometric(0.2, n), 255).astype(np.uint8).tobytes()


def test_differential_fuzz_against_old_kernels():
    rng = np.random.default_rng(2024)
    for b in _fuzz_inputs(rng):
        d = np.frombuffer(b, np.uint8)
        symbols = train_symbol_table(b)
        assert symbols == _old_train(b)
        # encode with this table and with a table trained elsewhere
        other = train_symbol_table(b[::-1])
        for table in (symbols, other):
            got = fsst_encode(d, SymbolTable(table))
            assert got == _old_encode(d, table)
            assert fsst_decode(got).tobytes() == b


def test_unit_kinds_match_old_run_parity():
    """The decoder's escape / literal classification, also on payloads
    no encoder writes (odd 0xFF runs at the end, all-0xFF)."""
    rng = np.random.default_rng(9)
    for _ in range(300):
        n = int(rng.integers(0, 200))
        enc = np.where(rng.random(n) < rng.random(), 255, rng.integers(0, 256, n)).astype(np.uint8)
        got = fsst._unit_kinds(enc)
        want = _old_unit_kinds(enc)
        assert (got[0] == want[0]).all() and (got[1] == want[1]).all()


@pytest.mark.parametrize("name", ["text", "docids", "ff_runs", "one_byte", "sym1_8", "random"])
def test_prefix_size_reads_the_sample_off_the_column_parse(name):
    b = _corpora()[name]
    d = np.frombuffer(b, np.uint8)
    table = SymbolTable(train_symbol_table(b))
    blob = fsst_encode(d, table)
    rng = np.random.default_rng(len(b))
    cuts = {0, 1, 7, 8, 9, d.size - 9, d.size - 1, d.size, *rng.integers(0, d.size + 1, 40).tolist()}
    for size in sorted(c for c in cuts if 0 <= c <= d.size):
        assert fsst.prefix_size(blob, table, d, size) == len(fsst_encode(d[:size], table)), size


def test_prefix_size_keeps_the_payload_length_varint():
    """The sample's payload length varint may be shorter than the
    column's; the size counts the sample's own."""
    d = np.frombuffer(b"xy" * 100, np.uint8)
    table = SymbolTable([])
    blob = fsst_encode(d, table)
    assert decode_varint_one(blob, 1)[0] == 400
    assert fsst.prefix_size(blob, table, d, 50) == 1 + 1 + 100
