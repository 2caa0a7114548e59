"""Codec selection by exact sizes and lower bounds (codecs/selector.py),
checked against the selector it replaced, which trial-encoded every
candidate.

That selector is kept here, test-only, as the reference. On every
corpus the current one must return the same codec and the same wire
bytes, the same estimate for each candidate it encoded, and a bound no
larger than the true size for each candidate it pruned."""

import hashlib
import io
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from orc_format_spark.codecs import alp, bitpack, dictionary, fsst, raw, rle_v1, rle_v2, selector
from orc_format_spark.codecs.container import (
    _decode_int_values,
    _decode_str_values,
    _flat_binary,
    encode_table,
)
from orc_format_spark.codecs.selector import (
    select_and_encode_float,
    select_and_encode_int,
    select_and_encode_str,
)
from orc_format_spark.codecs.timestamp import compact_nanos
from orc_format_spark.sources.orc_file import write_orc
from tests.conftest import SF01_DIR

# ------------------------------------------- the trial-everything selector


def _trial_all_int(v, signed=True, sample=selector.SAMPLE_VALUES):
    n = v.size
    if n == 0:
        return "rle_v1", {}, selector._encode_int("rle_v1", v, signed)
    s = v[: min(n, sample)]
    uniq = np.unique(s[:4096])
    card_ratio = uniq.size / min(len(s), 4096)
    cands = ["rle_v1", "rle_v2", "for_bitpack"]
    if card_ratio < 0.5:
        cands.append("dict_int")
    est, enc = {}, {}
    for c in cands:
        enc[c] = selector._encode_int(c, s, signed)
        est[c] = len(enc[c]) / len(s)
    best = min(est, key=est.get)
    if n <= sample:
        return best, est, enc[best]
    return best, est, selector._encode_int(best, v, signed)


def _trial_all_str(data, offsets, sample=2048):
    n = offsets.size - 1
    if n == 0:
        return "raw_str", {}, selector._encode_str("raw_str", data, offsets)
    k = min(n, sample)
    sdata = data[: int(offsets[k])]
    soff = offsets[: k + 1]
    k0 = min(n, 512)
    distinct = len({bytes(data[offsets[i] : offsets[i + 1]]) for i in range(k0)})
    cands = list(selector.STR_CANDIDATES)
    if distinct / k0 < 0.05:
        cands.remove("fsst")
    est, enc = {}, {}
    fsst_table = None
    nbytes = max(1, sdata.size)
    for c in cands:
        if c == "fsst":
            tbl = fsst.SymbolTable(
                fsst.train_symbol_table(sdata[: fsst._SAMPLE_BYTES].tobytes())
            )
            if sdata.size >= fsst._SAMPLE_BYTES:
                fsst_table = tbl
            enc[c] = selector._encode_str(c, sdata, soff, table=tbl)
        else:
            enc[c] = selector._encode_str(c, sdata, soff)
        est[c] = len(enc[c]) / nbytes
    best = min(est, key=est.get)
    if k == n:
        return best, est, enc[best]
    return best, est, selector._encode_str(
        best, data, offsets, table=fsst_table if best == "fsst" else None
    )


def _split_by_transpose(v, double):
    """Byte-stream split as a byte-matrix transpose (the kernel before
    the shift-based one)."""
    w = 8 if double else 4
    return np.ascontiguousarray(v, "<f8" if double else "<f4").view(np.uint8).reshape(-1, w).T.tobytes()


def _trial_all_float(v, double=True, sample=selector.SAMPLE_VALUES):
    from orc_format_spark.codecs.blocks import compress_stream

    def encode(c, x):
        if c == "float_split":
            return _split_by_transpose(x, double)
        return selector._encode_float(c, x, double)

    raw_name = "raw_double" if double else "raw_float"
    n = v.size
    if n == 0:
        return raw_name, {}, encode(raw_name, v)
    s = v[: min(n, sample)]
    est, enc = {}, {}
    for c in selector.FLOAT_CANDIDATES:
        enc[c] = encode(c, s)
        est[c] = len(compress_stream(enc[c], "zstd")) / len(s)
    best = min(est, key=est.get)
    wire = enc[best] if n <= sample else encode(best, v)
    return (raw_name if best == "raw" else best), est, wire


# ------------------------------------------------------------- checkers


def _check_int(v, signed=True, sample=selector.SAMPLE_VALUES):
    pruned = {}
    best, est, wire = select_and_encode_int(v, signed, sample, _bounds=pruned)
    want_best, want_est, want_wire = _trial_all_int(v, signed, sample)
    assert (best, wire) == (want_best, want_wire)
    assert est == {c: want_est[c] for c in est}
    assert set(est) | set(pruned) == set(want_est) and not set(est) & set(pruned)
    for c, b in pruned.items():
        assert b <= want_est[c], (c, b, want_est[c])
    return est, pruned


def _check_str(strings, sample=2048):
    data, off = _flat_binary(pa.array(strings, pa.binary()))
    pruned = {}
    best, est, wire = select_and_encode_str(data, off, sample, _bounds=pruned)
    want_best, want_est, want_wire = _trial_all_str(data, off, sample)
    assert (best, wire) == (want_best, want_wire)
    assert est == {c: want_est[c] for c in est}
    assert set(est) | set(pruned) == set(want_est) and not set(est) & set(pruned)
    for c, b in pruned.items():
        assert b <= want_est[c], (c, b, want_est[c])
    return est, pruned


def _check_float(v, double=True, sample=selector.SAMPLE_VALUES):
    got = select_and_encode_float(v, double, "zstd", sample)
    assert got == _trial_all_float(v, double, sample)


# ---------------------------------------------------------------- corpora


def _lineitem_chunks():
    tbl = pq.read_table(f"{SF01_DIR}/lineitem.parquet").sort_by(
        [("l_orderkey", "ascending"), ("l_linenumber", "ascending")]
    )
    return [tbl.slice(a, 10_000) for a in range(0, tbl.num_rows, 10_000)]


def test_lineitem_every_chunk_matches_trial_encoding():
    pruned_total = 0
    for chunk in _lineitem_chunks():
        for name in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"):
            _, pruned = _check_int(chunk.column(name).to_numpy())
            pruned_total += len(pruned)
        # the timestamp column's microseconds as a plain int column
        _check_int(chunk.column("l_shipdate").cast(pa.int64()).to_numpy())
        for name in ("l_returnflag", "l_linestatus"):
            _, pruned = _check_str(chunk.column(name).to_pylist())
            assert set(pruned) == {"raw_str"}
        for name in ("l_quantity", "l_extendedprice", "l_discount", "l_tax"):
            _check_float(chunk.column(name).to_numpy())
    assert pruned_total > 0


def test_fuzz_blob_corpora_match_trial_encoding():
    from tests.test_fuzz_blob import _table

    t = _table()
    _check_int(t.column("a").to_numpy())
    _check_int(t.column("n").drop_null().to_numpy())
    _check_str(t.column("s").to_pylist())
    _check_float(t.column("f").to_numpy())
    _check_int(np.arange(100, dtype=np.int64) * 7)
    _check_float(np.round(np.linspace(0, 99, 100), 2))
    keys = np.random.default_rng(3).permutation(1000).astype(np.int64)
    for a in range(0, 1000, 100):
        _check_int(keys[a : a + 100])


def _random_int_columns(rng):
    n = int(rng.integers(1, 3000))
    yield rng.integers(-(2**63), 2**63 - 1, n, dtype=np.int64), True  # wide signed
    yield rng.integers(0, 2**64 - 1, n, dtype=np.uint64), False  # wide unsigned
    yield rng.integers(-100, 100, n).astype(np.int8), True  # narrow
    yield rng.integers(0, 60_000, n).astype(np.uint16), False
    yield rng.integers(-(2**31), 2**31 - 1, n).astype(np.int32), True
    runs = np.repeat(rng.integers(-5, 5, n), rng.integers(1, 200, n))[:20_000]
    yield runs, True
    yield np.sort(rng.integers(0, 10 * n, n)), True  # sorted
    steps = np.repeat(rng.integers(-130, 130, n // 3 + 1), rng.integers(1, 8, n // 3 + 1))
    yield np.cumsum(steps)[:n], True  # runs of deltas near the i8 limits
    yield np.full(n, int(rng.integers(-(2**40), 2**40))), True  # constant
    yield np.tile(np.arange(int(rng.integers(1, 9))), n)[:n].astype(np.int64), True


@pytest.mark.parametrize("seed", range(12))
def test_random_int_columns_match_trial_encoding(seed):
    rng = np.random.default_rng(seed)
    for v, signed in _random_int_columns(rng):
        _check_int(v, signed)
    # longer than the sample: selection on the head, one final encode
    v = np.repeat(rng.integers(0, 1000, 800), 3)
    _check_int(v, True, sample=1000)


@pytest.mark.parametrize("seed", range(6))
def test_random_str_and_float_columns_match_trial_encoding(seed):
    rng = np.random.default_rng(seed)
    n = int(rng.integers(1, 5000))
    words = [b"", b"GET", b"PUT", b"POST", b"\xff\x00"]
    _check_str([words[i] for i in rng.integers(0, len(words), n)])  # low cardinality
    _check_str([f"user-{i}-{i * 7919 % 1000}".encode() for i in rng.integers(0, 10**6, n)])
    _check_str([b"same"] * n)
    _check_str([bytes(rng.integers(0, 256, int(rng.integers(0, 9)), dtype=np.uint8))
                for _ in range(n)])
    _check_str([words[i % 4] for i in range(5000)], sample=700)
    for double in (True, False):
        _check_float(rng.normal(size=n) * 1e3, double)
        _check_float(rng.choice([0.0, 0.05, 0.08, 0.1], n), double)
        _check_float(np.cumsum(rng.normal(0, 0.01, n)) + 100.0, double)
        _check_float(np.round(rng.random(n) * 1000, 2), double, sample=max(1, n // 3))
    specials = np.array([0.0, -0.0, np.nan, np.inf, -np.inf, 5e-324] * 50)
    _check_float(specials)


# ------------------------------------------------------------ the bounds


def _rle_v1_adversarial(rng):
    # regions of triples that share their end values: 0,1,2 | 2,4,6 | 6,9,12 ...
    yield np.cumsum(np.repeat(np.arange(200), 2))
    yield np.array([0, 1, 2, 4, 6, 9, 12])
    # constant-delta stretches straddling the 128-value literal cap
    for cut in (125, 126, 127, 128, 129, 130, 131):
        head = rng.integers(-(2**40), 2**40, cut)
        yield np.concatenate([head, np.arange(5) * 3, rng.integers(0, 10**6, 10)])
    # runs longer than 130 with 1-2 leftover values, deltas at the i8 edges
    for d in (-129, -128, 0, 127, 128):
        for length in (3, 4, 130, 131, 132, 133, 400):
            yield np.arange(length, dtype=np.int64) * d + 1000
    yield from (np.array([0]), np.array([5, 5]), np.array([2**62, -(2**62), 0]))


def test_rle_v1_lower_bound_never_exceeds_the_encoding():
    rng = np.random.default_rng(11)
    cases = list(_rle_v1_adversarial(rng))
    for _ in range(400):
        n = int(rng.integers(1, 700))
        kind = rng.integers(0, 4)
        if kind == 0:
            v = np.repeat(rng.integers(-3, 3, n), rng.integers(1, 5, n)).cumsum()[:n]
        elif kind == 1:
            v = rng.integers(-300, 300, n)
        elif kind == 2:
            v = np.cumsum(rng.choice([-129, -128, 1, 2, 127, 128], n))
        else:
            v = np.repeat(rng.integers(-(2**20), 2**20, n), rng.integers(1, 140, n))[:2000]
        cases.append(v)
    for v in cases:
        v = np.asarray(v, np.int64)
        for signed in (True, False):
            got = len(rle_v1.encode_int_rle_v1(v, signed))
            assert rle_v1.size_lower_bound(v, signed) <= got, v[:20]
    # tight where no value sits in a triple: literal varints and headers
    v = np.array([5, 1, 9, 2, 8])
    assert rle_v1.size_lower_bound(v, True) == len(rle_v1.encode_int_rle_v1(v))


def _rle_v2_cases(rng):
    for t in range(300):
        n = int(rng.integers(1, 3000))
        kind = t % 6
        if kind == 0:
            yield rng.integers(-1000, 1000, n)
        elif kind == 1:  # runs around the 32-value long-run cut
            yield np.repeat(rng.integers(-5, 5, n), rng.integers(1, 60, n))[:n]
        elif kind == 2:  # random walks: monotone stretches, wraps unsigned
            yield np.cumsum(rng.integers(-1, 3, n))
        elif kind == 3:
            yield rng.integers(-(2**63), 2**63 - 1, n, dtype=np.int64)
        elif kind == 4:  # a few wide outliers: patched-base territory
            yield np.where(rng.random(n) < 0.03, rng.integers(0, 2**40, n), rng.integers(0, 100, n))
        else:  # chunks and tails of every length around 32 and 512
            yield rng.integers(0, 2**20, int(rng.choice([31, 32, 33, 511, 512, 513, 1024, 1055])))


def test_rle_v2_lower_bound_never_exceeds_the_encoding():
    rng = np.random.default_rng(5)
    for v in _rle_v2_cases(rng):
        for signed in (True, False):
            got = len(rle_v2.encode_int_rle_v2(v, signed))
            bound = rle_v2.size_lower_bound(v, signed)
            assert bound <= got, (signed, v[:20])


def test_pruned_candidates_reach_the_lineage_row():
    keys = np.repeat(np.arange(2_000, dtype=np.int64), 5)
    _, lineage = encode_table(pa.table({"k": keys, "f": pa.array(["a", "b"] * 5_000)}))
    rows = {r["column"]: r for r in lineage}
    k = rows["k"]
    assert "rle_v1" in k["candidates"] or "rle_v1" in k["candidate_bounds"]
    assert set(k["candidates"]).isdisjoint(k["candidate_bounds"])
    for c, b in k["candidate_bounds"].items():
        assert 0 < b <= len(selector._encode_int(c, keys, True)) / keys.size
    # 2,048 sampled one-byte strings: payload, 16 length groups, 2 counts
    assert rows["f"]["candidate_bounds"] == {"raw_str": (2048 + 2 * 16 + 2) / 2048}


# ------------------------------------------------ selection per partition

_REGIMES = {
    "prices": lambda rng, n: np.round(rng.uniform(1, 1000, n), 2),
    "gaussians": lambda rng, n: rng.normal(size=n),
    "low-card floats": lambda rng, n: rng.choice(np.round(rng.uniform(0, 100, 8), 2), n),
    "zeros": lambda rng, n: np.zeros(n),
    "constant": lambda rng, n: np.full(n, 7, np.int64),
    "low-card ints": lambda rng, n: rng.integers(0, 10, n),
    "sorted": lambda rng, n: np.sort(rng.integers(0, 1 << 20, n)),
    "random": lambda rng, n: rng.integers(0, 1 << 31, n),
    "runs": lambda rng, n: np.repeat(rng.integers(0, 1 << 31, n // 50 + 1), 50)[:n],
    "few-distinct": lambda rng, n: rng.choice(rng.integers(0, 1 << 31, 100), n),
    "low-card strings": lambda rng, n: rng.choice(["alpha", "beta", "gamma", "delta"], n).tolist(),
    "unique": lambda rng, n: [f"u{x}-{i}" for i, x in enumerate(rng.integers(0, 1 << 40, n).tolist())],
    "0.01 steps": lambda rng, n: np.round(np.arange(n) * 0.01, 2),
    "mid-card strings": lambda rng, n: rng.choice([f"name-{i}" for i in range(300)], n).tolist(),
}

# first regime for one chunk, then five chunks of the second
_REGIME_CHANGES = [
    ("prices", "gaussians"), ("low-card floats", "gaussians"), ("zeros", "gaussians"),
    ("gaussians", "prices"), ("gaussians", "low-card floats"),
    ("constant", "random"), ("low-card ints", "random"), ("sorted", "random"),
    ("random", "sorted"), ("random", "constant"), ("random", "runs"),
    ("random", "few-distinct"),
    ("low-card strings", "unique"), ("unique", "low-card strings"),
    ("prices", "0.01 steps"), ("unique", "mid-card strings"),
]


def _chunk_bodies(blob: bytes) -> list[bytes]:
    """The chunk bodies of a chunked (v2) blob, in row order."""
    from orc_format_spark.codecs.varint import decode_varint_one

    _, pos = decode_varint_one(blob, 5)  # after magic + version: stride
    n, pos = decode_varint_one(blob, pos)
    lens = []
    for _ in range(n):
        _, pos = decode_varint_one(blob, pos)
        ln, pos = decode_varint_one(blob, pos)
        lens.append(ln)
    slen, pos = decode_varint_one(blob, pos)
    pos += slen
    out = []
    for ln in lens:
        out.append(blob[pos : pos + ln])
        pos += ln
    return out


def _two_regimes(first: str, second: str) -> pa.Table:
    rng = np.random.default_rng(_REGIME_CHANGES.index((first, second)))
    col = pa.concat_arrays([pa.array(_REGIMES[first](rng, 10_000)),
                            pa.array(_REGIMES[second](rng, 50_000))])
    return pa.table({"c": col})


def _per_partition_vs_per_chunk(tbl: pa.Table) -> tuple[list[bytes], list[bytes], dict]:
    blob, lineage = encode_table(tbl, stride=10_000)
    alone = [encode_table(tbl.slice(a, 10_000))[0] for a in range(0, tbl.num_rows, 10_000)]
    return _chunk_bodies(blob), alone, lineage[0]


@pytest.mark.parametrize("first,second", _REGIME_CHANGES)
def test_per_partition_selection_matches_per_chunk_selection(first, second):
    """Each chunk's body equals that chunk encoded alone, which selects
    afresh; where the column's prior winner is kept instead, the body
    may differ only by being no larger. The regime change is seen by
    the profile check and counted in the lineage row."""
    tbl = _two_regimes(first, second)
    got, alone, row = _per_partition_vs_per_chunk(tbl)
    for i, (g, a) in enumerate(zip(got, alone)):
        assert g == a or len(g) <= len(a), (i, len(g), len(a))
    assert row["chunks_reselected"] == {"profile": 1}
    assert row["candidates"] == encode_table(tbl.slice(0, 10_000))[1][0]["candidates"]


@pytest.mark.parametrize("first,second,grown", [
    ("gaussians", "prices", 1.9), ("gaussians", "low-card floats", 2.5),
    ("random", "sorted", 1.9), ("random", "runs", 1.5), ("random", "few-distinct", 2.5),
    ("prices", "0.01 steps", 3.0),
])
def test_size_check_alone_misses_regime_changes(monkeypatch, first, second, grown):
    """Why the profile check exists: with only the size check, the
    first chunk's winner stays under the limit its rivals set there and
    is kept on data another codec encodes far smaller."""
    tbl = _two_regimes(first, second)
    monkeypatch.setattr(selector, "_int_profile", lambda s: None)
    monkeypatch.setattr(selector, "_float_profile", lambda s, double: None)
    got, alone, row = _per_partition_vs_per_chunk(tbl)
    assert row["chunks_reselected"] == {}
    assert sum(map(len, got)) > grown * sum(map(len, alone))


def test_uniform_columns_are_selected_once():
    """lineitem sf0.01: no chunk of any column falls back to full
    selection, and the blob is the per-chunk selection's (see the pin
    below)."""
    tbl = _lineitem_chunks()
    blob, lineage = encode_table(pa.concat_tables(tbl), stride=10_000)
    assert lineage and all(r["chunks_reselected"] == {} for r in lineage)
    assert _chunk_bodies(blob) == [encode_table(c)[0] for c in tbl]


def _size_fallback(kind: str, rng) -> tuple[list, int]:
    """(two regimes, stride) of a column with a size fallback: its
    chunks keep one profile, but the first chunk's winner outgrows the
    limit on the second regime, so that chunk is selected afresh."""
    if kind == "float":  # a random walk, then gaussians
        return [np.cumsum(rng.normal(size=10_000)), rng.normal(size=50_000)], 10_000
    if kind == "int":  # an int walk, then uniform ints over its range
        walk = np.cumsum(rng.integers(-3, 4, 10_000))
        return [walk, rng.integers(walk.min(), walk.max() + 1, 50_000)], 10_000
    # ids of one shape, then random bytes
    ids = [f"user-{i:06d}-account".encode() for i in rng.integers(0, 10**6, 2048)]
    noise = [rng.integers(0, 256, 18).astype(np.uint8).tobytes() for _ in range(5 * 2048)]
    return [ids, noise], 2048


# the kernel each candidate's trial encode calls
_KERNELS = {
    "float": {raw.encode_float_raw: "raw", raw.encode_float_split: "float_split",
              dictionary.encode_dict_int: "dict_float", alp.encode_alp: "alp"},
    "int": {rle_v1.encode_int_rle_v1: "rle_v1", rle_v2.encode_int_rle_v2: "rle_v2",
            bitpack.encode_for_bitpack: "for_bitpack", dictionary.encode_dict_int: "dict_int"},
    "str": {raw.encode_bytes_raw: "raw_str", dictionary.encode_dict_bytes: "dict_str",
            fsst.fsst_encode: "fsst"},
}


def _encodes_per_chunk(tbl: pa.Table, kind: str, stride: int) -> tuple[list[list[str]], dict, bytes]:
    """The candidates the selector encodes for each chunk, in order, read
    with a profile hook (nothing is patched): a chunk starts at a call of
    ``select_and_encode_<kind>``, and a candidate is a call of its kernel
    made from the selector module."""
    entry = getattr(selector, f"select_and_encode_{kind}").__code__
    kernels = {f.__code__: c for f, c in _KERNELS[kind].items()}
    chunks: list[list[str]] = []

    def hook(frame, event, arg):
        if event != "call":
            return
        if frame.f_code is entry:
            chunks.append([])
        elif frame.f_code in kernels and frame.f_back.f_code.co_filename == selector.__file__:
            chunks[-1].append(kernels[frame.f_code])

    outer = sys.getprofile()
    sys.setprofile(hook)
    try:
        blob, lineage = encode_table(tbl, stride=stride)
    finally:
        sys.setprofile(outer)
    return chunks, lineage[0], blob


# int seed 4 falls back from rle_v2 to for_bitpack; seed 1 too, but
# there rle_v2's bound prunes it in the fallback
@pytest.mark.parametrize("kind,seed,digest", [
    ("float", 5, "8922be6a1c9d754069a6e7dc3e696b9cb85ed939a9120eda90e41b282d48e3cb"),
    ("int", 4, "e60d868fbd570f0fe239b47766b0cdf8937da3426c43401a20a95783d242ecf1"),
    ("int", 1, "dba7debb05d2c2c84c379f5e21301c7c11dab79c3bdc145200eec2e3766d58ac"),
    ("str", 0, "81422346016ada4d4cfc99768c70a230a99855f4fa6a4062d744c8258249a899"),
])
def test_size_fallback_encodes_each_candidate_once(kind, seed, digest):
    """A chunk that fails the size check is selected afresh with the
    check's encode of the prior winner reused: no candidate is encoded
    twice on a chunk's sample. The blob keeps the bytes pinned before the
    reuse, and the column's prior after the fallback (winner, profile,
    size limit) is the one a fresh selection of that chunk leaves."""
    parts, stride = _size_fallback(kind, np.random.default_rng(seed))
    col = pa.concat_arrays([pa.array(p) for p in parts])
    tbl = pa.table({"c": col})
    chunks, row, blob = _encodes_per_chunk(tbl, kind, stride)
    assert row["chunks_reselected"] == {"size": 1}
    assert len(chunks) == tbl.num_rows // stride
    for i, tried in enumerate(chunks):
        assert len(tried) == len(set(tried)), (i, tried)
    assert hashlib.sha256(blob).hexdigest() == digest

    def priors(arrays):
        prior = {}
        for a in arrays:
            if kind == "str":
                select_and_encode_str(*_flat_binary(a), _prior=prior)
            elif kind == "int":
                select_and_encode_int(a.to_numpy(), _prior=prior)
            else:
                select_and_encode_float(a.to_numpy(), _prior=prior)
        return {k: prior[k] for k in ("codec", "profile", "limit")}

    fell_back = next(i for i, tried in enumerate(chunks) if i and len(tried) > 1)
    sliced = [col.slice(a, stride) for a in range(0, len(col), stride)]
    assert priors(sliced[: fell_back + 1]) == priors(sliced[fell_back : fell_back + 1])


def _calls(fn, codes) -> dict:
    """How often each of ``codes`` (function code objects) is entered
    while ``fn()`` runs, read with a profile hook; and ``fn()``."""
    counts = dict.fromkeys(codes, 0)

    def hook(frame, event, arg):
        if event == "call" and frame.f_code in counts:
            counts[frame.f_code] += 1

    outer = sys.getprofile()
    sys.setprofile(hook)
    try:
        out = fn()
    finally:
        sys.setprofile(outer)
    return counts, out


def test_distinct_column_longer_than_the_sample_takes_one_fsst_pass():
    """2,500 distinct doc ids, as the tokens splits hold them: FSST is
    trained once and encodes once (the whole column), and ``dict_str``
    is bounded, not encoded. The result is the trial-everything one."""
    rng = np.random.default_rng(11)
    ids = [f"{i}_{r}" for i in range(500) for r in range(5)]
    data, off = _flat_binary(pa.array([ids[j] for j in rng.permutation(2500)], pa.binary()))
    assert int(off[2048]) >= fsst._SAMPLE_BYTES
    kernels = (fsst.train_symbol_table.__code__, fsst.fsst_encode.__code__,
               dictionary.encode_dict_bytes.__code__)
    pruned = {}
    counts, got = _calls(lambda: select_and_encode_str(data, off, _bounds=pruned), kernels)
    assert list(counts.values()) == [1, 1, 0]
    best, est, wire = got
    want_best, want_est, want_wire = _trial_all_str(data, off)
    assert (best, wire) == ("fsst", want_wire) and want_best == "fsst"
    assert est == {c: want_est[c] for c in ("raw_str", "fsst")}
    assert set(pruned) == {"dict_str"} and pruned["dict_str"] <= want_est["dict_str"]


# ------------------------------------------ every candidate, any column
#
# The selector encodes its candidates without an error gate, so a
# kernel that raised would fail the write instead of silently moving
# the choice to another codec. These corpora hold each type's edges.


def _fuzz_ints(rng):
    for dt in (np.int8, np.int16, np.int32, np.int64,
               np.uint8, np.uint16, np.uint32, np.uint64):
        ii = np.iinfo(dt)
        yield rng.integers(ii.min, ii.max, 3_000, dtype=dt, endpoint=True)
        yield np.sort(rng.integers(ii.min, ii.max, 20_000, dtype=dt, endpoint=True))
        yield np.array([ii.min, ii.max] * 700, dt)
        yield np.array([ii.max, ii.max - 60, ii.max - 7] * 400, dt)
        yield np.array([ii.min, ii.min + 60, ii.min + 7] * 400, dt)
        yield np.full(2_000, ii.max, dt)
        yield np.full(2_000, ii.min, dt)
        yield np.array([ii.max], dt)


def _fuzz_floats(rng):
    specials = [np.nan, np.inf, -np.inf, -0.0, 0.0, 5e-324, -5e-324,
                2.2250738585072014e-308, 1e308, -1e308, 1.7976931348623157e308]
    yield np.array(specials * 100)
    yield rng.integers(0, 2**64 - 1, 3_000, dtype=np.uint64, endpoint=True).view(np.float64)
    yield np.round(rng.normal(size=20_000) * 1e4, 2)
    yield np.arange(5_000) * 0.01
    yield np.full(2_000, np.nan)
    yield np.full(2_000, -0.0)
    yield np.array([1e308])
    yield np.array(rng.normal(size=3_000), np.float32).astype(np.float64)


def _fuzz_strs(rng):
    yield [b""] * 1_000
    yield [b"", b"a", b""] * 400
    yield [b"\xff" * rng.integers(0, 300) for _ in range(500)]
    yield [rng.bytes(int(rng.integers(0, 40))) for _ in range(3_000)]
    yield [rng.bytes(int(rng.integers(0, 4))) for _ in range(5_000)]
    yield [b"\x00" * 20_000]
    yield [bytes(range(256)) * 40] * 3
    yield [b"doc-%08d" % i for i in range(3_000)]


def _decode_float(c, b, double):
    if c == "float_split":
        return raw.decode_float_split(b, double=double)
    if c == "alp":
        return alp.decode_alp(b, double=double)
    if c == "dict_float":
        bits = dictionary.decode_dict_int(b, True)
        return bits.view(np.float64) if double else bits.astype(np.int32).view(np.float32)
    return raw.decode_float_raw(b, double=double)


def test_every_int_candidate_encodes_any_column():
    rng = np.random.default_rng(18)
    for v in _fuzz_ints(rng):
        for signed in (True, False) if v.dtype.kind == "u" else (True,):
            for c in selector.INT_CANDIDATES:
                got = _decode_int_values(c, selector._encode_int(c, v, signed), signed)
                assert np.array_equal(np.asarray(got).astype(v.dtype), v), (c, v.dtype, signed)
            prior = {}
            for chunk in (v, v[::-1]):  # full selection, then the reuse check
                select_and_encode_int(chunk, signed, _prior=prior)


def test_every_str_candidate_encodes_any_column():
    rng = np.random.default_rng(18)
    for strings in _fuzz_strs(rng):
        data, off = _flat_binary(pa.array(strings, pa.binary()))
        for c in selector.STR_CANDIDATES:
            d, o = _decode_str_values(c, selector._encode_str(c, data, off))
            assert bytes(d) == bytes(data) and np.array_equal(o, off), c
        prior = {}
        for chunk in (strings, strings[::-1]):
            d, o = _flat_binary(pa.array(chunk, pa.binary()))
            select_and_encode_str(d, o, _prior=prior)


def test_every_float_candidate_encodes_any_column():
    rng = np.random.default_rng(18)
    for v64 in _fuzz_floats(rng):
        for double in (True, False):
            with np.errstate(over="ignore"):  # +-1e308 become +-inf
                v = v64 if double else v64.astype(np.float32)
            for c in selector.FLOAT_CANDIDATES:
                got = _decode_float(c, selector._encode_float(c, v, double), double)
                assert got.tobytes() == v.tobytes(), (c, double)
            prior = {}
            for chunk in (v, v[::-1]):
                select_and_encode_float(chunk, double, _prior=prior)


# ------------------------------------------------- kernels made cheaper


def _bitpack_by_big_int(vals, width):
    acc = 0
    for x in vals:
        acc = (acc << width) | int(x)
    pad = -(len(vals) * width) % 8
    return (acc << pad).to_bytes((len(vals) * width + pad) // 8, "big")


@pytest.mark.parametrize("width", range(1, 65))
def test_bitpack_matches_big_int_packing(width):
    rng = np.random.default_rng(width)
    for n in (1, 7, 8, 9, 50, 512, 513, 700):
        # both sides of the packbits path's n <= 512 * width cut
        u = rng.integers(0, 2**63, n, dtype=np.uint64) >> np.uint64(63 - (width - 1))
        u[0] = (1 << width) - 1
        want = _bitpack_by_big_int(u, width)
        for dt in (np.uint8, np.uint16, np.uint32, np.uint64):
            if width <= 8 * np.dtype(dt).itemsize:
                assert bitpack.bitpack(u.astype(dt), width) == want


def test_float_split_matches_transpose():
    rng = np.random.default_rng(2)
    for n in (0, 1, 3, 10_000):
        v = rng.normal(size=n) * 1e3
        for double in (True, False):
            assert raw.encode_float_split(v, double) == _split_by_transpose(v, double)


def test_constant_rle_v1_matches_the_greedy_machine():
    for n in range(1, 1001):
        for x in (0, -1, 300, -(2**63)):
            u = rle_v1._prep_u64(np.full(n, x, np.int64), True)
            assert rle_v1.encode_int_rle_v1(u.view(np.int64)) == rle_v1._encode_greedy_rle_v1(u, True)
    u = np.full(261, 2**64 - 1, np.uint64)
    assert rle_v1.encode_int_rle_v1(u, False) == rle_v1._encode_greedy_rle_v1(u, False)


def test_compact_nanos_all_zero():
    z = compact_nanos(np.zeros(10, np.int64))
    assert z.dtype == np.uint64 and not z.any()
    assert (compact_nanos(np.array([0, 10**8, 0])) == [0, (1 << 3) | 7, 0]).all()


def test_bloom_bitset_matches_per_byte_or():
    from orc_format_spark.codecs import bloom

    rng = np.random.default_rng(4)
    for n in (0, 1, 7, 1000, 10_000):
        v = rng.integers(-(2**63), 2**63 - 1, n, dtype=np.int64)
        m = bloom._n_bits(n, bloom.BITS_PER_KEY)
        want = np.zeros(m // 8, np.uint8)
        if n:
            h1, h2 = bloom._hash_pair(v)
            for i in range(bloom.K_PROBES):
                idx = (h1 + np.uint64(i) * h2) & np.uint64(m - 1)
                np.bitwise_or.at(want, (idx >> np.uint64(3)).astype(np.int64),
                                 np.uint8(1) << (idx & np.uint64(7)).astype(np.uint8))
        assert bloom.bloom_build(v) == want.tobytes()


# ---------------------------------------------------------- byte pins


def test_lineitem_write_bytes_pinned():
    """sf0.01 lineitem written as the lineitem benchmark writes it; the
    digests were taken before selection used bounds."""
    tbl = pq.read_table(f"{SF01_DIR}/lineitem.parquet").sort_by(
        [("l_orderkey", "ascending"), ("l_linenumber", "ascending")]
    )
    blob = encode_table(tbl, stride=10_000, bloom_columns=["l_partkey"])[0]
    buf = io.BytesIO()
    write_orc(tbl, buf, compression="zstd", rle="v2", row_index_stride=10_000,
              bloom_columns=["l_orderkey", "l_partkey"])
    assert hashlib.sha256(blob).hexdigest() == (
        "56a8eafdfc25fc257010ac54bef909a14a4f5fd73f3376a40723ae8acf158d98")
    assert hashlib.sha256(buf.getvalue()).hexdigest() == (
        "c0416bac621e66d17cb151c01643c24ff1e50312572a94aaccf5048127d652cc")

