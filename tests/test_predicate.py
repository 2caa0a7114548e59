"""Reader-side predicate skipping over the chunked container: the stats
half of the reference's row index (src/writer/data/common.rs:24-48 keeps
per-row-group column stats exactly so a reader can skip row groups; the
reference's reader never shipped, src/reader.rs is a stub — ours does)."""

import numpy as np
import pyarrow as pa
import pytest

from orc_format_spark.codecs import container
from orc_format_spark.codecs.container import (
    MAGIC2,
    VERSION2,
    VERSION2_STATS,
    decode_table,
    encode_table,
)
from orc_format_spark.codecs.varint import decode_varint_one, encode_varint_one


def _sorted_tbl(n=100, stride_val=None):
    return pa.table(
        {
            "k": pa.array(np.arange(n, dtype=np.int64)),
            "v": pa.array((np.arange(n) % 7).astype(np.float64)),
            "s": pa.array([f"s{i:05d}" for i in range(n)]),
            "b": pa.array([i % 2 == 0 for i in range(n)]),
        }
    )


def _full(blob):
    return decode_table(blob)


@pytest.mark.parametrize(
    "pred",
    [
        ("k", "==", 37),
        ("k", "!=", 37),
        ("k", "<", 25),
        ("k", "<=", 25),
        ("k", ">", 80),
        ("k", ">=", 80),
        ("v", ">=", 5.0),
        ("s", ">=", "s00090"),
        ("b", "==", True),
    ],
)
def test_predicate_exact_vs_full_filter(pred):
    tbl = _sorted_tbl(100)
    blob, _ = encode_table(tbl, stride=10)
    got = decode_table(blob, predicate=pred)
    col, op, val = pred
    import pyarrow.compute as pc

    fns = {
        "==": pc.equal,
        "!=": pc.not_equal,
        "<": pc.less,
        "<=": pc.less_equal,
        ">": pc.greater,
        ">=": pc.greater_equal,
    }
    want = _full(blob).filter(fns[op](tbl.column(col), pa.scalar(val)))
    assert got.equals(want)
    assert got.num_rows == want.num_rows


def test_predicate_prunes_chunks(monkeypatch):
    """On a column sorted within the blob, a selective predicate must
    decompress only the covering chunks — counted via _decode_body."""
    tbl = _sorted_tbl(100)
    blob, _ = encode_table(tbl, stride=10)
    calls = []
    orig = container._decode_body

    def spy(body, columns=None):
        calls.append(len(body))
        return orig(body, columns)

    monkeypatch.setattr(container, "_decode_body", spy)
    out = decode_table(blob, predicate=("k", ">=", 85))
    assert out.num_rows == 15
    assert len(calls) == 2  # chunks [80,90) and [90,100) only
    calls.clear()
    out = decode_table(blob, predicate=("k", "==", 5))
    assert out.num_rows == 1
    assert len(calls) == 1


def test_predicate_nulls_never_match():
    tbl = pa.table(
        {
            "k": pa.array(list(range(20)), pa.int64()),
            "x": pa.array([None] * 10 + list(range(10)), pa.int64()),
        }
    )
    blob, _ = encode_table(tbl, stride=10)
    # chunk 0 is all-null for x -> provably unmatchable -> skipped
    out = decode_table(blob, predicate=("x", ">=", 0))
    assert out.column("k").to_pylist() == list(range(10, 20))
    out = decode_table(blob, predicate=("x", "<", 100))
    assert out.num_rows == 10


def test_predicate_on_v2_blob_without_stats():
    """A legacy chunk container (version 2, no stats section) still
    filters exactly — it just cannot prune."""
    tbl = _sorted_tbl(50)
    blob, _ = encode_table(tbl, stride=10)
    assert blob[4] == VERSION2_STATS
    # strip the stats section -> rebuild as version-2 layout
    pos = 5
    stride, pos = decode_varint_one(blob, pos)
    n_chunks, pos = decode_varint_one(blob, pos)
    metas_start = pos
    for _ in range(n_chunks):
        _, pos = decode_varint_one(blob, pos)
        _, pos = decode_varint_one(blob, pos)
    metas_end = pos
    slen, pos = decode_varint_one(blob, pos)
    bodies = blob[pos + slen :]
    legacy = (
        MAGIC2
        + bytes((VERSION2,))
        + encode_varint_one(stride)
        + encode_varint_one(n_chunks)
        + blob[metas_start:metas_end]
        + bodies
    )
    got = decode_table(legacy, predicate=("k", ">=", 40))
    assert got.column("k").to_pylist() == list(range(40, 50))
    # and the plain row-slice path still works on both versions
    assert decode_table(legacy, rows=(5, 8)).num_rows == 3


def test_predicate_errors():
    tbl = _sorted_tbl(30)
    blob, _ = encode_table(tbl, stride=10)
    with pytest.raises(ValueError, match="mutually exclusive"):
        decode_table(blob, rows=(0, 5), predicate=("k", "==", 1))
    with pytest.raises(ValueError, match="must be in columns"):
        decode_table(blob, columns=["v"], predicate=("k", "==", 1))
    with pytest.raises(ValueError, match="unsupported predicate op"):
        decode_table(blob, predicate=("k", "~", 1))


def test_predicate_unchunked_blob():
    tbl = _sorted_tbl(30)
    blob, _ = encode_table(tbl)  # v1 body, no chunks
    out = decode_table(blob, predicate=("k", "<", 3))
    assert out.column("k").to_pylist() == [0, 1, 2]


def test_predicate_with_projection():
    tbl = _sorted_tbl(40)
    blob, _ = encode_table(tbl, stride=10)
    out = decode_table(blob, columns=["k", "s"], predicate=("k", ">=", 35))
    assert out.column_names == ["k", "s"]
    assert out.column("k").to_pylist() == [35, 36, 37, 38, 39]


# ----------------------------------------------------------------- bloom


def test_bloom_no_false_negatives_and_low_fp():
    from orc_format_spark.codecs.bloom import bloom_build, bloom_may_contain

    vals = np.arange(0, 100_000, 13, dtype=np.int64)  # 7693 keys
    bits = bloom_build(vals)
    assert all(bloom_may_contain(bits, int(v)) for v in vals[::97])
    probes = np.arange(1, 50_000, 17)  # mostly absent values
    absent = [int(p) for p in probes if int(p) % 13 != 0]
    fp = sum(bloom_may_contain(bits, p) for p in absent) / len(absent)
    assert fp < 0.03, fp  # ~1% design point at 10 bits/key, k=7
    # negative values and the int64 extremes hash fine
    bits2 = bloom_build(np.array([-5, 0, 2**62, -(2**62)], dtype=np.int64))
    assert bloom_may_contain(bits2, -5)
    assert bloom_may_contain(bits2, 2**62)
    assert not bloom_may_contain(bits2, 7)


def test_bloom_prunes_unclustered_equality(monkeypatch):
    """min/max cannot prune an unclustered id column; the bloom can."""
    rng = np.random.default_rng(7)
    ids = rng.permutation(np.arange(0, 4000, 4, dtype=np.int64))  # stride-4 ids
    tbl = pa.table({"doc": pa.array(ids), "v": pa.array(ids * 2)})
    blob, _ = encode_table(tbl, stride=100, bloom_columns=["doc"])
    from orc_format_spark.codecs.bloom import bloom_from_b64, bloom_may_contain

    # a value inside every chunk's [min,max] but absent from the data
    probe = 1001  # 1001 % 4 != 0
    calls = []
    orig = container._decode_body

    def spy(body, columns=None):
        calls.append(1)
        return orig(body, columns)

    monkeypatch.setattr(container, "_decode_body", spy)
    out = decode_table(blob, predicate=("doc", "==", probe))
    assert out.num_rows == 0
    # expected decodes = chunks whose bloom false-positives the probe
    import json as _json
    from orc_format_spark.codecs.varint import decode_varint_one

    pos = 5
    _, pos = decode_varint_one(blob, pos)
    n_chunks, pos = decode_varint_one(blob, pos)
    for _ in range(n_chunks):
        _, pos = decode_varint_one(blob, pos)
        _, pos = decode_varint_one(blob, pos)
    slen, pos = decode_varint_one(blob, pos)
    stats = _json.loads(blob[pos : pos + slen])
    expect = sum(
        1
        for s in stats
        if s["doc"][0] <= probe <= s["doc"][1]
        and bloom_may_contain(bloom_from_b64(s["doc@bloom"]), probe)
    )
    # +1 when everything prunes: chunk 0 is decoded at zero rows purely
    # for the result schema
    assert len(calls) == (expect if expect else 1)
    assert expect < n_chunks  # the bloom pruned real work
    # present value still found
    calls.clear()
    hit = int(ids[123])
    out = decode_table(blob, predicate=("doc", "==", hit))
    assert out.column("doc").to_pylist() == [hit]


# ------------------------------------------------- temporal + AND


def test_temporal_stats_prune_and_filter(monkeypatch):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    ts = [base + dt.timedelta(hours=i) for i in range(100)]
    d = [dt.date(2024, 1, 1) + dt.timedelta(days=i) for i in range(100)]
    tbl = pa.table(
        {
            "k": pa.array(list(range(100)), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "d": pa.array(d, pa.date32()),
        }
    )
    blob, _ = encode_table(tbl, stride=10)
    calls = []
    orig = container._decode_body

    def spy(body, columns=None):
        calls.append(1)
        return orig(body, columns)

    monkeypatch.setattr(container, "_decode_body", spy)
    cut = base + dt.timedelta(hours=90)
    out = decode_table(blob, predicate=("ts", ">=", cut))
    assert out.num_rows == 10
    assert len(calls) == 1  # only the last chunk decoded
    calls.clear()
    out = decode_table(blob, predicate=("d", "<", dt.date(2024, 1, 11)))
    assert out.num_rows == 10
    assert len(calls) == 1
    # cross-domain value (datetime vs date column) is exercised implicitly; plain int pred still exact
    calls.clear()
    out = decode_table(blob, predicate=("k", "==", 5))
    assert out.num_rows == 1


def test_and_predicates(monkeypatch):
    tbl = _sorted_tbl(100)
    blob, _ = encode_table(tbl, stride=10)
    out = decode_table(blob, predicate=[("k", ">=", 20), ("k", "<", 40), ("b", "==", True)])
    assert out.column("k").to_pylist() == list(range(20, 40, 2))
    # pruning intersects conjuncts: only chunks [20,30) and [30,40)
    calls = []
    orig = container._decode_body

    def spy(body, columns=None):
        calls.append(1)
        return orig(body, columns)

    monkeypatch.setattr(container, "_decode_body", spy)
    decode_table(blob, predicate=[("k", ">=", 20), ("k", "<", 40)])
    assert len(calls) == 2
    # empty list behaves like no predicate
    assert decode_table(blob, predicate=[]).num_rows == 100
    # a tuple of triples is the same AND as the list (read_orc's shape)
    assert decode_table(
        blob, predicate=(("k", ">=", 20), ("k", "<", 40))
    ).equals(decode_table(blob, predicate=[("k", ">=", 20), ("k", "<", 40)]))


# ------------------------------------------------- list-element contains


def _token_tbl(n_chunks=8, stride=50):
    """Each chunk's lists draw elements from a disjoint band of 1000, so
    a probe token lives in exactly one chunk's band."""
    rng = np.random.default_rng(11)
    rows = []
    for c in range(n_chunks):
        base = c * 1000
        for _ in range(stride):
            rows.append((base + rng.integers(0, 200, rng.integers(1, 12))).tolist())
    return pa.table(
        {
            "doc": pa.array(np.arange(n_chunks * stride, dtype=np.int64)),
            "tokens": pa.array(rows, pa.list_(pa.int32())),
        }
    )


def test_contains_exact_vs_python_filter():
    tbl = _token_tbl()
    blob, _ = encode_table(tbl, stride=50, bloom_columns=["tokens"])
    probe = 3007  # band of chunk 3
    got = decode_table(blob, predicate=("tokens", "contains", probe))
    want = [
        (d, t)
        for d, t in zip(tbl.column("doc").to_pylist(), tbl.column("tokens").to_pylist())
        if probe in t
    ]
    assert list(zip(got.column("doc").to_pylist(), got.column("tokens").to_pylist())) == want
    assert got.num_rows > 0


def test_contains_prunes_chunks(monkeypatch):
    """Element min/max bands + bloom skip chunks whose sequences cannot
    contain the probe token — decode touches ~1 of 8 chunks."""
    tbl = _token_tbl(n_chunks=8, stride=50)
    blob, _ = encode_table(tbl, stride=50, bloom_columns=["tokens"])
    calls = []
    orig = container._decode_body

    def spy(body, columns=None):
        calls.append(1)
        return orig(body, columns)

    monkeypatch.setattr(container, "_decode_body", spy)
    out = decode_table(blob, predicate=("tokens", "contains", 5007))
    assert out.num_rows > 0
    assert all(5007 in t for t in out.column("tokens").to_pylist())
    assert len(calls) == 1  # element bands are disjoint: exactly one chunk
    # absent token inside a band: bloom prunes or residual filter empties
    calls.clear()
    out2 = decode_table(blob, predicate=("tokens", "contains", 4999))
    assert out2.num_rows == 0
    assert len(calls) <= 2  # at most band chunk + schema fallback
    # token outside every band: pure min/max prune, no decode beyond schema
    calls.clear()
    out3 = decode_table(blob, predicate=("tokens", "contains", 99999))
    assert out3.num_rows == 0 and len(calls) == 1


def test_contains_null_and_empty_rows():
    tbl = pa.table(
        {
            "doc": pa.array([0, 1, 2, 3], pa.int64()),
            "tokens": pa.array([[1, 2], [], None, [2, 2, 2]], pa.list_(pa.int32())),
        }
    )
    blob, _ = encode_table(tbl, stride=2, bloom_columns=["tokens"])
    got = decode_table(blob, predicate=("tokens", "contains", 2))
    assert got.column("doc").to_pylist() == [0, 3]
    # non-list column -> loud error
    blob2, _ = encode_table(tbl.select(["doc"]), stride=2)
    with pytest.raises(ValueError, match="list column"):
        decode_table(blob2, predicate=("doc", "contains", 1))


def test_contains_without_bloom_stats_still_exact():
    """No bloom_columns: no element stats, every chunk decodes, result
    identical (unknown never prunes, residual filter is exact)."""
    tbl = _token_tbl(n_chunks=4, stride=50)
    blob, _ = encode_table(tbl, stride=50)
    got = decode_table(blob, predicate=("tokens", "contains", 1007))
    want = sum(1 for t in tbl.column("tokens").to_pylist() if 1007 in t)
    assert got.num_rows == want


def test_in_isnull_startswith_exact_and_pruning(monkeypatch):
    """Round-4 predicate ops: IN-list (per-member min/max + Bloom
    pruning), null tests, and string prefix (exact-bounds window)."""
    import pyarrow.compute as pc

    tbl = pa.table(
        {
            "k": pa.array(
                [None if i % 9 == 0 else i for i in range(100)], pa.int64()
            ),
            "s": pa.array([f"s{i:05d}" for i in range(100)]),
        }
    )
    blob, _ = encode_table(tbl, stride=10)

    got = decode_table(blob, predicate=("k", "in", (5, 37, 86, 1000)))
    assert sorted(got.column("k").to_pylist()) == [5, 37, 86]
    # a one-shot iterable gives the same rows: chunk pruning iterates
    # the literal before the residual filter does
    gen = (v for v in (5, 37, 86, 1000))
    assert decode_table(blob, predicate=("k", "in", gen)).equals(got)
    # null never satisfies IN, even with a None member, so the result
    # cannot depend on which chunks the all-null pruning skipped
    got = decode_table(blob, predicate=("k", "in", (None, 5)))
    assert got.column("k").to_pylist() == [5]
    nulls_first = pa.table(
        {"k": pa.array([None] * 1000 + [1, None, 5, 7] * 250, pa.int64())}
    )
    for stride in (None, 1000):
        b2, _ = encode_table(nulls_first, stride=stride)
        got = decode_table(b2, predicate=("k", "in", [None, 5]))
        assert got.column("k").to_pylist() == [5] * 250, stride
    got = decode_table(blob, predicate=("k", "isnull", None))
    assert got.num_rows == 12 and got.column("k").null_count == 12
    got = decode_table(blob, predicate=("k", "notnull", None))
    assert got.num_rows == 88 and got.column("k").null_count == 0
    got = decode_table(blob, predicate=("s", "startswith", "s0004"))
    assert got.column("s").to_pylist() == [f"s{i:05d}" for i in range(40, 50)]
    # empty IN matches nothing; prefix past the range matches nothing
    assert decode_table(blob, predicate=("k", "in", ())).num_rows == 0
    assert decode_table(blob, predicate=("s", "startswith", "t")).num_rows == 0

    # pruning: IN over a sorted column touches only covering chunks;
    # a prefix predicate only its window
    calls = []
    orig = container._decode_body

    def spy(body, columns=None):
        calls.append(len(body))
        return orig(body, columns)

    monkeypatch.setattr(container, "_decode_body", spy)
    decode_table(blob, predicate=("k", "in", (5, 86)))
    assert len(calls) == 2  # chunks [0,10) and [80,90) only
    calls.clear()
    decode_table(blob, predicate=("s", "startswith", "s0004"))
    assert len(calls) == 1  # chunk [40,50) only
    calls.clear()
    decode_table(blob, predicate=("s", "startswith", "zz"))
    # every chunk provably out of range; only the schema chunk decodes
    assert len(calls) == 1


def test_in_pruning_uses_bloom(monkeypatch):
    """Unclustered ints: each IN member consults the Bloom bitset, so an
    IN list of absent values decompresses zero chunks."""
    rng = np.random.default_rng(5)
    vals = rng.permutation(10_000)[:100] * 2  # even values only
    tbl = pa.table({"k": pa.array(vals, pa.int64())})
    blob, _ = encode_table(tbl, stride=25, bloom_columns=["k"])
    calls = []
    orig = container._decode_body

    def spy(body, columns=None):
        calls.append(len(body))
        return orig(body, columns)

    monkeypatch.setattr(container, "_decode_body", spy)
    lo, hi = int(vals.min()), int(vals.max())
    odd_probes = tuple(int(v) + 1 for v in vals[:8] if lo <= int(v) + 1 <= hi)
    assert odd_probes
    out = decode_table(blob, predicate=("k", "in", odd_probes))
    assert out.num_rows == 0
    assert len(calls) <= 1  # Bloom may rarely false-positive one chunk


# ------------------------------------------------- evaluator soundness


def test_chunk_may_match_sound_fuzz():
    """Randomized soundness of the one stats evaluator over writer-shaped
    stats: per trial a fixed column typing (every blob of one table
    shares column types), 200 random stats rows (bounds / [None, None] /
    missing column; ints to +-2^62 and 2^53+k, fractional floats,
    strings, iso temporals) and range predicates, usually typed to the
    column but sometimes CROSS-typed. Invariants: whenever lo, hi or an
    in-range literal satisfies the predicate, the chunk is kept (pruning
    never drops a matching row); a missing column is kept; a cross-typed
    literal never prunes a chunk that has values."""
    import datetime
    import operator

    from orc_format_spark.codecs.container import _chunk_may_match

    rng = np.random.default_rng(47)
    I64 = 2**62
    cmp = {
        "==": operator.eq, "!=": operator.ne, "<": operator.lt,
        "<=": operator.le, ">": operator.gt, ">=": operator.ge,
    }

    def bound(domain):
        if domain == "int":
            return int(
                rng.choice(
                    [
                        int(rng.integers(-25, 26)),
                        int(rng.integers(-I64, I64)),
                        2**53 + int(rng.integers(0, 9)),
                    ]
                )
            )
        if domain == "float":
            k = int(rng.integers(-25, 26))
            return float(
                rng.choice([k + 0.6, k + 0.5, float(k), k * 1e12 + 0.25])
            )
        if domain == "str":
            return f"s{int(rng.integers(0, 10))}"
        return datetime.datetime(2020, 1, 1) + datetime.timedelta(
            hours=int(rng.integers(0, 500))
        )

    def value(domain):
        if domain in ("int", "float"):
            # int and float literals are BOTH well-typed on a numeric
            # column; near-boundary ints exercise the 2^53 rounding trap
            if rng.random() < 0.6:
                return int(
                    rng.choice(
                        [int(rng.integers(-25, 26)), 2**53 + 4, -(2**60)]
                    )
                )
            return float(int(rng.integers(-25, 26)) + 0.5)
        if domain == "str":
            return f"s{int(rng.integers(0, 10))}"
        v = bound("dt")
        return v.date() if rng.random() < 0.3 else v

    def kind(v):
        if isinstance(v, (int, float)):
            return "num"
        if isinstance(v, str):
            return "str"
        return "dt" if isinstance(v, datetime.datetime) else "date"

    checked = 0
    for trial in range(40):
        domains = {
            c: str(rng.choice(["int", "float", "str", "dt"])) for c in "abc"
        }
        rows = []
        for _ in range(200):
            st, raw = {}, {}
            for col, dom in domains.items():
                r = rng.random()
                if r < 0.10:
                    continue  # column missing from this chunk's stats
                if r < 0.20:
                    st[col] = [None, None]  # all-null column
                    continue
                lo, hi = sorted((bound(dom), bound(dom)))
                raw[col] = (lo, hi)
                if dom == "dt":
                    st[col] = {"t": "iso", "lo": lo.isoformat(), "hi": hi.isoformat()}
                else:
                    st[col] = [lo, hi]
            rows.append((st, raw))
        for _ in range(8):
            col = str(rng.choice(["a", "b", "c", "zz"]))
            dom = domains.get(col, "int")
            if rng.random() < 0.2:  # cross-typed predicate
                dom = str(rng.choice(["int", "float", "str", "dt"]))
            op = str(rng.choice(list(cmp) + ["in"]))
            if op == "in":
                val = tuple(value(dom) for _ in range(int(rng.integers(1, 4))))
                members = val
            else:
                val = value(dom)
                members = (val,)
            for st, raw in rows:
                got = _chunk_may_match(st, (col, op, val))
                ctx = f"{(col, op, val)} on {st.get(col)} (trial {trial})"
                if col not in st:
                    assert got, f"missing column pruned: {ctx}"
                    continue
                if col not in raw:
                    continue  # all-null chunk: provably unmatchable
                lo, hi = raw[col]
                if any(kind(m) != kind(lo) for m in members):
                    assert got, f"cross-typed literal pruned: {ctx}"
                    continue
                tests = [("==", m) for m in members] if op == "in" else [(op, val)]
                match = any(
                    cmp[o](x, m)
                    for o, m in tests
                    for x in [lo, hi] + ([m] if lo <= m <= hi else [])
                )
                if match:
                    assert got, f"matching chunk pruned: {ctx}"
                checked += 1
    assert checked > 10_000
