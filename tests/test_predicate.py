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


# ------------------------------------------------ predicate trees: and/or/not


def test_normalize_pushes_not_to_leaves():
    from orc_format_spark.predicate import FALSE, Leaf, normalize

    t = normalize(("not", ("or", [("a", "<", 1), ("not", ("b", "isnull", None))])))
    assert t == ("and", (Leaf("a", ">=", 1), Leaf("b", "isnull", None)))
    # no dual: a negated leaf; double negation cancels
    assert normalize(("not", ("k", "in", iter([1, 2])))) == Leaf("k", "in", (1, 2), True)
    assert normalize(("not", ("not", ("s", "startswith", "x")))) == Leaf("s", "startswith", "x")
    # today's shapes: a triple, and a list or tuple of triples (AND)
    assert normalize([("k", ">=", 2), [("k", "<", 5)]]) == normalize(
        ("and", [("k", ">=", 2), ("k", "<", 5)])
    )
    assert normalize([]) is None and normalize(None) is None
    assert normalize(t) == t  # idempotent
    # ("or", []) is the never-TRUE tree; an always-TRUE child absorbs an OR
    assert normalize(("or", [])) == FALSE
    assert normalize(("or", [[], ("k", "==", 1)])) is None
    # folding: leaves on an absent (all-null) column decide around the rest
    absent = lambda leaf: None if leaf.col != "x" else leaf.op == "isnull"  # noqa: E731
    assert normalize([("x", "isnull", None), ("k", "<", 1)], known=absent) == Leaf("k", "<", 1)
    assert normalize(("or", [("x", "==", 1), ("not", ("x", "in", (2,)))]), known=absent) == FALSE
    assert normalize(("not", ("x", "notnull", None)), known=absent) is None
    with pytest.raises(ValueError, match="unsupported predicate op"):
        normalize(("k", "~", 1))
    for bad in (["k", "==", 1], ("xor", [])):
        with pytest.raises(ValueError, match="malformed predicate"):
            normalize(bad)


def test_or_not_trees_decode_table(monkeypatch):
    tbl = _sorted_tbl()
    blob, _ = encode_table(tbl, stride=10)
    k = np.arange(100)
    cases = [
        (("or", [("k", "<", 5), ("k", ">=", 95)]), (k < 5) | (k >= 95)),
        (("not", ("k", "in", (3, 4))), ~np.isin(k, [3, 4])),
        (("not", [("k", ">=", 10), ("k", "<", 90)]), (k < 10) | (k >= 90)),
        (("or", [("s", "startswith", "s0001"), ("not", ("k", "!=", 50))]),
         (k // 10 == 1) | (k == 50)),
    ]
    calls = []
    orig = container._decode_body
    monkeypatch.setattr(
        container, "_decode_body", lambda b, c=None: calls.append(1) or orig(b, c)
    )
    for tree, want in cases:
        got = decode_table(blob, predicate=tree)
        assert got.equals(tbl.filter(pa.array(want))), tree
    calls.clear()
    decode_table(blob, predicate=cases[0][0])
    assert len(calls) == 2  # an OR of two ranges reads only their chunks
    calls.clear()
    decode_table(blob, predicate=cases[2][0])
    assert len(calls) == 2


def test_not_in_keeps_null_rows_out():
    """NOT IN is UNKNOWN on a null row (is_in answers false there, so a
    bare invert would let nulls through)."""
    t = pa.table({"k": pa.array([1, None, 3, None, 5], pa.int64())})
    blob, _ = encode_table(t, stride=2)
    got = decode_table(blob, predicate=("not", ("k", "in", (3,))))
    assert got.column("k").to_pylist() == [1, 5]
    got = decode_table(blob, predicate=("not", ("k", "isnull", None)))
    assert got.column("k").to_pylist() == [1, 3, 5]


def test_ne_keeps_nan_rows_blob():
    """pc.min_max skips NaN: [5.0, NaN, 5.0] has bounds [5, 5], which
    must not prove ``!= 5.0`` (NaN != 5.0 is TRUE)."""
    t = pa.table({"f": pa.array([5.0, float("nan"), 5.0] * 2)})
    blob, _ = encode_table(t, stride=3)
    got = decode_table(blob, predicate=("f", "!=", 5.0))
    assert got.num_rows == 2
    assert all(v != v for v in got.column("f").to_pylist())
    got = decode_table(blob, predicate=("not", ("f", "==", 5.0)))
    assert got.num_rows == 2


def test_ne_keeps_nan_rows_orc():
    import io

    import pyarrow.orc as po

    from orc_format_spark.sources.orc_read import read_orc

    buf = io.BytesIO()
    po.write_table(pa.table({"f": pa.array([5.0, float("nan"), 5.0] * 2)}), buf)
    got = read_orc(buf.getvalue(), predicate=("f", "!=", 5.0))
    assert sum(v != v for v in got.column("f").to_pylist()) == 2
    # a NaN first value leaves the Apache writer's bounds NaN: unknown
    buf = io.BytesIO()
    po.write_table(pa.table({"f": pa.array([float("nan"), 1.0, 2.0] * 2)}), buf)
    for op in ("==", "<=", ">="):
        assert read_orc(buf.getvalue(), predicate=("f", op, 1.0)).num_rows == 6


def test_or_not_trees_read_orc():
    import io

    from orc_format_spark.sources.orc_file import write_orc
    from orc_format_spark.sources.orc_read import read_orc

    t = pa.table({"k": pa.array(np.arange(10_000, dtype=np.int64))})
    buf = io.BytesIO()
    write_orc(t, buf, compression="zstd", rle="v2", stripe_rows=2_000,
              row_index_stride=500)
    data = buf.getvalue()
    got = read_orc(data, predicate=("or", [("k", "<", 10), ("k", ">=", 9_990)]))
    assert got.num_rows == 1_000  # two 500-row groups
    got = read_orc(data, predicate=("not", ("or", [("k", "<", 9_000), ("k", "==", 9_999)])))
    assert got.num_rows == 1_000 and got["k"][0].as_py() == 9_000
    # a negated leaf without a dual never prunes
    assert read_orc(data, predicate=("not", ("k", "in", (1,)))).num_rows == 10_000


def test_or_not_trees_prune_and_decode_blobs(spark):
    from pyspark.sql import functions as F

    from orc_format_spark import decode_blobs, encode_groups, prune_blobs

    df = spark.range(400).select(
        F.col("id").alias("k"), (F.col("id") % 7).cast("double").alias("v")
    )
    blobs = encode_groups(
        df.withColumn("group_id", F.floor(F.col("k") / F.lit(100))),
        key_col="k", stats=True,
    ).cache()
    tree = ("or", [("k", "<", 10), ("not", ("k", "<", 390))])
    assert prune_blobs(blobs, tree).count() == 2
    assert prune_blobs(blobs, ("not", tree)).count() == 4
    got = decode_blobs(blobs, "k long, v double", predicate=tree)
    assert sorted(r.k for r in got.collect()) == list(range(10)) + list(range(390, 400))
    # evolution: leaves on a column an old blob lacks fold as all-null
    new = spark.range(400, 440).select(
        F.col("id").alias("k"), F.lit(1.0).alias("v"), F.col("id").cast("string").alias("s")
    )
    mixed = blobs.select("blob").unionAll(
        encode_groups(new, num_groups=1, key_col="k").select("blob")
    )
    ddl = "k long, v double, s string"
    for tree, want in [
        (("or", [("s", "==", "405"), ("k", "==", 3)]), [3, 405]),
        (("and", [("s", "isnull", None), ("k", ">=", 398)]), [398, 399]),
        (("not", ("s", "isnull", None)), list(range(400, 440))),
        (("or", [("s", "isnull", None), ("k", "==", 401)]), list(range(400)) + [401]),
    ]:
        got = decode_blobs(mixed, ddl, predicate=tree, evolution=True)
        assert sorted(r.k for r in got.collect()) == want, tree


def test_isnull_prunes_chunks_from_body_headers(monkeypatch):
    """``isnull`` skips a chunk whose body header says the column has no
    nulls (the stats JSON holds no null count); the result stays exact."""
    calls = []
    orig = container._decode_body
    monkeypatch.setattr(
        container, "_decode_body",
        lambda b, c=None: calls.append(1) or orig(b, c),
    )
    dense = pa.table({"k": pa.array(range(1000), pa.int64())})
    blob = encode_table(dense, stride=100)[0]
    out = decode_table(blob, predicate=("k", "isnull", None))
    assert out.num_rows == 0 and out.schema == dense.schema
    assert len(calls) == 1  # the zero-row schema decode of chunk 0

    # nulls only in rows [300, 310) and an all-null-free string column
    k = [None if 300 <= i < 310 else i for i in range(1000)]
    tbl = pa.table({"k": pa.array(k, pa.int64()),
                    "s": pa.array([f"v{i}" for i in range(1000)])})
    blob = encode_table(tbl, stride=100)[0]
    for pred, want, n_chunks in [
        (("k", "isnull", None), list(range(300, 310)), 1),
        (("not", ("k", "notnull", None)), list(range(300, 310)), 1),
        (("or", [("k", "isnull", None), ("k", "==", 905)]),
         list(range(300, 310)) + [905], 2),
        ([("k", "isnull", None), ("s", ">=", "v5")], [], 1),
        (("s", "isnull", None), [], 1),
    ]:
        calls.clear()
        got = decode_table(blob, predicate=pred)
        rows = [i for i in range(1000) if i in set(want)]
        assert got.column("s").to_pylist() == [f"v{i}" for i in rows], pred
        assert len(calls) == n_chunks, pred


def test_isnull_prunes_list_chunks_with_element_stats(monkeypatch):
    """Element stats (a Bloom-indexed ``list<int>``) describe elements,
    but ``isnull`` asks about rows: the body header's has_null still
    prunes, and the element count never answers ``notnull``."""
    calls = []
    orig = container._decode_body
    monkeypatch.setattr(
        container, "_decode_body",
        lambda b, c=None: calls.append(1) or orig(b, c),
    )
    lists = [[i, i + 1] for i in range(1000)]
    tbl = pa.table({"t": pa.array(lists, pa.list_(pa.int32()))})
    blob = encode_table(tbl, stride=100, bloom_columns=["t"])[0]
    out = decode_table(blob, predicate=("t", "isnull", None))
    assert out.num_rows == 0 and out.schema == tbl.schema
    assert len(calls) == 1  # the zero-row schema decode of chunk 0

    # nulls in rows [300, 310); an empty list is a row, not a null
    lists = [None if 300 <= i < 310 else ([] if i % 3 == 0 else [i]) for i in range(1000)]
    tbl = pa.table({"t": pa.array(lists, pa.list_(pa.int32()))})
    blob = encode_table(tbl, stride=100, bloom_columns=["t"])[0]
    for pred, want, n_chunks in [
        (("t", "isnull", None), [lists[i] for i in range(300, 310)], 1),
        (("t", "notnull", None), [x for x in lists if x is not None], 10),
        (("t", "contains", 905), [[905]], 1),
    ]:
        calls.clear()
        got = decode_table(blob, predicate=pred)
        assert got.column("t").to_pylist() == want, pred
        assert len(calls) == n_chunks, pred


def test_pruning_power_pinned(monkeypatch):
    """The lookup shapes of the lineitem benchmark (``==``, ``in``, a
    ``>=``/``<`` range, plus Bloom-served ``==``/``in`` on an unclustered
    key) on sf0.001 lineitem: blob chunks decompressed, ORC runs of
    kept row groups and rows decoded, and rows returned, per shape.
    Pinned so a change to the evaluator cannot widen reads unnoticed;
    an ORC read decodes only its kept groups, so its decoded rows equal
    its returned rows."""
    import io

    import pyarrow.parquet as pq

    from orc_format_spark.sources import orc_read
    from orc_format_spark.sources.orc_file import write_orc

    from tests.conftest import SF_DIR

    tbl = pq.read_table(f"{SF_DIR}/lineitem.parquet").sort_by(
        [("l_orderkey", "ascending"), ("l_linenumber", "ascending")]
    )
    blob = encode_table(tbl, stride=250, bloom_columns=["l_partkey"])[0]
    buf = io.BytesIO()
    write_orc(tbl, buf, compression="zstd", rle="v2", stripe_rows=1500,
              row_index_stride=250, bloom_columns=["l_orderkey", "l_partkey"])
    orc = buf.getvalue()
    keys = tbl.column("l_orderkey").to_numpy()
    parts = tbl.column("l_partkey").to_numpy()
    rng = np.random.default_rng(5)
    queries = []
    for i in range(60):
        k = int(keys[rng.integers(0, keys.size)])
        p = int(parts[rng.integers(0, parts.size)])
        shape = i % 5
        if shape == 0:
            queries.append(("l_orderkey", "==", k))
        elif shape == 1:
            w = int(rng.integers(2, 40))
            queries.append([("l_orderkey", ">=", k), ("l_orderkey", "<", k + w)])
        elif shape == 2:
            base = [int(keys[j]) for j in rng.integers(0, keys.size, 3)]
            queries.append(("l_orderkey", "in", tuple(sorted({k, *base}))))
        elif shape == 3:
            queries.append(("l_partkey", "==", p))
        else:
            queries.append(("l_partkey", "in", (p, p + 1, 10**9)))

    chunks, stripes, rows = [], [], []
    orig_body = container._decode_body
    monkeypatch.setattr(
        container, "_decode_body",
        lambda b, c=None: chunks.append(1) or orig_body(b, c),
    )
    orig_col = orc_read._read_column

    def spy(st, types, cid, n, proj=None):
        if cid == 1:  # l_orderkey: once per decoded run of row groups
            stripes.append(1)
            rows.append(n)
        return orig_col(st, types, cid, n, proj)

    monkeypatch.setattr(orc_read, "_read_column", spy)
    got = {}
    for shape in range(5):
        chunks.clear(), stripes.clear(), rows.clear()
        nb = no = 0
        for q in queries[shape::5]:
            nb += decode_table(blob, predicate=q).num_rows
            no += orc_read.read_orc(orc, predicate=q).num_rows
        got[shape] = (len(chunks), len(stripes), sum(rows), nb, no)
    assert got == {
        0: (12, 12, 3000, 58, 3000),
        1: (14, 12, 3500, 735, 3500),
        2: (45, 39, 11250, 227, 11250),
        3: (216, 71, 54750, 380, 54750),
        4: (262, 60, 65500, 694, 65500),
    }


# ------------------------------------------------- differential fuzz
#
# One reference for every path: a pure-Python SQL three-valued row
# evaluator over the raw (un-normalized) tree. Exact paths (decode_table)
# must return exactly its TRUE rows; pruned reads (blob-level and
# manifest stats, ORC stripes and row groups from both writers) must
# keep a superset of them.


def _kleene_not(a):
    return None if a is None else not a


def _kleene_and(a, b):
    if a is False or b is False:
        return False
    return None if a is None or b is None else True


def _kleene_or(a, b):
    if a is True or b is True:
        return True
    return None if a is None or b is None else False


def _ref_leaf(op, v, lit):
    """One leaf on one value: True / False / None (UNKNOWN), or a set
    {True, False} when the literal is not comparable with the value."""
    import math

    if op == "isnull":
        return v is None
    if op == "notnull":
        return v is not None
    if v is None:
        return None
    if op == "contains":
        return any(e == lit for e in v if e is not None)
    if op == "startswith":
        if isinstance(v, str) and isinstance(lit, str):
            return v.startswith(lit)
        return {True, False}
    if op == "in":
        return any(v == m for m in lit if m is not None)
    if isinstance(v, float) and math.isnan(v):
        # IEEE order, as Arrow compares: NaN fails == and every ordered
        # comparison (UNKNOWN, so NOT keeps it out too) and passes !=
        return {"==": False, "!=": True}.get(op)
    try:
        return {
            "==": v == lit, "!=": v != lit, "<": v < lit,
            "<=": v <= lit, ">": v > lit, ">=": v >= lit,
        }[op]
    except TypeError:
        return {True, False}


def _ref(node, row) -> set:
    """The set of truth values ``node`` may take on ``row`` (a dict;
    a column absent from it may hold anything)."""
    if isinstance(node, tuple) and len(node) == 3 and isinstance(node[0], str):
        col, op, lit = node
        if col not in row:  # any value; IN () is still never TRUE
            return {False, None} if op == "in" and not lit else {True, False, None}
        r = _ref_leaf(op, row[col], lit)
        return r if isinstance(r, set) else {r}
    if isinstance(node, tuple) and node[0] == "not":
        return {_kleene_not(a) for a in _ref(node[1], row)}
    kind, kids = (node[0], node[1]) if isinstance(node[0], str) else ("and", node)
    comb = _kleene_and if kind == "and" else _kleene_or
    acc = {kind == "and"}
    for k in kids:
        acc = {comb(a, b) for a in acc for b in _ref(k, row)}
    return acc


def _rand_tree(rng, leaf, depth=0):
    r = rng.random()
    if depth >= 3 or r < 0.35:
        return leaf()
    if r < 0.5:
        return ("not", _rand_tree(rng, leaf, depth + 1))
    kids = [_rand_tree(rng, leaf, depth + 1) for _ in range(int(rng.integers(1, 4)))]
    shape = rng.random()
    if shape < 0.2:
        return kids  # bare AND-list
    return ("and" if shape < 0.55 else "or", kids)


def _fuzz_table(rng, n):
    import datetime
    import decimal

    def nullable(arr, p):
        return pa.array(arr, mask=rng.random(n) < p)

    f64 = rng.standard_normal(n) * 1e3
    f64[rng.random(n) < 0.05] = np.nan
    f32 = rng.standard_normal(n).astype(np.float32)
    f32[rng.random(n) < 0.05] = np.nan
    # runs of few values with NaN inside: bounds [5, 5] over a NaN row
    fc = np.sort(rng.choice([1.5, 5.0], n))
    fc[rng.random(n) < 0.05] = np.nan
    i32 = rng.integers(-1000, 1000, n).astype(np.int32)
    if rng.random() < 0.5:
        i32.sort()  # clustered: stats actually prune
        f64.sort()
    base = datetime.datetime(2020, 1, 1)
    return pa.table({
        "rid": pa.array(np.arange(n, dtype=np.int64)),
        "i32": nullable(i32, 0.05),
        "i64": pa.array(rng.choice([0, 1, -1, 2**40, -(2**40)], n).astype(np.int64)),
        "f32": nullable(f32, 0.05),
        "f64": nullable(f64, 0.05),
        "fc": pa.array(fc),
        "s": pa.array([None if rng.random() < 0.1 else f"v{int(x) % 17:02d}"
                       for x in rng.integers(0, 100, n)]),
        "b": pa.array(rng.integers(0, 2, n).astype(bool)),
        "d": pa.array(np.sort(rng.integers(0, 3_000, n)).astype(np.int32)).cast(pa.date32()),
        "ts": pa.array([base + datetime.timedelta(seconds=int(x))
                        for x in np.sort(rng.integers(0, 10**8, n))], pa.timestamp("us")),
        "m": pa.array([decimal.Decimal(int(x)).scaleb(-2)
                       for x in rng.integers(-10**6, 10**6, n)], pa.decimal128(12, 2)),
        "lst": pa.array([None if rng.random() < 0.05 else list(range(int(k) % 6))
                         for k in rng.integers(0, 100, n)], pa.list_(pa.int32())),
    })


def _leaf_maker(rng, tbl, cols, ops_extra=True):
    """Random leaves typed to their column: literals sampled from the
    data (so they hit) or nudged off it, ``in`` lists with an
    occasional null member or none at all."""
    import datetime

    rows = tbl.num_rows

    def lit(col):
        v = tbl.column(col)[int(rng.integers(0, rows))].as_py()
        if v is None or (isinstance(v, float) and v != v):
            v = {"f32": 0.5, "f64": 1.5, "fc": 5.0}.get(col, v)
        if col == "i32" and rng.random() < 0.4:
            return int(rng.integers(-1100, 1100))
        if col == "f64" and rng.random() < 0.3:
            return float(rng.standard_normal() * 1e3)
        if col == "d" and rng.random() < 0.3:
            return v + datetime.timedelta(days=1) if v is not None else v
        if col == "s" and rng.random() < 0.3:
            return f"v{int(rng.integers(0, 20)):02d}"
        return v

    def leaf():
        col = str(rng.choice(cols))
        ops = ["==", "!=", "<", "<=", ">", ">=", "in", "isnull", "notnull"]
        if ops_extra and col == "s":
            ops.append("startswith")
        if col == "lst":
            return (col, "contains", int(rng.integers(0, 7)))
        op = str(rng.choice(ops))
        if op in ("isnull", "notnull"):
            return (col, op, None)
        if op == "in":
            k = int(rng.integers(0, 4))
            members = [lit(col) for _ in range(k)]
            if k and rng.random() < 0.15:
                members.append(None)
            return (col, "in", [m for m in members if m is not None or rng.random() < 0.5])
        if op == "startswith":
            return (col, op, str(rng.choice(["v", "v0", "v1", "v05", "x"])))
        v = lit(col)
        if v is None:
            return (col, "isnull", None)
        return (col, op, v)

    return leaf


def _true_rows(tree, pyrows) -> list[int]:
    return [i for i, r in enumerate(pyrows) if _ref(tree, r) == {True}]


def _synthetic_stats_fuzz(rng, trials):
    """The stats evaluator alone, over writer-shaped stats rows (bounds
    / all-null / missing column; ints to +-2^62 and 2^53+k, fractional
    floats, strings, iso temporals) and trees whose literals are usually
    typed to the column but sometimes CROSS-typed: whenever a witness
    row consistent with the stats (lo, hi, null, or an in-range literal
    per column) makes the tree TRUE, the range is kept. A cross-typed
    comparison is either truth value; a missing column holds anything."""
    import datetime

    from orc_format_spark.codecs.container import stats_view
    from orc_format_spark.predicate import may_match, normalize

    I64 = 2**62

    def bound(domain):
        if domain == "int":
            return int(rng.choice([int(rng.integers(-25, 26)),
                                   int(rng.integers(-I64, I64)),
                                   2**53 + int(rng.integers(0, 9))]))
        if domain == "float":
            k = int(rng.integers(-25, 26))
            return float(rng.choice([k + 0.6, k + 0.5, float(k), k * 1e12 + 0.25]))
        if domain == "str":
            return f"s{int(rng.integers(0, 10))}"
        return datetime.datetime(2020, 1, 1) + datetime.timedelta(
            hours=int(rng.integers(0, 500)))

    def value(domain):
        if domain in ("int", "float"):
            if rng.random() < 0.6:
                return int(rng.choice([int(rng.integers(-25, 26)), 2**53 + 4, -(2**60)]))
            return float(int(rng.integers(-25, 26)) + 0.5)
        if domain == "str":
            return f"s{int(rng.integers(0, 10))}"
        v = bound("dt")
        return v.date() if rng.random() < 0.3 else v

    checked = 0
    for trial in range(trials):
        domains = {c: str(rng.choice(["int", "float", "str", "dt"])) for c in "abc"}

        def leaf():
            col = str(rng.choice(["a", "b", "c", "zz"]))
            dom = domains.get(col, "int")
            if rng.random() < 0.2:  # cross-typed literal
                dom = str(rng.choice(["int", "float", "str", "dt"]))
            op = str(rng.choice(["==", "!=", "<", "<=", ">", ">=", "in",
                                 "isnull", "notnull", "startswith"]))
            if op == "in":
                return (col, op, tuple(value(dom) for _ in range(int(rng.integers(0, 4)))))
            if op in ("isnull", "notnull"):
                return (col, op, None)
            if op == "startswith":
                return (col, op, value("str") if dom == "str" else value(dom))
            return (col, op, value(dom))

        trees = [_rand_tree(rng, leaf) for _ in range(8)]
        norm = [normalize(t) for t in trees]
        lits = {}
        for t in trees:
            stack = [t]
            while stack:
                x = stack.pop()
                if isinstance(x, tuple) and len(x) == 3 and isinstance(x[0], str):
                    m = x[2] if x[1] == "in" else (x[2],)
                    lits.setdefault(x[0], []).extend(m)
                elif isinstance(x, tuple) and x[0] == "not":
                    stack.append(x[1])
                else:
                    stack.extend(x[1] if isinstance(x[0], str) else x)
        for _ in range(100):
            st, cands = {}, {}
            for col, dom in domains.items():
                r = rng.random()
                if r < 0.10:
                    continue  # column missing from the stats: anything
                if r < 0.20:
                    st[col] = [None, None]  # all-null range
                    cands[col] = [None]
                    continue
                lo, hi = sorted((bound(dom), bound(dom)))
                st[col] = ({"t": "iso", "lo": lo.isoformat(), "hi": hi.isoformat()}
                           if dom == "dt" else [lo, hi])
                inner = []
                for m in lits.get(col, []):
                    try:
                        if lo <= m <= hi and type(m) is not bool:
                            inner.append(m)
                    except TypeError:
                        pass
                cands[col] = [lo, hi, None] + inner
            view = stats_view(st)
            witnesses = [
                {c: v[int(rng.integers(0, len(v)))] for c, v in cands.items()}
                for _ in range(24)
            ]
            for t, nt in zip(trees, norm):
                kept = may_match(nt, view)
                if not kept:
                    for w in witnesses:
                        assert True not in _ref(t, w), (t, st, w, trial)
                checked += 1
    assert checked > 5_000


@pytest.mark.parametrize("seed", [13, 17, 47])
def test_predicate_differential_fuzz(seed, tmp_path):
    """Random and/or/not trees of depth <= 3 (NaN and nulls in the data)
    over every stats source, against the reference row evaluator:
    decode_table at several strides with Bloom columns (exact),
    blob-level stats and the datasource's manifest stats (supersets),
    ORC stripes and row groups from the native and the Apache writer
    (supersets), plus the stats evaluator alone over synthetic,
    sometimes cross-typed stats rows. Seeds 13, 17 and 47 carry the
    decode, ORC and stats-evaluator fuzzes this one replaced."""
    import io
    import json

    import pyarrow.orc as po
    from pyspark.sql.types import StructType

    from orc_format_spark.codecs.container import _chunk_stats, stats_view
    from orc_format_spark.predicate import may_match, normalize
    from orc_format_spark.sources.datasource import OrcFormatReader, _file_stats_json
    from orc_format_spark.sources.orc_file import write_orc
    from orc_format_spark.sources.orc_read import read_orc

    rng = np.random.default_rng(seed)
    blob_cols = ["i32", "i64", "f32", "f64", "fc", "s", "b", "d", "ts", "m", "lst"]
    orc_cols = ["rid", "i32", "i64", "f64", "fc", "s", "d", "ts", "m"]
    for trial in range(6):
        n = int(rng.integers(1, 2500))
        tbl = _fuzz_table(rng, n)
        pyrows = tbl.to_pylist()
        leaf = _leaf_maker(rng, tbl, blob_cols)
        trees = [_rand_tree(rng, leaf) for _ in range(6)]
        # today's shapes (a triple, an AND-list) and NaN against != bounds
        nan_probes = [("fc", "!=", 5.0), ("not", ("fc", "==", 1.5))]
        trees += [leaf(), [leaf(), leaf()], *nan_probes]
        want = {i: _true_rows(t, pyrows) for i, t in enumerate(trees)}

        # exact: decode_table over chunked and unchunked blobs
        for stride in (int(rng.integers(1, 400)), int(rng.integers(400, 3000))):
            blob, _ = encode_table(tbl, stride=stride, bloom_columns=["i32", "i64", "lst"])
            for i, t in enumerate(trees):
                got = decode_table(blob, predicate=t)
                assert got.column("rid").to_pylist() == want[i], (seed, trial, stride, t)
                # NaN-safe content check (Table.equals fails on NaN)
                assert repr(got.to_pylist()) == repr(tbl.take(pa.array(want[i], pa.int64())).to_pylist())

        # supersets: blob-level stats (prune_blobs) and manifest stats
        cuts = sorted({0, n, *rng.integers(0, n, 4).tolist()})
        parts = [(a, b) for a, b in zip(cuts, cuts[1:]) if b > a]
        files = []
        for k, (a, b) in enumerate(parts):
            st = _chunk_stats(tbl.slice(a, b - a), ["i32", "i64", "lst"])
            files.append({"file": f"p{k}.ofs",
                          "stats": _file_stats_json(st),
                          "blob_stats": json.loads(json.dumps(st, sort_keys=True))})
        (tmp_path / "_manifest.json").write_text(json.dumps(
            {"files": [{"file": f["file"], "stats": f["stats"]} for f in files]}))
        reader = OrcFormatReader({"path": str(tmp_path)}, StructType([]))
        for i, t in enumerate(trees):
            reader.preds = [normalize(t)]
            kept = {p.path.rsplit("/", 1)[-1] for p in reader.partitions()}
            for (a, b), f in zip(parts, files):
                if any(a <= r < b for r in want[i]):
                    assert f["file"] in kept, (seed, trial, t, f["stats"])
                    assert may_match(normalize(t), stats_view(f["blob_stats"])), (t, f)

        # supersets: ORC stripes and row groups, both writers
        otbl = tbl.select(orc_cols)
        oleaf = _leaf_maker(rng, otbl, orc_cols, ops_extra=False)
        otrees = [_rand_tree(rng, oleaf) for _ in range(6)] + nan_probes
        opy = otbl.to_pylist()
        for writer in ("native", "apache"):
            buf = io.BytesIO()
            if writer == "native":
                write_orc(otbl, buf, compression="zstd", rle="v2",
                          stripe_rows=int(rng.integers(200, 1500)),
                          row_index_stride=int(rng.integers(50, 400)),
                          bloom_columns=["rid", "i32", "s"])
            else:
                po.write_table(otbl, buf, compression="zlib", stripe_size=16 * 1024,
                               row_index_stride=int(rng.integers(1000, 3000)),
                               bloom_filter_columns=[0, 1, 5])
            for t in otrees:
                got = set(read_orc(buf.getvalue(), predicate=t).column("rid").to_pylist())
                missing = set(_true_rows(t, opy)) - got
                assert not missing, (seed, trial, writer, t, sorted(missing)[:5])

    _synthetic_stats_fuzz(rng, 15)


# ------------------------------------------- chunk-stats parse on lookups


_NAME_BITS = ["a", "k", "z9", " ", ",", ":", "{", "]", "@", "@bloom", "x@bloom",
              '"', "\\", "é", "日本"]


def _restricted(stats: dict, cols: set) -> dict:
    return {k: v for k, v in stats.items()
            if k in cols or (k.endswith("@bloom") and k[:-6] in cols)}


def test_chunk_stats_parse_matches_json_loads():
    """``_load_chunk_stats`` cuts the ``<col>@bloom`` bitsets of columns
    outside the predicate out of the JSON before parsing. Over fuzzed
    column names (quotes, backslashes, non-ASCII, a trailing
    ``@bloom``, JSON punctuation) it agrees with ``json.loads`` on every
    key it keeps and on every key the predicate's columns read, and on
    text without escapes it really drops the other bitsets."""
    import base64
    import json

    rng = np.random.default_rng(17)
    for trial in range(400):
        bits = _NAME_BITS if trial % 2 else _NAME_BITS[:11]  # odd: escapes
        names = {"".join(rng.choice(bits, int(rng.integers(1, 4))))
                 for _ in range(int(rng.integers(1, 7)))}
        names = sorted(names | {f"{nm}@bloom" for nm in names if rng.random() < 0.3})
        stats = []
        for _ in range(int(rng.integers(1, 5))):
            d = {}
            for nm in names:
                r = rng.random()
                if r < 0.5:
                    d[nm] = sorted(rng.integers(-50, 50, 2).tolist())
                elif r < 0.7:
                    d[nm] = [None, None]
                elif r < 0.85:
                    d[nm] = {"t": "elem", "lo": 1, "hi": 2}
                if rng.random() < 0.6:
                    raw = rng.integers(0, 256, int(rng.integers(0, 40)), dtype=np.uint8)
                    d[f"{nm}@bloom"] = base64.b64encode(raw.tobytes()).decode()
            stats.append(d)
        text = json.dumps(stats, sort_keys=True, separators=(",", ":")).encode()
        blob = b"\x01head" + text + b"body"
        cols = {nm for nm in names if rng.random() < 0.4} | {"absent"}
        got = container._load_chunk_stats(blob, 5, 5 + len(text), cols)
        full = json.loads(text)
        assert len(got) == len(full), trial
        for g, f in zip(got, full):
            assert all(k in f and f[k] == v for k, v in g.items()), trial
            assert _restricted(g, cols) == _restricted(f, cols), trial
            if b"\\" not in text:
                assert not [k for k, v in g.items() if isinstance(v, str)
                            and k.endswith("@bloom") and k[:-6] not in cols
                            and k not in cols], trial


def test_lookup_on_escaped_column_names():
    """End to end: bloomed columns whose names need JSON escaping, and a
    column whose name ends in @bloom, prune and filter exactly."""
    rng = np.random.default_rng(8)
    n = 1_000
    names = ['q"uote', "back\\slash", "é日", "plain", "x@bloom"]
    t = pa.table({nm: pa.array(rng.permutation(n).astype(np.int64)) for nm in names})
    blob, _ = encode_table(t, stride=100, bloom_columns=names)
    for nm in names:
        v = int(t.column(nm)[int(rng.integers(0, n))].as_py())
        want = t.filter(pa.compute.equal(t.column(nm), v))
        for pred in [(nm, "==", v), (nm, "in", [v, n + 5]),
                     ("or", [(nm, "==", v), ("plain", "==", -1)])]:
            assert decode_table(blob, predicate=pred).equals(want), pred


def test_bloom_key_collision_raises():
    """A column named ``<x>@bloom`` next to a column ``x`` would share
    the chunk-stats key of ``x``'s Bloom bitset, and a predicated decode
    on ``x`` would then read the other column's bounds as a bitset. The
    encode refuses such a table by name, bloomed or not."""
    t = pa.table({"plain": pa.array(range(1_000)),
                  "plain@bloom": pa.array(range(1_000))})
    for bloom in (["plain"], ["plain", "plain@bloom"], None):
        with pytest.raises(ValueError, match="'plain@bloom' collides"):
            encode_table(t, stride=100, bloom_columns=bloom)
