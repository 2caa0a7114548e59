"""Property-based roundtrip tests (SURVEY.md §5.2.2): decode(encode(x))
must equal x exactly for every codec, over adversarial generated inputs —
constants, ramps, alternation, boundary magnitudes, empty arrays."""

import numpy as np
from hypothesis import given, settings, strategies as st

from orc_format_spark.codecs import dictionary, fsst, rle_v1, rle_v2
from orc_format_spark.codecs.bitpack import decode_for_bitpack, encode_for_bitpack
from orc_format_spark.codecs.varint import (
    decode_varints,
    encode_varints,
    zigzag_decode,
    zigzag_encode,
)

I64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)
SMALL = st.integers(min_value=-300, max_value=300)


def int_arrays():
    """int64 arrays biased toward RLE-relevant shapes."""
    random = st.lists(I64, max_size=400)
    small = st.lists(SMALL, max_size=400)
    run = st.builds(
        lambda v, n: [v] * n, SMALL, st.integers(min_value=0, max_value=400)
    )
    ramp = st.builds(
        lambda base, delta, n: [base + delta * i for i in range(n)],
        SMALL,
        st.integers(min_value=-128, max_value=127),
        st.integers(min_value=0, max_value=300),
    )
    pair = st.builds(lambda a, b: a + b, run, ramp)
    return st.one_of(random, small, run, ramp, pair).map(
        lambda xs: np.array(xs, np.int64)
    )


@settings(max_examples=60, deadline=None)
@given(int_arrays())
def test_rle_v1_roundtrip(v):
    out = rle_v1.encode_int_rle_v1(v, signed=True)
    assert np.array_equal(rle_v1.decode_int_rle_v1(out, signed=True), v)


@settings(max_examples=60, deadline=None)
@given(int_arrays())
def test_rle_v2_roundtrip(v):
    out = rle_v2.encode_int_rle_v2(v, signed=True)
    assert np.array_equal(rle_v2.decode_int_rle_v2(out, signed=True), v)


@settings(max_examples=60, deadline=None)
@given(int_arrays())
def test_for_bitpack_roundtrip(v):
    out = encode_for_bitpack(v, signed=True)
    assert np.array_equal(decode_for_bitpack(out, signed=True), v)


@settings(max_examples=60, deadline=None)
@given(int_arrays())
def test_dict_int_roundtrip(v):
    out = dictionary.encode_dict_int(v, signed=True)
    assert np.array_equal(dictionary.decode_dict_int(out, signed=True), v)


@settings(max_examples=60, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=200))
def test_varint_roundtrip(xs):
    u = np.array(xs, np.uint64)
    b, off = encode_varints(u)
    got, consumed = decode_varints(b, count=len(xs))
    assert consumed == len(b)
    assert np.array_equal(got, u)


@settings(max_examples=60, deadline=None)
@given(st.lists(I64, max_size=200))
def test_zigzag_roundtrip(xs):
    v = np.array(xs, np.int64)
    assert np.array_equal(zigzag_decode(zigzag_encode(v)), v)


@settings(max_examples=60, deadline=None)
@given(st.binary(max_size=1000))
def test_byte_rle_roundtrip(b):
    v = np.frombuffer(b, np.uint8)
    out = rle_v1.encode_byte_rle(v)
    assert np.array_equal(rle_v1.decode_byte_rle(out), v)


@settings(max_examples=60, deadline=None)
@given(st.lists(st.booleans(), max_size=1000))
def test_boolean_rle_roundtrip(bits):
    m = np.array(bits, bool)
    out = rle_v1.encode_boolean_rle(m)
    assert np.array_equal(rle_v1.decode_boolean_rle(out, m.size), m)


@settings(max_examples=40, deadline=None)
@given(st.binary(max_size=4000))
def test_fsst_roundtrip(b):
    d = np.frombuffer(b, np.uint8)
    out = fsst.fsst_encode(d)
    assert np.array_equal(fsst.fsst_decode(out), d)


@settings(max_examples=40, deadline=None)
@given(st.lists(st.binary(max_size=40), max_size=120))
def test_dict_bytes_roundtrip(chunks):
    data = np.frombuffer(b"".join(chunks), np.uint8)
    off = np.zeros(len(chunks) + 1, np.int64)
    np.cumsum([len(c) for c in chunks], out=off[1:])
    out = dictionary.encode_dict_bytes(data, off)
    d2, o2 = dictionary.decode_dict_bytes(out)
    assert np.array_equal(d2, data)
    assert np.array_equal(o2, off)


# ---------------------------------------------------- container end-to-end

import pyarrow as _pa

_ELEMENTS = {
    "i64": st.one_of(st.none(), I64),
    "i32": st.one_of(st.none(), st.integers(min_value=-(2**31), max_value=2**31 - 1)),
    "f64": st.one_of(st.none(), st.floats(allow_nan=False, allow_infinity=True)),
    "b": st.one_of(st.none(), st.booleans()),
    "s": st.one_of(st.none(), st.text(max_size=20)),
    "bin": st.one_of(st.none(), st.binary(max_size=20)),
    "lst": st.one_of(st.none(), st.lists(SMALL, max_size=8)),
    "ts": st.one_of(
        st.none(), st.integers(min_value=-(2**50), max_value=2**50)
    ),
    "date": st.one_of(st.none(), st.integers(min_value=-100000, max_value=100000)),
}
_TYPES = {
    "i64": _pa.int64(),
    "i32": _pa.int32(),
    "f64": _pa.float64(),
    "b": _pa.bool_(),
    "s": _pa.string(),
    "bin": _pa.binary(),
    "lst": _pa.list_(_pa.int32()),
    "ts": _pa.timestamp("us"),
    "date": _pa.date32(),
}


@settings(max_examples=40, deadline=None)
@given(st.data())
def test_container_roundtrip_fuzz(data):
    """encode_table/decode_table over random mixed-type tables with nulls
    must be lossless for every column class."""
    from orc_format_spark.codecs.container import decode_table, encode_table

    n = data.draw(st.integers(min_value=0, max_value=60))
    names = data.draw(
        st.lists(st.sampled_from(sorted(_ELEMENTS)), min_size=1, max_size=4, unique=True)
    )
    cols = {
        key: _pa.array(
            data.draw(st.lists(_ELEMENTS[key], min_size=n, max_size=n)), _TYPES[key]
        )
        for key in names
    }
    tbl = _pa.table(cols)
    blob, _ = encode_table(tbl, codec="auto", compression="zstd")
    dec = decode_table(blob)
    assert dec.schema == tbl.schema
    for c in tbl.column_names:
        assert dec.column(c).to_pylist() == tbl.column(c).to_pylist(), c


@settings(max_examples=60, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=400))
def test_rle_v1_unsigned_roundtrip(xs):
    v = np.array(xs, np.uint64)
    out = rle_v1.encode_int_rle_v1(v, signed=False)
    assert np.array_equal(rle_v1.decode_int_rle_v1(out, signed=False), v)


@settings(max_examples=60, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=400))
def test_rle_v2_unsigned_roundtrip(xs):
    v = np.array(xs, np.uint64)
    out = rle_v2.encode_int_rle_v2(v, signed=False)
    assert np.array_equal(rle_v2.decode_int_rle_v2(out, signed=False), v)


# ---------------------------------------------------- chunked container v2


def _rand_table(rng, n):
    import pyarrow as pa

    cols = {
        "i32": pa.array(rng.integers(-1000, 1000, n).astype(np.int32)),
        "i64": pa.array(
            rng.choice([0, 1, -1, 2**40, -(2**40)], n).astype(np.int64)
        ),
        "f": pa.array(rng.normal(size=n).astype(np.float32)),
        "s": pa.array(
            [None if rng.random() < 0.1 else f"v{int(x) % 17}" for x in rng.integers(0, 100, n)]
        ),
        "b": pa.array(rng.integers(0, 2, n).astype(bool)),
        "lst": pa.array(
            [
                None if rng.random() < 0.05 else list(range(int(k) % 6))
                for k in rng.integers(0, 100, n)
            ],
            pa.list_(pa.int32()),
        ),
    }
    return pa.table(cols)


def test_chunked_container_fuzz():
    """decode(encode(x, stride)) == x and every row slice of a chunked
    blob equals the table slice, across random tables/strides."""
    from orc_format_spark.codecs.container import decode_table, encode_table

    rng = np.random.default_rng(11)
    for _ in range(12):
        n = int(rng.integers(1, 4000))
        stride = int(rng.integers(1, 1500))
        tbl = _rand_table(rng, n)
        blob, _ = encode_table(tbl, stride=stride)
        assert decode_table(blob).equals(tbl)
        for _ in range(4):
            a = int(rng.integers(0, n + 1))
            b = int(rng.integers(a, n + 1))
            assert decode_table(blob, rows=(a, b)).equals(tbl.slice(a, b - a))


def test_chunked_vs_unchunked_lineage_totals():
    from orc_format_spark.codecs.container import encode_table

    rng = np.random.default_rng(12)
    tbl = _rand_table(rng, 3000)
    _, lin1 = encode_table(tbl)
    _, lin2 = encode_table(tbl, stride=700)
    t1 = {l["column"]: (l["n_rows"], l["n_present"]) for l in lin1}
    t2 = {l["column"]: (l["n_rows"], l["n_present"]) for l in lin2}
    assert t1 == t2


FLOATS = st.floats(
    allow_nan=True, allow_infinity=True, allow_subnormal=True, width=64
)


@settings(max_examples=60, deadline=None)
@given(st.lists(FLOATS, max_size=400))
def test_float_split_roundtrip(xs):
    from orc_format_spark.codecs import raw

    v = np.array(xs, "<f8")
    back = raw.decode_float_split(raw.encode_float_split(v, True), True)
    assert back.tobytes() == v.tobytes()  # bit-exact incl NaN payloads
    v32 = v.astype("<f4")
    back32 = raw.decode_float_split(raw.encode_float_split(v32, False), False)
    assert back32.astype("<f4").tobytes() == v32.tobytes()


@settings(max_examples=60, deadline=None)
@given(st.lists(FLOATS, max_size=400))
def test_dict_float_roundtrip(xs):
    from orc_format_spark.codecs.selector import _encode_float

    v = np.array(xs, "<f8")
    blob = _encode_float("dict_float", v, True)
    bits = dictionary.decode_dict_int(blob, True)
    assert bits.view(np.float64).tobytes() == v.tobytes()
    v32 = v.astype("<f4")
    blob32 = _encode_float("dict_float", v32, False)
    bits32 = dictionary.decode_dict_int(blob32, True)
    assert bits32.astype(np.int32).view(np.float32).tobytes() == v32.tobytes()


@settings(max_examples=60, deadline=None)
@given(st.lists(FLOATS, max_size=400))
def test_alp_roundtrip_property(xs):
    from orc_format_spark.codecs.alp import decode_alp, encode_alp

    v = np.array(xs, "<f8")
    assert decode_alp(encode_alp(v, True), True).tobytes() == v.tobytes()
    with np.errstate(over="ignore"):
        v32 = v.astype("<f4")
    back32 = decode_alp(encode_alp(v32, False), False)
    assert back32.astype("<f4").tobytes() == v32.tobytes()
