"""Roundtrip + property tests for RLEv2, FoR/bitpack, dictionary, FSST,
timestamp compaction, and the blob container (SURVEY.md section 5.2)."""

import numpy as np
import pyarrow as pa
import pytest

from orc_format_spark.codecs.bitpack import (
    bitpack,
    bitunpack,
    decode_for_bitpack,
    encode_for_bitpack,
)
from orc_format_spark.codecs.container import (
    decode_table,
    encode_table,
    table_checksum,
)
from orc_format_spark.codecs.dictionary import (
    decode_dict_bytes,
    decode_dict_int,
    encode_dict_bytes,
    encode_dict_int,
)
from orc_format_spark.codecs.fsst import fsst_decode, fsst_encode
from orc_format_spark.codecs.rle_v2 import decode_int_rle_v2, encode_int_rle_v2
from orc_format_spark.codecs.selector import (
    select_and_encode_float,
    select_and_encode_int,
    select_and_encode_str,
)
from orc_format_spark.codecs.timestamp import (
    compact_nanos,
    decode_timestamp_us,
    encode_timestamp_us,
    expand_nanos,
)

RNG = np.random.default_rng(7)


def _int_cases(signed=True):
    lo, hi = (-(2**31), 2**31) if signed else (0, 2**32)
    dt = np.int64 if signed else np.uint64
    yield np.array([], dt)
    yield np.array([42], dt)
    yield np.array([7] * 5, dt)  # short repeat
    yield np.array([7] * 600, dt)  # long fixed-delta run
    yield np.arange(0, 100000, 7, dtype=dt)  # monotonic
    yield np.arange(100000, 0, -3, dtype=dt)[:5000]  # decreasing
    yield RNG.integers(lo, hi, 10000).astype(dt)  # direct
    # patched-base shape: mostly small with a few huge outliers
    base = RNG.integers(0, 1 << 10, 2000).astype(dt)
    out_idx = RNG.choice(2000, 10, replace=False)
    base[out_idx] = RNG.integers(1 << 40, 1 << 44, 10).astype(dt)
    yield base
    yield RNG.zipf(1.5, 5000).astype(dt)
    if signed:
        yield np.array([2**62, -(2**62), 2**63 - 1, -(2**63), 0, 1, -1], np.int64)
    else:
        yield np.array([2**64 - 1, 0, 2**63, 1], np.uint64)


@pytest.mark.parametrize("signed", [True, False])
def test_rle_v2_roundtrip(signed):
    for case in _int_cases(signed):
        enc = encode_int_rle_v2(case, signed)
        dec = decode_int_rle_v2(enc, signed)
        assert np.array_equal(dec, case.astype(dec.dtype)), f"len={len(case)}"


def test_rle_v2_compresses_runs_and_ramps():
    run = np.full(10000, 123, np.int64)
    assert len(encode_int_rle_v2(run, True)) < 200
    ramp = np.arange(10000, dtype=np.int64)
    assert len(encode_int_rle_v2(ramp, True)) < 400


@pytest.mark.parametrize("width", [0, 1, 3, 7, 8, 13, 24, 33, 63, 64])
def test_bitpack_roundtrip(width):
    n = 1000
    if width == 64:
        v = RNG.integers(0, 2**63, n).astype(np.uint64) * 2 + 1
    else:
        v = RNG.integers(0, 2**width if width else 1, n).astype(np.uint64)
    packed = bitpack(v, width)
    assert len(packed) == (n * width + 7) // 8
    assert np.array_equal(bitunpack(packed, width, n), v)


@pytest.mark.parametrize("signed", [True, False])
def test_for_bitpack_roundtrip(signed):
    for case in _int_cases(signed):
        if signed and case.size and (case.max() > 2**62 or case.min() < -(2**62)):
            continue  # FoR range must fit u64; selector guards this
        enc = encode_for_bitpack(case, signed)
        dec = decode_for_bitpack(enc, signed)
        assert np.array_equal(dec, case.astype(dec.dtype))


def test_dict_int_roundtrip():
    v = RNG.integers(0, 50, 20000).astype(np.int64) * 1000 - 25000
    enc = encode_dict_int(v, True)
    assert np.array_equal(decode_dict_int(enc, True), v)
    assert len(enc) < v.nbytes / 5


def _flat(strings):
    data = np.frombuffer(b"".join(strings), np.uint8)
    off = np.zeros(len(strings) + 1, np.int64)
    np.cumsum([len(s) for s in strings], out=off[1:])
    return data, off


def test_dict_bytes_roundtrip():
    words = [b"alpha", b"beta", b"gamma", b"", b"delta-delta"]
    strings = [words[i] for i in RNG.integers(0, 5, 5000)]
    data, off = _flat(strings)
    enc = encode_dict_bytes(data, off)
    ddata, doff = decode_dict_bytes(enc)
    assert np.array_equal(doff, off)
    assert np.array_equal(ddata, data)
    assert len(enc) < data.nbytes / 3


def test_fsst_roundtrip_text():
    text = (
        b"the quick brown fox jumps over the lazy dog; "
        b"pack my box with five dozen liquor jugs. " * 500
    )
    data = np.frombuffer(text, np.uint8)
    enc = fsst_encode(data)
    assert np.array_equal(fsst_decode(enc), data)
    assert len(enc) < len(text) / 2  # real compression on repetitive text


def test_fsst_roundtrip_binary_with_ff():
    data = RNG.integers(0, 256, 5000).astype(np.uint8)
    data[100:200] = 255  # escape storms
    enc = fsst_encode(data)
    assert np.array_equal(fsst_decode(enc), data)


def test_fsst_empty():
    enc = fsst_encode(np.empty(0, np.uint8))
    assert fsst_decode(enc).size == 0


def test_compact_nanos_golden():
    nanos = np.array([0, 1, 100, 1000, 100000000, 999999999, 123456700], np.int64)
    enc = compact_nanos(nanos)
    #  z<2 -> nanos<<3 ; z>=2 -> (nanos/10^z)<<3 | (z-1)  (timestamp.rs:107-133)
    assert enc[0] == 0
    assert enc[1] == 1 << 3
    assert enc[2] == (1 << 3) | 1  # 100 = 1e2 -> val 1, tz 1
    assert enc[3] == (1 << 3) | 2  # 1000 -> val 1, tz 2
    assert enc[4] == (1 << 3) | 7  # 1e8 -> val 1, tz 7
    assert enc[5] == 999999999 << 3
    assert enc[6] == (1234567 << 3) | 1
    assert np.array_equal(expand_nanos(enc), nanos)


def test_timestamp_roundtrip():
    ts = RNG.integers(-2**40, 2**43, 10000).astype(np.int64)  # us, ~1938-2248
    ts = np.append(ts, [0, 1420070400_000000, -1])
    enc = encode_timestamp_us(ts)
    assert np.array_equal(decode_timestamp_us(enc), ts)


def test_selector_picks_sensible_codecs():
    run_heavy = np.repeat(np.arange(50, dtype=np.int64), 200)
    c, est, _ = select_and_encode_int(run_heavy)
    assert c in ("rle_v1", "rle_v2", "dict_int")
    small_range = RNG.integers(1000, 1032, 10000).astype(np.int64)
    c2, est2, _ = select_and_encode_int(small_range)
    assert est2[c2] <= min(est2.values())
    strings = [b"GET", b"PUT", b"POST"] * 2000
    data, off = _flat(strings)
    c3, _, _ = select_and_encode_str(data, off)
    assert c3 == "dict_str"


# ------------------------------------------------------------- container


def _sample_table(n=3000):
    rng = np.random.default_rng(11)
    ints = rng.integers(-(2**40), 2**40, n)
    ints32 = rng.integers(0, 100, n).astype(np.int32)
    flags = rng.integers(0, 2, n).astype(bool)
    floats = rng.normal(size=n).astype(np.float32)
    doubles = rng.normal(size=n) * 1e6
    words = np.array(["alpha", "beta", "gamma", "delta"], object)
    strs = words[rng.integers(0, 4, n)]
    ts = rng.integers(0, 2**44, n).view("datetime64[us]")
    lists = pa.array(
        [rng.integers(0, 1000, rng.integers(0, 20)).astype(np.int32) for _ in range(n)],
        pa.list_(pa.int32()),
    )
    dec = pa.array([round(float(x), 2) for x in rng.normal(size=n) * 1000]).cast(
        pa.decimal128(12, 2)
    )
    cols = {
        "k": pa.array(ints),
        "small": pa.array(ints32),
        "flag": pa.array(flags),
        "f": pa.array(floats),
        "d": pa.array(doubles),
        "s": pa.array(strs),
        "ts": pa.array(ts),
        "toks": lists,
        "dec": dec,
    }
    return pa.table(cols)


@pytest.mark.parametrize("compression", ["none", "zstd", "snappy", "zlib", "lz4"])
@pytest.mark.parametrize("codec", ["auto", "rle_v1", "rle_v2"])
def test_container_roundtrip(codec, compression):
    tbl = _sample_table(1200)
    blob, lineage = encode_table(tbl, codec=codec, compression=compression)
    back = decode_table(blob)
    assert back.schema.names == tbl.schema.names
    for name in tbl.column_names:
        a, b = tbl.column(name).combine_chunks(), back.column(name).combine_chunks()
        assert a.cast(b.type).equals(b), name
    assert table_checksum(tbl) == table_checksum(back)
    assert {l["column"] for l in lineage} >= set(tbl.column_names)


def test_container_roundtrip_with_nulls():
    n = 2000
    rng = np.random.default_rng(3)
    mask = rng.integers(0, 4, n) == 0
    ints = pa.array(
        [None if m else int(x) for m, x in zip(mask, rng.integers(0, 10**6, n))]
    )
    strs = pa.array(
        [None if m else s for m, s in zip(mask[::-1], ["ab", "cdef", "ghi", ""] * 500)]
    )
    lists = pa.array(
        [None if i % 7 == 0 else list(range(i % 5)) for i in range(n)],
        pa.list_(pa.int32()),
    )
    tbl = pa.table({"i": ints, "s": strs, "l": lists})
    blob, _ = encode_table(tbl)
    back = decode_table(blob)
    for name in tbl.column_names:
        assert tbl.column(name).combine_chunks().cast(
            back.column(name).type
        ).equals(back.column(name).combine_chunks()), name


def _checksum_table(n=64):
    """One column per ``_canonical_buffers`` branch, each with and
    without nulls (unions have no validity)."""
    import decimal

    rng = np.random.default_rng(16)
    ints = rng.integers(-1000, 1000, n)
    nulls = [i % 5 == 1 for i in range(n)]

    def arr(values, typ, with_nulls):
        return pa.array([None if with_nulls and m else v for v, m in zip(values, nulls)], typ)

    words = [f"w{i % 7}é" * (i % 4) for i in range(n)]
    cols = {}
    for tag, nz in (("", False), ("_n", True)):
        cols["i8" + tag] = arr([int(x) % 100 for x in ints], pa.int8(), nz)
        cols["i64" + tag] = arr([int(x) * 10**9 for x in ints], pa.int64(), nz)
        cols["u32" + tag] = arr([int(x) + 1000 for x in ints], pa.uint32(), nz)
        cols["date" + tag] = arr([int(x) for x in ints], pa.date32(), nz)
        cols["f32" + tag] = arr([float(x) / 8 for x in ints], pa.float32(), nz)
        cols["f64" + tag] = arr([float(x) / 3 for x in ints], pa.float64(), nz)
        cols["bool" + tag] = arr([bool(x % 3) for x in ints], pa.bool_(), nz)
        cols["ts_ms" + tag] = arr([int(x) * 86_400_123 for x in ints], pa.timestamp("ms"), nz)
        cols["ts_ns_tz" + tag] = arr([int(x) * 1_000_001_000 for x in ints], pa.timestamp("ns", "UTC"), nz)
        cols["str" + tag] = arr(words, pa.string(), nz)
        cols["lstr" + tag] = arr(words, pa.large_string(), nz)
        cols["bin" + tag] = arr([w.encode() + b"\xff" for w in words], pa.binary(), nz)
        cols["lbin" + tag] = arr([w.encode() for w in words], pa.large_binary(), nz)
        cols["list" + tag] = arr([list(range(int(x) % 4)) for x in ints], pa.list_(pa.int32()), nz)
        cols["llist" + tag] = arr([[w] * (int(x) % 3) for w, x in zip(words, ints)], pa.large_list(pa.string()), nz)
        cols["struct" + tag] = arr(
            [{"a": int(x), "b": w, "c": [float(x)]} for x, w in zip(ints, words)],
            pa.struct([("a", pa.int64()), ("b", pa.string()), ("c", pa.list_(pa.float64()))]), nz)
        cols["map" + tag] = arr([[(w, int(x)), ("k", None)][: int(x) % 3] for w, x in zip(words, ints)],
                                pa.map_(pa.string(), pa.int64()), nz)
        cols["dec" + tag] = arr([decimal.Decimal(int(x)) / 100 for x in ints], pa.decimal128(12, 2), nz)
    tc = pa.array([i % 3 for i in range(n)], pa.int8())
    kids = [arr(ints.tolist(), pa.int64(), True), arr(words, pa.string(), True),
            pa.array(ints / 7, pa.float64())]
    cols["dense_union"] = pa.UnionArray.from_dense(
        tc, pa.array([i // 3 for i in range(n)], pa.int32()), kids)
    cols["sparse_union"] = pa.UnionArray.from_sparse(tc, kids)
    return pa.table(cols)


def test_table_checksum_digests_pinned():
    """``table_checksum`` hashes buffer views, not copies, and feeds a
    null-free column's validity from a shared block of 0x01 bytes. The
    digests must stay those of the copying version: every
    ``_canonical_buffers`` branch with and without nulls, unions with
    null children, a sliced and a re-chunked table, an empty one, and
    columns longer than the shared validity block."""
    t = _checksum_table()
    assert t.num_columns == 38
    full = "ff6a91ab9a2dadc245d31739c2749a2705e2c6c2fc5d93ec78c0dfad7e184ea9"
    assert table_checksum(t) == full
    assert table_checksum(pa.concat_tables([t.slice(0, 20), t.slice(20)])) == full
    assert table_checksum(t.slice(5, 41)) == (
        "f5bb4d1afb1eefaf156c895cc018e4cdf52ff7061338b5e5b5f804890c498768")
    assert table_checksum(t.slice(0, 0)) == (
        "79809c7e4e94dba7fb8d8c0b47ff823d418a751694db9974819e45bb09d87f9d")
    n = 150_000
    long = pa.table({"v": pa.array(np.arange(n, dtype=np.int32) % 977),
                     "s": pa.array([str(i % 311) for i in range(n)])})
    assert table_checksum(long) == (
        "ceadd95fdcf74b87319e70444b46950184e7c7249aa1e10dfb1df79f32318819")
    assert table_checksum(long.slice(65_536, 65_536)) == (
        "dd84e0d2e0c87a0d4ebc54e2c5c65ce7205c6cedbbb285cbf4dc6c371ada1dd1")


def test_container_compression_beats_raw_on_compressible():
    n = 50000
    tbl = pa.table({"v": pa.array(np.arange(n, dtype=np.int64) // 13)})
    blob, lineage = encode_table(tbl, codec="auto", compression="zstd")
    assert len(blob) < n * 8 / 50


def test_struct_map_roundtrip():
    """W9/W11 parity: struct (PRESENT only + recursive children,
    struct_.rs:26-28) and map (LENGTH + key/value children, map.rs:61-83)
    columns survive the blob container bit-identically."""
    import pyarrow as pa

    from orc_format_spark.codecs.container import (
        decode_table,
        encode_table,
        table_checksum,
    )

    struct_arr = pa.array(
        [
            {"a": 1, "b": "x", "c": [1, 2]},
            None,
            {"a": None, "b": "yy", "c": []},
            {"a": 3, "b": None, "c": [7]},
        ]
        * 50,
        pa.struct(
            [("a", pa.int64()), ("b", pa.string()), ("c", pa.list_(pa.int32()))]
        ),
    )
    map_arr = pa.array(
        [[("k1", 1), ("k2", 2)], None, [], [("k3", None)]] * 50,
        pa.map_(pa.string(), pa.int64()),
    )
    tbl = pa.table(
        {"id": pa.array(range(200), pa.int64()), "s": struct_arr, "m": map_arr}
    )
    blob, lineage = encode_table(tbl, codec="auto", compression="zstd")
    dec = decode_table(blob)
    assert dec.schema == tbl.schema
    for c in tbl.column_names:
        assert dec.column(c).to_pylist() == tbl.column(c).to_pylist()
    assert table_checksum(dec) == table_checksum(tbl)
    codecs = {l["column"]: l["codec"] for l in lineage}
    assert codecs["s"] == "struct" and codecs["m"] == "map"


def test_auto_beats_reference_mode():
    """North-rule size gate: auto codec selection must compress at least
    as well as 'reference mode' — the reference writer's fixed encodings
    (SignedIntRLEv1 ints per long.rs:24-27, raw strings per
    string.rs:24-28, zstd level 3 / 256 KiB blocks per zstd.rs:15-19) —
    on the same partitions."""
    import glob

    import pyarrow.parquet as pq

    from orc_format_spark.codecs.container import decode_table, encode_table

    for table in ("documents", "lineitem", "orders"):
        f = glob.glob(f"/root/testdata/sf0.001/{table}.parquet")[0]
        tbl = pq.read_table(f)
        auto_blob, _ = encode_table(tbl, codec="auto", compression="zstd")
        ref_blob, ref_lin = encode_table(tbl, codec="reference", compression="zstd")
        assert {l["codec"] for l in ref_lin if l["codec"] not in ("list", "struct", "map")} <= {
            "rle_v1", "raw_str", "bool_rle", "raw_float", "raw_double", "timestamp"
        }
        assert len(auto_blob) <= len(ref_blob), (table, len(auto_blob), len(ref_blob))
        # both modes stay lossless
        for blob in (auto_blob, ref_blob):
            dec = decode_table(blob)
            for c in tbl.column_names:
                assert dec.column(c).to_pylist() == tbl.column(c).to_pylist()


def test_decimal128_high_precision_roundtrip():
    """E8 parity: i128 zigzag varints (reference varint.rs:60-108) for
    decimal precision > 18, including negatives, nulls, and values beyond
    int64 range."""
    from decimal import Decimal

    import pyarrow as pa

    from orc_format_spark.codecs.container import decode_table, encode_table

    vals = [
        Decimal("12345678901234567890123456.789"),
        Decimal("-99999999999999999999999999.999"),
        None,
        Decimal("0.001"),
        Decimal("-0.001"),
        Decimal("17014118346046923173168730371588.410"),  # > int64 range
    ] * 20
    tbl = pa.table({"d": pa.array(vals, pa.decimal128(38, 3))})
    blob, lineage = encode_table(tbl, codec="auto", compression="zstd")
    assert lineage[0]["codec"] == "varint128"
    dec = decode_table(blob)
    assert dec.column("d").to_pylist() == vals


def test_decode_table_column_projection():
    """Reader-side projection: decode only requested columns, skipping
    (not decompressing) the rest — including nested children."""
    import glob

    import pyarrow.parquet as pq

    from orc_format_spark.codecs.container import decode_table, encode_table

    tbl = pq.read_table(glob.glob("/root/testdata/sf0.001/lineitem.parquet")[0])
    blob, _ = encode_table(tbl, codec="auto", compression="zstd")
    proj = decode_table(blob, columns=["l_orderkey", "l_returnflag"])
    assert proj.column_names == ["l_orderkey", "l_returnflag"]
    assert proj.column("l_orderkey").to_pylist() == tbl.column("l_orderkey").to_pylist()
    assert proj.column("l_returnflag").to_pylist() == tbl.column("l_returnflag").to_pylist()
    # projection must also skip nested (list) columns correctly
    import pyarrow as pa

    t2 = pa.table(
        {
            "a": pa.array([1, 2], pa.int64()),
            "lst": pa.array([[1, 2], [3]], pa.list_(pa.int32())),
            "b": pa.array(["x", "y"], pa.string()),
        }
    )
    b2, _ = encode_table(t2, codec="auto", compression="zstd")
    p2 = decode_table(b2, columns=["b"])
    assert p2.column_names == ["b"]
    assert p2.column("b").to_pylist() == ["x", "y"]


def test_union_roundtrip():
    """W12 parity: dense union = ByteRLE tag stream + per-variant child
    columns in arrival order (union.rs:25-28, 59-89)."""
    import numpy as np
    import pyarrow as pa

    from orc_format_spark.codecs.container import (
        decode_table,
        encode_table,
        table_checksum,
    )

    tags = pa.array(np.array([0, 1, 0, 2, 1, 0, 2, 0] * 30, np.int8), pa.int8())
    tc = np.asarray(tags)
    counts = [int((tc == v).sum()) for v in (0, 1, 2)]
    offs = np.zeros(len(tags), np.int32)
    for v in (0, 1, 2):
        pos = np.flatnonzero(tc == v)
        offs[pos] = np.arange(pos.size, dtype=np.int32)
    children = [
        pa.array(np.arange(counts[0], dtype=np.int64)),
        pa.array([f"s{i}" for i in range(counts[1])], pa.string()),
        pa.array(np.linspace(0, 1, counts[2]), pa.float64()),
    ]
    u = pa.UnionArray.from_dense(
        tags, pa.array(offs, pa.int32()), children,
        field_names=["i", "s", "f"], type_codes=[0, 1, 2],
    )
    tbl = pa.table({"id": pa.array(range(len(tags)), pa.int64()), "u": u})
    blob, lineage = encode_table(tbl, codec="auto", compression="zstd")
    dec = decode_table(blob)
    assert dec.schema == tbl.schema
    assert dec.column("u").to_pylist() == tbl.column("u").to_pylist()
    assert table_checksum(dec) == table_checksum(tbl)
    assert decode_table(blob, columns=["id"]).column_names == ["id"]


def test_per_column_codec_map():
    """codec may be a {column-path: codec} mapping (children keyed by
    their dotted path); unlisted columns auto-select."""
    import numpy as np
    import pyarrow as pa

    from orc_format_spark.codecs.container import decode_table, encode_table

    t = pa.table(
        {
            "doc_id": pa.array([f"d{i}" for i in range(500)]),
            "tokens": pa.array(
                [list(range(i % 40)) for i in range(500)], pa.list_(pa.int32())
            ),
            "n_tok": pa.array(np.arange(500, dtype=np.int32)),
        }
    )
    blob, lin = encode_table(
        t, codec={"tokens.item": "rle_v1", "n_tok": "for_bitpack"}
    )
    codecs = {l["column"]: l["codec"] for l in lin}
    assert codecs["tokens.item"] == "rle_v1"
    assert codecs["n_tok"] == "for_bitpack"
    assert decode_table(blob).equals(t)
    # composes with row-group chunking
    blob2, _ = encode_table(t, codec={"n_tok": "rle_v2"}, stride=150)
    assert decode_table(blob2, rows=(100, 400)).equals(t.slice(100, 300))


def test_sliced_dense_union_roundtrip():
    """Sliced dense unions must encode the sliced entries, not the head
    of the physical buffers (pyarrow accessors ignore the slice offset)."""
    import numpy as np
    import pyarrow as pa

    from orc_format_spark.codecs.container import decode_entries, encode_column

    tags = pa.array(np.array([0, 1, 0, 1, 0, 1, 0, 0], np.int8), pa.int8())
    offs = pa.array(np.array([0, 0, 1, 1, 2, 2, 3, 4], np.int32), pa.int32())
    u = pa.UnionArray.from_dense(
        tags,
        offs,
        [pa.array([10, 20, 30, 40, 50], pa.int64()), pa.array(["a", "b", "c"])],
        field_names=["i", "s"],
        type_codes=[0, 1],
    )
    for sl in (u, u.slice(2, 4), u.slice(3), u.slice(0, 0)):
        entries = encode_column("u", sl, "auto", "zstd")
        _, arr, _ = decode_entries(entries, 0)
        assert arr.to_pylist() == sl.to_pylist()


def test_wide_struct_and_long_names_roundtrip():
    """Type strings of wide structs and long dotted column paths exceed
    255 bytes; entry-header lengths are varints so they roundtrip."""
    import numpy as np
    import pyarrow as pa

    from orc_format_spark.codecs.container import decode_table, encode_table

    n = 50
    wide = pa.StructArray.from_arrays(
        [pa.array(np.arange(20, dtype=np.int64)) for _ in range(n)],
        names=[f"field_with_a_rather_long_name_{i:03d}" for i in range(n)],
    )
    t = pa.table({"a_quite_long_top_level_column_name_indeed": wide})
    blob, lin = encode_table(t)
    assert decode_table(blob).equals(t)
    assert len(lin) == n + 1  # parent + one per field


def _serialize_v1_legacy(entries) -> bytes:
    """Re-implementation of the pre-varint (version 1) blob writer:
    single-byte field-string lengths, no engine tag."""
    from orc_format_spark.codecs.varint import encode_varint_one

    parts = [b"OFS1", bytes((1,)), len(entries).to_bytes(2, "little")]
    payloads = []
    for e in entries:
        for s in (e.name, e.type, e.codec, e.comp):
            b = s.encode()
            assert len(b) < 256
            parts.append(bytes((len(b),)))
            parts.append(b)
        parts.append(bytes((1 if e.has_null else 0,)))
        parts.append(encode_varint_one(e.n_rows))
        parts.append(encode_varint_one(e.n_present))
        parts.append(bytes((len(e.streams),)))
        for kind, payload in e.streams:
            parts.append(bytes((kind,)))
            parts.append(encode_varint_one(len(payload)))
            payloads.append(payload)
    parts.extend(payloads)
    return b"".join(parts)


def test_legacy_v1_blob_still_readable():
    """Version-gated header parse: a pre-varint (v1) blob deserializes
    through the same reader as the current v3 writer's output."""
    from orc_format_spark.codecs.container import deserialize_blob

    tbl = pa.table(
        {
            "a": pa.array([1, 2, None, 4_000_000_000], pa.int64()),
            "s": pa.array(["x", None, "yy", "zzz"]),
        }
    )
    blob, _ = encode_table(tbl)
    v1 = _serialize_v1_legacy(deserialize_blob(blob))
    assert v1[4] == 1 and blob[4] == 3 and v1 != blob
    assert decode_table(v1).equals(decode_table(blob))


def test_blob_engine_version_tag():
    from orc_format_spark.codecs.container import (
        ENCODER_VERSION,
        blob_engine_version,
        deserialize_blob,
    )

    tbl = pa.table({"a": pa.array(range(25_000), pa.int32())})
    plain, _ = encode_table(tbl)
    chunked, _ = encode_table(tbl, stride=10_000)
    assert blob_engine_version(plain) == ENCODER_VERSION
    assert blob_engine_version(chunked) == ENCODER_VERSION
    legacy = _serialize_v1_legacy(deserialize_blob(plain))
    assert blob_engine_version(legacy) == "<pre-3.0>"


def test_pre_4_rle_v2_blob_refused_only_when_patched():
    """Engine 4.0 corrected ONLY the RLEv2 patched-base sub-encoding;
    short-repeat/direct/delta streams are byte-identical across
    versions. A pre-4.0 blob must refuse decode iff a patched run is
    actually present (header-only scan) — refusing every rle_v2 blob
    would make whole old datasets permanently undecodable, while
    decoding a patched one would return silently-wrong values."""
    import numpy as np

    from orc_format_spark.codecs.container import (
        ENCODER_VERSION,
        decode_table,
        deserialize_blob,
        encode_table,
    )
    from orc_format_spark.codecs.rle_v2 import rle_v2_has_patched

    assert ENCODER_VERSION == "4.0"
    old_tag = b"3.3"
    new_tag = ENCODER_VERSION.encode()
    assert len(old_tag) == len(new_tag)  # in-place tag swap stays valid

    # Delta-only stream: wire unchanged since pre-4.0, stays decodable.
    tbl = pa.table({"a": pa.array(range(4_096), pa.int64())})
    v2_blob, _ = encode_table(tbl, codec="rle_v2")
    assert decode_table(v2_blob).equals(tbl)
    stale = v2_blob.replace(new_tag, old_tag, 1)
    assert decode_table(stale).equals(tbl)

    # Outlier mix forces a patched-base run: the one wire that changed
    # in 4.0, so the stale tag must refuse loudly.
    rng = np.random.default_rng(7)
    vals = rng.integers(0, 100, 500).astype(np.int64)
    vals[123] = 10**15  # patch-width outlier
    ptbl = pa.table({"a": pa.array(vals)})
    p_blob, _ = encode_table(ptbl, codec="rle_v2")
    entries = deserialize_blob(p_blob)
    assert any(
        e.codec == "rle_v2"
        and any(rle_v2_has_patched(_decompressed_data(e)) for _ in [0])
        for e in entries
    ), "fixture must actually contain a patched run"
    assert decode_table(p_blob).equals(ptbl)
    p_stale = p_blob.replace(new_tag, old_tag, 1)
    with pytest.raises(ValueError, match="pre-4.0 rle_v2"):
        deserialize_blob(p_stale)
    with pytest.raises(ValueError, match="pre-4.0 rle_v2"):
        decode_table(p_stale)

    v1_blob, _ = encode_table(tbl, codec="rle_v1")
    stale_v1 = v1_blob.replace(new_tag, old_tag, 1)
    assert decode_table(stale_v1).equals(tbl)  # non-rle_v2: still fine


def _decompressed_data(entry):
    """DATA stream of a ColumnEntry, decompressed."""
    from orc_format_spark.codecs.container import DATA, decompress_stream

    for kind, s in entry.streams:
        if kind == DATA:
            return decompress_stream(s, entry.comp)
    raise AssertionError("no DATA stream")


# ------------------------------------------------------- float codecs


def test_float_split_golden_bytes():
    """Byte-stream split is a pure transpose: stream j holds byte j of
    every value, in order (the Parquet BYTE_STREAM_SPLIT layout)."""
    import numpy as np

    from orc_format_spark.codecs import raw

    v = np.array([1.0, 2.0], "<f8")
    got = raw.encode_float_split(v, double=True)
    le = v.tobytes()
    expect = bytes(le[j + 8 * k] for j in range(8) for k in range(2))
    assert got == expect
    assert raw.decode_float_split(got, double=True).tobytes() == le
    v32 = np.array([1.5, -2.5, 3.25], "<f4")
    g32 = raw.encode_float_split(v32, double=False)
    le32 = v32.tobytes()
    assert g32 == bytes(le32[j + 4 * k] for j in range(4) for k in range(3))


def test_float_codec_selection_measures_compressed():
    import numpy as np

    rng = np.random.default_rng(7)
    low_card = rng.choice([0.0, 0.05, 0.08, 0.1], 50_000)
    best, est, _ = select_and_encode_float(low_card, double=True)
    assert best == "dict_float" and est["dict_float"] < est["raw"]
    high_entropy = rng.random(50_000) * 1e5
    best2, est2, _ = select_and_encode_float(high_entropy, double=True)
    assert best2 in ("raw_double", "float_split")
    smooth = np.cumsum(rng.normal(0, 0.01, 50_000)) + 100.0
    best3, est3, _ = select_and_encode_float(smooth, double=True)
    assert best3 == "float_split"  # exponent/high-mantissa runs win


def test_float_codecs_roundtrip_bit_exact_through_container():
    import numpy as np
    import pyarrow as pa

    from orc_format_spark.codecs.container import decode_table, encode_table

    specials = [0.0, -0.0, float("nan"), float("inf"), float("-inf"), 5e-324]
    rng = np.random.default_rng(1)
    for codec in ("raw_double", "float_split", "dict_float"):
        vals = list(rng.choice(specials + [1.25, -7.5], 30_005))
        t = pa.table({"x": pa.array(vals, pa.float64())})
        blob, lin = encode_table(t, codec={"x": codec}, stride=10_000)
        assert lin[0]["codec"] == codec
        back = decode_table(blob)
        assert (
            back.column("x").to_numpy().tobytes()
            == t.column("x").to_numpy().tobytes()
        )
    # float32 through dict (sign-extension path)
    t32 = pa.table({"y": pa.array([1.5, -0.0, 2.5] * 1000, pa.float32())})
    blob, lin = encode_table(t32, codec={"y": "dict_float"})
    assert lin[0]["codec"] == "dict_float"
    back = decode_table(blob)
    assert (
        back.column("y").to_numpy().astype("<f4").tobytes()
        == t32.column("y").to_numpy().tobytes()
    )


def test_float_winners_pinned_where_a_rule_would_err():
    """Columns on which "ALP wins when it is exact and <= 4 B/value"
    picks the wrong codec: ALP encodes each exactly, yet another
    candidate compresses smaller under zstd. Any float rule that
    replaces trial encoding must keep these winners."""
    rng = np.random.default_rng(0)
    cases = {
        # 0.197 B/value as float_split, 1.703 as alp
        "progression": (np.round(np.arange(10_000) * 0.01, 2), "float_split"),
        "runs_of_100": (np.repeat(rng.integers(0, 10**6, 100).astype(np.float64), 100), "raw_double"),
        "small_int_runs": (np.repeat(rng.integers(0, 100, 500), 20).astype(np.float64), "float_split"),
        "period_7": (np.tile(np.round(rng.random(7) * 100, 2), 1429)[:10_000], "raw_double"),
    }
    from orc_format_spark.codecs.alp import encode_alp
    from orc_format_spark.codecs.varint import decode_varint_one

    for name, (v, want) in cases.items():
        enc = encode_alp(v)
        _, pos = decode_varint_one(enc, 2)
        assert decode_varint_one(enc, pos)[0] == 0, name  # no exceptions
        best, est, _ = select_and_encode_float(v, double=True)
        assert best == want, (name, est)
        assert est["alp"] <= 4.0, (name, est)


def test_alp_roundtrip_and_selection():
    """ALP (public SIGMOD'24 paper) reproduces decimal-like doubles
    bit-exactly via round(v*10^e*10^-f) digits + FoR, patches true
    reals as positional exceptions, and wins auto-selection on
    decimal columns where dict/split/raw all lose."""
    import numpy as np

    from orc_format_spark.codecs.alp import decode_alp, encode_alp

    rng = np.random.default_rng(7)
    price = np.round(rng.uniform(900, 105000, 50_000) / 100, 2)
    back = decode_alp(encode_alp(price))
    assert back.tobytes() == price.tobytes()
    best, est, _ = select_and_encode_float(price, double=True)
    assert best == "alp" and est["alp"] < est["raw"]
    # ~1% irrational exceptions still roundtrip and still win
    mixed = price.copy()
    mixed[::97] *= np.pi
    assert decode_alp(encode_alp(mixed)).tobytes() == mixed.tobytes()
    assert select_and_encode_float(mixed, double=True)[0] == "alp"
    # pure gaussians: every value is an exception-or-wide-digit; the
    # selector must NOT pick alp (measured bytes, not vibes)
    gauss = rng.standard_normal(50_000)
    assert select_and_encode_float(gauss, double=True)[0] != "alp"
    assert decode_alp(encode_alp(gauss)).tobytes() == gauss.tobytes()


def test_alp_through_container_bit_exact():
    import numpy as np
    import pyarrow as pa

    from orc_format_spark.codecs.container import decode_table, encode_table

    specials = [0.0, -0.0, float("nan"), float("inf"), float("-inf"), 5e-324]
    rng = np.random.default_rng(3)
    vals = [round(float(x), 2) for x in rng.normal(0, 50, 30_000)] + specials
    t = pa.table({"x": pa.array(vals, pa.float64())})
    blob, lin = encode_table(t, codec={"x": "alp"}, stride=10_000)
    assert lin[0]["codec"] == "alp"
    back = decode_table(blob)
    assert back.column("x").to_numpy().tobytes() == t.column("x").to_numpy().tobytes()
    # float32: exactness is checked in the f4 domain the reader returns
    t32 = pa.table({"y": pa.array([1.5, -2.25, 0.1, 3.0] * 2000, pa.float32())})
    blob32, lin32 = encode_table(t32, codec={"y": "alp"})
    assert lin32[0]["codec"] == "alp"
    back32 = decode_table(blob32)
    assert (
        back32.column("y").to_numpy().astype("<f4").tobytes()
        == t32.column("y").to_numpy().tobytes()
    )


def test_sq8_codes_ride_blob_encoder():
    """Byte-range codes (an 8-bit affine quantization of float32
    embeddings) stored as a plain list<int16> column ride the normal
    blob encoder, decode bit-exact, and land well under half the blob
    of the raw float32 embeddings through the same path (near-uniform
    random embeddings are incompressible, so the win is the
    one-byte-per-dimension representation itself)."""
    import pyarrow.parquet as pq

    from tests.conftest import SF_DIR

    src = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    ids = pa.array(src.column("vec_id").to_numpy(zero_copy_only=False), pa.int64())
    emb = np.stack([np.asarray(v, np.float32)
                    for v in src.column("embedding").to_pylist()])
    raw_tbl = pa.table({
        "vec_id": ids,
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
    })
    blob_raw, _ = encode_table(raw_tbl, codec="auto", compression="zstd")

    qv = np.floor(emb.astype(np.float64) * 1000.0).astype(np.int64)
    mn = qv.min(axis=0)
    span = np.maximum(qv.max(axis=0) - mn, 1)
    codes = (((qv - mn) * 255) // span).astype(np.int16)
    assert codes.min() >= 0 and codes.max() <= 255
    sq8_tbl = pa.table({
        "vec_id": ids,
        "codes": pa.array(list(codes), pa.list_(pa.int16())),
    })
    blob_sq8, _ = encode_table(sq8_tbl, codec="auto", compression="zstd")

    back = decode_table(blob_sq8)
    assert [list(map(int, r)) for r in back.column("codes").to_pylist()] \
        == codes.tolist()
    ratio = len(blob_sq8) / len(blob_raw)
    assert ratio < 0.45, (len(blob_sq8), len(blob_raw), ratio)


def test_sparse_union_encodes_as_dense():
    """Sparse unions (redundant child slots) encode as their dense
    equivalent: the blob stores the dense type string and per-variant
    arrival-order values; decode returns the dense union with identical
    logical content — including through slices, whose child arrays
    pyarrow slice-adjusts."""
    import numpy as np
    import pyarrow as pa

    from orc_format_spark.codecs.container import decode_table, encode_table

    rng = np.random.default_rng(5)
    n = 3000
    ints = pa.array(rng.integers(0, 1000, n), pa.int64())
    strs = pa.array([f"s{i}" for i in range(n)])
    tc = pa.array(rng.choice([5, 7], n).astype(np.int8), pa.int8())
    u = pa.UnionArray.from_sparse(tc, [ints, strs], field_names=["i", "s"], type_codes=[5, 7])
    for arr in (u, u.slice(17, 2500)):
        blob, lin = encode_table(pa.table({"u": arr}))
        back = decode_table(blob).column("u")
        assert pa.types.is_union(back.type) and back.type.mode == "dense"
        assert back.to_pylist() == arr.to_pylist()


def test_nested_parenthesized_types_roundtrip():
    """Type strings with commas inside () / [] — decimal128(10, 2) and
    timestamp[us, tz=UTC] as struct/map children — must re-parse: the
    top-level splitter tracks parens and square brackets, not just
    angle brackets, or blobs become encodable-but-undecodable."""
    import datetime as dt
    from decimal import Decimal

    tbl = pa.table({
        "x": pa.array(
            [{"a": Decimal("1.25"), "b": 2}] * 4,
            pa.struct([("a", pa.decimal128(10, 2)), ("b", pa.int32())]),
        ),
        "m": pa.array(
            [[("k", Decimal("9.5000"))]] * 4,
            pa.map_(pa.string(), pa.decimal128(20, 4)),
        ),
        "ts": pa.array(
            [{"t": dt.datetime(2020, 1, 2, 3)}] * 4,
            pa.struct([("t", pa.timestamp("us"))]),
        ),
    })
    blob, _ = encode_table(tbl)
    from orc_format_spark.codecs.container import blob_schema

    assert blob_schema(blob).equals(tbl.schema)
    assert decode_table(blob).equals(tbl)


def test_timestamp_unit_schema_fidelity():
    """timestamp[s]/[ms]/[ns] columns decode with their STORED unit
    (values travel as exact microseconds); parsing everything as us
    misreported the schema and broke downstream casts/unions."""
    for unit in ("s", "ms", "us", "ns"):
        # values travel as exact us, so ns inputs must be whole us
        # (sub-us precision fails loudly at encode via the safe cast)
        vals = [10**6, 0, 123 * (1000 if unit == "ns" else 1)]
        t = pa.table({"t": pa.array(vals, pa.timestamp(unit))})
        blob, _ = encode_table(t)
        from orc_format_spark.codecs.container import blob_schema

        assert blob_schema(blob).field(0).type == pa.timestamp(unit)
        assert decode_table(blob).equals(t)


def test_float32_prune_never_disagrees_with_filter():
    """The exact filter casts the predicate literal to float32; the
    chunk prune test compares in float64. Without ulp-widened float32
    bounds, '== 0.1' pruned every chunk whose rows all equal
    float32(0.1) — silent missing rows."""
    t = pa.table({
        "f": pa.array([0.1] * 20, pa.float32()),
        "k": pa.array(range(20), pa.int64()),
    })
    blob, _ = encode_table(t, stride=10)
    assert decode_table(blob, predicate=("f", "==", 0.1)).num_rows == 20
    assert decode_table(blob, predicate=("f", "in", (0.1, 7.0))).num_rows == 20
    assert decode_table(blob, predicate=("f", ">", 0.05)).num_rows == 20
    assert decode_table(blob, predicate=("f", "<", 0.05)).num_rows == 0


def test_tz_aware_predicate_never_prunes_naive_bounds():
    """Stored temporal bounds are tz-naive isoformats; a tz-aware
    predicate value's '+HH:MM' suffix breaks the lexicographic order.
    The prune test must treat the cross-domain compare as unknown (the
    exact filter normalizes the value and matches)."""
    import datetime as dt

    t = pa.table({
        "t": pa.array([dt.datetime(2020, 1, 1, 6)] * 20, pa.timestamp("us")),
        "k": pa.array(range(20), pa.int64()),
    })
    blob, _ = encode_table(t, stride=10)
    v = dt.datetime(2020, 1, 1, 6, tzinfo=dt.timezone.utc)
    assert decode_table(blob, predicate=("t", "==", v)).num_rows == 20


def test_sparse_union_checksum_matches_dense_decode():
    """table_checksum on a sparse union must not crash (no offsets
    buffer) and must equal the checksum of its dense-decoded twin, or
    the write-verify loop rejects every sparse-union write."""
    arr = pa.UnionArray.from_sparse(
        pa.array([0, 1, 0, 1], pa.int8()),
        [pa.array([1, 2, 3, 4], pa.int64()), pa.array(["a", "b", "c", "d"])],
    )
    t = pa.table({"u": arr})
    blob, _ = encode_table(t)
    assert table_checksum(t) == table_checksum(decode_table(blob))


def test_blob_truncation_always_valueerror():
    """EVERY truncation of a valid blob raises ValueError (not bare
    IndexError, never a silently-short metadata string), so corrupt-blob
    classification by exception type is reliable."""
    from orc_format_spark.codecs.container import deserialize_blob

    blob, _ = encode_table(pa.table({"a": pa.array(range(100), pa.int64())}))
    for cut in range(1, len(blob)):
        with pytest.raises(ValueError):
            deserialize_blob(blob[:cut])


def test_projection_typo_is_loud():
    """decode_table(columns=[missing]) raises KeyError instead of
    silently returning a narrower table."""
    blob, _ = encode_table(pa.table({"a": pa.array([1, 2], pa.int64())}))
    with pytest.raises(KeyError, match="no such columns"):
        decode_table(blob, columns=["nope"])


def test_nested_struct_projection_blob():
    """Dotted columns= paths prune struct subtrees inside blobs at any
    depth (both v1 and chunked v2 bodies); pruned children's streams
    are never decompressed and errors are loud."""
    import numpy as np
    import pyarrow as pa
    import pytest

    from orc_format_spark.codecs.container import decode_table, encode_table

    inner = pa.struct([("x", pa.int64()), ("y", pa.string())])
    outer = pa.struct([("a", pa.int64()), ("b", pa.string()),
                       ("inner", inner)])
    n = 25_000
    t = pa.table({
        "k": pa.array(np.arange(n), pa.int64()),
        "s": pa.array(
            [None if i % 11 == 0 else
             {"a": i, "b": f"b{i}",
              "inner": None if i % 7 == 0 else {"x": i * 2, "y": f"y{i}"}}
             for i in range(n)], outer),
    })
    blob, _ = encode_table(t, codec="auto", compression="zstd", stride=10_000)
    want = [None if r is None else
            {"inner": None if r["inner"] is None else {"y": r["inner"]["y"]}}
            for r in t.column("s").to_pylist()]

    got = decode_table(blob, columns=["s.inner.y", "k"])
    assert got.column_names == ["s", "k"]
    assert got.column("s").to_pylist() == want
    assert got.column("k").to_pylist() == t.column("k").to_pylist()

    # "s" alongside "s.a" widens; sibling selection keeps request order
    whole = decode_table(blob, columns=["s.a", "s"])
    assert whole.column("s").to_pylist() == t.column("s").to_pylist()
    two = decode_table(blob, columns=["s.b", "s.a"])
    assert [f.name for f in two.schema.field("s").type] == ["b", "a"]

    # row slices through the chunked path compose with nested proj
    sl = decode_table(blob, columns=["s.inner.x"], rows=(9_995, 10_005))
    assert sl.num_rows == 10

    with pytest.raises(KeyError, match="no such fields"):
        decode_table(blob, columns=["s.zz"])
    with pytest.raises(KeyError, match="non-struct"):
        decode_table(blob, columns=["k.a"])
    with pytest.raises(KeyError, match="no such columns"):
        decode_table(blob, columns=["zz.a"])

    # v1 (unchunked) body takes the same path
    blob1, _ = encode_table(t.slice(0, 500), codec="auto", compression="zstd")
    g1 = decode_table(blob1, columns=["s.inner.y"])
    assert g1.column("s").to_pylist() == want[:500]


def test_list_transparent_projection_blob():
    """Lists are transparent to dotted blob projection: "evs.id" prunes
    a list<struct> element's fields through both v1 and chunked v2."""
    import numpy as np
    import pyarrow as pa
    import pytest

    from orc_format_spark.codecs.container import decode_table, encode_table

    elem = pa.struct([("id", pa.int64()), ("txt", pa.string())])
    n = 20_000
    t = pa.table({
        "k": pa.array(np.arange(n), pa.int64()),
        "evs": pa.array(
            [None if i % 13 == 0 else
             [{"id": i * 10 + j, "txt": f"t{i}_{j}"} for j in range(i % 4)]
             for i in range(n)], pa.list_(elem)),
    })
    want = [None if r is None else [{"id": e["id"]} for e in r]
            for r in t.column("evs").to_pylist()]
    blob, _ = encode_table(t, codec="auto", compression="zstd", stride=10_000)
    got = decode_table(blob, columns=["evs.id", "k"])
    assert got.column("evs").to_pylist() == want
    blob1, _ = encode_table(t.slice(0, 300), codec="auto", compression="zstd")
    assert (decode_table(blob1, columns=["evs.id"])
            .column("evs").to_pylist() == want[:300])
    with pytest.raises(KeyError, match="non-struct"):
        decode_table(blob, columns=["k.x"])


@pytest.mark.parametrize("trial", range(40))
def test_nested_projection_fuzz_blob(trial):
    """Randomized nested projection over the blob container: random
    column trees (the ORC interop fuzz's generator), a random dotted
    struct-leaf path (lists transparent), pruned decode == full decode
    pruned python-side. Both container body versions and three block
    codecs ride the matrix."""
    import random

    import numpy as np
    import pyarrow as pa

    from test_orc_interop_fuzz import _gen_column

    from orc_format_spark.codecs.container import decode_table, encode_table

    import pyarrow.compute as pc

    rng = np.random.default_rng(5000 + trial)
    random.seed(trial * 11 + 1)
    n = int(rng.integers(0, 3000))

    def _us(typ):  # container contract: microsecond timestamps
        if pa.types.is_timestamp(typ):
            return pa.timestamp("us")
        if pa.types.is_list(typ):
            return pa.list_(_us(typ.value_type))
        if pa.types.is_large_list(typ):
            return pa.large_list(_us(typ.value_type))
        if pa.types.is_struct(typ):
            return pa.struct([(f.name, _us(f.type)) for f in typ])
        if pa.types.is_map(typ):
            return pa.map_(_us(typ.key_type), _us(typ.item_type))
        return typ

    def paths0(prefix, typ):
        if pa.types.is_struct(typ):
            out = []
            for f in typ:
                out += paths0(f"{prefix}.{f.name}", f.type)
            return out
        if pa.types.is_list(typ) or pa.types.is_large_list(typ):
            return paths0(prefix, typ.value_type)
        return [prefix]

    # redraw until the random tree holds a nested struct leaf (the
    # generator draws structs ~1/6 of the time per column)
    for _redraw in range(25):
        cols = {}
        for i in range(int(rng.integers(1, 4))):
            arr, _typ = _gen_column(rng, n)
            cols[f"c{i}"] = pc.cast(arr, _us(arr.type), safe=False)
        t = pa.table(cols)
        if any("." in p for f in t.schema for p in paths0(f.name, f.type)):
            break
    else:
        pytest.skip("no nested struct drawn in 25 redraws")
    stride = random.choice([None, 500])
    comp = random.choice(["zstd", "none", "lz4"])
    blob, _ = encode_table(t, codec="auto", compression=comp, stride=stride)
    full = decode_table(blob)

    cand = []
    for f in t.schema:
        cand += [p for p in paths0(f.name, f.type) if "." in p]
    path = cand[int(rng.integers(0, len(cand)))]
    parts = path.split(".")
    got = decode_table(blob, columns=[path])

    def prune(v, ps):
        if not ps or v is None:
            return v
        if isinstance(v, list):
            return [prune(e, ps) for e in v]
        return {ps[0]: prune(v[ps[0]], ps[1:])}

    want = [prune(r, parts[1:]) for r in full.column(parts[0]).to_pylist()]
    assert got.column(parts[0]).to_pylist() == want, (trial, path, comp)


# ---------------------------------------------------------------------------
# Write-kernel byte identity. The digests below were computed with the
# previous kernels (the exhaustive 153-pair ALP chooser and the
# segment-by-segment RLEv2 walk); the vectorized kernels must reproduce
# every byte of every shape.


def _digest(encodings) -> str:
    import hashlib

    h = hashlib.sha256()
    for enc in encodings:
        h.update(len(enc).to_bytes(8, "little"))
        h.update(enc)
    return h.hexdigest()


def _rle_v2_corpus(signed: bool) -> dict:
    """Seeded RLEv2 input shapes, each a list of int64/uint64 vectors."""
    dt = np.int64 if signed else np.uint64
    lo = -(2**63) if signed else 0
    hi = 2**63 - 1 if signed else 2**64 - 1
    rng = np.random.default_rng(404 + signed)

    def arr(x):
        return np.asarray(x).astype(dt)

    shapes = {}
    off = -(10**7) if signed else 10**7
    shapes["sorted_short_runs"] = [
        arr(off + np.repeat(np.cumsum(rng.integers(0, 4, m)), rng.integers(1, 6, m)))
        for m in (5, 200, 700, 1500, 4000)
    ] + [  # arithmetic 512-value chunks with one delta bumped
        arr(off + np.cumsum(np.where(np.arange(1024) % 512 == j, 5, 3)))
        for j in (1, 2, 300, 511)
    ]
    runs = []
    for _ in range(6):
        parts = []
        for _ in range(12):
            L = int(rng.choice([3, 31, 32, 33, 40, 100, 511, 512, 513, 514,
                                515, 520, 1024, 1030]))
            v = int(rng.integers(-500 if signed else 0, 1000))
            parts.append(np.full(L, v))
            parts.append(rng.integers(0, 1000, int(rng.integers(0, 40))))
        runs.append(arr(np.concatenate(parts)))
    shapes["long_runs"] = runs
    shapes["random_wide"] = [
        rng.integers(lo, hi, m, dtype=dt, endpoint=True) for m in (1, 2, 511, 512, 5000)
    ] + [arr(rng.integers(0, 1 << int(b), 2000)) for b in (1, 7, 13, 33, 62)]
    patched = []
    for k in (1, 5, 20, 31, 32, 40):
        base = rng.integers(0, 1 << 10, 2048)
        if signed:
            base = base - 600
        idx = rng.choice(2048, k, replace=False)
        base[idx] = rng.integers(1 << 40, 1 << 44, k)
        patched.append(arr(base))
    for k in (25, 26, 31, 32):  # exactly k outliers in each 512-value chunk
        x = rng.integers(0, 1 << 9, 1024)
        for c in (0, 512):
            x[c + rng.choice(512, k, replace=False)] = rng.integers(1 << 30, 1 << 31, k)
        patched.append(arr(x))
    spaced = rng.integers(0, 256, 2048)
    spaced[::300] = 1 << 50  # patch gaps > 255 need filler entries
    patched.append(arr(spaced))
    patched.append(arr(np.where(rng.random(3000) < 0.02, 1 << 20, rng.integers(0, 16, 3000))))
    shapes["patched_outliers"] = patched
    dec = []
    for m in (7, 20, 513, 2000):
        d = rng.integers(0, 4, m)
        d[1::512] = 0  # first delta of every 512-value chunk is zero
        d[0] = 0
        dec.append(arr(10**6 - np.cumsum(d)))
    dec.append(arr([9, 9, 8, 7, 6]))
    dec.append(arr([5, 5, 5, 5, 4]))
    shapes["decreasing_zero_first_delta"] = dec
    if signed:
        ext = [
            [2**63 - 1, -(2**63), 0, 1, -1],
            [-(2**63), 0, 2**63 - 1],
            [2**63 - 1, 0, -(2**63)],
            [-(2**63)] * 40 + [2**63 - 1] * 40,
            [2**63 - 1 - i for i in range(600)],
            [-(2**63) + 3 * i for i in range(600)],
        ]
        ext = [np.array(x, np.int64) for x in ext]
        # a monotone 512-value chunk whose last delta is >= 2^63
        ext.append(np.append(np.arange(511, dtype=np.int64) + np.int64(-(2**63)), 2**63 - 1))
        ext.append(np.sort(rng.integers(lo, hi, 1500, dtype=dt, endpoint=True)))
        ext.append(np.sort(rng.integers(lo, hi, 1500, dtype=dt, endpoint=True))[::-1].copy())
    else:
        ext = [
            [2**64 - 1, 0, 2**63, 1],
            [0, 2**64 - 1],
            [2**64 - 1] * 40 + [0] * 40,
            [2**64 - 1 - i for i in range(600)],
            [2**63 + 5 * i for i in range(600)],
        ]
        ext = [np.array(x, np.uint64) for x in ext]
        ext.append(np.append(np.arange(511, dtype=np.uint64), np.uint64(2**63 + 5)))
        ext.append(np.sort(rng.integers(lo, hi, 1500, dtype=dt, endpoint=True)))
    shapes["extremes"] = ext
    tails = []
    for L in range(1, 512):
        head = rng.integers(0, 1 << 20, 512)
        tails.append(arr(np.concatenate([head, rng.integers(0, 1 << 20, L)])))
        tails.append(arr(np.sort(np.concatenate([head, rng.integers(0, 1 << 20, L)]))))
        tails.append(arr(np.concatenate([head, np.full(L, 7)])))
        tails.append(arr(np.full(512 + L, 3)))
    shapes["tails"] = tails
    return shapes


@np.errstate(over="ignore")  # f4 casts of the large magnitudes -> inf
def _alp_corpus(double: bool) -> dict:
    """Seeded float input shapes for encode_alp."""
    ft = np.float64 if double else np.float32
    rng = np.random.default_rng(808 + double)
    sizes = (1, 2, 63, 64, 65, 257, 1000, 1024, 3000)
    shapes = {}
    shapes["decimals"] = [
        np.round(rng.uniform(-1e4, 1e4, m), d).astype(ft)
        for d in range(0, 7) for m in sizes[::2]
    ]
    shapes["reals"] = [rng.standard_normal(m).astype(ft) for m in sizes]
    mixed = []
    for m in sizes[3:]:
        v = np.round(rng.uniform(0, 1000, m), 2)
        v[:: int(rng.integers(3, 40))] *= np.pi
        mixed.append(v.astype(ft))
    shapes["mixed"] = mixed
    sp = np.array([0.0, -0.0, np.nan, np.inf, -np.inf, 5e-324, 1e308])
    specials = [sp.astype(ft), np.full(100, np.nan, ft)]
    for m in (64, 1000):
        v = np.round(rng.uniform(-50, 50, m), 1)
        v[rng.choice(m, 6, replace=False)] = sp[:6]
        specials.append(v.astype(ft))
    shapes["specials"] = specials
    shapes["big_ints"] = [
        (rng.integers(2**53, 2**60, m) * rng.choice([-1, 1], m)).astype(ft)
        for m in (10, 1000)
    ] + [rng.integers(-(2**20), 2**20, 1500).astype(ft)]
    shapes["scales"] = [
        (np.round(rng.uniform(1, 9, 500), 3) * s).astype(ft)
        for s in (1e-300, 1e-12, 1e-5, 1e5, 1e12, 1e300)
    ]
    return shapes


_RLE_V2_DIGESTS = {
    True: {
        "decreasing_zero_first_delta": "ffd83133a9d2cbbd7d950014b1d0c3b93839b83030fb84f0df86ca36e6403e0b",
        "extremes": "db811ff7d10bb69d9d67e3be3a6d48a767ad662073bd259a1a398616398736be",
        "long_runs": "5e5aa1220a7f4d16b071c4469015444a99c694d70add08f9fe249b2f05fec80b",
        "patched_outliers": "895cb420c4e50a26aa80264f5ee4a20142b2119f0ef8156a92af644079aa657d",
        "random_wide": "bdc7cb8d9ac44603e339c83eae8913a72421e45f32e33adedd9039eaf842c8ff",
        "sorted_short_runs": "1fc97076cc4be8db059b37c9f2364818e6ffe1f9f0f095be92c44fe520a3905a",
        "tails": "37f71887860f977092cc1e4e7406c9a14b819d2fa35e137b8ef522c8a3e56355",
    },
    False: {
        "decreasing_zero_first_delta": "ec39013793b98c0dcf27be438782a6102adaf47ed88668188f148ef212b0603f",
        "extremes": "479dd2c547362164600e6ce9821b465b7f53d57a6d83bd17087bc713239a626d",
        "long_runs": "837930dfe24f926ac2d4c2b6dd5d2294dc7cb9fdac9352bae8e2cd5506dbe5a4",
        "patched_outliers": "42dca635864f6f7908de949d5ed43abcb8352ff39ecdbb7bb1dd17fe8e15e564",
        "random_wide": "ff3bf82f7875e30d6d330e1a31414868e780b1a5c9aef86fa43aa178323818ee",
        "sorted_short_runs": "7d0a8f5a3a2ab2696ec554a305ea0e29a80fb7ddd5f7be7b8f1daa5784310abe",
        "tails": "79a662df1757bbf1f03fd5f1f9dfd3625c04fa52305614a9eda1e7ac9cdab9fb",
    },
}
_ALP_DIGESTS = {
    True: {
        "big_ints": "859254f0e9c897e50cff4dd45c356e6804c06a2e8e28e95a092359dfe3ddb262",
        "decimals": "a426a0cf9a86bba45d9938bff06a1fb3913da002861cf7e05c4fc440f216af76",
        "mixed": "d7a237e0c541eb9f39ce45c6a9cf571849ea7104395c44d2800e741c749c87f3",
        "reals": "4d18c5c5801ea15df3afa6722ea5196fd5480aa00aefce15185242c138e1d413",
        "scales": "d7f8d5012f390fd2544e6fd593f3f181bd67b839eedeadcaf7df602d2a4accd1",
        "specials": "a9d8676f14eb028b3d79ea9dbb11b99a54fd41dcabea5a402788d403ed36b5ab",
    },
    False: {
        "big_ints": "1dfbd29bb0589ac3f3a6f69ad6c3871234f2e3c1f11de0107909c8e323c18d11",
        "decimals": "be55a69448b455a9829553b2cbef27070e0a497e063825b28c03169d5b55b4e9",
        "mixed": "f7c7b8eb2979aeeb2ca6f426f9fe5281c445ea33f11c1df912cdb12f3cb932bb",
        "reals": "7eb0cda0b5965bf6e49d8098b2518d430e29930ab7b6425edd66858648998cdc",
        "scales": "f1e7218788651354cee2ad725a3935f75fd4954877b651abf6e723f547c35cfd",
        "specials": "15fbe4eaf583018b8ead0623185d5dc1f6255942663ad3accd6720513d3a82a8",
    },
}


@pytest.mark.parametrize("signed", [True, False])
def test_rle_v2_encode_bytes_pinned(signed):
    """encode_int_rle_v2 emits the pinned bytes for every corpus shape
    (and every stream decodes back)."""
    got = {}
    for name, vecs in _rle_v2_corpus(signed).items():
        encs = [encode_int_rle_v2(v, signed) for v in vecs]
        for v, enc in zip(vecs, encs):
            assert np.array_equal(decode_int_rle_v2(enc, signed), v), name
        got[name] = _digest(encs)
    assert got == _RLE_V2_DIGESTS[signed]


@pytest.mark.parametrize("double", [True, False])
def test_alp_encode_bytes_pinned(double):
    from orc_format_spark.codecs.alp import decode_alp, encode_alp

    got = {}
    for name, vecs in _alp_corpus(double).items():
        encs = [encode_alp(v, double) for v in vecs]
        for v, enc in zip(vecs, encs):
            assert decode_alp(enc, double).tobytes() == v.tobytes(), name
        got[name] = _digest(encs)
    assert got == _ALP_DIGESTS[double]


def _choose_exponents_exhaustive(v64, sample=1024):
    """The previous ALP chooser, kept as the oracle of the bounded
    search: all 153 (e, f) pairs scored on the whole head sample in one
    candidates x sample matrix, first minimum of the estimated bits."""
    from orc_format_spark.codecs import alp

    s = np.ascontiguousarray(v64[: min(v64.size, sample)])
    n = s.size
    pe = alp._POW10[alp._CAND_E][:, None]
    ipf = alp._IPOW10[alp._CAND_F][:, None]
    with np.errstate(over="ignore", invalid="ignore"):
        scaled = s[None, :] * pe * ipf
        in_range = np.isfinite(scaled) & (np.abs(scaled) < alp._SAFE_DIGITS)
        d_int = np.round(np.where(in_range, scaled, 0.0)).astype(np.int64)
        recon = d_int * alp._POW10[alp._CAND_F][:, None] * alp._IPOW10[alp._CAND_E][:, None]
    exact = in_range & (recon.view(np.int64) == s.view(np.int64)[None, :])
    n_exc = n - exact.sum(axis=1)
    hi = np.where(exact, d_int, np.int64(-(1 << 62))).max(axis=1)
    lo = np.where(exact, d_int, np.int64(1 << 62)).min(axis=1)
    span = np.maximum(hi - lo, 0)
    width = np.array([max(1, int(x).bit_length()) for x in span])
    cost = np.where(n_exc == n, np.inf, width * n + 80 * n_exc)
    if not np.isfinite(cost).any():
        return (0, 0)
    return alp._CAND[int(np.argmin(cost))]


def _alp_fuzz_vector(rng):
    """One seeded float vector: decimals, reals, mixes, specials, big
    ints, or a head whose shape differs from the rest of the sample."""
    m = int(rng.integers(1, 1500))
    kind = int(rng.integers(0, 8))
    if kind == 0:
        v = np.round(rng.uniform(-1e6, 1e6, m), int(rng.integers(0, 9)))
    elif kind == 1:
        v = rng.standard_normal(m) * 10.0 ** int(rng.integers(-8, 9))
    elif kind == 2:
        v = np.round(rng.uniform(0, 1e3, m), int(rng.integers(0, 5)))
        v[rng.random(m) < rng.uniform(0, 0.5)] *= np.pi
    elif kind == 3:
        v = np.round(rng.uniform(-100, 100, m), int(rng.integers(0, 4)))
        sp = np.array([np.nan, np.inf, -np.inf, -0.0, 0.0, 5e-324])
        hit = rng.random(m) < rng.uniform(0, 1)
        v[hit] = rng.choice(sp, int(hit.sum()))
    elif kind == 4:
        v = rng.integers(-(2**62), 2**62, m).astype(np.float64)
    elif kind == 5:
        v = np.round(rng.uniform(1, 9, m), int(rng.integers(0, 6)))
        v *= 10.0 ** int(rng.integers(-20, 21))
    else:
        # the head (what the early bounds see) differs from the tail
        cut = int(rng.integers(0, m + 1))
        a = np.round(rng.uniform(-50, 50, m), int(rng.integers(0, 3)))
        b = np.round(rng.uniform(-5e3, 5e3, m), int(rng.integers(2, 7)))
        if kind == 7:
            b = rng.standard_normal(m)
        v = np.concatenate([a[:cut], b[cut:]])
        if rng.random() < 0.3:
            v[: min(cut, 64)] = np.nan
    return v


def test_alp_bounded_chooser_matches_exhaustive():
    """The branch-and-bound chooser picks the exhaustive chooser's (e, f)
    on 2,400 seeded vectors, f8 and f4-widened."""
    from orc_format_spark.codecs.alp import _choose_exponents

    rng = np.random.default_rng(2024)
    for i in range(2400):
        v = _alp_fuzz_vector(rng)
        if i % 3 == 0:
            with np.errstate(over="ignore"):
                v = v.astype(np.float32).astype(np.float64)
        assert _choose_exponents(v) == _choose_exponents_exhaustive(v), i


def test_alp_bounded_chooser_keeps_earlier_tie():
    """On 128 three-decimal values then integers up to 1050, (0, 0) costs
    11 * 1024 + 80 * 128 bits, and for most seeds a later (e, e-3) pair
    exact on every value ties with it. That pair is the incumbent when
    (0, 0)'s bound reaches the tied cost at the 256-value stage; only
    the rule that keeps an earlier candidate on a tie lets the first
    minimum, (0, 0), win."""
    from orc_format_spark.codecs.alp import _choose_exponents

    for seed in range(12):
        rng = np.random.default_rng(seed)
        frac = rng.integers(0, 1040, 128) + rng.integers(1, 1000, 128) / 1000
        ints = rng.integers(0, 1041, 1024 - 128).astype(np.float64)
        ints[:2] = (0, 1040)
        ints[-1] = 1050  # widens the later pair's span by one bit
        v = np.concatenate([np.round(frac, 3), ints])
        assert _choose_exponents(v) == _choose_exponents_exhaustive(v), seed


def _encode_int_rle_v2_segment_walk(values, signed=True):
    """The previous RLEv2 encoder walk, kept as the oracle of the
    vectorized one: one interpreter step per equal-value segment, one
    ``_encode_literal_chunk`` per 512-value literal chunk."""
    from orc_format_spark.codecs import rle_v2 as r

    v = np.asarray(values)
    if signed:
        u = np.ascontiguousarray(v, dtype=np.int64).view(np.uint64)
    else:
        u = np.ascontiguousarray(v, dtype=np.uint64)
    n = u.size
    if n == 0:
        return b""
    zz_full = r.zigzag_encode(u.view(np.int64)) if signed else u
    out = []
    change = np.empty(n, bool)
    change[0] = True
    change[1:] = u[1:] != u[:-1]
    starts = np.flatnonzero(change)
    lengths = np.diff(np.append(starts, n))
    run_mask = lengths >= 32
    nseg = len(starts)
    si = 0
    while si < nseg:
        if run_mask[si]:
            s = int(starts[si])
            L = int(lengths[si])
            pos = 0
            while pos < L:
                m = min(L - pos, r._MAX_CHUNK)
                if 3 <= m <= 10:
                    r._emit_short_repeat(out, int(u[s]), m, signed)
                elif m < 3:
                    r._emit_direct(out, u[s + pos : s + pos + m], signed)
                else:
                    r._emit_delta(out, u[s + pos : s + pos + m], 0,
                                  np.empty(0, np.uint64), signed)
                pos += m
            si += 1
        else:
            s = int(starts[si])
            sj = si
            while sj < nseg and not run_mask[sj]:
                sj += 1
            e = int(starts[sj]) if sj < nseg else n
            for cs in range(s, e, r._MAX_CHUNK):
                ce = min(cs + r._MAX_CHUNK, e)
                r._encode_literal_chunk(out, u[cs:ce], signed, zz_full[cs:ce])
            si = sj
    return r._join_deferred(out)


def _rle_v2_fuzz_vector(rng, signed):
    """Concatenated pieces: runs of every length class, sorted and
    reverse-sorted ramps, patched-base shapes, random widths."""
    parts = []
    for _ in range(int(rng.integers(1, 8))):
        m = int(rng.integers(1, 1400))
        kind = int(rng.integers(0, 7))
        b = int(rng.integers(1, 64))
        if kind == 0:
            parts.append(np.full(m, int(rng.integers(0, 1 << b))))
        elif kind == 1:
            step = rng.integers(0, 1 << int(rng.integers(1, 12)), m)
            x = np.cumsum(step)
            parts.append(x[::-1] if rng.random() < 0.5 else x)
        elif kind == 2:
            x = rng.integers(0, 1 << int(rng.integers(1, 16)), m)
            k = int(rng.integers(1, 40))
            x[rng.integers(0, m, k)] = rng.integers(1 << 30, 1 << 50, k)
            parts.append(x)
        elif kind == 3:
            parts.append(np.repeat(rng.integers(0, 50, m), rng.integers(1, 40, m))[:m * 4])
        elif kind == 4:
            parts.append(rng.integers(0, 1 << b, m, dtype=np.uint64))
        elif kind == 5:
            step = np.full(m, int(rng.integers(1, 1 << 20)))
            step[rng.integers(0, m, int(rng.integers(0, 3)))] += 1
            parts.append(np.cumsum(step))
        else:
            parts.append(np.sort(rng.integers(0, 1 << b, m, dtype=np.uint64)))
    x = np.concatenate([np.asarray(p).astype(np.uint64) for p in parts])
    if signed and rng.random() < 0.5:
        x = (x.view(np.int64) - np.int64(1 << int(rng.integers(0, 62)))).view(np.uint64)
    return x.view(np.int64) if signed else x


@pytest.mark.parametrize("signed", [True, False])
def test_rle_v2_encoder_matches_segment_walk(signed):
    rng = np.random.default_rng(77 + signed)
    for i in range(250):
        v = _rle_v2_fuzz_vector(rng, signed)
        assert encode_int_rle_v2(v, signed) == _encode_int_rle_v2_segment_walk(v, signed), i


def test_alp_bounded_chooser_matches_exhaustive_on_lineitem():
    """The bounded chooser picks the exhaustive chooser's (e, f) on every
    10,000-row chunk of every sf0.01 lineitem float column, in file order
    and in the benchmark's (l_orderkey, l_linenumber) order."""
    import pyarrow.parquet as pq

    from orc_format_spark.codecs.alp import _choose_exponents
    from tests.conftest import SF01_DIR

    tbl = pq.read_table(f"{SF01_DIR}/lineitem.parquet")
    floats = [f.name for f in tbl.schema if pa.types.is_floating(f.type)]
    assert len(floats) >= 4
    ordered = tbl.sort_by([("l_orderkey", "ascending"), ("l_linenumber", "ascending")])
    for t in (tbl, ordered):
        for name in floats:
            v = t.column(name).to_numpy()
            for a in range(0, v.size, 10_000):
                chunk = np.ascontiguousarray(v[a : a + 10_000])
                assert _choose_exponents(chunk) == _choose_exponents_exhaustive(chunk), (name, a)


# ------------------------------------------- batched RLEv2 payload unpack


def test_bitunpack_runs_matches_per_run_bitunpack():
    """Payloads of one width at any byte offsets unpack in one call to
    what one bitunpack per payload gives, for every width 1-64: payload
    sets that all end on a byte boundary (n a multiple of 8) and sets
    with padding bits (mostly n * w % 8 != 0)."""
    from orc_format_spark.codecs.bitpack import bitunpack_runs

    rng = np.random.default_rng(12)
    for w in range(1, 65):
        for lengths in (8 * rng.integers(1, 65, 9), rng.integers(1, 520, 9).tolist() + [1, 7]):
            blobs, offs, counts, ref = [], [], [], []
            off = 0
            for n in np.asarray(lengths).tolist():
                vals = rng.integers(0, 1 << 63, n, dtype=np.uint64) << np.uint64(1)
                vals = (vals | rng.integers(0, 2, n, dtype=np.uint64)) >> np.uint64(64 - w)
                payload = bitpack(vals, w)
                gap = int(rng.integers(0, 4))
                blobs.append(bytes(rng.integers(0, 256, gap, dtype=np.uint8)) + payload)
                offs.append(off + gap)
                counts.append(n)
                off += gap + len(payload)
                ref.append(bitunpack(payload, w, n))
                assert (ref[-1] == vals).all()
            src = np.frombuffer(b"".join(blobs), np.uint8)
            got = bitunpack_runs(src, offs, counts, w)
            assert got.dtype == np.uint64
            assert (got == np.concatenate(ref)).all(), w
            with pytest.raises(ValueError):
                bitunpack_runs(src[:-1], offs, counts, w)


def _rle_v2_runs(rng, signed):
    """A stream of direct and variable-width delta runs of random widths
    and lengths (so n * w % 8 is mostly non-zero), plus each run's
    values from a per-run ``bitunpack`` of its own payload."""
    from orc_format_spark.codecs.bitpack import WIDTH_TABLE, width_code
    from orc_format_spark.codecs.varint import (
        encode_varint_one,
        zigzag_decode,
    )

    def zz(x):  # python int -> zigzag
        return (x << 1) ^ (x >> 63) if x >= 0 else ((-x) << 1) - 1

    mask = (1 << 64) - 1
    stream, runs = [], []
    for _ in range(int(rng.integers(1, 14))):
        if rng.random() < 0.55:  # direct
            w = int(rng.choice(WIDTH_TABLE))
            n = int(rng.integers(1, 513))
            u = rng.integers(0, 1 << 63, n, dtype=np.uint64) >> np.uint64(max(0, 63 - w))
            payload = bitpack(u, w)
            head = bytes(((1 << 6) | (width_code(w) << 1) | ((n - 1) >> 8), (n - 1) & 0xFF))
            got = bitunpack(payload, w, n)
            vals = zigzag_decode(got).view(np.uint64) if signed else got
        else:  # variable-width delta: |d| packed at WIDTH_TABLE[code]
            code = int(rng.integers(1, len(WIDTH_TABLE)))
            w = WIDTH_TABLE[code]
            n = int(rng.integers(3, 513))
            base = int(rng.integers(-(1 << 40), 1 << 40)) if signed else int(rng.integers(0, 1 << 40))
            d0 = int(rng.integers(-(1 << 20), 1 << 20)) or 1
            dabs = rng.integers(0, 1 << 63, n - 2, dtype=np.uint64) >> np.uint64(max(0, 63 - w))
            payload = bitpack(dabs, w)
            head = (bytes(((3 << 6) | (code << 1) | ((n - 1) >> 8), (n - 1) & 0xFF))
                    + encode_varint_one(zz(base) if signed else base)
                    + encode_varint_one(zz(d0)))
            steps = [int(x) for x in bitunpack(payload, w, n - 2)]
            acc = [base & mask, (base + d0) & mask]
            for d in steps:
                acc.append((acc[-1] + (-d if d0 < 0 else d)) & mask)
            vals = np.array(acc, np.uint64)
        stream.append(head + payload)
        runs.append(vals)
    return b"".join(stream), runs


@pytest.mark.parametrize("signed", [True, False])
def test_rle_v2_batched_unpack_matches_per_run_reference(signed):
    """decode_int_rle_v2 unpacks every same-width direct and delta
    payload in one call; the values equal a per-run unpack, whole and
    for count-bounded reads (which stop at the first run boundary at or
    past the count)."""
    rng = np.random.default_rng(31 + signed)
    for trial in range(60):
        buf, runs = _rle_v2_runs(rng, signed)
        want = np.concatenate(runs)
        got = decode_int_rle_v2(buf, signed=signed)
        assert (got.view(np.uint64) == want).all(), trial
        ends = np.cumsum([r.size for r in runs])
        for count in rng.integers(0, want.size + 1, 4).tolist():
            part = decode_int_rle_v2(buf, signed=signed, count=count)
            stop = int(ends[np.searchsorted(ends, count)]) if count else 0
            assert part.size == stop, (trial, count)
            assert (part.view(np.uint64) == want[:stop]).all(), (trial, count)
        with pytest.raises(ValueError):
            decode_int_rle_v2(buf[:-1], signed=signed)
