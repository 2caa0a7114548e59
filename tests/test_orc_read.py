"""In-repo ORC reader (sources/orc_read.py) — both legs of the
external-oracle loop:

1. FOREIGN leg: files written by Apache ORC C++ (pyarrow.orc) are
   decoded by OUR reader and must equal pyarrow's own read — our
   RLEv1/RLEv2/byte/boolean decoders against wire bytes we did not
   produce (Apache picks its own encodings: delta runs, dictionary,
   patched base).
2. SELF leg: files written by OUR writer (orc_file.write_orc, both RLE
   families, every compression incl. the pure-Python lz4 path) decoded
   by OUR reader must equal the Apache reader's view of the same bytes.

The reference never shipped a reader (its reader module is a dead
stub); this is the Spark-first rebuild's completion of that surface.
"""

import io

import numpy as np
import pyarrow as pa
import pyarrow.orc as po
import pytest

from orc_format_spark.sources.orc_file import write_orc
from orc_format_spark.sources.orc_read import read_orc


def _col_eq(g: pa.ChunkedArray, r: pa.ChunkedArray) -> bool:
    g, r = g.combine_chunks(), r.combine_chunks()
    if pa.types.is_union(g.type) or pa.types.is_union(r.type):
        # pyarrow.orc reads ORC unions as sparse_union/_union_i names;
        # we build dense unions — compare values, not layout
        return g.to_pylist() == r.to_pylist()
    if g.type != r.type:
        g = g.cast(r.type)
    return g.equals(r)


def _assert_tables_eq(got: pa.Table, ref: pa.Table):
    assert got.num_rows == ref.num_rows
    assert got.column_names == ref.column_names
    for c in ref.column_names:
        assert _col_eq(got[c], ref[c]), f"column {c} diverges"


def _rich_table(n: int = 8_000, seed: int = 7) -> pa.Table:
    rng = np.random.default_rng(seed)
    null = rng.integers(0, 5, n) == 0

    def nn(vals, typ=None):
        return pa.array(
            [None if null[i] else v for i, v in enumerate(vals)], typ
        )

    return pa.table(
        {
            "i8": pa.array(rng.integers(-128, 128, n), pa.int8()),
            "i16": nn(rng.integers(-30000, 30000, n).tolist(), pa.int16()),
            "i32": pa.array(rng.integers(-(2**31), 2**31, n), pa.int32()),
            "i64": pa.array(rng.integers(-(2**62), 2**62, n), pa.int64()),
            "f32": nn(rng.normal(size=n).tolist(), pa.float32()),
            "f64": pa.array(rng.normal(size=n)),
            "s": nn([f"s{i % 37}" for i in range(n)], pa.string()),
            "bin": pa.array(
                [bytes([i % 251, (i * 7) % 256]) for i in range(n)],
                pa.binary(),
            ),
            "bl": nn(
                (rng.integers(0, 2, n) == 1).tolist(), pa.bool_()
            ),
            "dt": pa.array(
                rng.integers(-20000, 20000, n).astype(np.int32)
            ).cast(pa.date32()),
            "ts": pa.array(
                rng.integers(0, 2_000_000_000, n) * 1_000_000
                + rng.integers(0, 1_000_000, n),
                pa.int64(),
            ).cast(pa.timestamp("us")),
            "dec": nn(
                [round((i - n / 2) * 1.37, 2) for i in range(n)]
            ).cast(pa.decimal128(18, 2)),
            "lowcard": pa.array([f"k{i % 3}" for i in range(n)]),
            "lst": pa.array(
                [[int(x) for x in rng.integers(0, 50, i % 4)]
                 for i in range(n)],
                pa.list_(pa.int64()),
            ),
            "mp": pa.array(
                [{f"m{j}": j * i for j in range(i % 3)} for i in range(n)],
                pa.map_(pa.string(), pa.int64()),
            ),
            "st": pa.array(
                [{"a": int(i), "b": f"x{i % 5}"} for i in range(n)],
                pa.struct([("a", pa.int64()), ("b", pa.string())]),
            ),
        }
    )


@pytest.mark.parametrize(
    "comp", ["uncompressed", "zlib", "snappy", "zstd", "lz4"]
)
def test_foreign_apache_written(comp):
    """Apache C++ writes (its own encoding choices: RLEv2 delta runs,
    dictionary strings, multi-stripe), our reader must match Apache's
    read bit-for-bit at the value level."""
    t = _rich_table()
    buf = io.BytesIO()
    po.write_table(t, buf, compression=comp, stripe_size=64 * 1024)
    data = buf.getvalue()
    if comp == "uncompressed":
        # Apache sizes stripes on compressed bytes, so only the raw
        # variant reliably exercises the multi-stripe loop here (the
        # predicate test below forces it with incompressible payload)
        assert po.ORCFile(io.BytesIO(data)).nstripes > 1
    _assert_tables_eq(read_orc(data), po.ORCFile(io.BytesIO(data)).read())


@pytest.mark.parametrize("rle", ["v1", "v2"])
@pytest.mark.parametrize("comp", ["none", "zlib", "snappy", "zstd", "lz4"])
def test_self_written(rle, comp):
    """Our writer -> our reader, adjudicated by the Apache reader's view
    of the same bytes (three-way agreement)."""
    t = _rich_table(n=6_000, seed=11)
    buf = io.BytesIO()
    write_orc(t, buf, compression=comp, rle=rle, stripe_rows=2_500)
    data = buf.getvalue()
    _assert_tables_eq(read_orc(data), po.ORCFile(io.BytesIO(data)).read())


def test_union_roundtrip_native():
    n = 4_001
    t = pa.table(
        {"id": pa.array(np.arange(n), pa.int64()), "u": _make_union(n)}
    )
    buf = io.BytesIO()
    write_orc(t, buf, compression="zstd", rle="v2", stripe_rows=1_500)
    data = buf.getvalue()
    got = read_orc(data)
    ref = po.ORCFile(io.BytesIO(data)).read()
    _assert_tables_eq(got, ref)


def _make_union(n: int) -> pa.UnionArray:
    tags = (np.arange(n) % 3 == 0).astype(np.int8)
    offsets = np.zeros(n, np.int32)
    for tag in (0, 1):
        sel = tags == tag
        offsets[sel] = np.arange(int(sel.sum()), dtype=np.int32)
    return pa.UnionArray.from_dense(
        pa.array(tags, pa.int8()),
        pa.array(offsets, pa.int32()),
        [
            pa.array(np.arange(int((tags == 0).sum())), pa.int64()),
            pa.array(
                [f"u{i}" for i in range(int((tags == 1).sum()))],
                pa.string(),
            ),
        ],
        ["num", "txt"],
    )


def test_projection_skips_columns():
    t = _rich_table(n=3_000)
    buf = io.BytesIO()
    po.write_table(t, buf, compression="zlib")
    data = buf.getvalue()
    got = read_orc(data, columns=["dec", "s", "i64"])
    ref = po.ORCFile(io.BytesIO(data)).read().select(["dec", "s", "i64"])
    _assert_tables_eq(got, ref)
    with pytest.raises(KeyError):
        read_orc(data, columns=["nope"])


@pytest.mark.parametrize("writer", ["native", "apache"])
def test_predicate_stripe_pruning(writer):
    """min/max stripe elimination from the Metadata StripeStatistics:
    a sorted key + a range predicate must return every matching row
    while demonstrably skipping non-matching stripes."""
    n = 40_000
    rng = np.random.default_rng(4)
    ids = np.arange(n, dtype=np.int64)
    t = pa.table(
        {
            "id": pa.array(ids),
            "v": pa.array(ids * 3),
            # incompressible bulk so the Apache writer (which sizes
            # stripes on COMPRESSED bytes) actually splits stripes
            "pad": pa.array(
                [bytes(x) for x in rng.integers(0, 256, (n, 64),
                                                dtype=np.uint8)],
                pa.binary(),
            ),
        }
    )
    buf = io.BytesIO()
    if writer == "native":
        write_orc(t, buf, compression="zlib", rle="v2", stripe_rows=5_000)
    else:
        po.write_table(t, buf, compression="zlib", stripe_size=256 * 1024)
    data = buf.getvalue()
    full = read_orc(data)
    assert po.ORCFile(io.BytesIO(data)).nstripes > 1
    cut = int(ids[-1] * 0.8)
    pruned = read_orc(data, predicate=("id", ">", cut))
    # every matching row survives...
    got_ids = set(pruned["id"].to_pylist())
    assert {int(x) for x in ids if x > cut} <= got_ids
    # ...and whole stripes were actually eliminated
    assert pruned.num_rows < full.num_rows


def test_predicate_conjunction_pruning():
    """AND-list predicates (the SearchArgument conjunction shape): a
    range expressed as two terms keeps only the middle stripes —
    strictly fewer than either term alone — and an ==-term on a bloom
    column composes with a stats term inside the same conjunction."""
    n = 40_000
    ids = np.arange(n, dtype=np.int64)
    t = pa.table({"id": pa.array(ids), "v": pa.array(ids * 3)})
    buf = io.BytesIO()
    write_orc(t, buf, compression="zlib", rle="v2", stripe_rows=5_000,
              bloom_columns=["id"])
    data = buf.getvalue()
    lo, hi = int(n * 0.3), int(n * 0.6)
    both = read_orc(data, predicate=[("id", ">", lo), ("id", "<=", hi)])
    got_ids = set(both["id"].to_pylist())
    assert {int(x) for x in ids if lo < x <= hi} <= got_ids
    only_lo = read_orc(data, predicate=("id", ">", lo))
    only_hi = read_orc(data, predicate=("id", "<=", hi))
    assert both.num_rows < min(only_lo.num_rows, only_hi.num_rows)

    # bloom == term composes: an absent needle empties the read even
    # though the companion stats term alone keeps stripes
    absent = read_orc(
        data, predicate=[("id", "==", n + 17), ("v", ">=", 0)]
    )
    assert absent.num_rows == 0
    present = read_orc(
        data, predicate=[("id", "==", lo + 1), ("v", ">=", 0)]
    )
    assert (lo + 1) in set(present["id"].to_pylist())
    # stats cross-elimination: each term alone keeps its own stripes,
    # but no stripe satisfies both (id<5000 lives only where v<15000)
    cross = read_orc(
        data, predicate=[("id", "<", 5_000), ("v", ">", (n - 1) * 3 - 1)]
    )
    assert cross.num_rows == 0
    # empty IN inside a conjunction matches nothing
    assert read_orc(
        data, predicate=[("id", "in", []), ("v", ">=", 0)]
    ).num_rows == 0
    with pytest.raises(ValueError):
        read_orc(data, predicate=[("id", "between", 3)])
    with pytest.raises(KeyError):
        read_orc(data, predicate=[("id", ">", 1), ("nope", ">", 1)])


def test_predicate_null_and_ne_ops():
    """isnull / notnull prune on hasNull / numberOfValues; != prunes
    only stripes whose stats prove every value equals the literal or
    every value null."""
    n = 20_000
    half = n // 2
    vals = [None] * half + list(range(half, n))  # stripe 0-1 all-null
    t = pa.table(
        {
            "x": pa.array(vals, pa.int64()),
            # constant column: != on it can drop every stripe
            "c": pa.array([7] * n, pa.int64()),
        }
    )
    buf = io.BytesIO()
    write_orc(t, buf, compression="zlib", rle="v2", stripe_rows=5_000)
    data = buf.getvalue()

    nn = read_orc(data, predicate=("x", "notnull", None))
    assert nn.num_rows == half  # the two all-null stripes are skipped
    assert nn["x"].null_count == 0
    isn = read_orc(data, predicate=("x", "isnull", None))
    assert isn.num_rows == half  # the two no-null stripes are skipped
    assert isn["x"].null_count == half

    assert read_orc(data, predicate=("c", "!=", 7)).num_rows == 0
    # != is never TRUE on a null (ORC TruthValue NULL: not needed), so
    # the two all-null stripes go; on the others it is never provable
    ne = read_orc(data, predicate=("x", "!=", 123))
    assert ne.num_rows == half
    # conjunction: null op composes with a range term
    both = read_orc(
        data, predicate=[("x", "notnull", None), ("x", ">=", n - 5_000)]
    )
    assert both.num_rows == 5_000


def test_predicate_bloom_out_of_int64_literal():
    """An ==/in integer literal outside int64 range can never equal a
    stored ORC long: the bloom probe must skip (not crash on) it, an
    IN list that is ENTIRELY out of range matches nothing, and a mixed
    list prunes by its in-range members alone."""
    n = 20_000
    t = pa.table({"i": pa.array(np.arange(0, 2 * n, 2, dtype=np.int64))})
    buf = io.BytesIO()
    write_orc(t, buf, compression="zlib", rle="v2", stripe_rows=5_000,
              bloom_columns=["i"])
    data = buf.getvalue()

    # out-of-range member + absent in-range member -> bloom prunes all
    assert read_orc(data, predicate=("i", "in", [5, 2**70])).num_rows == 0
    # out-of-range member + present member -> that stripe survives
    kept = read_orc(data, predicate=("i", "in", [4, 2**70]))
    assert 4 in set(kept["i"].to_pylist())
    # entirely out-of-range ==/in -> nothing can match
    assert read_orc(data, predicate=("i", "==", -(2**63) - 1)).num_rows == 0
    assert read_orc(
        data, predicate=("i", "in", [2**70, -(2**64)])
    ).num_rows == 0


def test_predicate_date_decimal_and_cross_typed():
    """Date and decimal columns prune from their own statistics kinds
    (DateStatistics sint days, DecimalStatistics string bounds); a
    cross-typed literal keeps every stripe instead of crashing."""
    import datetime
    import decimal

    n = 20_000
    days = np.arange(n, dtype=np.int32)  # 1970-01-01 + i
    t = pa.table(
        {
            "d": pa.array(days).cast(pa.date32()),
            "m": pa.array(
                [decimal.Decimal(f"{i}.25") for i in range(n)],
                pa.decimal128(12, 2),
            ),
            "s": pa.array([f"s{i:06d}" for i in range(n)]),
        }
    )
    buf = io.BytesIO()
    write_orc(t, buf, compression="zlib", rle="v2", stripe_rows=5_000)
    data = buf.getvalue()
    full = read_orc(data)

    cut_date = datetime.date(1970, 1, 1) + datetime.timedelta(days=n - 4_000)
    by_date = read_orc(data, predicate=("d", ">=", cut_date))
    assert by_date.num_rows < full.num_rows
    assert {x.as_py() for x in t["d"] if x.as_py() >= cut_date} <= set(
        by_date["d"].to_pylist()
    )
    # int literal = raw epoch days, same stripes
    assert read_orc(
        data, predicate=("d", ">=", n - 4_000)
    ).num_rows == by_date.num_rows

    by_dec = read_orc(
        data, predicate=("m", "<", decimal.Decimal("2500.00"))
    )
    assert by_dec.num_rows < full.num_rows
    assert {
        x.as_py() for x in t["m"] if x.as_py() < decimal.Decimal("2500")
    } <= set(by_dec["m"].to_pylist())
    # int/float literals compare exactly against Decimal bounds
    assert read_orc(data, predicate=("m", "<", 2500)).num_rows \
        == by_dec.num_rows

    # cross-typed: int literal against string stats -> keep everything
    assert read_orc(data, predicate=("s", ">", 12)).num_rows == n


def test_predicate_date_decimal_apache_writer():
    """The same Date/DecimalStatistics pruning against an Apache-
    written file (its own stats rendering, multi-stripe)."""
    import datetime
    import decimal

    n = 40_000
    rng = np.random.default_rng(1)
    t = pa.table(
        {
            "d": pa.array(np.arange(n, dtype=np.int32)).cast(pa.date32()),
            "m": pa.array(
                [decimal.Decimal(f"{i}.25") for i in range(n)],
                pa.decimal128(12, 2),
            ),
            "pad": pa.array(
                [bytes(x) for x in rng.integers(0, 256, (n, 64),
                                                dtype=np.uint8)],
                pa.binary(),
            ),
        }
    )
    buf = io.BytesIO()
    po.write_table(t, buf, compression="zlib", stripe_size=256 * 1024)
    data = buf.getvalue()
    assert po.ORCFile(io.BytesIO(data)).nstripes > 1
    full = read_orc(data)
    cut = datetime.date(1970, 1, 1) + datetime.timedelta(days=n - 5_000)
    p1 = read_orc(data, predicate=("d", ">=", cut))
    p2 = read_orc(data, predicate=("m", "<", decimal.Decimal("2500")))
    assert p1.num_rows < full.num_rows and p2.num_rows < full.num_rows
    assert {x.as_py() for x in t["d"] if x.as_py() >= cut} <= set(
        p1["d"].to_pylist()
    )
    assert {x.as_py() for x in t["m"] if x.as_py() < 2500} <= set(
        p2["m"].to_pylist()
    )


@pytest.mark.parametrize("writer", ["native", "apache"])
def test_predicate_timestamp_pruning(writer):
    """TimestampStatistics pruning uses ONLY the UTC ms pair (widened
    1 ms per side for sub-ms truncation); datetime literals — naive
    treated as UTC — and datetime.date literals both prune."""
    import datetime

    n = 20_000
    base = 1_600_000_000  # 2020-09-13T12:26:40Z
    sec = base + np.arange(n, dtype=np.int64)
    ns = sec * 10**9 + 123_456  # sub-ms part exercises the widening
    rng = np.random.default_rng(9)
    t = pa.table(
        {
            "ts": pa.array(ns).cast(pa.timestamp("ns")),
            # incompressible bulk so the Apache writer (which sizes
            # stripes on COMPRESSED bytes) actually splits stripes
            "pad": pa.array(
                [bytes(x) for x in rng.integers(0, 256, (n, 64),
                                                dtype=np.uint8)],
                pa.binary(),
            ),
        }
    )
    buf = io.BytesIO()
    if writer == "native":
        write_orc(t, buf, compression="zlib", rle="v2", stripe_rows=5_000)
    else:
        po.write_table(t, buf, compression="zlib", stripe_size=128 * 1024)
    data = buf.getvalue()
    assert po.ORCFile(io.BytesIO(data)).nstripes > 1
    full = read_orc(data)

    cut_s = base + n - 4_000
    cut = datetime.datetime.fromtimestamp(cut_s, datetime.timezone.utc)
    for lit in (cut, cut.replace(tzinfo=None)):  # aware and naive-UTC
        pruned = read_orc(data, predicate=("ts", ">=", lit))
        assert pruned.num_rows < full.num_rows
        want = {x.as_py() for x in t["ts"]
                if x.as_py().timestamp() >= cut_s}
        assert want <= set(pruned["ts"].to_pylist())
    # boundary exactness under the 1 ms widening: a == probe for a
    # present value keeps its stripe
    mid = datetime.datetime.fromtimestamp(
        base + 10, datetime.timezone.utc
    ) + datetime.timedelta(microseconds=123)  # 123456 ns ≈ 123 µs
    eq = read_orc(data, predicate=("ts", "==", mid.replace(tzinfo=None)))
    assert eq.num_rows >= 1
    # a date literal prunes as midnight UTC
    d0 = datetime.datetime.fromtimestamp(
        base + n, datetime.timezone.utc
    ).date() + datetime.timedelta(days=2)
    assert read_orc(data, predicate=("ts", ">", d0)).num_rows == 0


def test_empty_and_errors():
    e = pa.table({"x": pa.array([], pa.int64())})
    buf = io.BytesIO()
    po.write_table(e, buf)
    got = read_orc(buf.getvalue())
    assert got.num_rows == 0 and got.column_names == ["x"]
    with pytest.raises(ValueError):
        read_orc(b"PAR1notorc")


def test_foreign_fuzz_seeded():
    """Seeded distribution sweep through the Apache writer — monotonic
    ramps (delta), heavy repeats (short-repeat), outlier-spiked
    (patched base), all-null, tiny."""
    rng = np.random.default_rng(99)
    n = 10_000
    spiked = rng.integers(0, 100, n)
    spiked[rng.integers(0, n, 20)] = 2**50
    cases = {
        "ramp": np.arange(n, dtype=np.int64) * 7 - n,
        "rep": np.repeat(rng.integers(0, 5, n // 100), 100),
        "spiked": spiked,
        "rand": rng.integers(-(2**60), 2**60, n),
    }
    t = pa.table(
        {k: pa.array(v.astype(np.int64)) for k, v in cases.items()}
        | {"allnull": pa.nulls(n, pa.string())}
    )
    buf = io.BytesIO()
    po.write_table(t, buf, compression="zstd", stripe_size=32 * 1024)
    data = buf.getvalue()
    _assert_tables_eq(read_orc(data), po.ORCFile(io.BytesIO(data)).read())


def test_decimal_38_digit_precision_exact():
    """Unscaled values with >28 significant digits must survive both
    directions exactly — the default decimal context's 28-digit
    precision must never round the scaleb shifts (write OR read)."""
    import decimal

    big = decimal.Decimal("-99999999999999999999999999.9999")  # 30 sig
    vals = [
        big,
        decimal.Decimal("9999999999999999999999999999999999.9999"),  # 38
        decimal.Decimal("0.0001"),
        None,
        decimal.Decimal("-1234567890123456789012345678901234.5678"),
    ]
    t = pa.table({"d": pa.array(vals, pa.decimal128(38, 4))})
    # our writer -> Apache reader AND our reader
    buf = io.BytesIO()
    write_orc(t, buf)
    data = buf.getvalue()
    assert po.ORCFile(io.BytesIO(data)).read().cast(t.schema).equals(t)
    assert read_orc(data).cast(t.schema).equals(t)
    # Apache writer -> our reader
    buf2 = io.BytesIO()
    po.write_table(t, buf2)
    got = read_orc(buf2.getvalue())
    assert got.cast(t.schema).equals(t)
    # decimal128(38,0) max-ish integer through the foreign leg
    t0 = pa.table({"d": pa.array([decimal.Decimal(10**37 - 1)],
                                 pa.decimal128(38, 0))})
    buf3 = io.BytesIO()
    po.write_table(t0, buf3)
    assert read_orc(buf3.getvalue()).cast(t0.schema).equals(t0)


def test_lz4_corrupt_offset_raises():
    """A corrupt raw-LZ4 sequence with match offset 0 (or past the
    output) must raise, not hang the reader worker."""
    from orc_format_spark.sources.orc_read import _lz4_block

    # token 0x00: 0 literals, then match offset bytes 00 00 -> off=0
    with pytest.raises(ValueError, match="corrupt lz4 match offset"):
        _lz4_block(b"\x00\x00\x00", 1 << 16)
    # 1 literal then an offset pointing before the start of output
    with pytest.raises(ValueError, match="corrupt lz4 match offset"):
        _lz4_block(b"\x10A\x05\x00", 1 << 16)


def test_lz4_corrupt_literal_and_match_bounds():
    """Truncated literal runs raise (never silently return short
    data), and a corrupt extended match length is rejected BEFORE
    materializing the replicated bytes (offset-1 'decompression bomb'
    stays bounded by the declared block size)."""
    import tracemalloc

    from orc_format_spark.sources.orc_read import _lz4_block

    # token 0xF0 + ext 5 declares 20 literals; only 3 bytes follow
    with pytest.raises(ValueError, match="literal run past end"):
        _lz4_block(bytes([0xF0, 5]) + b"abc", 1 << 20)
    # 1 literal, offset 1, match len 19 + 255*8000 extensions: would
    # replicate ~2 MB from an 8 KB chunk; the pre-materialization
    # bound must raise while allocation stays ~block_size
    bomb = b"\x1fA\x01\x00" + b"\xff" * 8000 + b"\x00"
    tracemalloc.start()
    with pytest.raises(ValueError, match="past block size"):
        _lz4_block(bomb, 4096)
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert peak < 1 << 20, f"bomb materialized {peak} bytes"
    # a VALID overlapping match still decodes: 1 literal 'A',
    # offset 1, match 4 -> 'AAAAA'
    assert _lz4_block(b"\x10A\x01\x00", 64) == b"AAAAA"


@pytest.mark.parametrize("rle", ["v1", "v2"])
def test_corrupt_orc_never_silently_short(tmp_path, rle):
    """Adversarial bytes through the whole in-repo reader: EVERY
    truncation of a valid ORC file must raise (never return fewer rows
    than written), and random single-byte flips must either raise
    cleanly or return a decoded table — no hangs, no interpreter-level
    crashes, no silent short reads. This is the file-level analog of
    the blob fuzz in test_fuzz_blob.py; the RLEv2 delta-desync and lz4
    truncation guards exist because this class of input reaches the
    reader through foreign files."""
    import numpy as np

    from orc_format_spark.sources.orc_file import write_orc
    from orc_format_spark.sources.orc_read import read_orc

    rng = np.random.default_rng(7)
    tbl = pa.table({
        "i": pa.array(rng.integers(-1000, 1000, 500), pa.int64()),
        "s": pa.array([f"v{i % 17}" for i in range(500)]),
        "f": pa.array(rng.normal(size=500)),
    })
    p = tmp_path / "base.orc"
    write_orc(tbl, str(p), rle=rle, compression="zstd")
    data = p.read_bytes()
    n = len(data)
    victim = tmp_path / "victim.orc"

    def probe(payload):
        victim.write_bytes(payload)
        return read_orc(str(victim))

    cuts = list(range(1, n, 61)) + list(range(max(1, n - 20), n))
    for cut in cuts:
        try:
            got = probe(data[:cut])
        except Exception:
            continue  # any loud Python error is the correct outcome
        pytest.fail(
            f"truncation at {cut}/{n} returned {got.num_rows} rows "
            "instead of raising"
        )
    for _ in range(60):
        i = int(rng.integers(0, n))
        b = bytearray(data)
        b[i] ^= 0xFF
        try:
            got = probe(bytes(b))
        except Exception:
            continue  # clean raise: fine
        # a flip that still decodes is legitimate in a checksumless
        # format, but it must yield a well-formed table
        assert got.num_columns == 3


def test_rle_v2_delta_n1_desync_raises():
    """A foreign/corrupt RLEv2 stream claiming a variable-width delta
    run of n=1 would give the header walk a NEGATIVE payload length
    and silently desync (re-reading prior bytes as headers); it must
    raise instead."""
    from orc_format_spark.codecs.rle_v2 import decode_int_rle_v2

    # delta header: kind=3, width code 8 (dfield!=0), n=1
    # h0 = 0b11_01000_0 (kind 3, dfield code 8, high n bit 0), n-1=0
    h0 = (3 << 6) | (8 << 1)
    bad = bytes([h0, 0x00, 0x02, 0x02])  # base=1 zigzag, d0=1 zigzag
    with pytest.raises(ValueError, match="delta run with n < 2"):
        decode_int_rle_v2(bad, signed=True)


def test_string_stats_sum_is_utf8_bytes():
    """StringStatistics.sum counts UTF-8 bytes (Apache convention),
    not codepoints — parse our footer stats and compare to Apache's
    for the same non-ASCII table."""
    from orc_format_spark.sources.orc_read import (
        _file_tail,
        _proto_fields,
    )

    def string_sum(data: bytes) -> int:
        _ps, _comp, _bs, footer, _meta = _file_tail(data)
        # reparse raw footer stats: field 7 -> ColumnStatistics of col 1
        blob = footer["stats"][1]
        for fno, _wt, v in _proto_fields(blob):
            if fno == 4:  # StringStatistics
                for f2, _w2, v2 in _proto_fields(v):
                    if f2 == 3:  # sint64 sum
                        return (v2 >> 1) ^ -(v2 & 1)
        raise AssertionError("no string sum found")

    t = pa.table({"s": pa.array(["éé", "abc", None, "日本"])})
    want = len("éé".encode()) + len("abc".encode()) + len("日本".encode())
    ours, apache = io.BytesIO(), io.BytesIO()
    write_orc(t, ours)
    po.write_table(t, apache)
    assert string_sum(ours.getvalue()) == want
    assert string_sum(apache.getvalue()) == want


# ------------------------------------------------- non-UTC writerTimezone


_TZ_FIXTURES = {
    # genuine ORC-Java-written files (scripts/make_tz_fixtures.py): the
    # JVM default TimeZone under orc.use.utc.timestamp=false stamps the
    # stripe footer and rebases stored seconds on 2015-01-01 00:00:00
    # wall clock IN THAT ZONE — the layout Hive-era writers produce
    "tz_los_angeles.orc": "America/Los_Angeles",
    "tz_kolkata.orc": "Asia/Kolkata",
    "tz_sydney.orc": "Australia/Sydney",
}

# the wall clocks the writer saw — both Apache readers restore these
# (ORC-Java read back in the writer zone; ORC-C++ converting
# writer->reader), so our reader must too, for every zone identically
_TZ_WALLS = [
    "2015-06-01 12:00:00",
    "2014-12-31 23:59:59.500000",
    "2020-03-08 01:59:59.123456789",
    "2020-03-08 03:00:00",
    "2020-11-01 01:30:00",
    "1969-12-31 15:59:59",
    "1960-02-29 06:00:00.250000",
    "2015-01-01 00:00:00",
]


@pytest.mark.parametrize("fixture", sorted(_TZ_FIXTURES))
def test_foreign_timezone_wall_clock_restore(fixture):
    import os

    path = os.path.join(os.path.dirname(__file__), "fixtures", fixture)
    data = open(path, "rb").read()

    # the fixture must stay genuine: a non-UTC zone in the stripe footer
    from orc_format_spark.sources.orc_read import (
        _decompress,
        _file_tail,
        _parse_stripe_footer,
    )

    _ps, comp, bs, footer, _meta = _file_tail(data)
    info = footer["stripes"][0]
    end = info["offset"] + info["index_len"] + info["data_len"]
    sf = _parse_stripe_footer(
        _decompress(data[end : end + info["footer_len"]], comp, bs)
    )
    assert sf["tz"] == _TZ_FIXTURES[fixture]

    got = [str(v) for v in read_orc(data).column("ts").to_pylist()]
    assert got == _TZ_WALLS
    # and the independent Apache C++ reader agrees byte-for-byte
    apache = [str(v) for v in po.read_table(path).column("ts").to_pylist()]
    assert got == apache


def test_foreign_timezone_predicate_prune_sound():
    """Stats prune on a non-UTC file: TimestampStatistics carry UTC
    instants while decoded values (and predicate literals) are writer
    wall clocks — the 15h slack must keep every stripe a wall-clock
    literal could match, while a literal decades away still prunes."""
    import datetime
    import os

    path = os.path.join(
        os.path.dirname(__file__), "fixtures", "tz_los_angeles.orc"
    )
    # == on a wall clock present in the file: the (single) stripe must
    # survive pruning and the row must come back
    hit = read_orc(
        path, predicate=("ts", "==", datetime.datetime(2015, 6, 1, 12, 0, 0))
    )
    walls = [str(v) for v in hit.column("ts").to_pylist()]
    assert "2015-06-01 12:00:00" in walls
    # a range far outside the data (beyond any zone offset) still prunes
    miss = read_orc(
        path, predicate=("ts", ">=", datetime.datetime(2150, 1, 1))
    )
    assert miss.num_rows == 0
    # != must not prune through widened bounds
    ne = read_orc(
        path, predicate=("ts", "!=", datetime.datetime(2015, 6, 1, 12, 0, 0))
    )
    assert ne.num_rows == len(_TZ_WALLS)


def test_unknown_writer_timezone_raises():
    from orc_format_spark.sources.orc_read import _writer_zone

    with pytest.raises(NotImplementedError, match="tz database"):
        _writer_zone("Not/A_Zone")


def test_decimal_fast_slow_boundary():
    """_decode_decimals picks the vectorized int64-limb path only when
    every varint is <=9 bytes; a single 63-bit-exceeding value must
    flip the whole stream to the exact big-int path with identical
    results around the boundary."""
    import decimal

    from orc_format_spark.codecs.container import _encode_varint128
    from orc_format_spark.sources.orc_read import _decode_decimals

    D = decimal.Decimal
    small = [2**61, -(2**61), 0, 1, -1, 10**18 - 1, -(10**18) + 1]
    big = small + [2**100, -(2**100)]  # forces >9-byte varints
    for vals, prec in ((small, 18), (big, 38)):
        buf = _encode_varint128(vals)
        scales = np.full(len(vals), 2)
        got = _decode_decimals(buf, scales, len(vals), prec, 2)
        with decimal.localcontext() as ctx:
            ctx.prec = 76  # exact shift, no 28-digit default rounding
            want = [D(v).scaleb(-2) for v in vals]
        assert got.to_pylist() == want


# --------------------------------------------- row-group (index) skipping


def _rg_table(n=25_000):
    import datetime
    import decimal

    D = decimal.Decimal
    return pa.table({
        "k": pa.array(np.arange(n), pa.int64()),
        "ni": pa.array(
            [None if x % 7 == 0 else int(x) for x in range(n)], pa.int32()
        ),
        "f": pa.array(np.arange(n) * 0.5, pa.float64()),
        "s": pa.array([f"val{x:06d}" for x in range(n)]),
        "dct": pa.array([f"cat{x % 50:03d}" for x in range(n)]),
        "b": pa.array((np.arange(n) >= 20_000).tolist(), pa.bool_()),
        "ts": pa.array(
            [datetime.datetime(2020, 1, 1)
             + datetime.timedelta(seconds=int(x)) for x in range(n)],
            pa.timestamp("ns"),
        ),
        "dec": pa.array(
            [D(int(x)).scaleb(-2) for x in range(n)], pa.decimal128(18, 2)
        ),
        "lst": pa.array([[int(x), int(x) + 1] for x in range(n)],
                        pa.list_(pa.int32())),
        "stc": pa.array([{"a": int(x), "b": f"s{x % 9}"} for x in range(n)],
                        pa.struct([("a", pa.int64()), ("b", pa.string())])),
        "mp": pa.array([{"m": int(x)} for x in range(n)],
                       pa.map_(pa.string(), pa.int64())),
    })


@pytest.mark.parametrize("comp", ["uncompressed", "zlib", "zstd"])
def test_row_group_skipping_apache_files(comp):
    """Apache-written files with 2k-row index groups: predicates must
    decode only the covering groups (positions-seeked streams for every
    type incl. nulls/dict/timestamp/decimal/list/struct/map), with the
    returned window byte-equal to pyarrow's view of the same rows."""
    n = 25_000
    t = _rg_table(n)
    buf = io.BytesIO()
    po.write_table(t, buf, row_index_stride=2_000, compression=comp,
                   stripe_size=64 * 1024 * 1024,
                   bloom_filter_columns=[t.column_names.index("s")])
    data = buf.getvalue()
    ref = po.read_table(io.BytesIO(data))

    got = read_orc(data, predicate=[("k", ">=", 12_000), ("k", "<", 13_000)])
    assert got.num_rows == 2_000  # exactly one group
    ks = got.column("k").to_pylist()
    assert ks[0] == 12_000 and ks[-1] == 13_999
    exp = ref.slice(ks[0], got.num_rows)
    for c in t.column_names:
        g, e = got.column(c).combine_chunks(), exp.column(c).combine_chunks()
        if g.type != e.type:
            g = g.cast(e.type)
        assert g.equals(e), (comp, c)

    # bloom per row group: a point lookup decodes one group
    got2 = read_orc(data, predicate=("s", "==", "val017500"))
    assert got2.num_rows == 2_000
    assert "val017500" in got2.column("s").to_pylist()
    # no group admits
    assert read_orc(data, predicate=("k", ">", 10**9)).num_rows == 0
    # first group needs no seek (prefix decode with count-stops)
    got4 = read_orc(data, predicate=("k", "<", 5))
    assert got4.num_rows == 2_000 and got4.column("k").to_pylist()[0] == 0
    # disjoint groups: interior groups dropped from the output
    got5 = read_orc(data, predicate=("k", "in", [100, 23_000]))
    ks5 = got5.column("k").to_pylist()
    assert got5.num_rows == 4_000 and 100 in ks5 and 23_000 in ks5
    assert not any(5_000 <= v < 22_000 for v in ks5)
    # hasNull=false groups don't exist for ni: isnull keeps everything
    assert read_orc(data, predicate=("ni", "isnull", None)).num_rows == n


def test_row_group_skipping_multi_stripe():
    """Stripe elimination and row-group elimination compose: a needle
    lands in one group of one stripe."""
    n = 40_000
    t = pa.table({
        "k": pa.array(np.arange(n), pa.int64()),
        "s": pa.array([f"row{x:06d}" for x in range(n)]),
    })
    buf = io.BytesIO()
    po.write_table(t, buf, row_index_stride=1_000, compression="zlib",
                   stripe_size=64 * 1024, batch_size=5_000)
    data = buf.getvalue()
    from orc_format_spark.sources.orc_read import _file_tail

    _ps, _comp, _bs, footer, _meta = _file_tail(data)
    assert len(footer["stripes"]) >= 2  # stripe_size forced several
    got = read_orc(data, predicate=("k", "==", 31_337))
    assert got.num_rows <= 2_000  # <= one group (+ partial tail group)
    assert 31_337 in got.column("k").to_pylist()
    assert [str(v) for v in got.column("s").to_pylist()] == [
        f"row{v:06d}" for v in got.column("k").to_pylist()
    ]


def test_row_group_skipping_fuzz():
    """Seeded sweep: random predicates over random strides must always
    return a superset of the exact matches, and the rows returned must
    byte-match pyarrow's read of the same file."""
    rng = np.random.default_rng(99)
    n = 12_000
    vals = np.sort(rng.integers(0, 100_000, n))
    strs = np.array([f"x{v:07d}" for v in vals])
    t = pa.table({"k": pa.array(vals, pa.int64()), "s": pa.array(strs)})
    for stride in (1_000, 3_000):
        buf = io.BytesIO()
        po.write_table(t, buf, row_index_stride=stride, compression="zstd",
                       stripe_size=64 * 1024 * 1024)
        data = buf.getvalue()
        ref = po.read_table(io.BytesIO(data))
        kf = np.asarray(ref.column("k"))
        for _ in range(25):
            op = ["<", "<=", "==", "!=", ">=", ">", "in"][rng.integers(0, 7)]
            lit = int(rng.integers(-5_000, 105_000))
            pred_lit = ([int(x) for x in
                         rng.integers(0, 100_000, 3)] if op == "in" else lit)
            got = read_orc(data, predicate=("k", op, pred_lit))
            gk = got.column("k").to_pylist()
            # superset of exact matches
            if op == "in":
                want = np.isin(kf, pred_lit)
            else:
                want = eval(f"kf {op if op != '==' else '=='} lit") \
                    if op != "in" else None
            missing = set(kf[want].tolist()) - set(gk)
            assert not missing, (stride, op, pred_lit, sorted(missing)[:5])
            # returned rows are real rows with aligned columns
            gs = got.column("s").to_pylist()
            assert gs == [f"x{v:07d}" for v in gk], (stride, op)


# ------------------------------------- bounded stream reads per group run


_BOUNDED_PREDS = [
    ("k", "==", 4_321),
    ("k", "!=", 7),
    ("k", "<", 2_500),
    ("k", "<=", 1_999),
    ("k", ">", 22_001),
    ("k", ">=", 20_000),
    ("k", "in", [100, 2_100, 9_000, 9_500, 15_999, 16_000, 24_999]),
    ("k", "isnull", None),
    ("k", "notnull", None),
    [("k", ">=", 3_000), ("k", "<", 7_000)],
    ("or", [("k", "<", 10), ("k", ">", 24_990)]),
    ("not", ("k", ">=", 1)),
    ("stc.a", "in", [5, 13_000]),
]


def _group_runs_want(full: pa.Table, pred, stride: int) -> pa.Table:
    """The rows of every group the RowIndexEntry min/max of ``k`` (equal
    to ``stc.a``) admit, from a full read: the row-group contract."""
    from orc_format_spark.predicate import Stats, may_match, normalize

    tree = normalize(pred)
    ks = np.asarray(full.column("k"))
    parts = []
    for a in range(0, full.num_rows, stride):
        g = ks[a : a + stride]
        st = Stats(int(g.min()), int(g.max()), False, g.size)
        if may_match(tree, lambda col: st):
            parts.append(full.slice(a, g.size))
    return pa.concat_tables(parts) if parts else full.slice(0, 0)


@pytest.mark.parametrize("writer", ["apache-zlib", "apache-zstd",
                                    "apache-none", "ours-zstd", "ours-none"])
def test_bounded_reads_match_full_stripe(writer):
    """Each run of kept groups decodes from its first group's recorded
    positions and stops decompressing at the next group's. On files
    whose compression blocks (1 KiB on the Apache side), RLE runs and
    row groups straddle each other, every op (``in`` included, over
    adjacent and disjoint groups) returns exactly the admitted groups'
    rows of a full-stripe read."""
    n, stride = 25_000, 2_000
    t = _rg_table(n)
    buf = io.BytesIO()
    kind, comp = writer.split("-")
    if kind == "apache":
        po.write_table(t, buf, row_index_stride=stride,
                       compression={"none": "uncompressed"}.get(comp, comp),
                       compression_block_size=1024,
                       stripe_size=64 * 1024 * 1024)
    else:
        write_orc(t, buf, compression=comp, rle="v2", stripe_rows=n,
                  row_index_stride=stride)
    data = buf.getvalue()
    full = read_orc(data)
    for pred in _BOUNDED_PREDS:
        got = read_orc(data, predicate=pred)
        want = _group_runs_want(full, pred, stride)
        assert got.num_rows == want.num_rows, (writer, pred)
        for c in t.column_names:
            assert _col_eq(got[c], want[c]), (writer, pred, c)


def test_unseekable_stripe_reads_runs_from_the_start(monkeypatch):
    """When a column's positions can't be used (no index, a foreign
    layout), every run of kept groups is cut out of one decode from the
    stripe start: same rows as the positioned reads."""
    from orc_format_spark.sources import orc_read

    n, stride = 25_000, 2_000
    t = _rg_table(n)
    buf = io.BytesIO()
    po.write_table(t, buf, row_index_stride=stride, compression="zstd",
                   compression_block_size=1024, stripe_size=64 * 1024 * 1024)
    data = buf.getvalue()
    want = {str(p): read_orc(data, predicate=p) for p in _BOUNDED_PREDS}
    monkeypatch.setattr(orc_read, "_build_seeks", lambda *a, **k: None)
    for pred in _BOUNDED_PREDS:
        got = read_orc(data, predicate=pred)
        assert got.num_rows == want[str(pred)].num_rows, pred
        for c in t.column_names:
            assert _col_eq(got[c], want[str(pred)][c]), (pred, c)


def _stream_at(data: bytes, col: int, kind: int) -> int:
    """File offset of a stream of stripe 0 of an uncompressed file."""
    from orc_format_spark.sources.orc_read import (
        _decompress,
        _file_tail,
        _parse_stripe_footer,
    )

    _ps, comp, bs, footer, _meta = _file_tail(data)
    assert comp == "none"
    info = footer["stripes"][0]
    end = info["offset"] + info["index_len"] + info["data_len"]
    sf = _parse_stripe_footer(
        _decompress(data[end : end + info["footer_len"]], comp, bs))
    pos = info["offset"]
    for k, c, ln in sf["streams"]:
        if (k, c) == (kind, col):
            return pos
        pos += ln
    raise AssertionError(f"no stream {kind} for column {col}")


def _index_varint(data: bytes, col: int, group: int, which: int):
    """(file offset, byte length, value) of position ``which`` of
    RowIndexEntry ``group`` of column ``col`` in an uncompressed
    single-stripe file whose writer emits unpacked positions."""
    from orc_format_spark.sources.orc_file import _ROW_INDEX

    def varint(pos):  # -> (value, first byte after it)
        v = shift = 0
        while True:
            b = data[pos]
            v |= (b & 0x7F) << shift
            pos += 1
            if b < 0x80:
                return v, pos
            shift += 7

    pos = _stream_at(data, col, _ROW_INDEX)
    for _ in range(group + 1):  # RowIndex.entry: field 1, length-prefixed
        assert data[pos] == 0x0A
        ln, entry = varint(pos + 1)
        pos = entry + ln
    for _ in range(which + 1):  # RowIndexEntry.positions: field 1, varint
        assert data[entry] == 0x08
        at = entry + 1
        v, entry = varint(at)
    return at, entry - at, v


def test_forged_end_position_raises():
    """A RowIndexEntry position that ends the kept group's bytes early
    must raise, never return a short column: cut inside a run, and cut
    at a run boundary of the only projected column."""
    from orc_format_spark.codecs.rle_v2 import decode_int_rle_v2
    from orc_format_spark.sources.orc_file import _DATA

    n, stride = 6_000, 1_000
    k = np.cumsum(np.random.default_rng(4).integers(1, 5_000, n))
    t = pa.table({"k": pa.array(k, pa.int64()),
                  "s": pa.array([f"v{x:05d}" for x in range(n)])})
    buf = io.BytesIO()
    write_orc(t, buf, compression="none", rle="v2", stripe_rows=n,
              row_index_stride=stride, dict_strings=False)
    data = buf.getvalue()
    pred = ("k", "==", int(k[1_500]))  # group 1; group 2's positions end it
    assert read_orc(data, predicate=pred).num_rows == stride

    def short_run_prefix(raw: bytes) -> bool:
        try:
            return 0 < decode_int_rle_v2(raw).size < stride
        except (ValueError, IndexError):  # cut inside a run
            return False

    for col in (1, 2):  # k's RLEv2 DATA stream, s's raw DATA bytes
        _, _, start = _index_varint(data, col, 1, 0)
        at, nb, end = _index_varint(data, col, 2, 0)
        assert end > start + 2
        cuts = [end - 1, (start + end) // 2]
        if col == 1:
            group = data[_stream_at(data, col, _DATA) + start :][: end - start]
            cuts.append(start + next(c for c in range(len(group) - 1, 0, -1)
                                     if short_run_prefix(group[:c])))
        for cut in cuts:
            forged = bytearray(data)
            for i in range(nb):  # same byte length: a padded varint
                forged[at + i] = ((cut >> (7 * i)) & 0x7F) | (0x80 if i < nb - 1 else 0)
            for columns in (None, [t.column_names[col - 1]]):
                with pytest.raises(ValueError):
                    read_orc(bytes(forged), columns=columns, predicate=pred)
            # an unpruned read never consults the positions
            assert read_orc(bytes(forged)).equals(read_orc(data))


def test_bytes_past_the_end_block_are_never_read():
    """Flipping every compressed block after the one that holds the
    kept group's end leaves a point lookup unchanged (those blocks are
    never decompressed), while a full read now fails or differs."""
    from orc_format_spark.sources.orc_read import (
        _decompress,
        _file_tail,
        _parse_stripe_footer,
    )

    n, stride = 60_000, 10_000
    rng = np.random.default_rng(3)
    t = pa.table({
        "k": pa.array(np.arange(n), pa.int64()),
        "f": pa.array(rng.normal(size=n), pa.float64()),
        "s": pa.array([f"row-{x:07d}-{x % 13}" for x in range(n)]),
    })
    buf = io.BytesIO()
    write_orc(t, buf, compression="zstd", rle="v2", stripe_rows=n,
              row_index_stride=stride, dict_strings=False)
    data = buf.getvalue()
    pred = ("k", "==", 1_234)
    want = read_orc(data, predicate=pred)
    assert want.num_rows == stride

    _ps, comp, bs, footer, _meta = _file_tail(data)
    info = footer["stripes"][0]
    end = info["offset"] + info["index_len"] + info["data_len"]
    sf = _parse_stripe_footer(
        _decompress(data[end : end + info["footer_len"]], comp, bs))
    bad = bytearray(data)
    flipped = 0
    pos = info["offset"]
    for kind, _col, ln in sf["streams"]:
        blk = pos
        first = True
        while kind in (1, 2) and blk < pos + ln:  # DATA, LENGTH streams
            length = int.from_bytes(data[blk : blk + 3], "little") >> 1
            # group 1 starts inside each stream's first 256 KiB block
            if not first:
                for j in range(blk + 3, blk + 3 + length, 97):
                    bad[j] ^= 0xFF
                flipped += 1
            first = False
            blk += 3 + length
        pos += ln
    assert flipped >= 2
    assert read_orc(bytes(bad), predicate=pred).equals(want)
    try:
        differs = not read_orc(bytes(bad)).equals(read_orc(data))
    except (ValueError, OSError, pa.ArrowException):
        differs = True
    assert differs


def test_foreign_streams_stop_two_runs_past_the_next_group():
    """On an Apache-written file the next group's positions carry run
    offsets into RLE runs still buffered there, so they can't bound a
    read exactly; a lookup reads at most two RLE runs past them. With
    1 KiB compression blocks, flipping every block of the large
    streams after their first quarter leaves a group-0 lookup (and an
    ``in`` over groups 0 and 1) unchanged, while a full read fails or
    differs."""
    from orc_format_spark.sources.orc_read import (
        _decompress,
        _file_tail,
        _parse_stripe_footer,
    )

    n, stride = 25_000, 2_000
    rng = np.random.default_rng(11)
    t = pa.table({
        "k": pa.array(np.arange(n), pa.int64()),
        "r": pa.array(rng.integers(-(1 << 40), 1 << 40, n), pa.int64()),
        "f": pa.array(rng.normal(size=n), pa.float64()),
        "s": pa.array([f"v{x:07d}-{x * 7919 % 1009}" for x in range(n)]),
    })
    buf = io.BytesIO()
    po.write_table(t, buf, row_index_stride=stride, compression="zstd",
                   compression_block_size=1024, stripe_size=64 * 1024 * 1024)
    data = buf.getvalue()
    preds = [("k", "==", 1_234), ("k", "in", [5, 2_100])]
    want = [read_orc(data, predicate=p) for p in preds]
    assert [w.num_rows for w in want] == [stride, 2 * stride]

    _ps, comp, bs, footer, _meta = _file_tail(data)
    info = footer["stripes"][0]
    end = info["offset"] + info["index_len"] + info["data_len"]
    sf = _parse_stripe_footer(
        _decompress(data[end : end + info["footer_len"]], comp, bs))
    bad = bytearray(data)
    flipped = set()
    pos = info["offset"]
    for kind, col, ln in sf["streams"]:
        blk = pos
        while kind in (1, 2) and ln > 64 * 1024 and blk < pos + ln:
            length = int.from_bytes(data[blk : blk + 3], "little") >> 1
            if blk - pos > ln // 4:
                bad[blk + 3 : blk + 3 + length] = bytes(
                    b ^ 0xFF for b in data[blk + 3 : blk + 3 + length])
                flipped.add(col)
            blk += 3 + length
        pos += ln
    assert {2, 3} <= flipped  # r's RLEv2 runs, f's raw bytes
    for p, w in zip(preds, want):
        assert read_orc(bytes(bad), predicate=p).equals(w), p
    try:
        differs = not read_orc(bytes(bad)).equals(read_orc(data))
    except (ValueError, OSError, pa.ArrowException):
        differs = True
    assert differs


def _nested_table(n=500):
    inner = pa.struct([("x", pa.int64()), ("y", pa.string())])
    outer = pa.struct([("a", pa.int64()), ("b", pa.string()),
                       ("inner", inner)])
    return pa.table({
        "k": pa.array(np.arange(n), pa.int64()),
        "s": pa.array(
            [None if i % 11 == 0 else
             {"a": i, "b": f"b{i}",
              "inner": None if i % 7 == 0 else {"x": i * 2, "y": f"y{i}"}}
             for i in range(n)], outer),
    })


@pytest.mark.parametrize("writer", ["apache", "ours"])
def test_nested_projection_values(writer):
    """Dotted columns= paths prune struct subtrees at any depth and
    return exactly pyarrow's view of the same leaves (both writer
    legs)."""
    t = _nested_table()
    if writer == "apache":
        buf = io.BytesIO()
        po.write_table(t, buf)
        data = buf.getvalue()
    else:
        bo = io.BytesIO(); write_orc(t, bo, compression="zstd"); data = bo.getvalue()
    ref = po.read_table(io.BytesIO(data))

    got = read_orc(data, columns=["s.inner.y", "k"])
    assert got.column_names == ["s", "k"]
    assert got.column("k").to_pylist() == ref.column("k").to_pylist()
    want = [None if r is None else
            {"inner": None if r["inner"] is None
             else {"y": r["inner"]["y"]}}
            for r in ref.column("s").to_pylist()]
    assert got.column("s").to_pylist() == want

    # "s" alongside "s.a" widens to the whole struct
    whole = read_orc(data, columns=["s.a", "s"])
    assert whole.column("s").to_pylist() == ref.column("s").to_pylist()

    # two sibling leaves keep selection order
    two = read_orc(data, columns=["s.b", "s.a"])
    assert [f.name for f in two.schema.field("s").type] == ["b", "a"]
    assert two.column("s").to_pylist() == [
        None if r is None else {"b": r["b"], "a": r["a"]}
        for r in ref.column("s").to_pylist()
    ]


def test_nested_projection_skips_pruned_streams(monkeypatch):
    """The pruned siblings' streams are never decompressed: with
    columns=["s.inner.y"], preorder column ids for a/b/x (3, 4, 6) must
    never be requested from the stripe."""
    from orc_format_spark.sources import orc_read as mod

    t = _nested_table()
    bo = io.BytesIO(); write_orc(t, bo, compression="zstd"); data = bo.getvalue()
    asked = set()
    orig = mod._Stripe.stream

    def spy(self, col, kind):
        asked.add(col)
        return orig(self, col, kind)

    monkeypatch.setattr(mod._Stripe, "stream", spy)
    got = read_orc(data, columns=["s.inner.y"])
    assert got.num_rows == t.num_rows
    # preorder: 0 root, 1 k, 2 s, 3 a, 4 b, 5 inner, 6 x, 7 y
    assert asked & {1, 3, 4, 6} == set(), asked
    assert {2, 5, 7} <= asked


def test_nested_projection_errors():
    t = _nested_table()
    bo = io.BytesIO(); write_orc(t, bo); data = bo.getvalue()
    with pytest.raises(KeyError, match="no such field s.zz"):
        read_orc(data, columns=["s.zz"])
    with pytest.raises(KeyError, match="non-struct"):
        read_orc(data, columns=["k.a"])
    with pytest.raises(KeyError, match="no such columns"):
        read_orc(data, columns=["nope.a"])


def test_nested_projection_with_row_group_seek():
    """Dotted projection composes with row-group elimination: a point
    predicate on a strided Apache file decodes only the covering group
    AND only the projected subtree; values match pyarrow's view."""
    n = 20_000
    inner = pa.struct([("x", pa.int64()), ("y", pa.string())])
    outer = pa.struct([("a", pa.int64()), ("b", pa.string()),
                       ("inner", inner)])
    t = pa.table({
        "k": pa.array(np.arange(n), pa.int64()),
        "s": pa.array(
            [{"a": i, "b": f"b{i}",
              "inner": {"x": i * 2, "y": f"y{i}"}} for i in range(n)],
            outer),
    })
    buf = io.BytesIO()
    po.write_table(t, buf, row_index_stride=2_000,
                   stripe_size=64 * 1024 * 1024)
    data = buf.getvalue()

    got = read_orc(data, columns=["s.inner.y", "k"],
                   predicate=[("k", ">=", 6_000), ("k", "<", 7_000)])
    assert got.num_rows == 2_000  # exactly one covering group
    ks = got.column("k").to_pylist()
    assert ks[0] == 6_000 and ks[-1] == 7_999
    assert got.column("s").to_pylist() == [
        {"inner": {"y": f"y{i}"}} for i in ks
    ]


@pytest.mark.parametrize("writer", ["apache", "ours"])
def test_list_transparent_projection(writer):
    """Lists are transparent to dotted paths: "evs.id" prunes the
    element fields of a list<struct> (both writer legs); descending
    into a list of non-structs is a loud error."""
    elem = pa.struct([("id", pa.int64()), ("txt", pa.string())])
    n = 2000
    t = pa.table({
        "k": pa.array(np.arange(n), pa.int64()),
        "evs": pa.array(
            [None if i % 13 == 0 else
             [{"id": i * 10 + j, "txt": f"t{i}_{j}"} for j in range(i % 4)]
             for i in range(n)], pa.list_(elem)),
    })
    if writer == "apache":
        buf = io.BytesIO()
        po.write_table(t, buf)
        data = buf.getvalue()
    else:
        bo = io.BytesIO(); write_orc(t, bo, compression="zstd"); data = bo.getvalue()
    got = read_orc(data, columns=["evs.id", "k"])
    want = [None if r is None else [{"id": e["id"]} for e in r]
            for r in t.column("evs").to_pylist()]
    assert got.column("evs").to_pylist() == want
    assert got.column("k").to_pylist() == list(range(n))

    t2 = pa.table({"l": pa.array([["a", "b"]], pa.list_(pa.string()))})
    bo = io.BytesIO(); write_orc(t2, bo); d2 = bo.getvalue()
    with pytest.raises(KeyError, match="non-struct"):
        read_orc(d2, columns=["l.x"])


def test_nested_predicate_pruning():
    """Predicates on dotted nested leaves (struct fields; lists
    transparent) prune stripes and row groups from the leaf's own
    ColumnStatistics, compose with nested projection, and never lose
    rows — including isnull on a leaf whose ancestors carry the nulls
    (the one case leaf stats cannot see, so it never prunes)."""
    n = 20_000
    inner = pa.struct([("x", pa.int64()), ("y", pa.string())])
    outer = pa.struct([("a", pa.int64()), ("inner", inner)])
    t = pa.table({
        "k": pa.array(np.arange(n), pa.int64()),
        "s": pa.array([{"a": i, "inner": {"x": i * 2, "y": f"y{i}"}}
                       for i in range(n)], outer),
    })
    buf = io.BytesIO()
    po.write_table(t, buf, row_index_stride=2_000,
                   stripe_size=64 * 1024 * 1024)
    data = buf.getvalue()

    got = read_orc(data, predicate=[("s.inner.x", ">=", 12_000),
                                    ("s.inner.x", "<", 14_000)])
    assert got.num_rows == 2_000  # exactly the covering group
    xs = [r["inner"]["x"] for r in got.column("s").to_pylist()]
    assert 12_000 in xs and 13_998 in xs

    got2 = read_orc(data, columns=["s.inner.y", "k"],
                    predicate=("s.inner.x", "==", 9_000))
    assert got2.num_rows == 2_000
    assert "y4500" in [r["inner"]["y"]
                       for r in got2.column("s").to_pylist()]

    # isnull soundness: ancestor-null rows survive even though the
    # leaf's own hasNull is false in every stripe
    t2 = pa.table({
        "s": pa.array(
            [None if i % 7 == 0 else {"a": i, "inner": {"x": i, "y": "q"}}
             for i in range(n)], outer),
    })
    b2 = io.BytesIO()
    po.write_table(t2, b2, row_index_stride=2_000,
                   stripe_size=64 * 1024 * 1024)
    g3 = read_orc(b2.getvalue(), predicate=("s.inner.x", "isnull", None))
    n_null = sum(1 for r in g3.column("s").to_pylist() if r is None)
    assert n_null == sum(1 for i in range(n) if i % 7 == 0)

    with pytest.raises(KeyError, match="predicate column"):
        read_orc(data, predicate=("s.nope", "==", 1))
