"""ORC bloom filter index: golden-oracle hashing, Java consumption, and
the bidirectional interop loop.

Three independent validations of codecs/orc_bloom.py + the
BLOOM_FILTER_UTF8 streams orc_file.py writes:

1. **Word-for-word bitset parity with Apache's own implementation** —
   org.apache.orc.util.BloomFilterUtf8 (on Spark's classpath) is fed
   the same values via py4j and its getBitSet() compared to ours. This
   pins every constant: the ORC Murmur3-64 variant (seed 104729), the
   signed-shift Thomas Wang long mix, m/k sizing, position arithmetic.
2. **Spark's Java ORC reader CONSUMES our filters**: with
   filterPushdown, needle scans read one stripe instead of four
   (scan numOutputRows metric) and still return exactly the needle
   rows — a wrong hash pipeline would wrongly prune the needle's
   stripe and LOSE rows, which this test would catch.
3. **Reverse direction**: pyarrow's Apache C++ writer emits bloom
   filters (bloom_filter_columns) and OUR reader's ``==`` predicate
   prunes stripes from them without ever losing matching rows.
"""

import random

import numpy as np
import pyarrow as pa
import pytest

from orc_format_spark.codecs.orc_bloom import (
    OrcBloomFilter,
    murmur3_hash64,
    optimal_num_bits,
    optimal_num_hashes,
    wang_hash64,
)

M64 = (1 << 64) - 1


def _signed(u):
    return u - (1 << 64) if u >= (1 << 63) else u


# ------------------------------------------------ 1. golden vs orc-core


def test_murmur3_matches_orc_java(spark):
    M = spark._jvm.org.apache.orc.util.Murmur3
    rng = random.Random(1)
    cases = [b"", b"a", b"hello world", bytes(range(7)), bytes(range(200))]
    cases += [rng.randbytes(rng.randint(0, 64)) for _ in range(50)]
    for s in cases:
        assert _signed(murmur3_hash64(s)) == M.hash64(bytearray(s)), s


def test_long_hash_matches_orc_java(spark):
    """Java's getLongHash is Thomas Wang's mix with SIGNED right shifts
    (not the textbook logical-shift form — hash(0) == 0 proves it)."""
    jvm = spark._jvm
    gw = spark.sparkContext._gateway
    cls = jvm.java.lang.Class.forName("org.apache.orc.util.BloomFilter")
    m = [x for x in cls.getDeclaredMethods() if x.getName() == "getLongHash"][0]
    m.setAccessible(True)
    vals = [0, 1, -1, 42, 2**62, -(2**62), 123456789, -987654321]
    vals += [random.Random(2).randrange(-(2**63), 2**63) for _ in range(40)]
    for v in vals:
        arr = gw.new_array(jvm.java.lang.Object, 1)
        arr[0] = jvm.java.lang.Long.valueOf(str(v))
        assert int(wang_hash64(np.array([v]))[0]) == m.invoke(None, arr) & M64, v
    assert int(wang_hash64(np.array([0]))[0]) == 0


def test_bitset_words_match_orc_java(spark):
    BF = spark._jvm.org.apache.orc.util.BloomFilterUtf8
    rng = np.random.default_rng(3)
    # longs, extremes included
    vals = np.concatenate(
        [rng.integers(-(2**62), 2**62, 700), [0, -1, 1, 2**62, -(2**62)]]
    )
    jf = BF(len(vals), 0.05)
    for v in vals.tolist():
        jf.addLong(int(v))
    pf = OrcBloomFilter(len(vals), 0.05)
    pf.add_longs(vals)
    jw = np.array(list(jf.getBitSet()), np.int64).view(np.uint64)
    assert jf.getNumHashFunctions() == pf.num_hashes
    assert jf.getBitSize() == pf.num_bits
    assert np.array_equal(jw, pf._words)
    # strings, unicode + empty included
    strs = [f"needle_{i}" for i in range(300)] + ["", "ünïcødé ✓", "x" * 100]
    jf2 = BF(len(strs), 0.01)
    for s in strs:
        b = s.encode()
        jf2.addBytes(bytearray(b), 0, len(b))
    pf2 = OrcBloomFilter(len(strs), 0.01)
    pf2.add_bytes_values([s.encode() for s in strs])
    jw2 = np.array(list(jf2.getBitSet()), np.int64).view(np.uint64)
    assert np.array_equal(jw2, pf2._words)
    # membership parity, present and absent
    for i in range(200):
        v = i * 7 + 3
        assert pf.test_long(v) == jf.testLong(v)
        s = f"probe_{i}".encode()
        assert pf2.test_bytes(s) == jf2.testBytes(bytearray(s), 0, len(s))


def test_vectorized_murmur3_matches_scalar():
    """murmur3_hash64_buffer (the block-index-parallel kernel the writer
    feeds from Arrow buffers) is bit-identical to the scalar reference
    implementation on arbitrary lengths incl. empty and >64B values."""
    from orc_format_spark.codecs.orc_bloom import murmur3_hash64_buffer

    rng = random.Random(9)
    vals = [b"", b"a", b"12345678", b"123456789", bytes(range(200))]
    vals += [rng.randbytes(rng.randint(0, 100)) for _ in range(300)]
    lens = np.fromiter((len(v) for v in vals), np.int64, len(vals))
    offs = np.zeros(len(vals), np.int64)
    np.cumsum(lens[:-1], out=offs[1:])
    buf = np.frombuffer(b"".join(vals), np.uint8)
    got = murmur3_hash64_buffer(buf, offs, lens)
    want = np.array([murmur3_hash64(v) for v in vals], np.uint64)
    assert np.array_equal(got, want)
    assert len(murmur3_hash64_buffer(buf, offs[:0], lens[:0])) == 0


def test_sizing_formulas():
    # Java adds a full word even when already 64-aligned — match exactly
    for n, fpp in [(1, 0.05), (100, 0.05), (10_000, 0.01), (5000, 0.1)]:
        m = optimal_num_bits(n, fpp)
        assert m % 64 == 0 and m > 0
        assert optimal_num_hashes(n, m) >= 1


# -------------------------------------- 2. Java reader consumes ours


def _bloom_file(path, n=20_000, stripe=5_000):
    """4 stripes whose per-stripe min/max SPAN the full domain (stats
    cannot prune) with needles in stripe 2 only."""
    rng = random.Random(1)
    s_vals = ["a" + format(rng.randrange(16**8), "08x") + "z" for _ in range(n)]
    k_vals = [rng.randrange(0, 2**40) for _ in range(n)]
    for st in range(n // stripe):
        s_vals[st * stripe] = "aaaa"
        s_vals[st * stripe + 1] = "zzzz"
        k_vals[st * stripe] = 0
        k_vals[st * stripe + 1] = 2**40
    s_vals[2 * stripe + 137] = "needle_string"
    k_vals[2 * stripe + 138] = 123_456_789_012
    tbl = pa.table(
        {"s": pa.array(s_vals, pa.string()), "k": pa.array(k_vals, pa.int64())}
    )
    from orc_format_spark.sources.orc_file import write_orc

    write_orc(
        tbl, path, compression="zstd", stripe_rows=stripe,
        bloom_columns=["s", "k"], dict_strings=False,
    )
    return tbl


def _scan(spark, path, cond):
    q = spark.read.orc(path).filter(cond)
    rows = q.collect()
    plan = q._jdf.queryExecution().executedPlan()
    scanned = plan.collectLeaves().apply(0).metrics().apply("numOutputRows").value()
    return rows, scanned


def test_java_reader_prunes_from_our_bloom(spark, tmp_path):
    path = str(tmp_path / "bloom.orc")
    _bloom_file(path)
    spark.conf.set("spark.sql.orc.filterPushdown", "true")
    rows, scanned = _scan(spark, path, "s = 'needle_string'")
    # correctness: a wrong hash pipeline would prune the needle's stripe
    assert [r.s for r in rows] == ["needle_string"]
    # consumption: min/max can't prune (every stripe spans aaaa..zzzz),
    # so reading fewer than all 20k rows proves bloom elimination
    assert scanned <= 10_000, scanned
    rows, scanned = _scan(spark, path, "k = 123456789012")
    assert [r.k for r in rows] == [123_456_789_012]
    assert scanned <= 10_000, scanned
    # absent needle: every row group provably clean (modulo fpp on a
    # deterministic file — observed 0; allow one fp stripe)
    rows, scanned = _scan(spark, path, "s = 'definitely_absent_value'")
    assert rows == [] and scanned <= 5_000


def test_rejects_unsupported_bloom_columns(tmp_path):
    from orc_format_spark.sources.orc_file import write_orc

    t = pa.table({"f": pa.array([1.5], pa.float64())})
    with pytest.raises(ValueError, match="bloom"):
        write_orc(t, str(tmp_path / "x.orc"), bloom_columns=["f"])
    with pytest.raises(ValueError, match="top-level"):
        write_orc(t, str(tmp_path / "x.orc"), bloom_columns=["nope"])
    with pytest.raises(ValueError, match="row_index"):
        write_orc(
            pa.table({"g": pa.array([1], pa.int64())}),
            str(tmp_path / "x.orc"),
            bloom_columns=["g"], row_index=False,
        )


# ---------------------------- 3. our reader consumes Apache's filters


def test_own_reader_prunes_apache_bloom(tmp_path):
    import pyarrow.orc as po

    from orc_format_spark.sources.orc_read import read_orc

    rng = random.Random(7)
    n, stripe = 40_000, 10_000
    ks = [rng.randrange(0, 2**40) for _ in range(n)]
    for st in range(4):
        ks[st * stripe] = 0
        ks[st * stripe + 1] = 2**40
    ks[3 * stripe + 11] = 777_777_777_777
    tbl = pa.table({"k": pa.array(ks, pa.int64())})
    path = str(tmp_path / "apache_bloom.orc")
    po.write_table(
        tbl, path, stripe_size=stripe * 8, row_index_stride=stripe,
        # pyarrow's indices are raw ORC column IDs (0 = root struct),
        # so the first field is 1
        bloom_filter_columns=[1], compression="zstd",
    )
    got = read_orc(path, predicate=("k", "==", 777_777_777_777))
    assert 777_777_777_777 in got.column("k").to_pylist()
    assert got.num_rows < n  # at least one stripe bloom/stats-pruned


def test_own_reader_prunes_own_bloom(tmp_path):
    from orc_format_spark.sources.orc_read import read_orc

    path = str(tmp_path / "own_bloom.orc")
    tbl = _bloom_file(path)
    got = read_orc(path, predicate=("s", "==", "needle_string"))
    assert "needle_string" in got.column("s").to_pylist()
    assert got.num_rows <= 10_000  # stats span everywhere: bloom did this
    got = read_orc(path, predicate=("k", "==", 123_456_789_012))
    assert 123_456_789_012 in got.column("k").to_pylist()
    assert got.num_rows <= 10_000
    got = read_orc(path, predicate=("s", "==", "definitely_absent"))
    assert got.num_rows <= 5_000  # all clean rows pruned (fpp slack: 1)
    assert "definitely_absent" not in got.column("s").to_pylist()
    # full read unaffected
    assert read_orc(path).num_rows == tbl.num_rows


def test_own_reader_in_predicate_bloom(tmp_path):
    """``in`` predicates stripe-prune through stats AND bloom: keep a
    stripe iff some member may be present; IN () matches nothing."""
    from orc_format_spark.sources.orc_read import read_orc

    path = str(tmp_path / "own_in.orc")
    _bloom_file(path)  # needles: "needle_string" / 123456789012 in stripe 2
    got = read_orc(path, predicate=("s", "in", ["needle_string", "nope_1"]))
    assert "needle_string" in got.column("s").to_pylist()
    assert got.num_rows <= 10_000  # stats span everywhere: bloom did this
    got = read_orc(path, predicate=("k", "in", (123_456_789_012, 3)))
    assert 123_456_789_012 in got.column("k").to_pylist()
    assert got.num_rows <= 10_000
    got = read_orc(path, predicate=("s", "in", ["absent_a", "absent_b"]))
    assert got.num_rows <= 5_000  # all clean stripes pruned (fpp slack: 1)
    assert read_orc(path, predicate=("s", "in", [])).num_rows == 0
    # stats-only leg: int members all above every stripe max
    got = read_orc(path, predicate=("k", "in", [2**50, 2**51]))
    assert got.num_rows == 0


def test_distributed_native_read_predicate(spark, tmp_path):
    """read_orc_files_native(predicate=...) eliminates stripes inside
    each task: the distributed scan of a bloom-indexed multi-file table
    returns a superset containing exactly the needle, far smaller than
    the table (stats alone cannot prune the salted layout)."""
    from orc_format_spark.sources.orc_file import write_orc_groups
    from orc_format_spark.sources.orc_read import read_orc_files_native

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )
    n = li.count()
    needle = li.selectExpr("max(l_orderkey) h").first().h // 2
    needle = (
        li.filter(f"l_orderkey <= {needle}")
        .selectExpr("max(l_orderkey) h").first().h
    )
    files = write_orc_groups(
        li, str(tmp_path / "orc"), num_groups=4, key_col="l_orderkey",
        compression="zstd", stripe_rows=512, bloom_columns=["l_orderkey"],
    )
    got = read_orc_files_native(
        files, "l_orderkey bigint, l_partkey bigint",
        predicate=("l_orderkey", "==", needle),
    )
    rows = got.collect()
    want = li.filter(f"l_orderkey = {needle}").collect()
    assert sorted((r.l_orderkey, r.l_partkey) for r in rows if
                  r.l_orderkey == needle) == sorted(
        (r.l_orderkey, r.l_partkey) for r in want)
    assert 0 < len(rows) < n // 4  # stripes actually eliminated


def test_in_predicate_one_shot_iterable(tmp_path):
    """A generator/one-shot iterable as the IN literal must behave like
    the list form — regression: it used to be exhausted by the stats
    prune, leaving the bloom probe with zero members and silently
    pruning every bloom-carrying stripe."""
    from orc_format_spark.sources.orc_read import read_orc

    path = str(tmp_path / "own_iter.orc")
    _bloom_file(path)
    want = read_orc(path, predicate=("k", "in", [123_456_789_012]))
    got = read_orc(path, predicate=("k", "in", iter([123_456_789_012])))
    assert got.num_rows == want.num_rows > 0
    assert 123_456_789_012 in got.column("k").to_pylist()


def test_corrupt_num_hashes_never_prunes_or_allocates(tmp_path):
    """numHashFunctions is untrusted file bytes: an implausibly large k
    (flipped varint) must fall into the malformed-entry keep path, not
    size gigabyte position arrays or wrongly prune."""
    from orc_format_spark.sources.orc_file import _pb, _pv
    from orc_format_spark.sources.orc_read import (
        _K_LONG, _bloom_probe, _parse_bloom_filters,
    )

    bf = OrcBloomFilter(10, 0.05)
    bf.add_longs(np.array([1, 2, 3]))
    good = _pb(1, _pv(1, bf.num_hashes) + _pb(3, bf.utf8bitset()))
    evil = _pb(1, _pv(1, 2**31 - 1) + _pb(3, bf.utf8bitset()))

    class _Stub:
        def __init__(self, raw):
            self._raw = raw

        def stream(self, cid, kind):
            return self._raw if kind == 8 else None

    def may_match(raw, lit):
        bfs = _parse_bloom_filters(_Stub(raw), 1, _K_LONG)
        return bfs is None or _bloom_probe(bfs, _K_LONG)(lit)

    # sane entry: absent value prunes, present value kept
    assert may_match(good, 2) is True
    assert may_match(good, 999) is False
    # corrupt k: never prunes (and returns fast — no huge allocation)
    assert may_match(evil, 999) is True


def test_pyarrow_still_reads_files_with_bloom_streams(tmp_path):
    import pyarrow.orc as po

    path = str(tmp_path / "bloom_cxx.orc")
    tbl = _bloom_file(path)
    back = po.ORCFile(path).read()
    assert back.num_rows == tbl.num_rows
    assert back.column("s").combine_chunks() == tbl.column("s").combine_chunks()


def test_cpp_writer_tinyint_bloom_distrusted():
    """MEASURED upstream bug: the ORC C++ writer (Footer.writer == 1,
    pyarrow's vendored writer) omits from a TINYINT bloom filter any
    value whose only occurrences fall in a stripe's first ~128 rows
    (the ByteRLE literal-buffer window) — Spark's own Java reader loses
    rows when its pushdown consumes these blooms. Our reader must
    refuse to prune on BYTE blooms from writer 1: the needle row below
    is provably absent from stripe 0's bloom, and the read must still
    return it."""
    import io

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.orc as po

    from orc_format_spark.sources.orc_read import read_orc

    n = 2048
    v = np.ones(n, np.int8)
    v[5] = 99  # only occurrence: row 5 of stripe 0 (inside the window)
    v[1024 + 500] = 98  # control: past row 128 of stripe 1
    buf = io.BytesIO()
    po.write_table(pa.table({"c": pa.array(v)}), buf, stripe_size=1024,
                   bloom_filter_columns=[1], compression="uncompressed")
    data = buf.getvalue()

    got = read_orc(data, predicate=("c", "==", 99))
    assert got.filter(pc.equal(got.column("c"), 99)).num_rows == 1
    got98 = read_orc(data, predicate=("c", "==", 98))
    assert got98.filter(pc.equal(got98.column("c"), 98)).num_rows == 1

    # our own writer's BYTE blooms stay trusted (no writer id stamped,
    # direction-A fuzz proves them complete): same data through
    # write_orc still prunes and still returns the needle
    from orc_format_spark.sources.orc_file import write_orc

    bo = io.BytesIO()
    write_orc(pa.table({"c": pa.array(v)}), bo, stripe_rows=1024,
              bloom_columns=["c"])
    ours = bo.getvalue()
    g2 = read_orc(ours, predicate=("c", "==", 99))
    assert g2.filter(pc.equal(g2.column("c"), 99)).num_rows == 1
