"""Real ORC file assembly — the protobuf tail around our bit-exact
streams, so an EXTERNAL reader (pyarrow.orc, i.e. Apache ORC C++) can
open what we write.

The reference's own validation loop was "open ``target/test.orc`` with
another reader" (/root/reference/src/bin/test_writer.rs); this module
closes that loop for the repo: our RLEv1/boolean/byte streams are
already bit-identical to the reference's golden vectors, and here they
are framed into genuine stripes + StripeFooter / Footer / PostScript
(reference /root/reference/src/writer.rs:92-114, stripe.rs:55-78,
protos/orc_proto.proto) — hand-rolled proto2 wire encoding, no
protobuf dependency.

Scope: boolean, int8..int64, float, double, string, binary, date32,
timestamp (naive, writerTimezone=UTC, the probed Apache negative-
seconds convention), decimal (v1 unbounded zigzag varint + scale
SECONDARY), list<...>, map<...>, struct<...>, union<...> (Type kind
13: byte-RLE position tags + children carrying only their tagged
rows, sparse AND dense Arrow unions) — two RLE families:
``rle="v1"`` (DIRECT/DICTIONARY, RLEv1 streams) and ``rle="v2"``
(DIRECT_V2/DICTIONARY_V2 — every integer stream emitted by the repo's
ORC RLEv2 short-repeat/direct/patched-base/delta encoder, so the
Apache reader independently validates that codec's wire bytes).
Per-stripe DICTIONARY for string columns when distinct/total <= 0.8
(Apache's default threshold; sorted dictionary, DICTIONARY_DATA +
LENGTH streams). Optional ORC block compression (none / zlib / snappy /
zstd with the reference's 256 KiB blocks). tz-aware timestamps raise
loudly.

Statistics (reference statistics/*.rs re-expressed on the real-ORC
wire): ColumnStatistics per column in the Footer (field 7), per stripe
in the Metadata section (StripeStatistics — the input to Apache's
stripe elimination), and per row group in ROW_INDEX streams (one row
group per stripe: footer rowIndexStride == stripe_rows, so positions
never need intra-stripe seek state). Spark's built-in ORC source
(Apache ORC Java) demonstrably SKIPS stripes from these stats under
predicate pushdown while returning exact results — value-level
external validation, with an adversarial test proving wrong stats
change pushdown results (tests/test_orc_file.py).

Scale shape: one ORC file is written per task/group inside a
``mapInArrow`` kernel (same sink pattern as ``encode_splits``) — the
payload never crosses the JVM boundary, the driver only ever sees
per-file lineage rows.
"""

from __future__ import annotations

from typing import BinaryIO

import numpy as np
import pyarrow as pa

from ..codecs.blocks import DEFAULT_BLOCK_SIZE, DEFAULT_ZSTD_LEVEL
from ..codecs.rle_v1 import (
    encode_boolean_rle,
    encode_byte_rle,
    encode_int_rle_v1,
)

# orc_proto.proto enum values (reference protos/orc_proto.proto)
_KIND = {
    "bool": 0, "int8": 1, "int16": 2, "int32": 3, "int64": 4,
    "float": 5, "double": 6, "string": 7, "binary": 8,
    "timestamp": 9, "list": 10, "map": 11, "struct": 12, "union": 13,
    "decimal": 14, "date32[day]": 15,
}
_COMPRESSION = {"none": 0, "zlib": 1, "snappy": 2, "lzo": 3, "lz4": 4, "zstd": 5}
# Stream.Kind (orc_proto.proto)
_PRESENT, _DATA, _LENGTH, _DICT_DATA, _SECONDARY = 0, 1, 2, 3, 5
_ROW_INDEX = 6
_BLOOM_FILTER_UTF8 = 8


def _bloom_index_msg(col: "pa.ChunkedArray") -> bytes:
    """One row group's BloomFilterIndex proto message for a column
    slice: numHashFunctions + the little-endian utf8bitset, hashed
    exactly as Apache's readers expect (codecs/orc_bloom.py). Sized to
    the DISTINCT count — bitsets are set-semantics, so sizing to
    distinct values keeps repeated-value columns' filters small while
    the reader (which only uses the stored k and bitset length) is
    unaffected. False-positive rate: Apache ORC's 0.05 default."""
    import pyarrow.compute as pc

    from ..codecs.orc_bloom import OrcBloomFilter

    arr = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    u = pc.unique(arr.drop_null())
    bf = OrcBloomFilter(max(1, len(u)))
    t = arr.type
    if pa.types.is_integer(t):
        bf.add_longs(u.to_numpy(zero_copy_only=False).astype("int64"))
    elif pa.types.is_date32(t):
        bf.add_longs(u.cast(pa.int32()).to_numpy(zero_copy_only=False))
    else:  # string / large_string / binary (validated by write_orc)
        # hash straight off the Arrow offsets/data buffers — no
        # per-value Python objects (UTF-8 bytes are already what the
        # BloomFilterUtf8 contract hashes)
        import numpy as np
        b = u.cast(pa.large_binary())
        off_buf, data_buf = b.buffers()[1], b.buffers()[2]
        offs = np.frombuffer(off_buf, np.int64)[
            b.offset : b.offset + len(b) + 1
        ]
        data = (
            np.frombuffer(data_buf, np.uint8)
            if data_buf is not None
            else np.zeros(0, np.uint8)
        )
        bf.add_bytes_buffer(data, offs[:-1], np.diff(offs))
    entry = _pv(1, bf.num_hashes) + _pb(3, bf.utf8bitset())
    return _pb(1, entry)
# ColumnEncoding.Kind: v1 = RLEv1 streams, v2 = RLEv2 streams
_DIRECT, _DICTIONARY, _DIRECT_V2, _DICTIONARY_V2 = 0, 1, 2, 3
# Apache ORC's default dictionary threshold: encode via dictionary when
# distinct/total <= 0.8 (hive.exec.orc.dictionary.key.size.threshold)
DICT_THRESHOLD = 0.8


# ------------------------------------------------------- proto2 wire fmt


def _uvarint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _pv(field: int, value: int) -> bytes:
    """varint-typed field"""
    return _uvarint(field << 3) + _uvarint(value)


def _pb(field: int, data: bytes) -> bytes:
    """length-delimited field"""
    return _uvarint((field << 3) | 2) + _uvarint(len(data)) + data


# -------------------------------------------------------- ORC block comp


def _orc_compress(data: bytes, kind: str) -> bytes:
    """Pure ORC block framing (3-byte LE ``len*2 + is_original`` headers,
    store-original fallback) — the blob container's framing minus its
    varint total-length prefix, which real ORC has no room for. Blocks
    are the reference's DEFAULT_BLOCK_SIZE; zstd/zlib use its
    DEFAULT_ZSTD_LEVEL."""
    if kind == "none":
        return data
    if kind == "zlib":
        import zlib

        def comp(b):  # ORC ZLIB is raw DEFLATE (no zlib wrapper)
            c = zlib.compressobj(DEFAULT_ZSTD_LEVEL, zlib.DEFLATED, -15)
            return c.compress(b) + c.flush()

    elif kind in ("snappy", "zstd", "lz4"):
        codec = pa.Codec(
            "zstd" if kind == "zstd" else
            "lz4_raw" if kind == "lz4" else "snappy",
            compression_level=DEFAULT_ZSTD_LEVEL if kind == "zstd" else None,
        )

        def comp(b):
            return codec.compress(b, asbytes=True)

    elif kind == "lzo":
        # our own pure-Python LZO1X compressor (codecs/lzo.py) — no
        # writer anywhere else emits LZO ORC; Apache ORC C++ decodes it
        from ..codecs.lzo import lzo1x_compress as comp

    else:
        raise ValueError(f"orc_file: unsupported compression {kind!r}")
    parts = []
    for start in range(0, len(data), DEFAULT_BLOCK_SIZE):
        block = data[start : start + DEFAULT_BLOCK_SIZE]
        c = comp(block)
        if len(c) >= len(block):  # store original
            parts.append((len(block) * 2 + 1).to_bytes(3, "little"))
            parts.append(block)
        else:
            parts.append((len(c) * 2).to_bytes(3, "little"))
            parts.append(c)
    return b"".join(parts)


# ----------------------------------------------------------- type walk


def _plan_types(schema: pa.Schema):
    """Pre-order column-id assignment (root struct = column 0) ->
    (nodes, extras): (kind, subtype_ids, field_names) proto Type nodes
    plus per-column (precision, scale) for decimals."""
    nodes: list[tuple[int, list[int], list[str]]] = []
    extras: dict[int, tuple[int, int]] = {}

    def walk(typ: pa.DataType) -> int:
        my_id = len(nodes)
        nodes.append((0, [], []))  # placeholder
        if pa.types.is_struct(typ):
            subs, names = [], []
            for f in typ:
                names.append(f.name)
                subs.append(walk(f.type))
            nodes[my_id] = (_KIND["struct"], subs, names)
        elif pa.types.is_map(typ):
            k = walk(typ.key_type)
            v = walk(typ.item_type)
            nodes[my_id] = (_KIND["map"], [k, v], [])
        elif pa.types.is_union(typ):
            subs = [walk(typ.field(i).type) for i in range(typ.num_fields)]
            nodes[my_id] = (_KIND["union"], subs, [])
        elif pa.types.is_list(typ) or pa.types.is_large_list(typ):
            child = walk(typ.value_type)
            nodes[my_id] = (_KIND["list"], [child], [])
        elif pa.types.is_timestamp(typ):
            if typ.tz is not None:
                raise NotImplementedError(
                    "orc_file: tz-aware timestamps not supported; cast to "
                    "timestamp_ntz (ORC TIMESTAMP is timezone-naive here, "
                    "writerTimezone=UTC)"
                )
            nodes[my_id] = (_KIND["timestamp"], [], [])
        elif pa.types.is_decimal(typ):
            # Type.precision=5, Type.scale=6 (orc_proto.proto)
            nodes[my_id] = (
                _KIND["decimal"],
                [],
                [],
            )
            extras[my_id] = (typ.precision, typ.scale)
        else:
            key = str(typ)
            if key in ("large_string",):
                key = "string"
            if key in ("large_binary",):
                key = "binary"
            if key not in _KIND:
                raise NotImplementedError(
                    f"orc_file: type {typ} not supported in the real-ORC "
                    "tail"
                )
            nodes[my_id] = (_KIND[key], [], [])
        return my_id

    walk(pa.struct([pa.field(f.name, f.type) for f in schema]))
    return nodes, extras


def _types_proto(nodes, extras) -> bytes:
    out = []
    for i, (kind, subs, names) in enumerate(nodes):
        msg = _pv(1, kind)
        for s in subs:
            msg += _pv(2, s)
        for nm in names:
            msg += _pb(3, nm.encode())
        if i in extras:  # decimal precision/scale
            p, s = extras[i]
            msg += _pv(5, p) + _pv(6, s)
        out.append(_pb(4, msg))  # Footer.types
    return b"".join(out)


# ----------------------------------------------------- column statistics
#
# ColumnStatistics (orc_proto.proto:75-87) per column node, per stripe
# (Metadata.stripeStats, the input to Apache ORC's stripe elimination)
# and merged file-level (Footer.statistics field 7). Written bounds MUST
# cover the true values or readers silently drop matching stripes under
# predicate pushdown — tests prove Spark's ORC-Java reader consumes them
# (wrong stats => wrong rows), so every bound below is exact-or-wider,
# never narrower, and anything uncertain is omitted (absent stats mean
# "cannot skip", which is always safe).


def _psv(field: int, v: int) -> bytes:
    """zigzag sint varint field (proto2 sint32/sint64)"""
    z = (v << 1) if v >= 0 else ((-v) << 1) - 1
    return _uvarint(field << 3) + _uvarint(z)


def _pdbl(field: int, x: float) -> bytes:
    """fixed64 double field"""
    import struct

    return _uvarint((field << 3) | 1) + struct.pack("<d", x)


_I64_MAX = 2**63 - 1


def _stat_of(arr: pa.Array) -> dict:
    """One column's one-stripe summary: {'kind', 'n', 'has_null'} plus
    kind-specific bounds. Compound/unsupported kinds carry counts only."""
    import pyarrow.compute as pc

    n = len(arr) - arr.null_count
    st = {"kind": "none", "n": n, "has_null": arr.null_count > 0}
    t = arr.type
    if n == 0:
        return st
    if pa.types.is_boolean(t):
        st["kind"] = "bool"
        st["true"] = int(pc.sum(arr).as_py() or 0)
    elif pa.types.is_integer(t):
        mm = pc.min_max(arr)
        lo, hi = mm["min"].as_py(), mm["max"].as_py()
        st.update(kind="int", min=lo, max=hi)
        # sum only when overflow is impossible (Apache omits on overflow)
        if max(abs(lo), abs(hi)) <= _I64_MAX // n:
            st["sum"] = int(pc.sum(arr).as_py())
    elif pa.types.is_float32(t) or pa.types.is_float64(t):
        if pc.sum(pc.is_nan(arr)).as_py():
            return st  # NaN poisons double stats: omit, never mislead
        st["kind"] = "double"
        mm = pc.min_max(arr)
        st.update(min=float(mm["min"].as_py()), max=float(mm["max"].as_py()))
        st["sum"] = float(pc.sum(arr).as_py())
    elif pa.types.is_string(t) or pa.types.is_large_string(t):
        st["kind"] = "string"
        # StringStatistics.sum is total UTF-8 BYTES (Apache writers),
        # not codepoints — binary_length over the same buffers
        st["sum"] = int(
            pc.sum(pc.binary_length(arr.cast(pa.large_binary()))).as_py()
            or 0
        )
        buffers = arr.combine_chunks().buffers() if isinstance(
            arr, pa.ChunkedArray) else arr.buffers()
        data = buffers[2]
        # UTF-8 byte order == Java's UTF-16 comparison unless some code
        # point >= U+E000 exists (exactly: some UTF-8 byte >= 0xEE);
        # wrong order could skip a matching stripe, so omit min/max then
        if data is None or len(data) == 0 or np.frombuffer(
            data, np.uint8
        ).max() < 0xEE:
            mm = pc.min_max(arr)
            st.update(min=mm["min"].as_py(), max=mm["max"].as_py())
    elif pa.types.is_binary(t) or pa.types.is_large_binary(t):
        st["kind"] = "binary"
        st["sum"] = int(pc.sum(pc.binary_length(arr)).as_py() or 0)
    elif pa.types.is_date32(t):
        mm = pc.min_max(arr.cast(pa.int32()))
        st.update(kind="date", min=mm["min"].as_py(), max=mm["max"].as_py())
    elif pa.types.is_timestamp(t):
        ns = arr.cast(pa.timestamp("ns")).cast(pa.int64())
        mm = pc.min_max(ns)
        lo, hi = mm["min"].as_py(), mm["max"].as_py()
        # ms bounds: floor the min, ceil the max — wider is always safe
        st.update(
            kind="timestamp",
            min=lo // 1_000_000,
            max=-((-hi) // 1_000_000),
        )
    elif pa.types.is_decimal(t):
        import decimal as _dec

        mm = pc.min_max(arr)
        # default 28-digit context would round 38-digit sums
        with _dec.localcontext() as _ctx:
            _ctx.prec = 76
            dsum = sum(arr.drop_null().to_pylist())
        st.update(
            kind="decimal",
            min=mm["min"].as_py(),
            max=mm["max"].as_py(),
            sum=dsum,
        )
    return st


def _merge_stat(a: dict | None, b: dict) -> dict:
    """File-level accumulate: counts add, bounds widen; a bound absent on
    either typed side stays absent (omission is the safe direction)."""
    if a is None:
        return dict(b)
    out = {
        "kind": a["kind"] if a["kind"] != "none" else b["kind"],
        "n": a["n"] + b["n"],
        "has_null": a["has_null"] or b["has_null"],
    }
    # a zero-value side constrains nothing
    for empty, other in ((a, b), (b, a)):
        if empty["n"] == 0:
            for k, v in other.items():
                if k not in out:
                    out[k] = v
            return out
    if a["kind"] != b["kind"]:  # NaN-poisoned double stripe: kind 'none'
        return out
    if "min" in a and "min" in b:
        out["min"] = min(a["min"], b["min"])
        out["max"] = max(a["max"], b["max"])
    if "sum" in a and "sum" in b:
        import decimal as _dec

        # Decimal sums must merge exactly too (28-digit default rounds)
        with _dec.localcontext() as _ctx:
            _ctx.prec = 76
            s = a["sum"] + b["sum"]
        if not (isinstance(s, int) and abs(s) > _I64_MAX):
            out["sum"] = s
    if "true" in a and "true" in b:
        out["true"] = a["true"] + b["true"]
    return out


def _stats_msg(st: dict) -> bytes:
    """Render one ColumnStatistics proto message."""
    msg = _pv(1, st["n"])  # numberOfValues
    kind = st["kind"]
    if kind == "int" and "min" in st:
        sub = _psv(1, st["min"]) + _psv(2, st["max"])
        if "sum" in st:
            sub += _psv(3, st["sum"])
        msg += _pb(2, sub)
    elif kind == "double" and "min" in st:
        sub = _pdbl(1, st["min"]) + _pdbl(2, st["max"])
        if "sum" in st:
            sub += _pdbl(3, st["sum"])
        msg += _pb(3, sub)
    elif kind == "string":
        sub = b""
        if "min" in st:
            sub += _pb(1, st["min"].encode()) + _pb(2, st["max"].encode())
        sub += _psv(3, st.get("sum", 0))
        msg += _pb(4, sub)
    elif kind == "bool":
        msg += _pb(5, _pb(1, _uvarint(st["true"])))  # packed count[0]
    elif kind == "decimal" and "min" in st:
        sub = _pb(1, format(st["min"], "f").encode())
        sub += _pb(2, format(st["max"], "f").encode())
        if "sum" in st:
            sub += _pb(3, format(st["sum"], "f").encode())
        msg += _pb(6, sub)
    elif kind == "date" and "min" in st:
        msg += _pb(7, _psv(1, st["min"]) + _psv(2, st["max"]))
    elif kind == "binary":
        msg += _pb(8, _psv(1, st.get("sum", 0)))
    elif kind == "timestamp" and "min" in st:
        # legacy writer-tz ms (1,2) plus the UTC pair (3,4) modern
        # readers prefer — identical here, writerTimezone is UTC
        msg += _pb(
            9,
            _psv(1, st["min"]) + _psv(2, st["max"])
            + _psv(3, st["min"]) + _psv(4, st["max"]),
        )
    msg += _pv(10, 1 if st["has_null"] else 0)  # hasNull
    return msg


# ------------------------------------------------------- column streams


def _validity(arr: pa.Array) -> np.ndarray:
    if arr.null_count == 0:
        return np.ones(len(arr), bool)
    return np.asarray(arr.is_valid())


def _dict_streams(
    dense: pa.Array, col_id: int, streams: list, encodings: dict,
    enc_int, v2: bool,
) -> bool:
    """Try ORC DICTIONARY encoding (ColumnEncoding kind 1, or
    DICTIONARY_V2 = 3 when the file is RLEv2-mode) for a string column:
    DATA = unsigned-RLE indices into the SORTED dictionary,
    DICTIONARY_DATA = concatenated utf8 entries, LENGTH = per-entry byte
    lengths. Used when distinct/total <= DICT_THRESHOLD (Apache ORC's
    0.8 default); returns False to fall back to DIRECT."""
    import pyarrow.compute as pc

    n = len(dense)
    if n == 0:
        return False
    enc = dense.dictionary_encode()
    dct = enc.dictionary
    if len(dct) > DICT_THRESHOLD * n:
        return False
    order = pc.sort_indices(dct)
    onp = order.to_numpy(zero_copy_only=False).astype(np.int64)
    rank = np.empty(len(dct), np.int64)
    rank[onp] = np.arange(len(dct), dtype=np.int64)
    idx = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    sdict = dct.take(order).cast(pa.large_string())
    offs = np.frombuffer(sdict.buffers()[1], np.int64)[
        sdict.offset : sdict.offset + len(sdict) + 1
    ]
    lengths = np.diff(offs).astype(np.int64)
    datab = sdict.buffers()[2]
    raw = b"" if datab is None else datab.to_pybytes()[offs[0] : offs[-1]]
    streams.append((_DATA, col_id, enc_int(rank[idx], signed=False)))
    streams.append((_DICT_DATA, col_id, raw))
    streams.append((_LENGTH, col_id, enc_int(lengths, signed=False)))
    encodings[col_id] = (_DICTIONARY_V2 if v2 else _DICTIONARY, len(dct))
    return True


def _column_streams(
    arr: pa.Array,
    col_id: int,
    streams: list,
    encodings: dict,
    dict_strings: bool = True,
    rle: str = "v1",
    stats: dict | None = None,
    force_present: frozenset | None = None,
    capture: dict | None = None,
) -> int:
    """Append (kind, column, raw_bytes) streams for this column and its
    children, pre-order; record non-DIRECT ColumnEncodings in
    ``encodings`` (col_id -> (kind, dictionarySize)). Returns the next
    free column id. When ``stats`` is given, records this stripe's
    ColumnStatistics summary per column id inside the SAME walk, so
    stats column ids can never drift from stream column ids.

    ``rle="v2"`` emits every integer-RLE stream (DATA for ints / dates /
    timestamp seconds+nanos / decimal scales, LENGTH for strings, lists,
    maps and dictionaries, dictionary indices) with the repo's ORC RLEv2
    encoder (short-repeat / direct / patched-base / delta) and marks the
    column DIRECT_V2 / DICTIONARY_V2 — so the Apache ORC C++ reader
    independently validates the RLEv2 codec's wire bytes. Boolean / byte
    / float / double / struct streams are identical in both modes and
    stay DIRECT, as Apache's writer does."""
    from ..codecs.rle_v2 import encode_int_rle_v2

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if stats is not None:
        stats[col_id] = _stat_of(arr)
    valid = _validity(arr)
    if arr.null_count or (force_present and col_id in force_present):
        # force_present: row-group-strided stripes need a UNIFORM
        # stream set across groups, so a column null anywhere in the
        # stripe emits PRESENT in every group (all-true runs are tiny)
        streams.append((_PRESENT, col_id, encode_boolean_rle(valid)))
        dense = arr.drop_null()
        if capture is not None:
            capture.setdefault(col_id, {})["valid"] = valid
    else:
        dense = arr
    t = arr.type
    v2 = rle == "v2"
    enc_int = encode_int_rle_v2 if v2 else encode_int_rle_v1

    def mark_v2() -> None:
        # this column carried at least one integer-RLE stream
        if v2:
            encodings[col_id] = (_DIRECT_V2, -1)

    def recurse(child: pa.Array, cid: int) -> int:
        return _column_streams(
            child, cid, streams, encodings, dict_strings, rle, stats,
            force_present, capture,
        )

    if pa.types.is_struct(t):
        next_id = col_id + 1
        for i in range(t.num_fields):
            next_id = recurse(dense.field(i), next_id)
        return next_id
    if pa.types.is_map(t):
        offs = np.asarray(dense.offsets).astype(np.int64)
        if len(offs) == 0:
            offs = np.zeros(1, np.int64)
        streams.append(
            (_LENGTH, col_id, enc_int(np.diff(offs), signed=False))
        )
        mark_v2()
        # .keys/.items are the PHYSICAL child arrays; the offsets window
        # [offs[0], offs[-1]) selects this array's slice of them
        lo, hi = int(offs[0]), int(offs[-1])
        nid = recurse(dense.keys.slice(lo, hi - lo), col_id + 1)
        return recurse(dense.items.slice(lo, hi - lo), nid)
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        offs = np.asarray(dense.offsets)
        lengths = np.diff(offs).astype(np.int64)
        streams.append(
            (_LENGTH, col_id, enc_int(lengths, signed=False))
        )
        mark_v2()
        return recurse(dense.flatten(), col_id + 1)
    if pa.types.is_union(t):
        # ORC UNION (Type kind 13): DATA = byte-RLE tags where the tag
        # is the variant's POSITION in subtypes (not Arrow's type
        # code), and each child carries only its tagged rows in row
        # order — probed against Apache C++'s own union output.
        # Arrow unions carry no top-level validity, so no PRESENT here.
        codes = np.asarray(dense.type_codes, np.int8)
        pos_of = np.zeros(128, np.uint8)
        for i in range(t.num_fields):
            pos_of[t.type_codes[i]] = i
        tags = pos_of[codes]
        streams.append((_DATA, col_id, encode_byte_rle(tags)))
        nid = col_id + 1
        dense_mode = t.mode == "dense"
        if dense_mode:
            voffs = np.asarray(dense.offsets, np.int64)
        for i in range(t.num_fields):
            mask = codes == t.type_codes[i]
            child = dense.field(i)
            if dense_mode:
                sel = pa.array(voffs[mask], pa.int64())
            else:
                sel = pa.array(np.flatnonzero(mask), pa.int64())
            nid = recurse(child.take(sel), nid)
        return nid
    if pa.types.is_boolean(t):
        vals = np.asarray(dense.to_numpy(zero_copy_only=False), bool)
        streams.append((_DATA, col_id, encode_boolean_rle(vals)))
        if capture is not None:
            capture.setdefault(col_id, {})["bool"] = vals
    elif pa.types.is_int8(t):
        v = dense.to_numpy(zero_copy_only=False).astype(np.int8)
        streams.append((_DATA, col_id, encode_byte_rle(v.view(np.uint8))))
    elif pa.types.is_integer(t):
        v = dense.to_numpy(zero_copy_only=False).astype(np.int64)
        streams.append((_DATA, col_id, enc_int(v, signed=True)))
        mark_v2()
    elif pa.types.is_float32(t) or pa.types.is_float64(t):
        v = dense.to_numpy(zero_copy_only=False)
        streams.append((_DATA, col_id, v.astype("<f4" if pa.types.is_float32(t) else "<f8").tobytes()))
    elif pa.types.is_string(t) or pa.types.is_large_string(t) or \
            pa.types.is_binary(t) or pa.types.is_large_binary(t):
        if (
            dict_strings
            and (pa.types.is_string(t) or pa.types.is_large_string(t))
            and _dict_streams(dense, col_id, streams, encodings, enc_int, v2)
        ):
            return col_id + 1
        if pa.types.is_string(t) or pa.types.is_binary(t):
            dense = dense.cast(
                pa.large_string()
                if pa.types.is_string(t)
                else pa.large_binary()
            )
        buf = dense.combine_chunks() if isinstance(dense, pa.ChunkedArray) else dense
        off_buf = buf.buffers()[1]
        offs = np.frombuffer(off_buf, np.int64)[
            buf.offset : buf.offset + len(buf) + 1
        ]
        lengths = np.diff(offs).astype(np.int64)
        data = buf.buffers()[2]
        raw = b"" if data is None else data.to_pybytes()[offs[0] : offs[-1]]
        streams.append((_DATA, col_id, raw))
        streams.append(
            (_LENGTH, col_id, enc_int(lengths, signed=False))
        )
        mark_v2()
    elif pa.types.is_date32(t):
        v = dense.cast(pa.int32()).to_numpy(zero_copy_only=False).astype(np.int64)
        streams.append((_DATA, col_id, enc_int(v, signed=True)))
        mark_v2()
    elif pa.types.is_timestamp(t):
        from ..codecs.timestamp import EPOCH_SECONDS, compact_nanos

        ns = dense.cast(pa.timestamp("ns")).cast(pa.int64()).to_numpy(
            zero_copy_only=False
        ).astype(np.int64)
        sec = np.floor_divide(ns, 1_000_000_000)
        nanos = ns - sec * 1_000_000_000  # always in [0, 1e9)
        # Apache ORC's historical negative-seconds convention (probed
        # against the C++ reader): read = stored*1e9 + nanos, minus one
        # second when stored < 0 and nanos > 999999 — so pre-epoch
        # values with nanos > 999999 must store sec+1. The one-second
        # window (-1s, 0) with nanos > 999999 is unrepresentable under
        # that convention (stored would be 0, no longer negative):
        # refuse it loudly rather than write a value every ORC reader
        # returns one second late.
        adj = (sec < 0) & (nanos > 999_999)
        if bool(np.any(adj & (sec == -1))):
            raise ValueError(
                "orc_file: timestamps inside 1969-12-31 23:59:59.001-"
                ".999999999 cannot be represented under ORC's "
                "negative-seconds convention"
            )
        streams.append(
            (_DATA, col_id,
             enc_int(sec + adj + EPOCH_SECONDS, signed=True))
        )
        streams.append(
            (_SECONDARY, col_id,
             enc_int(compact_nanos(nanos), signed=False))
        )
        mark_v2()
    elif pa.types.is_decimal(t):
        # ORC DECIMAL v1: DATA = unbounded zigzag base-128 varint of the
        # unscaled value, SECONDARY = per-value scale (signed RLEv1).
        scale = t.scale
        dd = (dense.combine_chunks()
              if isinstance(dense, pa.ChunkedArray) else dense)
        if t.precision <= 18:
            # unscaled fits the decimal128 low limb: one vectorized
            # zigzag + LEB128 pass (same kernel as the blob container),
            # no per-value Python
            from ..codecs.container import _decimal_unscaled_i64
            from ..codecs.varint import encode_varints, zigzag_encode

            u64 = _decimal_unscaled_i64(dd)
            data = encode_varints(zigzag_encode(u64))[0].tobytes()
            count = len(u64)
        else:
            # i128 cold path: unbounded zigzag over python big ints
            import decimal as _dec

            data_b = bytearray()
            count = 0
            # scaleb under the default 28-digit context ROUNDS unscaled
            # values with >28 significant digits (decimal128 allows
            # 38); a 76-digit local context keeps the shift exact
            with _dec.localcontext() as _ctx:
                _ctx.prec = 76
                unscaled = [int(v.as_py().scaleb(scale)) for v in dd]
            for u in unscaled:
                z = u << 1 if u >= 0 else ((-u) << 1) - 1
                while True:
                    b = z & 0x7F
                    z >>= 7
                    if z:
                        data_b.append(b | 0x80)
                    else:
                        data_b.append(b)
                        break
                count += 1
            data = bytes(data_b)
        streams.append((_DATA, col_id, data))
        streams.append(
            (_SECONDARY, col_id,
             enc_int(np.full(count, scale, np.int64), signed=True))
        )
        mark_v2()
    else:
        raise NotImplementedError(f"orc_file: type {t} not supported")
    return col_id + 1


# ------------------------------------------- row-group-strided encoding


def _writer_index_layout(nodes, cid: int,
                         has_present: bool) -> list[tuple[int, str]]:
    """RowIndexEntry position order for a column WE write in strided
    mode (always DIRECT — no dictionaries there): [(stream_kind,
    reader_kind)], reader_kind 'raw' | 'rle' | 'bool'. Mirrors the
    recordPosition order both Apache readers expect (and orc_read's
    _position_layout consumes)."""
    k = nodes[cid][0]
    out: list[tuple[int, str]] = []
    if has_present:
        out.append((_PRESENT, "bool"))
    if k in (_KIND["int8"], _KIND["int16"], _KIND["int32"],
             _KIND["int64"], _KIND["date32[day]"]):
        out.append((_DATA, "rle"))  # int8 is byte-RLE: same arity
    elif k in (_KIND["float"], _KIND["double"]):
        out.append((_DATA, "raw"))
    elif k == _KIND["bool"]:
        out.append((_DATA, "bool"))
    elif k in (_KIND["string"], _KIND["binary"]):
        out.append((_DATA, "raw"))
        out.append((_LENGTH, "rle"))
    elif k == _KIND["timestamp"]:
        out.append((_DATA, "rle"))
        out.append((_SECONDARY, "rle"))
    elif k == _KIND["decimal"]:
        out.append((_DATA, "raw"))
        out.append((_SECONDARY, "rle"))
    elif k in (_KIND["list"], _KIND["map"]):
        out.append((_LENGTH, "rle"))
    elif k == _KIND["struct"]:
        pass
    elif k == _KIND["union"]:
        out.append((_DATA, "rle"))  # byte-RLE tag stream
    else:  # pragma: no cover — _plan_types gates the type surface
        raise NotImplementedError(f"orc_file: no index layout for kind {k}")
    return out


def _comp_block_offsets(comp: bytes) -> list[int]:
    """Byte offset of every compression block in an ORC-framed stream
    (3-byte LE ``len*2+is_original`` headers)."""
    offs = []
    i = 0
    n = len(comp)
    while i < n:
        offs.append(i)
        i += 3 + (int.from_bytes(comp[i : i + 3], "little") >> 1)
    return offs


def _byte_rle_positions(buf: bytes, targets: list[int]) -> list[tuple[int, int]]:
    """For each ascending byte-value index K, the (group header byte
    offset, values consumed into that group) pair a positioned reader
    needs: seek the stream to the header, decode the group, drop
    ``into`` values. K at an exact group boundary points at the next
    header with into=0 (the convention Apache's writers record)."""
    out: list[tuple[int, int]] = []
    i = 0
    consumed = 0
    L = len(buf)
    for k_target in targets:
        while i < L:
            h = buf[i]
            cnt = (h + 3) if h < 128 else 256 - h
            if consumed + cnt > k_target:
                break
            consumed += cnt
            i += 2 if h < 128 else 1 + cnt
        out.append((i, k_target - consumed))
    return out


def _grouped_column_streams(
    root: pa.StructArray,
    stride: int,
    rle: str,
):
    """Encode one stripe in ``stride``-row groups with every stream
    RESTARTED at group boundaries (spec-legal — readers just decode),
    so RowIndexEntry positions are exact with zero run/bit offsets:
    group g of stream s starts at byte ``offsets[(kind, col)][g]`` of
    the concatenated stream. Returns (streams, encodings, group_stats,
    offsets, present_cols); stripe stats = merge of group stats.
    Strings are forced DIRECT (a shared stripe dictionary cannot
    restart per group).

    Bit-packed streams (PRESENT at any depth, boolean DATA) are the
    exception: their groups don't end on byte boundaries, so they are
    encoded CONTINUOUSLY over the stripe and their RowIndexEntry
    positions carry the scanned (header, values-into-run, bit) seek
    state instead of zeros — the 5th return value maps (kind, col) to
    those per-group triples."""
    n = len(root)
    n_groups = max(1, (n + stride - 1) // stride)

    def encode_group(g: int, force: frozenset | None):
        streams_g: list = []
        enc_g: dict = {}
        stats_g: dict = {}
        cap_g: dict = {}
        _column_streams(root.slice(g * stride, stride), 0, streams_g,
                        enc_g, False, rle, stats_g,
                        force_present=force, capture=cap_g)
        return streams_g, enc_g, stats_g, cap_g

    per_group = [encode_group(g, None) for g in range(n_groups)]
    union_present = frozenset().union(*(
        frozenset(c for k, c, _ in sg if k == _PRESENT)
        for sg, _e, _s, _c in per_group
    ))
    for g in range(n_groups):
        has = frozenset(
            c for k, c, _ in per_group[g][0] if k == _PRESENT
        )
        if has != union_present:
            # a column is null somewhere in the stripe but not in this
            # group: re-encode the group with PRESENT forced so every
            # group carries the identical stream set
            per_group[g] = encode_group(g, union_present)
    group_stats = [s for _sg, _e, s, _c in per_group]
    captures = [c for _sg, _e, _s, c in per_group]
    encodings = per_group[0][1]  # uniform: type- and rle-determined
    keys = [(k, c) for k, c, _ in per_group[0][0]]
    for g in range(1, n_groups):
        assert [(k, c) for k, c, _ in per_group[g][0]] == keys, \
            "orc_file: non-uniform stream sets across row groups"
    streams = []
    offsets: dict[tuple[int, int], list[int]] = {key: [] for key in keys}
    for idx, key in enumerate(keys):
        parts = []
        pos = 0
        for g in range(n_groups):
            offsets[key].append(pos)
            b = per_group[g][0][idx][2]
            parts.append(b)
            pos += len(b)
        streams.append((key[0], key[1], b"".join(parts)))

    # Bit-packed streams (PRESENT anywhere, boolean DATA) CANNOT restart
    # at group boundaries: a group whose bit count is not a multiple of
    # 8 would pad its last byte and every continuous (non-seeking)
    # reader would consume the padding as data. Re-encode them
    # CONTINUOUSLY over the stripe — byte-identical to the non-strided
    # wire — and compute genuine (byte-RLE header offset, values into
    # group, bit offset) seek positions by scanning the encoded stream.
    bit_seeks: dict[tuple[int, int], list[tuple[int, int, int]]] = {}
    for idx, (skind, cid) in enumerate(keys):
        if skind == _PRESENT:
            field = "valid"
        elif skind == _DATA and all(
            "bool" in captures[g].get(cid, {}) for g in range(n_groups)
        ):
            field = "bool"
        else:
            continue
        arrays = [np.asarray(captures[g][cid][field], bool)
                  for g in range(n_groups)]
        bits = np.concatenate(arrays) if arrays else np.zeros(0, bool)
        cont = encode_boolean_rle(bits)
        streams[idx] = (skind, cid, cont)
        pref = 0
        seeks = []
        for a in arrays:
            k_byte, bit_off = pref // 8, pref % 8
            seeks.append((k_byte, bit_off))
            pref += len(a)
        hdr_into = _byte_rle_positions(cont, [s[0] for s in seeks])
        bit_seeks[(skind, cid)] = [
            (hdr, into, b) for (hdr, into), (_k, b) in zip(hdr_into, seeks)
        ]
    return streams, encodings, group_stats, offsets, bit_seeks


# -------------------------------------------------------------- writer


def write_orc(
    table: pa.Table,
    out: "str | BinaryIO",
    compression: str = "none",
    stripe_rows: int = 65_536,
    dict_strings: bool = True,
    rle: str = "v1",
    row_index: bool = True,
    row_index_stride: int | None = None,
    bloom_columns: list[str] | None = None,
) -> int:
    """Write ``table`` as a genuine ORC file; returns bytes written.

    Single-pass, stripes of ``stripe_rows`` rows; every stream is our
    own encoder output (RLEv1 signed/unsigned, boolean RLE, byte RLE,
    raw-LE floats) framed by the hand-rolled proto tail. Readable by
    pyarrow.orc / Apache ORC C++.

    String columns are DICTIONARY-encoded per stripe when distinct/total
    <= DICT_THRESHOLD (Apache ORC's 0.8 default; sorted dictionary),
    else DIRECT; set ``dict_strings=False`` to force DIRECT everywhere.

    ``rle="v2"`` writes every integer-RLE stream with the repo's ORC
    RLEv2 encoder (short-repeat/direct/patched-base/delta) and marks
    columns DIRECT_V2/DICTIONARY_V2 — the external-reader validation
    loop for the RLEv2 codec itself.

    ``row_index=True`` (default) writes file/stripe/row-group
    ColumnStatistics with exact-or-wider bounds (string min/max omitted
    when UTF-8 byte order could diverge from Java's UTF-16 comparison,
    double stats omitted under NaN, int sums omitted on potential
    overflow) plus one-row-group-per-stripe ROW_INDEX streams, enabling
    Apache ORC Java stripe elimination under predicate pushdown.

    ``row_index_stride=N`` (multiple of 8, e.g. Apache's default
    10_000) splits every stripe into N-row index groups with one
    RowIndexEntry per group carrying REAL seek positions: every stream
    restarts its encoder at group boundaries (spec-legal, ~1 extra run
    per group), so positions are exact with zero run/bit offsets, and
    compressed positions map through the block framing. Apache ORC
    Java (Spark's reader) demonstrably SKIPS row groups inside a
    single stripe from these positions (scan emits one group of a
    200k-row stripe, tests/test_orc_file.py), as does the repo's own
    reader. Strings are forced DIRECT in this mode (a shared stripe
    dictionary cannot restart per group); ``bloom_columns`` filters
    become one-per-group automatically.

    ``bloom_columns`` adds a BLOOM_FILTER_UTF8 index stream (the
    proto's bloom filters, orc_proto.proto:98-106 — listed but never
    written by the reference) for those top-level int/date/string/binary
    columns: one spec-exact bloom filter per row group (codecs/
    orc_bloom.py, hash pipeline bit-identical to Java's
    BloomFilterUtf8 — verified word-for-word via py4j in
    tests/test_orc_bloom.py), which Apache ORC Java CONSUMES for
    row-group elimination on pushed ``=``/``IN`` predicates where
    min/max stats cannot prune."""
    if compression not in _COMPRESSION:
        raise ValueError(
            f"orc_file: compression {compression!r} not in "
            f"{sorted(_COMPRESSION)}"
        )
    if row_index_stride is not None:
        if not row_index:
            raise ValueError(
                "orc_file: row_index_stride requires row_index=True"
            )
        if row_index_stride <= 0:
            raise ValueError(
                "orc_file: row_index_stride must be positive"
            )
    if rle not in ("v1", "v2"):
        raise ValueError(f"orc_file: rle {rle!r} not in ('v1', 'v2')")
    nodes, extras = _plan_types(table.schema)
    bloom_ids: dict[int, str] = {}
    if bloom_columns:
        if not row_index:
            raise ValueError(
                "orc_file: bloom_columns requires row_index=True (readers "
                "only consult row-group indexes when rowIndexStride > 0)"
            )
        top = dict(zip(nodes[0][2], nodes[0][1]))  # root field name -> cid
        for name in bloom_columns:
            if name not in top:
                raise ValueError(
                    f"orc_file: bloom column {name!r} is not a top-level "
                    f"column of {list(top)}"
                )
            t = table.schema.field(name).type
            if not (
                pa.types.is_integer(t)
                or pa.types.is_date32(t)
                or pa.types.is_string(t)
                or pa.types.is_large_string(t)
                or pa.types.is_binary(t)
            ):
                raise ValueError(
                    f"orc_file: bloom filters support int/date32/string/"
                    f"binary columns, not {t} ({name!r})"
                )
            bloom_ids[top[name]] = name
    close = False
    if isinstance(out, str):
        f: BinaryIO = open(out, "wb")
        close = True
    else:
        f = out
    try:
        f.write(b"ORC")
        pos = 3
        stripe_infos = []
        stripe_stats: list[dict[int, dict]] = []
        file_stats: list[dict | None] = [None] * len(nodes)
        n_rows = table.num_rows
        for start in range(0, max(n_rows, 1), stripe_rows):
            batch_tbl = table.slice(start, stripe_rows)
            if batch_tbl.num_rows == 0 and n_rows > 0:
                break
            root = pa.StructArray.from_arrays(
                [
                    c.combine_chunks() if isinstance(c, pa.ChunkedArray) else c
                    for c in batch_tbl.columns
                ],
                names=list(batch_tbl.schema.names),
            )
            gstats: list[dict] | None = None
            if row_index_stride is not None:
                (streams, encodings, gstats, goffs,
                 bit_seeks) = _grouped_column_streams(
                    root, row_index_stride, rle,
                )
                present_cols = {c for k, c in goffs if k == _PRESENT}
                sstats = {}
                for cid in range(len(nodes)):
                    m = None
                    for gs in gstats:
                        m = _merge_stat(m, gs[cid])
                    sstats[cid] = m
            else:
                streams = []
                encodings = {}
                sstats = {}
                _column_streams(
                    root, 0, streams, encodings, dict_strings, rle, sstats,
                )
            assert len(sstats) == len(nodes)  # walks agree on column ids
            stripe_stats.append(sstats)
            for i in range(len(nodes)):
                file_stats[i] = _merge_stat(file_stats[i], sstats[i])
            sf = b""
            data_len = 0
            index_len = 0
            payloads = []
            comp_streams = [
                (kind, col, _orc_compress(raw, compression))
                for kind, col, raw in streams
            ]
            if row_index and gstats is not None:
                # strided mode: one RowIndexEntry per row group with
                # REAL positions — streams restart at group boundaries
                # (run/bit offsets provably zero), so each position is
                # (compressed block start, offset within block) or the
                # plain byte offset when uncompressed
                comp_map = {(k, c): cb for k, c, cb in comp_streams}
                boffs_cache: dict[tuple[int, int], list[int]] = {}
                n_groups = len(gstats)
                for cid in range(len(nodes)):
                    layout = _writer_index_layout(
                        nodes, cid, cid in present_cols
                    )
                    entries = b""
                    for g in range(n_groups):
                        pos_vals: list[int] = []
                        for skind, rtype in layout:
                            bseek = bit_seeks.get((skind, cid))
                            if bseek is not None:
                                # continuous bit-packed stream: real
                                # header/run/bit seek state
                                u_off, run_v, bit_v = bseek[g]
                            else:
                                # group-restarted stream: group start
                                # IS a fresh encoder state
                                u_off = goffs[(skind, cid)][g]
                                run_v = bit_v = 0
                            if compression == "none":
                                pos_vals.append(u_off)
                            else:
                                key = (skind, cid)
                                if key not in boffs_cache:
                                    boffs_cache[key] = _comp_block_offsets(
                                        comp_map[key]
                                    )
                                boffs = boffs_cache[key]
                                bi = u_off // DEFAULT_BLOCK_SIZE
                                pos_vals.append(
                                    boffs[bi] if bi < len(boffs)
                                    else len(comp_map[key])
                                )
                                pos_vals.append(u_off % DEFAULT_BLOCK_SIZE)
                            if rtype in ("rle", "bool"):
                                pos_vals.append(run_v)
                            if rtype == "bool":
                                pos_vals.append(bit_v)
                        entry = b"".join(_pv(1, p) for p in pos_vals)
                        entry += _pb(2, _stats_msg(gstats[g][cid]))
                        entries += _pb(1, entry)
                    comp = _orc_compress(entries, compression)
                    payloads.append(comp)
                    sf += _pb(
                        1, _pv(1, _ROW_INDEX) + _pv(2, cid)
                        + _pv(3, len(comp))
                    )
                    index_len += len(comp)
                for cid in sorted(bloom_ids):
                    col = batch_tbl.column(bloom_ids[cid])
                    raw = b"".join(
                        _bloom_index_msg(
                            col.slice(g * row_index_stride, row_index_stride)
                        )
                        for g in range(n_groups)
                    )
                    comp = _orc_compress(raw, compression)
                    payloads.append(comp)
                    sf += _pb(
                        1, _pv(1, _BLOOM_FILTER_UTF8) + _pv(2, cid)
                        + _pv(3, len(comp))
                    )
                    index_len += len(comp)
            elif row_index:
                # ROW_INDEX stream per column, ONE RowIndexEntry whose
                # statistics are the stripe's (footer rowIndexStride ==
                # stripe_rows => exactly one row group per stripe, so
                # positions are never consulted for intra-stripe seeks
                # — but Apache ORC Java only constructs its
                # SearchArgument applier at all when rowIndexStride > 0,
                # and THAT is what turns on stripe elimination from the
                # Metadata stripe stats). Index streams precede data
                # streams; StripeInformation.indexLength counts them.
                for cid in range(len(nodes)):
                    entry = _pb(2, _stats_msg(sstats[cid]))
                    comp = _orc_compress(_pb(1, entry), compression)
                    payloads.append(comp)
                    sf += _pb(
                        1, _pv(1, _ROW_INDEX) + _pv(2, cid)
                        + _pv(3, len(comp))
                    )
                    index_len += len(comp)
                for cid in sorted(bloom_ids):
                    # BLOOM_FILTER_UTF8 (kind 8): one BloomFilterIndex
                    # message per column per stripe, one BloomFilter
                    # entry per row group (== one per stripe here)
                    raw = _bloom_index_msg(batch_tbl.column(bloom_ids[cid]))
                    comp = _orc_compress(raw, compression)
                    payloads.append(comp)
                    sf += _pb(
                        1, _pv(1, _BLOOM_FILTER_UTF8) + _pv(2, cid)
                        + _pv(3, len(comp))
                    )
                    index_len += len(comp)
            for kind, col, comp in comp_streams:
                payloads.append(comp)
                stream_msg = _pv(1, kind) + _pv(2, col) + _pv(3, len(comp))
                sf += _pb(1, stream_msg)
                data_len += len(comp)
            for i in range(len(nodes)):  # ColumnEncoding per column
                enc, size = encodings.get(i, (_DIRECT, -1))
                msg = _pv(1, enc)
                if size >= 0:
                    msg += _pv(2, size)  # dictionarySize
                sf += _pb(2, msg)
            sf += _pb(3, b"UTC")
            sf_bytes = _orc_compress(sf, compression)
            for p in payloads:
                f.write(p)
            f.write(sf_bytes)
            si = (
                _pv(1, pos)
                + _pv(2, index_len)
                + _pv(3, data_len)
                + _pv(4, len(sf_bytes))
                + _pv(5, batch_tbl.num_rows)
            )
            stripe_infos.append(si)
            pos += index_len + data_len + len(sf_bytes)
            if n_rows == 0:
                break
        content_len = pos - 3  # stripes only: the 3-byte magic is
        # accounted by headerLength (probed: Apache C++ contentLength
        # excludes it — header + content + metadata + footer + ps + 1
        # == file length exactly)
        # Metadata section (stripe-level ColumnStatistics — the input
        # to Apache ORC's stripe elimination under predicate pushdown)
        metadata = b""
        for sstats in stripe_stats:
            ss_msg = b"".join(
                _pb(1, _stats_msg(sstats[i])) for i in range(len(nodes))
            )
            metadata += _pb(1, ss_msg)
        metadata_bytes = _orc_compress(metadata, compression)
        f.write(metadata_bytes)
        footer = _pv(1, 3) + _pv(2, content_len)
        for si in stripe_infos:
            footer += _pb(3, si)
        footer += _types_proto(nodes, extras)
        footer += _pv(6, n_rows)
        for i in range(len(nodes)):  # file-level stats (field 7)
            footer += _pb(
                7,
                _stats_msg(
                    file_stats[i]
                    or {"kind": "none", "n": 0, "has_null": False}
                ),
            )
        # one row group per stripe: stride == stripe_rows (a stride is an
        # UPPER bound on rows per group, so every stripe has exactly one)
        footer += _pv(8, (row_index_stride or stripe_rows)
                      if row_index else 0)
        footer_bytes = _orc_compress(footer, compression)
        f.write(footer_bytes)
        ps = _pv(1, len(footer_bytes))
        ps += _pv(2, _COMPRESSION[compression])
        if compression != "none":
            ps += _pv(3, DEFAULT_BLOCK_SIZE)
        ps += _pv(4, 0) + _pv(4, 12)  # file version 0.12
        ps += _pv(5, len(metadata_bytes))  # metadataLength
        ps += _pv(6, 1)  # writerVersion
        ps += _pb(8000, b"ORC")
        if len(ps) > 255:
            raise AssertionError("postscript > 255 bytes")
        f.write(ps)
        f.write(bytes([len(ps)]))
        return (
            pos + len(metadata_bytes) + len(footer_bytes) + len(ps) + 1
        )
    finally:
        if close:
            f.close()


# ------------------------------------------------------- Spark operators


def write_orc_groups(
    df,
    out_dir: str,
    num_groups: int | None = None,
    key_col: str | None = None,
    size_col: str | None = None,
    compression: str = "zstd",
    stripe_rows: int = 65_536,
    rle: str = "v1",
    writer: str = "native",
    bloom_columns: list[str] | None = None,
    row_index_stride: int | None = None,
):
    """Distributed real-ORC sink: salt rows into groups (the same
    :func:`operators.partitioning.with_group_id` salting as
    ``encode_groups``), ONE shuffle on group_id, then each group's task
    writes ``<out_dir>/group-<id>.orc`` itself (atomic tmp+rename, the
    payload never crosses the Python->JVM socket). Returns the lineage
    frame (group_id, orc_path, n_rows, n_bytes).

    This is the "hand our columns to the rest of the world" exit ramp:
    the files are genuine ORC, openable by Hive/Trino/Spark's native
    reader/pyarrow — and therefore also our third-party correctness
    oracle (an independent reader must agree with what we wrote).

    ``writer="apache"`` emits each group file with pyarrow.orc (Apache
    ORC C++) instead of this repo's writer — the foreign-writer leg of
    the bidirectional oracle loop for the in-repo reader
    (sources/orc_read.py), and a useful sink in its own right when the
    Apache lib is present."""
    import os

    from ..operators.partitioning import with_group_id
    from ..worker_env import limit_worker_threads

    os.makedirs(out_dir, exist_ok=True)
    if "group_id" not in df.columns:
        if num_groups is None:
            num_groups = max(1, df.rdd.getNumPartitions())
        key = key_col or df.columns[0]
        df = with_group_id(df, num_groups, key_col=key, size_col=size_col)
    sort_key = key_col or [c for c in df.columns if c != "group_id"][0]

    def fn(tbl: pa.Table) -> pa.Table:
        limit_worker_threads()
        gid = tbl.column("group_id")[0].as_py() if tbl.num_rows else -1
        data = tbl.drop_columns(["group_id"]).sort_by(
            [(sort_key, "ascending")]
        )
        dest = os.path.join(out_dir, f"group-{gid:08d}.orc")
        tmp = f"{dest}.tmp.{os.getpid()}"
        if writer == "apache":
            import pyarrow.orc as po

            po.write_table(
                data, tmp,
                compression="uncompressed" if compression == "none"
                else compression,
            )
            n_bytes = os.path.getsize(tmp)
        else:
            n_bytes = write_orc(
                data, tmp, compression=compression,
                stripe_rows=stripe_rows, rle=rle,
                bloom_columns=bloom_columns,
                row_index_stride=row_index_stride,
            )
        os.replace(tmp, dest)
        return pa.table(
            {
                "group_id": pa.array([gid], pa.int64()),
                "orc_path": pa.array([dest], pa.string()),
                "n_rows": pa.array([data.num_rows], pa.int64()),
                "n_bytes": pa.array([n_bytes], pa.int64()),
            }
        )

    return df.groupBy("group_id").applyInArrow(
        fn, "group_id long, orc_path string, n_rows long, n_bytes long"
    )


def read_orc_files(files, schema: str):
    """Decode sink-written ORC rows (``orc_path`` column) back into the
    original table shape THROUGH THE INDEPENDENT READER: each worker
    opens its files with pyarrow.orc (Apache ORC C++), not with any
    code from this repo — so a pass through here is third-party
    validation of the writer, the loop the reference ran by opening
    target/test.orc with another reader (src/bin/test_writer.rs)."""
    from collections.abc import Iterator

    from ..worker_env import limit_worker_threads

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.orc as po

        limit_worker_threads()
        for batch in batches:
            col = batch.column(batch.schema.get_field_index("orc_path"))
            for v in col:
                yield from po.ORCFile(v.as_py()).read().to_batches()

    return files.select("orc_path").mapInArrow(fn, schema)
