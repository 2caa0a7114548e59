"""In-repo ORC reader — decode genuine ORC files with THIS repo's
codecs, no pyarrow.orc involved.

This is the write path's mirror image and the final leg of the
external-oracle loop: ``orc_file.write_orc`` proves "our writer →
Apache reader agrees"; this module proves "Apache writer → our reader
agrees" by decoding files written by Apache ORC C++ (pyarrow.orc) with
the repo's own RLEv1 / RLEv2 / byte-RLE / boolean-RLE / varint
decoders and comparing against pyarrow's read of the same bytes
(tests/test_orc_read.py). The reference never shipped a working
reader at all (its reader module is a dead stub, see SURVEY.md §2.5) —
this closes that gap in the Spark-first rebuild: a user can read ORC
data produced by Hive/Spark/Trino without any Apache reader present.

Wire knowledge used here is the public ORC v1 specification plus the
reference's proto schema (/root/reference/protos/orc_proto.proto);
stream semantics mirror the writer (orc_file.py) which was probed
against Apache C++ byte-for-byte.

Scope (matches + exceeds the writer):
- types: boolean, tinyint..bigint, float, double, string, varchar,
  char, binary, date, timestamp (any writerTimezone in the host tz
  database — non-UTC files restore the writer's wall clock),
  timestamp_instant, decimal (v1 varint + scale SECONDARY), list,
  map, struct, union (dense; null union rows are unrepresentable in
  Arrow and raise);
- encodings: DIRECT / DICTIONARY (RLEv1 streams) and DIRECT_V2 /
  DICTIONARY_V2 (RLEv2 short-repeat/direct/patched-base/delta);
- compression: none, zlib (raw DEFLATE), snappy (leading-varint size
  sniff), zstd (frame-header content-size sniff — one-shot frames as
  written by Apache C++/Java and pyarrow always carry it), lz4 (pure-
  Python block decode: no lz4 module in-sandbox and raw LZ4 carries no
  size, so this is the documented slow path), lzo (the repo's own
  pure-Python LZO1X decoder, codecs/lzo.py);
- column projection: ``columns=[...]`` decodes + decompresses only the
  requested subtrees (streams of unselected columns are never
  touched). Dotted paths project INTO structs at any depth
  (``"s.inner.a"`` decodes only that leaf plus the enclosing structs'
  PRESENT streams — nested schema pruning, the wide-struct scan
  saver), and lists are transparent to them (``"evs.id"`` prunes the
  element fields of a ``list<struct>`` — Spark's nested-pruning
  convention); ``"s"`` alongside ``"s.a"`` widens to the whole struct;
- stripe pruning: ``predicate=`` (orc_format_spark.predicate) over
  every min/max-carrying ColumnStatistics kind (the Timestamp UTC ms
  pair widened 1 ms per side), hasNull/numberOfValues and bloom
  filters; a leaf may name a dotted nested leaf (``"s.inner.x"``,
  lists transparent; ``isnull`` there never prunes: ancestor nulls are
  invisible to its hasNull). Temporal literals convert (date→epoch
  days, datetime→UTC ns); a cross-typed literal keeps the stripe;
- row-group elimination inside surviving stripes: RowIndexEntry
  statistics and per-group bloom filters keep maximal runs of groups,
  each decoded on its own; every projected column's streams (all
  types, all compressions, nested children included) seek to the
  run's first group via the recorded positions and stop decompressing
  at the block holding the next group's position where that bounds
  the run exactly (``_stream_ends``), and count-bounded RLE scans stop
  after the run — a point lookup in a 2M-row single-stripe file
  decodes one 10k group, ~20x faster than the full-stripe decode.
  Columns without an index (e.g. our own writer's one-group-per-
  stripe files) fall back to whole-stripe decode, always sound.

Scale shape: one task reads its own files inside ``mapInArrow``
(``read_orc_files_native``) — whole-file bytes stay in the worker,
the driver sees only rows after any aggregation Spark plans.
"""

from __future__ import annotations

import functools
import zlib

import numpy as np
import pyarrow as pa

from ..codecs.container import _proj_tree
from ..predicate import Stats, leaves, may_match, normalize
from ..codecs.rle_v1 import (
    decode_byte_rle,
    decode_int_rle_v1,
)
from ..codecs.rle_v2 import decode_int_rle_v2
from .orc_file import (
    _DATA,
    _DICT_DATA,
    _DICTIONARY,
    _DICTIONARY_V2,
    _LENGTH,
    _PRESENT,
    _ROW_INDEX,
    _SECONDARY,
)

# Type.Kind beyond what the writer emits (orc_proto.proto)
_K_BOOL, _K_BYTE, _K_SHORT, _K_INT, _K_LONG = 0, 1, 2, 3, 4
_K_FLOAT, _K_DOUBLE, _K_STRING, _K_BINARY, _K_TIMESTAMP = 5, 6, 7, 8, 9
_K_LIST, _K_MAP, _K_STRUCT, _K_UNION, _K_DECIMAL, _K_DATE = 10, 11, 12, 13, 14, 15
_K_VARCHAR, _K_CHAR, _K_TIMESTAMP_INSTANT = 16, 17, 18

_COMPRESSION_NAME = {0: "none", 1: "zlib", 2: "snappy", 3: "lzo",
                     4: "lz4", 5: "zstd"}
_EPOCH_2015 = 1420070400  # seconds 1970->2015, codecs/timestamp.py

_UTC_NAMES = frozenset(("", "UTC", "GMT", "Etc/UTC", "Etc/GMT", "Z"))


@functools.lru_cache(maxsize=None)
def _writer_zone(name: str):
    import zoneinfo

    try:
        return zoneinfo.ZoneInfo(name)
    except (zoneinfo.ZoneInfoNotFoundError, ValueError) as e:
        raise NotImplementedError(
            f"orc_read: writerTimezone {name!r} not in the host tz "
            "database; cannot restore wall-clock timestamps"
        ) from e


@functools.lru_cache(maxsize=None)
def _writer_base_seconds(name: str) -> int:
    """Unix seconds of 2015-01-01 00:00:00 wall clock in ``name`` —
    ORC-Java's per-writer base epoch (TimestampTreeWriter's
    base_timestamp under a non-UTC default TimeZone)."""
    import datetime

    dt = datetime.datetime(2015, 1, 1, tzinfo=_writer_zone(name))
    return int(dt.timestamp())


def _instants_to_wall_ns(ns: np.ndarray, name: str) -> np.ndarray:
    """UTC-instant epoch nanos -> the wall clock those instants showed
    in zone ``name``, as naive epoch nanos (vectorized; pandas applies
    the zone's full transition history per element)."""
    import pandas as pd

    idx = pd.DatetimeIndex(ns.astype("datetime64[ns]"), tz="UTC")
    return idx.tz_convert(_writer_zone(name)).tz_localize(None).asi8


# ------------------------------------------------------ proto2 wire parse


def _proto_fields(buf):
    """Iterate (field_no, wire_type, value) over a proto2 message.

    wire type 0 -> int, 2 -> memoryview, 5/1 -> raw little-endian bytes.
    """
    mv = memoryview(buf)
    pos = 0
    n = len(mv)
    while pos < n:
        key = 0
        shift = 0
        while True:
            b = mv[pos]
            key |= (b & 0x7F) << shift
            pos += 1
            if b < 0x80:
                break
            shift += 7
        fno, wt = key >> 3, key & 7
        if wt == 0:
            v = 0
            shift = 0
            while True:
                b = mv[pos]
                v |= (b & 0x7F) << shift
                pos += 1
                if b < 0x80:
                    break
                shift += 7
            yield fno, wt, v
        elif wt == 2:
            ln = 0
            shift = 0
            while True:
                b = mv[pos]
                ln |= (b & 0x7F) << shift
                pos += 1
                if b < 0x80:
                    break
                shift += 7
            yield fno, wt, mv[pos : pos + ln]
            pos += ln
        elif wt == 5:
            yield fno, wt, mv[pos : pos + 4]
            pos += 4
        elif wt == 1:
            yield fno, wt, mv[pos : pos + 8]
            pos += 8
        else:
            raise ValueError(f"orc_read: unsupported wire type {wt}")


def _packed_uints(val) -> list[int]:
    """A repeated uint field arrives packed (wt2) or unpacked (wt0)."""
    if isinstance(val, int):
        return [val]
    out = []
    pos = 0
    n = len(val)
    while pos < n:
        v = 0
        shift = 0
        while True:
            b = val[pos]
            v |= (b & 0x7F) << shift
            pos += 1
            if b < 0x80:
                break
            shift += 7
        out.append(v)
    return out


# --------------------------------------------------------- decompression


def _snappy_size(b) -> int:
    size = 0
    shift = 0
    i = 0
    while True:
        x = b[i]
        size |= (x & 0x7F) << shift
        i += 1
        if x < 0x80:
            return size
        shift += 7


def _zstd_size(b) -> int:
    """Frame-header content size; one-shot zstd frames always carry it."""
    if bytes(b[:4]) != b"\x28\xb5\x2f\xfd":
        raise ValueError("orc_read: not a zstd frame")
    fhd = b[4]
    pos = 5
    single = (fhd >> 5) & 1
    if not single:
        pos += 1  # window descriptor
    pos += (0, 1, 2, 4)[fhd & 3]  # dictionary id
    f = fhd >> 6
    if f == 0:
        if single:
            return b[pos]
        raise NotImplementedError(
            "orc_read: zstd frame without content size (streaming-"
            "compressed); one-shot writers (Apache ORC, this repo) "
            "always record it"
        )
    if f == 1:
        return int.from_bytes(bytes(b[pos : pos + 2]), "little") + 256
    if f == 2:
        return int.from_bytes(bytes(b[pos : pos + 4]), "little")
    return int.from_bytes(bytes(b[pos : pos + 8]), "little")


def _lz4_block(src, max_size: int) -> bytes:
    """Pure-Python raw-LZ4 block decode (no size header in the format,
    no lz4 module in-sandbox). Sequential; documented slow path. The
    decoded size is discovered while decoding and bounded by the ORC
    chunk framing's ``max_size``; corrupt offsets raise instead of
    hanging (offset 0 would loop forever) or reading garbage."""
    out = bytearray()
    i, n = 0, len(src)
    while i < n:
        tok = src[i]
        i += 1
        ll = tok >> 4
        if ll == 15:
            while True:
                x = src[i]
                i += 1
                ll += x
                if x != 255:
                    break
        if i + ll > n:
            raise ValueError(
                "orc_read: corrupt lz4 literal run past end of chunk"
            )
        out += src[i : i + ll]
        i += ll
        if len(out) > max_size:
            raise ValueError(
                f"orc_read: lz4 chunk decodes past block size {max_size}"
            )
        if i >= n:
            break
        off = src[i] | (src[i + 1] << 8)
        i += 2
        if off == 0 or off > len(out):
            raise ValueError(
                f"orc_read: corrupt lz4 match offset {off} at output"
                f" position {len(out)}"
            )
        ml = (tok & 15) + 4
        if ml == 19:
            while True:
                x = src[i]
                i += 1
                ml += x
                if x != 255:
                    break
        # bound BEFORE materializing: a corrupt extended match length
        # (offset 1 + 255-run extensions) would otherwise replicate up
        # to ~255x the chunk size into memory before any check fires
        if len(out) + ml > max_size:
            raise ValueError(
                f"orc_read: lz4 chunk decodes past block size {max_size}"
            )
        start = len(out) - off
        if off >= ml:
            out += out[start : start + ml]
        else:  # overlapping match: replicate window until ml consumed
            while ml > 0:
                chunk = out[start : start + min(off, ml)]
                out += chunk
                ml -= len(chunk)
    return bytes(out)


def _block(payload, kind: str, block_size: int):
    """One compressed ORC chunk -> its bytes."""
    if kind == "zlib":  # raw DEFLATE
        return zlib.decompressobj(-15).decompress(bytes(payload))
    if kind == "zstd":
        return pa.Codec("zstd").decompress(
            payload, decompressed_size=_zstd_size(payload), asbytes=True)
    if kind == "snappy":
        return pa.Codec("snappy").decompress(
            payload, decompressed_size=_snappy_size(payload), asbytes=True)
    if kind == "lz4":
        # raw LZ4 carries no size header; _lz4_block discovers the
        # true size while decoding and enforces <= block_size
        return _lz4_block(payload, block_size)
    if kind == "lzo":
        # raw LZO1X (own codec): the EOS marker bounds the chunk
        from ..codecs.lzo import lzo1x_decompress

        return lzo1x_decompress(bytes(payload), max_out=block_size)
    raise NotImplementedError(f"orc_read: compression {kind!r}")


def _decompress(buf, kind: str, block_size: int, start: int = 0,
                end: tuple[int, int] | None = None):
    """ORC chunk framing: 3-byte LE ``len*2 + is_original`` headers.

    Mirror of orc_file._orc_compress; unlike blocks.decompress_stream
    there is NO leading total-length varint (real ORC has no room for
    one), so sizes are sniffed per codec where the wire requires it.

    The walk begins at the block at offset ``start``. ``end =
    (block_off, length)`` stops it once ``length`` bytes have come out
    of the blocks from the one at ``block_off`` on (the last one cut;
    ``length`` 0 stops before that block), or at the stream's end. A
    ``block_off`` off the block chain raises. One block comes back as
    it decompressed (bytes, or a memoryview when cut), without a join.
    """
    if kind == "none":
        return bytes(buf)
    mv = memoryview(buf)
    out = []
    pos = start
    n = len(mv)
    stop, want = (n, 0) if end is None else end
    reached = False
    while pos < n:
        reached = reached or pos == stop
        if reached and want <= 0:
            break
        if pos > stop and not reached:
            break
        header = int.from_bytes(bytes(mv[pos : pos + 3]), "little")
        pos += 3
        length = header >> 1
        if pos + length > n:
            raise ValueError("orc_read: compressed block runs past its stream")
        payload = mv[pos : pos + length]
        block = (bytes(payload) if header & 1  # stored original
                 else _block(payload, kind, block_size))
        pos += length
        out.append(block)
        if reached:
            want -= len(block)
            if want < 0:
                out[-1] = memoryview(block)[: len(block) + want]
                break
    if end is not None and not (reached or pos == stop):
        raise ValueError(
            "orc_read: index position off its stream's compression blocks"
        )
    return out[0] if len(out) == 1 else b"".join(out)


# ------------------------------------------------------- message parsing


def _parse_postscript(buf) -> dict:
    ps = {"compression": 0, "block_size": 256 * 1024, "metadata_len": 0}
    for fno, _wt, v in _proto_fields(buf):
        if fno == 1:
            ps["footer_len"] = v
        elif fno == 2:
            ps["compression"] = v
        elif fno == 3:
            ps["block_size"] = v
        elif fno == 5:
            ps["metadata_len"] = v
    return ps


class _OrcType:
    __slots__ = ("kind", "subtypes", "names", "max_len", "precision",
                 "scale")

    def __init__(self):
        self.kind = 0
        self.subtypes: list[int] = []
        self.names: list[str] = []
        self.max_len = 0
        self.precision = 0
        self.scale = 0


def _parse_type(buf) -> _OrcType:
    t = _OrcType()
    for fno, _wt, v in _proto_fields(buf):
        if fno == 1:
            t.kind = v
        elif fno == 2:
            t.subtypes.extend(_packed_uints(v))
        elif fno == 3:
            t.names.append(bytes(v).decode("utf-8"))
        elif fno == 4:
            t.max_len = v
        elif fno == 5:
            t.precision = v
        elif fno == 6:
            t.scale = v
    return t


def _parse_footer(buf) -> dict:
    stripes = []
    types: list[_OrcType] = []
    n_rows = 0
    stride = 0
    stats_blobs: list = []
    writer = None
    for fno, _wt, v in _proto_fields(buf):
        if fno == 3:  # StripeInformation
            si = {"offset": 0, "index_len": 0, "data_len": 0,
                  "footer_len": 0, "n_rows": 0}
            for f2, _w2, v2 in _proto_fields(v):
                if f2 == 1:
                    si["offset"] = v2
                elif f2 == 2:
                    si["index_len"] = v2
                elif f2 == 3:
                    si["data_len"] = v2
                elif f2 == 4:
                    si["footer_len"] = v2
                elif f2 == 5:
                    si["n_rows"] = v2
            stripes.append(si)
        elif fno == 4:
            types.append(_parse_type(v))
        elif fno == 6:
            n_rows = v
        elif fno == 7:  # file-level ColumnStatistics, in column order
            stats_blobs.append(v)
        elif fno == 8:  # rowIndexStride (0 = no row-group indexes)
            stride = v
        elif fno == 9:  # writer implementation id (0 Java, 1 C++, ...)
            writer = v
    return {"stripes": stripes, "types": types, "n_rows": n_rows,
            "stats": stats_blobs, "stride": stride, "writer": writer}


def _parse_stripe_footer(buf) -> dict:
    streams = []  # (kind, column, length) in physical order
    encodings = []  # (encoding_kind, dictionary_size)
    tz = ""
    for fno, _wt, v in _proto_fields(buf):
        if fno == 1:
            kind = col = ln = 0
            for f2, _w2, v2 in _proto_fields(v):
                if f2 == 1:
                    kind = v2
                elif f2 == 2:
                    col = v2
                elif f2 == 3:
                    ln = v2
            streams.append((kind, col, ln))
        elif fno == 2:
            ek = ds = 0
            for f2, _w2, v2 in _proto_fields(v):
                if f2 == 1:
                    ek = v2
                elif f2 == 2:
                    ds = v2
            encodings.append((ek, ds))
        elif fno == 3:
            tz = bytes(v).decode("utf-8")
    return {"streams": streams, "encodings": encodings, "tz": tz}


def _parse_stats(buf) -> dict:
    """ColumnStatistics -> {n, has_null, min, max} (ints/doubles/strings);
    enough for min/max stripe pruning — mirrors the writer's _stats_msg."""
    # has_null stays None when the writer omitted field 10 (pre-1.x
    # Hive files): "unknown" must never prune an isnull term
    out = {"n": None, "has_null": None, "min": None, "max": None}
    for fno, _wt, v in _proto_fields(buf):
        if fno == 1:
            out["n"] = v
        elif fno == 10:
            out["has_null"] = bool(v)
        elif fno in (2, 3, 4, 6, 7):  # int/double/string/decimal/date
            out["sk"] = {7: "date"}.get(fno)
            for f2, w2, v2 in _proto_fields(v):
                if f2 == 1:
                    out["min"] = _stat_scalar(fno, w2, v2)
                elif f2 == 2:
                    out["max"] = _stat_scalar(fno, w2, v2)
        elif fno == 9:  # TimestampStatistics: use ONLY the UTC pair
            # (minimumUtc=3 / maximumUtc=4, sint64 epoch ms) — the
            # legacy 1/2 pair is writer-timezone-relative and could
            # misprune a foreign-timezone file. Bounds widen by 1 ms
            # each side: stats are ms-truncated while values carry ns.
            out["sk"] = "ts"
            for f2, _w2, v2 in _proto_fields(v):
                dec = (v2 >> 1) ^ -(v2 & 1)
                if f2 == 3:
                    out["min"] = (dec - 1) * 1_000_000
                elif f2 == 4:
                    out["max"] = (dec + 1) * 1_000_000
    return out


def _stat_scalar(msg_fno: int, wt: int, v):
    if msg_fno in (2, 7):  # Integer/DateStatistics: sint64/sint32 zigzag
        return (v >> 1) ^ -(v & 1)
    if msg_fno == 3:  # DoubleStatistics: fixed64 double
        return np.frombuffer(bytes(v), "<f8")[0] if wt == 1 else float(v)
    if msg_fno == 6:  # DecimalStatistics: decimal-as-string
        import decimal

        return decimal.Decimal(bytes(v).decode("utf-8"))
    return bytes(v).decode("utf-8")  # StringStatistics


def _conv_lit(lit, sk):
    """Convert a temporal predicate literal to the unit the stats kind
    compares in: epoch days for DateStatistics (``sk='date'``), epoch
    ns for TimestampStatistics (``sk='ts'``; naive datetimes are UTC,
    ints are taken as ns already). Everything else passes through."""
    import datetime

    if isinstance(lit, datetime.datetime):
        if sk == "date":
            lit = lit.date()
        else:
            if lit.tzinfo is None:
                lit = lit.replace(tzinfo=datetime.timezone.utc)
            # float seconds -> exact int ns: µs precision is exact in
            # float64 out to year ~2255
            return int(round(lit.timestamp() * 1_000_000)) * 1_000
    if isinstance(lit, datetime.date):
        days = (lit - datetime.date(1970, 1, 1)).days
        return days * 86_400_000_000_000 if sk == "ts" else days
    return lit


def _orc_view(cid_of: dict, types, stats: dict, ts_slack_ns: int,
              blooms_of=None):
    """``col -> Stats`` over one range's ORC ColumnStatistics
    (``stats[cid]``: Metadata stripe stats or RowIndexEntry stats, None
    = unknown) and bloom filters (``blooms_of(cid)``: OrcBloomFilters,
    None = none usable). ``ts_slack_ns`` widens TimestampStatistics: on
    a non-UTC writerTimezone file the decoded NTZ values are WALL clocks
    while minimumUtc/maximumUtc are instants."""

    def view(col):
        cid = cid_of[col]
        stt = stats[cid]
        bfs = blooms_of(cid) if blooms_of is not None else None
        bloom = None if bfs is None else _bloom_probe(bfs, types[cid].kind)
        if stt is None:
            return None if bloom is None else Stats(bloom=bloom)
        lo, hi, sk = stt["min"], stt["max"], stt.get("sk")
        if sk == "ts" and lo is not None and hi is not None:
            lo, hi = lo - ts_slack_ns, hi + ts_slack_ns
        return Stats(
            lo, hi,
            # a nested leaf is also null wherever an ANCESTOR is null,
            # which its own hasNull does not cover: unknown there
            None if "." in col else stt["has_null"],
            stt["n"],  # numberOfValues counts NON-null values
            bloom,
            lambda v: _conv_lit(v, sk),
        )

    return view


def _parse_row_index(raw) -> list[memoryview]:
    """ROW_INDEX stream -> per-row-group RowIndexEntry messages, left
    unparsed: a lookup reads the positions of at most two groups per
    column and the statistics of predicate columns only
    (_entry_positions, _entry_stats)."""
    return [v for fno, _wt, v in _proto_fields(raw) if fno == 1]


def _entry_positions(entry) -> list[int]:
    """A RowIndexEntry's positions: the column's stream-seek state at
    the first row of the group (layout depends on kind/encoding/
    compression, _position_layout)."""
    positions: list[int] = []
    for f2, w2, v2 in _proto_fields(entry):
        if f2 == 1:
            if w2 == 2:  # packed repeated uint64
                positions.extend(_packed_uints(v2))
            else:
                positions.append(v2)
    return positions


def _entry_stats(entry) -> dict | None:
    """A RowIndexEntry's statistics (the stripe-stats wire format)."""
    for f2, _w2, v2 in _proto_fields(entry):
        if f2 == 2:
            return _parse_stats(v2)
    return None


def _position_layout(t: _OrcType, encoding: int,
                     has_present: bool) -> list[tuple[int, str]] | None:
    """RowIndexEntry position order for one column: [(stream_kind,
    reader)] where reader is 'raw' (plain InStream), 'rle' (int RLE /
    byte RLE: +1 value offset into the current run) or 'bool' (bit
    reader over byte RLE: +1 run offset, +1 bit offset). Matches the
    recordPosition order of both Apache writers (PRESENT first, then
    the kind's data streams); None = kind we refuse to seek."""
    out: list[tuple[int, str]] = []
    if has_present:
        out.append((_PRESENT, "bool"))
    k = t.kind
    if k in (_K_SHORT, _K_INT, _K_LONG, _K_DATE):
        out.append((_DATA, "rle"))
    elif k in (_K_FLOAT, _K_DOUBLE):
        out.append((_DATA, "raw"))
    elif k == _K_BOOL:
        out.append((_DATA, "bool"))
    elif k == _K_BYTE:
        out.append((_DATA, "rle"))
    elif k in (_K_STRING, _K_VARCHAR, _K_CHAR, _K_BINARY):
        if encoding in (_DICTIONARY, _DICTIONARY_V2):
            out.append((_DATA, "rle"))  # index stream only; dictionary
            # blobs are whole-stripe and never positioned
        else:
            out.append((_DATA, "raw"))
            out.append((_LENGTH, "rle"))
    elif k in (_K_TIMESTAMP, _K_TIMESTAMP_INSTANT):
        out.append((_DATA, "rle"))
        out.append((_SECONDARY, "rle"))
    elif k == _K_DECIMAL:
        out.append((_DATA, "raw"))  # varint value stream: plain bytes
        out.append((_SECONDARY, "rle"))
    elif k in (_K_LIST, _K_MAP):
        out.append((_LENGTH, "rle"))
    elif k == _K_STRUCT:
        pass  # PRESENT only
    elif k == _K_UNION:
        out.append((_DATA, "rle"))  # byte-RLE tag stream
    else:
        return None
    return out


def _unpack_positions(pos: list[int], layout: list[tuple[int, str]],
                      compressed: bool) -> dict[int, tuple] | None:
    """positions -> {stream_kind: (block_off, inblock_off, run_off,
    bit_off)}. Compressed streams carry (compressed block start,
    uncompressed offset within that block); uncompressed just a byte
    offset. None on arity mismatch (foreign layout we mispredicted —
    callers fall back to whole-stripe decode rather than misread)."""
    seeks: dict[int, tuple] = {}
    i = 0
    try:
        for skind, reader in layout:
            if compressed:
                blk, inb = pos[i], pos[i + 1]
                i += 2
            else:
                blk, inb = pos[i], 0
                i += 1
            run = bit = 0
            if reader in ("rle", "bool"):
                run = pos[i]
                i += 1
            if reader == "bool":
                bit = pos[i]
                i += 1
            seeks[skind] = (blk, inb, run, bit)
    except IndexError:
        return None
    return seeks if i == len(pos) else None


def _subtree_cids(types: list[_OrcType], cid: int) -> list[int]:
    out = [cid]
    for sub in types[cid].subtypes:
        out.extend(_subtree_cids(types, sub))
    return out


def _stripe_row_index(st: "_Stripe", cid: int, cache: dict):
    """Parsed ROW_INDEX entries of one column, memoized per stripe so
    group selection and seek construction share one decompress+parse."""
    if cid not in cache:
        raw = st.stream(cid, _ROW_INDEX)
        cache[cid] = None if raw is None else _parse_row_index(raw)
    return cache[cid]


def _proj_cids(types: list[_OrcType], cid: int, proj):
    """Column ids actually decoded for a (possibly projected) subtree:
    the whole subtree when ``proj`` is None, else the struct node (its
    PRESENT stream is still read) plus only the selected children."""
    if proj is None:
        yield from _subtree_cids(types, cid)
        return
    yield cid
    t = types[cid]
    if t.kind == _K_LIST:  # transparent: proj applies to the element
        yield from _proj_cids(types, t.subtypes[0], proj)
        return
    for nm, sub in proj.items():
        yield from _proj_cids(types, t.subtypes[t.names.index(nm)], sub)


def _build_seeks(st: "_Stripe", types: list[_OrcType],
                 cids: list[tuple[int, object]],
                 group: int, compressed: bool,
                 idx_cache: dict) -> dict | None:
    """Seek state of every stream at the first row of group ``group``:
    for every column a ``(top_cid, proj)`` pair will decode, unpack
    that column's RowIndexEntry positions. Projection-pruned children
    need no positions (their streams are never read). None when any
    required column lacks an index / has an unseekable kind /
    mismatched arity — the caller falls back to full-stripe decode
    (always sound)."""
    seeks: dict[tuple[int, int], tuple] = {}
    for top, proj in cids:
        for cid in _proj_cids(types, top, proj):
            entries = _stripe_row_index(st, cid, idx_cache)
            if entries is None:
                return None
            if group >= len(entries):
                return None
            layout = _position_layout(
                types[cid], st.encodings[cid][0],
                (cid, _PRESENT) in st._ranges,
            )
            if layout is None:
                return None
            col_seeks = _unpack_positions(_entry_positions(entries[group]),
                                          layout, compressed)
            if col_seeks is None:
                return None
            for skind, tup in col_seeks.items():
                seeks[(cid, skind)] = tup
    return seeks


def _select_row_groups(st: "_Stripe", types, cid_of: dict, tree,
                       n_rows: int, stride: int, ts_slack_ns: int,
                       idx_cache: dict) -> list[bool] | None:
    """Per-row-group keep flags from RowIndexEntry statistics and
    per-group bloom filters. None = every group admits (or no usable
    index)."""
    n_groups = (n_rows + stride - 1) // stride
    index = {c: _stripe_row_index(st, c, idx_cache) for c in cid_of.values()}
    index = {c: e if e is not None and len(e) == n_groups else None
             for c, e in index.items()}

    def group_view(g):
        def blooms_of(cid):
            bfs = _bloom_filters(st, cid, types[cid].kind)
            return [bfs[g]] if bfs is not None and len(bfs) == n_groups else None

        stats = {c: e and _entry_stats(e[g]) for c, e in index.items()}
        return _orc_view(cid_of, types, stats, ts_slack_ns, blooms_of)

    keep = [may_match(tree, group_view(g)) for g in range(n_groups)]
    return None if all(keep) else keep


# Longest encoding of one RLE run: an RLEv2 PATCHED_BASE run of 512
# 64-bit values (4-byte header, 8-byte base, 31 64-bit patches); RLEv1
# and byte-RLE runs are shorter
_MAX_RUN_BYTES = 4 + 8 + 512 * 8 + 31 * 8


def _stream_ends(seeks: dict | None) -> dict[tuple[int, int], tuple[int, int]]:
    """Where a decoded run's bytes end, per stream, from the positions
    ``(block_off, inblock_off, run_off, bit_off)`` of the first row
    group after it: ``(block_off, bytes from that block on)``. Exact
    for every ``raw`` stream, and for ``rle``/``bool`` streams with
    zero run and bit offsets there (the encoder had flushed every
    earlier value; this repo's writer restarts its encoders at each
    group). Otherwise the run's last values were still buffered at the
    position and went out in the run that starts there, or in it and
    the repeat run a writer splits off its end: two runs' bytes past
    the position hold them."""
    return {k: (blk, inb + (2 * _MAX_RUN_BYTES if run or bit else 0))
            for k, (blk, inb, run, bit) in (seeks or {}).items()}


def _kept_runs(keep: list[bool]) -> list[tuple[int, int]]:
    """Maximal runs ``[g_a, g_b)`` of kept row groups."""
    runs: list[tuple[int, int]] = []
    for g, k in enumerate(keep):
        if not k:
            continue
        if runs and runs[-1][1] == g:
            runs[-1] = (runs[-1][0], g + 1)
        else:
            runs.append((g, g + 1))
    return runs


# ---------------------------------------------------------- stripe decode


class _Stripe:
    """Lazy per-stripe stream access: offsets indexed up front, bytes
    decompressed only when a decoded column asks for them."""

    def __init__(self, raw: bytes | memoryview, footer: dict, compression: str,
                 block_size: int, n_rows: int, writer: int | None = None):
        self.raw = raw
        self.writer = writer  # Footer.writer implementation id
        self.compression = compression
        self.block_size = block_size
        self.n_rows = n_rows
        self.encodings = footer["encodings"]
        self.tz = footer["tz"]
        # {(col, stream_kind): (block_off, inblock_off, run_off,
        # bit_off)} — positions a decode at a row-group boundary
        # (_build_seeks); empty = decode from the stripe start
        self.seeks: dict[tuple[int, int], tuple] = {}
        # {(col, stream_kind): (block_off, length)} — where the decoded
        # rows' bytes provably end (_stream_ends); absent = the
        # stream's end
        self.ends: dict[tuple[int, int], tuple[int, int]] = {}
        self.blooms: dict = {}  # cid -> _bloom_filters, parsed once
        self._ranges: dict[tuple[int, int], tuple[int, int]] = {}
        off = 0
        for kind, col, ln in footer["streams"]:
            self._ranges[(col, kind)] = (off, ln)
            off += ln

    def stream(self, col: int, kind: int) -> bytes | memoryview | None:
        rng = self._ranges.get((col, kind))
        if rng is None:
            return None
        off, ln = rng
        blk, inb, _run, _bit = self.seeks.get((col, kind), (0, 0, 0, 0))
        end = self.ends.get((col, kind))
        mv = memoryview(self.raw)[off : off + ln]
        if self.compression == "none":  # positions are byte offsets
            if end is not None and end[0] > ln:
                raise ValueError("orc_read: index position past its stream")
            return bytes(mv[blk : ln if end is None else sum(end)])
        out = _decompress(mv, self.compression, self.block_size, blk, end)
        return memoryview(out)[inb:] if inb else out

    def _drops(self, col: int, kind: int) -> tuple[int, int]:
        _blk, _inb, run, bit = self.seeks.get((col, kind), (0, 0, 0, 0))
        return run, bit

    def ints(self, col: int, kind: int, signed: bool,
             count: int | None = None) -> np.ndarray:
        buf = self.stream(col, kind)
        if buf is None:
            return np.empty(0, np.int64 if signed else np.uint64)
        run, _ = self._drops(col, kind)
        want = None if count is None else count + run
        dec = (decode_int_rle_v2 if self.encodings[col][0] >= _DIRECT_V2_KIND
               else decode_int_rle_v1)
        vals = _counted(dec, buf, want, col, kind, signed=signed)
        return vals[run:] if run else vals

    def bytes_rle(self, col: int, kind: int,
                  count: int | None = None) -> np.ndarray | None:
        buf = self.stream(col, kind)
        if buf is None:
            return None
        run, _ = self._drops(col, kind)
        want = None if count is None else count + run
        vals = _counted(decode_byte_rle, buf, want, col, kind)
        return vals[run:] if run else vals

    def bools(self, col: int, kind: int, count: int) -> np.ndarray | None:
        buf = self.stream(col, kind)
        if buf is None:
            return None
        run, bit = self._drops(col, kind)
        packed = _counted(decode_byte_rle, buf, run + (bit + count + 7) // 8,
                          col, kind)
        bits = np.unpackbits(packed[run:])[bit : bit + count]
        return bits.astype(bool)


def _counted(decode, buf, want: int | None, col: int, kind: int,
             **kw) -> np.ndarray:
    """``decode(buf, count=want)``, refusing a stream that ends before
    ``want`` values: a short column would misalign every later row."""
    try:
        vals = decode(buf, count=want, **kw)
    except IndexError as ex:
        raise ValueError(
            f"orc_read: column {col} stream {kind} is truncated"
        ) from ex
    if want is not None and len(vals) < want:
        raise ValueError(
            f"orc_read: column {col} stream {kind} holds {len(vals)}"
            f" values, its rows need {want}"
        )
    return vals


_DIRECT_V2_KIND = 2  # ColumnEncoding.DIRECT_V2 / DICTIONARY_V2 boundary


def _validity_buffer(mask: np.ndarray):
    return pa.py_buffer(np.packbits(mask, bitorder="little").tobytes())


def _expand(dense: pa.Array, mask: np.ndarray) -> pa.Array:
    """Scatter non-null values back to full row positions (generic via
    take-with-null-indices; zero-copy fast path when nothing is null)."""
    if mask.all():
        return dense
    idx = np.zeros(len(mask), np.int64)
    idx[mask] = np.arange(int(mask.sum()), dtype=np.int64)
    return dense.take(pa.array(idx, pa.int64(), mask=~mask))


def _varlen_from_parts(
    lengths: np.ndarray, data: bytes, mask: np.ndarray, arrow_type
) -> pa.Array:
    """Build large_utf8/large_binary from (per-non-null lengths, blob)."""
    n = len(mask)
    full = np.zeros(n + 1, np.int64)
    full[1:][mask] = lengths.astype(np.int64)
    offsets = np.cumsum(full)
    if offsets[-1] > len(data):
        raise ValueError(
            f"orc_read: string data holds {len(data)} bytes, its lengths"
            f" sum to {offsets[-1]}"
        )
    validity = None if mask.all() else _validity_buffer(mask)
    return pa.Array.from_buffers(
        arrow_type, n,
        [validity, pa.py_buffer(offsets.tobytes()), pa.py_buffer(data)],
    )


def _validate_proj(types: list["_OrcType"], cid: int, proj,
                   path: str) -> None:
    if proj is None:
        return
    t = types[cid]
    if t.kind == _K_LIST:
        # lists are transparent to dotted paths: "l.a" projects field a
        # of a list<struct> element (Spark's nested-pruning convention)
        _validate_proj(types, t.subtypes[0], proj, path)
        return
    if t.kind != _K_STRUCT:
        raise KeyError(
            f"orc_read: cannot project into non-struct column {path!r}"
        )
    for name, sub in proj.items():
        if name not in t.names:
            raise KeyError(f"orc_read: no such field {path}.{name}")
        _validate_proj(types, t.subtypes[t.names.index(name)], sub,
                       f"{path}.{name}")


def _read_column(st: _Stripe, types: list[_OrcType], cid: int,
                 n: int, proj=None) -> pa.Array:
    t = types[cid]
    mask = st.bools(cid, _PRESENT, n)
    if mask is None:
        mask = np.ones(n, bool)
        nv = n
    else:
        nv = int(mask.sum())
    k = t.kind

    if proj is not None and k not in (_K_STRUCT, _K_LIST):
        raise KeyError("orc_read: projection descended into a "
                       f"non-struct, non-list column (kind {k})")
    if k == _K_STRUCT:
        # proj: {child_name: sub_proj} — only selected subtrees are
        # decoded (their streams are the only ones decompressed; the
        # pruned children's bytes are never touched)
        if proj is None:
            kept = list(zip(t.names, t.subtypes, [None] * len(t.subtypes)))
        else:
            kept = [
                (nm, t.subtypes[t.names.index(nm)], sub)
                for nm, sub in proj.items()
            ]
        children = [
            _read_column(st, types, sub_cid, nv, sub_proj)
            for _nm, sub_cid, sub_proj in kept
        ]
        if not children:
            children = [pa.nulls(nv)]
            dense = pa.StructArray.from_arrays(children, ["__empty"])
        else:
            dense = pa.StructArray.from_arrays(
                children, [nm for nm, _c, _p in kept]
            )
        return _expand(dense, mask)

    if k in (_K_LIST, _K_MAP):
        lengths = st.ints(cid, _LENGTH, signed=False,
                          count=nv)[:nv].astype(np.int64)
        n_child = int(lengths.sum())
        full = np.zeros(n + 1, np.int64)
        full[1:][mask] = lengths
        offsets = np.cumsum(full)
        validity = None if mask.all() else _validity_buffer(mask)
        if k == _K_LIST:
            child = _read_column(st, types, t.subtypes[0], n_child, proj)
            typ = pa.large_list(child.type)
            return pa.Array.from_buffers(
                typ, n,
                [validity, pa.py_buffer(offsets.tobytes())],
                children=[child],
            )
        if n_child > np.iinfo(np.int32).max:
            # Arrow MapArray offsets are int32 (no large_map); a
            # silent astype here would wrap negative and build garbage
            raise ValueError(
                f"orc_read: map column with {n_child} entries in one "
                "stripe exceeds Arrow's int32 map offset range"
            )
        keys = _read_column(st, types, t.subtypes[0], n_child)
        items = _read_column(st, types, t.subtypes[1], n_child)
        entries = pa.StructArray.from_arrays([keys, items],
                                             ["key", "value"])
        typ = pa.map_(keys.type, items.type)
        return pa.Array.from_buffers(
            typ, n,
            [validity, pa.py_buffer(offsets.astype(np.int32).tobytes())],
            children=[entries],
        )

    if k == _K_UNION:
        if nv != n:
            raise NotImplementedError(
                "orc_read: null UNION rows have no Arrow representation"
            )
        tags = st.bytes_rle(cid, _DATA, nv)[:nv].astype(np.int8)
        children = []
        offsets = np.zeros(nv, np.int32)
        for i, sub in enumerate(t.subtypes):
            sel = tags == i
            offsets[sel] = np.arange(int(sel.sum()), dtype=np.int32)
            child = _read_column(st, types, sub, int(sel.sum()))
            # unions cannot be cast at table level, so children get
            # their final types here (large_utf8 -> utf8 etc.)
            children.append(child.cast(_arrow_type(types, sub)))
        names = t.names or [f"f{i}" for i in range(len(t.subtypes))]
        return pa.UnionArray.from_dense(
            pa.array(tags, pa.int8()), pa.array(offsets, pa.int32()),
            children, names,
        )

    if k == _K_BOOL:
        vals = st.bools(cid, _DATA, nv)
        if vals is None:
            vals = np.empty(0, bool)
        dense = pa.array(vals, pa.bool_())
        return _expand(dense, mask)

    if k == _K_BYTE:
        vb = st.bytes_rle(cid, _DATA, nv)
        if vb is None:
            vb = np.empty(0, np.uint8)
        vals = vb[:nv].view(np.int8)
        return _expand(pa.array(vals, pa.int8()), mask)

    if k in (_K_SHORT, _K_INT, _K_LONG, _K_DATE):
        vals = st.ints(cid, _DATA, signed=True, count=nv)[:nv]
        typ = {_K_SHORT: pa.int16(), _K_INT: pa.int32(),
               _K_LONG: pa.int64(), _K_DATE: pa.date32()}[k]
        if k == _K_DATE:
            dense = pa.array(vals.astype(np.int32), pa.int32()).cast(typ)
        elif k == _K_LONG:
            dense = pa.array(vals, typ)
        else:
            dense = pa.array(vals, pa.int64()).cast(typ)
        return _expand(dense, mask)

    if k in (_K_FLOAT, _K_DOUBLE):
        buf = st.stream(cid, _DATA) or b""
        dt = "<f4" if k == _K_FLOAT else "<f8"
        vals = np.frombuffer(buf, dt, count=nv)
        dense = pa.array(vals, pa.float32() if k == _K_FLOAT
                         else pa.float64())
        return _expand(dense, mask)

    if k in (_K_STRING, _K_VARCHAR, _K_CHAR, _K_BINARY):
        arrow_t = pa.large_binary() if k == _K_BINARY else pa.large_utf8()
        enc = st.encodings[cid][0]
        if enc in (_DICTIONARY, _DICTIONARY_V2):
            d = st.encodings[cid][1]
            dict_blob = st.stream(cid, _DICT_DATA) or b""
            dlens = st.ints(cid, _LENGTH, signed=False)[:d].astype(np.int64)
            doffs = np.zeros(d + 1, np.int64)
            np.cumsum(dlens, out=doffs[1:])
            dict_arr = pa.Array.from_buffers(
                arrow_t, d,
                [None, pa.py_buffer(doffs.tobytes()),
                 pa.py_buffer(dict_blob)],
            )
            idx = st.ints(cid, _DATA, signed=False, count=nv)[:nv]
            dense = dict_arr.take(pa.array(idx.astype(np.int64)))
            return _expand(dense, mask)
        lengths = st.ints(cid, _LENGTH, signed=False, count=nv)[:nv]
        data = st.stream(cid, _DATA) or b""
        return _varlen_from_parts(lengths, data, mask, arrow_t)

    if k in (_K_TIMESTAMP, _K_TIMESTAMP_INSTANT):
        wtz = None  # non-UTC writerTimezone (ORC-Java/Hive default config)
        if k == _K_TIMESTAMP and st.tz not in _UTC_NAMES:
            wtz = st.tz
        stored = st.ints(cid, _DATA, signed=True, count=nv)[:nv]
        nanos_enc = st.ints(cid, _SECONDARY, signed=False, count=nv)[:nv]
        from ..codecs.timestamp import expand_nanos

        nanos = expand_nanos(nanos_enc).astype(np.int64)
        # ORC-Java writes seconds relative to 2015-01-01 00:00:00 WALL
        # CLOCK in the writer's zone (TimestampTreeWriter base_timestamp
        # = Timestamp.valueOf(..).getTime() under the default TimeZone);
        # with writerTimezone=UTC that base is _EPOCH_2015
        sec = stored + (_writer_base_seconds(wtz) if wtz else _EPOCH_2015)
        # Apache's negative-seconds convention (probed by the writer,
        # orc_file.py): stored pre-epoch values with nanos > 999999
        # carry +1s, undone here
        sec = sec - ((sec < 0) & (nanos > 999_999)).astype(np.int64)
        ns = sec * 1_000_000_000 + nanos
        if wtz is not None:
            # TIMESTAMP is wall-clock (LocalDateTime) semantics: both
            # Apache readers (ORC-Java in the writer's zone, ORC-C++
            # converting writer->reader) restore the wall clock the
            # writer saw — validated against a genuine ORC-Java-written
            # America/Los_Angeles fixture in tests/test_orc_read.py.
            # Vectorized instant->wall via pandas' tz engine (handles
            # DST/historical offsets per element, no Python loop).
            ns = _instants_to_wall_ns(ns, wtz)
        typ = (pa.timestamp("ns", tz="UTC")
               if k == _K_TIMESTAMP_INSTANT else pa.timestamp("ns"))
        return _expand(pa.array(ns, pa.int64()).cast(typ), mask)

    if k == _K_DECIMAL:
        buf = st.stream(cid, _DATA) or b""
        scales = st.ints(cid, _SECONDARY, signed=True, count=nv)[:nv]
        decl_scale = t.scale
        precision = t.precision or 38
        dense = _decode_decimals(buf, scales, nv, precision, decl_scale)
        return _expand(dense, mask)

    raise NotImplementedError(f"orc_read: ORC type kind {k}")


def _decode_decimals(buf, scales: np.ndarray, nv: int, precision: int,
                     decl_scale: int) -> pa.Array:
    """DECIMAL DATA stream (unbounded zigzag varints) -> decimal128.

    Fast path — every varint <=9 bytes (unscaled fits 63 bits, true for
    any precision<=18 column and most small-valued p>18 data) and every
    row already at the declared scale (Apache writers normalize on
    write): one vectorized LEB128 gather + zigzag, then the 16-byte
    little-endian two's-complement decimal128 buffer is built directly
    from sign-extended int64 limbs — no per-row Python, no Decimal
    objects. Anything else (>9-byte varints, per-row scale drift from
    pre-normalization writers) falls back to the exact big-int loop."""
    from ..codecs.varint import decode_varints

    arr = np.frombuffer(buf, np.uint8)
    typ = pa.decimal128(precision, decl_scale)
    if nv == 0:
        return pa.nulls(0, typ)
    term = np.flatnonzero((arr & 0x80) == 0)
    if len(term) < nv:
        raise ValueError("orc_read: decimal DATA stream truncated")
    lengths = np.diff(term[:nv], prepend=np.int64(-1))
    if int(lengths.max()) <= 9 and not np.any(scales != decl_scale):
        z, _ = decode_varints(arr, count=nv)
        u = ((z >> np.uint64(1)) ^ (~(z & np.uint64(1)) + np.uint64(1)))
        lo = u  # two's complement low limb
        hi = (u.view(np.int64) >> np.int64(63)).view(np.uint64)  # sign ext
        limbs = np.empty((nv, 2), np.uint64)
        limbs[:, 0] = lo
        limbs[:, 1] = hi
        return pa.Array.from_buffers(
            typ, nv, [None, pa.py_buffer(limbs.tobytes())]
        )

    starts = np.empty(nv, np.int64)
    starts[0] = 0
    starts[1:] = term[: nv - 1] + 1
    unscaled = []
    for i in range(nv):
        z = 0
        shift = 0
        for b in arr[starts[i] : term[i] + 1]:
            z |= int(b & 0x7F) << shift
            shift += 7
        u = (z >> 1) if not (z & 1) else -((z + 1) >> 1)
        adj = decl_scale - int(scales[i])
        if adj >= 0:
            u *= 10**adj
        else:
            q, r = divmod(u, 10 ** (-adj))
            if r:
                raise ValueError(
                    "orc_read: decimal scale narrowing loses digits"
                )
            u = q
        unscaled.append(u)
    import decimal as _dec

    # default 28-digit context would round >28-significant-digit
    # unscaled values (decimal128 allows 38) — shift exactly
    with _dec.localcontext() as _ctx:
        _ctx.prec = 76
        vals = [_dec.Decimal(u).scaleb(-decl_scale) for u in unscaled]
    return pa.array(vals, typ)


# ------------------------------------------------------------- file read


def _load(source) -> bytes:
    if isinstance(source, (bytes, bytearray, memoryview)):
        return bytes(source)
    if isinstance(source, str):
        with open(source, "rb") as f:
            return f.read()
    return source.read()  # file-like


def _file_tail(data: bytes):
    if len(data) < 4 or data[:3] != b"ORC":
        raise ValueError("orc_read: not an ORC file (bad magic)")
    ps_len = data[-1]
    ps = _parse_postscript(data[len(data) - 1 - ps_len : len(data) - 1])
    comp = _COMPRESSION_NAME.get(ps["compression"], "?")
    bs = ps["block_size"]
    f_end = len(data) - 1 - ps_len
    f_start = f_end - ps["footer_len"]
    footer = _parse_footer(_decompress(data[f_start:f_end], comp, bs))
    m_start = f_start - ps["metadata_len"]
    meta_raw = (_decompress(data[m_start:f_start], comp, bs)
                if ps["metadata_len"] else b"")
    return ps, comp, bs, footer, meta_raw


def read_orc(source, columns: list[str] | None = None,
             predicate=None) -> pa.Table:
    """Read an ORC file into an Arrow table with the repo's decoders.

    ``source``: path, bytes, or binary file-like. ``columns`` projects
    fields (unselected column streams are never decompressed); dotted
    paths like ``"s.a"`` prune inside structs at any depth.
    ``predicate`` — a ``(col, op, literal)`` leaf (op in <,<=,==,!=,>=,
    >,in,isnull,notnull), a list of nodes (AND), ``("and"|"or",
    [nodes])`` or ``("not", node)`` — skips stripes and row groups
    whose statistics (Metadata, RowIndexEntry) and BLOOM_FILTER_UTF8
    streams (ours or Apache-written) prove it never TRUE. Rows are NOT
    row-filtered
    (same contract as ORC readers' SearchArguments).
    """
    data = _load(source)
    ps, comp, bs, footer, meta_raw = _file_tail(data)
    types = footer["types"]
    if not types:
        raise ValueError("orc_read: footer carries no types")
    root = types[0]
    if root.kind != _K_STRUCT:
        raise NotImplementedError("orc_read: root type must be STRUCT")
    if columns is None:
        sel = list(range(len(root.subtypes)))
        projs: list = [None] * len(sel)
    else:
        tree = _proj_tree(columns)
        missing = [c for c in tree if c not in root.names]
        if missing:
            raise KeyError(f"orc_read: no such columns {missing}")
        sel = [root.names.index(c) for c in tree]
        projs = list(tree.values())
        for c, proj in tree.items():
            _validate_proj(types, root.subtypes[root.names.index(c)],
                           proj, c)
    names = [root.names[i] for i in sel]

    pred = normalize(predicate)
    for leaf in leaves(pred):
        if leaf.op in ("startswith", "contains"):
            raise ValueError(f"orc_read: predicate op {leaf.op!r}")
    cid_of = {c.col: _pred_cid(types, root, c.col) for c in leaves(pred)}
    ts_slack = 0
    per_stripe = [{}] * len(footer["stripes"])
    if pred is not None:
        # writerTimezone lives in the stripe footers (constant per
        # writer process): peek stripe 0's before stats pruning so
        # wall-vs-instant skew on foreign-timezone files can't
        # eliminate a matching stripe. 15h = max real zone offset
        # (14h) + 1h DST fold headroom. The peek costs a footer
        # decompress, so it only runs when a predicate leaf actually
        # touches a (non-instant) TIMESTAMP column.
        ts_terms = any(types[c].kind == _K_TIMESTAMP for c in cid_of.values())
        if ts_terms and footer["stripes"]:
            info0 = footer["stripes"][0]
            e0 = info0["offset"] + info0["index_len"] + info0["data_len"]
            tz0 = _parse_stripe_footer(
                _decompress(data[e0 : e0 + info0["footer_len"]], comp, bs)
            )["tz"]
            if tz0 not in _UTC_NAMES:
                ts_slack = 15 * 3600 * 1_000_000_000
        per_stripe = _stripe_stats(meta_raw, sorted(set(cid_of.values())),
                                   len(per_stripe))

    tables = []
    for stripe_stats, info in zip(per_stripe, footer["stripes"]):
        # stripe elimination from Metadata stats alone: a pruned
        # stripe's footer is never read
        if not may_match(pred, _orc_view(cid_of, types, stripe_stats, ts_slack)):
            continue
        start = info["offset"]
        end = start + info["index_len"] + info["data_len"]
        sf = _parse_stripe_footer(
            _decompress(data[end : end + info["footer_len"]], comp, bs)
        )
        # zero-copy view: a bytes slice here would duplicate every
        # stripe's index+data region (~2x file size peak); stream()
        # only ever re-slices, so a memoryview suffices
        st = _Stripe(memoryview(data)[start:end], sf, comp, bs,
                     info["n_rows"], footer.get("writer"))
        if not may_match(pred, _orc_view(
            cid_of, types, stripe_stats, ts_slack,
            lambda cid: _bloom_filters(st, cid, types[cid].kind),
        )):
            continue
        # row-group elimination (the SearchArgument row-index skip the
        # reference's reader never shipped): per-group RowIndexEntry
        # stats + blooms keep maximal runs of groups, and each run is
        # decoded on its own: every projected column seeks its streams
        # to the run's first group via the recorded positions and stops
        # decompressing at the next group's (_stream_ends), so skipped
        # groups are neither decompressed nor decoded. Falls back to a
        # decode from the stripe start when a column lacks an index —
        # elimination stays a sound superset.
        n_rows = info["n_rows"]
        stride = footer["stride"]
        runs, n_groups = [(0, 1)], 1  # the whole stripe
        idx_cache: dict = {}
        if pred is not None and stride and n_rows > stride:
            gkeep = _select_row_groups(st, types, cid_of, pred, n_rows,
                                       stride, ts_slack, idx_cache)
            if gkeep is not None:
                runs, n_groups = _kept_runs(gkeep), len(gkeep)
        top = [(root.subtypes[i], proj) for i, proj in zip(sel, projs)]

        def rows_to(g):  # first row of group g; the stripe's end past the last
            return n_rows if g == n_groups else g * stride

        def decode(seeks, g_a, g_b):  # rows of groups [g_a, g_b)
            st.seeks = seeks
            st.ends = {} if g_b == n_groups else _stream_ends(_build_seeks(
                st, types, top, g_b, comp != "none", idx_cache))
            n = rows_to(g_b) - rows_to(g_a)
            return pa.table({nm: _read_column(st, types, cid, n, proj)
                             for nm, (cid, proj) in zip(names, top)})

        for k, (g_a, g_b) in enumerate(runs):
            seeks = {} if g_a == 0 else _build_seeks(
                st, types, top, g_a, comp != "none", idx_cache)
            if seeks is None:
                # can't seek: one decode from the stripe start through
                # the last run, every remaining run cut out of it
                whole = decode({}, 0, runs[-1][1])
                tables += [whole.slice(rows_to(a), rows_to(b) - rows_to(a))
                           for a, b in runs[k:]]
                break
            tables.append(decode(seeks, g_a, g_b))
    if not tables:
        empty = [
            pa.nulls(0, _arrow_type(types, root.subtypes[i], proj))
            for i, proj in zip(sel, projs)
        ]
        tables = [pa.table(dict(zip(names, empty)))]
    out = pa.concat_tables(tables)
    target = pa.schema(
        [(nm, _arrow_type(types, root.subtypes[i], proj))
         for nm, i, proj in zip(names, sel, projs)]
    )
    try:
        return out.cast(target)
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError):
        return out  # unions and friends: keep the built physical type


def _arrow_type(types: list[_OrcType], cid: int,
                proj=None) -> pa.DataType:
    t = types[cid]
    k = t.kind
    simple = {
        _K_BOOL: pa.bool_(), _K_BYTE: pa.int8(), _K_SHORT: pa.int16(),
        _K_INT: pa.int32(), _K_LONG: pa.int64(), _K_FLOAT: pa.float32(),
        _K_DOUBLE: pa.float64(), _K_STRING: pa.string(),
        _K_VARCHAR: pa.string(), _K_CHAR: pa.string(),
        _K_BINARY: pa.binary(), _K_DATE: pa.date32(),
        _K_TIMESTAMP: pa.timestamp("ns"),
        _K_TIMESTAMP_INSTANT: pa.timestamp("ns", tz="UTC"),
    }
    if k in simple:
        return simple[k]
    if k == _K_DECIMAL:
        return pa.decimal128(t.precision or 38, t.scale)
    if k == _K_LIST:
        return pa.list_(_arrow_type(types, t.subtypes[0], proj))
    if k == _K_MAP:
        return pa.map_(_arrow_type(types, t.subtypes[0]),
                       _arrow_type(types, t.subtypes[1]))
    if k == _K_STRUCT:
        if proj is None:
            return pa.struct(
                [(nm, _arrow_type(types, sub))
                 for nm, sub in zip(t.names, t.subtypes)]
            )
        return pa.struct(
            [(nm, _arrow_type(types, t.subtypes[t.names.index(nm)], sub))
             for nm, sub in proj.items()]
        )
    if k == _K_UNION:
        names = t.names or [f"f{i}" for i in range(len(t.subtypes))]
        return pa.dense_union(
            [pa.field(nm, _arrow_type(types, sub))
             for nm, sub in zip(names, t.subtypes)]
        )
    raise NotImplementedError(f"orc_read: ORC type kind {k}")


# ---------------------------------------------------------- stripe prune


_K_BLOOM_OK = (
    _K_BYTE, _K_SHORT, _K_INT, _K_LONG, _K_DATE,
    _K_STRING, _K_VARCHAR, _K_CHAR, _K_BINARY,
)


def _bloom_filters(st: "_Stripe", cid: int, kind: int) -> list | None:
    """The column's BLOOM_FILTER_UTF8 entries, one OrcBloomFilter per
    RowIndexEntry (= per row group), memoized on the stripe.
    None = no usable filter (absent stream, unsupported kind, malformed
    entry) — unknown never prunes. Works against both our own writer's
    filters and Apache-written ones (pyarrow bloom_filter_columns), and
    accepts either the utf8bitset or the legacy repeated-fixed64 form.
    """
    if cid not in st.blooms:
        st.blooms[cid] = _parse_bloom_filters(st, cid, kind)
    return st.blooms[cid]


def _parse_bloom_filters(st: "_Stripe", cid: int, kind: int) -> list | None:
    from ..codecs.orc_bloom import OrcBloomFilter

    if kind not in _K_BLOOM_OK:
        return None
    if kind == _K_BYTE and st.writer == 1:
        # MEASURED upstream bug (fuzz seed 47 / trial 93, reproduced
        # minimally): the ORC C++ writer (Footer.writer == 1, e.g.
        # pyarrow) omits from a TINYINT column's bloom filter any value
        # whose only occurrences fall in the stripe's first ~128 rows
        # (the ByteRLE literal-buffer window); Spark's own Java reader
        # loses the same rows when its pushdown consumes these blooms.
        # Every other probed kind measured complete (int16/32/64,
        # date, string, binary — dense, null-heavy, and run-shaped
        # distributions). Trusting such a filter turns a prune into
        # data loss, so BYTE blooms from writer 1 never prune; min/max
        # statistics still apply.
        return None
    raw = st.stream(cid, 8)  # Stream.Kind BLOOM_FILTER_UTF8
    if raw is None:
        return None
    out = []
    for fno, _wt, v in _proto_fields(raw):
        if fno != 1:  # BloomFilterIndex.bloomFilter
            continue
        k = None
        utf8 = b""
        legacy = b""
        for f2, w2, v2 in _proto_fields(v):
            if f2 == 1:
                k = v2
            elif f2 == 3 and w2 == 2:  # utf8bitset
                utf8 = bytes(v2)
            elif f2 == 2:  # legacy repeated fixed64 bitset (packed or not)
                legacy += bytes(v2)
        bitset = utf8 or legacy
        # k is UNTRUSTED file bytes: a flipped varint could size the
        # position arrays to gigabytes. Java's sizing never exceeds
        # double digits; treat anything implausible as malformed.
        if not k or k > 128 or not bitset or len(bitset) % 8:
            return None  # malformed/absent entry: never prune on it
        out.append(OrcBloomFilter.from_utf8bitset(k, bitset))
    return out or None


def _bloom_probe(bfs: list, kind: int):
    """``lit -> bool``: may any of the filters ``bfs`` hold ``lit``?"""

    def probe(lit) -> bool:
        if kind in (_K_STRING, _K_VARCHAR, _K_CHAR, _K_BINARY):
            if kind == _K_BINARY and not isinstance(lit, (bytes, bytearray)):
                return True
            pv = bytes(lit) if kind == _K_BINARY else str(lit).encode()
        else:
            try:
                # datetime.date -> epoch days (how ORC hashes DATE)
                pv = int(_conv_lit(lit, "date"))
            except (TypeError, ValueError, OverflowError):
                return True
            # an out-of-int64-range literal can never equal a stored
            # ORC long (and wang_hash64 can't take it): a miss
            if not -(1 << 63) <= pv < (1 << 63):
                return False
            return any(bf.test_long(pv) for bf in bfs)
        return any(bf.test_bytes(pv) for bf in bfs)

    return probe


def _pred_cid(types: list[_OrcType], root: _OrcType, path: str) -> int:
    """Resolve a (possibly dotted) predicate column to its column id:
    struct fields by name, lists transparent — the same path language
    as ``columns=`` projection. Apache files carry ColumnStatistics,
    RowIndexEntry stats, and bloom streams for EVERY column id, so
    nested leaves prune exactly like top-level columns."""
    parts = path.split(".")
    if parts[0] not in root.names:
        raise KeyError(f"orc_read: predicate column {path!r}")
    cid = root.subtypes[root.names.index(parts[0])]
    for part in parts[1:]:
        t = types[cid]
        while t.kind == _K_LIST:
            cid = t.subtypes[0]
            t = types[cid]
        if t.kind != _K_STRUCT or part not in t.names:
            raise KeyError(f"orc_read: predicate column {path!r}")
        cid = t.subtypes[t.names.index(part)]
    # a path may END on a list-of-scalar: descend to the scalar leaf
    while types[cid].kind == _K_LIST:
        cid = types[cid].subtypes[0]
    return cid


def _stripe_stats(meta_raw, cids: list[int], n_stripes: int) -> list[dict]:
    """Per stripe, {cid: ColumnStatistics | None} for the predicate
    columns, in one pass over the Metadata section's StripeStatistics
    (the same exact-or-wider contract the writer emits)."""
    out = [dict.fromkeys(cids) for _ in range(n_stripes)]
    stripes = (v for fno, _wt, v in _proto_fields(meta_raw) if fno == 1)
    for stats, v in zip(out, stripes):
        col_stats = [v2 for f2, _w2, v2 in _proto_fields(v) if f2 == 1]
        stats.update((c, _parse_stats(col_stats[c]))
                     for c in cids if c < len(col_stats))
    return out


# ------------------------------------------------------ distributed read


def read_orc_files_native(files, schema: str,
                          columns: list[str] | None = None,
                          predicate=None):
    """Decode ORC rows (``orc_path`` column) with THE REPO'S OWN reader
    inside each task — the native-decoder counterpart of
    orc_file.read_orc_files (which routes through pyarrow.orc): same
    mapInArrow shape, payload never crosses the Python->JVM socket
    until after decode. ``predicate`` is :func:`read_orc`'s tree,
    applied inside each task: stripes are stats/bloom-eliminated before
    their streams are ever decompressed, so a selective point lookup
    over a many-file table decodes only the stripes that may match
    (callers still apply the exact row filter on the returned frame —
    stripe elimination is a superset, the SearchArgument contract)."""
    from collections.abc import Iterator

    from ..worker_env import limit_worker_threads

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        limit_worker_threads()
        for batch in batches:
            col = batch.column(batch.schema.get_field_index("orc_path"))
            for v in col:
                yield from read_orc(
                    v.as_py(), columns=columns, predicate=predicate
                ).to_batches()

    # project first: only the path crosses the JVM->Python socket
    return files.select("orc_path").mapInArrow(fn, schema)
