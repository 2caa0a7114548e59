"""Blob container: the Spark-era analog of the reference's stripe.

One Spark partition/group produces one blob: a self-describing byte string
holding every column's encoded streams, the per-column codec choice, and
null masks. Mirrors the reference's stripe + StripeFooter bookkeeping
(src/writer/stripe.rs:13-36, 55-111) re-shaped for a DataFrame world:
instead of a byte-offset stream directory inside an ORC file, the blob is
a value in a `binary` DataFrame column and the "footer" is its header.

Layout (body version 3 — the current writer):
  b'OFS1' | u8 version=3 | u16 n_column_entries
  per entry:
    varint name_len | name | varint type_len | type |
    varint codec_len | codec | varint comp_len | compression |
    u8 flags(bit0 has_null) |
    varint n_rows | varint n_present | u8 n_streams |
    per stream: u8 kind | varint compressed_len
  all stream payloads, in entry/stream order

Version history: v1 encoded the four field-string lengths as single
bytes (0-255); v3 uses varints (nested type strings and dotted column
paths exceed 255 bytes). The reader dispatches on the version byte, so
both generations stay readable; the writer always emits v3. (v2 is the
chunked container wrapper below, a separate magic.)

Stream kinds follow the reference's enum (orc_proto.proto:108-125):
0=PRESENT 1=DATA 2=LENGTH 3=SECONDARY. Nested lists flatten into multiple
entries (parent LENGTH entry + child entry named ``parent.item``), the
same LENGTH-stream + child-column decomposition as
src/writer/data/list.rs:59-80. The PRESENT stream is omitted when a column
has no nulls (the reference's has_null gate, e.g. long.rs:136-145).
"""

from __future__ import annotations

import datetime
import functools
import hashlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from . import dictionary, raw, rle_v1, rle_v2, timestamp as ts_codec
from .bitpack import decode_for_bitpack
from .blocks import compress_stream, decompress_stream
from .bloom import bloom_from_b64, bloom_may_contain
from .fsst import fsst_decode
from .selector import (
    _encode_float,
    _encode_int,
    _encode_str,
    select_and_encode_float,
    select_and_encode_int,
    select_and_encode_str,
)
from ..predicate import Stats, filter_table, leaves, may_match, normalize
from .varint import decode_varint_one, encode_varint_one

MAGIC = b"OFS1"
# 1 = single-byte field-string lengths (legacy, read-only)
# 3 = varint field-string lengths + engine tag (current writer)
VERSION = 3
_READ_VERSIONS = (1, 3)
# Encoder behavior version, stamped into every v3 blob header and into
# the metrics table of every wave-resumed job (``engine-version``). Bump
# the minor whenever emitted BYTES may legally change while decode stays
# lossless (codec-selection thresholds, FSST training); bump the MAJOR
# when the wire format itself changes (old blobs stop being decodable by
# this version) — wave-resumed jobs must finish on the version they
# started with (operators/job.py), and deserialize_blob refuses
# cross-major rle_v2 decodes (narrowed to streams that actually contain
# a patched-base run — the only wire that changed; see the 4.0 gate
# below).
# 4.0: RLEv2 patched-base wire corrected to spec (patch entries at the
#      closest fixed width, sign-bit-safe base bytes) — validated by
#      Apache ORC C++ via write_orc(rle="v2").
# 3.3: ALP float candidate; 3.2: split/dict floats.
ENCODER_VERSION = "4.0"
_LEGACY_ENGINE = "<pre-3.0>"


def _engine_major(engine: str) -> int:
    """Major component of an engine tag; legacy sentinel -> 0."""
    try:
        return int(engine.split(".", 1)[0])
    except ValueError:
        return 0
# v2: chunked container — the row-group sub-index (reference parity F3:
# per-column positions every row_index_stride=10,000 rows,
# src/writer/data/common.rs:24-48, writer.rs:32). A v2 blob is a chunk
# directory + independently decodable v1 bodies of `stride` rows each,
# so a row slice decompresses only its covering chunks.
# chunk-container version 3 (engine 3.1) appends per-chunk min/max
# stats (the reference's row-group index STATS half, common.rs:24-48):
# a JSON [{col: [min, max] | null, ...} per chunk] section that lets
# decode_table(predicate=...) skip chunks no row of which can match.
# Version-2 chunk blobs (engine 3.0) stay readable — they simply carry
# no stats, so nothing prunes.
MAGIC2 = b"OFS2"
VERSION2 = 2
VERSION2_STATS = 3
_READ_VERSIONS2 = (2, 3)
DEFAULT_ROW_INDEX_STRIDE = 10_000

PRESENT, DATA, LENGTH, SECONDARY = 0, 1, 2, 3

_INT_TYPES = {
    "int8": pa.int8(),
    "int16": pa.int16(),
    "int32": pa.int32(),
    "int64": pa.int64(),
    "date32[day]": pa.date32(),
}
_FLOAT_TYPES = {"float": pa.float32(), "double": pa.float64()}


class ColumnEntry:
    __slots__ = ("name", "type", "codec", "comp", "has_null", "n_rows", "n_present", "streams")

    def __init__(self, name, type_, codec, comp, has_null, n_rows, n_present, streams):
        self.name = name
        self.type = type_
        self.codec = codec
        self.comp = comp
        self.has_null = has_null
        self.n_rows = n_rows
        self.n_present = n_present
        self.streams = streams  # list[(kind, bytes)]


def _encode_int_values(codec: str, v: np.ndarray, signed: bool = True) -> bytes:
    # canonical encoder lives in selector.py (like _encode_float), so
    # its size estimates can never desync from the emitted wire bytes
    return _encode_int(codec, v, signed)


def _decode_int_values(codec: str, buf: bytes, signed: bool = True) -> np.ndarray:
    if codec == "rle_v1":
        return rle_v1.decode_int_rle_v1(buf, signed)
    if codec == "rle_v2":
        return rle_v2.decode_int_rle_v2(buf, signed)
    if codec == "for_bitpack":
        return decode_for_bitpack(buf, signed)
    if codec == "dict_int":
        return dictionary.decode_dict_int(buf, signed)
    raise ValueError(f"int codec {codec}")


def _encode_str_values(codec: str, data: np.ndarray, offsets: np.ndarray) -> bytes:
    # canonical encoder (incl. the fsst length-stream framing) lives in
    # selector.py; one copy of the wire format
    return _encode_str(codec, data, offsets)


def _decode_str_values(codec: str, buf: bytes) -> tuple[np.ndarray, np.ndarray]:
    if codec == "raw_str":
        return raw.decode_bytes_raw(buf)
    if codec == "dict_str":
        return dictionary.decode_dict_bytes(buf)
    if codec == "fsst":
        n, pos = decode_varint_one(buf, 0)
        llen, pos = decode_varint_one(buf, pos)
        lens = rle_v1.decode_int_rle_v1(buf[pos : pos + llen], signed=False).astype(np.int64)
        data = fsst_decode(buf[pos + llen :])
        off = np.zeros(n + 1, np.int64)
        np.cumsum(lens, out=off[1:])
        return data, off
    raise ValueError(f"str codec {codec}")


def _combine(a):
    return a.combine_chunks() if isinstance(a, pa.ChunkedArray) else a


def _flat_binary(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """Non-null string/binary array -> (data_u8, offsets_i64)."""
    a = _combine(arr.cast(pa.large_binary()))
    n = len(a)
    if n == 0:
        return np.empty(0, np.uint8), np.zeros(1, np.int64)
    bufs = a.buffers()
    off = np.frombuffer(bufs[1], np.int64, n + 1, a.offset * 8)
    data = np.frombuffer(bufs[2], np.uint8)[off[0] : off[-1]]
    return data, (off - off[0]).astype(np.int64)


def _union_ids_offsets(uv: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(type_codes, value_offsets) of a dense union, slice-correct.

    pyarrow's ``.type_codes``/``.offsets`` accessors truncate to the
    logical length but do NOT apply the slice offset, so a sliced union
    array reads the wrong entries through them; slice the physical
    buffers explicitly instead."""
    raw_tc = np.frombuffer(uv.buffers()[1], np.int8)
    raw_off = np.frombuffer(uv.buffers()[2], np.int32)
    lo, hi = uv.offset, uv.offset + len(uv)
    return raw_tc[lo:hi], raw_off[lo:hi].astype(np.int64)


def _present_info(arr: pa.Array) -> tuple[bool, np.ndarray | None, bytes]:
    """(has_null, valid_mask, PRESENT stream bytes or b'')."""
    if arr.null_count == 0:
        return False, None, b""
    mask = arr.is_valid().to_numpy(zero_copy_only=False)
    return True, mask, rle_v1.encode_boolean_rle(mask)


def encode_column(
    name: str,
    arr: pa.Array,
    codec: str | dict = "auto",
    compression: str = "zstd",
    entries: list | None = None,
    lineage: list | None = None,
    priors: dict | None = None,
) -> list[ColumnEntry]:
    """Encode one arrow array into container entries (recursive for lists).

    ``codec`` may be a per-column mapping, e.g. ``{"tokens.item":
    "for_bitpack", "doc_id": "raw_str"}`` — unlisted columns (keyed by
    their full dotted path, children included) fall back to ``"auto"``.
    ``priors`` maps those paths to the selector's per-partition state
    (``encode_table``); without it every auto column is selected afresh.
    """
    if entries is None:
        entries = []
    if lineage is None:
        lineage = []
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    child_codec = codec  # the full spec recurses to children untouched
    if isinstance(codec, dict):
        codec = codec.get(name, "auto")
    t = arr.type
    n_rows = len(arr)
    has_null, mask, present_stream = _present_info(arr)
    vals = arr.drop_null() if has_null else arr
    n_present = len(vals)
    streams: list[tuple[int, bytes]] = []
    if has_null:
        streams.append((PRESENT, present_stream))
    est: dict[str, float] = {}
    bounds: dict[str, float] = {}  # pruned candidates' lower bounds
    prior = None if priors is None else priors.setdefault(name, {})
    # "reference" mode pins every column to the reference writer's fixed
    # encodings (SignedIntRLEv1 DATA for ints — long.rs:24-27; raw DATA +
    # LENGTH for strings — string.rs:24-28); used as the compressed-size
    # baseline the auto-selector must beat
    if codec == "reference":
        codec = "__reference__"

    def _pick(cands: tuple, ref: str) -> str:
        if codec == "__reference__":
            return ref
        return codec if codec in cands else ""

    if pa.types.is_integer(t) or pa.types.is_date32(t):
        # keep the native width: the hot codecs (for_bitpack, dict_int)
        # stay in int32 lanes for int32 data — half the memory traffic;
        # RLEv1/v2 upcast internally where their semantics need i64
        v = vals.to_numpy(zero_copy_only=False)
        if v.dtype.kind not in "iu":
            v = v.astype(np.int64)  # date32 -> days
        use = _pick(("rle_v1", "rle_v2", "for_bitpack", "dict_int"), "rle_v1")
        if not use:
            use, est, wire = select_and_encode_int(v, signed=True, _bounds=bounds, _prior=prior)
            streams.append((DATA, wire))
        else:
            streams.append((DATA, _encode_int_values(use, v, True)))
    elif pa.types.is_boolean(t):
        use = "bool_rle"
        v = vals.to_numpy(zero_copy_only=False)
        streams.append((DATA, rle_v1.encode_boolean_rle(v)))
    elif pa.types.is_float32(t) or pa.types.is_float64(t):
        # reference pins floats to raw LE (float.rs:95-101); auto also
        # tries byte-stream split, dict-on-bit-patterns, and ALP
        # decimal-double (alp.py), compared POST-compression
        # (selector.select_and_encode_float) since raw and split only
        # diverge under the block codec
        dbl = pa.types.is_float64(t)
        raw_name = "raw_double" if dbl else "raw_float"
        v = vals.to_numpy(zero_copy_only=False)
        use = _pick((raw_name, "float_split", "dict_float", "alp"), raw_name)
        if not use:
            use, est, wire = select_and_encode_float(v, dbl, compression, _prior=prior)
            streams.append((DATA, wire))
        else:
            streams.append((DATA, _encode_float(use, v, dbl)))
    elif pa.types.is_timestamp(t):
        use = "timestamp"
        v = vals.cast(pa.timestamp("us")).to_numpy(zero_copy_only=False).astype("datetime64[us]").view(np.int64)
        streams.append((DATA, ts_codec.encode_timestamp_us(v)))
    elif pa.types.is_decimal(t):
        # unscaled int64 (precision <= 18), reference decimal.rs:108-122;
        # codec-selectable like any int column (superset of the reference's
        # fixed zigzag-varint DATA stream). Unscaled values are read
        # directly from the decimal128 buffer's low limb (valid because
        # precision <= 18 fits int64).
        if t.precision > 18:
            # i128 path (reference varint.rs:60-108): zigzag + <=19-byte
            # varints over python ints — cold path, decimals only
            use = "varint128"
            cv = vals.combine_chunks() if isinstance(vals, pa.ChunkedArray) else vals
            streams.append((DATA, _encode_varint128(_decimal_unscaled_i128(cv))))
        else:
            v = _decimal_unscaled_i64(vals.combine_chunks() if isinstance(vals, pa.ChunkedArray) else vals)
            use = _pick(("rle_v1", "rle_v2", "for_bitpack", "dict_int"), "rle_v1")
            if not use:
                use, est, wire = select_and_encode_int(v, signed=True, _bounds=bounds, _prior=prior)
                streams.append((DATA, wire))
            else:
                streams.append((DATA, _encode_int_values(use, v, True)))
    elif pa.types.is_string(t) or pa.types.is_large_string(t) or pa.types.is_binary(t) or pa.types.is_large_binary(t):
        data, off = _flat_binary(vals)
        use = _pick(("raw_str", "dict_str", "fsst"), "raw_str")
        if not use:
            # fused select+encode: skips fsst training on clearly-dict
            # samples, reuses the selection-trained symbol table (and,
            # for sample-covered columns, the candidate bytes outright)
            use, est, wire = select_and_encode_str(data, off, _bounds=bounds, _prior=prior)
            streams.append((DATA, wire))
        else:
            streams.append((DATA, _encode_str_values(use, data, off)))
    elif pa.types.is_list(t) or pa.types.is_large_list(t):
        use = "list"
        lv = _combine(vals.cast(pa.large_list(t.value_type)))
        loff = np.frombuffer(lv.buffers()[1], np.int64, len(lv) + 1, lv.offset * 8)
        lengths = (loff[1:] - loff[:-1]).astype(np.uint64)
        streams.append((LENGTH, rle_v1.encode_int_rle_v1(lengths, signed=False)))
        child = lv.flatten()
        entry = _finish_entry(name, str(t), use, compression, has_null, n_rows, n_present, streams)
        entries.append(entry)
        lineage.append(_lineage_row(name, entry, arr, est, bounds))
        encode_column(name + ".item", child, child_codec, compression, entries, lineage, priors)
        return entries
    elif pa.types.is_struct(t):
        # struct column: PRESENT only; one child entry per field, exactly
        # the reference's StructData decomposition (struct_.rs:26-28,
        # children recursive at struct_.rs:57-85); child count recovered
        # from the type string at decode time
        use = "struct"
        sv = _combine(vals)
        entry = _finish_entry(name, str(t), use, compression, has_null, n_rows, n_present, streams)
        entries.append(entry)
        lineage.append(_lineage_row(name, entry, arr, est, bounds))
        for i in range(t.num_fields):
            encode_column(
                f"{name}.{t.field(i).name}", sv.field(i), child_codec, compression,
                entries, lineage, priors,
            )
        return entries
    elif pa.types.is_union(t):
        # union column (union.rs:25-28, 59-89): ByteRLE DATA stream of
        # variant tags + one child entry per variant, each holding that
        # variant's values in arrival order (the reference's model).
        # Arrow dense-union offsets are re-gathered to arrival order, so
        # arbitrary offsets round-trip to the canonical layout.
        uv = _combine(vals)
        codes = list(t.type_codes)
        if t.mode != "dense":
            # sparse unions carry the same logical content with
            # redundant child slots; encode as the dense equivalent
            # (dense type string stored — decode returns the dense
            # union with identical logical values). field(i) is
            # slice-adjusted by pyarrow, so positions index it directly.
            type_codes = np.frombuffer(uv.buffers()[1], np.int8)[
                uv.offset : uv.offset + len(uv)
            ]
            value_offsets = None
            t = pa.union(
                [t.field(i) for i in range(t.num_fields)],
                mode="dense",
                type_codes=codes,
            )
        else:
            type_codes, value_offsets = _union_ids_offsets(uv)
        streams.append((DATA, rle_v1.encode_byte_rle(type_codes.view(np.uint8))))
        entry = _finish_entry(name, str(t), "union", compression, has_null, n_rows, n_present, streams)
        entries.append(entry)
        lineage.append(_lineage_row(name, entry, arr, est, bounds))
        for i in range(t.num_fields):
            positions = np.flatnonzero(type_codes == codes[i])
            child_vals = uv.field(i).take(
                pa.array(
                    positions if value_offsets is None else value_offsets[positions],
                    pa.int64(),
                )
            )
            encode_column(
                f"{name}.{t.field(i).name}", child_vals, child_codec, compression,
                entries, lineage, priors,
            )
        return entries
    elif pa.types.is_map(t):
        # map column: PRESENT + LENGTH + keys/values child entries
        # (map.rs:61-83: LENGTH stream + two child columns)
        use = "map"
        mv = _combine(vals)
        moff = np.asarray(mv.offsets, np.int64)
        start, end = int(moff[0]), int(moff[-1])
        lengths = (moff[1:] - moff[:-1]).astype(np.uint64)
        streams.append((LENGTH, rle_v1.encode_int_rle_v1(lengths, signed=False)))
        keys = mv.keys.slice(start, end - start)
        items = mv.items.slice(start, end - start)
        entry = _finish_entry(name, str(t), use, compression, has_null, n_rows, n_present, streams)
        entries.append(entry)
        lineage.append(_lineage_row(name, entry, arr, est, bounds))
        encode_column(f"{name}.key", keys, child_codec, compression, entries, lineage, priors)
        encode_column(f"{name}.value", items, child_codec, compression, entries, lineage, priors)
        return entries
    else:
        raise NotImplementedError(f"type {t} not supported yet")

    entry = _finish_entry(name, str(t), use, compression, has_null, n_rows, n_present, streams)
    entries.append(entry)
    lineage.append(_lineage_row(name, entry, arr, est, bounds))
    return entries


def _finish_entry(name, type_str, codec, compression, has_null, n_rows, n_present, streams):
    comp_streams = [(k, compress_stream(s, compression)) for k, s in streams]
    return ColumnEntry(name, type_str, codec, compression, has_null, n_rows, n_present, comp_streams)


def _lineage_row(name, entry: ColumnEntry, arr: pa.Array, est: dict, bounds: dict) -> dict:
    """``candidates``: measured bytes per sampled unit of each candidate
    the selector encoded; ``candidate_bounds``: the lower bounds, in the
    same unit, of the candidates it pruned without encoding them."""
    return {
        "column": name,
        "codec": entry.codec,
        "n_rows": entry.n_rows,
        "n_present": entry.n_present,
        "input_bytes": arr.nbytes,
        "output_bytes": sum(len(s) for _, s in entry.streams),
        "candidates": est,
        "candidate_bounds": bounds,
    }


def serialize_blob(entries: list[ColumnEntry]) -> bytes:
    eng = ENCODER_VERSION.encode()
    parts = [
        MAGIC,
        bytes((VERSION,)),
        len(entries).to_bytes(2, "little"),
        encode_varint_one(len(eng)),
        eng,
    ]
    payloads = []
    for e in entries:
        for s in (e.name, e.type, e.codec, e.comp):
            b = s.encode()
            # varint length: nested type strings (wide structs) and deep
            # dotted column paths routinely exceed one byte
            parts.append(encode_varint_one(len(b)))
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


def _read_header(blob: bytes, pos: int = 0) -> tuple[str, list, int]:
    """Parse the uncompressed entry headers of the body at ``pos`` ->
    (engine tag, per-entry ``(fields, has_null, n_rows, n_present,
    [(kind, len)])``, offset of the first stream payload)."""
    if len(blob) - pos < 7:
        raise ValueError("truncated blob header")
    if blob[pos : pos + 4] != MAGIC:
        raise ValueError("bad blob magic")
    version = blob[pos + 4]
    if version not in _READ_VERSIONS:
        raise ValueError(f"unsupported blob version {version}")
    n_entries = int.from_bytes(blob[pos + 5 : pos + 7], "little")
    pos += 7
    engine = _LEGACY_ENGINE
    try:
        if version >= 3:  # engine tag (see blob_engine_version)
            elen, pos = decode_varint_one(blob, pos)
            engine = blob[pos : pos + elen].decode()
            pos += elen
        metas = []
        for _ in range(n_entries):
            fields = []
            for _ in range(4):
                if version == 1:  # legacy single-byte field lengths
                    ln, pos = blob[pos], pos + 1
                else:
                    ln, pos = decode_varint_one(blob, pos)
                if pos + ln > len(blob):
                    # a plain slice would decode a silently-short
                    # field string; truncations must be loud
                    raise ValueError("truncated blob metadata")
                fields.append(blob[pos : pos + ln].decode())
                pos += ln
            has_null = bool(blob[pos])
            pos += 1
            n_rows, pos = decode_varint_one(blob, pos)
            n_present, pos = decode_varint_one(blob, pos)
            n_streams = blob[pos]
            pos += 1
            skinds = []
            for _ in range(n_streams):
                kind = blob[pos]
                pos += 1
                slen, pos = decode_varint_one(blob, pos)
                skinds.append((kind, slen))
            metas.append((fields, has_null, n_rows, n_present, skinds))
    except IndexError:
        # blob[pos] / decode_varint_one past the end: classify the same
        # way as every other truncation so callers catching ValueError
        # to reject corrupt blobs see a consistent type
        raise ValueError("truncated blob metadata") from None
    return engine, metas, pos


def _header_null_stats(blob: bytes, pos: int, end: int, n_rows: int) -> dict[str, Stats]:
    """Top-level column -> exact ``Stats(has_null, n)`` read from the
    entry headers of the ``n_rows``-row body at ``blob[pos:end]``; no
    stream is decompressed. A header that disagrees with the body's
    extent or row count raises rather than steer pruning."""
    _engine, metas, p = _read_header(blob, pos)
    if p + sum(slen for *_, skinds in metas for _, slen in skinds) != end:
        raise ValueError("chunk body length mismatch")
    entries = [ColumnEntry(f[0], f[1], f[2], f[3], h, nr, npres, None)
               for f, h, nr, npres, _ in metas]
    out = {}
    i = 0
    while i < len(entries):
        e = entries[i]
        if e.n_rows != n_rows or e.n_present > n_rows:
            raise ValueError("chunk row count mismatch")
        out[e.name] = Stats(has_null=e.has_null, n=e.n_present)
        i = _skip_entries(entries, i)
    return out


def deserialize_blob(blob: bytes) -> list[ColumnEntry]:
    engine, metas, pos = _read_header(blob)
    entries = []
    for (fields, has_null, n_rows, n_present, skinds) in metas:
        streams = []
        for kind, slen in skinds:
            if pos + slen > len(blob):
                raise ValueError("truncated blob payload")
            streams.append((kind, blob[pos : pos + slen]))
            pos += slen
        entries.append(ColumnEntry(fields[0], fields[1], fields[2], fields[3], has_null, n_rows, n_present, streams))
    if pos != len(blob):
        raise ValueError("trailing bytes after blob payload")
    # Engine 4.0 corrected the RLEv2 patched-base wire format (patch-list
    # entries at the closest FIXED width >= pgw+pw; base byte count
    # reserves the sign bit) to match spec-compliant external readers.
    # ONLY that sub-encoding changed: short-repeat/direct/delta streams
    # are byte-identical across versions, and most persisted rle_v2
    # columns contain no patched runs at all. Refuse a pre-4.0 blob only
    # when a patched run is actually present (header-only scan of the
    # decompressed DATA stream — pre-4.0 blobs are the legacy read path,
    # current-engine blobs pay nothing), instead of making every old
    # rle_v2 dataset permanently undecodable.
    if _engine_major(engine) < 4:
        from .rle_v2 import rle_v2_has_patched

        for e in entries:
            if e.codec != "rle_v2":
                continue
            for kind, s in e.streams:
                if kind != DATA:
                    continue
                try:
                    patched = rle_v2_has_patched(
                        decompress_stream(s, e.comp)
                    )
                except (IndexError, ValueError):
                    patched = True  # malformed: refuse, decode would too
                if patched:
                    raise ValueError(
                        f"blob written by engine {engine!r} uses the "
                        "pre-4.0 rle_v2 patched-base wire format; decode "
                        "it with the writing version or re-encode"
                    )
    return entries


def blob_engine_version(blob: bytes) -> str:
    """Encoder version stamped in the blob header (v3+); legacy v1
    blobs (no tag) report "<pre-3.0>". Chunked (OFS2) blobs report
    their first body's tag — all chunks of one blob share a writer."""
    if blob[:4] == MAGIC2:
        pos = 5
        _stride, pos = decode_varint_one(blob, pos)
        n_chunks, pos = decode_varint_one(blob, pos)
        for _ in range(n_chunks):
            _nr, pos = decode_varint_one(blob, pos)
            _blen, pos = decode_varint_one(blob, pos)
        if blob[4] >= VERSION2_STATS:  # skip the chunk-stats section
            slen, pos = decode_varint_one(blob, pos)
            pos += slen
        return blob_engine_version(blob[pos:])
    if blob[:4] != MAGIC:
        raise ValueError("bad blob magic")
    if blob[4] < 3:
        return _LEGACY_ENGINE
    elen, pos = decode_varint_one(blob, 7)
    return blob[pos : pos + elen].decode()


def _split_top_level(s: str) -> list[str]:
    """Split on commas at nesting depth 0. Depth counts angle brackets
    AND parentheses/square brackets: arrow type strings put commas
    inside "decimal128(10, 2)" and "timestamp[us, tz=UTC]", so
    tracking only <> would split a struct's children mid-type and make
    the blob undecodable."""
    parts: list[str] = []
    depth = 0
    cur: list[str] = []
    for ch in s:
        if ch in "<([":
            depth += 1
        elif ch in ">)]":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    return [p.strip() for p in parts]


def _parse_type(s: str) -> pa.DataType:
    # arrow prints non-nullable child fields as "int32 not null"; the
    # container tracks nullability via PRESENT streams, so strip it
    if s.endswith(" not null"):
        s = s[: -len(" not null")]
    if s in _INT_TYPES:
        return _INT_TYPES[s]
    if s in _FLOAT_TYPES:
        return _FLOAT_TYPES[s]
    if s == "bool":
        return pa.bool_()
    if s in ("string", "large_string"):
        return pa.large_string() if s == "large_string" else pa.string()
    if s in ("binary", "large_binary"):
        return pa.large_binary() if s == "large_binary" else pa.binary()
    if s.startswith("timestamp"):
        # keep the STORED unit ("timestamp[ns]" etc.): values encode in
        # exact microseconds (the safe cast at encode rejects sub-us
        # precision), and decode casts them back to this declared type,
        # so parsing everything as us would misreport the schema
        inner = s[s.index("[") + 1 : s.rindex("]")]
        tz = None
        unit = inner
        if ", tz=" in inner:
            unit, tz = inner.split(", tz=", 1)
        return pa.timestamp(unit, tz)
    if s.startswith("decimal128"):
        p, sc = s[s.index("(") + 1 : s.index(")")].split(",")
        return pa.decimal128(int(p), int(sc))
    if s.startswith("list<") or s.startswith("large_list<"):
        inner = s[s.index("<") + 1 : -1]
        # arrow prints "list<item: int32>"
        if ": " in inner:
            inner = inner.split(": ", 1)[1]
        child = _parse_type(inner)
        return pa.large_list(child) if s.startswith("large_list") else pa.list_(child)
    if s.startswith("struct<"):
        fields = []
        inner = s[7:-1]
        if inner:
            for part in _split_top_level(inner):
                fname, ftype = part.split(": ", 1)
                fields.append(pa.field(fname, _parse_type(ftype)))
        return pa.struct(fields)
    if s.startswith("map<"):
        kt, vt = _split_top_level(s[4:-1])
        return pa.map_(_parse_type(kt), _parse_type(vt))
    if s.startswith("dense_union<"):
        fields = []
        codes = []
        for part in _split_top_level(s[len("dense_union<") : -1]):
            fname, rest = part.split(": ", 1)
            ftype, code = rest.rsplit("=", 1)
            fields.append(pa.field(fname, _parse_type(ftype)))
            codes.append(int(code))
        return pa.union(fields, mode="dense", type_codes=codes)
    raise NotImplementedError(f"type string {s}")


def _decimal_unscaled_i128(arr: pa.Array) -> list[int]:
    """Unscaled python ints of a (non-null) decimal128 array."""
    n = len(arr)
    if n == 0:
        return []
    limbs = np.frombuffer(arr.buffers()[1], np.uint64, 2 * (arr.offset + n))[
        2 * arr.offset :
    ]
    lo = limbs[0::2]
    hi = limbs[1::2].view(np.int64)
    return [int(l) + (int(h) << 64) for l, h in zip(lo.tolist(), hi.tolist())]


def _encode_varint128(vals: list[int]) -> bytes:
    """zigzag + LEB128 for i128 (reference varint.rs:60-108)."""
    out = bytearray()
    mask = (1 << 128) - 1
    for x in vals:
        z = ((x << 1) ^ (x >> 127)) & mask
        while True:
            if z < 0x80:
                out.append(z)
                break
            out.append(0x80 | (z & 0x7F))
            z >>= 7
    return bytes(out)


def _decode_varint128(buf: bytes) -> list[int]:
    vals: list[int] = []
    z = 0
    shift = 0
    for b in buf:
        z |= (b & 0x7F) << shift
        if b < 0x80:
            vals.append((z >> 1) ^ -(z & 1))
            z = 0
            shift = 0
        else:
            shift += 7
    return vals


def _decimal_unscaled_i64(arr: pa.Array) -> np.ndarray:
    """Unscaled int64 values of a (non-null) decimal128 array, vectorized."""
    n = len(arr)
    if n == 0:
        return np.empty(0, np.int64)
    buf = arr.buffers()[1]
    limbs = np.frombuffer(buf, np.uint64, 2 * (arr.offset + n))[2 * arr.offset :]
    return limbs[0::2].view(np.int64).copy()  # low limb == value for p<=18


def _rebuild_with_nulls(values: pa.Array, has_null, n_rows, present_stream) -> pa.Array:
    if not has_null:
        return values
    mask = rle_v1.decode_boolean_rle(present_stream, n_rows)
    idx = np.zeros(n_rows, np.int64)
    idx[mask] = np.arange(len(values), dtype=np.int64)
    take = pc.if_else(pa.array(mask), pa.array(idx, pa.int64()), pa.scalar(None, pa.int64()))
    return values.take(take)


def decode_entries(entries: list[ColumnEntry], start: int = 0,
                   proj: dict | None = None) -> tuple[str, pa.Array, int]:
    """Decode the column at ``entries[start]`` (consuming child entries).

    ``proj`` prunes struct subtrees (same tree shape as the ORC
    reader's dotted projection: ``{child_name: sub_proj | None}``) —
    skipped children's streams are never decompressed."""
    e = entries[start]
    t = _parse_type(e.type)
    if proj is not None and not (
        pa.types.is_struct(t) or pa.types.is_list(t)
        or pa.types.is_large_list(t)
    ):
        raise KeyError(
            f"decode_table: cannot project into non-struct column "
            f"{e.name!r}"
        )
    raw_streams = {k: decompress_stream(s, e.comp) for k, s in e.streams}
    present = raw_streams.get(PRESENT, b"")
    nxt = start + 1
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        # lists are transparent to dotted projection: proj applies to
        # the element (a list<struct> prunes its element's fields)
        lengths = rle_v1.decode_int_rle_v1(raw_streams[LENGTH], signed=False).astype(np.int64)
        child_name, child, nxt = decode_entries(entries, start + 1, proj)
        off = np.zeros(e.n_present + 1, np.int64)
        np.cumsum(lengths, out=off[1:])
        arr = pa.LargeListArray.from_arrays(pa.array(off, pa.int64()), child)
        if proj is None:
            values = arr.cast(t)
        else:  # pruned element type: keep the list kind, drop the cast
            values = arr.cast(
                pa.list_(child.type) if pa.types.is_list(t)
                else pa.large_list(child.type)
            )
    elif pa.types.is_struct(t):
        field_names = [t.field(i).name for i in range(t.num_fields)]
        if proj is not None:
            unknown = [nm for nm in proj if nm not in field_names]
            if unknown:
                raise KeyError(
                    f"decode_table: no such fields {unknown} in struct "
                    f"{e.name!r}"
                )
        children = []
        kept_names = []
        nxt = start + 1
        for i in range(t.num_fields):
            nm = field_names[i]
            if proj is not None and nm not in proj:
                nxt = _skip_entries(entries, nxt)
                continue
            _, child, nxt = decode_entries(
                entries, nxt, proj[nm] if proj is not None else None
            )
            children.append(child)
            kept_names.append(nm)
        if proj is not None:
            # selection order, matching the ORC reader's dotted
            # projection (entries decode in file order; reorder after)
            korder = {nm: k for k, nm in enumerate(proj)}
            pairs = sorted(zip(kept_names, children),
                           key=lambda p: korder[p[0]])
            kept_names = [nm for nm, _ in pairs]
            children = [c for _, c in pairs]
        values = pa.StructArray.from_arrays(children, names=kept_names)
    elif pa.types.is_union(t):
        tags = rle_v1.decode_byte_rle(raw_streams[DATA]).view(np.int8)
        children = []
        nxt = start + 1
        for _ in range(t.num_fields):
            _, child, nxt = decode_entries(entries, nxt)
            children.append(child)
        # canonical arrival-order offsets: the j-th occurrence of variant
        # v points at child_v[j]
        offsets = np.zeros(tags.size, np.int32)
        for i in range(t.num_fields):
            pos = np.flatnonzero(tags == t.type_codes[i])
            offsets[pos] = np.arange(pos.size, dtype=np.int32)
        values = pa.UnionArray.from_dense(
            pa.array(tags, pa.int8()),
            pa.array(offsets, pa.int32()),
            children,
            field_names=[t.field(i).name for i in range(t.num_fields)],
            type_codes=list(t.type_codes),
        )
    elif pa.types.is_map(t):
        lengths = rle_v1.decode_int_rle_v1(raw_streams[LENGTH], signed=False).astype(np.int64)
        _, keys, nxt = decode_entries(entries, start + 1)
        _, items, nxt = decode_entries(entries, nxt)
        off = np.zeros(e.n_present + 1, np.int64)
        np.cumsum(lengths, out=off[1:])
        values = pa.MapArray.from_arrays(
            pa.array(off.astype(np.int32), pa.int32()), keys, items
        ).cast(t)
    elif pa.types.is_integer(t) or pa.types.is_date32(t):
        v = _decode_int_values(e.codec, raw_streams[DATA], True)
        if pa.types.is_date32(t):
            values = pa.array(v.astype(np.int32)).cast(t)
        else:
            values = pa.array(v, pa.int64()).cast(t)
    elif pa.types.is_boolean(t):
        v = rle_v1.decode_boolean_rle(raw_streams[DATA], e.n_present)
        values = pa.array(v, pa.bool_())
    elif pa.types.is_float32(t) or pa.types.is_float64(t):
        dbl = pa.types.is_float64(t)
        if e.codec == "float_split":
            v = raw.decode_float_split(raw_streams[DATA], double=dbl)
        elif e.codec == "alp":
            from .alp import decode_alp

            v = decode_alp(raw_streams[DATA], double=dbl)
        elif e.codec == "dict_float":
            bits = dictionary.decode_dict_int(raw_streams[DATA], True)
            v = (
                bits.view(np.float64)
                if dbl
                else bits.astype(np.int32).view(np.float32)
            )
        else:
            v = raw.decode_float_raw(raw_streams[DATA], double=dbl)
        values = pa.array(v, t)
    elif pa.types.is_timestamp(t):
        v = ts_codec.decode_timestamp_us(raw_streams[DATA])
        values = pa.array(v.view("datetime64[us]")).cast(t)
    elif pa.types.is_decimal(t):
        if e.codec == "varint128":
            ints = _decode_varint128(raw_streams[DATA])
            limbs = np.zeros(2 * len(ints), np.uint64)
            m64 = (1 << 64) - 1
            limbs[0::2] = np.array([x & m64 for x in ints], np.uint64)
            limbs[1::2] = np.array([(x >> 64) & m64 for x in ints], np.uint64)
            values = pa.Array.from_buffers(
                pa.decimal128(t.precision, t.scale),
                len(ints),
                [None, pa.py_buffer(limbs)],
            )
        else:
            v = _decode_int_values(e.codec, raw_streams[DATA], True)
            # unscaled int64 -> decimal128: low limb + sign-extended high
            limbs = np.zeros(2 * len(v), np.uint64)
            limbs[0::2] = v.view(np.uint64)
            limbs[1::2] = np.where(v < 0, np.uint64(0xFFFFFFFFFFFFFFFF), np.uint64(0))
            values = pa.Array.from_buffers(
                pa.decimal128(t.precision, t.scale), len(v), [None, pa.py_buffer(limbs)]
            )
    elif pa.types.is_string(t) or pa.types.is_large_string(t) or pa.types.is_binary(t) or pa.types.is_large_binary(t):
        data, off = _decode_str_values(e.codec, raw_streams[DATA])
        if off.size != e.n_present + 1 or int(off[-1]) > len(data):
            # from_buffers trusts its offsets: check before building
            raise ValueError(
                f"column {e.name!r}: string stream does not hold "
                f"{e.n_present} values"
            )
        values = pa.LargeBinaryArray.from_buffers(
            pa.large_binary(), e.n_present, [None, pa.py_buffer(off), pa.py_buffer(np.ascontiguousarray(data))]
        ).cast(t)
    else:
        raise NotImplementedError(e.type)
    if len(values) != e.n_present:
        # a forged or mismatched stream must not decode to a short column
        raise ValueError(
            f"column {e.name!r}: decoded {len(values)} values, the entry "
            f"header says {e.n_present}"
        )
    return e.name, _rebuild_with_nulls(values, e.has_null, e.n_rows, present), nxt


def _encode_body(tbl: pa.Table, codec: str | dict, compression: str,
                 priors: dict | None = None) -> tuple[bytes, list[dict]]:
    entries: list[ColumnEntry] = []
    lineage: list[dict] = []
    for name, col in zip(tbl.column_names, tbl.columns):
        encode_column(name, col.combine_chunks(), codec, compression, entries, lineage, priors)
    return serialize_blob(entries), lineage


# chunk-stats domain: top-level primitives whose min/max are losslessly
# JSON-representable AND whose python comparison order matches the
# column order — the prune test and the exact filter must agree
def _statable(t: pa.DataType) -> bool:
    return (
        pa.types.is_integer(t)
        or pa.types.is_floating(t)
        or pa.types.is_string(t)
        or pa.types.is_large_string(t)
        or pa.types.is_boolean(t)
    )


def _temporal_statable(t: pa.DataType) -> bool:
    """Temporal types whose isoformat strings order chronologically:
    tz-naive timestamps and date32. (The fractional-second suffix is the
    only variable-width isoformat component and preserves order; tz-aware
    values would not, so they are excluded.)"""
    return (pa.types.is_timestamp(t) and t.tz is None) or pa.types.is_date32(t)


def _chunk_stats(chunk: pa.Table, bloom_columns: list[str] | None = None) -> dict:
    """{col: [min, max]} over present values; [None, None] marks an
    all-null chunk (provably unmatchable by any comparison predicate);
    columns outside the statable domain are omitted (= unknown).
    Integer columns named in ``bloom_columns`` additionally get a
    ``<col>@bloom`` base64 bitset for ``==`` pruning when the column is
    not clustered (min/max too wide to help). A column named
    ``<col>@bloom`` next to ``<col>`` would share that key: ValueError."""
    from .bloom import bloom_build, bloom_to_b64

    names = set(chunk.column_names)
    for name in chunk.column_names:
        if f"{name}@bloom" in names:
            raise ValueError(
                f"column {name + '@bloom'!r} collides with the Bloom stats "
                f"key of column {name!r}; rename one of them"
            )
    out = {}
    for name, col in zip(chunk.column_names, chunk.columns):
        if (
            bloom_columns
            and name in bloom_columns
            and (pa.types.is_list(col.type) or pa.types.is_large_list(col.type))
            and pa.types.is_integer(col.type.value_type)
        ):
            # list<int> membership stats: element min/max + Bloom over
            # the chunk's DISTINCT elements, so a ("col", "contains", v)
            # predicate skips chunks no sequence of which holds v — the
            # "find sequences containing token X" path over encoded
            # token blobs
            flat = pc.drop_null(pc.list_flatten(col.combine_chunks()))
            if len(flat) == 0:
                out[name] = {"t": "elem"}  # provably element-free
            else:
                uniq = pc.unique(flat.cast(pa.int64())).to_numpy()
                out[name] = {
                    "t": "elem",
                    "lo": int(uniq.min()),
                    "hi": int(uniq.max()),
                }
                out[f"{name}@bloom"] = bloom_to_b64(bloom_build(uniq))
            continue
        temporal = _temporal_statable(col.type)
        if not (_statable(col.type) or temporal):
            continue
        if col.null_count == len(col):
            out[name] = [None, None]
            continue
        mm = pc.min_max(col)
        lo, hi = mm["min"].as_py(), mm["max"].as_py()
        if isinstance(lo, float) and (lo != lo or hi != hi):  # NaN bounds
            continue
        if pa.types.is_float32(col.type):
            # the exact filter casts the predicate literal to float32
            # (rounding to nearest), so a float64 literal can match a
            # row while sitting just OUTSIDE the exact float32 bounds
            # (0.1 < float32(0.1)); widen by one float32 ulp per side
            # so the prune test never disagrees with the filter
            lo = float(np.nextafter(np.float32(lo), np.float32("-inf")))
            hi = float(np.nextafter(np.float32(hi), np.float32("inf")))
        if temporal:
            # isoformat orders chronologically (see _temporal_statable);
            # the dict form tags the entry so the prune test converts
            # predicate values the same way
            out[name] = {"t": "iso", "lo": lo.isoformat(), "hi": hi.isoformat()}
        else:
            out[name] = [lo, hi]
        if bloom_columns and name in bloom_columns and pa.types.is_integer(col.type):
            vals = pc.drop_null(col.combine_chunks()).cast(pa.int64()).to_numpy()
            out[f"{name}@bloom"] = bloom_to_b64(bloom_build(vals))
    return out


def encode_table(
    tbl: pa.Table,
    codec: str | dict = "auto",
    compression: str = "zstd",
    stride: int | None = None,
    bloom_columns: list[str] | None = None,
) -> tuple[bytes, list[dict]]:
    """Encode a pyarrow table -> (blob, per-column lineage rows).

    With ``stride`` set, rows are cut into independently decodable chunks
    of ``stride`` rows (container v2) — the row-group sub-index: a later
    ``decode_table(..., rows=(a, b))`` touches only covering chunks. A
    table of <= stride rows (or stride=None) emits the chunkless v1 body.
    ``bloom_columns`` adds per-chunk Bloom bitsets for those integer
    columns so ``predicate=(col, "==", v)`` prunes even when the column
    is unclustered (see codecs/bloom.py).

    Codecs are selected per partition: each auto column's first chunk
    runs the full selection, and later chunks keep that winner while
    their sampled profile and its size pass the selector's checks
    (codecs/selector.py); a chunk that fails them is selected afresh
    and decides for the chunks after it. The merged lineage row keeps
    the first chunk's ``candidates`` and counts the fallbacks by reason
    in ``chunks_reselected`` (``{"profile": n, "size": m}``, zero
    counts left out).
    """
    if stride is None or tbl.num_rows <= stride:
        return _encode_body(tbl, codec, compression)
    bodies: list[bytes] = []
    chunk_rows: list[int] = []
    chunk_stats: list[dict] = []
    merged: dict[str, dict] = {}
    order: list[str] = []
    priors: dict[str, dict] = {}
    for start in range(0, tbl.num_rows, stride):
        chunk = tbl.slice(start, stride)
        body, lineage = _encode_body(chunk, codec, compression, priors)
        bodies.append(body)
        chunk_rows.append(chunk.num_rows)
        chunk_stats.append(_chunk_stats(chunk, bloom_columns))
        for l in lineage:
            m = merged.get(l["column"])
            if m is None:
                m = dict(l)
                m["codec"] = {l["codec"]}
                merged[l["column"]] = m
                order.append(l["column"])
            else:
                m["n_rows"] += l["n_rows"]
                m["n_present"] += l["n_present"]
                m["input_bytes"] += l["input_bytes"]
                m["output_bytes"] += l["output_bytes"]
                m["codec"].add(l["codec"])  # chunks may pick different codecs
    out_lineage = []
    for c in order:
        m = merged[c]
        m["codec"] = "+".join(sorted(m["codec"]))
        m["chunks_reselected"] = dict(priors.get(c, {}).get("reselected", {}))
        out_lineage.append(m)
    import json as _json

    stats_blob = _json.dumps(chunk_stats, sort_keys=True, separators=(",", ":")).encode()
    parts = [
        MAGIC2,
        bytes((VERSION2_STATS,)),
        encode_varint_one(stride),
        encode_varint_one(len(bodies)),
    ]
    for nr, body in zip(chunk_rows, bodies):
        parts.append(encode_varint_one(nr))
        parts.append(encode_varint_one(len(body)))
    parts.append(encode_varint_one(len(stats_blob)))
    parts.append(stats_blob)
    parts.extend(bodies)
    return b"".join(parts), out_lineage


def _proj_tree(columns: list[str]) -> dict:
    """Dotted projection paths -> nested tree (shared with the ORC
    reader): ``None`` leaf = whole subtree, dict = recurse into a
    struct; ``"s"`` absorbs a later ``"s.a"`` and widens one."""
    tree: dict = {}
    for path in columns:
        parts = path.split(".")
        node = tree
        for i, p in enumerate(parts):
            if i == len(parts) - 1:
                node[p] = None
            else:
                nxt = node.get(p, _MISSING_PROJ)
                if nxt is None:
                    break  # whole subtree already selected
                if nxt is _MISSING_PROJ:
                    nxt = node[p] = {}
                node = nxt
    return tree


_MISSING_PROJ = object()


def _decode_body(blob: bytes, columns: list[str] | None = None) -> pa.Table:
    entries = deserialize_blob(blob)
    proj = _proj_tree(columns) if columns is not None else None
    cols = []
    names = []
    i = 0
    while i < len(entries):
        top = entries[i].name
        if proj is not None and top not in proj:
            i = _skip_entries(entries, i)
            continue
        name, arr, i = decode_entries(
            entries, i, proj[top] if proj is not None else None
        )
        names.append(name)
        cols.append(arr)
    if proj is not None:
        # a typo'd projection must be loud, not a silently narrower
        # table (checked in the same entry walk — no second header
        # parse; evolution decode resolves missing columns itself and
        # never reaches here)
        missing = [c for c in proj if c not in names]
        if missing:
            raise KeyError(f"decode_table: no such columns {missing}")
        order = {c: k for k, c in enumerate(proj)}
        pairs = sorted(zip(names, cols), key=lambda nc: order[nc[0]])
        names = [n for n, _ in pairs]
        cols = [c for _, c in pairs]
    return pa.table(cols, names=names)


def _iso(v, datetime_bounds: bool) -> str:
    """A literal in the isoformat domain of temporal stats. One outside
    the bounds' domain (datetime bounds contain "T"), or tz-aware (its
    "+HH:MM" suffix breaks the order), is unknown: TypeError."""
    if (datetime_bounds != isinstance(v, datetime.datetime)
            or not isinstance(v, datetime.date)
            or getattr(v, "tzinfo", None) is not None):
        raise TypeError(v)
    return v.isoformat()


def stats_view(stats: dict | None):
    """A :func:`_chunk_stats` dict (chunk, blob-level or manifest
    stats) -> the ``col -> Stats`` view of :func:`predicate.may_match`:
    ``[lo, hi]`` bounds (``[None, None]`` = all-null), iso temporal or
    list-element bounds, and ``<col>@bloom`` bitsets (probed with int
    literals). Absent columns and unknown tags are unknown."""

    def view(col):
        entry = None if stats is None else stats.get(col)
        if entry is None:
            return None
        b64 = stats.get(f"{col}@bloom")
        bloom = None if b64 is None else (
            lambda v: not isinstance(v, int)
            or bloom_may_contain(bloom_from_b64(b64), v)
        )
        if isinstance(entry, (list, tuple)):
            lo, hi = entry
            return Stats(lo, hi, n=0 if lo is None else None, bloom=bloom)
        lo, hi = entry.get("lo"), entry.get("hi")
        if entry.get("t") == "elem":
            return Stats(lo, hi, n=0 if lo is None else None, bloom=bloom, elem=True)
        if entry.get("t") == "iso":
            return Stats(lo, hi, conv=functools.partial(_iso, datetime_bounds="T" in lo))
        return None

    return view


def _with_nulls(view, nulls: dict[str, Stats]):
    """``view`` with each column's has_null and non-null count taken
    from ``nulls``; list-element stats take only has_null (a row-level
    fact) and keep their element count."""

    def merged(col):
        s, h = view(col), nulls.get(col)
        if h is None or s is None:
            return h if s is None else s
        if s.elem:
            return s._replace(has_null=h.has_null)
        return s._replace(has_null=h.has_null, n=h.n)

    return merged


_BLOOM_PAIR = b'@bloom":"'


def _load_chunk_stats(blob, start: int, end: int, cols: set) -> list:
    """The chunk-stats JSON ``blob[start:end]``, parsed without the
    ``"<col>@bloom"`` bitsets of columns outside ``cols``: those pairs
    are cut out of the text before ``json.loads`` and their base64
    (most of the JSON's bytes) is neither copied nor parsed. With no
    backslash in the text every ``"`` delimits a string, so a key's
    quotes are found with plain byte searches; a name or value that
    needs JSON escaping (a backslash somewhere) takes the full parse."""
    import json as _json

    if not isinstance(blob, (bytes, bytearray)) or blob.find(b"\\", start, end) >= 0:
        return _json.loads(bytes(blob[start:end]))
    mv = memoryview(blob)
    parts = []
    pos = start
    while (hit := blob.find(_BLOOM_PAIR, pos, end)) >= 0:
        q = blob.rfind(b'"', pos, hit)  # the key's opening quote
        v_end = blob.find(b'"', hit + len(_BLOOM_PAIR), end) + 1
        if q < 0 or v_end == 0:  # malformed: let the full parse say so
            return _json.loads(bytes(blob[start:end]))
        name = blob[q + 1 : hit].decode("utf-8")
        if name in cols or f"{name}@bloom" in cols:  # a column may end in @bloom
            parts.append(mv[pos:v_end])
        elif q > pos and blob[q - 1] == 0x2C:  # drop ',"k":"v"'
            parts.append(mv[pos : q - 1])
        else:  # first key left: drop '"k":"v",' or '"k":"v"'
            parts.append(mv[pos:q])
            v_end += v_end < end and blob[v_end] == 0x2C
        pos = v_end
    parts.append(mv[pos:end])
    return _json.loads(b"".join(parts))


def decode_table(
    blob: bytes,
    columns: list[str] | None = None,
    rows: tuple[int, int] | None = None,
    predicate=None,
) -> pa.Table:
    """Decode a blob; ``columns`` projects at the blob level (unwanted
    columns' streams are skipped without decompression) — dotted paths
    (``"s.inner.y"``) prune INSIDE struct columns at any depth, with
    lists transparent to them (``"evs.id"`` prunes a ``list<struct>``
    element's fields), the
    same nested schema pruning as the ORC reader's ``read_orc``
    (pruned children's streams never decompress; ``"s"`` alongside
    ``"s.a"`` widens to the whole struct) — and ``rows=(a, b)``
    decodes the half-open row slice — on a chunked (v2) blob only the
    covering chunks are decompressed (the ORC row-index point-read path);
    on a v1 blob the slice is applied after a full decode.

    ``predicate`` — a ``(col, op, value)`` leaf (op in ``== != < <= >
    >= in isnull notnull startswith contains``), a list of nodes (AND),
    ``("and"|"or", [nodes])`` or ``("not", node)``; see
    :mod:`orc_format_spark.predicate` — returns exactly the matching
    rows; chunks whose stats (engine >= 3.1) prove it never TRUE are
    skipped without decompression — the reference's row-index-stats
    skipping (data/common.rs:24-48), which its own reader never
    shipped. ``predicate`` and ``rows`` are mutually exclusive (a
    row slice is positional; filtering renumbers rows)."""
    tree = normalize(predicate)
    if tree is not None and rows is not None:
        raise ValueError("decode_table: predicate and rows are mutually exclusive")
    if tree is not None and columns is not None:
        for pcol in (leaf.col for leaf in leaves(tree)):
            if pcol not in columns:
                raise ValueError(
                    f"decode_table: predicate column {pcol!r} must be in columns"
                )
    if blob[:4] == MAGIC2:
        if blob[4] not in _READ_VERSIONS2:
            raise ValueError(f"unsupported blob version {blob[4]}")
        has_stats = blob[4] == VERSION2_STATS
        try:
            pos = 5
            _stride, pos = decode_varint_one(blob, pos)
            n_chunks, pos = decode_varint_one(blob, pos)
            metas = []
            for _ in range(n_chunks):
                nr, pos = decode_varint_one(blob, pos)
                blen, pos = decode_varint_one(blob, pos)
                metas.append((nr, blen))
            stats: list[dict] | None = None
            if has_stats:
                slen, pos = decode_varint_one(blob, pos)
                stats = _load_chunk_stats(
                    blob, pos, pos + slen,
                    set() if tree is None else {l.col for l in leaves(tree)},
                )
                pos += slen
                if len(stats) != n_chunks:
                    raise ValueError("chunk-stats count mismatch")
        except IndexError as ex:
            raise ValueError("truncated chunked-blob header") from ex
        if not metas or pos + sum(b for _, b in metas) != len(blob):
            raise ValueError("chunked blob length mismatch")
        total = sum(nr for nr, _ in metas)
        a, b = (0, total) if rows is None else rows
        a = max(0, min(a, total))
        b = max(a, min(b, total))
        # a chunk's null count is in its body's uncompressed entry
        # headers, not in the stats JSON; read them only for isnull
        null_test = tree is not None and any(l.op == "isnull" for l in leaves(tree))
        tables = []
        off = 0
        body_pos = pos
        for k, (nr, blen) in enumerate(metas):
            wanted = off + nr > a and off < b
            if wanted and tree is not None:
                view = stats_view(stats[k] if stats else None)
                if null_test:
                    view = _with_nulls(view, _header_null_stats(blob, body_pos, body_pos + blen, nr))
                wanted = may_match(tree, view)
            if wanted:
                t = _decode_body(blob[body_pos : body_pos + blen], columns)
                if tree is not None:
                    t = filter_table(t, tree)
                else:
                    lo = max(a - off, 0)
                    hi = min(b - off, nr)
                    t = t.slice(lo, hi - lo)
                tables.append(t)
            off += nr
            body_pos += blen
        if not tables:
            # empty result: decode chunk 0 at zero rows for the schema
            nr0, blen0 = metas[0]
            return _decode_body(blob[pos : pos + blen0], columns).slice(0, 0)
        return pa.concat_tables(tables).combine_chunks()
    tbl = _decode_body(blob, columns)
    if tree is not None:
        return filter_table(tbl, tree)
    if rows is not None:
        a = max(0, min(rows[0], tbl.num_rows))
        b = max(a, min(rows[1], tbl.num_rows))
        tbl = tbl.slice(a, b - a)
    return tbl


def _skip_entries(entries: list[ColumnEntry], start: int) -> int:
    """Index just past entry ``start`` and all of its child entries."""
    e = entries[start]
    t = _parse_type(e.type)
    nxt = start + 1
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        nxt = _skip_entries(entries, nxt)
    elif pa.types.is_struct(t) or pa.types.is_union(t):
        for _ in range(t.num_fields):
            nxt = _skip_entries(entries, nxt)
    elif pa.types.is_map(t):
        nxt = _skip_entries(entries, nxt)
        nxt = _skip_entries(entries, nxt)
    return nxt


def blob_schema(blob: bytes) -> pa.Schema:
    """Arrow schema of a blob from its header alone — no stream is
    decompressed (the blob is self-describing: every entry carries its
    Arrow type string). Chunked (OFS2) blobs report the first body's
    schema; all chunks of one blob share it."""
    if blob[:4] == MAGIC2:
        pos = 5
        _stride, pos = decode_varint_one(blob, pos)
        n_chunks, pos = decode_varint_one(blob, pos)
        first_blen = 0
        for k in range(n_chunks):
            _nr, pos = decode_varint_one(blob, pos)
            blen, pos = decode_varint_one(blob, pos)
            if k == 0:
                first_blen = blen
        if blob[4] >= VERSION2_STATS:
            slen, pos = decode_varint_one(blob, pos)
            pos += slen
        return blob_schema(blob[pos : pos + first_blen])
    entries = deserialize_blob(blob)
    fields = []
    i = 0
    while i < len(entries):
        e = entries[i]
        fields.append(pa.field(e.name, _parse_type(e.type)))
        i = _skip_entries(entries, i)
    return pa.schema(fields)


def table_checksum(tbl: pa.Table) -> str:
    """Deterministic sha256 over the table's logical content."""
    h = hashlib.sha256()
    for name in tbl.column_names:
        h.update(name.encode())
        col = tbl.column(name).combine_chunks()
        for buf in _canonical_buffers(col):
            h.update(buf)
    return h.hexdigest()


_ONES = memoryview(b"\x01" * (1 << 16))


def _canonical_buffers(arr) -> list:
    """Canonical byte view of an array (type-normalized): a list of
    buffers (bytes, memoryviews, contiguous numpy arrays) to hash in
    order; views are not copied."""
    # NOTE: the type itself is NOT hashed — equivalent logical types
    # print differently across producers (Spark names list items
    # "element", our decoder "item"); the per-column byte width plus the
    # validity length already pin the physical shape
    t = arr.type
    n = len(arr)
    if arr.null_count == 0:
        # one 0x01 per value, as views of one shared block
        out = [_ONES] * (n // len(_ONES)) + [_ONES[: n % len(_ONES)]]
        va = arr
    else:
        out = [arr.is_valid().to_numpy(zero_copy_only=False)]
        va = arr.drop_null()
    if (pa.types.is_integer(t) or pa.types.is_date32(t) or pa.types.is_floating(t)
            or pa.types.is_boolean(t)):
        # native width (both checksum sides always see the same declared
        # type, so widening to int64 would only add memory traffic)
        out.append(va.to_numpy(zero_copy_only=False))
    elif pa.types.is_timestamp(t):
        out.append(va.cast(pa.timestamp("us")).to_numpy(zero_copy_only=False).astype("datetime64[us]").view(np.int64))
    elif pa.types.is_string(t) or pa.types.is_large_string(t) or pa.types.is_binary(t) or pa.types.is_large_binary(t):
        data, off = _flat_binary(va)
        out.append(off)
        out.append(data)
    elif pa.types.is_list(t) or pa.types.is_large_list(t):
        lv = _combine(va.cast(pa.large_list(t.value_type)))
        loff = np.frombuffer(lv.buffers()[1], np.int64, len(lv) + 1, lv.offset * 8)
        out.append(loff - loff[0])
        out.extend(_canonical_buffers(lv.flatten()))
    elif pa.types.is_struct(t):
        for i in range(t.num_fields):
            out.append(t.field(i).name.encode())
            out.extend(_canonical_buffers(va.field(i) if not isinstance(va, pa.ChunkedArray) else va.combine_chunks().field(i)))
    elif pa.types.is_map(t):
        mv = _combine(va)
        moff = np.asarray(mv.offsets, np.int64)
        out.append(moff - moff[0])
        start, end = int(moff[0]), int(moff[-1])
        out.extend(_canonical_buffers(mv.keys.slice(start, end - start)))
        out.extend(_canonical_buffers(mv.items.slice(start, end - start)))
    elif pa.types.is_union(t):
        uv = _combine(va)
        if t.mode == "dense":
            tc, vo = _union_ids_offsets(uv)
        else:
            # sparse unions have no offsets buffer (buffers()[2] is
            # None); row j of variant i lives at field(i)[j] — same
            # canonicalization as encode_column's sparse branch, so
            # the checksum matches the dense equivalent it encodes to
            tc = np.frombuffer(uv.buffers()[1], np.int8)[
                uv.offset : uv.offset + len(uv)
            ]
            vo = None
        out.append(tc)
        for i in range(t.num_fields):
            pos = np.flatnonzero(tc == t.type_codes[i])
            idx = pos if vo is None else vo[pos]
            child = uv.field(i).take(pa.array(idx, pa.int64()))
            out.extend(_canonical_buffers(child))
    elif pa.types.is_decimal(t):
        out.append(str(va.to_pylist()).encode())
    else:
        raise NotImplementedError(str(t))
    return out
