"""Pure-Python Iceberg v2 table-metadata reader/writer (no JVM, no jar).

Implements the subset of the public Apache Iceberg table spec (format
version 2) that the encode engine needs:

read side (the split source — BASELINE.json input_hint names an Iceberg
table of pre-tokenized sequences):
- ``read_table_metadata`` — latest ``metadata/v*.metadata.json`` via
  ``version-hint.text``.
- ``list_data_files`` — current (or pinned) snapshot's live data files,
  resolved through the manifest-list Avro and each manifest Avro.
- ``list_iceberg_splits_meta`` — those files exploded to parquet
  row-group granularity: the deterministic (split_id, file, row_group)
  list consumed by ``encode_splits``. Manifests are snapshot-pinned and
  immutable, so split ids are stable across resumes — the exact-resume
  determinism story at 100 TB, where the manifest (not a directory
  listing) is the only practical way to enumerate 10^6 data files.

write side (north_star: "a codec-lineage row ... to a metrics Iceberg
table"):
- ``create_table`` / ``append_snapshot`` — commit parquet data files as
  Iceberg snapshots: one manifest Avro per commit, a new manifest-list,
  a new ``vN.metadata.json``, version-hint bump. Appends are idempotent
  per ``commit_key`` (a snapshot whose summary carries the same key is
  not re-committed), which is what makes wave-resumed metric commits
  exactly-once.

Scale note: everything here is driver-side metadata I/O — O(manifests)
Avro records, never the token payload. At 10^12 sequences the data path
stays in ``encode_splits``'s one-stage mapInArrow plan; this module only
hands it the split list.

The reference repo has no catalog/manifest code (its writer consumes an
in-memory Vec, src/writer.rs:84-90); layout follows the public Iceberg
spec, field ids and names included, so a real Iceberg reader can consume
our metadata tables.
"""

from __future__ import annotations

import json
import os
import time
import uuid

import pyarrow as pa

from .avro_ocf import read_ocf, write_ocf

FORMAT_VERSION = 2


def local_path(path: str) -> str:
    """A ``file:`` URI (``file:/x`` or ``file:///x``) or a bare path ->
    the bare local path. Spark and SQL options hand paths either way."""
    if path.startswith("file://"):
        return path[len("file://") :]
    if path.startswith("file:"):
        return path[len("file:") :]
    return path


# ---------------------------------------------------------- avro schemas
# Field names/ids follow the Iceberg spec's manifest-list ("manifest_file")
# and manifest ("manifest_entry") schemas, v2 required subset; optional
# per-column stats maps are omitted (null via absent fields is not allowed
# in avro, so we simply don't declare them — readers treat missing
# optional columns as null per the Iceberg spec's column projection rule).

# field_summary (spec field-ids 508-511, 518): per-partition-field bounds
# carried by each manifest_file record so a scan can drop whole manifests
# WITHOUT opening them — level 1 of the two-level prune.
_FIELD_SUMMARY_SCHEMA = {
    "type": "record",
    "name": "r508",
    "fields": [
        {"name": "contains_null", "type": "boolean", "field-id": 509},
        {"name": "contains_nan", "type": ["null", "boolean"], "field-id": 518},
        {"name": "lower_bound", "type": ["null", "bytes"], "field-id": 510},
        {"name": "upper_bound", "type": ["null", "bytes"], "field-id": 511},
    ],
}

_MANIFEST_FILE_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
        {
            # "default" so manifest_file records carried forward from a
            # pre-"partitions" table version re-serialize (the field
            # upgrade must not break the first post-upgrade commit)
            "name": "partitions",
            "type": [
                "null",
                {"type": "array", "items": _FIELD_SUMMARY_SCHEMA},
            ],
            "field-id": 507,
            "default": None,
        },
    ],
}


def _kv_array(name: str, key_id: int, val_id: int, val_type: str) -> dict:
    """Iceberg's logical map<int, T> encoded as an Avro array of
    key/value records (the spec's k*_v* shape)."""
    return {
        "type": "array",
        "items": {
            "type": "record",
            "name": name,
            "fields": [
                {"name": "key", "type": "int", "field-id": key_id},
                {"name": "value", "type": val_type, "field-id": val_id},
            ],
        },
        "logicalType": "map",
    }


def _data_file_schema(part_fields: list[dict]) -> dict:
    """Manifest data_file record schema with the partition record (r102)
    typed per the table's partition spec (field-ids 1000+) and the
    per-column stats maps (value/null counts, typed bounds) that drive
    predicate file skipping."""
    return {
        "type": "record",
        "name": "r2",
        "fields": [
            {"name": "content", "type": "int", "field-id": 134},
            {"name": "file_path", "type": "string", "field-id": 100},
            {"name": "file_format", "type": "string", "field-id": 101},
            {
                "name": "partition",
                "type": {
                    "type": "record",
                    "name": "r102",
                    "fields": [
                        {
                            "name": pf["name"],
                            "type": ["null", _AVRO_PART_TYPES[pf["ptype"]]],
                            "field-id": pf["field-id"],
                        }
                        for pf in part_fields
                    ],
                },
                "field-id": 102,
            },
            {"name": "record_count", "type": "long", "field-id": 103},
            {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
            {
                # "default" mirrors equality_ids: data_file records read
                # from pre-stats manifests carry no value_counts key and
                # must still re-serialize when carried forward
                "name": "value_counts",
                "type": ["null", _kv_array("k119_v120", 119, 120, "long")],
                "field-id": 117,
                "default": None,
            },
            {
                # "default" mirrors equality_ids: data_file records read
                # from pre-stats manifests carry no null_value_counts key and
                # must still re-serialize when carried forward
                "name": "null_value_counts",
                "type": ["null", _kv_array("k121_v122", 121, 122, "long")],
                "field-id": 110,
                "default": None,
            },
            {
                # "default" mirrors equality_ids: data_file records read
                # from pre-stats manifests carry no lower_bounds key and
                # must still re-serialize when carried forward
                "name": "lower_bounds",
                "type": ["null", _kv_array("k126_v127", 126, 127, "bytes")],
                "field-id": 125,
                "default": None,
            },
            {
                # "default" mirrors equality_ids: data_file records read
                # from pre-stats manifests carry no upper_bounds key and
                # must still re-serialize when carried forward
                "name": "upper_bounds",
                "type": ["null", _kv_array("k129_v130", 129, 130, "bytes")],
                "field-id": 128,
                "default": None,
            },
            {
                # spec field 135: schema field ids an equality delete file
                # (content=2) matches on. Null for data/positional files.
                # "default" keeps pre-equality call sites valid, and old
                # manifests decode through their own embedded writer
                # schema, so both eras coexist.
                "name": "equality_ids",
                "type": ["null", {"type": "array", "items": "int", "element-id": 136}],
                "field-id": 135,
                "default": None,
            },
        ],
    }


def _manifest_entry_schema(part_fields: list[dict]) -> dict:
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {"name": "snapshot_id", "type": ["null", "long"], "field-id": 1},
            {"name": "sequence_number", "type": ["null", "long"], "field-id": 3},
            {"name": "file_sequence_number", "type": ["null", "long"], "field-id": 4},
            {"name": "data_file", "type": _data_file_schema(part_fields), "field-id": 2},
        ],
    }

_STATUS_EXISTING, _STATUS_ADDED, _STATUS_DELETED = 0, 1, 2

# ------------------------------------------------------ partition specs
#
# Identity and truncate[W] transforms (the Iceberg spec's order-preserving
# transforms — the ones whose bounds admit range pruning). Partition specs
# are given to create_table as [(source_column, transform)] and stored in
# metadata JSON exactly per the spec (source-id = schema field id,
# partition field-ids from 1000).

_AVRO_PART_TYPES = {"string": "string", "int": "int", "long": "long", "date": "int"}


def _parse_transform(t: str) -> tuple[str, int | None]:
    if t == "identity":
        return "identity", None
    if t.startswith("truncate[") and t.endswith("]"):
        w = int(t[len("truncate[") : -1])
        if w <= 0:
            raise ValueError(f"iceberg_meta: truncate width must be > 0, got {w}")
        return "truncate", w
    raise ValueError(
        f"iceberg_meta: unsupported partition transform {t!r} "
        "(identity and truncate[W] are implemented)"
    )


def _apply_transform(transform: str, value):
    """Raw column value -> partition value (spec 'Partition Transforms')."""
    if value is None:
        return None
    kind, w = _parse_transform(transform)
    if kind == "identity":
        return value
    if isinstance(value, str):  # truncate: first W characters
        return value[:w]
    return value - (value % w)  # ints: floor to multiple of W


def _partition_field_name(col: str, transform: str) -> str:
    kind, _ = _parse_transform(transform)
    return col if kind == "identity" else f"{col}_trunc"


def _spec_part_fields(md: dict, spec_id: int) -> list[dict]:
    """Resolved partition fields of ``spec_id``: name / field-id /
    transform / source column name / partition value type ('ptype')."""
    specs = {s["spec-id"]: s for s in md.get("partition-specs", [])}
    if spec_id not in specs:
        raise ValueError(f"iceberg_meta: partition spec {spec_id} not found")
    schema = md["schemas"][md["current-schema-id"]]
    by_id = {f["id"]: f for f in schema["fields"]}
    out = []
    for f in specs[spec_id]["fields"]:
        src = by_id.get(f["source-id"])
        if src is None:
            raise ValueError(
                f"iceberg_meta: partition source-id {f['source-id']} "
                "not in schema"
            )
        t = src["type"]
        if t not in _AVRO_PART_TYPES:
            raise ValueError(
                f"iceberg_meta: cannot partition on {src['name']} of type {t}"
            )
        out.append(
            {
                "name": f["name"],
                "field-id": f["field-id"],
                "transform": f["transform"],
                "source-name": src["name"],
                "ptype": t,
            }
        )
    return out


def _serialize_bound(ptype: str, value) -> bytes:
    """Iceberg single-value binary serialization (Appendix D): strings as
    UTF-8, int as 4-byte LE, long as 8-byte LE."""
    import struct

    if ptype == "string":
        return str(value).encode("utf-8")
    if ptype in ("int", "date"):
        return struct.pack("<i", int(value))
    return struct.pack("<q", int(value))


def _deserialize_bound(ptype: str, blob: bytes):
    import struct

    if blob is None:
        return None
    if ptype == "string":
        return blob.decode("utf-8")
    if ptype in ("int", "date"):
        return struct.unpack("<i", blob)[0]
    return struct.unpack("<q", blob)[0]


# Iceberg single-value serialization for data-column bounds (maps keyed
# by field id; Appendix D). Only order-preserving primitive types get
# bounds — doubles/floats included (IEEE order matches numeric order for
# the non-NaN values parquet stats report).
_BOUND_TYPES = {"string", "int", "date", "long", "float", "double", "timestamp"}


def _serialize_col_bound(itype: str, value) -> bytes | None:
    import struct

    if value is None:
        return None
    if itype == "string":
        return str(value).encode("utf-8")
    if itype in ("int", "date"):
        return struct.pack("<i", int(value))
    if itype == "long":
        return struct.pack("<q", int(value))
    if itype == "float":
        return struct.pack("<f", float(value))
    if itype == "double":
        return struct.pack("<d", float(value))
    if itype == "timestamp":  # micros since epoch
        return struct.pack("<q", int(value))
    return None


def _deserialize_col_bound(itype: str, blob: bytes | None):
    import struct

    if blob is None:
        return None
    if itype == "string":
        return blob.decode("utf-8")
    if itype in ("int", "date"):
        return struct.unpack("<i", blob)[0]
    if itype in ("long", "timestamp"):
        return struct.unpack("<q", blob)[0]
    if itype == "float":
        return struct.unpack("<f", blob)[0]
    if itype == "double":
        return struct.unpack("<d", blob)[0]
    return None


def _column_stats(path: str, schema_json: dict) -> dict:
    """Per-column stats for a data file from its parquet footer —
    value_counts / null_value_counts / lower_bounds / upper_bounds maps
    keyed by Iceberg field id (spec data_file fields 117/110/125/128).

    Driver-side metadata I/O: one footer read per appended file, no data
    pages touched. These are what makes non-partition predicates prune
    FILES at scan time (``column_predicates=``) — the manifest answers
    min/max for 10^6 files without opening any of them."""
    import pyarrow.parquet as pq

    by_name = {
        f["name"]: f
        for f in schema_json["fields"]
        if isinstance(f["type"], str) and f["type"] in _BOUND_TYPES
    }
    md = pq.ParquetFile(path).metadata
    value_counts: dict[int, int] = {}
    null_counts: dict[int, int] = {}
    lowers: dict[int, object] = {}
    uppers: dict[int, object] = {}
    no_nulls: set[int] = set()   # fids whose null counts are unknowable
    no_bounds: set[int] = set()  # fids whose bounds are unknowable
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            f = by_name.get(col.path_in_schema)
            if f is None:
                continue
            fid = f["id"]
            value_counts[fid] = value_counts.get(fid, 0) + col.num_values
            st = col.statistics
            if st is None or not st.has_null_count:
                no_nulls.add(fid)
                no_bounds.add(fid)
                continue
            null_counts[fid] = null_counts.get(fid, 0) + st.null_count
            if st.has_min_max:
                lo = _normalize_stat(f["type"], st.min)
                hi = _normalize_stat(f["type"], st.max)
                lowers[fid] = lo if fid not in lowers else min(lowers[fid], lo)
                uppers[fid] = hi if fid not in uppers else max(uppers[fid], hi)
            elif st.null_count != col.num_values:
                # a row group with values but no bounds -> bounds unknown
                no_bounds.add(fid)
    types = {f["id"]: f["type"] for f in schema_json["fields"]}
    return {
        "value_counts": [
            {"key": k, "value": v} for k, v in sorted(value_counts.items())
        ],
        "null_value_counts": [
            {"key": k, "value": v}
            for k, v in sorted(null_counts.items())
            if k not in no_nulls
        ],
        "lower_bounds": [
            {"key": k, "value": _serialize_col_bound(types[k], v)}
            for k, v in sorted(lowers.items())
            if k not in no_bounds
        ],
        "upper_bounds": [
            {"key": k, "value": _serialize_col_bound(types[k], v)}
            for k, v in sorted(uppers.items())
            if k not in no_bounds
        ],
    }


def _normalize_stat(itype: str, v):
    """Parquet footer stat -> Iceberg bound value (timestamps to epoch
    micros, dates to epoch days; naive datetimes treated as UTC)."""
    import datetime

    if itype == "timestamp" and isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        return int(v.timestamp() * 1_000_000)
    if itype == "date" and isinstance(v, datetime.date):
        return (v - datetime.date(1970, 1, 1)).days
    return v


def _field_summaries(entries: list[dict], part_fields: list[dict]) -> list[dict]:
    """Per-partition-field bounds over a manifest's live entries —
    written into the manifest-list so scans prune manifests unopened."""
    out = []
    for pf in part_fields:
        vals = [
            e["data_file"]["partition"].get(pf["name"])
            for e in entries
            if e["status"] != _STATUS_DELETED
        ]
        present = [v for v in vals if v is not None]
        out.append(
            {
                "contains_null": len(present) < len(vals),
                "contains_nan": False,
                "lower_bound": (
                    _serialize_bound(pf["ptype"], min(present)) if present else None
                ),
                "upper_bound": (
                    _serialize_bound(pf["ptype"], max(present)) if present else None
                ),
            }
        )
    return out


# ------------------------------------------------------- iceberg schemas


def _iceberg_type(t: pa.DataType) -> object:
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_int32(t) or pa.types.is_int16(t) or pa.types.is_int8(t):
        return "int"
    if pa.types.is_int64(t):
        return "long"
    if pa.types.is_float32(t):
        return "float"
    if pa.types.is_float64(t):
        return "double"
    if pa.types.is_boolean(t):
        return "boolean"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_date32(t):
        return "date"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return {
            "type": "list",
            "element": _iceberg_type(t.value_type),
            "element-required": False,
        }
    raise ValueError(f"iceberg_meta: unmapped arrow type {t}")


def iceberg_schema(schema: pa.Schema) -> dict:
    """Arrow schema -> Iceberg schema JSON with assigned field ids
    (top-level fields first, then nested element ids)."""
    fields = []
    next_id = len(schema) + 1
    for i, f in enumerate(schema):
        t = _iceberg_type(f.type)
        if isinstance(t, dict):  # assign the element id after top-levels
            t = dict(t, **{"element-id": next_id})
            next_id += 1
        fields.append(
            {"id": i + 1, "name": f.name, "required": False, "type": t}
        )
    return {"type": "struct", "schema-id": 0, "fields": fields}


# ----------------------------------------------------------------- write


def _write_manifest(
    meta_dir: str,
    entries: list[dict],
    snapshot_id: int,
    seq: int,
    schema_json: dict,
    name: str,
    part_fields: list[dict],
    spec_fields_json: list[dict],
) -> dict:
    """Write one manifest Avro; returns its manifest_file record
    (including the field summaries that let scans skip it unopened)."""
    path = os.path.join(meta_dir, name)
    blob = write_ocf(
        _manifest_entry_schema(part_fields),
        entries,
        metadata={
            "schema": json.dumps(schema_json),
            "schema-id": "0",
            "partition-spec": json.dumps(spec_fields_json),
            "partition-spec-id": "0",
            "format-version": str(FORMAT_VERSION),
            "content": "data",
        },
    )
    with open(path, "wb") as f:
        f.write(blob)
    added = [e for e in entries if e["status"] == _STATUS_ADDED]
    existing = [e for e in entries if e["status"] == _STATUS_EXISTING]
    return {
        "manifest_path": path,
        "manifest_length": len(blob),
        "partition_spec_id": 0,
        "content": 0,
        "sequence_number": seq,
        "min_sequence_number": seq,
        "added_snapshot_id": snapshot_id,
        "added_files_count": len(added),
        "existing_files_count": len(existing),
        "deleted_files_count": 0,
        "added_rows_count": sum(e["data_file"]["record_count"] for e in added),
        "existing_rows_count": sum(
            e["data_file"]["record_count"] for e in existing
        ),
        "deleted_rows_count": 0,
        "partitions": _field_summaries(entries, part_fields),
    }


def _data_file_record(
    path: str, partition: dict | None = None, schema_json: dict | None = None
) -> dict:
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    stats = (
        _column_stats(path, schema_json)
        if schema_json is not None
        else {
            "value_counts": None,
            "null_value_counts": None,
            "lower_bounds": None,
            "upper_bounds": None,
        }
    )
    return {
        "content": 0,
        "file_path": os.path.abspath(path),
        "file_format": "PARQUET",
        "partition": partition or {},
        "record_count": md.num_rows,
        "file_size_in_bytes": os.path.getsize(path),
        **stats,
    }


def _write_metadata_json(table_dir: str, md: dict, version: int) -> str:
    """Publish ``v<version>.metadata.json``, then point the hint at it,
    each by rename: a commit cut short leaves the table at its prior
    version, never with a torn hint."""
    from ..operators.encode import _write_atomic

    meta_dir = os.path.join(table_dir, "metadata")
    path = os.path.join(meta_dir, f"v{version}.metadata.json")
    _write_atomic(path, json.dumps(md, indent=1).encode())
    _write_atomic(os.path.join(meta_dir, "version-hint.text"), str(version).encode())
    return path


def create_table(
    table_dir: str,
    schema: pa.Schema,
    properties: dict[str, str] | None = None,
    ts_ms: int | None = None,
    partition_spec: list[tuple[str, str]] | None = None,
) -> dict:
    """Create an empty Iceberg v2 table at ``table_dir`` (v1 metadata,
    no snapshot). Data files are added with ``append_snapshot``.

    ``partition_spec`` is ``[(source_column, transform)]`` with transform
    ``"identity"`` or ``"truncate[W]"``. Partitioned appends then pass
    per-file raw partition-column values; scans pass
    ``partition_filter=`` to prune manifests and files without reading
    data (see ``list_data_files``) — at 10^6 data files this metadata
    prune is the difference between a scan and a full listing."""
    os.makedirs(os.path.join(table_dir, "metadata"), exist_ok=True)
    sj = iceberg_schema(schema)
    by_name = {f["name"]: f for f in sj["fields"]}
    spec_fields = []
    for i, (col, transform) in enumerate(partition_spec or []):
        _parse_transform(transform)  # validate early
        if col not in by_name:
            raise ValueError(f"iceberg_meta: partition column {col!r} not in schema")
        spec_fields.append(
            {
                "name": _partition_field_name(col, transform),
                "transform": transform,
                "source-id": by_name[col]["id"],
                "field-id": 1000 + i,
            }
        )
    md = {
        "format-version": FORMAT_VERSION,
        "table-uuid": str(uuid.uuid5(uuid.NAMESPACE_URL, os.path.abspath(table_dir))),
        "location": os.path.abspath(table_dir),
        "last-sequence-number": 0,
        "last-updated-ms": ts_ms if ts_ms is not None else int(time.time() * 1000),
        "last-column-id": max(
            [f["id"] for f in sj["fields"]]
            + [
                f["type"].get("element-id", 0)
                for f in sj["fields"]
                if isinstance(f["type"], dict)
            ],
            default=0,
        ),
        "current-schema-id": 0,
        "schemas": [sj],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
        "last-partition-id": 999 + len(spec_fields),
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": properties or {},
        "current-snapshot-id": -1,
        "snapshots": [],
        "snapshot-log": [],
        "metadata-log": [],
    }
    _write_metadata_json(table_dir, md, 1)
    return md


def append_snapshot(
    table_dir: str,
    data_files: list,
    commit_key: str | None = None,
    ts_ms: int | None = None,
) -> int:
    """Commit ``data_files`` as a new append snapshot.

    Each entry is a parquet path, or ``(path, {column: raw_value})`` for
    a partitioned table — raw partition-column values are run through
    the spec's transforms to produce the manifest partition record.

    Idempotent when ``commit_key`` is given: if any existing snapshot's
    summary already carries it, the commit is skipped and that snapshot
    id is returned — a crashed-and-resumed wave cannot double-append its
    metrics. Returns the snapshot id.
    """
    md = read_table_metadata(table_dir)
    if commit_key is not None:
        for s in md["snapshots"]:
            if s.get("summary", {}).get("commit-key") == commit_key:
                return s["snapshot-id"]
    spec_id = md.get("default-spec-id", 0)
    part_fields = _spec_part_fields(md, spec_id)
    norm: list[tuple[str, dict]] = []
    for df in data_files:
        path, raw = (df, {}) if isinstance(df, str) else (df[0], dict(df[1]))
        missing = {pf["source-name"] for pf in part_fields} - set(raw)
        if missing:
            raise ValueError(
                "iceberg_meta: partitioned append needs (path, values) "
                f"covering {sorted(pf['source-name'] for pf in part_fields)}; "
                f"missing {sorted(missing)} for {path}"
            )
        part = {
            pf["name"]: _apply_transform(pf["transform"], raw[pf["source-name"]])
            for pf in part_fields
        }
        norm.append((path, part))
    norm.sort(key=lambda x: x[0])
    meta_dir = os.path.join(table_dir, "metadata")
    seq = md["last-sequence-number"] + 1
    snapshot_id = max([s["snapshot-id"] for s in md["snapshots"]], default=0) + 1
    ts = ts_ms if ts_ms is not None else int(time.time() * 1000)
    entries = [
        {
            "status": _STATUS_ADDED,
            "snapshot_id": snapshot_id,
            "sequence_number": seq,
            "file_sequence_number": seq,
            "data_file": _data_file_record(
                p,
                partition=part,
                schema_json=md["schemas"][md["current-schema-id"]],
            ),
        }
        for p, part in norm
    ]
    specs = {s["spec-id"]: s for s in md.get("partition-specs", [])}
    manifest = _write_manifest(
        meta_dir,
        entries,
        snapshot_id,
        seq,
        md["schemas"][md["current-schema-id"]],
        f"manifest-{snapshot_id}-{uuid.uuid5(uuid.NAMESPACE_URL, str([p for p, _ in norm])).hex[:8]}.avro",
        part_fields,
        specs[spec_id]["fields"],
    )
    # new manifest list = prior snapshot's manifests + the new one
    prior = _current_snapshot(md)
    manifests = (_read_manifest_list(prior) if prior else []) + [manifest]
    ml_path = os.path.join(meta_dir, f"snap-{snapshot_id}-manifest-list.avro")
    with open(ml_path, "wb") as f:
        f.write(
            write_ocf(
                _MANIFEST_FILE_SCHEMA,
                manifests,
                metadata={"format-version": str(FORMAT_VERSION)},
            )
        )
    snap = {
        "snapshot-id": snapshot_id,
        "sequence-number": seq,
        "timestamp-ms": ts,
        "manifest-list": ml_path,
        "summary": {
            "operation": "append",
            "added-data-files": str(len(data_files)),
            "added-records": str(
                sum(e["data_file"]["record_count"] for e in entries)
            ),
            **({"commit-key": commit_key} if commit_key is not None else {}),
        },
        "schema-id": md["current-schema-id"],
    }
    md["snapshots"].append(snap)
    md["current-snapshot-id"] = snapshot_id
    md["last-sequence-number"] = seq
    md["last-updated-ms"] = ts
    md["snapshot-log"].append({"timestamp-ms": ts, "snapshot-id": snapshot_id})
    version = _current_version(table_dir) + 1
    _write_metadata_json(table_dir, md, version)
    return snapshot_id


_ICEBERG_TO_SPARK = {
    "string": "string",
    "int": "int",
    "long": "bigint",
    "float": "float",
    "double": "double",
    "boolean": "boolean",
    "binary": "binary",
    "timestamp": "timestamp",
    "date": "date",
}


def iceberg_to_spark_ddl(md: dict) -> str:
    """Current Iceberg schema -> Spark DDL string. Reading data files
    under this EXPLICIT schema is what makes schema evolution work at
    scan time: columns added after a file was written come back null,
    dropped columns are simply not requested."""
    parts = []
    for f in md["schemas"][md["current-schema-id"]]["fields"]:
        t = f["type"]
        if isinstance(t, dict) and t.get("type") == "list":
            st = f"array<{_ICEBERG_TO_SPARK[t['element']]}>"
        else:
            st = _ICEBERG_TO_SPARK[t]
        parts.append(f"`{f['name']}` {st}")
    return ", ".join(parts)


def append_delete_snapshot(
    table_dir: str,
    deletes: list[tuple[str, int]],
    commit_key: str | None = None,
    ts_ms: int | None = None,
) -> int:
    """Commit positional deletes (Iceberg v2 merge-on-read): ``deletes``
    is ``[(data_file_path, row_position)]``. One delete parquet
    (columns ``file_path``/``pos``, the spec's reserved field ids
    2147483546/2147483545) is written under ``metadata/`` and committed
    through a ``content=1`` delete manifest; data manifests are carried
    forward untouched. Readers apply the deletes at scan time
    (``list_delete_entries`` → anti-join in ``iceberg.read_tokens_table``);
    a compaction commit by another Iceberg writer physically drops them.
    Idempotent per ``commit_key``."""
    import pyarrow.parquet as pq

    md = read_table_metadata(table_dir)
    if commit_key is not None:
        for s in md["snapshots"]:
            if s.get("summary", {}).get("commit-key") == commit_key:
                return s["snapshot-id"]
    prior = _current_snapshot(md)
    if prior is None:
        raise ValueError("iceberg_meta: delete on a table with no snapshot")
    live = {os.path.abspath(p) for p, _ in list_data_files(table_dir)}
    norm = sorted((os.path.abspath(p), int(pos)) for p, pos in deletes)
    missing = {p for p, _ in norm} - live
    if missing:
        raise ValueError(
            "iceberg_meta: deletes target files not live in the current "
            f"snapshot: {sorted(missing)[:3]}"
        )
    if not norm:
        raise ValueError("iceberg_meta: empty delete set")
    meta_dir = os.path.join(table_dir, "metadata")
    seq = md["last-sequence-number"] + 1
    snapshot_id = max([s["snapshot-id"] for s in md["snapshots"]], default=0) + 1
    ts = ts_ms if ts_ms is not None else int(time.time() * 1000)
    del_path = os.path.join(
        meta_dir,
        f"delete-{snapshot_id}-{uuid.uuid5(uuid.NAMESPACE_URL, str(norm)).hex[:8]}.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "file_path": pa.array([p for p, _ in norm], pa.string()),
                "pos": pa.array([pos for _, pos in norm], pa.int64()),
            }
        ),
        del_path,
    )
    spec_id = md.get("default-spec-id", 0)
    part_fields = _spec_part_fields(md, spec_id)
    specs = {s["spec-id"]: s for s in md.get("partition-specs", [])}
    entry = {
        "status": _STATUS_ADDED,
        "snapshot_id": snapshot_id,
        "sequence_number": seq,
        "file_sequence_number": seq,
        "data_file": {
            "content": 1,  # positional deletes
            "file_path": del_path,
            "file_format": "PARQUET",
            "partition": {pf["name"]: None for pf in part_fields},
            "record_count": len(norm),
            "file_size_in_bytes": os.path.getsize(del_path),
            "value_counts": None,
            "null_value_counts": None,
            "lower_bounds": None,
            "upper_bounds": None,
        },
    }
    manifest = _write_manifest(
        meta_dir,
        [entry],
        snapshot_id,
        seq,
        md["schemas"][md["current-schema-id"]],
        f"manifest-{snapshot_id}-del.avro",
        part_fields,
        specs[spec_id]["fields"],
    )
    manifest["content"] = 1  # delete manifest
    manifests = _read_manifest_list(prior) + [manifest]
    ml_path = os.path.join(meta_dir, f"snap-{snapshot_id}-manifest-list.avro")
    with open(ml_path, "wb") as f:
        f.write(
            write_ocf(
                _MANIFEST_FILE_SCHEMA,
                manifests,
                metadata={"format-version": str(FORMAT_VERSION)},
            )
        )
    snap = {
        "snapshot-id": snapshot_id,
        "sequence-number": seq,
        "timestamp-ms": ts,
        "manifest-list": ml_path,
        "summary": {
            "operation": "delete",
            "added-delete-files": "1",
            "added-position-deletes": str(len(norm)),
            **({"commit-key": commit_key} if commit_key is not None else {}),
        },
        "schema-id": md["current-schema-id"],
    }
    md["snapshots"].append(snap)
    md["current-snapshot-id"] = snapshot_id
    md["last-sequence-number"] = seq
    md["last-updated-ms"] = ts
    md["snapshot-log"].append({"timestamp-ms": ts, "snapshot-id": snapshot_id})
    _write_metadata_json(table_dir, md, _current_version(table_dir) + 1)
    return snapshot_id


def list_delete_entries(
    table_dir: str, snapshot_id: int | None = None
) -> list[tuple[str, int]]:
    """Live positional-delete entries ``(data_file_path, pos)`` of the
    current (or pinned) snapshot, resolved through ``content=1``
    manifests. Deletes whose target file is no longer live (compacted
    away) are dropped — the compaction both applied and retired them."""
    import pyarrow.parquet as pq

    md = read_table_metadata(table_dir)
    snap = _current_snapshot(md, snapshot_id)
    if snap is None:
        return []
    live = {p for p, _ in list_data_files(table_dir, snapshot_id)}
    out: list[tuple[str, int]] = []
    for mf in _read_manifest_list(snap):
        if mf.get("content") != 1:
            continue
        with open(mf["manifest_path"], "rb") as f:
            entries, _, _ = read_ocf(f.read())
        for e in entries:
            if e["status"] == _STATUS_DELETED:
                continue
            if e["data_file"].get("content") != 1:
                continue  # equality deletes: list_equality_delete_entries
            t = pq.read_table(e["data_file"]["file_path"])
            for p, pos in zip(
                t.column("file_path").to_pylist(), t.column("pos").to_pylist()
            ):
                if p in live:
                    out.append((p, pos))
    return sorted(set(out))


# Iceberg primitive types an equality delete may match on. Floats are
# deliberately absent (the spec warns against float equality; NaN/-0.0
# make "equals" ill-defined), as are nested types.
_EQ_DELETE_ARROW = {
    "string": pa.string,
    "int": pa.int32,
    "long": pa.int64,
    "date": pa.date32,
    "boolean": pa.bool_,
}


def append_equality_delete_snapshot(
    table_dir: str,
    rows: list[dict],
    equality_cols: list[str],
    commit_key: str | None = None,
    ts_ms: int | None = None,
) -> int:
    """Commit equality deletes (Iceberg v2 merge-on-read, ``content=2``):
    each row of ``rows`` maps every name in ``equality_cols`` to a value
    (``None`` matches null), and deletes ALL data rows with those values
    in data files whose sequence number is STRICTLY LESS than this
    delete's — rows (re-)added after the delete survive, which is what
    makes upserts expressible without rewriting data. One delete parquet
    holding just the equality columns is committed through a delete
    manifest whose entry carries ``equality_ids`` (the matched schema
    field ids). Readers apply it as a broadcast null-safe anti-join
    (``iceberg.read_tokens_table``); float/nested columns are refused.
    Idempotent per ``commit_key``."""
    import pyarrow.parquet as pq

    md = read_table_metadata(table_dir)
    if commit_key is not None:
        for s in md["snapshots"]:
            if s.get("summary", {}).get("commit-key") == commit_key:
                return s["snapshot-id"]
    prior = _current_snapshot(md)
    if prior is None:
        raise ValueError("iceberg_meta: equality delete on a table with no snapshot")
    if not rows:
        raise ValueError("iceberg_meta: empty equality-delete set")
    if not equality_cols:
        raise ValueError("iceberg_meta: equality_cols must be non-empty")
    schema = md["schemas"][md["current-schema-id"]]
    by_name = {f["name"]: f for f in schema["fields"]}
    field_ids: list[int] = []
    col_types: dict[str, str] = {}
    for col in equality_cols:
        f = by_name.get(col)
        if f is None:
            raise ValueError(
                f"iceberg_meta: equality column {col!r} not in the current "
                f"schema (has {sorted(by_name)})"
            )
        t = f["type"]
        if not isinstance(t, str) or t not in _EQ_DELETE_ARROW:
            raise ValueError(
                f"iceberg_meta: equality delete on column {col!r} of type "
                f"{t!r} unsupported (allowed: {sorted(_EQ_DELETE_ARROW)})"
            )
        field_ids.append(f["id"])
        col_types[col] = t
    for r in rows:
        missing = set(equality_cols) - set(r)
        if missing:
            raise ValueError(
                f"iceberg_meta: delete row {r!r} missing equality column(s) "
                f"{sorted(missing)}"
            )
    norm = sorted(
        (tuple(r[c] for c in equality_cols) for r in rows), key=repr
    )
    meta_dir = os.path.join(table_dir, "metadata")
    seq = md["last-sequence-number"] + 1
    snapshot_id = max([s["snapshot-id"] for s in md["snapshots"]], default=0) + 1
    ts = ts_ms if ts_ms is not None else int(time.time() * 1000)
    del_path = os.path.join(
        meta_dir,
        f"eqdelete-{snapshot_id}-"
        f"{uuid.uuid5(uuid.NAMESPACE_URL, repr((equality_cols, norm))).hex[:8]}.parquet",
    )
    pq.write_table(
        pa.table(
            {
                c: pa.array(
                    [v[i] for v in norm], _EQ_DELETE_ARROW[col_types[c]]()
                )
                for i, c in enumerate(equality_cols)
            }
        ),
        del_path,
    )
    spec_id = md.get("default-spec-id", 0)
    part_fields = _spec_part_fields(md, spec_id)
    specs = {s["spec-id"]: s for s in md.get("partition-specs", [])}
    entry = {
        "status": _STATUS_ADDED,
        "snapshot_id": snapshot_id,
        "sequence_number": seq,
        "file_sequence_number": seq,
        "data_file": {
            "content": 2,  # equality deletes
            "file_path": del_path,
            "file_format": "PARQUET",
            "partition": {pf["name"]: None for pf in part_fields},
            "record_count": len(norm),
            "file_size_in_bytes": os.path.getsize(del_path),
            "value_counts": None,
            "null_value_counts": None,
            "lower_bounds": None,
            "upper_bounds": None,
            "equality_ids": field_ids,
        },
    }
    manifest = _write_manifest(
        meta_dir,
        [entry],
        snapshot_id,
        seq,
        schema,
        f"manifest-{snapshot_id}-eqdel.avro",
        part_fields,
        specs[spec_id]["fields"],
    )
    manifest["content"] = 1  # delete manifest
    manifests = _read_manifest_list(prior) + [manifest]
    ml_path = os.path.join(meta_dir, f"snap-{snapshot_id}-manifest-list.avro")
    with open(ml_path, "wb") as f:
        f.write(
            write_ocf(
                _MANIFEST_FILE_SCHEMA,
                manifests,
                metadata={"format-version": str(FORMAT_VERSION)},
            )
        )
    snap = {
        "snapshot-id": snapshot_id,
        "sequence-number": seq,
        "timestamp-ms": ts,
        "manifest-list": ml_path,
        "summary": {
            "operation": "delete",
            "added-delete-files": "1",
            "added-equality-deletes": str(len(norm)),
            **({"commit-key": commit_key} if commit_key is not None else {}),
        },
        "schema-id": md["current-schema-id"],
    }
    md["snapshots"].append(snap)
    md["current-snapshot-id"] = snapshot_id
    md["last-sequence-number"] = seq
    md["last-updated-ms"] = ts
    md["snapshot-log"].append({"timestamp-ms": ts, "snapshot-id": snapshot_id})
    _write_metadata_json(table_dir, md, _current_version(table_dir) + 1)
    return snapshot_id


def list_data_file_seqs(
    table_dir: str, snapshot_id: int | None = None
) -> dict[str, int]:
    """Live data files of the current (or pinned) snapshot mapped to
    their data sequence number — the quantity the equality-delete rule
    compares against (delete applies iff file seq < delete seq)."""
    md = read_table_metadata(table_dir)
    snap = _current_snapshot(md, snapshot_id)
    if snap is None:
        return {}
    out: dict[str, int] = {}
    for mf in _read_manifest_list(snap):
        if mf.get("content") == 1:
            continue
        with open(mf["manifest_path"], "rb") as f:
            entries, _, _ = read_ocf(f.read())
        for e in entries:
            if e["status"] == _STATUS_DELETED:
                continue
            seq = e.get("sequence_number")
            out[e["data_file"]["file_path"]] = (
                int(seq) if seq is not None else int(mf["sequence_number"])
            )
    return out


def list_equality_delete_entries(
    table_dir: str, snapshot_id: int | None = None
) -> list[dict]:
    """Live, still-applicable equality-delete files of the current (or
    pinned) snapshot: ``[{"path", "cols", "seq"}]`` sorted by (seq,
    path). Field ids are resolved against the CURRENT schema — a delete
    matching a since-dropped column cannot be applied and raises rather
    than silently resurrecting rows. Entries whose sequence number is <=
    every live data file's (so they can match nothing — e.g. after a
    rewrite re-sequenced all data) are retired from the listing."""
    md = read_table_metadata(table_dir)
    snap = _current_snapshot(md, snapshot_id)
    if snap is None:
        return []
    by_id = {
        f["id"]: f["name"]
        for f in md["schemas"][md["current-schema-id"]]["fields"]
    }
    seqs = list_data_file_seqs(table_dir, snapshot_id)
    min_seq = min(seqs.values(), default=None)
    out: list[dict] = []
    for mf in _read_manifest_list(snap):
        if mf.get("content") != 1:
            continue
        with open(mf["manifest_path"], "rb") as f:
            entries, _, _ = read_ocf(f.read())
        for e in entries:
            if e["status"] == _STATUS_DELETED:
                continue
            df = e["data_file"]
            if df.get("content") != 2:
                continue
            ids = df.get("equality_ids") or []
            dropped = [i for i in ids if i not in by_id]
            if dropped:
                raise ValueError(
                    f"iceberg_meta: equality delete {df['file_path']} "
                    f"matches on dropped field id(s) {dropped}; it cannot "
                    "be applied under the current schema"
                )
            seq = e.get("sequence_number")
            seq = int(seq) if seq is not None else int(mf["sequence_number"])
            if min_seq is None or seq <= min_seq:
                continue  # applies to no live data file
            out.append(
                {
                    "path": df["file_path"],
                    "cols": [by_id[i] for i in ids],
                    "seq": seq,
                }
            )
    out.sort(key=lambda d: (d["seq"], d["path"]))
    return out


# ------------------------------------------------------------------ read


def _current_version(table_dir: str) -> int:
    hint = os.path.join(table_dir, "metadata", "version-hint.text")
    try:
        with open(hint) as f:
            return int(f.read().strip())
    except FileNotFoundError:
        versions = [
            int(n[1:].split(".")[0])
            for n in os.listdir(os.path.join(table_dir, "metadata"))
            if n.startswith("v") and n.endswith(".metadata.json")
        ]
        if not versions:
            raise FileNotFoundError(
                f"iceberg_meta: no metadata json under {table_dir}/metadata"
            ) from None
        return max(versions)


def is_iceberg_table(path: str) -> bool:
    """True when ``path`` holds an Iceberg metadata directory."""
    try:
        return os.path.isdir(os.path.join(path, "metadata")) and any(
            n.endswith(".metadata.json")
            for n in os.listdir(os.path.join(path, "metadata"))
        )
    except OSError:
        return False


def read_table_metadata(table_dir: str) -> dict:
    version = _current_version(table_dir)
    path = os.path.join(table_dir, "metadata", f"v{version}.metadata.json")
    with open(path) as f:
        md = json.load(f)
    if md.get("format-version") not in (1, 2):
        raise ValueError(
            f"iceberg_meta: unsupported format-version {md.get('format-version')}"
        )
    return md


def _current_snapshot(md: dict, snapshot_id: int | None = None) -> dict | None:
    sid = snapshot_id if snapshot_id is not None else md.get("current-snapshot-id")
    if sid is None or sid == -1:
        return None
    for s in md["snapshots"]:
        if s["snapshot-id"] == sid:
            return s
    raise ValueError(f"iceberg_meta: snapshot {sid} not found")


def _read_manifest_list(snapshot: dict) -> list[dict]:
    with open(snapshot["manifest-list"], "rb") as f:
        records, _, _ = read_ocf(f.read())
    return records


def _kv_dict(maybe_list) -> dict:
    return {e["key"]: e["value"] for e in maybe_list} if maybe_list else {}


_ICEBERG_OPS = {
    "=": "==", "<": "<", "<=": "<=", ">": ">", ">=": ">=",
    "is_null": "isnull", "not_null": "notnull",
}


def _file_matches_predicates(
    df: dict, preds: list[tuple[str, str, object]], fields: dict
) -> bool:
    """min/max + null-count file skipping (Iceberg 'metrics evaluation')
    through the one stats evaluator (orc_format_spark.predicate): True
    when the file MIGHT contain matching rows. Missing stats never
    prune — absence of evidence keeps the file."""
    from ..predicate import Stats, may_match, normalize

    vc = _kv_dict(df.get("value_counts"))
    nc = _kv_dict(df.get("null_value_counts"))
    lob = _kv_dict(df.get("lower_bounds"))
    upb = _kv_dict(df.get("upper_bounds"))
    for col, op, _val in preds:
        if col not in fields:
            raise ValueError(f"iceberg_meta: predicate column {col!r} not in schema")
        if op not in _ICEBERG_OPS:
            raise ValueError(f"iceberg_meta: unsupported predicate op {op!r}")

    def view(col):
        fid, itype = fields[col]
        return Stats(
            _deserialize_col_bound(itype, lob.get(fid)),
            _deserialize_col_bound(itype, upb.get(fid)),
            nc[fid] > 0 if fid in nc else None,
            # value_counts include nulls: the non-null count
            vc[fid] - nc[fid] if fid in vc and fid in nc else None,
        )

    tree = normalize([(col, _ICEBERG_OPS[op], v) for col, op, v in preds])
    return may_match(tree, view)


def list_data_files(
    table_dir: str,
    snapshot_id: int | None = None,
    partition_filter: dict | None = None,
    scan_stats: dict | None = None,
    column_predicates: list[tuple[str, str, object]] | None = None,
) -> list[tuple[str, int]]:
    """Live (file_path, record_count) pairs of the current — or pinned —
    snapshot, via manifest-list -> manifests. Deleted entries dropped.

    ``partition_filter`` maps partition SOURCE column names to equality
    values; pruning is two-level, mirroring a real Iceberg scan:

    1. manifest level — each manifest_file carries per-partition-field
       bounds (field summaries); a manifest whose [lower, upper] range
       excludes the transformed filter value is skipped WITHOUT opening
       its Avro. At 10^6 data files this keeps a single-partition scan's
       metadata I/O proportional to the matching manifests, not the
       table.
    2. file level — surviving manifests' entries are matched on their
       partition record values.

    ``column_predicates`` — ``[(column, op, value)]`` with op in
    ``= < <= > >= is_null not_null`` — additionally skips files whose
    manifest-recorded column bounds / null counts prove no row can
    match (Iceberg metrics evaluation; sound, not complete: files
    without stats are kept).

    ``scan_stats`` (optional dict) receives ``manifests_total`` /
    ``manifests_opened`` / ``files_matched`` so callers (and tests) can
    assert the prune actually skipped metadata."""
    md = read_table_metadata(table_dir)
    snap = _current_snapshot(md, snapshot_id)
    stats = scan_stats if scan_stats is not None else {}
    stats.update(manifests_total=0, manifests_opened=0, files_matched=0)
    if snap is None:
        return []
    want: dict[str, object] = {}
    if partition_filter:
        part_fields = _spec_part_fields(md, md.get("default-spec-id", 0))
        by_src = {pf["source-name"]: pf for pf in part_fields}
        for col, val in partition_filter.items():
            if col not in by_src:
                raise ValueError(
                    f"iceberg_meta: {col!r} is not a partition source column "
                    f"(spec has {sorted(by_src)})"
                )
            pf = by_src[col]
            want[pf["name"]] = (pf, _apply_transform(pf["transform"], val))
    preds = column_predicates or []
    pred_fields: dict[str, tuple[int, str]] = {}
    if preds:
        schema = md["schemas"][md["current-schema-id"]]
        pred_fields = {
            f["name"]: (f["id"], f["type"])
            for f in schema["fields"]
            if isinstance(f["type"], str)
        }
    out: list[tuple[str, int]] = []
    for mf in _read_manifest_list(snap):
        if mf.get("content") == 1:
            continue  # delete manifest: not data (see list_delete_entries)
        stats["manifests_total"] += 1
        summaries = mf.get("partitions")
        if want and summaries:
            # summaries are ordered like the spec fields
            md_fields = _spec_part_fields(md, mf.get("partition_spec_id", 0))
            skip = False
            for pf, s in zip(md_fields, summaries):
                if pf["name"] not in want:
                    continue
                _, tv = want[pf["name"]]
                if tv is None:
                    if not s["contains_null"]:
                        skip = True
                        break
                    continue
                lo = _deserialize_bound(pf["ptype"], s["lower_bound"])
                hi = _deserialize_bound(pf["ptype"], s["upper_bound"])
                if lo is None or tv < lo or tv > hi:
                    skip = True
                    break
            if skip:
                continue
        stats["manifests_opened"] += 1
        with open(mf["manifest_path"], "rb") as f:
            entries, _, _ = read_ocf(f.read())
        for e in entries:
            if e["status"] == _STATUS_DELETED:
                continue
            df = e["data_file"]
            if want and any(
                df["partition"].get(name) != tv for name, (_, tv) in want.items()
            ):
                continue
            if preds and not _file_matches_predicates(df, preds, pred_fields):
                continue
            stats["files_matched"] += 1
            out.append((df["file_path"], df["record_count"]))
    return out


def snapshot_sequence_number(table_dir: str, snapshot_id: int) -> int:
    """Sequence number of a (possibly expired-from-current) snapshot id;
    raises if the id was never committed."""
    md = read_table_metadata(table_dir)
    for s in md["snapshots"]:
        if s["snapshot-id"] == snapshot_id:
            return int(s["sequence-number"])
    raise ValueError(
        f"iceberg_meta: unknown snapshot id {snapshot_id} "
        f"(table has {[s['snapshot-id'] for s in md['snapshots']]})"
    )


def list_iceberg_splits_meta(
    table_dir: str,
    snapshot_id: int | None = None,
    partition_filter: dict | None = None,
    column_predicates: list[tuple[str, str, object]] | None = None,
    since_snapshot_id: int | None = None,
) -> list[tuple[int, str, int]]:
    """Deterministic (split_id, file, row_group) list from the manifest —
    the Iceberg twin of ``list_parquet_splits`` (same sort, same
    explosion), no JVM involved. ``partition_filter`` prunes manifests
    and files, and ``column_predicates`` skips files via manifest column
    bounds, before any parquet footer is touched.

    ``since_snapshot_id`` makes the scan INCREMENTAL: only data files
    with sequence number strictly greater than that snapshot's are
    returned — the daily-append shape at 10^12 rows, where each encode
    run processes the delta since its last committed watermark instead
    of replanning the whole table. Metadata cost stays O(current
    manifests); rewritten (compacted) files get fresh sequence numbers
    and are correctly re-encoded."""
    import pyarrow.parquet as pq

    files = sorted(
        p
        for p, _ in list_data_files(
            table_dir,
            snapshot_id,
            partition_filter=partition_filter,
            column_predicates=column_predicates,
        )
    )
    if since_snapshot_id is not None:
        since_seq = snapshot_sequence_number(table_dir, since_snapshot_id)
        seqs = list_data_file_seqs(table_dir, snapshot_id)
        files = [f for f in files if seqs.get(f, 0) > since_seq]
    dirty = {p for p, _ in list_delete_entries(table_dir, snapshot_id)} & set(files)
    if dirty:
        raise ValueError(
            f"iceberg_meta: {len(dirty)} selected data file(s) carry live "
            "positional deletes; split-encode reads raw row groups and "
            "would resurrect deleted rows. Read the table "
            "via read_tokens_table (merge-on-read) instead."
        )
    eqs = list_equality_delete_entries(table_dir, snapshot_id)
    if eqs:
        seqs = list_data_file_seqs(table_dir, snapshot_id)
        max_del = max(e["seq"] for e in eqs)
        hit = [f for f in files if seqs.get(f, 0) < max_del]
        if hit:
            raise ValueError(
                f"iceberg_meta: {len(hit)} selected data file(s) predate a "
                "live equality delete; split-encode reads raw row groups "
                "and would resurrect deleted rows. Read the table "
                "via read_tokens_table (merge-on-read) instead."
            )
    out: list[tuple[int, str, int]] = []
    sid = 0
    for f in files:
        local = local_path(f)
        for rg in range(pq.ParquetFile(local).metadata.num_row_groups):
            out.append((sid, local, rg))
            sid += 1
    return out
