"""Cross-validation of the Iceberg v2 metadata our writer commits, by an
INDEPENDENT reader.

No third-party Iceberg reader is installable in this sandbox (pyiceberg /
fastavro absent; DuckDB's iceberg extension needs network), so this file
implements its own minimal Avro OCF decoder + snapshot walk directly from
the public specs — Avro 1.11 "Object Container Files" / binary encoding
(https://avro.apache.org/docs/1.11.1/specification/) and the Iceberg
table spec (https://iceberg.apache.org/spec/) — sharing ZERO code with
``orc_format_spark.sources.avro_ocf`` / ``iceberg_meta`` (different
decoding style: stream-offset cursor instead of BytesIO; schema walk by
recursion over the embedded writer schema). If our writer drifted from
the public formats, the two implementations would disagree here.
"""

from __future__ import annotations

import json
import os
import struct
import zlib

import pyarrow as pa
import pytest

from orc_format_spark.sources import iceberg_meta as im
from tests.iceberg_fixtures import replace_files


# --------------------------------------------------- independent decoder


class _Cur:
    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def take(self, n: int) -> bytes:
        if self.pos + n > len(self.buf):
            raise EOFError(f"need {n} bytes at {self.pos}")
        out = self.buf[self.pos : self.pos + n]
        self.pos += n
        return out


def _zigzag_long(cur: _Cur) -> int:
    # Avro spec: variable-length zig-zag (protobuf-style)
    shift = 0
    acc = 0
    while True:
        (b,) = struct.unpack("B", cur.take(1))
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1)


def _decode(cur: _Cur, schema) -> object:
    """Schema-directed Avro binary decode (spec §Binary Encoding)."""
    if isinstance(schema, str):
        kind = schema
    elif isinstance(schema, list):  # union: long index, then that branch
        idx = _zigzag_long(cur)
        return _decode(cur, schema[idx])
    else:
        kind = schema["type"]
    if kind == "null":
        return None
    if kind == "boolean":
        return cur.take(1) == b"\x01"
    if kind in ("int", "long"):
        return _zigzag_long(cur)
    if kind == "float":
        return struct.unpack("<f", cur.take(4))[0]
    if kind == "double":
        return struct.unpack("<d", cur.take(8))[0]
    if kind == "bytes":
        return cur.take(_zigzag_long(cur))
    if kind == "string":
        return cur.take(_zigzag_long(cur)).decode("utf-8")
    if kind == "fixed":
        return cur.take(schema["size"])
    if kind == "record":
        return {f["name"]: _decode(cur, f["type"]) for f in schema["fields"]}
    if kind == "array":
        out = []
        while True:
            n = _zigzag_long(cur)
            if n == 0:
                break
            if n < 0:  # negative count: a block byte-size precedes items
                _zigzag_long(cur)
                n = -n
            for _ in range(n):
                out.append(_decode(cur, schema["items"]))
        return out
    if kind == "map":
        out = {}
        while True:
            n = _zigzag_long(cur)
            if n == 0:
                break
            if n < 0:
                _zigzag_long(cur)
                n = -n
            for _ in range(n):
                k = cur.take(_zigzag_long(cur)).decode("utf-8")
                out[k] = _decode(cur, schema["values"])
        return out
    raise ValueError(f"independent reader: unsupported Avro type {kind!r}")


def _read_avro_ocf(path: str) -> tuple[list, dict]:
    """(records, file metadata) of a single- or multi-block OCF."""
    with open(path, "rb") as f:
        cur = _Cur(f.read())
    assert cur.take(4) == b"Obj\x01", "bad OCF magic"
    meta = _decode(cur, {"type": "map", "values": "bytes"})
    sync = cur.take(16)
    schema = json.loads(meta["avro.schema"].decode("utf-8"))
    codec = meta.get("avro.codec", b"null").decode()
    records = []
    while cur.pos < len(cur.buf):
        count = _zigzag_long(cur)
        payload = cur.take(_zigzag_long(cur))
        if codec == "deflate":  # raw DEFLATE, no zlib header (spec)
            payload = zlib.decompress(payload, wbits=-15)
        elif codec != "null":
            raise ValueError(f"unsupported codec {codec}")
        body = _Cur(payload)
        for _ in range(count):
            records.append(_decode(body, schema))
        assert cur.take(16) == sync, "block sync mismatch"
    return records, meta


def _walk_table(table_dir: str) -> dict[str, dict]:
    """Independent snapshot walk: version-hint -> vN.metadata.json ->
    current snapshot -> manifest list -> manifests -> live data files.
    Returns {file_path: {"records": n, "status": s, "content": c}}."""
    meta_dir = os.path.join(table_dir, "metadata")
    with open(os.path.join(meta_dir, "version-hint.text")) as f:
        version = int(f.read().strip())
    with open(os.path.join(meta_dir, f"v{version}.metadata.json")) as f:
        md = json.load(f)
    assert md["format-version"] == 2
    snap = next(
        s for s in md["snapshots"]
        if s["snapshot-id"] == md["current-snapshot-id"]
    )
    manifests, _ = _read_avro_ocf(snap["manifest-list"])
    live: dict[str, dict] = {}
    for mf in manifests:
        entries, _ = _read_avro_ocf(mf["manifest_path"])
        for e in entries:
            df = e["data_file"]
            if e["status"] == 2:  # DELETED
                live.pop(df["file_path"], None)
                continue
            live[df["file_path"]] = {
                "records": df["record_count"],
                "status": e["status"],
                "content": df["content"],
            }
    return live


# --------------------------------------------------------------- fixtures


def _tokens_file(path: str, start: int, n: int) -> str:
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "doc_id": pa.array([f"d{i}" for i in range(start, start + n)]),
            "tokens": pa.array(
                [[i % 7, i % 5] for i in range(start, start + n)],
                pa.list_(pa.int32()),
            ),
            "n_tok": pa.array([2] * n, pa.int32()),
            "source": pa.array(["s"] * n),
        }
    )
    pq.write_table(tbl, path)
    return path


TOKENS_PA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("tokens", pa.list_(pa.int32())),
        ("n_tok", pa.int32()),
        ("source", pa.string()),
    ]
)


# ------------------------------------------------------------------ tests


def test_independent_reader_agrees_with_engine(tmp_path):
    """Appends + a compaction commit (a DELETED entry): the independent
    spec-derived walk must see exactly the live files (and record
    counts) the engine reports."""
    f1 = _tokens_file(str(tmp_path / "a.parquet"), 0, 100)
    f2 = _tokens_file(str(tmp_path / "b.parquet"), 100, 60)
    f3 = _tokens_file(str(tmp_path / "c.parquet"), 160, 40)
    tdir = str(tmp_path / "tbl")
    im.create_table(tdir, TOKENS_PA, ts_ms=1_000)
    im.append_snapshot(tdir, [f1], commit_key="w0", ts_ms=2_000)
    im.append_snapshot(tdir, [f2], commit_key="w1", ts_ms=3_000)
    replace_files(tdir, [f1], [f3], ts_ms=4_000)

    live = _walk_table(tdir)
    data = {p: v for p, v in live.items() if v["content"] == 0}
    engine = dict(im.list_data_files(tdir))
    assert {p: v["records"] for p, v in data.items()} == engine
    assert sorted(engine) == sorted([f2, f3])


def test_independent_reader_sees_partition_values(tmp_path):
    """Partitioned commit: the partition record (r102, spec field-id
    1000+) decodes independently with the committed raw values."""
    f1 = _tokens_file(str(tmp_path / "a.parquet"), 0, 10)
    f2 = _tokens_file(str(tmp_path / "b.parquet"), 10, 10)
    tdir = str(tmp_path / "tbl")
    im.create_table(
        tdir,
        TOKENS_PA,
        ts_ms=1_000,
        partition_spec=[("source", "identity")],
    )
    im.append_snapshot(
        tdir, [(f1, {"source": "web"}), (f2, {"source": "code"})], ts_ms=2_000
    )
    meta_dir = os.path.join(tdir, "metadata")
    with open(os.path.join(meta_dir, "version-hint.text")) as f:
        version = int(f.read().strip())
    with open(os.path.join(meta_dir, f"v{version}.metadata.json")) as f:
        md = json.load(f)
    snap = md["snapshots"][-1]
    manifests, _ = _read_avro_ocf(snap["manifest-list"])
    parts = {}
    for mf in manifests:
        for e in _read_avro_ocf(mf["manifest_path"])[0]:
            parts[e["data_file"]["file_path"]] = e["data_file"]["partition"]
    assert parts[f1] == {"source": "web"}
    assert parts[f2] == {"source": "code"}


def test_independent_reader_rejects_corruption(tmp_path):
    """A flipped sync marker must fail the walk loudly — the decoder is
    a real format check, not a permissive scan."""
    f1 = _tokens_file(str(tmp_path / "a.parquet"), 0, 10)
    tdir = str(tmp_path / "tbl")
    im.create_table(tdir, TOKENS_PA, ts_ms=1_000)
    im.append_snapshot(tdir, [f1], ts_ms=2_000)
    md = im.read_table_metadata(tdir)
    ml = next(
        s for s in md["snapshots"]
        if s["snapshot-id"] == md["current-snapshot-id"]
    )["manifest-list"]
    blob = bytearray(open(ml, "rb").read())
    blob[-1] ^= 0xFF  # corrupt the trailing block sync
    with open(ml, "wb") as f:
        f.write(bytes(blob))
    with pytest.raises((AssertionError, EOFError, ValueError)):
        _walk_table(tdir)
