"""Pure-Python Iceberg metadata layer: Avro OCF codec, table commits,
manifest-driven split listing, and the metrics-Iceberg wave commits.

These tests exercise the REAL manifest path end-to-end (round-2 verdict
item: the catalog jar is absent, so the path-addressed pure-Python route
is the one that must carry the Iceberg contract)."""

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from orc_format_spark.sources import avro_ocf, iceberg, iceberg_meta as im

TOKENS_PA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("tokens", pa.list_(pa.int32())),
        ("n_tok", pa.int32()),
        ("source", pa.string()),
    ]
)


def _tokens_file(path, start, n, rg=50):
    t = pa.table(
        {
            "doc_id": [f"d{start + i:05d}" for i in range(n)],
            "tokens": [[i, i + 1, i + 2] for i in range(n)],
            "n_tok": pa.array([3] * n, pa.int32()),
            "source": ["web"] * n,
        },
        schema=TOKENS_PA,
    )
    pq.write_table(t, path, row_group_size=rg)
    return path


# ------------------------------------------------------------------ avro


def test_avro_roundtrip_all_types():
    schema = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "l", "type": "long"},
            {"name": "i", "type": "int"},
            {"name": "u", "type": ["null", "string"]},
            {"name": "a", "type": {"type": "array", "items": "long"}},
            {"name": "m", "type": {"type": "map", "values": "bytes"}},
            {"name": "b", "type": "boolean"},
            {"name": "d", "type": "double"},
            {"name": "f", "type": "float"},
            {"name": "x", "type": {"type": "fixed", "name": "x16", "size": 2}},
            {"name": "e", "type": {"type": "enum", "name": "col", "symbols": ["R", "G"]}},
        ],
    }
    recs = [
        {
            "l": -(2**62),
            "i": -1,
            "u": None,
            "a": [0, 1, -1],
            "m": {"k": b"\x00\xff"},
            "b": True,
            "d": -2.5,
            "f": 0.5,
            "x": b"ab",
            "e": "G",
        },
        {
            "l": 2**62,
            "i": 7,
            "u": "héllo",
            "a": [],
            "m": {},
            "b": False,
            "d": 0.0,
            "f": -1.5,
            "x": b"zz",
            "e": "R",
        },
    ]
    for codec in ("null", "deflate"):
        blob = avro_ocf.write_ocf(schema, recs, codec=codec)
        out, s2, meta = avro_ocf.read_ocf(blob)
        assert out == recs
        assert s2 == schema
        assert meta["avro.codec"] == codec.encode()
    # deterministic bytes (fixed sync marker) -> exact resume property
    assert avro_ocf.write_ocf(schema, recs) == avro_ocf.write_ocf(schema, recs)


def test_avro_golden_header_bytes():
    """Hand-derived golden vector for the OCF layout (Avro 1.11 spec):
    magic, metadata map block, sync, then (count, size, payload, sync)."""
    schema = "long"
    blob = avro_ocf.write_ocf(schema, [1, -2], codec="null")
    assert blob[:4] == b"Obj\x01"
    # metadata map: 1 block of 2 entries, then zero terminator
    # entries sorted by insertion: avro.schema="long" (json: "long"),
    # avro.codec=null
    body = blob[4:]
    assert body[0] == 4  # map block: zigzag(2 entries)
    # tail: block count 2 (zigzag -> 0x04), byte size 2 (0x04), payload
    # zigzag(1)=0x02 zigzag(-2)=0x03, then the 16-byte (all-zero) sync
    assert blob[-20:] == b"\x04\x04\x02\x03" + b"\x00" * 16
    out, _, _ = avro_ocf.read_ocf(blob)
    assert out == [1, -2]


def test_avro_errors():
    with pytest.raises(ValueError, match="magic"):
        avro_ocf.read_ocf(b"PAR1xxxx")
    blob = avro_ocf.write_ocf("long", [1, 2, 3])
    with pytest.raises(ValueError):
        avro_ocf.read_ocf(blob[:-10])  # truncated block
    with pytest.raises(ValueError, match="codec"):
        avro_ocf.write_ocf("long", [1], codec="snappy")


# --------------------------------------------------------------- iceberg


@pytest.mark.parametrize("uri", ["file:/tmp/x", "file:///tmp/x", "/tmp/x"])
def test_local_path_strips_either_file_scheme(uri):
    assert im.local_path(uri) == "/tmp/x"


def test_create_append_read(tmp_path):
    f1 = _tokens_file(str(tmp_path / "a.parquet"), 0, 100)
    f2 = _tokens_file(str(tmp_path / "b.parquet"), 100, 60)
    tdir = str(tmp_path / "tbl")
    im.create_table(tdir, TOKENS_PA, ts_ms=1_000)
    assert im.is_iceberg_table(tdir)
    assert im.list_data_files(tdir) == []  # pre-first-snapshot: empty
    s1 = im.append_snapshot(tdir, [f1], commit_key="w0", ts_ms=2_000)
    s2 = im.append_snapshot(tdir, [f2], commit_key="w1", ts_ms=3_000)
    files = im.list_data_files(tdir)
    assert sorted(p for p, _ in files) == sorted([f1, f2])
    assert dict(files)[f1] == 100 and dict(files)[f2] == 60
    # snapshot pinning: s1 sees only f1 (manifests are immutable)
    assert [p for p, _ in im.list_data_files(tdir, snapshot_id=s1)] == [f1]
    # idempotent per commit_key: the exactly-once wave-commit contract
    assert im.append_snapshot(tdir, [f2], commit_key="w1") == s2
    md = im.read_table_metadata(tdir)
    assert md["current-snapshot-id"] == s2
    assert len(md["snapshots"]) == 2
    assert md["format-version"] == 2
    # schema carries iceberg field ids incl. the list element id
    sj = md["schemas"][0]
    assert [f["name"] for f in sj["fields"]] == [
        "doc_id",
        "tokens",
        "n_tok",
        "source",
    ]
    assert sj["fields"][1]["type"]["type"] == "list"
    assert sj["fields"][1]["type"]["element-id"] == 5


def test_failed_hint_write_keeps_prior_version(tmp_path, monkeypatch):
    """A commit whose version-hint write fails (disk full, kill) leaves
    the table readable at its prior version, and the next commit goes
    through: the hint is published by rename, never truncated first."""
    import builtins
    import os

    f1 = _tokens_file(str(tmp_path / "a.parquet"), 0, 100)
    f2 = _tokens_file(str(tmp_path / "b.parquet"), 100, 60)
    tdir = str(tmp_path / "tbl")
    im.create_table(tdir, TOKENS_PA, ts_ms=1_000)
    s1 = im.append_snapshot(tdir, [f1], commit_key="w0", ts_ms=2_000)
    real_open = builtins.open

    class _FailingWrites:
        def __init__(self, f):
            self.f = f

        def write(self, data):
            raise OSError("no space left on device")

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            self.f.close()

    def hint_write_fails(path, mode="r", *a, **k):
        f = real_open(path, mode, *a, **k)
        if "w" in mode and os.path.basename(str(path)).startswith("version-hint.text"):
            return _FailingWrites(f)
        return f

    monkeypatch.setattr(builtins, "open", hint_write_fails)
    with pytest.raises(OSError, match="no space"):
        im.append_snapshot(tdir, [f2], commit_key="w1", ts_ms=3_000)
    monkeypatch.setattr(builtins, "open", real_open)
    md = im.read_table_metadata(tdir)
    assert md["current-snapshot-id"] == s1 and len(md["snapshots"]) == 1
    s2 = im.append_snapshot(tdir, [f2], commit_key="w1", ts_ms=3_000)
    assert s2 != s1
    assert sorted(p for p, _ in im.list_data_files(tdir)) == sorted([f1, f2])


def test_splits_match_parquet_listing(tmp_path):
    """Manifest-derived splits == direct parquet listing of same files
    (row-group explosion, ordering, ids)."""
    from orc_format_spark.sources.parquet_scan import list_parquet_splits

    d = tmp_path / "data"
    d.mkdir()
    f1 = _tokens_file(str(d / "a.parquet"), 0, 100, rg=40)
    f2 = _tokens_file(str(d / "b.parquet"), 100, 60, rg=25)
    tdir = str(tmp_path / "tbl")
    im.create_table(tdir, TOKENS_PA)
    im.append_snapshot(tdir, [f1, f2])
    assert im.list_iceberg_splits_meta(tdir) == list_parquet_splits(str(d))


def test_unknown_snapshot_raises(tmp_path):
    tdir = str(tmp_path / "tbl")
    im.create_table(tdir, TOKENS_PA)
    with pytest.raises(ValueError, match="snapshot 99"):
        im.list_data_files(tdir, snapshot_id=99)


def test_iceberg_source_path_route(spark, tmp_path):
    """list_iceberg_splits / read_tokens_table / encode_iceberg_splits on
    a path-addressed table run the pure-Python manifest path for real —
    and the encode is byte-identical to the parquet-dir route."""
    from orc_format_spark import TOKENS_SCHEMA, decode_blobs
    from orc_format_spark.sources.parquet_scan import encode_parquet_splits

    d = tmp_path / "data"
    d.mkdir()
    f1 = _tokens_file(str(d / "a.parquet"), 0, 100, rg=40)
    tdir = str(tmp_path / "tbl")
    im.create_table(tdir, TOKENS_PA)
    im.append_snapshot(tdir, [f1])
    splits = iceberg.list_iceberg_splits(tdir)
    assert len(splits) == 3
    df = iceberg.read_tokens_table(spark, tdir)
    assert df.count() == 100
    via_iceberg = iceberg.encode_iceberg_splits(spark, tdir).collect()
    via_parquet = encode_parquet_splits(spark, str(d)).collect()
    assert [r.blob for r in via_iceberg] == [r.blob for r in via_parquet]
    decoded = decode_blobs(
        iceberg.encode_iceberg_splits(spark, tdir), TOKENS_SCHEMA
    )
    assert decoded.count() == 100


def test_job_metrics_iceberg_commits(spark, tmp_path):
    """run_encode_job commits one metrics snapshot per wave with
    commit-key idempotence; read_metrics resolves through the manifest;
    resume does not add snapshots for already-done waves."""
    from orc_format_spark import read_metrics, run_encode_job, tokenize_documents

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    toks = tokenize_documents(docs)
    out = str(tmp_path / "job")
    run_encode_job(spark, toks, out, num_groups=6, waves=3)
    mdir = f"{out}/metrics"
    assert im.is_iceberg_table(mdir)
    md = im.read_table_metadata(mdir)
    assert len(md["snapshots"]) == 3
    keys = [s["summary"]["commit-key"] for s in md["snapshots"]]
    assert keys == ["wave=0", "wave=1", "wave=2"]
    # the resume guards' stamps ride as table properties
    from orc_format_spark.codecs.container import ENCODER_VERSION

    assert md["properties"]["engine-version"] == ENCODER_VERSION
    assert "num_groups" in md["properties"]["job-params"]
    m = read_metrics(spark, out)
    assert m.count() == 6  # one lineage row per group
    assert "blob" not in m.columns
    # resume: all waves done -> no new snapshots, no new metadata version
    v_before = im._current_version(mdir)
    run_encode_job(spark, toks, out, num_groups=6, waves=3)
    assert im._current_version(mdir) == v_before
    assert len(im.read_table_metadata(mdir)["snapshots"]) == 3


def test_pre_upgrade_metadata_carries_forward(tmp_path):
    """Cross-version compatibility: a table whose manifest list /
    manifest were written before the 'partitions' summary and the
    per-column stats maps existed must accept its first post-upgrade
    commit — carried-forward manifest-list records lacking those keys
    re-serialize through the schema defaults instead of raising 'avro:
    missing field' — and its data_file records without stats maps must
    still list."""
    import copy

    f1 = _tokens_file(str(tmp_path / "a.parquet"), 0, 100)
    f2 = _tokens_file(str(tmp_path / "b.parquet"), 100, 60)
    tdir = str(tmp_path / "tbl")
    im.create_table(tdir, TOKENS_PA, ts_ms=1_000)
    im.append_snapshot(tdir, [f1], commit_key="w0", ts_ms=2_000)

    md = im.read_table_metadata(tdir)
    snap = next(
        s for s in md["snapshots"]
        if s["snapshot-id"] == md["current-snapshot-id"]
    )
    # age the manifest LIST: no 'partitions' field summary
    ml_path = snap["manifest-list"]
    with open(ml_path, "rb") as f:
        entries, _, mlmeta = avro_ocf.read_ocf(f.read())
    mlmeta = {k: v for k, v in mlmeta.items() if not k.startswith("avro.")}
    aged_ml = copy.deepcopy(im._MANIFEST_FILE_SCHEMA)
    aged_ml["fields"] = [
        f for f in aged_ml["fields"] if f["name"] != "partitions"
    ]
    for e in entries:
        e.pop("partitions", None)
    with open(ml_path, "wb") as f:
        f.write(avro_ocf.write_ocf(aged_ml, entries, metadata=mlmeta))
    # age the MANIFEST: no stats maps, no equality_ids on data_file
    mf_path = entries[0]["manifest_path"]
    with open(mf_path, "rb") as f:
        ments, _, mfmeta = avro_ocf.read_ocf(f.read())
    mfmeta = {k: v for k, v in mfmeta.items() if not k.startswith("avro.")}
    dropped = {
        "value_counts", "null_value_counts", "lower_bounds",
        "upper_bounds", "equality_ids",
    }
    aged_mf = copy.deepcopy(im._manifest_entry_schema([]))
    for fld in aged_mf["fields"]:
        if fld["name"] == "data_file":
            fld["type"]["fields"] = [
                df for df in fld["type"]["fields"]
                if df["name"] not in dropped
            ]
    for e in ments:
        for k in dropped:
            e["data_file"].pop(k, None)
    with open(mf_path, "wb") as f:
        f.write(avro_ocf.write_ocf(aged_mf, ments, metadata=mfmeta))

    # first post-upgrade commit: append carries the aged manifest-list
    # records; the reader resolves the aged data_file records
    im.append_snapshot(tdir, [f2], commit_key="w1", ts_ms=3_000)
    files = dict(im.list_data_files(tdir))
    assert sorted(files) == sorted([f1, f2])
    assert files[f1] == 100 and files[f2] == 60
