"""Partitioned Iceberg tables: identity/truncate transforms, manifest
partition records, field summaries, and the two-level scan prune
(manifest-level bound skip, then file-level value match).

The scale contract under test: a partition-filtered scan of a table with
many manifests must not OPEN the non-matching manifests (scan_stats
proves it), and typed bounds must order numerically, not byte-wise."""

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from orc_format_spark.sources import iceberg_meta as im

SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("tokens", pa.list_(pa.int32())),
        ("n_tok", pa.int32()),
        ("source", pa.string()),
        ("day", pa.int64()),
    ]
)


def _pfile(path, start, n, source, day, rg=50):
    t = pa.table(
        {
            "doc_id": [f"d{start + i:05d}" for i in range(n)],
            "tokens": [[i, i + 1] for i in range(n)],
            "n_tok": pa.array([2] * n, pa.int32()),
            "source": [source] * n,
            "day": pa.array([day] * n, pa.int64()),
        },
        schema=SCHEMA,
    )
    pq.write_table(t, path, row_group_size=rg)
    return str(path)


def _mk_table(tmp_path, spec):
    tdir = str(tmp_path / "tbl")
    im.create_table(tdir, SCHEMA, partition_spec=spec, ts_ms=1_000)
    return tdir


def test_spec_in_metadata(tmp_path):
    tdir = _mk_table(tmp_path, [("source", "identity"), ("day", "truncate[7]")])
    md = im.read_table_metadata(tdir)
    fields = md["partition-specs"][0]["fields"]
    assert [f["name"] for f in fields] == ["source", "day_trunc"]
    assert [f["transform"] for f in fields] == ["identity", "truncate[7]"]
    assert [f["field-id"] for f in fields] == [1000, 1001]
    # source-id points at the schema field ids
    sj = md["schemas"][0]
    by_name = {f["name"]: f["id"] for f in sj["fields"]}
    assert [f["source-id"] for f in fields] == [by_name["source"], by_name["day"]]
    assert md["last-partition-id"] == 1001


def test_bad_specs(tmp_path):
    with pytest.raises(ValueError, match="transform"):
        im.create_table(str(tmp_path / "a"), SCHEMA, partition_spec=[("source", "bucket[4]")])
    with pytest.raises(ValueError, match="not in schema"):
        im.create_table(str(tmp_path / "b"), SCHEMA, partition_spec=[("nope", "identity")])
    with pytest.raises(ValueError, match="width"):
        im.create_table(str(tmp_path / "c"), SCHEMA, partition_spec=[("day", "truncate[0]")])
    tdir = _mk_table(tmp_path, [("source", "identity")])
    f = _pfile(tmp_path / "x.parquet", 0, 5, "web", 1)
    with pytest.raises(ValueError, match="missing \\['source'\\]"):
        im.append_snapshot(tdir, [f])  # missing partition values
    with pytest.raises(ValueError, match="missing \\['source'\\]"):
        im.append_snapshot(tdir, [(f, {"day": 1})])  # wrong key


def test_manifest_carries_partition_values(tmp_path):
    tdir = _mk_table(tmp_path, [("source", "identity"), ("day", "truncate[7]")])
    f1 = _pfile(tmp_path / "a.parquet", 0, 10, "web", 3)
    f2 = _pfile(tmp_path / "b.parquet", 10, 10, "cc", 9)
    im.append_snapshot(
        tdir,
        [(f1, {"source": "web", "day": 3}), (f2, {"source": "cc", "day": 9})],
        ts_ms=2_000,
    )
    md = im.read_table_metadata(tdir)
    snap = im._current_snapshot(md)
    (mf,) = im._read_manifest_list(snap)
    # field summaries: typed bounds over both entries
    s_src, s_day = mf["partitions"]
    assert s_src["lower_bound"] == b"cc" and s_src["upper_bound"] == b"web"
    assert im._deserialize_bound("long", s_day["lower_bound"]) == 0  # 3 -> 0
    assert im._deserialize_bound("long", s_day["upper_bound"]) == 7  # 9 -> 7
    assert s_src["contains_null"] is False
    from orc_format_spark.sources.avro_ocf import read_ocf

    with open(mf["manifest_path"], "rb") as fh:
        entries, schema, meta = read_ocf(fh.read())
    parts = {e["data_file"]["file_path"]: e["data_file"]["partition"] for e in entries}
    assert parts[f1] == {"source": "web", "day_trunc": 0}
    assert parts[f2] == {"source": "cc", "day_trunc": 7}
    # the written avro schema types the partition record per the spec
    r102 = next(
        f for f in schema["fields"] if f["name"] == "data_file"
    )["type"]["fields"]
    part_schema = next(f for f in r102 if f["name"] == "partition")["type"]
    assert [f["name"] for f in part_schema["fields"]] == ["source", "day_trunc"]
    assert [f["field-id"] for f in part_schema["fields"]] == [1000, 1001]
    import json

    spec_meta = json.loads(meta["partition-spec"].decode())
    assert [f["transform"] for f in spec_meta] == ["identity", "truncate[7]"]


def test_two_level_prune(tmp_path):
    """3 single-source commits -> 3 manifests; an equality filter must
    open exactly the matching manifest and return exactly its files."""
    tdir = _mk_table(tmp_path, [("source", "identity")])
    files = {}
    for i, src in enumerate(["web", "cc", "books"]):
        fs = [
            _pfile(tmp_path / f"{src}{j}.parquet", 100 * i + 10 * j, 10, src, i)
            for j in range(2)
        ]
        files[src] = fs
        im.append_snapshot(
            tdir, [(f, {"source": src, "day": i}) for f in fs], ts_ms=2_000 + i
        )
    stats: dict = {}
    got = im.list_data_files(tdir, partition_filter={"source": "cc"}, scan_stats=stats)
    assert sorted(p for p, _ in got) == sorted(files["cc"])
    assert stats["manifests_total"] == 3
    assert stats["manifests_opened"] == 1  # the other two skipped via bounds
    assert stats["files_matched"] == 2
    # no filter: everything, all manifests opened
    stats2: dict = {}
    all_files = im.list_data_files(tdir, scan_stats=stats2)
    assert len(all_files) == 6 and stats2["manifests_opened"] == 3
    # unknown partition value: zero files, zero manifests opened
    stats3: dict = {}
    assert im.list_data_files(tdir, partition_filter={"source": "zz"}, scan_stats=stats3) == []
    assert stats3["manifests_opened"] == 0
    # filtering on a non-partition column is an error, not a full scan
    with pytest.raises(ValueError, match="not a partition source column"):
        im.list_data_files(tdir, partition_filter={"doc_id": "d1"})


def test_numeric_bounds_not_bytewise(tmp_path):
    """long bounds must compare numerically: 255 vs 256 little-endian
    bytes sort the wrong way byte-wise, so a byte-compare prune would
    skip the matching manifest."""
    tdir = _mk_table(tmp_path, [("day", "identity")])
    f1 = _pfile(tmp_path / "a.parquet", 0, 5, "web", 255)
    f2 = _pfile(tmp_path / "b.parquet", 5, 5, "web", 256)
    im.append_snapshot(tdir, [(f1, {"day": 255})], ts_ms=2_000)
    im.append_snapshot(tdir, [(f2, {"day": 256})], ts_ms=3_000)
    stats: dict = {}
    got = im.list_data_files(tdir, partition_filter={"day": 256}, scan_stats=stats)
    assert [p for p, _ in got] == [f2]
    assert stats["manifests_opened"] == 1


def test_truncate_filter_uses_transformed_value(tmp_path):
    """Equality on the raw column value must transform before matching:
    day=9 lives in the day_trunc=7 partition."""
    tdir = _mk_table(tmp_path, [("day", "truncate[7]")])
    f1 = _pfile(tmp_path / "a.parquet", 0, 5, "web", 3)   # trunc 0
    f2 = _pfile(tmp_path / "b.parquet", 5, 5, "web", 9)   # trunc 7
    im.append_snapshot(tdir, [(f1, {"day": 3})], ts_ms=2_000)
    im.append_snapshot(tdir, [(f2, {"day": 9})], ts_ms=3_000)
    got = im.list_data_files(tdir, partition_filter={"day": 8})
    assert [p for p, _ in got] == [f2]  # 8 -> trunc 7 -> same partition as 9
    assert im._apply_transform("truncate[7]", "longstring") == "longstr"[0:7]


def test_unpartitioned_tables_unchanged(tmp_path):
    """No spec -> empty partition records, empty summaries, filter is an
    error (nothing to prune on); plain paths still accepted."""
    tdir = str(tmp_path / "tbl")
    im.create_table(tdir, SCHEMA, ts_ms=1_000)
    f1 = _pfile(tmp_path / "a.parquet", 0, 5, "web", 1)
    im.append_snapshot(tdir, [f1], ts_ms=2_000)
    assert [p for p, _ in im.list_data_files(tdir)] == [f1]
    with pytest.raises(ValueError, match="not a partition source column"):
        im.list_data_files(tdir, partition_filter={"source": "web"})


def test_partitioned_splits_and_encode(spark, tmp_path):
    """End-to-end: partition-filtered split listing feeds the encode and
    decodes to exactly the filtered rows."""
    from orc_format_spark import TOKENS_SCHEMA, decode_blobs
    from orc_format_spark.sources import iceberg

    tdir = _mk_table(tmp_path, [("source", "identity")])
    fw = _pfile(tmp_path / "w.parquet", 0, 40, "web", 1, rg=20)
    fc = _pfile(tmp_path / "c.parquet", 40, 30, "cc", 1, rg=15)
    im.append_snapshot(tdir, [(fw, {"source": "web", "day": 1})], ts_ms=2_000)
    im.append_snapshot(tdir, [(fc, {"source": "cc", "day": 1})], ts_ms=3_000)
    splits = iceberg.list_iceberg_splits(tdir, partition_filter={"source": "cc"})
    assert [(s[1], s[2]) for s in splits] == [(fc, 0), (fc, 1)]
    assert [s[0] for s in splits] == [0, 1]  # ids deterministic per filter
    df = iceberg.read_tokens_table(spark, tdir, partition_filter={"source": "cc"})
    assert df.count() == 30
    blobs = iceberg.encode_iceberg_splits(
        spark,
        tdir,
        columns=["doc_id", "tokens", "n_tok", "source"],
        partition_filter={"source": "cc"},
    )
    out = decode_blobs(blobs, TOKENS_SCHEMA)
    rows = out.select("doc_id").collect()
    assert sorted(r.doc_id for r in rows) == [f"d{40 + i:05d}" for i in range(30)]


# ------------------------------------------------- column-stats pruning


def test_manifest_column_stats(tmp_path):
    """Appends record per-column value/null counts and typed bounds from
    the parquet footer, keyed by Iceberg field id."""
    tdir = str(tmp_path / "tbl")
    im.create_table(tdir, SCHEMA, ts_ms=1_000)
    f1 = _pfile(tmp_path / "a.parquet", 0, 20, "web", 5, rg=10)
    im.append_snapshot(tdir, [f1], ts_ms=2_000)
    md = im.read_table_metadata(tdir)
    (mf,) = im._read_manifest_list(im._current_snapshot(md))
    from orc_format_spark.sources.avro_ocf import read_ocf

    with open(mf["manifest_path"], "rb") as fh:
        (entry,), _, _ = read_ocf(fh.read())
    df = entry["data_file"]
    ids = {f["name"]: f["id"] for f in md["schemas"][0]["fields"]}
    vc = im._kv_dict(df["value_counts"])
    nc = im._kv_dict(df["null_value_counts"])
    lob = im._kv_dict(df["lower_bounds"])
    upb = im._kv_dict(df["upper_bounds"])
    # scalar leaves only (tokens list has no top-level footer stats here)
    assert vc[ids["doc_id"]] == 20 and nc[ids["doc_id"]] == 0
    assert im._deserialize_col_bound("string", lob[ids["doc_id"]]) == "d00000"
    assert im._deserialize_col_bound("string", upb[ids["doc_id"]]) == "d00019"
    assert im._deserialize_col_bound("long", lob[ids["day"]]) == 5
    assert im._deserialize_col_bound("long", upb[ids["day"]]) == 5
    assert im._deserialize_col_bound("int", lob[ids["n_tok"]]) == 2


def test_predicate_file_skipping(tmp_path):
    """Files whose bounds exclude the predicate are dropped without any
    footer read; files without stats are conservatively kept."""
    tdir = str(tmp_path / "tbl")
    im.create_table(tdir, SCHEMA, ts_ms=1_000)
    f1 = _pfile(tmp_path / "a.parquet", 0, 10, "web", 100)      # days all 100
    f2 = _pfile(tmp_path / "b.parquet", 10, 10, "web", 200)     # days all 200
    f3 = _pfile(tmp_path / "c.parquet", 20, 10, "web", 300)
    im.append_snapshot(tdir, [f1, f2, f3], ts_ms=2_000)

    def files(preds):
        return sorted(
            p for p, _ in im.list_data_files(tdir, column_predicates=preds)
        )

    assert files([("day", "=", 200)]) == [f2]
    assert files([("day", "<", 200)]) == [f1]
    assert files([("day", "<=", 200)]) == [f1, f2]
    assert files([("day", ">", 250)]) == [f3]
    assert files([("day", ">=", 200)]) == [f2, f3]
    assert files([("day", "=", 150)]) == []
    # string bounds
    assert files([("doc_id", "=", "d00015")]) == [f2]
    # conjunction
    assert files([("day", ">", 100), ("doc_id", "<", "d00020")]) == [f2]
    # null predicates: no nulls anywhere -> is_null prunes all
    assert files([("day", "is_null", None)]) == []
    assert files([("day", "not_null", None)]) == [f1, f2, f3]
    import pytest as _pt

    with _pt.raises(ValueError, match="not in schema"):
        files([("nope", "=", 1)])
    with _pt.raises(ValueError, match="unsupported predicate op"):
        files([("day", "!=", 1)])


def test_predicate_splits_and_partition_combo(tmp_path):
    """column_predicates compose with partition_filter down the split
    listing; all-null files are skipped for comparison predicates."""
    tdir = str(tmp_path / "tbl")
    im.create_table(tdir, SCHEMA, partition_spec=[("source", "identity")], ts_ms=1_000)
    fw1 = _pfile(tmp_path / "w1.parquet", 0, 10, "web", 1)
    fw2 = _pfile(tmp_path / "w2.parquet", 10, 10, "web", 9)
    fc = _pfile(tmp_path / "c.parquet", 20, 10, "cc", 9)
    im.append_snapshot(
        tdir,
        [(fw1, {"source": "web"}), (fw2, {"source": "web"}), (fc, {"source": "cc"})],
        ts_ms=2_000,
    )
    from orc_format_spark.sources import iceberg

    splits = iceberg.list_iceberg_splits(
        tdir,
        partition_filter={"source": "web"},
        column_predicates=[("day", ">=", 5)],
    )
    assert [s[1] for s in splits] == [fw2]
