"""Iceberg tables after their lifecycle: positional and equality deletes
(merge-on-read), compaction commits that retire them, evolved schemas
and incremental scans.

Contracts under test: the reader applies live deletes and drops the
ones a compaction retired; old files read under an evolved schema;
the split-encode path refuses files whose deletes it cannot apply.
Compaction commits and schema changes come from other Iceberg writers
and are built here by ``tests/iceberg_fixtures.py``."""

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from orc_format_spark.sources import iceberg_meta as im
from tests.iceberg_fixtures import evolve_schema, replace_files

SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("n_tok", pa.int32()),
        ("source", pa.string()),
    ]
)


def _pfile(path, start, n, source="web"):
    t = pa.table(
        {
            "doc_id": [f"d{start + i:05d}" for i in range(n)],
            "n_tok": pa.array([2] * n, pa.int32()),
            "source": [source] * n,
        },
        schema=SCHEMA,
    )
    pq.write_table(t, path)
    return str(path)


# --------------------------------------------- positional deletes (MoR)


def test_delete_commit_and_entries(tmp_path):
    tdir = str(tmp_path / "tbl")
    im.create_table(tdir, SCHEMA, ts_ms=1_000)
    a = _pfile(tmp_path / "a.parquet", 0, 10)
    b = _pfile(tmp_path / "b.parquet", 10, 10)
    im.append_snapshot(tdir, [a, b], ts_ms=2_000)
    with pytest.raises(ValueError, match="not live"):
        im.append_delete_snapshot(tdir, [(str(tmp_path / "x.parquet"), 0)])
    with pytest.raises(ValueError, match="empty delete set"):
        im.append_delete_snapshot(tdir, [])
    s = im.append_delete_snapshot(
        tdir, [(a, 1), (a, 3), (b, 0)], commit_key="d0", ts_ms=3_000
    )
    assert im.append_delete_snapshot(tdir, [(a, 1)], commit_key="d0") == s
    assert im.list_delete_entries(tdir) == [(a, 1), (a, 3), (b, 0)]
    # data listing unaffected by the delete manifest
    assert sorted(p for p, _ in im.list_data_files(tdir)) == sorted([a, b])
    # pre-delete snapshot has no entries
    md = im.read_table_metadata(tdir)
    pre = md["snapshots"][0]["snapshot-id"]
    assert im.list_delete_entries(tdir, snapshot_id=pre) == []
    assert md["snapshots"][-1]["summary"]["operation"] == "delete"


def test_merge_on_read(spark, tmp_path):
    """read_tokens_table anti-joins live positional deletes via the
    parquet _metadata columns; time travel sees the undeleted view."""
    from orc_format_spark.sources import iceberg

    tdir = str(tmp_path / "tbl")
    im.create_table(tdir, SCHEMA, ts_ms=1_000)
    a = _pfile(tmp_path / "a.parquet", 0, 10)
    b = _pfile(tmp_path / "b.parquet", 10, 10)
    s1 = im.append_snapshot(tdir, [a, b], ts_ms=2_000)
    im.append_delete_snapshot(tdir, [(a, 0), (a, 9), (b, 5)], ts_ms=3_000)
    got = sorted(r.doc_id for r in iceberg.read_tokens_table(spark, tdir).collect())
    expect = sorted(
        f"d{i:05d}" for i in range(20) if i not in (0, 9, 15)
    )
    assert got == expect


def test_split_encode_refuses_dirty_files(tmp_path):
    from orc_format_spark.sources import iceberg

    tdir = str(tmp_path / "tbl")
    im.create_table(tdir, SCHEMA, ts_ms=1_000)
    a = _pfile(tmp_path / "a.parquet", 0, 10)
    im.append_snapshot(tdir, [a], ts_ms=2_000)
    im.append_delete_snapshot(tdir, [(a, 2)], ts_ms=3_000)
    with pytest.raises(ValueError, match="positional deletes"):
        iceberg.list_iceberg_splits(tdir)


def test_replaced_file_retires_position_deletes(spark, tmp_path):
    """A compaction commit that replaces the deleted-from file retires
    its delete entries; the split-encode path unblocks."""
    from orc_format_spark.sources import iceberg

    tdir = str(tmp_path / "tbl")
    im.create_table(tdir, SCHEMA, ts_ms=1_000)
    a = _pfile(tmp_path / "a.parquet", 0, 10)
    im.append_snapshot(tdir, [a], ts_ms=2_000)
    im.append_delete_snapshot(tdir, [(a, 2), (a, 7)], ts_ms=3_000)
    merged = iceberg.read_tokens_table(spark, tdir)  # MoR view: 8 rows
    keep = sorted(r.doc_id for r in merged.collect())
    assert len(keep) == 8
    compacted = str(tmp_path / "compacted.parquet")
    t = pq.read_table(a)
    mask = [i not in (2, 7) for i in range(t.num_rows)]
    pq.write_table(t.filter(pa.array(mask)), compacted)
    replace_files(tdir, [a], [compacted], ts_ms=4_000)
    assert im.list_delete_entries(tdir) == []  # retired: target not live
    splits = iceberg.list_iceberg_splits(tdir)
    assert [s[1] for s in splits] == [compacted]
    got = sorted(r.doc_id for r in iceberg.read_tokens_table(spark, tdir).collect())
    assert got == keep


# ----------------------------------------------- equality deletes (MoR)


def test_equality_delete_commit_and_entries(tmp_path):
    tdir = str(tmp_path / "tbl")
    im.create_table(tdir, SCHEMA, ts_ms=1_000)
    a = _pfile(tmp_path / "a.parquet", 0, 10, source="web")
    im.append_snapshot(tdir, [a], ts_ms=2_000)
    with pytest.raises(ValueError, match="empty equality-delete set"):
        im.append_equality_delete_snapshot(tdir, [], ["source"])
    with pytest.raises(ValueError, match="not in the current schema"):
        im.append_equality_delete_snapshot(tdir, [{"nope": 1}], ["nope"])
    with pytest.raises(ValueError, match="missing equality column"):
        im.append_equality_delete_snapshot(tdir, [{"source": "x"}, {}], ["source"])
    s = im.append_equality_delete_snapshot(
        tdir, [{"source": "web"}], ["source"], commit_key="e0", ts_ms=3_000
    )
    assert (
        im.append_equality_delete_snapshot(
            tdir, [{"source": "other"}], ["source"], commit_key="e0"
        )
        == s
    )
    entries = im.list_equality_delete_entries(tdir)
    assert len(entries) == 1 and entries[0]["cols"] == ["source"]
    assert entries[0]["seq"] == 2
    # positional listing unaffected; data listing unaffected
    assert im.list_delete_entries(tdir) == []
    assert sorted(p for p, _ in im.list_data_files(tdir)) == [a]
    # pre-delete snapshot has no equality entries
    md = im.read_table_metadata(tdir)
    pre = md["snapshots"][0]["snapshot-id"]
    assert im.list_equality_delete_entries(tdir, snapshot_id=pre) == []
    assert md["snapshots"][-1]["summary"]["added-equality-deletes"] == "1"


def test_equality_delete_refuses_float_columns(tmp_path):
    tdir = str(tmp_path / "tbl")
    schema = pa.schema([("doc_id", pa.string()), ("score", pa.float64())])
    im.create_table(tdir, schema, ts_ms=1_000)
    t = pa.table({"doc_id": ["d0"], "score": [1.5]}, schema=schema)
    p = str(tmp_path / "a.parquet")
    pq.write_table(t, p)
    im.append_snapshot(tdir, [p], ts_ms=2_000)
    with pytest.raises(ValueError, match="unsupported"):
        im.append_equality_delete_snapshot(tdir, [{"score": 1.5}], ["score"])


def test_equality_merge_on_read_sequence_rule(spark, tmp_path):
    """An equality delete erases matching rows only from files that
    PRECEDE it; the same values re-appended afterwards survive (the
    upsert pattern). Null values match null-safely."""
    from orc_format_spark.sources import iceberg

    tdir = str(tmp_path / "tbl")
    im.create_table(tdir, SCHEMA, ts_ms=1_000)
    a = _pfile(tmp_path / "a.parquet", 0, 6, source="web")       # seq 1
    b = _pfile(tmp_path / "b.parquet", 6, 4, source="books")     # seq 1
    im.append_snapshot(tdir, [a, b], ts_ms=2_000)
    im.append_equality_delete_snapshot(                          # seq 2
        tdir, [{"source": "web"}], ["source"], ts_ms=3_000
    )
    c = _pfile(tmp_path / "c.parquet", 2, 3, source="web")       # seq 3
    im.append_snapshot(tdir, [c], ts_ms=4_000)
    im.append_equality_delete_snapshot(                          # seq 4
        tdir, [{"doc_id": "d00003"}, {"doc_id": "d00008"}], ["doc_id"], ts_ms=5_000
    )
    got = sorted(r.doc_id for r in iceberg.read_tokens_table(spark, tdir).collect())
    # a (seq1 web) fully erased by seq2; c (seq3 web) survives seq2 but
    # loses d00003 to the seq4 doc_id delete; b loses d00008.
    assert got == ["d00002", "d00004", "d00006", "d00007", "d00009"]


def test_equality_delete_null_matching(spark, tmp_path):
    from orc_format_spark.sources import iceberg

    tdir = str(tmp_path / "tbl")
    im.create_table(tdir, SCHEMA, ts_ms=1_000)
    t = pa.table(
        {
            "doc_id": ["d0", "d1", "d2"],
            "n_tok": pa.array([1, 1, 1], pa.int32()),
            "source": ["web", None, None],
        },
        schema=SCHEMA,
    )
    p = str(tmp_path / "a.parquet")
    pq.write_table(t, p)
    im.append_snapshot(tdir, [p], ts_ms=2_000)
    im.append_equality_delete_snapshot(
        tdir, [{"source": None}], ["source"], ts_ms=3_000
    )
    got = sorted(r.doc_id for r in iceberg.read_tokens_table(spark, tdir).collect())
    assert got == ["d0"]


def test_split_encode_refuses_equality_dirty_files(tmp_path):
    from orc_format_spark.sources import iceberg

    tdir = str(tmp_path / "tbl")
    im.create_table(tdir, SCHEMA, ts_ms=1_000)
    a = _pfile(tmp_path / "a.parquet", 0, 10)
    im.append_snapshot(tdir, [a], ts_ms=2_000)
    im.append_equality_delete_snapshot(
        tdir, [{"doc_id": "d00001"}], ["doc_id"], ts_ms=3_000
    )
    with pytest.raises(ValueError, match="equality delete"):
        iceberg.list_iceberg_splits(tdir)
    # a file appended AFTER the delete is clean — but the pre-delete file
    # still blocks the scan until compaction
    b = _pfile(tmp_path / "b.parquet", 10, 5)
    im.append_snapshot(tdir, [b], ts_ms=4_000)
    with pytest.raises(ValueError, match="equality delete"):
        iceberg.list_iceberg_splits(tdir)


def test_replaced_file_retires_equality_deletes(spark, tmp_path):
    """Re-sequencing every pre-delete data file (compaction of the MoR
    view) leaves the equality delete applicable to nothing; the listing
    retires it and split-encode unblocks."""
    from orc_format_spark.sources import iceberg

    tdir = str(tmp_path / "tbl")
    im.create_table(tdir, SCHEMA, ts_ms=1_000)
    a = _pfile(tmp_path / "a.parquet", 0, 10, source="web")
    im.append_snapshot(tdir, [a], ts_ms=2_000)
    im.append_equality_delete_snapshot(
        tdir, [{"doc_id": "d00002"}, {"doc_id": "d00007"}], ["doc_id"], ts_ms=3_000
    )
    keep = sorted(r.doc_id for r in iceberg.read_tokens_table(spark, tdir).collect())
    assert len(keep) == 8
    compacted = str(tmp_path / "compacted.parquet")
    t = pq.read_table(a)
    mask = [i not in (2, 7) for i in range(t.num_rows)]
    pq.write_table(t.filter(pa.array(mask)), compacted)
    replace_files(tdir, [a], [compacted], ts_ms=4_000)
    assert im.list_equality_delete_entries(tdir) == []  # applies to nothing
    splits = iceberg.list_iceberg_splits(tdir)
    assert [s[1] for s in splits] == [compacted]
    got = sorted(r.doc_id for r in iceberg.read_tokens_table(spark, tdir).collect())
    assert got == keep


def test_equality_delete_dropped_column_raises(tmp_path):
    tdir = str(tmp_path / "tbl")
    im.create_table(tdir, SCHEMA, ts_ms=1_000)
    a = _pfile(tmp_path / "a.parquet", 0, 5)
    im.append_snapshot(tdir, [a], ts_ms=2_000)
    im.append_equality_delete_snapshot(
        tdir, [{"source": "web"}], ["source"], ts_ms=3_000
    )
    evolve_schema(tdir, drop=["source"])
    with pytest.raises(ValueError, match="dropped field id"):
        im.list_equality_delete_entries(tdir)


# ------------------------------------------------------ schema evolution


def test_evolution_read_semantics(spark, tmp_path):
    """Old files under the evolved schema: added column reads null,
    dropped column disappears, no data rewrite."""
    from orc_format_spark.sources import iceberg

    tdir = str(tmp_path / "tbl")
    im.create_table(tdir, SCHEMA, ts_ms=1_000)
    a = _pfile(tmp_path / "a.parquet", 0, 5)
    im.append_snapshot(tdir, [a], ts_ms=2_000)
    evolve_schema(tdir, add=[("score", "double")], drop=["n_tok"])
    df = iceberg.read_tokens_table(spark, tdir)
    assert df.columns == ["doc_id", "source", "score"]
    rows = df.collect()
    assert len(rows) == 5 and all(r.score is None for r in rows)
    # a post-evolution file carries the new column; both eras coexist
    t = pa.table(
        {
            "doc_id": [f"e{i}" for i in range(3)],
            "source": ["web"] * 3,
            "score": [0.5, 1.5, 2.5],
        }
    )
    b = str(tmp_path / "b.parquet")
    pq.write_table(t, b)
    im.append_snapshot(tdir, [b], ts_ms=4_000)
    got = iceberg.read_tokens_table(spark, tdir)
    assert got.count() == 8
    scores = {r.doc_id: r.score for r in got.collect()}
    assert scores["e1"] == 1.5 and scores["d00001"] is None


# --------------------------------------------------- incremental scans


def test_incremental_splits_since_snapshot(tmp_path):
    """since_snapshot_id plans only files appended after the watermark;
    a compaction commit re-sequences its output so compacted data is
    re-encoded; an unknown watermark raises."""
    from orc_format_spark.sources import iceberg

    tdir = str(tmp_path / "tbl")
    im.create_table(tdir, SCHEMA, ts_ms=1_000)
    a = _pfile(tmp_path / "a.parquet", 0, 10)
    s1 = im.append_snapshot(tdir, [a], ts_ms=2_000)
    b = _pfile(tmp_path / "b.parquet", 10, 10)
    s2 = im.append_snapshot(tdir, [b], ts_ms=3_000)
    inc = iceberg.list_iceberg_splits(tdir, since_snapshot_id=s1)
    assert sorted({f for _, f, _ in inc}) == [b]
    assert iceberg.list_iceberg_splits(tdir, since_snapshot_id=s2) == []
    # full scan unchanged
    full = iceberg.list_iceberg_splits(tdir)
    assert sorted({f for _, f, _ in full}) == sorted([a, b])
    # compact a -> c: c gets a fresh sequence number, so it IS the delta
    c = str(tmp_path / "c.parquet")
    pq.write_table(pq.read_table(a), c)
    replace_files(tdir, [a], [c], ts_ms=4_000)
    inc2 = iceberg.list_iceberg_splits(tdir, since_snapshot_id=s2)
    assert sorted({f for _, f, _ in inc2}) == [c]
    with pytest.raises(ValueError, match="unknown snapshot id"):
        iceberg.list_iceberg_splits(tdir, since_snapshot_id=999)
