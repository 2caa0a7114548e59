"""Iceberg source gating + the shared split-encode engine.

The Iceberg source reads path-addressed tables only, so any other name
must fail with a clear ValueError (not silently fall through), while
the shared ``encode_splits`` engine — which the Iceberg manifest path
feeds — is exercised directly with an explicit split list.
"""

import glob

import pytest

from orc_format_spark.sources import iceberg
from orc_format_spark.sources.parquet_scan import encode_splits, list_parquet_splits


def test_iceberg_gating(spark, tmp_path):
    for name in ("demo.tokens", str(tmp_path)):
        with pytest.raises(ValueError, match="not a path-addressed"):
            iceberg.read_tokens_table(spark, name)
        with pytest.raises(ValueError, match="not a path-addressed"):
            iceberg.list_iceberg_splits(name)


def test_encode_splits_explicit_list(spark, tmp_path):
    from orc_format_spark import TOKENS_SCHEMA, decode_blobs, tokenize_documents

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = str(tmp_path / "toks")
    tokenize_documents(docs).repartition(4).write.parquet(src)
    splits = list_parquet_splits(src)
    assert len(splits) >= 4
    # hand the engine the manifest-shaped list (what the Iceberg path does)
    blobs = encode_splits(spark, splits)
    assert blobs.count() == len(splits)
    out = decode_blobs(blobs, TOKENS_SCHEMA)
    assert out.count() == docs.count()


@pytest.mark.parametrize("n_groups", [2, 9])
def test_encode_splits_runs_one_wave_in_split_order(spark, tmp_path, n_groups):
    """By default one task per core, never more tasks than splits, each
    task a contiguous range of split ids: rows come back in split-id
    order."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table({"k": pa.array(range(n_groups * 50), pa.int64()),
                    "s": pa.array([f"v{i % 7}" for i in range(n_groups * 50)])})
    pq.write_table(tbl, str(tmp_path / "t.parquet"), row_group_size=50)
    splits = list_parquet_splits(str(tmp_path))
    assert len(splits) == n_groups
    df = encode_splits(spark, splits)
    cores = spark.sparkContext.defaultParallelism
    assert df.rdd.getNumPartitions() == min(cores, n_groups)
    assert [r.group_id for r in df.collect()] == [sid for sid, _, _ in splits]


def test_blob_sink_roundtrip(spark, tmp_path):
    """encode_splits(blob_sink=...): workers persist blobs themselves
    (atomic deterministic names), only lineage reaches the JVM, and
    decode_blob_files reproduces the table from the sink files."""
    import os

    from orc_format_spark import TOKENS_SCHEMA, decode_blob_files, tokenize_documents

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = str(tmp_path / "toks")
    tokenize_documents(docs).repartition(4).write.parquet(src)
    splits = list_parquet_splits(src)
    sink = str(tmp_path / "sink")
    blobs = encode_splits(spark, splits, blob_sink=sink)
    rows = blobs.collect()
    assert "blob_path" in blobs.columns and "blob" not in blobs.columns
    assert sorted(os.path.basename(r.blob_path) for r in rows) == sorted(
        f"split-{sid:08d}.ofs" for sid, _, _ in splits
    )
    assert not glob.glob(os.path.join(sink, "*.tmp.*"))  # atomic renames
    for r in rows:  # lineage byte counts match the persisted files
        assert os.path.getsize(r.blob_path) == r.output_bytes
    out = decode_blob_files(blobs, TOKENS_SCHEMA)
    assert out.count() == docs.count()
    # sink-written bytes identical to the ferry route's blobs
    ferry = {r.group_id: r.blob for r in encode_splits(spark, splits).collect()}
    for r in rows:
        with open(r.blob_path, "rb") as f:
            assert f.read() == ferry[r.group_id]


@pytest.mark.parametrize("layout", ["blob", "blob_path"])
def test_verify_blob_files(spark, tmp_path, layout):
    """One verifier for both payload layouts: inline ``blob`` rows and
    sink ``blob_path`` rows (``verify_blob_files`` is ``verify_blobs``)."""
    from orc_format_spark import tokenize_documents, verify_blob_files

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = str(tmp_path / "toks")
    tokenize_documents(docs).repartition(2).write.parquet(src)
    sink = str(tmp_path / "sink") if layout == "blob_path" else None
    lineage = encode_splits(
        spark, list_parquet_splits(src), blob_sink=sink
    ).collect()
    # materialized lineage: re-verification must NOT re-run the encode
    # (a lazy plan would rewrite the sink and mask corruption)
    blobs = spark.createDataFrame(lineage)
    assert layout in blobs.columns
    ver = verify_blob_files(blobs)
    rows = ver.collect()
    assert len(rows) >= 2 and all(r.ok for r in rows)
    # corrupt one blob -> its checksum must fail loudly, not silently
    if layout == "blob_path":
        victim = lineage[0].blob_path
        raw = bytearray(open(victim, "rb").read())
        raw[len(raw) // 2] ^= 0xFF
        open(victim, "wb").write(bytes(raw))
    else:
        i = blobs.columns.index("blob")
        rows_in = [list(r) for r in lineage]
        raw = bytearray(rows_in[0][i])
        raw[len(raw) // 2] ^= 0xFF
        rows_in[0][i] = bytes(raw)
        blobs = spark.createDataFrame(
            [tuple(r) for r in rows_in], blobs.schema
        )
    import pyspark.errors

    try:
        bad = verify_blob_files(blobs).collect()
        assert not all(r.ok for r in bad)
    except pyspark.errors.PySparkException:
        pass  # a corrupted stream may also fail decode outright — acceptable
