"""Structured Streaming encode: micro-batch blobs must decode to the same
rows the batch path produces (stream/batch parity), with exactly-once via
the streaming checkpoint."""

import os

import pytest

from orc_format_spark import (
    TOKENS_SCHEMA,
    decode_blobs,
    tokenize_documents,
)
from orc_format_spark.streaming.encode_stream import encode_stream

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def tokens_dir(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("stream_src") / "tokens")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    tokenize_documents(docs).write.parquet(path)
    return path


def test_stream_encode_matches_batch(spark, tokens_dir, tmp_path):
    out = str(tmp_path / "blobs")
    ckpt = str(tmp_path / "ckpt")
    schema = spark.read.parquet(tokens_dir).schema
    stream = spark.readStream.schema(schema).parquet(tokens_dir)
    q = encode_stream(stream, out, ckpt, num_groups=4)
    q.awaitTermination(120)
    blobs = spark.read.parquet(out)
    assert blobs.count() >= 1
    decoded = decode_blobs(blobs, TOKENS_SCHEMA)
    batch = spark.read.parquet(tokens_dir)
    assert decoded.count() == batch.count()
    # content parity with the batch table (doc_id + detokenized text)
    a = {(r.doc_id, tuple(r.tokens)) for r in decoded.collect()}
    b = {(r.doc_id, tuple(r.tokens)) for r in batch.collect()}
    assert a == b


def test_stream_restart_is_exactly_once(spark, tokens_dir, tmp_path):
    out = str(tmp_path / "blobs")
    ckpt = str(tmp_path / "ckpt")
    schema = spark.read.parquet(tokens_dir).schema
    stream = spark.readStream.schema(schema).parquet(tokens_dir)
    encode_stream(stream, out, ckpt, num_groups=4).awaitTermination(120)
    n1 = spark.read.parquet(out).count()
    # restart against the same checkpoint: no new input -> no new blobs
    stream2 = spark.readStream.schema(schema).parquet(tokens_dir)
    encode_stream(stream2, out, ckpt, num_groups=4).awaitTermination(120)
    assert spark.read.parquet(out).count() == n1


def test_stream_encode_blob_sink(spark, tokens_dir, tmp_path):
    """Sink-mode stream: batch parquet carries blob_path lineage, tasks
    persist blobs under the sink, decode_blob_files restores parity."""
    import glob
    import os

    from orc_format_spark import decode_blob_files

    out = str(tmp_path / "blobs")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "store")
    schema = spark.read.parquet(tokens_dir).schema
    stream = spark.readStream.schema(schema).parquet(tokens_dir)
    encode_stream(stream, out, ckpt, num_groups=4, blob_sink=sink).awaitTermination(120)
    blobs = spark.read.parquet(out)
    assert "blob_path" in blobs.columns and "blob" not in blobs.columns
    files = glob.glob(os.path.join(sink, "batch_id=*", "group-*.ofs"))
    assert len(files) == blobs.count() == 4
    decoded = decode_blob_files(blobs, TOKENS_SCHEMA)
    batch = spark.read.parquet(tokens_dir)
    a = {(r.doc_id, tuple(r.tokens)) for r in decoded.collect()}
    b = {(r.doc_id, tuple(r.tokens)) for r in batch.collect()}
    assert a == b


def test_stream_metrics_iceberg_commits(spark, tokens_dir, tmp_path):
    """metrics_dir: each micro-batch's lineage lands as one snapshot of
    the metrics Iceberg table, keyed batch=N; a replayed commit for the
    same batch id is a no-op (exactly-once) that leaves the committed
    file untouched, and a checkpointed restart adds no snapshots."""
    from orc_format_spark.operators.job import commit_lineage_metrics
    from orc_format_spark.sources import iceberg_meta as im

    out = str(tmp_path / "blobs")
    ckpt = str(tmp_path / "ckpt")
    mdir = str(tmp_path / "metrics")
    schema = spark.read.parquet(tokens_dir).schema
    stream = spark.readStream.schema(schema).parquet(tokens_dir)
    encode_stream(stream, out, ckpt, num_groups=4, metrics_dir=mdir).awaitTermination(120)
    assert im.is_iceberg_table(mdir)
    md = im.read_table_metadata(mdir)
    keys = sorted(s["summary"]["commit-key"] for s in md["snapshots"])
    assert keys == ["batch=0"]  # availableNow file source -> one batch
    m = spark.read.parquet(*[p for p, _ in im.list_data_files(mdir)])
    assert m.count() == 4 and "blob" not in m.columns
    # replay of the same batch: the committed key returns before any
    # write, so the file the snapshot lists is not rewritten
    committed = f"{mdir}/batch-0.parquet"
    before = (open(committed, "rb").read(), os.stat(committed).st_mtime_ns)
    commit_lineage_metrics(mdir, f"{out}/batch_id=0", "batch-0", "batch=0")
    assert len(im.read_table_metadata(mdir)["snapshots"]) == 1
    assert (open(committed, "rb").read(), os.stat(committed).st_mtime_ns) == before
    # restart with the same checkpoint: no new batches, no new snapshots
    stream2 = spark.readStream.schema(schema).parquet(tokens_dir)
    encode_stream(stream2, out, ckpt, num_groups=4, metrics_dir=mdir).awaitTermination(120)
    assert len(im.read_table_metadata(mdir)["snapshots"]) == 1
