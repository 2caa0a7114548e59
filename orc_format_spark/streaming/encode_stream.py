"""Structured Streaming encode: continuous ingestion of a tokens stream
into encoded blobs.

The reference is a batch, push-based writer with no streaming construct
(SURVEY.md §2.7). The Spark-first equivalent of "keep appending stripes
as data arrives" is a streaming query: every micro-batch is encoded with
the same deterministic grouping + codec machinery as the batch path, so
a given set of rows produces identical blobs whether it arrived via
batch or stream. Exactly-once comes from the streaming checkpoint
(offsets + batch id) *plus* idempotent per-batch output: each batch
overwrites its own ``batch_id=N`` directory, so a batch replayed after a
write-succeeded/commit-failed crash cannot duplicate blob rows (the same
wave-directory pattern as operators/job.py).

At scale this runs against a Kafka/Iceberg-CDC source with a processing-
time trigger; here the file source + availableNow trigger covers the
same code path hermetically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.encode import encode_groups


def encode_stream(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    num_groups: int = 8,
    codec: str = "auto",
    compression: str = "zstd",
    key_col: str = "doc_id",
    size_col: str | None = "n_tok",
    available_now: bool = True,
    blob_sink: str | None = None,
    metrics_dir: str | None = None,
):
    """Start a streaming query encoding each micro-batch into blob rows.

    Returns the StreamingQuery; blobs land under ``out_dir`` tagged with
    the micro-batch id (the streaming analog of the wave id in
    ``run_encode_job``).

    ``blob_sink``: a directory OUTSIDE ``out_dir`` — tasks persist their
    blobs under ``<blob_sink>/batch_id=N/`` and the batch parquet
    carries only lineage + ``blob_path`` (the zero-ferry shape). Replay
    idempotence is preserved: group files have deterministic names and
    deterministic bytes, so a retried micro-batch overwrites
    identically. Streams that accumulate many small per-batch blobs
    feed ``compact_blobs``.

    ``metrics_dir``: commit each micro-batch's lineage rows as a
    snapshot of the metrics Iceberg table there, exactly-once per batch
    id (``commit_key="batch=N"``) — a replayed batch after a
    write-succeeded/commit-failed crash overwrites its parquet
    deterministically and the Iceberg commit de-dups on the key, so the
    metrics table sees each batch exactly once. Same table shape as
    ``run_encode_job``'s wave metrics.
    """

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        blobs = encode_groups(
            batch_df,
            num_groups=num_groups,
            codec=codec,
            compression=compression,
            key_col=key_col,
            size_col=size_col,
            blob_sink=(
                f"{blob_sink}/batch_id={batch_id}" if blob_sink is not None else None
            ),
        )
        # idempotent replay: a retried micro-batch overwrites its own
        # directory instead of appending duplicate rows
        blobs.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")
        if metrics_dir is not None:
            from ..operators.job import commit_lineage_metrics

            commit_lineage_metrics(
                metrics_dir,
                f"{out_dir}/batch_id={batch_id}",
                f"batch-{batch_id}",
                f"batch={batch_id}",
            )

    writer = (
        stream_df.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
