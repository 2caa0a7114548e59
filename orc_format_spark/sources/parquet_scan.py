"""Split-level parquet source: encode without moving the payload.

The reference writer consumes its input stream in place and cuts stripes
by size (src/writer.rs:84-90); nothing ever crosses a process boundary.
The Spark analog of that zero-movement property is: one *input split*
(parquet file row-group) == one stripe. Spark distributes only the split
metadata (file path + row-group index — a few hundred bytes); each task
opens its split with pyarrow directly, so the token payload goes straight
from columnar parquet into the numpy encode kernels without the JVM->
Python Arrow row conversion or a payload shuffle.

Why this is the 100 TB path: measured on local[32], pushing an
array<int32> column through Spark's JVM->Python Arrow converter moves
~45 MB/s/core, while pyarrow reads the same bytes from parquet at
GB/s. At cluster scale the split list comes from the Iceberg manifest
(immutable snapshot => deterministic split ids => exact resume); here we
enumerate fragments with pyarrow.dataset, sorted by (path, row_group) for
the same determinism.

Skew: splits are bounded by the writer's row-group size (the same
argument as the reference's 64 MiB stripe cut), so no salting is needed
on this path; the shuffle-based ``encode_groups`` remains the re-cluster
path when grouping by key matters.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession

SPLIT_SCHEMA = "split_id long, file string, row_group int"


def list_parquet_splits(path: str) -> list[tuple[int, str, int]]:
    """Deterministic (split_id, file, row_group) list for a parquet dir."""
    import pyarrow.dataset as ds

    dataset = ds.dataset(path, format="parquet")
    files = sorted(dataset.files)
    out: list[tuple[int, str, int]] = []
    sid = 0
    import pyarrow.parquet as pq

    for f in files:
        n_rg = pq.ParquetFile(f).metadata.num_row_groups
        for rg in range(n_rg):
            out.append((sid, f, rg))
            sid += 1
    return out


def encode_parquet_splits(
    spark: SparkSession,
    path: str,
    columns: list[str] | None = None,
    codec: str = "auto",
    compression: str = "zstd",
    parallelism: int | None = None,
    row_index_stride: int | None = None,
    blob_sink: str | None = None,
) -> DataFrame:
    """Encode every row-group split of ``path`` into one blob row each.

    Returns the same blob/lineage schema as ``encode_groups`` with
    ``group_id`` = deterministic split id (``blob_path`` instead of
    ``blob`` when ``blob_sink`` is given — see ``encode_splits``).
    """
    return encode_splits(
        spark,
        list_parquet_splits(path),
        columns=columns,
        codec=codec,
        compression=compression,
        parallelism=parallelism,
        row_index_stride=row_index_stride,
        blob_sink=blob_sink,
    )


def encode_splits(
    spark: SparkSession,
    splits: list[tuple[int, str, int]],
    columns: list[str] | None = None,
    codec: str = "auto",
    compression: str = "zstd",
    parallelism: int | None = None,
    row_index_stride: int | None = None,
    blob_sink: str | None = None,
    bloom_columns: list[str] | None = None,
) -> DataFrame:
    """Encode an explicit (split_id, file, row_group) list — the shared
    engine behind the parquet-dir and Iceberg-manifest sources.

    ``blob_sink``: directory the *workers* write each split's container
    blob into (``split-<id>.ofs``, atomic tmp+rename so task retries are
    idempotent); the returned DataFrame then carries a ``blob_path``
    column instead of ``blob``. This completes the zero-payload-movement
    plan on the output side: without a sink, every encoded byte crosses
    the Python->JVM Arrow socket just to be written back out by the JVM
    — measured at local[32]/1.5B tokens that ferry is ~60% of wall time
    and is serialized enough to cap 8->32 core scaling at ~0.5. With a
    sink, the payload goes parquet -> numpy -> sink entirely inside the
    task and only O(100-byte) lineage rows reach the JVM — on a cluster,
    point ``blob_sink`` at executor-mounted shared storage (the
    object-store variant swaps os.replace for a conditional put)."""
    from ..codecs.container import DEFAULT_ROW_INDEX_STRIDE
    from ..operators.encode import _blob_schema, _finish_group, _sink_path

    if row_index_stride is None:
        row_index_stride = DEFAULT_ROW_INDEX_STRIDE

    if parallelism is None:
        # one wave: one task per core, each a contiguous range of split
        # ids (so rows still come back in split-id order). Every task
        # costs ~20 ms of JVM CPU while the Python workers' CPU is the
        # same at any task count: on 16 splits at local[4], 4 tasks
        # took 0.91 s of CPU per job against 0.99 s at 8 and 1.21 s at
        # 16 (BENCH.md §21). With one split 4x the others, one wave's
        # straggler costs less than the spread of the job's wall time
        # (the skew check there).
        parallelism = spark.sparkContext.defaultParallelism
    # ONE stage, no shuffle: a native range source partitioned over split
    # ids + a broadcast split table looked up in the worker. (The earlier
    # createDataFrame(...).repartition(n) cost a 2-stage shuffle whose
    # fixed latency dominated short jobs and capped scaling efficiency.)
    bsplits = spark.sparkContext.broadcast(splits)
    sdf = spark.range(0, len(splits), 1, min(parallelism, len(splits)) or 1)

    if blob_sink is not None:
        import os

        os.makedirs(blob_sink, exist_ok=True)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.parquet as pq

        from ..worker_env import limit_worker_threads

        limit_worker_threads()
        table = bsplits.value
        for batch in batches:
            for sid, f, rg in (table[i] for i in batch.column("id").to_pylist()):
                data = pq.ParquetFile(f).read_row_group(
                    rg, columns=columns, use_threads=False
                )
                # deterministic sink name: a retried task overwrites
                # with identical bytes, never duplicates
                yield from _finish_group(
                    sid, data, codec, compression, row_index_stride,
                    bloom_columns, _sink_path(blob_sink, f"split-{sid:08d}.ofs"),
                ).to_batches()

    return sdf.mapInArrow(fn, _blob_schema(blob_sink, stats=False))
