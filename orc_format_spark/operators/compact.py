"""Blob compaction: merge many small stripes into target-sized ones.

Streaming micro-batches and narrow waves leave small blobs behind; at
100 TB the maintenance job that fixes this must not touch the driver
with payload. Shape:

1. Driver reads ONLY the lineage metadata (group_id, n_values — a few
   dozen bytes per blob; 10^6 blobs is megabytes) and packs blobs into
   compaction buckets with deterministic first-fit in group_id order, so
   the same input always yields the same buckets (resume/idempotence).
2. One shuffle moves the COMPRESSED blob bytes to their bucket's task
   (compressed payload ≈ 0.28 B/token here vs 4 B/token raw — the
   cheapest possible regroup of this data; compare encode_groups, whose
   shuffle carries raw rows).
3. Each bucket's task decodes its member blobs, concatenates in
   group_id order (deterministic), and re-encodes one blob with fresh
   codec auto-selection and lineage — compaction is also re-optimization
   (a dictionary or RLE run that was too short per-small-blob may win on
   the merged stripe).

The reference has no compaction (its writer is single-pass,
src/writer.rs:84-90); this is the ORC "merge small files" maintenance
task re-expressed over our blob container.
"""

from __future__ import annotations

import pyarrow as pa

from pyspark.sql import DataFrame, functions as F

from ..codecs.container import DEFAULT_ROW_INDEX_STRIDE, decode_table
from ..worker_env import limit_worker_threads
from .encode import BLOB_SCHEMA, _finish_group


def plan_compaction(
    lineage: list[tuple[int, int]], target_values: int
) -> dict[int, int]:
    """Deterministic first-fit packing: (group_id, n_values) pairs ->
    {group_id: bucket}. Blobs are taken in group_id order; a bucket
    closes when it reaches ``target_values``. A single blob already at
    or past target keeps its own bucket.

    Driver-side reference planner (unit-testable, used for ad-hoc local
    plans); :func:`compact_blobs` itself plans DISTRIBUTED — see its
    docstring — so the compaction path has no unbounded driver
    collect."""
    mapping: dict[int, int] = {}
    bucket = 0
    filled = 0
    for gid, nv in sorted(lineage):
        if filled > 0 and filled + nv > target_values:
            bucket += 1
            filled = 0
        mapping[gid] = bucket
        filled += nv
        if filled >= target_values:
            bucket += 1
            filled = 0
    return mapping


def compact_blobs(
    blobs: DataFrame,
    target_values: int = 64_000_000,
    codec: str | dict = "auto",
    compression: str = "zstd",
    row_index_stride: int | None = DEFAULT_ROW_INDEX_STRIDE,
    cluster_by: list[str] | None = None,
) -> DataFrame:
    """Merge small blobs into ~``target_values``-value blobs.

    Returns a new blobs DataFrame (same BLOB_SCHEMA, bucket ids as
    group_id). Lossless: decoding the compacted set yields exactly the
    rows of the input set (asserted by oracle in the driver contract).

    ``cluster_by`` re-sorts each merged stripe on the named columns
    before re-encoding — compaction is the natural re-clustering
    opportunity: longer runs for RLE/dict and tighter per-chunk min/max
    windows for predicate skipping, at zero extra passes (the rows are
    already in memory to merge). Same semantics as
    ``encode_groups(cluster_by=...)``; sort is inside the Arrow kernel,
    never a plan-level Exchange.

    Planning is DISTRIBUTED — nothing per-blob ever reaches the driver:
    bucket = floor(exclusive-cumsum(n_values, ordered by group_id) /
    target_values), computed as a window over the LINEAGE METADATA rows
    only (group_id, n_values — O(24 B) each; 25M blobs at 100 TB is
    ~600 MB through one executor-side sort task, never driver memory).
    Deterministic: same lineage -> same buckets, like the first-fit
    reference planner (:func:`plan_compaction`), with one semantic
    difference — a blob straddling a bucket boundary stays in the
    earlier bucket, so bucket totals land in [target, target +
    max_blob) rather than (target - max_blob, target]; both are valid
    target-sized packings. The payload then moves in ONE shuffle keyed
    on bucket, exactly as before.
    """
    from pyspark.sql import Window

    w = Window.orderBy("group_id").rowsBetween(Window.unboundedPreceding, -1)
    # groupBy first: `planned` must be UNIQUE on group_id or the join
    # back to the payload fans out multiplicatively (duplicated rows in
    # the compacted output). A lineage table that repeats a group_id
    # (e.g. two encode epochs unioned) now packs by the group's TOTAL
    # n_values and every blob of the group lands in the same bucket.
    planned = (
        blobs.groupBy("group_id")
        .agg(F.sum("n_values").alias("n_values"))
        .withColumn("cum", F.coalesce(F.sum("n_values").over(w), F.lit(0)))
        .select(
            "group_id",
            F.floor(F.col("cum") / F.lit(int(target_values))).alias("bucket"),
        )
    )
    tagged = blobs.select("group_id", "blob").join(planned, "group_id")

    def fn(tbl: pa.Table) -> pa.Table:
        # explicit import: bare `pyarrow` does not expose .compute in a
        # fresh worker process
        import pyarrow.compute as pc

        limit_worker_threads()
        bucket = tbl.column("bucket")[0].as_py()
        order = pc.sort_indices(tbl.column("group_id")).to_pylist()
        blob_col = tbl.column("blob")
        parts = [decode_table(blob_col[i].as_py()) for i in order]
        data = pa.concat_tables(parts).combine_chunks()
        if cluster_by:
            data = data.sort_by([(c, "ascending") for c in cluster_by])
        return _finish_group(
            bucket, data, codec, compression, row_index_stride,
            bloom_columns=None, dest=None,
        )

    return tagged.groupBy("bucket").applyInArrow(fn, BLOB_SCHEMA)
