"""Checkpointed encode job: wave-committed, exactly-resumable.

North-rule requirement: "resumable from checkpoint with per-partition
lineage + metrics". Spark's output commit is per-job, so restartability is
achieved by splitting the deterministic group space into ``waves``. A wave
commits in three steps: its group tasks write (the sink blobs, with
``blob_sink``), its parquet under ``out_dir/blobs/wave=<w>`` is
overwritten, and its lineage rows are appended to the Iceberg table at
``out_dir/metrics`` as a snapshot keyed ``commit-key: wave=<w>``. That
snapshot is the done marker and the only wave record: a re-run reads the
snapshot log (driver-side, no Spark job), skips the waves it names, and
(because group membership, in-group ordering, and codec choices are all
deterministic functions of the data) produces byte-identical blobs for
the remaining waves.

Byte-identity holds *within one engine version and one set of job
parameters*: codec internals may legally change their emitted bytes
across upgrades (e.g. the RLEv2 patched-width percentile moved from
interpolated to exact-count in round 1) while decode stays lossless, and
the parameters decide group membership. This is ENFORCED: the metrics
table is created with two properties, ``engine-version`` (the
``ENCODER_VERSION`` every v3 blob header carries) and ``job-params`` (the
resume fingerprint), and a resume that differs in either raises
RuntimeError before any grouping. A table with wave snapshots but without
these properties predates them and is refused the same way. Either way:
finish the job on the version and parameters that started it, or delete
``out_dir`` and re-encode from wave 0.

At cluster scale each wave is bounded work (total_groups/waves stripes),
so a preempted 100 TB run loses at most one wave.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..codecs.container import ENCODER_VERSION
from ..sources.iceberg_meta import (
    append_snapshot,
    create_table,
    is_iceberg_table,
    list_data_files,
    local_path,
    read_table_metadata,
)
from .encode import _write_atomic, encode_groups
from .partitioning import plan_num_groups, with_group_id


def _metadata(table_dir: str) -> dict:
    """The Iceberg table's current metadata, read driver-side with no
    Spark job; {} when the table does not exist yet."""
    return read_table_metadata(table_dir) if is_iceberg_table(table_dir) else {}


def _commit_keys(md: dict) -> list[str]:
    return [s.get("summary", {}).get("commit-key", "") for s in md.get("snapshots", [])]


def commit_lineage_metrics(
    metrics_dir: str,
    part_dir: str,
    name: str,
    commit_key: str,
    properties: dict[str, str] | None = None,
) -> None:
    """Commit one unit-of-work's lineage rows (blob column dropped) as a
    snapshot of the metrics Iceberg table at ``metrics_dir``. Idempotent
    per ``commit_key`` — the shared exactly-once commit used by batch
    waves (``run_encode_job``) and streaming micro-batches
    (``streaming/encode_stream.py``): a key already in the snapshot log
    returns before anything is written, so a replay never rewrites a
    file that a committed snapshot lists. Otherwise ``<name>.parquet``
    is published by rename and appended. While the table has no
    snapshot it is (re)created with ``properties``."""
    import os

    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    mlocal = local_path(metrics_dir)
    md = _metadata(mlocal)
    if commit_key in _commit_keys(md):
        return
    tbl = ds.dataset(local_path(part_dir), format="parquet").to_table()
    # drop the payload (absent in sink-mode waves, which carry only
    # blob_path) AND the Spark row-metadata KV pair the wave files
    # carry: Spark trusts org.apache.spark.sql.parquet.row.metadata over
    # the physical columns, so leaving it would resurrect a null `blob`
    if "blob" in tbl.column_names:
        tbl = tbl.drop_columns(["blob"])
    tbl = tbl.replace_schema_metadata(None)
    os.makedirs(mlocal, exist_ok=True)
    path = os.path.join(mlocal, f"{name}.parquet")
    buf = pa.BufferOutputStream()
    pq.write_table(tbl, buf)
    _write_atomic(path, buf.getvalue())
    if not md.get("snapshots"):
        create_table(
            mlocal,
            tbl.schema,
            properties={"table-kind": "codec-metrics", **(properties or {})},
        )
    append_snapshot(mlocal, [path], commit_key=commit_key)


def run_encode_job(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    num_groups: int | None = None,
    waves: int = 4,
    codec: str = "auto",
    compression: str = "zstd",
    key_col: str = "doc_id",
    size_col: str | None = "n_tok",
    tokens_per_group: int | None = None,
    blob_sink: bool = False,
    cluster_by: list[str] | None = None,
    stats: bool = False,
) -> DataFrame:
    """Encode ``df`` into ``out_dir/blobs`` with wave-level checkpointing.

    Returns the blobs DataFrame read back from disk.

    ``blob_sink=True`` switches the wave layout to the zero-ferry shape:
    each group's task writes its own ``out_dir/blobs/group-<id>.ofs``
    (deterministic name + deterministic bytes, so a re-run wave
    overwrites identically — the same exact-resume argument as the
    parquet layout) and the wave parquet under ``blobs/wave=<w>`` holds
    only lineage + ``blob_path``. Use it when groups are large enough
    that ferrying encoded payload into the JVM parquet writer dominates
    (it does from ~1M tokens/group up).

    ``cluster_by`` orders each group's rows by these columns before
    encoding (see ``encode_groups``); part of the job signature so the
    blob bytes stay deterministic across waves and resume. ``stats``
    adds the blob-level stripe-elimination column (see
    ``encode_groups``) — ``read_encoded(predicate=...)`` then skips
    whole blobs before decode. Like ``cluster_by``, keep it stable across a
    job's waves (it shapes the per-wave parquet schema).
    """
    if num_groups is None:
        if size_col and size_col in df.columns:
            total = df.agg(F.sum(size_col)).first()[0] or 0
        else:
            total = df.count()
        from .partitioning import DEFAULT_TOKENS_PER_GROUP

        num_groups = plan_num_groups(total, tokens_per_group or DEFAULT_TOKENS_PER_GROUP)
    waves = min(waves, num_groups)
    # the resume-safety fingerprint: every input that shapes group->wave
    # membership or blob bytes. A resume that changes any of these would
    # SKIP already-done waves computed under the old membership — wrong
    # data, not just wrong layout — so it must refuse, like the engine-
    # version guard below. Effective (resolved) values go in, so an
    # explicit num_groups= resume matches a data-derived first run.
    import json as _json

    fingerprint = _json.dumps(
        {
            "num_groups": num_groups,
            "waves": waves,
            "codec": codec,
            "compression": compression,
            "key_col": key_col,
            "size_col": size_col if size_col in (df.columns or []) else None,
            "blob_sink": bool(blob_sink),
            "cluster_by": list(cluster_by) if cluster_by else None,
            "stats": bool(stats),
        },
        sort_keys=True,
    )
    # the wave record and the refusal guards, BEFORE any grouping/persist:
    # a refused resume must not leak a cached DataFrame or do work
    blobs_path = f"{out_dir}/blobs"
    metrics_dir = f"{out_dir}/metrics"
    stamps = {"engine-version": ENCODER_VERSION, "job-params": fingerprint}
    md = _metadata(local_path(metrics_dir))
    done = {int(k.removeprefix("wave=")) for k in _commit_keys(md) if k.startswith("wave=")}
    props = md.get("properties", {})
    if done and not stamps.keys() <= props.keys():
        raise RuntimeError(
            f"run_encode_job: {out_dir} has committed waves but its metrics "
            "table carries no engine-version/job-params stamps: it was written "
            "before they existed. Finish the job on the engine version that "
            "started it, or delete the output directory to re-encode from "
            "wave 0."
        )
    if done and props["engine-version"] != ENCODER_VERSION:
        raise RuntimeError(
            f"run_encode_job: {out_dir} has waves written by engine version "
            f"{props['engine-version']} but this engine is {ENCODER_VERSION}; "
            "blob byte-identity across versions is not guaranteed. Finish the "
            "job on the original version, or delete the output directory to "
            "re-encode from wave 0."
        )
    if done and props["job-params"] != fingerprint:
        raise RuntimeError(
            f"run_encode_job: {out_dir} has waves written with different job "
            f"parameters {props['job-params']} than this run's {fingerprint}; "
            "resuming would skip waves whose group membership no longer "
            "matches. Re-run with the original parameters, or delete the "
            "output directory to re-encode from wave 0."
        )
    grouped = with_group_id(
        df, num_groups, key_col=key_col, size_col=size_col
    ).persist()
    try:
        for w in range(waves):
            if w in done:
                continue
            wave_df = grouped.filter(F.col("group_id") % waves == w)
            enc = encode_groups(
                wave_df,
                codec=codec,
                compression=compression,
                key_col=key_col,
                blob_sink=local_path(f"{out_dir}/blobstore") if blob_sink else None,
                cluster_by=cluster_by,
                stats=stats,
            )
            # idempotent wave commit: each wave owns its own directory and
            # is OVERWRITTEN on re-run, so a crash after the blob write but
            # before the snapshot cannot duplicate blobs on resume
            enc.write.mode("overwrite").parquet(f"{blobs_path}/wave={w}")
            # codec-lineage/metrics table (north_star: "emits ... a
            # codec-lineage row ... to a metrics Iceberg table"): derived
            # from the just-written wave parquet, NOT from `enc` —
            # re-materializing the uncached encode lineage would run the
            # whole Python-side encode a second time per wave. Written
            # driver-side to ONE deterministically named file per wave
            # (metrics are O(groups) rows, no payload), then committed as
            # an Iceberg append snapshot keyed on the wave: the done
            # marker that a resume reads.
            commit_lineage_metrics(
                metrics_dir, f"{blobs_path}/wave={w}", f"wave-{w}", f"wave={w}", stamps
            )
    finally:
        grouped.unpersist()
    return spark.read.parquet(blobs_path)


def read_encoded(
    spark: SparkSession,
    out_dir: str,
    schema: str,
    columns: list[str] | None = None,
    rows: tuple[int, int] | None = None,
    predicate: tuple | list[tuple] | None = None,
) -> DataFrame:
    """Read a `run_encode_job` output back as the original table shape —
    the reader half of the writer/finish API (the reference never shipped
    one: src/reader.rs is a commented-out stub). ``columns`` prunes at
    the blob level; ``rows`` point-reads a per-blob row slice via the
    row-group sub-index. Handles both wave layouts: inline ``blob``
    parquet and sink-mode ``blob_path`` rows (workers re-open the
    blobstore files themselves)."""
    from .encode import decode_blobs

    blobs = spark.read.parquet(f"{out_dir}/blobs")
    return decode_blobs(blobs, schema, columns=columns, rows=rows, predicate=predicate)


def read_metrics(spark: SparkSession, out_dir: str) -> DataFrame:
    """The job's codec-lineage/metrics table (one row per stripe),
    resolved through its Iceberg manifest (snapshot-consistent file
    list); pre-Iceberg layouts fall back to a plain parquet dir read."""
    mdir = f"{local_path(out_dir)}/metrics"
    if is_iceberg_table(mdir):
        files = sorted(p for p, _ in list_data_files(mdir))
        return spark.read.parquet(*files)
    return spark.read.parquet(mdir)


def job_metrics(blobs: DataFrame) -> DataFrame:
    """File-footer analog: aggregate metrics over all blobs
    (writer.rs:256-293 wrote merged file statistics; we aggregate the
    lineage rows)."""
    return blobs.agg(
        F.count("*").alias("n_groups"),
        F.sum("n_rows").alias("n_rows"),
        F.sum("n_values").alias("n_values"),
        F.sum("input_bytes").alias("input_bytes"),
        F.sum("output_bytes").alias("output_bytes"),
        (F.sum("output_bytes") / F.sum("input_bytes")).alias("compression_ratio"),
    )
