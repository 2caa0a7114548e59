"""Iceberg-backed tokens source.

BASELINE.json's input_hint names an Iceberg table of pre-tokenized
training sequences. Tables are path-addressed (``name`` is a directory
holding an Iceberg ``metadata/`` dir) and need no jar: the pure-Python
manifest reader (``iceberg_meta.py``) resolves the current (or pinned)
snapshot's data files straight from the manifest-list and manifest Avro
files, then explodes them to row-group splits. Any other name raises
ValueError.

The deterministic (split_id, file, row_group) list feeds the
zero-payload-movement encode path: snapshot-pinned manifests make split
ids immutable => exact resume, the same determinism story as
``list_parquet_splits``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .iceberg_meta import (
    iceberg_to_spark_ddl,
    is_iceberg_table,
    list_data_file_seqs,
    list_data_files,
    list_delete_entries,
    list_equality_delete_entries,
    list_iceberg_splits_meta,
    local_path,
    read_table_metadata,
)


def _table_dir(name: str) -> str:
    """``name`` when it is a path-addressed Iceberg table, else a
    ValueError: catalog names (``catalog.db.table``) need the
    iceberg-spark runtime, which this engine does not use."""
    if not is_iceberg_table(name):
        raise ValueError(
            f"iceberg: {name!r} is not a path-addressed Iceberg table (a "
            "directory whose metadata/ holds a *.metadata.json); catalog "
            "names are not supported"
        )
    return name


def read_tokens_table(
    spark: SparkSession, name: str, partition_filter: dict | None = None
) -> DataFrame:
    """Read the Iceberg tokens table (input_hint shape). Path-addressed
    tables read the manifest's data files directly (snapshot-consistent:
    the file list comes from the pinned manifest, not a dir listing),
    with ``partition_filter`` pruned against manifest metadata before
    any data file is opened."""
    _table_dir(name)
    files = sorted(
        p for p, _ in list_data_files(name, partition_filter=partition_filter)
    )
    if not files:
        raise ValueError(
            f"iceberg table {name} has no data files"
            + (f" matching {partition_filter}" if partition_filter else "")
        )
    # explicit current-schema read = Iceberg projection semantics:
    # columns added since a file was written come back null, dropped
    # columns are not requested (schema evolution without rewrites)
    df = spark.read.schema(
        iceberg_to_spark_ddl(read_table_metadata(name))
    ).parquet(*files)
    deletes = list_delete_entries(name)
    eq_deletes = list_equality_delete_entries(name)
    if deletes or eq_deletes:
        # merge-on-read, Spark-first: the parquet source's hidden
        # _metadata.file_path/row_index identify each physical row,
        # and broadcast anti-joins apply ALL deletes in map-side
        # passes — no per-file Python, no shuffle of the data side.
        # Delete sets are metadata-scale (until compaction folds
        # them in), so broadcast is the right plan at 10^12 rows too.
        from pyspark.sql import functions as F

        cols = df.columns
        df = df.withColumn(
            "_fp",
            F.regexp_replace(F.col("_metadata.file_path"), "^file:/+", "/"),
        )
        if deletes:
            dels = spark.createDataFrame(
                deletes, "_del_path string, _del_pos long"
            )
            df = (
                df.withColumn("_pos", F.col("_metadata.row_index"))
                .join(
                    F.broadcast(dels),
                    (F.col("_fp") == F.col("_del_path"))
                    & (F.col("_pos") == F.col("_del_pos")),
                    "left_anti",
                )
                .drop("_pos")
            )
        if eq_deletes:
            # the spec's sequence rule: an equality delete at seq S
            # erases matching rows only from data files whose seq < S
            # (rows re-appended after the delete survive — upserts).
            # File seq rides in on a broadcast map keyed by file path;
            # one null-safe anti-join per delete file's column set.
            seq_rows = [
                (os.path.abspath(local_path(p)), int(s))
                for p, s in list_data_file_seqs(name).items()
            ]
            seq_df = spark.createDataFrame(
                seq_rows, "_sq_path string, _data_seq long"
            )
            df = df.join(
                F.broadcast(seq_df),
                F.col("_fp") == F.col("_sq_path"),
                "left",
            ).drop("_sq_path")
            by_cols: dict[tuple, list[dict]] = {}
            for e in eq_deletes:
                by_cols.setdefault(tuple(e["cols"]), []).append(e)
            for cset, group in sorted(by_cols.items()):
                dels = None
                for e in group:
                    part = spark.read.parquet(e["path"]).select(
                        *[F.col(c).alias(f"_eq_{c}") for c in cset],
                        F.lit(e["seq"]).alias("_del_seq"),
                    )
                    dels = part if dels is None else dels.unionAll(part)
                cond = F.col("_data_seq") < F.col("_del_seq")
                for c in cset:
                    cond = cond & F.col(c).eqNullSafe(F.col(f"_eq_{c}"))
                df = df.join(F.broadcast(dels), cond, "left_anti")
        df = df.select(*cols)
    return df


def list_iceberg_splits(
    name: str,
    snapshot_id: int | None = None,
    partition_filter: dict | None = None,
    column_predicates: list | None = None,
    since_snapshot_id: int | None = None,
) -> list[tuple[int, str, int]]:
    """Deterministic (split_id, file, row_group) list from the Iceberg
    manifest, row-group-exploded. ``since_snapshot_id`` returns only the
    files appended after that snapshot (incremental encode).

    The pure-Python manifest reader (no jar, no JVM) enumerates the data
    files of the current snapshot; pin ``snapshot_id`` for immutable
    split ids across resumes.
    """
    return list_iceberg_splits_meta(
        _table_dir(name),
        snapshot_id,
        partition_filter=partition_filter,
        column_predicates=column_predicates,
        since_snapshot_id=since_snapshot_id,
    )


def encode_iceberg_splits(
    spark: SparkSession,
    name: str,
    columns: list[str] | None = None,
    codec: str = "auto",
    compression: str = "zstd",
    parallelism: int | None = None,
    row_index_stride: int | None = None,
    snapshot_id: int | None = None,
    blob_sink: str | None = None,
    partition_filter: dict | None = None,
    column_predicates: list | None = None,
    since_snapshot_id: int | None = None,
) -> DataFrame:
    """Split-level encode of an Iceberg tokens table: the manifest
    supplies the splits; payload never crosses the JVM (same plan shape
    as ``encode_parquet_splits``). ``partition_filter`` narrows the
    split list via manifest pruning — a single-partition encode of a
    10^6-file table plans from the matching manifests only.
    ``since_snapshot_id`` encodes only files appended after that
    snapshot — the incremental daily-append job."""
    from .parquet_scan import encode_splits

    splits = list_iceberg_splits(
        name,
        snapshot_id=snapshot_id,
        partition_filter=partition_filter,
        column_predicates=column_predicates,
        since_snapshot_id=since_snapshot_id,
    )
    return encode_splits(
        spark,
        splits,
        columns=columns,
        codec=codec,
        compression=compression,
        parallelism=parallelism,
        row_index_stride=row_index_stride,
        blob_sink=blob_sink,
    )
