"""PySpark-native per-column lightweight-compression engine.

A from-scratch Spark-first reimplementation of the capabilities of the
reference ORC writer (blkerby/orc-format),
extended with the codec menu and scale machinery the reference lacks:
dictionary, RLEv2 (short-repeat/direct/patched-base/delta), zigzag+varint,
frame-of-reference bit-packing, FSST, per-partition codec auto-selection,
salted skew-aware grouping, checkpointed resume, lineage + metrics.

Layers:
  codecs/       pure numpy/pyarrow kernels (no Spark imports, unit-testable)
  operators/    Spark operators (applyInArrow / mapInArrow, one shuffle)
  sources/      tokens table, parquet/Iceberg splits, ORC files, the
                Python data source
  streaming/    Structured Streaming encode (checkpointed, exactly-once)
  predicate.py  the one predicate form and its three-valued stats test
  worker_env.py once-per-worker thread caps and zip-import guard
"""

from .operators.encode import (
    BLOB_FILE_SCHEMA,
    BLOB_SCHEMA,
    decode_blob_files,
    decode_blobs,
    encode_groups,
    prune_blobs,
    verify_blob_files,
    verify_blobs,
)
from .operators.compact import compact_blobs, plan_compaction
from .operators.job import job_metrics, read_encoded, read_metrics, run_encode_job
from .operators.partitioning import plan_num_groups, with_group_id
from .operators.stats import column_statistics
from .sources.iceberg import (
    encode_iceberg_splits,
    list_iceberg_splits,
    read_tokens_table,
)
from .sources.iceberg_meta import (
    append_snapshot,
    create_table,
    list_data_files,
    list_iceberg_splits_meta,
)
from .sources.datasource import OrcFormatDataSource, register_datasource
from .sources.parquet_scan import encode_parquet_splits, list_parquet_splits
from .sources.tokens import TOKENS_SCHEMA, detokenize, tokenize_documents

__all__ = [
    "OrcFormatDataSource",
    "register_datasource",
    "BLOB_FILE_SCHEMA",
    "BLOB_SCHEMA",
    "decode_blob_files",
    "TOKENS_SCHEMA",
    "append_snapshot",
    "column_statistics",
    "compact_blobs",
    "create_table",
    "decode_blobs",
    "detokenize",
    "encode_groups",
    "encode_iceberg_splits",
    "encode_parquet_splits",
    "list_data_files",
    "list_iceberg_splits",
    "list_iceberg_splits_meta",
    "list_parquet_splits",
    "read_tokens_table",
    "job_metrics",
    "plan_compaction",
    "prune_blobs",
    "plan_num_groups",
    "read_encoded",
    "read_metrics",
    "run_encode_job",
    "tokenize_documents",
    "verify_blob_files",
    "verify_blobs",
    "with_group_id",
]
