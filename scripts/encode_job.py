#!/usr/bin/env python
"""spark-submit entrypoint for the encode pipeline.

Cluster usage (the north-rule deployment shape):

    zip -r orc_format_spark.zip orc_format_spark
    spark-submit --master <cluster> --py-files orc_format_spark.zip \
        scripts/encode_job.py --input <tokens table path> --output <dir> \
        [--mode splits|grouped] [--codec auto] [--waves 8] [--blob-sink DIR]

``splits`` mode (default) encodes one parquet row-group per stripe with
no payload shuffle; ``grouped`` mode runs the deterministic salted
doc_id grouping + wave-checkpointed resume (re-running with the same
--output resumes exactly). ``--input`` also accepts a path-addressed
Iceberg table directory (detected by its metadata/ dir; resolved by the
pure-Python manifest reader, no runtime jar needed).

``--blob-sink DIR`` (splits mode) / ``--blob-sink 1`` (grouped mode)
makes each task persist its own blob and ship only lineage to the JVM —
the zero-ferry path; point it at executor-mounted shared storage on a
cluster.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# running as a plain script puts scripts/ (not the repo root) on
# sys.path; on a cluster --py-files provides the package instead
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--input",
        required=True,
        help="tokens table: parquet path or path-addressed Iceberg table dir",
    )
    ap.add_argument("--output", required=True, help="output dir for blobs")
    ap.add_argument("--mode", choices=("splits", "grouped"), default="splits")
    ap.add_argument("--codec", default="auto")
    ap.add_argument("--compression", default="zstd")
    ap.add_argument("--waves", type=int, default=8)
    ap.add_argument("--num-groups", type=int, default=None)
    ap.add_argument(
        "--since-snapshot",
        type=int,
        default=None,
        help="splits mode, Iceberg input: encode only data files appended "
        "after this snapshot id (incremental daily-append job)",
    )
    ap.add_argument(
        "--blob-sink",
        default=None,
        help="splits mode: directory tasks write blobs into (zero-ferry); "
        "grouped mode: any truthy value enables <output>/blobstore",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("orc-format-spark-encode").getOrCreate()

    from orc_format_spark.sources.iceberg_meta import is_iceberg_table

    iceberg_input = is_iceberg_table(args.input)
    if args.mode == "splits":
        if iceberg_input:
            from orc_format_spark.sources.iceberg import encode_iceberg_splits

            blobs = encode_iceberg_splits(
                spark,
                args.input,
                codec=args.codec,
                compression=args.compression,
                blob_sink=args.blob_sink,
                since_snapshot_id=args.since_snapshot,
            )
        else:
            from orc_format_spark import encode_parquet_splits

            if args.since_snapshot is not None:
                raise SystemExit(
                    "--since-snapshot requires an Iceberg input "
                    "(snapshot watermarks come from its metadata)"
                )
            blobs = encode_parquet_splits(
                spark,
                args.input,
                codec=args.codec,
                compression=args.compression,
                blob_sink=args.blob_sink,
            )
        blobs.write.mode("overwrite").parquet(f"{args.output}/blobs")
        blobs = spark.read.parquet(f"{args.output}/blobs")
        # codec-lineage metrics table, derived from the written blobs
        # (sink-mode rows carry blob_path, not blob)
        metrics_df = blobs.drop("blob") if "blob" in blobs.columns else blobs
        metrics_df.write.mode("overwrite").parquet(f"{args.output}/metrics")
    else:
        from orc_format_spark import run_encode_job

        if args.since_snapshot is not None:
            raise SystemExit(
                "--since-snapshot is a splits-mode option (grouped mode "
                "re-clusters the full merge-on-read view)"
            )
        if iceberg_input:
            from orc_format_spark.sources.iceberg import read_tokens_table

            toks = read_tokens_table(spark, args.input)
        else:
            toks = spark.read.parquet(args.input)
        blobs = run_encode_job(
            spark,
            toks,
            args.output,
            num_groups=args.num_groups,
            waves=args.waves,
            codec=args.codec,
            compression=args.compression,
            blob_sink=bool(args.blob_sink),
        )

    from orc_format_spark import job_metrics

    metrics = job_metrics(blobs).first().asDict()
    print(json.dumps({k: (float(v) if v is not None else None) for k, v in metrics.items()}))
    spark.stop()


if __name__ == "__main__":
    main()
