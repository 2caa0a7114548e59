#!/usr/bin/env python
"""Print the physical plans of the engine's key paths (plan audit).

    python scripts/explain_plans.py [> PLANS.md]

What to look for (and what the committed PLANS.md shows):
- flagship split encode: ONE stage — Range -> MapInArrow; no Exchange
  anywhere (split metadata is the only distributed data).
- grouped encode: exactly one Exchange (hashpartitioning on the
  deterministic group_id) feeding ApplyInArrow — the single shuffle the
  re-cluster path is allowed.
- decode with projection: MapInArrow over the blobs scan; column pruning
  happens inside the blob (stream skipping), so the parquet scan reads
  only the `blob` column (ReadSchema).
- parquet pushdown sanity: a filtered tokens read shows PushedFilters +
  pruned ReadSchema.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from pyspark.sql import SparkSession, functions as F

    from orc_format_spark import (
        TOKENS_SCHEMA,
        decode_blobs,
        encode_groups,
        encode_parquet_splits,
        tokenize_documents,
    )

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("plan-audit")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    sf = "/root/testdata/sf0.001"
    work = "/tmp/ofs_plan_audit"
    toks = tokenize_documents(spark.read.parquet(f"{sf}/documents.parquet"))
    toks.write.mode("overwrite").parquet(f"{work}/tokens")

    def show(title: str, df) -> None:
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        print(f"\n## {title}\n\n```\n{buf.getvalue().strip()}\n```")

    print("# PLANS — physical plan audit (generated by scripts/explain_plans.py)")
    show(
        "flagship split encode (expect: one stage, Range -> MapInArrow, no Exchange)",
        encode_parquet_splits(spark, f"{work}/tokens"),
    )
    blobs = encode_groups(
        spark.read.parquet(f"{work}/tokens"),
        num_groups=8,
        key_col="doc_id",
        size_col="n_tok",
    )
    show(
        "grouped encode (expect: exactly one Exchange on group_id -> ApplyInArrow)",
        blobs,
    )
    blobs.write.mode("overwrite").parquet(f"{work}/blobs")
    show(
        "projected decode (expect: parquet ReadSchema = blob only; pruning in-blob)",
        decode_blobs(
            spark.read.parquet(f"{work}/blobs"),
            "doc_id string, n_tok int",
            columns=["doc_id", "n_tok"],
        ),
    )
    show(
        "filtered tokens scan (expect: PushedFilters + pruned ReadSchema)",
        spark.read.parquet(f"{work}/tokens")
        .filter(F.col("n_tok") > 100)
        .select("doc_id", "n_tok"),
    )
    from orc_format_spark import decode_blob_files

    show(
        "sink-mode split encode (expect: same one-stage Range -> MapInArrow; "
        "only lineage rows cross to the JVM, blob_path not blob in output)",
        encode_parquet_splits(
            spark, f"{work}/tokens", blob_sink=f"{work}/sink"
        ),
    )
    sink_blobs = encode_parquet_splits(
        spark, f"{work}/tokens", blob_sink=f"{work}/sink"
    )
    sink_blobs.write.mode("overwrite").parquet(f"{work}/sink_lineage")
    show(
        "sink-file decode (expect: parquet ReadSchema = blob_path only; "
        "workers open blob files themselves — no payload in the plan)",
        decode_blob_files(
            spark.read.parquet(f"{work}/sink_lineage"), TOKENS_SCHEMA
        ),
    )
    show(
        "predicate decode (expect: MapInArrow over blob scan; chunk "
        "skipping + residual filter both inside the worker)",
        decode_blobs(
            spark.read.parquet(f"{work}/blobs"),
            "doc_id string, n_tok int",
            columns=["doc_id", "n_tok"],
            predicate=("n_tok", ">=", 100),
        ),
    )
    li = spark.read.parquet(f"{sf}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    encode_groups(
        li.withColumn("group_id", F.floor(F.col("l_orderkey") / F.lit(2000))),
        key_col="l_orderkey",
        stats=True,
    ).write.mode("overwrite").parquet(f"{work}/pruneblobs")
    show(
        "stats-pruned decode (expect: ArrowEvalPython runs the stats-only "
        "pandas UDF before MapInArrow, and the Filter holds no JSON-path "
        "expression; range and == predicates share this plan — the UDF "
        "also probes per-blob Bloom bitsets — and eliminated blobs never "
        "reach the MapInArrow decode worker)",
        decode_blobs(
            spark.read.parquet(f"{work}/pruneblobs"),
            "l_orderkey bigint, l_quantity double",
            predicate=("l_orderkey", ">=", 9000),
        ),
    )
    show(
        "clustered grouped encode (expect: the SAME single Exchange as "
        "grouped — cluster_by sorts inside the Arrow kernel, not the plan)",
        encode_groups(
            spark.read.parquet(f"{work}/tokens"),
            num_groups=8,
            key_col="doc_id",
            cluster_by=["n_tok"],
        ),
    )
    from orc_format_spark.sources import iceberg_meta as im
    from orc_format_spark.sources.iceberg import read_tokens_table

    tdir = f"{work}/ice_eq"
    import shutil

    shutil.rmtree(tdir, ignore_errors=True)
    import pyarrow.parquet as pq

    dtab = pq.read_table(f"{sf}/documents.parquet", columns=["doc_id", "text", "source"])
    im.create_table(tdir, dtab.schema)
    pq.write_table(dtab, f"{tdir}/docs.parquet")
    im.append_snapshot(tdir, [f"{tdir}/docs.parquet"], commit_key="load")
    im.append_delete_snapshot(tdir, [(f"{tdir}/docs.parquet", 0)])
    im.append_equality_delete_snapshot(tdir, [{"source": "src3"}], ["source"])
    show(
        "iceberg merge-on-read (expect: BroadcastHashJoin LeftAnti x2 — "
        "positional on (_fp,pos), equality null-safe on source with the "
        "seq rule; the data side never shuffles)",
        read_tokens_table(spark, tdir),
    )
    import __spark_entry__ as entrymod
    qs = entrymod.queries()
    show(
        "ORC bloom point lookup (expect: Scan orc with PushedFilters "
        "[IsNotNull, EqualTo(l_orderkey,...)] — the equality reaches "
        "ORC-Java's SearchArgument applier, which row-group-eliminates "
        "from OUR BLOOM_FILTER_UTF8 streams since the salted layout's "
        "min/max spans cannot; everything above the scan is "
        "WholeStageCodegen Filter+Project)",
        qs["orc_bloom_prune"](spark, sf),
    )
    show(
        "ORC strided range scan through the native reader (expect: the "
        "sink is ONE hashpartitioning Exchange on group_id feeding "
        "ApplyInArrow file writes; the read side is a MapInArrow over "
        "the metadata-sized lineage frame — each task opens its own "
        "files, row-group-eliminates from RowIndexEntry stats, seeks "
        "the positioned streams, and only then do rows exist in the "
        "plan; the residual WholeStageCodegen Filter above it is the "
        "exact predicate on group-granular superset rows)",
        qs["orc_rowgroup_prune"](spark, sf),
    )
    spark.stop()


if __name__ == "__main__":
    main()
