"""Blob compaction: deterministic packing + lossless merge."""

import json

import pytest

from orc_format_spark.operators.compact import plan_compaction


@pytest.fixture
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


def test_plan_compaction_deterministic_first_fit():
    m = plan_compaction([(0, 10), (1, 10), (2, 10), (3, 25), (4, 5)], 20)
    # 0+1 fill bucket 0 (=20, closes); 2 opens bucket 1 but 3 (25) would
    # overflow it, so 3 takes bucket 2 alone (>=20, closes); 4 -> bucket 3
    assert m == {0: 0, 1: 0, 2: 1, 3: 2, 4: 3}
    # input order never matters (sorted by group_id internally)
    assert plan_compaction([(4, 5), (2, 10), (0, 10), (3, 25), (1, 10)], 20) == m
    assert plan_compaction([], 20) == {}
    # all-small: everything packs into one bucket
    assert plan_compaction([(i, 1) for i in range(5)], 100) == {i: 0 for i in range(5)}


def test_compact_blobs_lossless_and_packed(spark, docs):
    from orc_format_spark import (
        TOKENS_SCHEMA,
        compact_blobs,
        decode_blobs,
        detokenize,
        encode_groups,
        tokenize_documents,
    )

    toks = tokenize_documents(docs)
    small = encode_groups(toks, num_groups=12, key_col="doc_id", size_col="n_tok")
    total_values = sum(r.n_values for r in small.select("n_values").collect())
    compacted = compact_blobs(small, target_values=total_values // 3 + 1)
    rows = compacted.collect()
    assert 2 <= len(rows) <= 4  # ~3 target-size buckets from 12 small blobs
    assert sum(r.n_values for r in rows) == total_values
    # lossless: decoded compacted set == original documents
    out = detokenize(decode_blobs(compacted, TOKENS_SCHEMA))
    got = sorted((str(r.doc_id), r.text) for r in out.collect())
    want = sorted((str(r.doc_id), r.text) for r in docs.select("doc_id", "text").collect())
    assert got == want
    # fresh lineage rows for the merged stripes
    for r in rows:
        assert json.loads(r.codecs)
        assert r.output_bytes > 0 and r.n_rows > 0


def test_compact_blobs_empty_and_deterministic(spark, docs):
    from orc_format_spark import compact_blobs, encode_groups, tokenize_documents

    toks = tokenize_documents(docs)
    small = encode_groups(toks, num_groups=6, key_col="doc_id", size_col="n_tok")
    assert compact_blobs(small.limit(0), target_values=100).count() == 0
    # distributed cumsum planning is deterministic: same lineage -> same
    # buckets and byte-identical re-encoded blobs
    a = {r.group_id: (r.checksum, r.output_bytes)
         for r in compact_blobs(small, target_values=50_000).collect()}
    b = {r.group_id: (r.checksum, r.output_bytes)
         for r in compact_blobs(small, target_values=50_000).collect()}
    assert a == b and a


def test_compact_blobs_cluster_by_shrinks(spark):
    """Re-clustering during compaction: rows sorted on the predicate
    column give longer runs + tighter chunk windows, so the compacted
    blob is no larger (usually smaller) and decodes to the same rows."""
    import random

    from orc_format_spark import TOKENS_SCHEMA, compact_blobs, decode_blobs, encode_groups

    rng = random.Random(3)
    # k is incompressible either way; cat + the cat-dependent v reward
    # clustering (long runs after the sort, none before)
    rows = [
        (rng.randrange(1 << 40), cat := rng.randrange(50), float(cat) * 1.5)
        for _ in range(20_000)
    ]
    df = spark.createDataFrame(rows, "k long, cat long, v double").repartition(8)
    small = encode_groups(df, num_groups=8, key_col="k")
    plain = compact_blobs(small, target_values=10**9)
    clustered = compact_blobs(small, target_values=10**9, cluster_by=["cat"])
    pb = sum(r.output_bytes for r in plain.select("output_bytes").collect())
    cb = sum(r.output_bytes for r in clustered.select("output_bytes").collect())
    assert cb <= pb
    want = sorted(map(tuple, df.collect()))
    got = sorted(
        map(tuple, decode_blobs(clustered, "k long, cat long, v double").collect())
    )
    assert got == want
