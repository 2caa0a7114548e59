"""Scale-safety properties of the dedup operators: join keys stay
bounded on adversarially skewed fixtures (the 100 TB failure modes from
stop-grams and hot LSH buckets)."""

import pytest
from pyspark.sql import functions as F

from orc_format_spark.functions.dedup import (
    gram_postings,
    lsh_candidate_pairs,
    ngram_jaccard_pairs,
)


@pytest.fixture(scope="module")
def skewed_docs(spark):
    # every doc shares the stop phrase; each doc also has unique content
    rows = [
        (i, f"the quick brown fox shared stop phrase unique-{i:04d}-{i * 7:05d}")
        for i in range(60)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_gram_postings_df_ceiling(skewed_docs):
    """With max_df set, no join key (gram) exceeds max_df postings."""
    capped = gram_postings(skewed_docs, n=4, max_df=10)
    max_group = (
        capped.groupBy("g").agg(F.count("*").alias("c")).agg(F.max("c")).first()[0]
    )
    assert max_group is not None and max_group <= 10
    # and the uncapped postings DO contain a quadratic key (sanity that
    # the fixture actually exercises the skew)
    uncapped = gram_postings(skewed_docs, n=4, max_df=None)
    max_unc = (
        uncapped.groupBy("g").agg(F.count("*").alias("c")).agg(F.max("c")).first()[0]
    )
    assert max_unc == 60


def test_capped_jaccard_drops_stop_gram_pairs(skewed_docs):
    """The df ceiling removes pairs whose only similarity is stop-grams."""
    uncapped = ngram_jaccard_pairs(skewed_docs, n=4, threshold=0.4)
    capped = ngram_jaccard_pairs(skewed_docs, n=4, threshold=0.4, max_df=10)
    # the shared stop phrase dominates every doc -> uncapped flags all pairs
    assert uncapped.count() > 0
    # with the cap, the shared grams are excluded from the join, so the
    # docs' unique tails keep them below threshold
    assert capped.count() == 0


def test_capped_jaccard_identical_when_no_heavy_grams(spark):
    """A cap above the true max df must not change results."""
    rows = [(i, f"wholly distinct content {i} {'x' * (i % 7)}") for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    base = ngram_jaccard_pairs(docs, n=4, threshold=0.2).collect()
    capped = ngram_jaccard_pairs(docs, n=4, threshold=0.2, max_df=1000).collect()
    assert sorted(map(tuple, base)) == sorted(map(tuple, capped))


def test_minhash_skips_short_docs(spark):
    """Docs shorter than the gram width produce no signature rows (the
    all-null-signature bucket collision guard)."""
    rows = [(1, "ab"), (2, "abcdefghij"), (3, ""), (4, "abcdefghij")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = lsh_candidate_pairs(docs, n=4, num_perm=8, bands=4)
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    assert got == {(2, 4)}


def test_null_text_sentinel_matches_oracle(spark):
    """NULL text is not equal content: each NULL-text doc survives
    dedup as its own group, and the DuckDB oracles reproduce the same
    sentinel (COALESCE(md5(..), 'null:'||doc_id)) so Spark and oracle
    agree on a corpus CONTAINING NULL text (ADVICE r4: the oracles used
    to merge all NULL-text docs into one md5(NULL) group)."""
    import duckdb

    from orc_format_spark.functions.dedup import (
        dedup_keep_first,
        exact_duplicate_groups,
        exact_duplicate_groups_sql,
    )

    rows = [
        (1, "alpha beta", "a"),
        (2, "alpha beta", "a"),  # exact dup of 1
        (3, None, "b"),
        (4, None, "b"),  # NULL content: NOT a dup of 3
        (5, "gamma", "c"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")

    kept = sorted(r.doc_id for r in dedup_keep_first(docs).collect())
    assert kept == [1, 3, 4, 5]  # both NULL docs kept, dup 2 dropped

    groups = exact_duplicate_groups(docs).collect()
    spark_set = {(r.fingerprint, r.n_copies, r.keep_doc_id) for r in groups}

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        "(1, 'alpha beta', 'a'), (2, 'alpha beta', 'a'), "
        "(3, NULL, 'b'), (4, NULL, 'b'), (5, 'gamma', 'c')"
        ") t(doc_id, text, source)"
    )
    oracle = con.execute(exact_duplicate_groups_sql()).fetchall()
    oracle_set = {(r[0], r[1], r[2]) for r in oracle}
    assert spark_set == oracle_set
    assert len(spark_set) == 4  # 'null:3' and 'null:4' are distinct groups
