"""Unit tests for the token-pipeline operators (sequence packing,
vocabulary histogram, mixture sampling) — semantics and edge cases; the
driver-contract oracle parity at sf0.01 is covered by
tests/test_entry_contract.py (seq_pack / token_histogram /
mixture_sample)."""

import numpy as np
import pytest

from pyspark.sql import Row, functions as F

from orc_format_spark.functions.token_pipeline import (
    chunk_hex,
    mixture_sample,
    pack_sequences,
    token_histogram,
)


def _toks(spark, rows):
    return spark.createDataFrame(
        [Row(doc_id=d, tokens=t, n_tok=len(t), source="s") for d, t in rows],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )


def test_pack_single_group_semantics(spark):
    # one group: docs in doc_id string order, concat, cut at seq_len=4
    rows = [("a", [1, 2, 3]), ("b", [4, 5]), ("c", [6, 7, 8, 9, 10])]
    packed = pack_sequences(
        _toks(spark, rows), seq_len=4, num_groups=1, hasher="md5"
    ).collect()
    got = {r.chunk_id: (r.tokens, r.doc_starts) for r in packed}
    # stream = 1 2 3 4 5 6 7 8 9 10 -> chunks [1..4], [5..8]; 9,10 dropped
    assert got[0] == ([1, 2, 3, 4], [0, 3])  # doc a at 0, doc b at 3
    assert got[1] == ([5, 6, 7, 8], [1])  # doc c starts at stream pos 5
    assert len(got) == 2


def test_pack_drop_remainder_and_empty(spark):
    # total 3 tokens < seq_len -> zero chunks
    assert (
        pack_sequences(
            _toks(spark, [("a", [1, 2, 3])]), seq_len=8, num_groups=1
        ).count()
        == 0
    )
    # empty input -> zero chunks, stable schema
    empty = pack_sequences(_toks(spark, []), seq_len=4, num_groups=2)
    assert empty.count() == 0
    assert empty.columns == ["group_id", "chunk_id", "tokens", "doc_starts"]


def test_pack_empty_docs_are_boundaries(spark):
    rows = [("a", [1, 2]), ("b", []), ("c", [3, 4])]
    packed = pack_sequences(
        _toks(spark, rows), seq_len=4, num_groups=1
    ).collect()
    assert len(packed) == 1
    # empty doc b "starts" at position 2, same as c
    assert packed[0].tokens == [1, 2, 3, 4]
    assert packed[0].doc_starts == [0, 2, 2]


def test_pack_deterministic_across_partitioning(spark):
    rows = [(f"d{i:03d}", list(range(i % 7 + 1))) for i in range(50)]
    df1 = _toks(spark, rows).repartition(1)
    df8 = _toks(spark, rows).repartition(8, "doc_id")
    a = {
        (r.group_id, r.chunk_id): (r.tokens, r.doc_starts)
        for r in pack_sequences(df1, seq_len=16, num_groups=4).collect()
    }
    b = {
        (r.group_id, r.chunk_id): (r.tokens, r.doc_starts)
        for r in pack_sequences(df8, seq_len=16, num_groups=4).collect()
    }
    assert a == b and len(a) > 0


def test_pack_rejects_bad_seq_len(spark):
    with pytest.raises(ValueError, match="seq_len"):
        pack_sequences(_toks(spark, []), seq_len=0)


def test_chunk_hex(spark):
    df = _toks(spark, [("a", [0, 15, 255])]).select(
        chunk_hex(F.col("tokens")).alias("h")
    )
    assert df.collect()[0].h == "000fff"


def test_token_histogram_counts(spark):
    rows = [("a", [5, 5, 7]), ("b", [5, 900001]), ("c", [])]
    got = {
        r.token: r.cnt for r in token_histogram(_toks(spark, rows)).collect()
    }
    assert got == {5: 3, 7: 1, 900001: 1}


def test_token_histogram_topk_tiebreak(spark):
    # 4 tokens all with count 1: top-2 must be the lowest token ids
    rows = [("a", [9, 3, 7, 1])]
    got = [
        (r.token, r.cnt)
        for r in token_histogram(_toks(spark, rows), top_k=2).collect()
    ]
    assert got == [(1, 1), (3, 1)]


def test_mixture_sample_rates_and_determinism(spark):
    df = spark.createDataFrame(
        [Row(doc_id=str(i), source=("web" if i % 2 else "code")) for i in range(2000)],
        "doc_id string, source string",
    )
    kept = mixture_sample(df, {"web": 500_000, "code": 0}, seed=9)
    rows = kept.collect()
    assert all(r.source == "web" for r in rows)
    # ~half of the 1000 web docs at 500000 ppm (md5 is uniform)
    assert 380 <= len(rows) <= 620
    again = set((r.doc_id, r.source) for r in kept.collect())
    assert again == set((r.doc_id, r.source) for r in rows)
    # unknown source falls to default_ppm
    extra = mixture_sample(
        df, {"web": 0}, default_ppm=1_000_000
    )  # code rows all kept, web rows none
    assert sorted(r.source for r in extra.collect()) == ["code"] * 1000


def test_mixture_sample_xxh_path(spark):
    df = spark.createDataFrame(
        [Row(doc_id=str(i), source="web") for i in range(500)],
        "doc_id string, source string",
    )
    n = mixture_sample(df, {"web": 250_000}, hasher="xxh").count()
    assert 60 <= n <= 190  # ~125 expected


def test_pack_matches_numpy_reference(spark):
    """Cross-check the whole packed stream against a plain numpy
    reimplementation on a bigger random-ish fixture."""
    rng = np.random.RandomState(7)
    rows = [
        (f"x{i:04d}", [int(v) for v in rng.randint(0, 1000, rng.randint(0, 40))])
        for i in range(200)
    ]
    seq_len, groups = 64, 3
    packed = pack_sequences(
        _toks(spark, rows), seq_len=seq_len, num_groups=groups, hasher="md5"
    ).collect()
    from orc_format_spark.operators.partitioning import md5_hash60

    # reference: group by the same md5 hash computed via Spark once
    gids = {
        r.doc_id: r.g
        for r in _toks(spark, rows)
        .select("doc_id", (md5_hash60(F.col("doc_id"), seed=0) % groups).alias("g"))
        .collect()
    }
    for g in range(groups):
        stream = []
        for d, t in sorted(rows):
            if gids[d] == g:
                stream.extend(t)
        want = [
            stream[k * seq_len : (k + 1) * seq_len]
            for k in range(len(stream) // seq_len)
        ]
        got = sorted(
            (r.chunk_id, r.tokens) for r in packed if r.group_id == g
        )
        assert [t for _, t in got] == want


# ------------------------------------------------------- train/val split


def _docs(spark, ids):
    return spark.createDataFrame(
        [Row(doc_id=str(i), source=f"s{i % 3}") for i in ids],
        "doc_id string, source string",
    )


def test_train_val_split_partitions_and_fractions(spark):
    from orc_format_spark.functions.token_pipeline import train_val_split

    out = train_val_split(
        _docs(spark, range(2000)), val_ppm=200_000, test_ppm=100_000
    )
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 2000  # a partition: every doc, once
    assert set(counts) == {"train", "val", "test"}
    # hash split tracks the requested ppm within sampling noise
    assert 0.14 < counts["val"] / 2000 < 0.26
    assert 0.05 < counts["test"] / 2000 < 0.16


def test_train_val_split_stable_under_corpus_growth(spark):
    """A doc's split is a pure function of its key: assignments computed
    on a subset equal those computed on the grown corpus."""
    from orc_format_spark.functions.token_pipeline import train_val_split

    small = train_val_split(_docs(spark, range(100)))
    big = train_val_split(_docs(spark, range(1000)))
    sm = {r["doc_id"]: r["split"] for r in small.collect()}
    bg = {r["doc_id"]: r["split"] for r in big.collect()}
    assert all(bg[k] == v for k, v in sm.items())


def test_train_val_split_xxh_is_map_side(spark):
    from orc_format_spark.functions.token_pipeline import train_val_split

    out = train_val_split(_docs(spark, range(10)), hasher="xxh")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # one map-side expression, no shuffle


# ------------------------------------------------------ repetition profile


def test_repetition_profile_hand_computed(spark):
    from orc_format_spark.functions.text import repetition_profile

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b a c a b"),
            Row(doc_id=2, text="solo"),
            Row(doc_id=3, text=""),          # wordless: absent from output
            Row(doc_id=4, text="xy xy xy"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.asDict() for r in repetition_profile(docs).collect()}
    assert set(got) == {1, 2, 4}
    d1 = got[1]
    # words: a x3, b x2, c x1; bigrams: "a b" x2, "b a", "a c", "c a"
    assert d1["n_words"] == 6 and d1["n_distinct_words"] == 3
    assert d1["n_dup_words"] == 3
    assert d1["dup_word_chars"] == 1 * 3 + 1 * 2
    assert d1["top_word_n"] == 3 and d1["top_bigram_n"] == 2
    assert got[2]["top_bigram_n"] == 0 and got[2]["n_words"] == 1
    d4 = got[4]
    assert d4["n_dup_words"] == 2 and d4["dup_word_chars"] == 6
    assert d4["top_bigram_n"] == 2  # "xy xy" twice


# ------------------------------------------------- epoch shuffle


def test_epoch_shuffle_order_and_determinism(spark):
    from orc_format_spark.functions.token_pipeline import epoch_shuffle

    docs = spark.createDataFrame(
        [Row(doc_id=str(i)) for i in range(500)], "doc_id string"
    )
    out = epoch_shuffle(docs, epoch=3, num_buckets=8)
    rows = out.collect()
    assert len(rows) == 500 and len({r.doc_id for r in rows}) == 500
    # in-partition reading order is (bucket, order_key): verify inside
    # each physical partition
    parts = out.rdd.glom().collect()
    for part in parts:
        keys = [(r.bucket, r.order_key) for r in part]
        assert keys == sorted(keys)
    # same epoch -> identical assignment; different epoch -> a genuinely
    # different permutation
    a = {r.doc_id: r.order_key for r in epoch_shuffle(docs, epoch=3).collect()}
    b = {r.doc_id: r.order_key for r in epoch_shuffle(docs, epoch=3).collect()}
    c = {r.doc_id: r.order_key for r in epoch_shuffle(docs, epoch=4).collect()}
    assert a == b
    assert a != c
    # bucket is derived from order_key, never from physical layout
    assert all(r.bucket == r.order_key % 8 for r in rows)


def test_epoch_shuffle_md5_matches_duckdb(spark):
    import duckdb

    from orc_format_spark.functions.token_pipeline import (
        epoch_shuffle,
        epoch_shuffle_sql,
    )

    docs = spark.createDataFrame(
        [Row(doc_id=str(i)) for i in range(64)], "doc_id string"
    )
    got = {
        r.doc_id: (r.order_key, r.bucket)
        for r in epoch_shuffle(docs, epoch=2, num_buckets=16, hasher="md5").collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE documents AS SELECT CAST(range AS VARCHAR) doc_id FROM range(64)")
    sql = epoch_shuffle_sql(epoch=2, num_buckets=16, key_expr="doc_id", select="doc_id")
    want = {d: (o, b) for d, o, b in con.execute(sql).fetchall()}
    assert got == want


# ------------------------------------------------- token remap


def test_remap_tokens_vectorized(spark):
    from orc_format_spark.functions.token_pipeline import remap_tokens

    toks = spark.createDataFrame(
        [
            Row(doc_id="a", tokens=[1, 2, 3, 2], n_tok=4),
            Row(doc_id="b", tokens=[], n_tok=0),
            Row(doc_id="c", tokens=[255], n_tok=1),
        ],
        "doc_id string, tokens array<int>, n_tok int",
    )
    out = {
        r.doc_id: r.tokens
        for r in remap_tokens(toks, {2: 9, 255: 0}, vocab_size=256).collect()
    }
    assert out == {"a": [1, 9, 3, 9], "b": [], "c": [0]}
    # out-of-range id -> loud error, not silent garbage
    bad = spark.createDataFrame(
        [Row(doc_id="x", tokens=[300], n_tok=1)],
        "doc_id string, tokens array<int>, n_tok int",
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="remap_tokens"):
        remap_tokens(bad, {}, vocab_size=256).collect()


def test_pack_rejects_null_tokens(spark):
    """Null payload lists must fail loudly: list_value_length(null) is
    NaN, whose int64 cast silently becomes INT64_MIN garbage in
    doc_starts while flatten() skips the missing values."""
    df = spark.createDataFrame(
        [Row(doc_id="a", tokens=[1, 2], n_tok=2, source="s"),
         Row(doc_id="b", tokens=None, n_tok=0, source="s")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    with pytest.raises(Exception, match="null tokens"):
        pack_sequences(df, seq_len=2, num_groups=1).collect()


def test_remap_rejects_null_tokens(spark):
    """remap_tokens rebuilds the list array from offsets+values, which
    would silently turn a null list into an empty one."""
    from orc_format_spark.functions.token_pipeline import remap_tokens

    df = spark.createDataFrame(
        [Row(doc_id="a", tokens=[1, 2]), Row(doc_id="b", tokens=None)],
        "doc_id string, tokens array<int>",
    )
    with pytest.raises(Exception, match="null tokens"):
        remap_tokens(df, {1: 7}, vocab_size=16).collect()
