"""End-to-end Spark tests: tokenize -> salted group -> encode -> decode ->
detokenize must reproduce the input bit-identically (SURVEY.md section
5.2, test 3)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from orc_format_spark import (
    column_statistics,
    decode_blobs,
    detokenize,
    encode_groups,
    job_metrics,
    run_encode_job,
    tokenize_documents,
    verify_blobs,
    with_group_id,
    TOKENS_SCHEMA,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_tokenize_detokenize_identity(spark, docs):
    toks = tokenize_documents(docs)
    back = detokenize(toks)
    orig = docs.select(F.col("doc_id").cast("string"), "text")
    assert back.exceptAll(orig).count() == 0
    assert orig.exceptAll(back).count() == 0
    row = toks.agg(F.sum("n_tok").alias("t")).first()
    assert row.t == docs.agg(F.sum(F.octet_length("text"))).first()[0]


def test_tokens_roundtrip_through_blobs(spark, docs):
    toks = tokenize_documents(docs)
    blobs = encode_groups(toks, num_groups=4, key_col="doc_id", size_col="n_tok")
    blobs.cache()
    assert blobs.count() <= 4
    decoded = decode_blobs(blobs, TOKENS_SCHEMA)
    orig = toks.select("doc_id", "tokens", "n_tok", "source")
    assert decoded.exceptAll(orig).count() == 0
    assert orig.exceptAll(decoded).count() == 0
    ok = verify_blobs(blobs).agg(F.min("ok")).first()[0]
    assert ok is True
    m = job_metrics(blobs).first()
    assert m.n_rows == docs.count()
    assert m.output_bytes < m.input_bytes  # text must actually compress
    blobs.unpersist()


def test_lineitem_roundtrip_mixed_types(spark):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    cols = "l_orderkey l_partkey l_quantity l_returnflag l_shipdate".split()
    df = li.select(cols)
    blobs = encode_groups(df, num_groups=3, key_col="l_orderkey")
    schema = ", ".join(f"{c} {t}" for c, t in df.dtypes)
    decoded = decode_blobs(blobs, schema)
    assert decoded.exceptAll(df).count() == 0
    assert df.exceptAll(decoded).count() == 0


def test_with_group_id_deterministic_and_skew_aware(spark, docs):
    toks = tokenize_documents(docs)
    g1 = with_group_id(toks, 16).select("doc_id", "group_id")
    g2 = with_group_id(toks, 16).select("doc_id", "group_id")
    assert g1.exceptAll(g2).count() == 0
    per_group = (
        with_group_id(toks, 8)
        .groupBy("group_id")
        .agg(F.sum("n_tok").alias("t"))
        .select("t")
        .collect()
    )
    sizes = np.array([r.t for r in per_group], float)
    assert sizes.max() / sizes.mean() < 3.0  # no pathological group


def _roll_back_one_version(table_dir):
    """The metrics table as a crash before its newest commit left it:
    the newest metadata version deleted, the hint one version back."""
    import os

    from orc_format_spark.sources import iceberg_meta as im

    v = im._current_version(table_dir)
    os.remove(f"{table_dir}/metadata/v{v}.metadata.json")
    with open(f"{table_dir}/metadata/version-hint.text", "w") as f:
        f.write(str(v - 1))


def _wave_keys(out):
    from orc_format_spark.sources import iceberg_meta as im

    md = im.read_table_metadata(f"{out}/metrics")
    return sorted(s["summary"]["commit-key"] for s in md["snapshots"])


def test_run_encode_job_resume(spark, docs, tmp_path, monkeypatch):
    import glob
    import os
    import shutil

    from orc_format_spark.operators import job as job_mod

    toks = tokenize_documents(docs)
    out = str(tmp_path / "job1")
    blobs1 = run_encode_job(
        spark, toks, out, num_groups=6, waves=3, tokens_per_group=50_000
    )
    first = {r.group_id: (r.wave, bytes(r.blob)) for r in blobs1.collect()}
    assert len(first) <= 6
    assert {w for w, _ in first.values()} == {0, 1, 2}
    # resume: nothing left to do, blobs unchanged
    blobs2 = run_encode_job(spark, toks, out, num_groups=6, waves=3)
    assert blobs2.count() == len(first)
    # simulate a crash before wave 2 committed: its snapshot (the last
    # metadata version) and its output are gone
    _roll_back_one_version(f"{out}/metrics")
    assert _wave_keys(out) == ["wave=0", "wave=1"]
    shutil.rmtree(f"{out}/blobs/wave=2")
    done = {p: os.stat(p).st_mtime_ns for p in glob.glob(f"{out}/blobs/wave=*/*")}
    encoded = []
    real = job_mod.encode_groups

    def spy(*a, **k):
        encoded.append(a[0])
        return real(*a, **k)

    monkeypatch.setattr(job_mod, "encode_groups", spy)
    blobs3 = run_encode_job(spark, toks, out, num_groups=6, waves=3)
    # only wave 2 was re-encoded; waves 0 and 1 were not rewritten
    assert len(encoded) == 1
    assert {r.group_id % 3 for r in encoded[0].select("group_id").collect()} == {2}
    assert {
        p: os.stat(p).st_mtime_ns for p in glob.glob(f"{out}/blobs/wave=[01]/*")
    } == done
    # the resumed blobs are the first run's, byte for byte
    assert {r.group_id: (r.wave, bytes(r.blob)) for r in blobs3.collect()} == first
    assert _wave_keys(out) == ["wave=0", "wave=1", "wave=2"]
    decoded = decode_blobs(blobs3, TOKENS_SCHEMA)
    orig = toks.select("doc_id", "tokens", "n_tok", "source")
    assert decoded.exceptAll(orig).count() == 0


def test_run_encode_job_noop_resume_runs_one_spark_job(spark, docs, tmp_path):
    """A resume of a finished job reads the wave record from the
    metrics table's metadata, driver-side: its only Spark job is the
    final read of the blobs."""
    toks = tokenize_documents(docs)
    out = str(tmp_path / "jobn")
    run_encode_job(spark, toks, out, num_groups=6, waves=3)
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    sc.setJobGroup("noop-resume", "no-op resume of a finished job")
    try:
        run_encode_job(spark, toks, out, num_groups=6, waves=3)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    bus.waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup("noop-resume")) == 1


def test_run_encode_job_unstamped_table_raises(spark, docs, tmp_path, monkeypatch):
    """A metrics table with wave snapshots but no engine/parameter
    stamps was written before the stamps existed: its waves cannot be
    checked, so the resume refuses before any grouping."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from orc_format_spark.operators import job as job_mod
    from orc_format_spark.sources import iceberg_meta as im

    mdir = str(tmp_path / "jobu" / "metrics")
    rows = pa.table({"group_id": pa.array([0], pa.int64())})
    im.create_table(mdir, rows.schema, properties={"table-kind": "codec-metrics"})
    pq.write_table(rows, f"{mdir}/wave-0.parquet")
    im.append_snapshot(mdir, [f"{mdir}/wave-0.parquet"], commit_key="wave=0")

    def no_grouping(*a, **k):
        raise AssertionError("grouped before refusing")

    monkeypatch.setattr(job_mod, "with_group_id", no_grouping)
    with pytest.raises(RuntimeError, match="no engine-version/job-params stamps"):
        run_encode_job(spark, tokenize_documents(docs), str(tmp_path / "jobu"),
                       num_groups=6, waves=3)


def test_column_statistics_matches_sql(spark):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    st = column_statistics(li, ["l_orderkey", "l_quantity", "l_returnflag"])
    rows = {r.column: r for r in st.collect()}
    exp = li.agg(
        F.count(F.lit(1)),
        F.min("l_orderkey"),
        F.max("l_orderkey"),
        F.sum("l_orderkey"),
        F.min("l_quantity"),
        F.sum(F.octet_length("l_returnflag")),
    ).first()
    assert rows["l_orderkey"].n_values == exp[0]
    assert rows["l_orderkey"].min_long == exp[1]
    assert rows["l_orderkey"].max_long == exp[2]
    assert rows["l_orderkey"].sum_long == exp[3]
    assert rows["l_quantity"].min_double == exp[4]
    assert rows["l_returnflag"].sum_lengths == exp[5]


def test_read_encoded_roundtrip(spark, tmp_path):
    """write (run_encode_job) -> read_encoded: the user-facing façade."""
    from orc_format_spark import (
        TOKENS_SCHEMA,
        read_encoded,
        read_metrics,
        run_encode_job,
        tokenize_documents,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    toks = tokenize_documents(docs)
    out = str(tmp_path / "job")
    run_encode_job(spark, toks, out, num_groups=6, waves=2)
    back = read_encoded(spark, out, TOKENS_SCHEMA)
    assert back.count() == docs.count()
    pruned = read_encoded(spark, out, "doc_id string, n_tok int",
                          columns=["doc_id", "n_tok"])
    assert pruned.columns == ["doc_id", "n_tok"]
    assert pruned.count() == docs.count()
    m = read_metrics(spark, out)
    assert "blob" not in m.columns and m.count() >= 1


def test_run_encode_job_cross_version_resume_raises(spark, docs, tmp_path, monkeypatch):
    """A wave-resumed job must finish on the engine version it started
    with (blob byte-identity, job.py module docstring); a resume under a
    different ENCODER_VERSION raises up front."""
    import orc_format_spark.operators.job as job_mod

    toks = tokenize_documents(docs)
    out = str(tmp_path / "jobv")
    run_encode_job(spark, toks, out, num_groups=4, waves=2, tokens_per_group=50_000)
    monkeypatch.setattr(job_mod, "ENCODER_VERSION", "99.0-test")
    with pytest.raises(RuntimeError, match="engine version"):
        run_encode_job(spark, toks, out, num_groups=4, waves=2)


def test_run_encode_job_changed_params_resume_raises(spark, docs, tmp_path):
    """A resume that changes group->wave membership (different waves= or
    num_groups=) would skip done waves computed under the OLD membership
    — wrong data, so it must refuse up front. Same-params resume (the
    test above this guard was added for) stays a clean no-op."""
    toks = tokenize_documents(docs)
    out = str(tmp_path / "jobp")
    run_encode_job(spark, toks, out, num_groups=4, waves=2, tokens_per_group=50_000)
    with pytest.raises(RuntimeError, match="different job parameters"):
        run_encode_job(spark, toks, out, num_groups=4, waves=4)
    with pytest.raises(RuntimeError, match="different job parameters"):
        run_encode_job(spark, toks, out, num_groups=6, waves=2)
    with pytest.raises(RuntimeError, match="different job parameters"):
        run_encode_job(spark, toks, out, num_groups=4, waves=2, codec="rle_v1")


def test_heavy_threshold_widens_sample_instead_of_full_scan(spark):
    """Degenerate 1/128 hash sample: the estimator widens geometrically
    (RuntimeWarning per halving) instead of silently jumping to a
    full-table quantile pass; an empty input raises, not IndexError."""
    import warnings

    from orc_format_spark.operators.partitioning import heavy_threshold_estimate

    tiny = spark.createDataFrame(
        [(f"doc{i}", 10 * (i + 1)) for i in range(3)], "doc_id string, n_tok int"
    )
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        thr = heavy_threshold_estimate(tiny, "n_tok", "doc_id")
    assert thr in (10.0, 20.0, 30.0)
    widen = [w for w in rec if issubclass(w.category, RuntimeWarning)]
    assert widen, "expected explicit widening warnings on a degenerate sample"
    empty = tiny.filter("n_tok < 0")
    with pytest.raises(ValueError, match="no non-null"):
        heavy_threshold_estimate(empty, "n_tok", "doc_id")


def test_md5_hash60_spark_duckdb_python_agree(spark):
    """The group-id hash contract every md5-grouped oracle relies on:
    Spark's md5_hash60, DuckDB evaluating md5_hash60_sql, and the first
    15 hex digits of Python's md5 give the same integer, seeded or not,
    on empty and non-ASCII keys."""
    import hashlib

    import duckdb

    from orc_format_spark.operators.partitioning import md5_hash60, md5_hash60_sql

    keys = ["", "a", "doc_42", "é✓"]
    seeds = [None, 0, 7]
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    got = df.select(
        "k", *[md5_hash60(F.col("k"), seed=s).alias(f"h{i}") for i, s in enumerate(seeds)]
    ).collect()
    con = duckdb.connect()
    for row in got:
        for i, seed in enumerate(seeds):
            salted = row.k if seed is None else f"{row.k}#{seed}"
            want = int(hashlib.md5(salted.encode()).hexdigest()[:15], 16)
            duck = con.execute(f"SELECT {md5_hash60_sql('?', seed)}", [row.k]).fetchone()[0]
            assert row[f"h{i}"] == duck == want, (row.k, seed)


def test_char_varchar_roundtrip(spark):
    """Reference-type parity for Schema::Char(n)/VarChar(n)
    (schema.rs:17-18): the reference's data writer treats both exactly
    as String (data.rs:63 — same DATA+LENGTH streams; only the footer
    type kind differs), and Spark likewise surfaces char/varchar columns
    to Arrow as (padded) strings. The container therefore roundtrips
    them as string payloads, and decode accepts char(n)/varchar(n) DDL."""
    from orc_format_spark import decode_blobs, encode_groups

    df = spark.sql(
        "SELECT id, CAST(concat('c', id) AS CHAR(8)) AS c8, "
        "CAST(concat('v', id) AS VARCHAR(12)) AS v12 "
        "FROM range(200)"
    )
    blobs = encode_groups(df, num_groups=2, key_col="id")
    out = decode_blobs(blobs, "id bigint, c8 char(8), v12 varchar(12)")
    got = {r.id: (r.c8, r.v12) for r in out.collect()}
    want = {r.id: (r.c8, r.v12) for r in df.collect()}
    assert got == want
    # whatever value representation Spark produced for the char cast
    # (padded or not, version-dependent) survives the container exactly
    assert got[7] == want[7]


def test_run_encode_job_blob_sink(spark, docs, tmp_path):
    """Sink-mode job: waves carry blob_path lineage, the blobstore holds
    deterministic group files, read_encoded decodes through them, resume
    re-runs nothing, and the result matches the inline-blob layout."""
    import os

    from orc_format_spark import (
        TOKENS_SCHEMA,
        read_encoded,
        read_metrics,
        run_encode_job,
        tokenize_documents,
    )

    toks = tokenize_documents(docs)
    out = str(tmp_path / "job_sink")
    blobs = run_encode_job(
        spark, toks, out, num_groups=6, waves=3, blob_sink=True
    )
    assert "blob_path" in blobs.columns and "blob" not in blobs.columns
    store = sorted(os.listdir(f"{out}/blobstore"))
    assert store == [f"group-{g:08d}.ofs" for g in range(6)]
    decoded = read_encoded(spark, out, TOKENS_SCHEMA)
    orig = detokenize(decoded).select("doc_id", "text").collect()
    assert sorted(str(r.doc_id) for r in orig) == sorted(
        str(r.doc_id) for r in docs.collect()
    )
    assert read_metrics(spark, out).count() == 6
    # resume: nothing re-runs, blobstore untouched (same mtimes)
    mt = {f: os.path.getmtime(f"{out}/blobstore/{f}") for f in store}
    run_encode_job(spark, toks, out, num_groups=6, waves=3, blob_sink=True)
    assert {f: os.path.getmtime(f"{out}/blobstore/{f}") for f in store} == mt
    # byte parity with the inline layout
    out2 = str(tmp_path / "job_inline")
    inline = run_encode_job(spark, toks, out2, num_groups=6, waves=3)
    by_gid = {r.group_id: r.blob for r in inline.collect()}
    for r in blobs.collect():
        with open(r.blob_path, "rb") as f:
            assert f.read() == by_gid[r.group_id]


def test_cluster_by_shrinks_blobs_and_roundtrips(spark):
    """cluster_by orders each group's rows before encoding: decoded
    multiset unchanged, compressed size strictly smaller on run-friendly
    data."""
    from orc_format_spark import decode_blobs

    # sf0.01: at ~600 rows/group the orderkey delta structure still wins;
    # the date-clustering payoff needs runs longer than a tiny group
    li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_shipdate"
    )
    plain = encode_groups(li, num_groups=2, key_col="l_orderkey").collect()
    clus = encode_groups(
        li, num_groups=2, key_col="l_orderkey", cluster_by=["l_shipdate"]
    ).collect()
    assert sum(len(r.blob) for r in clus) < sum(len(r.blob) for r in plain)
    schema = ", ".join(f"{c} {t}" for c, t in li.dtypes)
    blobs = encode_groups(
        li, num_groups=2, key_col="l_orderkey", cluster_by=["l_shipdate"]
    )
    back = decode_blobs(blobs, schema)
    a = sorted(map(tuple, li.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b


def test_decode_schema_mismatch_is_loud(spark, docs):
    """Declaring a decode schema whose names don't match the blob's
    stored columns raises a clear ValueError in the worker — never a
    JVM ArrayIndexOutOfBounds (encode_groups consumes the grouping
    column, so off-by-one schemas are an easy mistake)."""
    toks = tokenize_documents(docs.limit(50))
    blobs = encode_groups(toks, num_groups=2, key_col="doc_id")
    bad = decode_blobs(blobs, "group_id int, " + TOKENS_SCHEMA)
    with pytest.raises(Exception, match="decode schema mismatch"):
        bad.count()


def test_ddl_names_nested_types():
    from orc_format_spark.operators.encode import _ddl_names

    assert _ddl_names(
        "`a` array<int>, b struct<x:int,y:string>, c map<string,int>, "
        "d decimal(20,2), e string"
    ) == ["a", "b", "c", "d", "e"]


def test_run_encode_job_cluster_by_resume_stable(spark, tmp_path):
    """cluster_by participates in the job's determinism contract: a
    resumed run reproduces the same blob bytes, and decode returns the
    same multiset as the input."""
    from orc_format_spark import read_encoded

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_shipdate"
    )
    out = str(tmp_path / "jobc")
    b1 = run_encode_job(
        spark, li, out, num_groups=4, waves=2, size_col=None,
        key_col="l_orderkey", cluster_by=["l_shipdate"],
    )
    sums1 = {r.group_id: r.checksum for r in b1.collect()}
    b2 = run_encode_job(  # resume: nothing to do, same checksums
        spark, li, out, num_groups=4, waves=2, size_col=None,
        key_col="l_orderkey", cluster_by=["l_shipdate"],
    )
    assert {r.group_id: r.checksum for r in b2.collect()} == sums1
    back = read_encoded(
        spark, out, "l_orderkey bigint, l_partkey bigint, l_shipdate timestamp_ntz"
    )
    assert back.exceptAll(li).count() == 0 and li.exceptAll(back).count() == 0


def test_stats_prune_blobs(spark):
    """Stripe elimination: blob-level stats written by stats=True let
    prune_blobs drop whole blobs before decode; a predicate decode over the
    pruned set equals the unpruned filter exactly, an impossible
    predicate eliminates every blob, and pruning never changes results
    (unknown stats are kept, residual filter is exact)."""
    import datetime

    from pyspark.sql import functions as F

    from orc_format_spark import decode_blobs, encode_groups, prune_blobs

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        "l_orderkey", "l_quantity", "l_shipdate"
    )
    g = li.withColumn("group_id", F.floor(F.col("l_orderkey") / F.lit(200)))
    blobs = encode_groups(g, key_col="l_orderkey", stats=True).cache()
    total = blobs.count()
    assert total == 8
    kept = prune_blobs(blobs, ("l_orderkey", ">=", 1200))
    assert kept.count() == 2  # ranges [1200,1400) and [1400,1499]
    sch = "l_orderkey bigint, l_quantity double, l_shipdate timestamp_ntz"
    got = decode_blobs(blobs, sch, predicate=("l_orderkey", ">=", 1200))
    want = li.filter("l_orderkey >= 1200")
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    # temporal conjunct before the data's min date: provably empty,
    # every blob eliminated before any decode
    early = datetime.datetime(1990, 1, 1)
    assert prune_blobs(blobs, ("l_shipdate", "<", early)).count() == 0
    assert decode_blobs(blobs, sch, predicate=("l_shipdate", "<", early)).count() == 0
    # a one-shot ``in`` literal is materialized once, before the UDF
    # closures capture it: a pickled iterator would be spent after the
    # first blob, and a generator does not pickle at all
    keys = (1, 1201, 1450)
    assert prune_blobs(blobs, ("l_orderkey", "in", iter(keys))).count() == 3
    got = decode_blobs(
        blobs, sch, predicate=("l_orderkey", "in", (k for k in keys))
    )
    want_in = li.filter(F.col("l_orderkey").isin(*keys))
    assert got.exceptAll(want_in).count() == 0
    assert want_in.exceptAll(got).count() == 0
    # stats-less blobs: prune_blobs refuses loudly, predicate decode
    # still works (chunk-level + residual only)
    plain = encode_groups(g, key_col="l_orderkey")
    with pytest.raises(ValueError, match="no 'stats' column"):
        prune_blobs(plain, ("l_orderkey", ">=", 1200))
    assert (
        decode_blobs(plain, sch, predicate=("l_orderkey", ">=", 1200)).count()
        == want.count()
    )
    blobs.unpersist()


def test_prune_blobs_sound_across_domains(spark):
    """prune_blobs never drops a blob holding a matching row, across
    value domains (int range, float, string, temporal, cross-domain
    date, missing column, all-null column, int predicates against
    fractional float bounds, an AND list), and provably empty
    predicates keep nothing."""
    import datetime
    import operator

    from pyspark.sql import functions as F

    from orc_format_spark import encode_groups, prune_blobs

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        "l_orderkey",
        "l_quantity",
        "l_returnflag",
        "l_shipdate",
        F.lit(None).cast("bigint").alias("nullcol"),
        # fractional bounds: an int predicate must compare exactly
        # against them (stats lo ~1.6 vs "< 2" keeps)
        (F.col("l_quantity") + F.lit(0.6)).alias("fracq"),
    )
    g = li.withColumn("group_id", F.floor(F.col("l_orderkey") / F.lit(200)))
    blobs = encode_groups(g, key_col="l_orderkey", stats=True).cache()
    source = g.collect()
    all_groups = {r.group_id for r in source}
    cases = [
        ("l_orderkey", ">=", 1200),
        ("l_orderkey", "<", 200),
        ("l_orderkey", "<=", 0),
        ("l_orderkey", ">", 1498),
        ("l_orderkey", "!=", 5),
        ("l_quantity", ">=", 30.0),
        ("l_quantity", "<", -1.0),
        ("l_returnflag", ">=", "R"),
        ("l_returnflag", "<", "A"),
        ("l_shipdate", "<", datetime.datetime(1996, 1, 1)),
        ("l_shipdate", ">=", datetime.datetime(2002, 1, 1)),
        ("l_shipdate", "<", datetime.date(1996, 1, 1)),  # cross-domain
        ("no_such_col", ">=", 5),  # unknown column: keep
        ("nullcol", ">=", 5),  # all-null blobs: drop everywhere
        ("fracq", "<", 2),
        ("fracq", "<=", 1),
        ("fracq", ">", 50),
        ("fracq", ">=", 51),
        ("fracq", "!=", 3),
        [("l_orderkey", ">=", 600), ("l_quantity", "<=", 10.0)],  # AND list
    ]
    cmp = {
        "!=": operator.ne, "<": operator.lt, "<=": operator.le,
        ">": operator.gt, ">=": operator.ge,
    }

    def row_matches(r, col, op, val):
        x = r[col]
        if x is None:
            return False
        if isinstance(x, datetime.datetime) and not isinstance(
            val, datetime.datetime
        ):
            val = datetime.datetime.combine(val, datetime.time())
        return cmp[op](x, val)

    for pred in cases:
        conj = pred if isinstance(pred, list) else [pred]
        kept = {
            r.group_id
            for r in prune_blobs(blobs, pred).select("group_id").collect()
        }
        if any(c not in g.columns for c, _, _ in conj):
            assert kept == all_groups, f"unknown column pruned: {pred}"
            continue
        want = {
            r.group_id
            for r in source
            if all(row_matches(r, *c) for c in conj)
        }
        assert kept >= want, f"matching blobs pruned for {pred}: {want - kept}"
    assert prune_blobs(blobs, ("nullcol", ">=", 5)).count() == 0
    early = ("l_shipdate", "<", datetime.datetime(1990, 1, 1))
    assert prune_blobs(blobs, early).count() == 0
    blobs.unpersist()


def test_ddl_names_backticked_with_spaces():
    """Backtick-quoted field names containing spaces must not truncate
    at the first space (a plain .split()[0] turned '`my col` int' into
    'my' and raised a spurious decode schema mismatch)."""
    from orc_format_spark.operators.encode import _ddl_names

    assert _ddl_names("`my col` int, x long") == ["my col", "x"]
    assert _ddl_names(
        "a struct<b: int, c: decimal(10,2)>, `w s` string"
    ) == ["a", "w s"]


def test_decode_type_mismatch_is_loud(spark):
    """Declaring the wrong TYPE (not just wrong names) raises a clear
    ValueError naming column/stored/declared — cross-kind declarations
    like date-for-timestamp must never silently truncate or surface as
    a JVM accessor UnsupportedOperationException."""
    from orc_format_spark import decode_blobs

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        "l_orderkey", "l_shipdate"
    )
    blobs = encode_groups(li, num_groups=1, key_col="l_orderkey")
    with pytest.raises(Exception, match="decode schema mismatch.*l_shipdate"):
        decode_blobs(blobs, "l_orderkey bigint, l_shipdate date").count()
    # in-kind width change is a lossless cast, not an error
    ok = decode_blobs(blobs, "l_orderkey int, l_shipdate timestamp_ntz")
    assert ok.count() == li.count()


def test_char_varchar_roundtrip(spark):
    """Char(n)/VarChar(n) map to the string path (the reference treats
    them the same way, writer.rs: String branch): Spark surfaces both
    as padded/plain strings in Arrow, the container encodes them as
    string columns, and the decoded values — including CHAR's trailing
    pad — roundtrip exactly."""
    from orc_format_spark import decode_blobs

    df = spark.sql(
        """
        SELECT id,
               CAST(concat('c', id % 7) AS CHAR(6)) AS c_fixed,
               CAST(concat('v', repeat('x', CAST(id % 5 AS INT))) AS VARCHAR(12)) AS v_var
        FROM range(500)
        """
    )
    blobs = encode_groups(df, num_groups=2, key_col="id")
    back = decode_blobs(blobs, "id bigint, c_fixed string, v_var string")
    want = sorted(map(tuple, df.collect()))
    got = sorted(map(tuple, back.collect()))
    assert got == want
    # Spark's cast treats char/varchar as string (CharVarcharUtils
    # warning; no pad) — whatever bytes Spark produces, the container
    # must return them unchanged, which `got == want` above pins.
    assert dict(back.dtypes)["c_fixed"] == "string"


def test_decode_blobs_nested_projection(spark):
    """Dotted columns= through the Spark-level decode: declare the
    pruned struct shape in the DDL schema; pruned siblings never
    decode."""
    from orc_format_spark import decode_blobs, encode_groups

    rows = [(i, {"a": i, "inner": {"x": i * 2, "y": f"y{i}"}})
            for i in range(1000)]
    df = spark.createDataFrame(
        rows, "k long, s struct<a:long, inner:struct<x:long, y:string>>"
    )
    blobs = encode_groups(
        df.withColumn("group_id", (df.k / 250).cast("long")), key_col="k"
    )
    out = decode_blobs(
        blobs, "s struct<inner:struct<y:string>>, k bigint",
        columns=["s.inner.y", "k"],
    )
    got = sorted((r.k, r.s.inner.y) for r in out.collect())
    assert got == [(i, f"y{i}") for i in range(1000)]


def test_decode_blobs_nested_projection_evolution(spark):
    """Dotted projection composes with evolution=True: the top-level
    column resolves the shadow/keep logic, the sub-struct pruning
    happens in decode_table, and a declared-but-unstored scalar still
    null-fills alongside."""
    from orc_format_spark import decode_blobs, encode_groups

    rows = [(i, {"a": i, "inner": {"x": i * 2, "y": f"y{i}"}})
            for i in range(200)]
    df = spark.createDataFrame(
        rows, "k long, s struct<a:long, inner:struct<x:long, y:string>>"
    )
    blobs = encode_groups(
        df.withColumn("group_id", (df.k / 50).cast("long")), key_col="k"
    )
    out = decode_blobs(
        blobs, "s struct<inner:struct<y:string>>, k bigint, extra int",
        columns=["s.inner.y", "k", "extra"], evolution=True,
    )
    got = sorted((r.k, r.s.inner.y, r.extra) for r in out.collect())
    assert got == [(i, f"y{i}", None) for i in range(200)]


_ZIP_IDENTITY_JOB = r'''
import json, os, sys
from pyspark.sql import SparkSession

spark = (SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false").getOrCreate())


def first(batches):
    import types
    import zipimport
    import pyarrow as pa
    from orc_format_spark.worker_env import limit_worker_threads

    limit_worker_threads()
    held = types.ModuleType("_held_zip_directories")
    held.pid = os.getpid()
    held.dirs = {p: zipimport._zip_directory_cache[p]
                 for p in sys.path if p in zipimport._zip_directory_cache}
    sys.modules[held.__name__] = held  # kept alive for the next task
    for _ in batches:
        pass
    yield pa.record_batch([pa.array([json.dumps(sorted(held.dirs))])], names=["r"])


def second(batches):
    import zipimport
    import pyarrow as pa

    held = sys.modules.get("_held_zip_directories")
    same = {p: zipimport._zip_directory_cache.get(p) is d for p, d in held.dirs.items()}
    for _ in batches:
        pass
    r = {"pid": held.pid == os.getpid(), "same": same}
    yield pa.record_batch([pa.array([json.dumps(r)])], names=["r"])


archives = json.loads(spark.range(0, 1, 1, 1).mapInArrow(first, "r string").collect()[0].r)
second_task = json.loads(spark.range(0, 1, 1, 1).mapInArrow(second, "r string").collect()[0].r)
print(json.dumps({"archives": archives, **second_task}))
spark.stop()
'''


def test_worker_keeps_zip_directories_across_tasks(tmp_path):
    """PySpark's worker calls importlib.invalidate_caches() before every
    task; once a library UDF has run in a worker (the hook installs the
    zip guard), the next task must find the very same zip directory
    objects for every zip on the worker's sys.path (pyspark.zip, the Spark
    jar): nothing was re-read. Fresh local[1] process, so both
    single-task jobs run in the one Python worker."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=repo, PYSPARK_PYTHON=sys.executable)
    proc = subprocess.run(
        [sys.executable, "-c", _ZIP_IDENTITY_JOB],
        cwd=repo, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads([l for l in proc.stdout.splitlines() if l.startswith("{")][-1])
    assert out["archives"], "no zip archive on the worker's sys.path"
    assert out["pid"], "the two tasks ran in different Python workers"
    assert set(out["same"]) == set(out["archives"])
    assert all(out["same"].values()), out["same"]


_FROZEN_HEAP_JOB = r"""
import json, os
from pyspark.sql import SparkSession

spark = (SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false").getOrCreate())


def task(batches):
    import gc
    import pyarrow as pa
    from orc_format_spark.worker_env import limit_worker_threads

    limit_worker_threads()
    frozen = gc.get_freeze_count()
    limit_worker_threads()
    r = {
        "pid": os.getpid(),
        "frozen": frozen,
        "refrozen": gc.get_freeze_count(),
        "walked": len(gc.get_objects()),
        "fds": len(os.listdir("/proc/self/fd")),
    }
    for _ in batches:
        pass
    yield pa.record_batch([pa.array([json.dumps(r)])], names=["r"])


runs = [json.loads(spark.range(0, 1, 1, 1).mapInArrow(task, "r string").collect()[0].r)
        for _ in range(3)]
print(json.dumps(runs))
spark.stop()
"""


def test_worker_heap_frozen_once_across_tasks():
    """PySpark's daemon runs a full gc.collect() in a reused worker after
    every task. The hook's first call freezes the preloaded heap, so what
    a collection walks (gc.get_objects(), which leaves out the frozen
    generation) is a small share of it and does not grow from task to
    task; a second call freezes nothing more, and no file descriptor is
    left open. Fresh local[1] process: the three single-task jobs run in
    one Python worker."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=repo, PYSPARK_PYTHON=sys.executable)
    proc = subprocess.run(
        [sys.executable, "-c", _FROZEN_HEAP_JOB],
        cwd=repo, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    runs = json.loads([l for l in proc.stdout.splitlines() if l.startswith("[")][-1])
    assert len({r["pid"] for r in runs}) == 1, "the tasks ran in different Python workers"
    for r in runs:
        assert r["frozen"] > 0, r
        assert r["refrozen"] == r["frozen"], "a second hook call froze again"
        assert r["walked"] < 0.05 * r["frozen"], r
    assert runs[2]["walked"] <= runs[1]["walked"] + 100, runs
    assert runs[2]["fds"] <= runs[0]["fds"], runs
