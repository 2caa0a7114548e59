"""spark.read/write.format("orc_format") — the Spark 4 Python Data
Source face of the blob container (sources/datasource.py). The
reference is a library you call (src/writer.rs Writer::new); this is
the same capability as a first-class Spark format, SQL included."""

import json
import os
import shutil

import pytest
from pyspark.sql import Row, functions as F

from orc_format_spark import register_datasource


@pytest.fixture(scope="module")
def ds_spark(spark):
    register_datasource(spark)
    return spark


@pytest.fixture()
def tmpdir_path(tmp_path):
    return str(tmp_path / "blobs")


def _li(spark):
    return spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )


def test_write_read_roundtrip(ds_spark, tmpdir_path):
    li = _li(ds_spark)
    li.repartition(4).write.format("orc_format").mode("append").option(
        "stride", "500"
    ).save(tmpdir_path)
    files = sorted(os.listdir(tmpdir_path))
    assert [f for f in files if f.endswith(".ofs")] and "_manifest.json" in files
    man = json.load(open(os.path.join(tmpdir_path, "_manifest.json")))
    assert man["total_rows"] == li.count()
    back = ds_spark.read.format("orc_format").load(tmpdir_path)
    # schema inferred from the blob header, no user DDL
    assert dict(back.dtypes) == dict(li.dtypes)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, li.collect()))


def test_filter_pushdown_consumed_and_exact(ds_spark, tmpdir_path):
    li = _li(ds_spark)
    li.repartition(2).write.format("orc_format").mode("append").option(
        "stride", "200"
    ).save(tmpdir_path)
    load = lambda: ds_spark.read.format("orc_format").load(tmpdir_path)
    flt = load().filter(
        (F.col("l_orderkey") >= 700) & (F.col("l_returnflag") == "R")
    )
    plan = flt._jdf.queryExecution().executedPlan().toString()
    # pushed filters are consumed exactly: Spark's residual Filter keeps
    # only the null guards it adds itself, never the pushed comparisons
    assert ">= 700" not in plan and "= R" not in plan.replace("==", "=")
    want = li.filter(
        (F.col("l_orderkey") >= 700) & (F.col("l_returnflag") == "R")
    )
    assert sorted(map(tuple, flt.collect())) == sorted(map(tuple, want.collect()))
    # negation and strings push too
    f2 = load().filter(~(F.col("l_returnflag") < "N"))
    w2 = li.filter(~(F.col("l_returnflag") < "N"))
    assert f2.count() == w2.count()


def test_overwrite_is_write_audit_publish(ds_spark, tmpdir_path):
    li = _li(ds_spark)
    li.write.format("orc_format").mode("append").save(tmpdir_path)
    first = {f for f in os.listdir(tmpdir_path) if f.endswith(".ofs")}
    li.limit(50).repartition(2).write.format("orc_format").mode("overwrite").save(
        tmpdir_path
    )
    after = {f for f in os.listdir(tmpdir_path) if f.endswith(".ofs")}
    assert after.isdisjoint(first)  # old files retired at commit
    assert ds_spark.read.format("orc_format").load(tmpdir_path).count() == 50


def test_sql_over_temp_view(ds_spark, tmpdir_path):
    """SQL access path: temp view over load(). (Catalog CREATE TABLE
    USING a Python data source parses in Spark 4.1 but drops
    OPTIONS/LOCATION at scan time — probed; see the module docstring.)"""
    _li(ds_spark).write.format("orc_format").mode("append").save(tmpdir_path)
    ds_spark.read.format("orc_format").load(tmpdir_path).createOrReplaceTempView(
        "ofs_ds_v"
    )
    n = ds_spark.sql(
        "SELECT count(*) FROM ofs_ds_v WHERE l_orderkey >= 700"
    ).collect()[0][0]
    assert n == _li(ds_spark).filter(F.col("l_orderkey") >= 700).count()


def test_empty_partitions_and_missing_dir(ds_spark, tmpdir_path):
    li = _li(ds_spark).limit(3)
    # 8 partitions, most empty: empty tasks must not write files
    li.repartition(8).write.format("orc_format").mode("append").save(tmpdir_path)
    back = ds_spark.read.format("orc_format").load(tmpdir_path)
    assert back.count() == 3
    n_files = len([f for f in os.listdir(tmpdir_path) if f.endswith(".ofs")])
    assert n_files <= 3
    with pytest.raises(Exception, match="no .ofs blob"):
        ds_spark.read.format("orc_format").load(tmpdir_path + "_nope").count()


def test_writer_options_flow_to_container(ds_spark, tmpdir_path):
    toks = ds_spark.createDataFrame(
        [Row(doc_id=str(i), tokens=list(range(i % 50, i % 50 + 20))) for i in range(400)],
        "doc_id string, tokens array<int>",
    )
    toks.coalesce(1).write.format("orc_format").mode("append").option(
        "stride", "100"
    ).option("bloom", "tokens").option("compression", "snappy").save(tmpdir_path)
    fp = [f for f in os.listdir(tmpdir_path) if f.endswith(".ofs")][0]
    blob = open(os.path.join(tmpdir_path, fp), "rb").read()
    from orc_format_spark.codecs.container import MAGIC2, decode_table

    assert blob[:4] == MAGIC2  # stride produced a chunked blob
    got = decode_table(blob, predicate=("tokens", "contains", 5))
    assert got.num_rows == sum(
        1 for r in toks.collect() if 5 in r.tokens
    )


def test_pushdown_relation_cache_quirk(ds_spark, tmpdir_path):
    """Pins the Spark 4.1 behavior documented in sources/datasource.py:
    after executing a filtered child, the SAME parent DataFrame object
    reuses the filtered scan. If this starts failing after a Spark
    upgrade, the quirk is fixed — delete the doc warning and this test."""
    li = _li(ds_spark)
    li.write.format("orc_format").mode("append").save(tmpdir_path)
    shared = ds_spark.read.format("orc_format").load(tmpdir_path)
    total = shared.count()
    sub = shared.filter(F.col("l_orderkey") > 10_000_000).count()
    assert sub == 0
    polluted = shared.count()
    assert polluted in (0, total)  # today: 0 (cached filtered scan)
    # fresh load() per query is always clean
    assert ds_spark.read.format("orc_format").load(tmpdir_path).count() == total


# ------------------------------------------------- file-level pruning


def test_manifest_file_level_pruning(ds_spark, tmpdir_path):
    """Range-clustered writes + a pushed filter -> whole files are
    eliminated at PLANNING time from _manifest.json stats (zero tasks,
    zero opens for skipped files), and the filtered result is exact."""
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual
    from pyspark.sql.types import StructType

    from orc_format_spark.sources.datasource import OrcFormatReader

    li = _li(ds_spark)
    li.repartitionByRange(6, "l_orderkey").write.format("orc_format").mode(
        "append"
    ).save(tmpdir_path)

    reader = OrcFormatReader({"path": tmpdir_path}, StructType([]))
    assert len(reader.partitions()) == 6  # no filters -> every file
    hi = li.agg(F.max("l_orderkey")).first()[0]
    reader.pushFilters([GreaterThanOrEqual(("l_orderkey",), hi)])
    pruned = reader.partitions()
    assert 1 <= len(pruned) < 6  # top-of-range files only
    # an impossible predicate eliminates every file at planning time
    # (one empty sentinel partition remains — Spark substitutes None
    # for a genuinely empty list)
    reader.pushFilters([GreaterThanOrEqual(("l_orderkey",), hi + 10**9)])
    assert [p.path for p in reader.partitions()] == [""]

    # end-to-end exactness through the real scan (fresh load per query)
    got = (
        ds_spark.read.format("orc_format")
        .load(tmpdir_path)
        .filter(F.col("l_orderkey") >= hi)
        .collect()
    )
    want = li.filter(F.col("l_orderkey") >= hi).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))

    # files missing a stats entry are always kept (conservative)
    man_path = os.path.join(tmpdir_path, "_manifest.json")
    man = json.load(open(man_path))
    for e in man["files"]:
        e.pop("stats", None)
    json.dump(man, open(man_path, "w"))
    reader = OrcFormatReader({"path": tmpdir_path}, StructType([]))
    reader.pushFilters([GreaterThanOrEqual(("l_orderkey",), hi + 10**9)])
    assert len(reader.partitions()) == 6


def test_manifest_append_carries_stats_forward(ds_spark, tmpdir_path):
    """mode(append) merges the prior manifest: earlier files keep their
    stats entries (and keep pruning) after a second commit."""
    li = _li(ds_spark)
    a = li.filter(F.col("l_orderkey") < 300)
    b = li.filter(F.col("l_orderkey") >= 300)
    a.coalesce(1).write.format("orc_format").mode("append").save(tmpdir_path)
    b.coalesce(1).write.format("orc_format").mode("append").save(tmpdir_path)
    man = json.load(open(os.path.join(tmpdir_path, "_manifest.json")))
    assert len(man["files"]) == 2
    assert all(isinstance(e.get("stats"), dict) for e in man["files"])
    assert man["total_rows"] == li.count()

    from pyspark.sql.datasource import LessThan
    from pyspark.sql.types import StructType

    from orc_format_spark.sources.datasource import OrcFormatReader

    reader = OrcFormatReader({"path": tmpdir_path}, StructType([]))
    reader.pushFilters([LessThan(("l_orderkey",), 300)])
    assert len(reader.partitions()) == 1  # the b-file pruned via stats


def test_columns_option_projects_at_blob_level(ds_spark, tmpdir_path):
    """.option('columns', 'a,b') projects inside the container (stream
    skipping, no decompression of unwanted columns) and narrows the
    inferred schema to the requested order."""
    li = _li(ds_spark)
    li.coalesce(2).write.format("orc_format").mode("append").save(tmpdir_path)
    back = (
        ds_spark.read.format("orc_format")
        .option("columns", "l_quantity,l_orderkey")
        .load(tmpdir_path)
    )
    assert back.columns == ["l_quantity", "l_orderkey"]
    want = sorted(map(tuple, li.select("l_quantity", "l_orderkey").collect()))
    assert sorted(map(tuple, back.collect())) == want
    # projection composes with pushdown (filter on a projected column)
    got = back.filter(F.col("l_orderkey") < 100).collect()
    want2 = li.select("l_quantity", "l_orderkey").filter(
        F.col("l_orderkey") < 100
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want2))
    # unknown column fails loudly at plan time
    with pytest.raises(Exception, match="columns option names"):
        ds_spark.read.format("orc_format").option("columns", "nope").load(
            tmpdir_path
        ).schema


def test_datasource_reads_flagship_sink_output(ds_spark, tmp_path):
    """Interop: the flagship split-encode job's blob-sink directory IS a
    readable spark.read.format("orc_format") table — no conversion, no
    manifest required (file pruning simply degrades to scan-all)."""
    from orc_format_spark import encode_parquet_splits, tokenize_documents

    docs = ds_spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    toks = tokenize_documents(docs)
    inp = str(tmp_path / "tokens")
    toks.repartition(2).write.parquet(inp)
    sink = str(tmp_path / "sink")
    lineage = encode_parquet_splits(ds_spark, inp, blob_sink=sink)
    assert lineage.count() > 0  # materializes the sink writes
    back = ds_spark.read.format("orc_format").load(sink)
    assert dict(back.dtypes) == dict(
        ds_spark.read.parquet(inp).dtypes
    )
    want = sorted(
        map(tuple, ds_spark.read.parquet(inp).select("doc_id", "n_tok").collect())
    )
    assert sorted(map(tuple, back.select("doc_id", "n_tok").collect())) == want


def test_manifest_bloom_capped(ds_spark, tmpdir_path):
    """A high-cardinality bloom column must not bloat the manifest:
    oversized file-level bitsets are dropped (min/max kept), small ones
    (e.g. byte-token vocabularies) are kept."""
    from orc_format_spark.sources.datasource import _MANIFEST_BLOOM_CAP

    df = ds_spark.range(100_000).select(
        F.col("id").alias("doc_id"),
        (F.xxhash64("id")).alias("wide"),  # ~100k distinct -> big bloom
        F.array((F.col("id") % 7).cast("int")).alias("tokens"),  # 7 distinct
    )
    df.coalesce(1).write.format("orc_format").mode("append").option(
        "bloom", "wide,tokens"
    ).save(tmpdir_path)
    man = json.load(open(os.path.join(tmpdir_path, "_manifest.json")))
    stats = man["files"][0]["stats"]
    assert "wide" in stats and "wide@bloom" not in stats
    assert "tokens@bloom" in stats
    assert len(stats["tokens@bloom"]) <= _MANIFEST_BLOOM_CAP
    assert len(json.dumps(man)) < 200_000


def test_orphan_file_excluded_by_manifest(ds_spark, tmpdir_path):
    """A task attempt that renamed its part file into place but whose
    commit message was lost (retry / speculative execution) must not
    surface duplicate rows: reads list files from _manifest.json, so the
    orphan is invisible until a later commit adopts the directory."""
    li = _li(ds_spark)
    li.write.format("orc_format").mode("append").save(tmpdir_path)
    committed = [f for f in os.listdir(tmpdir_path) if f.endswith(".ofs")]
    # fake the orphan: a byte-identical blob under a name no commit saw
    orphan = os.path.join(tmpdir_path, "part-99999-deadbeef.ofs")
    shutil.copyfile(os.path.join(tmpdir_path, committed[0]), orphan)
    back = ds_spark.read.format("orc_format").load(tmpdir_path)
    assert back.count() == li.count()  # orphan rows NOT double-counted
    # a manifest-less directory still reads (glob fallback)
    os.remove(os.path.join(tmpdir_path, "_manifest.json"))
    assert (
        ds_spark.read.format("orc_format").load(tmpdir_path).count()
        == li.count() + ds_spark.read.format("orc_format").load(
            os.path.dirname(orphan)
        ).limit(0).count() + _blob_rows(orphan)
    )


def _blob_rows(path):
    from orc_format_spark.codecs.container import decode_table

    with open(path, "rb") as f:
        return decode_table(f.read()).num_rows


def test_nan_equality_filter_stays_spark_side(ds_spark, tmpdir_path):
    """col = NaN: Spark SQL's EqualTo treats NaN as equal to NaN; the
    container's Arrow residual filter would drop those rows. The filter
    must therefore NOT be consumed by pushdown."""
    rows = [Row(k=1, v=float("nan")), Row(k=2, v=1.5), Row(k=3, v=float("nan"))]
    ds_spark.createDataFrame(rows).write.format("orc_format").mode(
        "append"
    ).save(tmpdir_path)
    back = ds_spark.read.format("orc_format").load(tmpdir_path)
    got = back.filter(F.col("v") == float("nan")).select("k")
    assert sorted(r.k for r in got.collect()) == [1, 3]


def test_float_order_filters_stay_spark_side(ds_spark, tmpdir_path):
    """Spark orders NaN above every number; Arrow fails every ordered
    comparison on it. Ordered filters on a double column, negated or
    not, must go back to Spark (neither consumed nor used to prune);
    != and NOT(<=>) keep their own rules."""
    from pyspark.sql.datasource import (
        EqualNullSafe, EqualTo, GreaterThan, LessThanOrEqual, Not,
    )

    from orc_format_spark.sources.datasource import OrcFormatReader

    rows = [Row(k=1, f=3.0), Row(k=2, f=float("nan")), Row(k=3, f=5.0),
            Row(k=4, f=1.0), Row(k=5, f=None)]
    ref = ds_spark.createDataFrame(rows, "k long, f double")
    ref.write.format("orc_format").mode("append").option("stride", "2").save(
        tmpdir_path
    )
    back = ds_spark.read.format("orc_format").load(tmpdir_path)
    got = back.filter(F.col("f") > 2.0).select("k")
    assert sorted(r.k for r in got.collect()) == [1, 2, 3]
    for cond in (F.col("f") >= 2.0, F.col("f") < 4.0, ~(F.col("f") <= 2.0),
                 ~(F.col("f") > 2.0), F.col("f") != 3.0,
                 ~F.col("f").eqNullSafe(3.0)):
        got = ds_spark.read.format("orc_format").load(tmpdir_path).filter(cond)
        assert sorted(r.k for r in got.collect()) == sorted(
            r.k for r in ref.filter(cond).collect()
        ), cond
    reader = OrcFormatReader({"path": tmpdir_path}, back.schema)
    left = list(reader.pushFilters([
        GreaterThan(("f",), 2.0), Not(LessThanOrEqual(("f",), 2.0)),
        Not(EqualNullSafe(("f",), 3.0)), Not(EqualTo(("f",), 3.0)),
        GreaterThan(("k",), 2),
    ]))
    assert len(left) == 3 and len(reader.preds) == 2


def test_pushdown_in_null_prefix_filters(ds_spark, tmpdir_path):
    """Round-4 pushdown surface: IN lists, IS [NOT] NULL, <=> and
    startswith are consumed by the reader (and NOT IN, with its
    three-valued null semantics, is left to Spark) — all with rows
    identical to Spark-side evaluation."""
    rows = [
        Row(k=i, s=None if i % 10 == 0 else f"s{i:04d}", v=float(i))
        for i in range(200)
    ]
    ds_spark.createDataFrame(rows).write.format("orc_format").mode(
        "append"
    ).option("stride", "50").save(tmpdir_path)
    ref = ds_spark.createDataFrame(rows)

    def check(f):
        got = (
            ds_spark.read.format("orc_format").load(tmpdir_path).filter(f)
        )
        want = ref.filter(f)
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        )

    check(F.col("k").isin(3, 57, 121, 9999))
    check(~F.col("k").isin(3, 57, 121))      # NOT IN: Spark-side
    check(F.col("s").isNull())
    check(F.col("s").isNotNull())
    check(F.col("s").startswith("s01"))
    check(F.col("k").eqNullSafe(42))
    check(F.col("s").isin("s0042", "s0077"))


def test_reader_evolution_option(ds_spark, tmp_path):
    """Mixed-era directory through the format face: evolution=true
    infers the by-name union schema (or takes a user-supplied one) and
    decodes each blob per its own era; filters on a late column still
    push down and are decided without decoding old-era payload."""
    p = str(tmp_path / "evo")
    old = ds_spark.createDataFrame(
        [(i, float(i)) for i in range(30)], "k long, a double"
    )
    new = ds_spark.createDataFrame(
        [(i, float(i), f"s{i}") for i in range(30, 50)],
        "k long, a double, s string",
    )
    old.write.format("orc_format").mode("append").save(p)
    new.write.format("orc_format").mode("append").save(p)

    # strict read of the mixed dir fails (first-blob schema mismatch)
    with pytest.raises(Exception):
        ds_spark.read.format("orc_format").load(p).collect()

    back = (
        ds_spark.read.format("orc_format").option("evolution", "true").load(p)
    )
    assert set(back.columns) == {"k", "a", "s"}
    rows = {r.k: r.s for r in back.collect()}
    assert len(rows) == 50 and rows[3] is None and rows[42] == "s42"
    # filter on the late column: old-era blobs contribute nothing
    got = back.filter(F.col("s") == "s40").collect()
    assert [(r.k, r.s) for r in got] == [(40, "s40")]
    got = (
        ds_spark.read.format("orc_format")
        .option("evolution", "true")
        .load(p)
        .filter(F.col("s").isNull())
    )
    assert sorted(r.k for r in got.collect()) == list(range(30))
    # user-supplied schema (the manifest-scale path: no header sweep)
    got = (
        ds_spark.read.format("orc_format")
        .option("evolution", "true")
        .schema("k long, a double, s string")
        .load(p)
    )
    assert got.count() == 50
