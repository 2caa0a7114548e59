"""Local replica of the driver's correctness gate: run each queries()
entry at sf0.01 and compare to its oracle_sql() via DuckDB (row count +
order-insensitive value comparison)."""

import math

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.10g}"
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return str(v)


def _canon(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def test_every_query_has_an_oracle():
    assert set(entry_mod.queries()) == set(entry_mod.oracle_sql())


def test_bench_headline_names_resolve():
    import bench

    assert set(bench.HEADLINE) <= set(entry_mod.queries())


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert all(r.ok for r in rows)


@pytest.mark.parametrize("name", sorted(entry_mod.queries().keys()))
def test_query_matches_oracle(spark, ddb, name):
    q = entry_mod.queries()[name]
    df = q(spark, SF_DIR)
    spark_rows = [tuple(r) for r in df.collect()]
    res = ddb.execute(entry_mod.oracle_sql()[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    assert sorted(c.lower() for c in df.columns) == sorted(
        c.lower() for c in duck_cols
    ), f"column mismatch: {df.columns} vs {duck_cols}"
    a = _canon(spark_rows, [c.lower() for c in df.columns])
    b = _canon(duck_rows, [c.lower() for c in duck_cols])
    assert len(a) == len(b), f"row count {len(a)} vs {len(b)}"
    assert a == b
