#!/usr/bin/env python
"""Local replica of the driver's CORRECTNESS gate.

Runs every ``__spark_entry__.queries()`` entry and its ``oracle_sql()``
DuckDB twin at $SPARK_GRAFT_SF_DIR (default sf0.01), canonicalizes both
frames the way the driver does (columns sorted by name, rows sorted by
all columns), and reports rows/schema/hash matches.

    python scripts/check_oracles.py            # all queries
    python scripts/check_oracles.py q1 q2 ...  # subset
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _canon(pdf):
    pdf = pdf[sorted(pdf.columns)].copy()
    if len(pdf):
        pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort")
    pdf = pdf.reset_index(drop=True)
    return pdf


def _hash(pdf) -> str:
    h = hashlib.sha256()
    for c in pdf.columns:
        h.update(c.encode())
        h.update("\x00".join(str(v) for v in pdf[c].tolist()).encode())
    return h.hexdigest()


def main() -> int:
    import duckdb

    import __spark_entry__ as entrymod
    from pyspark.sql import SparkSession

    only = set(sys.argv[1:])
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("oracle-check")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    results: dict[str, dict] = {}
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        row: dict = {}
        try:
            sdf = fn(spark, SF_DIR).toPandas()
            row["spark_rows"] = len(sdf)
            odf = con.sql(oracles[name]).df()
            row["oracle_rows"] = len(odf)
            sc, oc = _canon(sdf), _canon(odf)
            row["rows_match"] = len(sc) == len(oc)
            row["schema_match"] = list(sc.columns) == list(oc.columns)
            # driver-style: stringify + hash
            row["hash_match"] = (
                row["rows_match"]
                and row["schema_match"]
                and _hash(sc.astype(str)) == _hash(oc.astype(str))
            )
            if not row["hash_match"]:
                failed.append(name)
                if row["rows_match"] and row["schema_match"]:
                    a, b = sc.astype(str), oc.astype(str)
                    neq = (a != b).any(axis=1)
                    row["first_diff"] = {
                        "spark": a[neq].head(2).to_dict("records"),
                        "oracle": b[neq].head(2).to_dict("records"),
                    }
        except Exception as ex:  # noqa: BLE001
            row["err"] = f"{type(ex).__name__}: {ex}"[:500]
            failed.append(name)
        results[name] = row
        status = "OK " if name not in failed else "FAIL"
        print(f"{status} {name}: {json.dumps(row)[:300]}", flush=True)
    spark.stop()
    print(f"\n{len(failed)} failing: {failed}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
