"""The benchmark's inputs, built from the sf0.1 tables in ``data/``.

``data/documents.parquet`` (5,000 documents) and ``data/lineitem.parquet``
(600,000 rows, 11 columns) hold the values of the repository's sf0.1 test
tables, re-compressed with zstd. The run seed never changes the rows, so
byte-count metrics repeat exactly; it picks how they are laid out and
queried:

- tokens: the seed names the split files, which fixes the order in which
  ``list_parquet_splits`` numbers the splits (and so which Spark task
  encodes which split) without changing any split's rows;
- lineitem: the seed draws the lookup stream.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
DOCUMENTS = os.path.join(DATA, "documents.parquet")
LINEITEM = os.path.join(DATA, "lineitem.parquet")


def document_bytes(n_docs: int | None) -> tuple[int, int]:
    """(documents, UTF-8 bytes of their texts) in the first ``n_docs``
    documents (all when None): one byte-level token per text byte."""
    text = pq.read_table(DOCUMENTS, columns=["text"]).column("text")
    if n_docs is not None:
        text = text.slice(0, n_docs)
    return len(text), int(pc.sum(pc.binary_length(text)).as_py())


def write_tokens(spark, n_docs: int | None, repl: int, n_splits: int, path: str, seed: int) -> None:
    """Write the tokens table as ``n_splits`` one-row-group parquet files.

    As ``bench.py`` builds it: ``repl`` copies of the documents with
    ``doc_id = "{id}_{copy}"``, round-robin repartitioned and tokenized by
    the library's ``tokenize_documents``, written by Spark. Then the files
    are renamed in a seeded order."""
    from pyspark.sql import functions as F

    from orc_format_spark import tokenize_documents

    docs = spark.read.parquet(DOCUMENTS)
    if n_docs is not None:
        docs = docs.limit(n_docs)
    reps = spark.range(repl).select(F.col("id").alias("rep"))
    docs = docs.crossJoin(F.broadcast(reps)).withColumn(
        "doc_id", F.concat_ws("_", F.col("doc_id"), F.col("rep"))
    )
    tokenize_documents(docs.repartition(n_splits)).write.parquet(path)
    files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    groups = sum(pq.ParquetFile(os.path.join(path, f)).metadata.num_row_groups for f in files)
    if len(files) != n_splits or groups != n_splits:
        raise RuntimeError(f"tokens table has {len(files)} files, {groups} row groups; want {n_splits}")
    order = np.random.default_rng(seed).permutation(n_splits)
    for f, k in zip(files, order):
        os.replace(os.path.join(path, f), os.path.join(path, f"split-{k:05d}.parquet"))


def lineitem(n_rows: int | None) -> pa.Table:
    """The first ``n_rows`` lineitem rows (all when None), sorted by
    ``(l_orderkey, l_linenumber)``."""
    tbl = pq.read_table(LINEITEM)
    if n_rows is not None:
        tbl = tbl.slice(0, n_rows)
    return tbl.sort_by([("l_orderkey", "ascending"), ("l_linenumber", "ascending")])


def lookups(keys: np.ndarray, n: int, seed: int) -> list[tuple]:
    """A seeded stream of clustering-key predicates on ``l_orderkey``:
    point ``==``, short ``>=``/``<`` ranges and small ``in`` lists, over
    keys drawn from the table (so most lookups match)."""
    rng = np.random.default_rng(seed)
    hi = int(keys.max())
    out: list[tuple] = []
    for i in range(n):
        k = int(keys[rng.integers(0, keys.size)])
        kind = i % 3
        if kind == 0:
            out.append(("l_orderkey", "==", k))
        elif kind == 1:
            w = int(rng.integers(2, 40))
            out.append([("l_orderkey", ">=", k), ("l_orderkey", "<", min(hi + 1, k + w))])
        else:
            m = int(rng.integers(2, 6))
            base = [int(keys[j]) for j in rng.integers(0, keys.size, m - 1)]
            out.append(("l_orderkey", "in", tuple(sorted({k, *base}))))
    return out
