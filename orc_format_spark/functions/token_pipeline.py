"""Token-pipeline operators over the tokens table (BASELINE.json
input_hint shape): sequence packing, vocabulary histogram, deterministic
mixture sampling.

These are the training-data operations a 100 TB token corpus needs
*after* curation and *before* encode — the reference engine (a
single-node columnar writer) has no counterpart, so the designs are
Spark-first from scratch:

- ``pack_sequences``: pack variable-length token sequences into
  fixed-length training windows (the standard pretraining "sequence
  packing" step). ONE shuffle on the deterministic ``group_id`` (the
  same salted grouping the encoder uses, operators/partitioning.py),
  then per-group vectorized concat+reshape inside ``applyInArrow`` —
  never a token-level explode (10^12 exploded rows would dwarf the
  corpus). Chunk membership is a pure function of the data, so packed
  windows are stable across retries/resume.
- ``token_histogram``: vocabulary frequency counts via per-batch
  ``np.unique`` partial histograms inside ``mapInArrow``; the shuffle
  carries at most (distinct tokens x partitions) rows — for a 10^12
  token corpus with a 100k vocab that is ~10^9x smaller than exploding
  tokens to rows. Hot tokens (whitespace, stop-tokens) are absorbed by
  the map-side partials, so frequency skew never concentrates on one
  reducer.
- ``mixture_sample``: per-source deterministic rate sampling (domain
  re-weighting for mixture tuning). Pure map-side filter — zero
  shuffle, pushes down past column pruning; membership is a hash of
  the key (never of partition layout), so a resumed job samples the
  identical subset.

Every operator has a DuckDB-exact oracle twin (``*_sql``) built on the
engine-shared md5 hash (``operators.partitioning.md5_hash60``).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import Column, DataFrame, functions as F

from ..operators.partitioning import md5_hash60, md5_hash60_sql
from ..worker_env import limit_worker_threads

PACKED_SCHEMA = "group_id int, chunk_id int, tokens array<int>, doc_starts array<int>"


def pack_sequences(
    toks: DataFrame,
    seq_len: int = 2048,
    num_groups: int = 8,
    key_col: str = "doc_id",
    hasher: str = "xxh",
) -> DataFrame:
    """Pack token sequences into fixed-length training windows.

    Within each deterministic group, documents are ordered by
    ``key_col``, their token arrays concatenated, and the stream cut
    into ``seq_len``-token chunks (the trailing partial chunk is
    dropped, standard drop-remainder semantics). ``doc_starts`` holds
    the in-chunk offsets where a document begins — the attention-mask
    reset points a packed-pretraining loader needs.

    ``hasher="md5"`` draws group membership from the DuckDB-shared
    60-bit md5 hash so ``pack_sequences_sql`` reproduces chunk content
    bit-for-bit; the production default stays on xxhash64 (JVM-cheap).

    Scale: one shuffle on ``group_id``; everything after is map-side
    numpy over Arrow buffers (concat is a flatten of the already-taken
    list array — no per-row Python, no token explode). Groups are
    ~seq_len * chunks_per_group tokens; size ``num_groups`` with
    operators/partitioning.plan_num_groups so a group fits an executor.
    """
    if seq_len <= 0:
        raise ValueError(f"pack_sequences: seq_len must be positive, got {seq_len}")
    if hasher == "md5":
        gid = md5_hash60(F.col(key_col).cast("string"), seed=0) % num_groups
    else:
        gid = F.abs(F.xxhash64(F.col(key_col).cast("string"), F.lit(0))) % num_groups
    df = toks.select(
        F.col(key_col).cast("string").alias(key_col),
        "tokens",
        gid.cast("int").alias("group_id"),
    )

    empty = pa.table(
        {
            "group_id": pa.array([], pa.int32()),
            "chunk_id": pa.array([], pa.int32()),
            "tokens": pa.array([], pa.list_(pa.int32())),
            "doc_starts": pa.array([], pa.list_(pa.int32())),
        }
    )

    def fn(tbl: pa.Table) -> pa.Table:
        limit_worker_threads()
        if tbl.num_rows == 0:
            return empty
        gid = tbl.column("group_id")[0].as_py()
        idx = pc.sort_indices(tbl.column(key_col).combine_chunks())
        lists = (
            tbl.column("tokens")
            .combine_chunks()
            .take(idx)
            .cast(pa.large_list(pa.int32()))
        )
        if lists.null_count:
            # a null list's length is NaN -> astype(int64) silently
            # yields INT64_MIN while flatten() skips its (absent)
            # values, corrupting doc_starts. Null payload is an
            # upstream bug — fail loudly, never pack garbage.
            raise ValueError(
                "pack_sequences: null tokens list in group "
                f"{gid} — filter or fill null payloads before packing"
            )
        lens = pc.list_value_length(lists).to_numpy().astype(np.int64)
        flat = lists.flatten().to_numpy(zero_copy_only=False)
        n_chunks = int(len(flat) // seq_len)
        if n_chunks == 0:
            return empty
        payload = np.ascontiguousarray(flat[: n_chunks * seq_len], dtype=np.int32)
        tok_off = pa.array(np.arange(n_chunks + 1, dtype=np.int64) * seq_len)
        tok_arr = pa.LargeListArray.from_arrays(
            tok_off, pa.array(payload, pa.int32())
        ).cast(pa.list_(pa.int32()))
        starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
        starts = starts[starts < n_chunks * seq_len]
        chunk_of = starts // seq_len
        counts = np.bincount(chunk_of, minlength=n_chunks)
        ds_off = pa.array(
            np.concatenate(([0], np.cumsum(counts))).astype(np.int64)
        )
        ds_arr = pa.LargeListArray.from_arrays(
            ds_off, pa.array((starts - chunk_of * seq_len).astype(np.int32))
        ).cast(pa.list_(pa.int32()))
        return pa.table(
            {
                "group_id": pa.array(
                    np.full(n_chunks, gid, dtype=np.int32), pa.int32()
                ),
                "chunk_id": pa.array(np.arange(n_chunks, dtype=np.int32)),
                "tokens": tok_arr,
                "doc_starts": ds_arr,
            }
        )

    return df.groupBy("group_id").applyInArrow(fn, PACKED_SCHEMA)


def chunk_hex(tokens: Column) -> Column:
    """Byte-token chunk -> lowercase hex string (JVM-side, for oracle
    comparison of packed chunks when tokens are UTF-8 bytes)."""
    return F.array_join(
        F.transform(tokens, lambda t: F.lpad(F.lower(F.hex(t)), 2, "0")), ""
    )


def pack_sequences_sql(
    seq_len: int = 2048, num_groups: int = 8, table: str = "documents"
) -> str:
    """DuckDB oracle for ``pack_sequences(tokenize(docs), hasher='md5')``
    projected to (group_id, chunk_id, chunk_hex): per md5-group, texts
    concatenated in doc_id string order, UTF-8 byte stream hex-encoded
    and cut into seq_len-byte windows (2 hex chars per byte-token)."""
    h = md5_hash60_sql("CAST(doc_id AS VARCHAR)", seed=0)
    return f"""
WITH g AS (
  SELECT {h} % {num_groups} AS group_id, CAST(doc_id AS VARCHAR) AS doc_id, text
  FROM {table}
), cat AS (
  SELECT group_id,
         lower(hex(CAST(string_agg(text, '' ORDER BY doc_id) AS BLOB))) AS hexp
  FROM g GROUP BY group_id
), ch AS (
  SELECT group_id, unnest(range(0, (length(hexp) // 2) // {seq_len})) AS chunk_id,
         hexp
  FROM cat
)
SELECT CAST(group_id AS INT) AS group_id, CAST(chunk_id AS INT) AS chunk_id,
       substr(hexp, CAST(chunk_id * {2 * seq_len} + 1 AS INT), {2 * seq_len})
         AS chunk_hex
FROM ch
"""


def token_histogram(toks: DataFrame, top_k: int | None = None) -> DataFrame:
    """Vocabulary frequency counts: (token, cnt), optionally the top_k
    most frequent (ties broken by token id, so the cut is deterministic
    in every engine).

    Scale: per-batch ``np.unique`` partials inside ``mapInArrow`` mean
    the groupBy shuffles at most |vocab| rows per input partition —
    never one row per token occurrence."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        limit_worker_threads()
        for batch in batches:
            lists = batch.column(0)
            flat = (
                pa.chunked_array([lists])
                .combine_chunks()
                .cast(pa.large_list(pa.int32()))
                .flatten()
                .to_numpy(zero_copy_only=False)
            )
            if len(flat) == 0:
                continue
            vals, counts = np.unique(flat, return_counts=True)
            yield pa.record_batch(
                [
                    pa.array(vals.astype(np.int32), pa.int32()),
                    pa.array(counts.astype(np.int64), pa.int64()),
                ],
                names=["token", "cnt"],
            )

    hist = (
        toks.select("tokens")
        .mapInArrow(fn, "token int, cnt long")
        .groupBy("token")
        .agg(F.sum("cnt").alias("cnt"))
    )
    if top_k is not None:
        hist = hist.orderBy(F.desc("cnt"), F.asc("token")).limit(top_k)
    return hist


def token_histogram_sql(top_k: int | None = None, table: str = "documents") -> str:
    """DuckDB oracle for ``token_histogram(tokenize(docs))`` with the
    byte tokenizer: per-byte counts over the UTF-8 text stream."""
    sql = f"""
WITH b AS (SELECT lower(hex(CAST(text AS BLOB))) AS hexp FROM {table}),
e AS (SELECT unnest(range(0, length(hexp) // 2)) AS i, hexp FROM b)
SELECT CAST('0x' || substr(hexp, CAST(i * 2 + 1 AS INT), 2) AS INT) AS token,
       COUNT(*) AS cnt
FROM e GROUP BY 1
"""
    if top_k is not None:
        sql += f" ORDER BY cnt DESC, token LIMIT {top_k}"
    return sql


def mixture_sample(
    df: DataFrame,
    rates_ppm: dict[str, int],
    key_col: str = "doc_id",
    source_col: str = "source",
    seed: int = 9,
    default_ppm: int = 0,
    hasher: str = "md5",
) -> DataFrame:
    """Deterministic per-source rate sampling (mixture re-weighting):
    keep a row iff hash(key) % 1e6 < rates_ppm[source]. Membership is a
    pure function of the key, so retries/resume sample the identical
    subset and downstream checksums stay stable.

    Scale: a single map-side filter expression — no shuffle, no UDF;
    Catalyst pushes it into the scan alongside column pruning.
    ``hasher="md5"`` (default) is DuckDB-reproducible; ``"xxh"`` swaps
    in xxhash64 when oracle parity is not needed."""
    if hasher == "md5":
        h = md5_hash60(F.col(key_col).cast("string"), seed=seed) % 1_000_000
    else:
        h = F.abs(F.xxhash64(F.col(key_col).cast("string"), F.lit(seed))) % 1_000_000
    rate: Column | None = None
    for s, ppm in sorted(rates_ppm.items()):
        rate = (
            F.when(F.col(source_col) == s, F.lit(int(ppm)))
            if rate is None
            else rate.when(F.col(source_col) == s, F.lit(int(ppm)))
        )
    rate_col = F.lit(int(default_ppm)) if rate is None else rate.otherwise(
        F.lit(int(default_ppm))
    )
    return df.filter(h < rate_col)


def mixture_sample_sql(
    rates_ppm: dict[str, int],
    table: str = "documents",
    key_expr: str = "CAST(doc_id AS VARCHAR)",
    source_col: str = "source",
    seed: int = 9,
    default_ppm: int = 0,
    select: str = "CAST(doc_id AS VARCHAR) AS doc_id, source",
) -> str:
    """DuckDB oracle for ``mixture_sample(..., hasher='md5')``."""
    whens = " ".join(
        f"WHEN {source_col} = '{s}' THEN {int(ppm)}"
        for s, ppm in sorted(rates_ppm.items())
    )
    case = f"CASE {whens} ELSE {int(default_ppm)} END" if whens else str(int(default_ppm))
    h = md5_hash60_sql(key_expr, seed=seed)
    return f"SELECT {select} FROM {table} WHERE {h} % 1000000 < {case}"


def train_val_split(
    df: DataFrame,
    val_ppm: int = 100_000,
    test_ppm: int = 0,
    key_col: str = "doc_id",
    seed: int = 17,
    hasher: str = "md5",
) -> DataFrame:
    """Deterministic train/val(/test) assignment: adds a ``split``
    column from hash(key) % 1e6 — 'val' below ``val_ppm``, 'test' in
    the next ``test_ppm``, 'train' above. Membership is a pure function
    of the key, so the split is stable across retries, resume, cluster
    sizes, AND corpus growth (a doc never migrates between splits when
    new data arrives — the property random assignment lacks).

    Scale: one map-side expression, no shuffle, no UDF; survives as a
    partition-prunable predicate when the split column is written out.
    ``hasher="md5"`` is DuckDB-reproducible; ``"xxh"`` is the cheaper
    JVM path when oracle parity is not needed."""
    if hasher == "md5":
        h = md5_hash60(F.col(key_col).cast("string"), seed=seed) % 1_000_000
    else:
        h = (
            F.abs(F.xxhash64(F.col(key_col).cast("string"), F.lit(seed)))
            % 1_000_000
        )
    split = (
        F.when(h < F.lit(int(val_ppm)), F.lit("val"))
        .when(h < F.lit(int(val_ppm + test_ppm)), F.lit("test"))
        .otherwise(F.lit("train"))
    )
    return df.withColumn("split", split)


def train_val_split_sql(
    val_ppm: int = 100_000,
    test_ppm: int = 0,
    key_expr: str = "CAST(doc_id AS VARCHAR)",
    seed: int = 17,
    table: str = "documents",
    select: str = "CAST(doc_id AS VARCHAR) AS doc_id, source",
) -> str:
    """DuckDB oracle for ``train_val_split(..., hasher='md5')``."""
    h = f"({md5_hash60_sql(key_expr, seed=seed)} % 1000000)"
    return (
        f"SELECT {select}, CASE WHEN {h} < {int(val_ppm)} THEN 'val' "
        f"WHEN {h} < {int(val_ppm + test_ppm)} THEN 'test' "
        f"ELSE 'train' END AS split FROM {table}"
    )


def epoch_shuffle(
    df: DataFrame,
    key_col: str = "doc_id",
    epoch: int = 0,
    num_buckets: int = 1024,
    hasher: str = "xxh",
) -> DataFrame:
    """Deterministic per-epoch global training-order shuffle WITHOUT a
    global sort: order_key = hash(key, epoch) defines a pseudorandom
    total order; bucket = order_key % num_buckets partitions it. ONE
    hash shuffle + an in-partition sort gives epoch reading order
    (bucket asc, order_key asc) — the 100 TB-safe shape, vs a full-range
    sort's sampling pass + range exchange. Different ``epoch`` values
    derive statistically independent orders from the same corpus; the
    order is a pure function of (key, epoch), so retries, resume, and
    cluster resizes reproduce it exactly.

    At 10^12 sequences, ``num_buckets`` sizes the write granularity
    (one output file per bucket at ~corpus/num_buckets rows); a trainer
    streams buckets in index order and gets the full shuffled epoch.
    ``hasher="md5"`` is the DuckDB-oracle path; default xxhash64 stays
    JVM-cheap."""
    key = F.col(key_col).cast("string")
    if hasher == "md5":
        h = md5_hash60(key, seed=epoch)
    else:
        h = F.abs(F.xxhash64(key, F.lit(int(epoch))))
    out = (
        df.withColumn("order_key", h)
        .withColumn("bucket", (F.col("order_key") % num_buckets).cast("int"))
    )
    return out.repartition("bucket").sortWithinPartitions("bucket", "order_key")


def epoch_shuffle_sql(
    epoch: int = 0,
    num_buckets: int = 1024,
    key_expr: str = "CAST(doc_id AS VARCHAR)",
    table: str = "documents",
    select: str = "CAST(doc_id AS VARCHAR) AS doc_id",
) -> str:
    """DuckDB oracle for ``epoch_shuffle(..., hasher='md5')`` (the
    driver's compare is order-insensitive, so the oracle checks the
    bucket/order_key VALUES; in-bucket ordering is asserted in
    pytest)."""
    h = md5_hash60_sql(key_expr, seed=epoch)
    return (
        f"SELECT {select}, {h} AS order_key, "
        f"CAST({h} % {int(num_buckets)} AS INT) AS bucket FROM {table}"
    )


def remap_tokens(
    df: DataFrame,
    mapping: dict[int, int],
    vocab_size: int = 1 << 16,
    tokens_col: str = "tokens",
) -> DataFrame:
    """Tokenizer-migration remap: rewrite every token id through a
    lookup table (old id -> new id; ids absent from ``mapping`` pass
    through). The table is a numpy array captured in the mapInArrow
    closure (~vocab_size * 4 bytes shipped once per worker, not per
    row) and applied as one vectorized ``np.take`` over each batch's
    flattened values buffer — zero per-row Python, zero shuffle, list
    offsets reused as-is. The 100 TB shape: a pure map stage that
    composes with encode in the same task.

    Out-of-range ids raise (loud, not silent corruption): a remap that
    meets an id >= vocab_size means the lookup table was built for the
    wrong tokenizer."""
    lut = np.arange(int(vocab_size), dtype=np.int32)
    for old, new in mapping.items():
        lut[int(old)] = int(new)
    schema = df.schema
    names = [f.name for f in schema.fields]
    ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schema.fields)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        limit_worker_threads()
        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            col = tbl.column(tokens_col).combine_chunks()
            a = col.cast(pa.large_list(pa.int32()))
            if isinstance(a, pa.ChunkedArray):
                a = a.combine_chunks()
            if a.null_count:
                # rebuilding the list array from offsets+values would
                # silently turn null lists into empty lists
                raise ValueError(
                    "remap_tokens: null tokens list — filter or fill "
                    "null payloads before remapping"
                )
            flat = a.flatten().to_numpy(zero_copy_only=False)
            if flat.size and (flat.min() < 0 or flat.max() >= lut.size):
                raise ValueError(
                    f"remap_tokens: token id outside [0, {lut.size}) — "
                    "lookup table built for a different tokenizer?"
                )
            mapped = lut[flat]  # fancy-index: one vectorized gather
            n = len(a)
            off = np.frombuffer(a.buffers()[1], np.int64, n + 1, a.offset * 8)
            rel = (off - off[0]).astype(np.int64)
            out = pa.LargeListArray.from_arrays(
                pa.array(rel, pa.int64()), pa.array(mapped, pa.int32())
            ).cast(pa.list_(pa.int32()))
            cols = [
                out if name == tokens_col else tbl.column(name).combine_chunks()
                for name in names
            ]
            yield pa.record_batch(cols, names=names)

    return df.mapInArrow(fn, ddl)
