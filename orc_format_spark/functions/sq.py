"""Scalar quantization (SQ8) for embedding columns — per-dimension
affine 8-bit quantization, the other standard embedding-column codec
next to PQ (faiss ``ScalarQuantizer`` QT_8bit; Aguerrebere et al.,
"Similarity search in the blink of an eye with compressed indices",
VLDB 2023 surveys the family).

Not in the reference repo (SURVEY.md §2.7); a first-class
training-pipeline addition completing the embedding codec menu:

- **PQ** (``pq.py``): m codes/vector, 32x at D=64/m=8 — max
  compression, coarsest distances.
- **SQ8** (this module): one uint8 code per DIMENSION — 4x vs
  float32, far finer distances (recall ~exact at 8 bits for
  normalized embeddings), and encode/decode is two integer affine
  ops, no codebook training at all.

At 100 TB the codes column rides the normal blob encoder like any int
list — MEASURED: the auto-selector picks for_bitpack for the byte-range
codes vs float_split for the raw floats, and the codes blob lands at
0.26x the raw-embedding blob under the same zstd path
(tests/test_dedup_scale.py::test_sq8_codes_ride_blob_encoder).

Spark-first shapes:
- **Bounds are metadata**: per-dimension (min, max) over the corpus —
  ONE map-side Arrow partial-bounds kernel (a single (mn[], mx[]) row
  per partition, numpy-combined on the driver: 2*D numbers, D=64 ->
  1 KiB); no collect of corpus rows, corpus-size independent,
  dimension-count independent (no per-dimension codegen).
- **Encoding is pure map-side**: one Arrow batch -> (N, D) int matrix,
  two vectorized affine ops against the broadcast bounds — no join, no
  shuffle.
- **ADC search is map-side + one window**: queries stay EXACT
  (asymmetric distance); corpus vectors are reconstructed from their
  codes inside the kernel and a PARTIAL top-k is cut per batch
  (boundary ties kept, :func:`similarity.topk_cut`) — the Exchange
  carries <= Q*k rows per batch, never the Q x corpus candidate
  matrix; the final window ranks a metadata-sized frame.

Determinism/oracle: vectors quantize as floor(x*1000) (the repo-wide
contract); codes and reconstructions are EXACT integer arithmetic
(floor divisions over non-negative operands, so numpy ``//`` and
DuckDB ``//`` agree); ties break to the lowest neighbor id — so
:func:`sq8_encode_sql` and :func:`sq8_topk_sql` reproduce codes,
distances, and ranks bit-for-bit in DuckDB.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, Window, functions as F

from ..worker_env import limit_worker_threads
from .similarity import _with_quant, batch_qmatrix, topk_cut

QUANT_SQL = (
    "list_transform(embedding, x -> "
    "CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT))"
)

# exploded (vec_id, d, v) view of the quantized corpus; d is 1-based
# (generate_subscripts) to match the SQL list-index convention
_EXPLODE_SQL = (
    "SELECT vec_id, unnest(qv) AS v, generate_subscripts(qv, 1) AS d "
    "FROM q"
)


def _bounds(corpus: DataFrame):
    """Per-dimension (mn, span>=1) int64 arrays via one map-side
    partial-bounds kernel: each partition emits a single (mn[], mx[])
    row, the driver combines <= #partitions rows in numpy; the
    dimension count rides along (len(mn)), so the whole corpus scan
    for metadata is ONE job. (A per-dimension
    ``F.min(q[d])``/``F.max(q[d])`` aggregate computes the same thing
    but generates 2*D codegen expressions — seconds of compile at D=64
    and unusable at D=4096; the Arrow kernel is
    dimension-count-independent and measured ~1.7x faster warm.)"""
    import pyarrow as pa

    def partial(batches):
        limit_worker_threads()
        mn = mx = None
        for batch in batches:
            if batch.num_rows == 0:
                continue
            t = pa.Table.from_batches([batch])
            q = t.column("q").combine_chunks()
            d = len(q.flatten()) // max(len(q), 1)
            qs = batch_qmatrix(t, d)  # raises on ragged dims
            bmn, bmx = qs.min(axis=0), qs.max(axis=0)
            # shape mismatch across batches (ragged corpus) raises here
            mn = bmn if mn is None else np.minimum(mn, bmn)
            mx = bmx if mx is None else np.maximum(mx, bmx)
        if mn is not None:
            yield pa.record_batch(
                [
                    pa.array([mn.tolist()], pa.list_(pa.int64())),
                    pa.array([mx.tolist()], pa.list_(pa.int64())),
                ],
                names=["mn", "mx"],
            )

    rows = corpus.mapInArrow(
        partial, "mn array<long>, mx array<long>"
    ).collect()
    if not rows:
        raise ValueError("sq8: empty corpus")
    if len({len(r[0]) for r in rows}) != 1:
        raise ValueError(
            f"sq8: embedding dims vary across partitions: "
            f"{sorted({len(r[0]) for r in rows})}"
        )
    mn = np.min([r[0] for r in rows], axis=0).astype(np.int64)
    mx = np.max([r[1] for r in rows], axis=0).astype(np.int64)
    # span floor of 1: a constant dimension encodes (and reconstructs)
    # as mn exactly; mirrors greatest(span, 1) in the SQL oracles
    return mn, np.maximum(mx - mn, 1)


def _encode_codes(qs: np.ndarray, mn: np.ndarray, span: np.ndarray):
    """(N, D) quantized vectors -> (N, D) codes in [0, 255]. Non-negative
    floor division: (qv - mn) ranges [0, span], so the quotient is in
    [0, 255] with no clipping needed."""
    return ((qs - mn[None, :]) * 255) // span[None, :]


def _reconstruct(codes: np.ndarray, mn: np.ndarray, span: np.ndarray):
    return mn[None, :] + (codes * span[None, :]) // 255


def sq8_encode(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes_csv): each vector's D uint8 codes under per-dimension
    affine quantization, as a CSV string so the DuckDB oracle compares
    byte-for-byte. Map-side only after the one bounds aggregate."""
    import pyarrow as pa

    corpus = _with_quant(emb, id_col, vec_col)
    mn, span = _bounds(corpus)
    dims = len(mn)

    def encode(batches):
        limit_worker_threads()
        for batch in batches:
            if batch.num_rows == 0:
                continue
            t = pa.Table.from_batches([batch])
            codes = _encode_codes(batch_qmatrix(t, dims), mn, span)
            ids = (
                t.column(id_col)
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            csv = [",".join(str(c) for c in row) for row in codes]
            yield pa.record_batch(
                [pa.array(ids, pa.int64()), pa.array(csv, pa.string())],
                names=[id_col, "codes_csv"],
            )

    return corpus.mapInArrow(encode, f"{id_col} long, codes_csv string")


def sq8_topk(
    emb: DataFrame,
    k_nn: int = 5,
    n_queries: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k by asymmetric distance over SQ8 codes: exact
    query vectors against per-batch reconstructions (mn + code*span//255).
    Returns (query_id, neighbor_id, rank, adc_dist); rank orders by
    dist ASC, neighbor_id ASC. Distances use the exact integer
    ||a||^2 + ||b||^2 - 2ab expansion (int64 matmul — no float paths)."""
    import pyarrow as pa

    corpus = _with_quant(emb, id_col, vec_col)
    mn, span = _bounds(corpus)
    dims = len(mn)
    qrows = sorted(
        (r[0], r[1])
        for r in corpus.filter(F.col(id_col) < n_queries).collect()
    )
    if not qrows:
        raise ValueError(f"sq8_topk: no query vectors with id < {n_queries}")
    q_ids = np.array([r[0] for r in qrows], np.int64)
    q_mat = np.array([r[1] for r in qrows], np.int64)  # (Q, D) exact
    q_n2 = (q_mat * q_mat).sum(axis=1)

    def score(batches):
        limit_worker_threads()
        for batch in batches:
            if batch.num_rows == 0:
                continue
            t = pa.Table.from_batches([batch])
            qs = batch_qmatrix(t, dims)
            recon = _reconstruct(_encode_codes(qs, mn, span), mn, span)
            ids = (
                t.column(id_col)
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            r_n2 = (recon * recon).sum(axis=1)
            # (Q, N) exact int64 distances via the expansion
            dists = (
                q_n2[:, None] + r_n2[None, :] - 2 * (q_mat @ recon.T)
            )
            out_q, out_i, out_d = [], [], []
            for qi in range(len(q_ids)):
                keep = ids != q_ids[qi]  # self-match excluded map-side
                dm, im = dists[qi][keep], ids[keep]
                n = len(im)
                if n == 0:
                    continue
                kk = min(k_nn, n)
                dc, ic = topk_cut(dm, im, kk)
                out_q.append(np.full(kk, q_ids[qi], np.int64))
                out_i.append(ic)
                out_d.append(dc)
            if not out_q:
                continue
            yield pa.record_batch(
                [
                    pa.array(np.concatenate(out_q), pa.int64()),
                    pa.array(np.concatenate(out_i), pa.int64()),
                    pa.array(np.concatenate(out_d), pa.int64()),
                ],
                names=["query_id", "neighbor_id", "adc_dist"],
            )

    scored = corpus.mapInArrow(
        score, "query_id long, neighbor_id long, adc_dist long"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k_nn)
        .select("query_id", "neighbor_id", "rank", "adc_dist")
    )


def _codes_cte(table: str) -> str:
    """Shared SQL: quantized corpus + per-dimension bounds + codes.
    Same integer arithmetic as the kernels (non-negative floor
    divisions, span floored at 1)."""
    return f"""q AS (
  SELECT vec_id, {QUANT_SQL} AS qv FROM {table}
), e AS (
  {_EXPLODE_SQL}
), b AS (
  SELECT d, min(v) AS mn, greatest(max(v) - min(v), 1) AS span
  FROM e GROUP BY d
), codes AS (
  SELECT e.vec_id, e.d, ((e.v - b.mn) * 255) // b.span AS code
  FROM e JOIN b USING (d)
)"""


def sq8_encode_sql(table: str = "embeddings") -> str:
    """DuckDB oracle for :func:`sq8_encode`."""
    return f"""
WITH {_codes_cte(table)}
SELECT vec_id,
       array_to_string(list(code ORDER BY d), ',') AS codes_csv
FROM codes GROUP BY vec_id
"""


def sq8_topk_sql(
    k_nn: int = 5, n_queries: int = 10, table: str = "embeddings"
) -> str:
    """DuckDB oracle for :func:`sq8_topk` — same codes, same integer
    reconstruction, same tie rules."""
    return f"""
WITH {_codes_cte(table)},
recon AS (
  SELECT c.vec_id, c.d, b.mn + (c.code * b.span) // 255 AS r
  FROM codes c JOIN b USING (d)
), qd AS (
  SELECT vec_id AS query_id, d, v FROM e WHERE vec_id < {n_queries}
), adc AS (
  SELECT qd.query_id, r.vec_id AS neighbor_id,
         CAST(SUM((qd.v - r.r) * (qd.v - r.r)) AS BIGINT) AS adc_dist
  FROM qd JOIN recon r USING (d)
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, rank, adc_dist FROM (
  SELECT query_id, neighbor_id, adc_dist,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc_dist, neighbor_id) AS rank
  FROM adc WHERE neighbor_id <> query_id
) WHERE rank <= {k_nn}
"""
