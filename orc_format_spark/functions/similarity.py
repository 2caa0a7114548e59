"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline, plus an LSH/IVF-style
bucketed variant as the scale path. Not in the reference repo (SURVEY.md
§2.7); first-class additions per the task brief.

Determinism: cosine is computed over integer-quantized vectors
(floor(x * 1000) per dimension). Dot products and norms are then exact
integer sums, and the final double division/sqrt chain is written with
identical operand order on both engines, so the DuckDB oracle reproduces
scores (and hence rankings) bit-for-bit — no float-tie flakiness.

Scale shapes:
- brute-force top-k: broadcast the (small) query set, one pass over the
  corpus, per-query top-k via window rank — shuffles only (queries x k)
  rows after map-side partial filtering.
- bucketed ANN: sign-bit LSH over d' leading dimensions buckets the
  corpus once; probes touch a single bucket. The bucket id is a pure
  function of the vector -> deterministic, resume-friendly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..worker_env import limit_worker_threads

QUANT = 1000.0


def quantized(vec: Column) -> Column:
    """array<float> -> array<bigint>: floor(x * 1000) per dimension."""
    return F.transform(
        vec, lambda x: F.floor(x.cast("double") * F.lit(QUANT)).cast("long")
    )


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def cosine_e6(qa: Column, qb: Column, na: Column, nb: Column) -> Column:
    """floor(1e6 * cos) from pre-quantized vectors + precomputed norms."""
    cos = dot(qa, qb) / (F.sqrt(na.cast("double")) * F.sqrt(nb.cast("double")))
    return F.floor(cos * F.lit(1000000.0)).cast("long")


def _with_quant(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    q = quantized(F.col(vec_col))
    return df.select(
        F.col(id_col), q.alias("q"), dot(q, q).alias("norm2")
    )


# hard ceiling on what a centroid resolution may ever pull to the driver:
# centroids are metadata (O(sqrt(corpus)) under k-means), and a stride
# sample that exceeds this is a misconfiguration that would otherwise
# scale driver memory WITH the corpus — the one failure mode a 10^12-row
# deployment cannot tolerate silently
MAX_CENTROIDS = 100_000


def resolve_centroids(
    corpus: DataFrame,
    centroid_stride: int,
    centroids,
    id_col: str,
    vec_col: str,
):
    """-> (cent_ids, cent_mat, cent_sqrt) numpy arrays for the assignment
    kernels.

    ``centroids`` is the offline-training injection point (SemDeDup /
    IVF practice at real scale: train k-means offline where centroid
    count ~ sqrt(corpus), then broadcast):

    - ``None`` (default): every ``centroid_stride``-th corpus vector —
      the deterministic k-means stand-in the SQL oracles reproduce. The
      sample is fetched with ``limit(MAX_CENTROIDS + 1)`` so the driver
      never materializes more than the cap + 1 rows; exceeding the cap
      raises instead of silently collecting corpus-scale data.
    - a DataFrame with (``id_col``, ``vec_col``) columns: quantized with
      the same floor(x*1000) contract, same cap.
    - a numpy ndarray (C, D) of raw float vectors: quantized here,
      centroid ids = 0..C-1 (row order).
    """
    import numpy as np

    if centroids is None:
        sampled = corpus.filter((F.col(id_col) % centroid_stride) == 0)
        rows = sampled.limit(MAX_CENTROIDS + 1).collect()
        if len(rows) > MAX_CENTROIDS:
            raise ValueError(
                f"centroid stride sample exceeds {MAX_CENTROIDS} rows — "
                "a stride-derived centroid set must stay metadata-sized. "
                "Raise centroid_stride, or train centroids offline and "
                "pass them via centroids=."
            )
        cents = sorted((r[0], r[1], r[2]) for r in rows)
    elif isinstance(centroids, DataFrame):
        cdf = _with_quant(centroids, id_col, vec_col).filter(F.col("norm2") > 0)
        rows = cdf.limit(MAX_CENTROIDS + 1).collect()
        if len(rows) > MAX_CENTROIDS:
            raise ValueError(
                f"injected centroid table exceeds {MAX_CENTROIDS} rows — "
                "centroids must be metadata-sized (O(sqrt(corpus)))"
            )
        cents = sorted((r[0], r[1], r[2]) for r in rows)
    else:
        arr = np.asarray(centroids, dtype=np.float64)
        if arr.ndim != 2:
            raise ValueError(
                f"centroids ndarray must be (C, D), got shape {arr.shape}"
            )
        if arr.shape[0] > MAX_CENTROIDS:
            raise ValueError(
                f"centroids ndarray exceeds {MAX_CENTROIDS} rows"
            )
        qm = np.floor(arr * QUANT).astype(np.int64)
        norm2 = (qm * qm).sum(axis=1)
        keep = norm2 > 0
        cents = [
            (int(i), qm[i].tolist(), int(norm2[i]))
            for i in np.nonzero(keep)[0]
        ]
    if not cents:
        raise ValueError(
            "no centroids: corpus has no id % stride == 0 rows"
            if centroids is None
            else "no centroids: injected set is empty (or all zero-norm)"
        )
    cent_ids = np.array([c[0] for c in cents], np.int64)
    cent_mat = np.array([c[1] for c in cents], np.int64)  # (C, D)
    cent_sqrt = np.sqrt(np.array([c[2] for c in cents], np.float64))
    return cent_ids, cent_mat, cent_sqrt


def batch_qmatrix(t, dims: int):
    """Arrow batch column "q" (fixed-width list<int64>) -> (N, dims)
    int64 matrix, zero-copy: one flatten of the values buffer + reshape.
    Replaces the former ``to_pylist()``/``np.vstack`` idiom, which boxed
    every vector element into Python objects in the hot assignment loop.
    """
    q = t.column("q").combine_chunks()
    if q.null_count:
        raise ValueError("assignment kernel: null quantized vector")
    flat = q.flatten().to_numpy(zero_copy_only=False)
    if flat.size != len(q) * dims:
        raise ValueError(
            f"embedding dims vary: {flat.size} values over {len(q)} "
            f"vectors (expected {dims}/vector, matching the centroids)"
        )
    return flat.reshape(len(q), dims)


def topk_cut(vals, ids, kk: int, descending: bool = False):
    """Boundary-tie-preserving partial top-k over one query's candidate
    scores: keep every row tied with the k-th best (threshold cut),
    order by the SAME lexicographic rule as the downstream global
    window ((vals, ids) ascending, or (-vals, ids) when ``descending``),
    truncate to ``kk``. Exactness-critical and shared by all three ANN
    kernels (brute-force cosine, PQ-ADC, IVF-ADC): the global merge of
    per-batch partials must equal ranking the full candidate matrix,
    which holds because a row can only displace another in the final
    window if it would also have survived its batch's threshold cut."""
    import numpy as np

    n = len(ids)
    if descending:
        thresh = np.partition(vals, n - kk)[n - kk]
        cand = vals >= thresh
        vc, ic = vals[cand], ids[cand]
        order = np.lexsort((ic, -vc))[:kk]
    else:
        thresh = np.partition(vals, kk - 1)[kk - 1]
        cand = vals <= thresh
        vc, ic = vals[cand], ids[cand]
        order = np.lexsort((ic, vc))[:kk]
    return vc[order], ic[order]


def brute_force_topk(
    emb: DataFrame,
    k: int = 5,
    n_queries: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k neighbors for the first ``n_queries`` vectors.

    Scale shape: the scoring kernel is map-side (broadcast query matrix
    into a mapInArrow numpy matmul) and cuts a PARTIAL top-k per Arrow
    batch before anything reaches the Exchange — the shuffle carries at
    most Q*k rows per batch, never the Q*N candidate matrix. The final
    window then ranks a metadata-sized frame. Exactness is preserved:
    the per-batch cut keeps every row tied with the k-th best (threshold
    cut) and orders by the same (cos_e6 DESC, neighbor_id ASC) rule as
    the global window; integer dot products are order-exact and the
    float steps replicate the oracle's IEEE op order
    (dot / (sqrt(na)*sqrt(nb)) * 1e6, floored)."""
    import numpy as np
    import pyarrow as pa

    corpus = _with_quant(emb, id_col, vec_col)
    qrows = sorted(
        (r[0], r[1], r[2])
        for r in corpus.filter(
            (F.col(id_col) < n_queries) & (F.col("norm2") > 0)
        ).collect()  # bounded by n_queries — never corpus-scale
    )
    if not qrows:
        raise ValueError(f"brute_force_topk: no queries with id < {n_queries}")
    q_ids = np.array([r[0] for r in qrows], np.int64)
    q_mat = np.array([r[1] for r in qrows], np.int64)  # (Q, D)
    q_sqrt = np.sqrt(np.array([r[2] for r in qrows], np.float64))
    dims = q_mat.shape[1]

    def score(batches):
        limit_worker_threads()
        for batch in batches:
            if batch.num_rows == 0:
                continue
            t = pa.Table.from_batches([batch])
            vs = batch_qmatrix(t, dims)
            ids = (
                t.column(id_col).to_numpy(zero_copy_only=False).astype(np.int64)
            )
            n2 = (
                t.column("norm2").to_numpy(zero_copy_only=False).astype(np.int64)
            )
            live = n2 > 0
            if not live.any():
                continue
            vs, ids, n2 = vs[live], ids[live], n2[live]
            dot = (vs @ q_mat.T).astype(np.float64)  # (N, Q) exact int64
            cos = dot / (np.sqrt(n2.astype(np.float64))[:, None] * q_sqrt[None, :])
            ce6 = np.floor(cos * 1000000.0).astype(np.int64)
            out_q, out_i, out_c = [], [], []
            for qi in range(len(q_ids)):
                keep = ids != q_ids[qi]
                cm, im = ce6[keep, qi], ids[keep]
                n = len(im)
                if n == 0:
                    continue
                kk = min(k, n)
                cc, ic = topk_cut(cm, im, kk, descending=True)
                out_q.append(np.full(kk, q_ids[qi], np.int64))
                out_i.append(ic)
                out_c.append(cc)
            if not out_q:
                continue
            yield pa.record_batch(
                [
                    pa.array(np.concatenate(out_q), pa.int64()),
                    pa.array(np.concatenate(out_i), pa.int64()),
                    pa.array(np.concatenate(out_c), pa.int64()),
                ],
                names=["query_id", "neighbor_id", "cos_e6"],
            )

    scored = corpus.mapInArrow(
        score, "query_id long, neighbor_id long, cos_e6 long"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_e6").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_e6")
    )


def brute_force_topk_sql(
    k: int = 5, n_queries: int = 10, table: str = "embeddings"
) -> str:
    quant = (
        "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT))"
    )
    return f"""
WITH q AS (
  SELECT vec_id, {quant} AS qv FROM {table}
), n AS (
  SELECT vec_id, qv,
         list_sum(list_transform(qv, x -> x * x)) AS norm2
  FROM q
), scored AS (
  SELECT qs.vec_id AS query_id, cs.vec_id AS neighbor_id,
         CAST(floor(
           list_sum(list_transform(range(1, len(qs.qv) + 1),
                    i -> qs.qv[CAST(i AS INT)] * cs.qv[CAST(i AS INT)]))
           / (sqrt(CAST(qs.norm2 AS DOUBLE)) * sqrt(CAST(cs.norm2 AS DOUBLE)))
           * 1000000.0) AS BIGINT) AS cos_e6
  FROM n qs JOIN n cs
    ON qs.vec_id < {n_queries} AND qs.norm2 > 0 AND cs.norm2 > 0
   AND cs.vec_id != qs.vec_id
)
SELECT query_id, neighbor_id,
       CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY cos_e6 DESC, neighbor_id) AS INT) AS rank, cos_e6
FROM scored
QUALIFY rank <= {k}
"""


def near_duplicate_pairs(
    emb: DataFrame,
    threshold_e6: int = 950000,
    max_id: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs with cosine >= threshold (exact, quadratic — the
    verification stage; LSH buckets below are the candidate stage)."""
    d = emb if max_id is None else emb.filter(F.col(id_col) < max_id)
    corpus = _with_quant(d, id_col, vec_col).filter(F.col("norm2") > 0)
    a = corpus.alias("a")
    b = corpus.alias("b")
    return (
        a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            cosine_e6(
                F.col("a.q"), F.col("b.q"), F.col("a.norm2"), F.col("b.norm2")
            ).alias("cos_e6"),
        )
        .filter(F.col("cos_e6") >= threshold_e6)
    )


def near_duplicate_pairs_sql(
    threshold_e6: int = 950000, max_id: int | None = None, table: str = "embeddings"
) -> str:
    quant = (
        "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT))"
    )
    lim = f"WHERE vec_id < {max_id}" if max_id is not None else ""
    return f"""
WITH n AS (
  SELECT vec_id, {quant} AS qv,
         list_sum(list_transform({quant}, x -> x * x)) AS norm2
  FROM {table} {lim}
)
SELECT * FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         CAST(floor(
           list_sum(list_transform(range(1, len(a.qv) + 1),
                    i -> a.qv[CAST(i AS INT)] * b.qv[CAST(i AS INT)]))
           / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.norm2 AS DOUBLE)))
           * 1000000.0) AS BIGINT) AS cos_e6
  FROM n a JOIN n b ON a.vec_id < b.vec_id
  WHERE a.norm2 > 0 AND b.norm2 > 0
) WHERE cos_e6 >= {threshold_e6}
"""


def lsh_bucketed_topk_sql(
    k: int = 5,
    n_queries: int = 10,
    sign_dims: int = 8,
    n_tables: int = 4,
    table: str = "embeddings",
) -> str:
    """DuckDB oracle for :func:`lsh_bucketed_topk`.

    The bucket id is pure integer arithmetic (sign bits of quantized
    dims, folded MSB-first as ``acc*2+bit``) and ``cos_e6`` uses the
    identical operand order as :func:`brute_force_topk_sql`, so the
    approximate index is still *exactly* reproducible in SQL: same
    buckets, same candidates, same scores, same ranks."""
    quant = (
        "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT))"
    )
    return f"""
WITH n AS (
  SELECT vec_id, {quant} AS qv,
         list_sum(list_transform({quant}, x -> x * x)) AS norm2
  FROM {table}
), b AS (
  SELECT vec_id, qv, norm2, t.tbl,
         list_sum(list_transform(range(1, {sign_dims} + 1),
           i -> (CASE WHEN qv[CAST(t.tbl * {sign_dims} + i AS INT)] >= 0
                      THEN 1 ELSE 0 END)
                * (1 << ({sign_dims} - CAST(i AS INT))))) AS bucket
  FROM n CROSS JOIN (SELECT unnest(range(0, {n_tables})) AS tbl) t
  WHERE norm2 > 0
), q AS (
  SELECT vec_id AS query_id, qv AS qqv, norm2 AS qnorm2, tbl, bucket
  FROM b WHERE vec_id < {n_queries}
), scored AS (
  SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id,
         CAST(floor(
           list_sum(list_transform(range(1, len(q.qqv) + 1),
                    i -> q.qqv[CAST(i AS INT)] * c.qv[CAST(i AS INT)]))
           / (sqrt(CAST(q.qnorm2 AS DOUBLE)) * sqrt(CAST(c.norm2 AS DOUBLE)))
           * 1000000.0) AS BIGINT) AS cos_e6
  FROM b c JOIN q
    ON c.tbl = q.tbl AND c.bucket = q.bucket AND c.vec_id != q.query_id
)
SELECT query_id, neighbor_id,
       CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY cos_e6 DESC, neighbor_id) AS INT) AS rank, cos_e6
FROM scored
QUALIFY rank <= {k}
"""


def auto_sign_dims(
    corpus_size: int,
    vec_dim: int,
    n_tables: int = 4,
    target_bucket: int = 4096,
) -> int:
    """Bucket-width autoscale: smallest ``sign_dims`` whose expected
    bucket (corpus / 2^sign_dims) stays <= ``target_bucket``, clamped to
    [4, 24] and to the contiguous-slice budget vec_dim // n_tables.
    10^9 vectors / 4k target -> 18 bits; 10^12 -> 24 (the clamp: beyond
    that, add tables or shard the corpus rather than widening a single
    hash)."""
    import math

    need = max(4, math.ceil(math.log2(max(1, corpus_size) / target_bucket)))
    return max(4, min(need, 24, vec_dim // max(1, n_tables)))


def lsh_bucketed_topk(
    emb: DataFrame,
    k: int = 5,
    n_queries: int = 10,
    sign_dims: int | None = 8,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_size: int | None = None,
) -> DataFrame:
    """Approximate top-k via multi-table sign-bit LSH.

    ``n_tables`` independent hash tables, each bucketing on the sign
    bits of a different contiguous ``sign_dims``-dimension slice (so
    sign_dims * n_tables <= vector dim). A candidate only needs to
    collide in ONE table — multi-probe recall without widening any
    single bucket. Scale shape: each table has 2^sign_dims buckets, so
    the expected bucket holds corpus/2^sign_dims vectors; pass
    ``sign_dims=None`` with a ``corpus_size`` hint to have
    :func:`auto_sign_dims` size it (executor-bounded buckets, e.g. 18+
    bits at 10^9 vectors) instead of hand-picking. Approximate in
    *recall* but fully deterministic in construction — for any given
    (sign_dims, n_tables) — so :func:`lsh_bucketed_topk_sql` reproduces
    it exactly."""
    corpus = _with_quant(emb, id_col, vec_col).filter(F.col("norm2") > 0)
    if sign_dims is None:
        if corpus_size is None:
            # one metadata-cheap count: the hint exists so callers at
            # known scale (manifest row counts) can skip this job
            corpus_size = emb.count()
        vec_dim = len(
            emb.select(vec_col).limit(1).first()[0]
        )
        sign_dims = auto_sign_dims(corpus_size, vec_dim, n_tables)

    def bucket_expr(t: int) -> Column:
        return F.aggregate(
            F.transform(
                F.slice(F.col("q"), t * sign_dims + 1, sign_dims),
                lambda x: F.when(x >= 0, F.lit(1)).otherwise(F.lit(0)),
            ),
            F.lit(0).cast("long"),
            lambda acc, bit: acc * 2 + bit,
        )

    tables = F.array(
        *[
            F.struct(F.lit(t).alias("tbl"), bucket_expr(t).alias("bucket"))
            for t in range(n_tables)
        ]
    )
    bucketed = corpus.select(
        id_col, "q", "norm2", F.explode(tables).alias("tb")
    ).select(id_col, "q", "norm2", "tb.tbl", "tb.bucket")
    queries = bucketed.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"),
        F.col("q").alias("qq"),
        F.col("norm2").alias("qnorm2"),
        F.col("tbl").alias("qtbl"),
        F.col("bucket").alias("qbucket"),
    )
    scored = (
        bucketed.join(
            F.broadcast(queries),
            (F.col("tbl") == F.col("qtbl")) & (F.col("bucket") == F.col("qbucket")),
        )
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            cosine_e6(
                F.col("qq"), F.col("q"), F.col("qnorm2"), F.col("norm2")
            ).alias("cos_e6"),
        )
        # a pair colliding in several tables scores identically each time
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_e6").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_e6")
    )


def ivf_topk(
    emb: DataFrame,
    k: int = 5,
    n_queries: int = 10,
    centroid_stride: int = 37,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids=None,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index — the second
    ANN scale path next to :func:`lsh_bucketed_topk`.

    Index build: the centroid set comes from :func:`resolve_centroids` —
    by default every ``centroid_stride``-th vector (id % stride == 0), a
    deterministic stand-in for a k-means training run; at real scale you
    train centroids offline (count ~ sqrt(corpus)) and inject them via
    ``centroids=`` (DataFrame or ndarray). Either way the collected set
    is hard-capped at ``MAX_CENTROIDS`` — the driver can never be made
    to materialize corpus-scale data. Each corpus vector is assigned to
    its max-cosine centroid (tie -> lowest centroid id). Search: a query
    probes its ``nprobe`` nearest centroids' lists and brute-forces only
    those lists.

    Scale shape: the centroid set is metadata-sized, collected once and
    captured by an Arrow-batched numpy matmul kernel — the assignment
    pass is then PURE MAP-SIDE (no join, no shuffle; one window at the
    end ranks (queries x candidates) rows only). Probing touches
    ~nprobe/n_lists of the corpus instead of all of it. Fully
    deterministic -> exactly reproduced by :func:`ivf_topk_sql` (same
    floor/sqrt operand order as every other cosine here)."""
    import numpy as np
    import pyarrow as pa

    corpus = _with_quant(emb, id_col, vec_col).filter(F.col("norm2") > 0)
    cent_ids, cent_mat, cent_sqrt = resolve_centroids(
        corpus, centroid_stride, centroids, id_col, vec_col
    )

    # assignment kernel: one Arrow-batched matmul per batch — map-side,
    # no shuffle, no per-centroid expression tree (a literal-centroid
    # Catalyst expression was measured ~5x slower purely on codegen).
    # The scalar chain floor(dot / (sqrt(na) * sqrt(nb)) * 1e6) uses the
    # exact operand order of cosine_e6, all IEEE-754 correctly-rounded
    # ops, so results stay bit-identical to the SQL oracle.
    def assign(batches):
        limit_worker_threads()
        for batch in batches:
            if batch.num_rows == 0:
                continue
            t = pa.Table.from_batches([batch])
            qs = batch_qmatrix(t, cent_mat.shape[1])
            norm2 = t.column("norm2").to_numpy(zero_copy_only=False)
            dots = (qs @ cent_mat.T).astype(np.float64)
            aff = np.floor(
                dots
                / (np.sqrt(norm2.astype(np.float64))[:, None] * cent_sqrt[None, :])
                * 1000000.0
            )
            # rank aff DESC with ties -> lowest centroid id: stable sort
            # over ascending cent index == ascending cent_id
            order = np.argsort(-aff, axis=1, kind="stable")
            probes = cent_ids[order[:, :nprobe]]
            ids = t.column(id_col).to_numpy(zero_copy_only=False).astype(np.int64)
            yield pa.record_batch(
                [
                    pa.array(ids, pa.int64()),
                    t.column("q").combine_chunks().cast(pa.list_(pa.int64())),
                    pa.array(
                        norm2.astype(np.int64), pa.int64()
                    ),
                    pa.array(cent_ids[order[:, 0]], pa.int64()),
                    pa.array(probes.tolist(), pa.list_(pa.int64())),
                ],
                names=[id_col, "q", "norm2", "list_id", "probes"],
            )

    assigned = corpus.mapInArrow(
        assign,
        f"{id_col} long, q array<long>, norm2 long, "
        "list_id long, probes array<long>",
    )
    queries = (
        assigned.filter(F.col(id_col) < n_queries)
        .select(
            F.col(id_col).alias("query_id"),
            F.col("q").alias("qq"),
            F.col("norm2").alias("qnorm2"),
            F.explode("probes").alias("probe"),
        )
    )
    scored = (
        assigned.select(id_col, "q", "norm2", "list_id")
        .join(F.broadcast(queries), F.col("list_id") == F.col("probe"))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            cosine_e6(
                F.col("qq"), F.col("q"), F.col("qnorm2"), F.col("norm2")
            ).alias("cos_e6"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_e6").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_e6")
    )


def ivf_topk_sql(
    k: int = 5,
    n_queries: int = 10,
    centroid_stride: int = 37,
    nprobe: int = 4,
    table: str = "embeddings",
) -> str:
    """DuckDB oracle for :func:`ivf_topk` — same centroid selection,
    assignment argmax (aff DESC, cent_id ASC), probe ranking, and
    cosine operand order, so lists, candidates, scores, and ranks all
    match exactly."""
    quant = (
        "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT))"
    )
    cos = (
        "CAST(floor("
        "list_sum(list_transform(range(1, len({a}) + 1), "
        "i -> {a}[CAST(i AS INT)] * {b}[CAST(i AS INT)])) "
        "/ (sqrt(CAST({na} AS DOUBLE)) * sqrt(CAST({nb} AS DOUBLE))) "
        "* 1000000.0) AS BIGINT)"
    )
    aff = cos.format(a="n.qv", b="c.cq", na="n.norm2", nb="c.cnorm2")
    score = cos.format(a="q.qq", b="v.qv", na="q.qnorm2", nb="v.norm2")
    return f"""
WITH n AS (
  SELECT vec_id, {quant} AS qv,
         list_sum(list_transform({quant}, x -> x * x)) AS norm2
  FROM {table}
), nn AS (
  SELECT * FROM n WHERE norm2 > 0
), c AS (
  SELECT vec_id AS cent_id, qv AS cq, norm2 AS cnorm2
  FROM nn WHERE vec_id % {centroid_stride} = 0
), aff AS (
  SELECT n.vec_id, n.qv, n.norm2, c.cent_id, {aff} AS aff,
         row_number() OVER (PARTITION BY n.vec_id
                            ORDER BY {aff} DESC, c.cent_id) AS arank
  FROM nn n CROSS JOIN c
), assigned AS (
  SELECT vec_id, qv, norm2, cent_id AS list_id FROM aff WHERE arank = 1
), q AS (
  SELECT vec_id AS query_id, qv AS qq, norm2 AS qnorm2, cent_id AS probe
  FROM aff WHERE vec_id < {n_queries} AND arank <= {nprobe}
), scored AS (
  SELECT q.query_id, v.vec_id AS neighbor_id, {score} AS cos_e6
  FROM assigned v JOIN q
    ON v.list_id = q.probe AND v.vec_id != q.query_id
)
SELECT query_id, neighbor_id,
       CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY cos_e6 DESC, neighbor_id) AS INT) AS rank, cos_e6
FROM scored
QUALIFY rank <= {k}
"""
