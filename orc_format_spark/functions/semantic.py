"""Semantic (embedding-space) deduplication — the SemDeDup shape.

Not in the reference repo (SURVEY.md §2.7); a first-class
training-data-pipeline addition per the task brief, following the
published SemDeDup recipe (Abbas et al., 2023, arXiv:2303.09540):
cluster the embedding space, then search for near-duplicates ONLY
within each cluster, so the pairwise stage is bounded by the largest
cluster instead of the corpus.

Spark-first plan shape (the 100 TB story):

1. **Centroids are metadata.** By default every ``centroid_stride``-th
   vector is a centroid — the same deterministic stand-in for an
   offline k-means run as :func:`similarity.ivf_topk`. At real scale
   you train centroids offline (count ~ sqrt(corpus)) and inject them
   through the ``centroids=`` parameter; either path is hard-capped at
   ``similarity.MAX_CENTROIDS`` rows on the driver, so the default can
   never silently scale with the corpus. The plan below is unchanged
   either way.
2. **Assignment is pure map-side.** One Arrow-batched numpy matmul per
   batch assigns each vector to its max-cosine centroid — no join, no
   shuffle, nothing crosses the wire but the vector's own row.
3. **The pairwise stage shuffles once on cluster id.** A self-join on
   ``list_id`` compares each vector only against its cluster peers
   (~corpus/C rows per cluster, C ~ sqrt(corpus) under k-means), never
   all-pairs. Skew ceiling: cluster population is printable from the
   assignment output; a pathological giant cluster is a centroid-count
   problem, fixed by raising C (``auto_sign_dims`` in similarity.py is
   the same corpus-size-driven sizing rule).
4. **The drop rule is a window, not an iteration.** A vector is dropped
   iff a LOWER-id cluster peer sits above the cosine threshold (the
   keeper is its max-cosine such peer, ties -> lowest id). One
   ``row_number`` over the dominated side; no connected-components
   iteration, deterministic, exactly reproducible in SQL — verified by
   the DuckDB oracle in :func:`semantic_dedup_sql`.

Determinism: integer-quantized cosine (floor(x*1000) per dim, exact
integer dot/norm, identical double operand order both engines) — the
same contract as every cosine in similarity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..worker_env import limit_worker_threads
from .similarity import _with_quant, batch_qmatrix, cosine_e6, resolve_centroids


def assign_ivf_lists(
    emb: DataFrame,
    centroid_stride: int = 37,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids=None,
) -> DataFrame:
    """(id, q, norm2, list_id): each vector mapped to its max-cosine
    centroid (ties -> lowest centroid id). Map-side only — the centroid
    matrix is driver metadata captured by an Arrow-batched matmul
    kernel. Centroids come from :func:`similarity.resolve_centroids`:
    the deterministic stride sample by default (hard-capped at
    ``MAX_CENTROIDS``), or an offline-trained set injected via
    ``centroids=`` (DataFrame of (id, vec) or ndarray)."""
    import numpy as np
    import pyarrow as pa

    corpus = _with_quant(emb, id_col, vec_col).filter(F.col("norm2") > 0)
    cent_ids, cent_mat, cent_sqrt = resolve_centroids(
        corpus, centroid_stride, centroids, id_col, vec_col
    )

    def assign(batches):
        limit_worker_threads()
        for batch in batches:
            if batch.num_rows == 0:
                continue
            t = pa.Table.from_batches([batch])
            qs = batch_qmatrix(t, cent_mat.shape[1])
            norm2 = t.column("norm2").to_numpy(zero_copy_only=False)
            # floor(dot / (sqrt(na) * sqrt(nb)) * 1e6): exact operand
            # order of cosine_e6 -> bit-identical to the SQL oracle
            aff = np.floor(
                (qs @ cent_mat.T).astype(np.float64)
                / (np.sqrt(norm2.astype(np.float64))[:, None] * cent_sqrt[None, :])
                * 1000000.0
            )
            best = np.argmax(aff, axis=1)  # first max == lowest cent id
            ids = t.column(id_col).to_numpy(zero_copy_only=False).astype(np.int64)
            yield pa.record_batch(
                [
                    pa.array(ids, pa.int64()),
                    t.column("q").combine_chunks().cast(pa.list_(pa.int64())),
                    pa.array(norm2.astype(np.int64), pa.int64()),
                    pa.array(cent_ids[best], pa.int64()),
                ],
                names=[id_col, "q", "norm2", "list_id"],
            )

    return corpus.mapInArrow(
        assign, f"{id_col} long, q array<long>, norm2 long, list_id long"
    )


def semantic_dedup(
    emb: DataFrame,
    threshold_e6: int = 300000,
    centroid_stride: int = 37,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids=None,
) -> DataFrame:
    """One row per DROPPED vector: (vec_id, list_id, keeper_id, cos_e6).

    A vector is dropped iff some lower-id vector in the SAME cluster has
    cosine >= threshold; keeper = that peer with max cosine (tie ->
    lowest id). Cluster-bounded pairwise + one window — the SemDeDup
    plan, never all-pairs."""
    assigned = assign_ivf_lists(
        emb, centroid_stride=centroid_stride, id_col=id_col,
        vec_col=vec_col, centroids=centroids,
    )
    a = assigned.alias("a")  # candidate to drop
    b = assigned.alias("b")  # potential keeper
    pairs = (
        a.join(
            b,
            (F.col("a.list_id") == F.col("b.list_id"))
            & (F.col(f"b.{id_col}") < F.col(f"a.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias(id_col),
            F.col("a.list_id").alias("list_id"),
            F.col(f"b.{id_col}").alias("keeper_id"),
            cosine_e6(
                F.col("a.q"), F.col("b.q"), F.col("a.norm2"), F.col("b.norm2")
            ).alias("cos_e6"),
        )
        .filter(F.col("cos_e6") >= threshold_e6)
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("cos_e6").desc(), F.col("keeper_id")
    )
    return (
        pairs.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select(id_col, "list_id", "keeper_id", "cos_e6")
    )


def semantic_dedup_sql(
    threshold_e6: int = 300000,
    centroid_stride: int = 37,
    table: str = "embeddings",
) -> str:
    """DuckDB oracle for :func:`semantic_dedup` — same centroid set,
    assignment argmax (aff DESC, cent_id ASC), within-cluster pair
    predicate, threshold, and keeper window."""
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
    score = cos.format(a="a.qv", b="b.qv", na="a.norm2", nb="b.norm2")
    return f"""
WITH n0 AS (
  SELECT vec_id, {quant} AS qv,
         list_sum(list_transform({quant}, x -> x * x)) AS norm2
  FROM {table}
), nn AS (
  SELECT * FROM n0 WHERE norm2 > 0
), c AS (
  SELECT vec_id AS cent_id, qv AS cq, norm2 AS cnorm2
  FROM nn WHERE vec_id % {centroid_stride} = 0
), aff AS (
  SELECT n.vec_id, n.qv, n.norm2, c.cent_id,
         row_number() OVER (PARTITION BY n.vec_id
                            ORDER BY {aff} DESC, c.cent_id) AS arank
  FROM nn n CROSS JOIN c
), assigned AS (
  SELECT vec_id, qv, norm2, cent_id AS list_id FROM aff WHERE arank = 1
), pairs AS (
  SELECT a.vec_id, a.list_id, b.vec_id AS keeper_id, {score} AS cos_e6
  FROM assigned a JOIN assigned b
    ON a.list_id = b.list_id AND b.vec_id < a.vec_id
  WHERE {score} >= {threshold_e6}
)
SELECT vec_id, list_id, keeper_id, cos_e6 FROM (
  SELECT *, row_number() OVER (PARTITION BY vec_id
              ORDER BY cos_e6 DESC, keeper_id) AS r
  FROM pairs
) WHERE r = 1
"""
