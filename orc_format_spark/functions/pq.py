"""Product Quantization (PQ) for embedding columns — the
billion-vector ANN compression standard (Jégou, Douze, Schmid, "Product
Quantization for Nearest Neighbor Search", TPAMI 2011; the IVF-PQ
layout every large-scale vector system uses).

Not in the reference repo (SURVEY.md §2.7); a first-class
training-pipeline addition: a (C, D) float corpus compresses to m
uint8-range codes per vector (m bytes instead of 4D — 32x at D=64,
m=8), and search runs over the CODES via asymmetric distance (ADC):
per query, one m x k lookup table of exact subspace distances, then
dist(v) = sum of m table lookups. At 100 TB the codes column rides the
normal blob encoder like any int list; nothing here shuffles payload.

Spark-first shapes:
- **Codebooks are metadata** (m x k x D/m). Deterministic default:
  the quantized subvectors of the first ``k`` stride-sampled corpus
  vectors — the same offline-training stand-in as IVF's stride
  centroids, hard-capped like :func:`similarity.resolve_centroids`.
  Production path: :func:`train_pq_codebooks` (numpy Lloyd per
  subspace on a capped sample — codebook training is sample-based in
  practice) injected via ``codebooks=``.
- **Encoding is pure map-side**: one Arrow batch -> (N, m) argmin over
  the broadcast codebook tensor, all int64 — no join, no shuffle.
- **ADC search is map-side + one window**: query tables broadcast,
  per-vector distance is m gathers + a sum, and a PARTIAL top-k is cut
  inside the kernel (boundary ties kept, same (dist, id) order as the
  final window) — the Exchange carries <= Q*k rows per batch, never
  the Q x corpus candidate matrix; the window ranks a metadata-sized
  frame. :func:`ivf_pq_topk` composes this with IVF list pruning (the
  faiss IndexIVFPQ layout) so only ~nprobe/n_lists of the corpus is
  scored at all.

Determinism/oracle: vectors quantize as floor(x*1000) (the repo-wide
cosine contract); subspace distances are EXACT integer L2 sums, ties
break to the lowest code / lowest neighbor id — so
:func:`pq_encode_sql` and :func:`pq_topk_sql` reproduce codes,
distances, and ranks bit-for-bit in DuckDB.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, Window, functions as F

from ..worker_env import limit_worker_threads
from .similarity import MAX_CENTROIDS, _with_quant, batch_qmatrix, topk_cut

QUANT_SQL = (
    "list_transform(embedding, x -> "
    "CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT))"
)


def _stride_codebooks(
    emb: DataFrame, m: int, k: int, stride: int, id_col: str, vec_col: str
) -> np.ndarray:
    """(m, k, ds) int64 codebooks from the first ``k`` stride-sampled
    vectors (sorted by id) — deterministic, SQL-reproducible."""
    corpus = _with_quant(emb, id_col, vec_col)
    rows = (
        corpus.filter((F.col(id_col) % stride) == 0)
        .orderBy(id_col)
        .limit(min(k, MAX_CENTROIDS))
        .collect()
    )
    if len(rows) < k:
        raise ValueError(
            f"pq: stride sample has {len(rows)} vectors < k={k} codebook "
            "entries; lower stride or inject codebooks="
        )
    mat = np.array([r[1] for r in rows], np.int64)  # (k, D)
    dims = mat.shape[1]
    if dims % m != 0:
        raise ValueError(f"pq: dims {dims} not divisible by m={m}")
    ds = dims // m
    return np.stack([mat[:, s * ds : (s + 1) * ds] for s in range(m)])


def _as_codebooks(codebooks, m: int) -> np.ndarray:
    cb = np.asarray(codebooks)
    if cb.ndim != 3 or cb.shape[0] != m:
        raise ValueError(
            f"pq: codebooks must be (m={m}, k, ds), got {cb.shape}"
        )
    if cb.dtype.kind == "f":
        cb = np.floor(cb * 1000.0).astype(np.int64)  # same quantization
    return cb.astype(np.int64)


def train_pq_codebooks(
    emb: DataFrame,
    m: int = 8,
    k: int = 16,
    iters: int = 10,
    sample_stride: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Float (m, k, ds) codebooks via numpy Lloyd per subspace over a
    stride sample (capped at ``similarity.MAX_CENTROIDS`` rows — PQ
    codebooks are trained on a sample in practice; faiss defaults to
    the same). Deterministic init: first k sample subvectors. Feed the
    result to ``pq_encode(codebooks=...)`` / ``pq_topk(codebooks=...)``
    (they re-quantize it under the shared floor(x*1000) contract)."""
    rows = (
        emb.select(F.col(id_col), F.col(vec_col).cast("array<double>"))
        .filter((F.col(id_col) % sample_stride) == 0)
        .limit(MAX_CENTROIDS + 1)
        .collect()
    )
    if len(rows) > MAX_CENTROIDS:
        raise ValueError(
            f"pq: training sample exceeds {MAX_CENTROIDS} rows — raise "
            "sample_stride (codebooks are metadata, not corpus)"
        )
    x = np.array([r[1] for r in rows], np.float64)
    if x.shape[0] < k:
        raise ValueError(f"pq: sample {x.shape[0]} rows < k={k}")
    dims = x.shape[1]
    if dims % m != 0:
        raise ValueError(f"pq: dims {dims} not divisible by m={m}")
    ds = dims // m
    out = np.empty((m, k, ds), np.float64)
    for s in range(m):
        sub = x[:, s * ds : (s + 1) * ds]
        cent = sub[:k].copy()
        for _ in range(iters):
            d2 = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for j in range(k):
                mask = assign == j
                if mask.any():
                    cent[j] = sub[mask].mean(axis=0)
        out[s] = cent
    return out


def pq_encode(
    emb: DataFrame,
    m: int = 8,
    k: int = 16,
    stride: int = 31,
    codebooks=None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes_csv): each vector's m PQ codes (argmin exact-int L2
    per subspace against the codebook, tie -> lowest code), as a CSV
    string so the DuckDB oracle compares byte-for-byte. Map-side only."""
    import pyarrow as pa

    cb = (
        _stride_codebooks(emb, m, k, stride, id_col, vec_col)
        if codebooks is None
        else _as_codebooks(codebooks, m)
    )
    ds = cb.shape[2]
    corpus = _with_quant(emb, id_col, vec_col)

    def encode(batches):
        limit_worker_threads()
        for batch in batches:
            if batch.num_rows == 0:
                continue
            t = pa.Table.from_batches([batch])
            qs = batch_qmatrix(t, m * ds)
            codes = np.empty((len(qs), m), np.int64)
            for s in range(m):
                sub = qs[:, s * ds : (s + 1) * ds]
                d2 = ((sub[:, None, :] - cb[s][None, :, :]) ** 2).sum(axis=2)
                codes[:, s] = d2.argmin(axis=1)  # first min = lowest code
            ids = t.column(id_col).to_numpy(zero_copy_only=False)
            csv = [",".join(str(c) for c in row) for row in codes]
            yield pa.record_batch(
                [
                    pa.array(ids.astype(np.int64), pa.int64()),
                    pa.array(csv, pa.string()),
                ],
                names=[id_col, "codes_csv"],
            )

    return corpus.mapInArrow(encode, f"{id_col} long, codes_csv string")


def pq_topk(
    emb: DataFrame,
    k_nn: int = 5,
    n_queries: int = 10,
    m: int = 8,
    k: int = 16,
    stride: int = 31,
    codebooks=None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k by asymmetric distance over PQ codes: exact
    query subvectors against each codebook entry form a per-query
    (m, k) int table; a corpus vector's distance is the sum of its m
    code lookups. Returns (query_id, neighbor_id, rank, adc_dist);
    rank orders by dist ASC, neighbor_id ASC."""
    import pyarrow as pa

    cb = (
        _stride_codebooks(emb, m, k, stride, id_col, vec_col)
        if codebooks is None
        else _as_codebooks(codebooks, m)
    )
    ds = cb.shape[2]
    corpus = _with_quant(emb, id_col, vec_col)
    qrows = sorted(
        (r[0], r[1])
        for r in corpus.filter(F.col(id_col) < n_queries).collect()
    )
    if not qrows:
        raise ValueError(f"pq_topk: no query vectors with id < {n_queries}")
    q_ids = np.array([r[0] for r in qrows], np.int64)
    q_mat = np.array([r[1] for r in qrows], np.int64)  # (Q, D)
    # (Q, m, k) ADC tables: exact integer L2 per subspace
    tables = np.empty((len(q_ids), m, cb.shape[1]), np.int64)
    for s in range(m):
        qs = q_mat[:, s * ds : (s + 1) * ds]
        tables[:, s, :] = (
            (qs[:, None, :] - cb[s][None, :, :]) ** 2
        ).sum(axis=2)

    def score(batches):
        limit_worker_threads()
        for batch in batches:
            if batch.num_rows == 0:
                continue
            t = pa.Table.from_batches([batch])
            vs = batch_qmatrix(t, m * ds)
            codes = np.empty((len(vs), m), np.int64)
            for s in range(m):
                sub = vs[:, s * ds : (s + 1) * ds]
                d2 = ((sub[:, None, :] - cb[s][None, :, :]) ** 2).sum(axis=2)
                codes[:, s] = d2.argmin(axis=1)
            ids = t.column(id_col).to_numpy(zero_copy_only=False).astype(np.int64)
            # dists[q, v] = sum_s tables[q, s, codes[v, s]] — one (Q, N)
            # gather per subspace
            dists = np.zeros((len(q_ids), len(ids)), np.int64)
            for s in range(m):
                dists += tables[:, s, :][:, codes[:, s]]
            # Partial top-k INSIDE the kernel: the Exchange must carry
            # <= Q*k rows per batch, never the Q*N candidate matrix (at
            # a 100-TB corpus Q*N through one shuffle onto Q reducer
            # keys is the scale-killer). Exactness: keep every row with
            # dist <= the k-th smallest (boundary ties included), then
            # order by the SAME (dist, id) lexicographic rule as the
            # final window, so the global merge of per-batch partials
            # is identical to ranking the full matrix.
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


def _codes_cte(m: int, k: int, stride: int, table: str) -> str:
    """Shared SQL: quantized corpus + stride codebooks + per-vector PQ
    codes (argmin exact-int subspace L2, tie -> lowest code)."""
    d2 = (
        "list_sum(list_transform(range(1, dims.ds + 1), "
        "i -> (q.qv[CAST(s.s * dims.ds + i AS INT)] "
        "- cb.cv[CAST(s.s * dims.ds + i AS INT)]) * "
        "(q.qv[CAST(s.s * dims.ds + i AS INT)] "
        "- cb.cv[CAST(s.s * dims.ds + i AS INT)])))"
    )
    return f"""q AS (
  SELECT vec_id, {QUANT_SQL} AS qv FROM {table}
), dims AS (
  SELECT len(qv) // {m} AS ds FROM q LIMIT 1
), cb AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, qv AS cv
  FROM q WHERE vec_id % {stride} = 0 ORDER BY vec_id LIMIT {k}
), dist AS (
  SELECT q.vec_id, s.s, cb.j, {d2} AS d2
  FROM q CROSS JOIN dims CROSS JOIN range(0, {m}) s(s) CROSS JOIN cb
), codes AS (
  SELECT vec_id, s, j AS code FROM (
    SELECT vec_id, s, j,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, j) AS rn
    FROM dist
  ) WHERE rn = 1
)"""


def pq_encode_sql(
    m: int = 8, k: int = 16, stride: int = 31, table: str = "embeddings"
) -> str:
    """DuckDB oracle for :func:`pq_encode` (stride codebooks)."""
    return f"""
WITH {_codes_cte(m, k, stride, table)}
SELECT vec_id,
       array_to_string(list(code ORDER BY s), ',') AS codes_csv
FROM codes GROUP BY vec_id
"""


def pq_topk_sql(
    k_nn: int = 5,
    n_queries: int = 10,
    m: int = 8,
    k: int = 16,
    stride: int = 31,
    table: str = "embeddings",
) -> str:
    """DuckDB oracle for :func:`pq_topk` — same codes, exact ADC
    tables, same tie rules."""
    return f"""
WITH {_codes_cte(m, k, stride, table)},
qt AS (
  SELECT vec_id AS query_id, s, j, d2 FROM dist WHERE vec_id < {n_queries}
), adc AS (
  SELECT qt.query_id, c.vec_id AS neighbor_id,
         CAST(SUM(qt.d2) AS BIGINT) AS adc_dist
  FROM codes c JOIN qt ON qt.s = c.s AND qt.j = c.code
  GROUP BY 1, 2
  HAVING COUNT(*) = {m}
)
SELECT query_id, neighbor_id, rank, adc_dist FROM (
  SELECT query_id, neighbor_id, adc_dist,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc_dist, neighbor_id) AS rank
  FROM adc WHERE neighbor_id <> query_id
) WHERE rank <= {k_nn}
"""


def ivf_pq_topk(
    emb: DataFrame,
    k_nn: int = 5,
    n_queries: int = 10,
    m: int = 8,
    k: int = 16,
    pq_stride: int = 31,
    centroid_stride: int = 37,
    nprobe: int = 4,
    codebooks=None,
    centroids=None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-ADC: the composed IVF x PQ index — the layout every
    billion-vector ANN system runs (Jégou et al. 2011 §V; faiss
    ``IndexIVFPQ``). IVF prunes WHICH vectors are scored (a query
    probes its ``nprobe`` nearest centroid lists, touching
    ~nprobe/n_lists of the corpus); PQ prunes HOW MUCH each scoring
    costs (m table lookups over codes instead of a D-dim dot product).

    Scale shape — everything is ONE map-side Arrow kernel over the
    corpus: centroids, codebooks, query probe sets and query ADC
    tables are all metadata (collected once, numpy-captured); per
    batch the kernel assigns lists (argmax cosine affinity, the exact
    :func:`similarity.ivf_topk` rule), PQ-encodes (argmin exact-int
    subspace L2, the exact :func:`pq_encode` rule), gathers ADC
    distances for the queries probing each vector's list, and cuts a
    PARTIAL top-k (boundary ties kept) before anything reaches the
    Exchange — the shuffle carries <= Q*k rows per batch, never
    candidates. The final window ranks a metadata-sized frame.

    Corpus contract: vectors with norm2 == 0 are excluded (cosine
    affinity is undefined for them) — the IVF half's rule; the PQ
    codebook stride sample is drawn from the SAME filtered corpus so
    one corpus definition serves both halves (this is why results
    differ slightly from ``pq_topk``'s unfiltered stride sample when
    zero vectors exist). Deterministic end-to-end -> reproduced
    bit-for-bit by :func:`ivf_pq_topk_sql`."""
    import pyarrow as pa

    from .similarity import resolve_centroids

    corpus = _with_quant(emb, id_col, vec_col).filter(F.col("norm2") > 0)
    cent_ids, cent_mat, cent_sqrt = resolve_centroids(
        corpus, centroid_stride, centroids, id_col, vec_col
    )
    if codebooks is None:
        rows = (
            corpus.filter((F.col(id_col) % pq_stride) == 0)
            .orderBy(id_col)
            .limit(min(k, MAX_CENTROIDS))
            .collect()
        )
        if len(rows) < k:
            raise ValueError(
                f"ivf_pq: stride sample has {len(rows)} vectors < k={k}; "
                "lower pq_stride or inject codebooks="
            )
        mat = np.array([r[1] for r in rows], np.int64)
        dims = mat.shape[1]
        if dims % m != 0:
            raise ValueError(f"ivf_pq: dims {dims} not divisible by m={m}")
        ds = dims // m
        cb = np.stack([mat[:, s * ds : (s + 1) * ds] for s in range(m)])
    else:
        cb = _as_codebooks(codebooks, m)
        ds = cb.shape[2]
    dims = m * ds

    qrows = sorted(
        (r[0], r[1], r[2])
        for r in corpus.filter(F.col(id_col) < n_queries).collect()
    )
    if not qrows:
        raise ValueError(f"ivf_pq: no query vectors with id < {n_queries}")
    q_ids = np.array([r[0] for r in qrows], np.int64)
    q_mat = np.array([r[1] for r in qrows], np.int64)
    q_n2 = np.array([r[2] for r in qrows], np.int64)

    # query probe sets: same affinity + tie rule as the corpus kernel
    q_aff = np.floor(
        (q_mat @ cent_mat.T).astype(np.float64)
        / (np.sqrt(q_n2.astype(np.float64))[:, None] * cent_sqrt[None, :])
        * 1000000.0
    )
    q_order = np.argsort(-q_aff, axis=1, kind="stable")
    probe_sets = [
        np.sort(cent_ids[q_order[qi, : min(nprobe, len(cent_ids))]])
        for qi in range(len(q_ids))
    ]
    # (Q, m, k) ADC tables: exact integer subspace L2
    tables = np.empty((len(q_ids), m, cb.shape[1]), np.int64)
    for s in range(m):
        qs = q_mat[:, s * ds : (s + 1) * ds]
        tables[:, s, :] = ((qs[:, None, :] - cb[s][None, :, :]) ** 2).sum(
            axis=2
        )

    def score(batches):
        limit_worker_threads()
        for batch in batches:
            if batch.num_rows == 0:
                continue
            t = pa.Table.from_batches([batch])
            vs = batch_qmatrix(t, dims)
            ids = (
                t.column(id_col)
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            n2 = (
                t.column("norm2")
                .to_numpy(zero_copy_only=False)
                .astype(np.float64)
            )
            # IVF assignment (argmax affinity, tie -> lowest cent_id)
            aff = np.floor(
                (vs @ cent_mat.T).astype(np.float64)
                / (np.sqrt(n2)[:, None] * cent_sqrt[None, :])
                * 1000000.0
            )
            order = np.argsort(-aff, axis=1, kind="stable")
            list_id = cent_ids[order[:, 0]]
            # PQ codes (argmin exact-int L2, tie -> lowest code)
            codes = np.empty((len(vs), m), np.int64)
            for s in range(m):
                sub = vs[:, s * ds : (s + 1) * ds]
                d2 = ((sub[:, None, :] - cb[s][None, :, :]) ** 2).sum(axis=2)
                codes[:, s] = d2.argmin(axis=1)
            out_q, out_i, out_d = [], [], []
            for qi in range(len(q_ids)):
                cand = np.isin(list_id, probe_sets[qi]) & (ids != q_ids[qi])
                if not cand.any():
                    continue
                cc, ic = codes[cand], ids[cand]
                dm = np.zeros(len(ic), np.int64)
                for s in range(m):
                    dm += tables[qi, s, cc[:, s]]
                n = len(ic)
                kk = min(k_nn, n)
                dk, ik = topk_cut(dm, ic, kk)
                out_q.append(np.full(kk, q_ids[qi], np.int64))
                out_i.append(ik)
                out_d.append(dk)
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


def ivf_pq_topk_sql(
    k_nn: int = 5,
    n_queries: int = 10,
    m: int = 8,
    k: int = 16,
    pq_stride: int = 31,
    centroid_stride: int = 37,
    nprobe: int = 4,
    table: str = "embeddings",
) -> str:
    """DuckDB oracle for :func:`ivf_pq_topk` — composes the IVF
    assignment/probe CTEs (same affinity + tie rules as
    :func:`similarity.ivf_topk_sql`) with the PQ codes + exact ADC
    tables (same rules as :func:`pq_topk_sql`), both over the
    norm2 > 0 corpus."""
    cos = (
        "CAST(floor("
        "list_sum(list_transform(range(1, len({a}) + 1), "
        "i -> {a}[CAST(i AS INT)] * {b}[CAST(i AS INT)])) "
        "/ (sqrt(CAST({na} AS DOUBLE)) * sqrt(CAST({nb} AS DOUBLE))) "
        "* 1000000.0) AS BIGINT)"
    )
    aff = cos.format(a="nn.qv", b="c.cq", na="nn.norm2", nb="c.cnorm2")
    d2 = (
        "list_sum(list_transform(range(1, dims.ds + 1), "
        "i -> (nn.qv[CAST(s.s * dims.ds + i AS INT)] "
        "- cbk.cv[CAST(s.s * dims.ds + i AS INT)]) * "
        "(nn.qv[CAST(s.s * dims.ds + i AS INT)] "
        "- cbk.cv[CAST(s.s * dims.ds + i AS INT)])))"
    )
    return f"""
WITH n AS (
  SELECT vec_id, {QUANT_SQL} AS qv,
         list_sum(list_transform({QUANT_SQL}, x -> x * x)) AS norm2
  FROM {table}
), nn AS (
  SELECT * FROM n WHERE norm2 > 0
), c AS (
  SELECT vec_id AS cent_id, qv AS cq, norm2 AS cnorm2
  FROM nn WHERE vec_id % {centroid_stride} = 0
), aff AS (
  SELECT nn.vec_id, c.cent_id,
         row_number() OVER (PARTITION BY nn.vec_id
                            ORDER BY {aff} DESC, c.cent_id) AS arank
  FROM nn CROSS JOIN c
), assigned AS (
  SELECT vec_id, cent_id AS list_id FROM aff WHERE arank = 1
), pr AS (
  SELECT vec_id AS query_id, cent_id AS probe
  FROM aff WHERE vec_id < {n_queries} AND arank <= {nprobe}
), dims AS (
  SELECT len(qv) // {m} AS ds FROM nn LIMIT 1
), cbk AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, qv AS cv
  FROM nn WHERE vec_id % {pq_stride} = 0 ORDER BY vec_id LIMIT {k}
), dist AS (
  SELECT nn.vec_id, s.s, cbk.j, {d2} AS d2
  FROM nn CROSS JOIN dims CROSS JOIN range(0, {m}) s(s) CROSS JOIN cbk
), codes AS (
  SELECT vec_id, s, j AS code FROM (
    SELECT vec_id, s, j,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, j) AS rn
    FROM dist
  ) WHERE rn = 1
), qt AS (
  SELECT vec_id AS query_id, s, j, d2 FROM dist WHERE vec_id < {n_queries}
), adc AS (
  SELECT qt.query_id, cd.vec_id AS neighbor_id,
         CAST(SUM(qt.d2) AS BIGINT) AS adc_dist
  FROM codes cd
  JOIN assigned a ON a.vec_id = cd.vec_id
  JOIN pr ON pr.probe = a.list_id
  JOIN qt ON qt.query_id = pr.query_id AND qt.s = cd.s AND qt.j = cd.code
  WHERE cd.vec_id <> pr.query_id
  GROUP BY 1, 2
  HAVING COUNT(*) = {m}
)
SELECT query_id, neighbor_id, rank, adc_dist FROM (
  SELECT query_id, neighbor_id, adc_dist,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc_dist, neighbor_id) AS rank
  FROM adc
) WHERE rank <= {k_nn}
"""


def ivf_pq_rerank_topk(
    emb: DataFrame,
    k_nn: int = 5,
    refine: int = 4,
    n_queries: int = 10,
    m: int = 8,
    k: int = 16,
    pq_stride: int = 31,
    centroid_stride: int = 37,
    nprobe: int = 4,
    codebooks=None,
    centroids=None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ + exact rerank — the faiss ``IndexRefineFlat`` refine
    stage: the composed IVF-ADC index shortlists ``k_nn * refine``
    candidates per query (approximate, m-byte codes), then the
    shortlist is re-scored against the EXACT quantized vectors and cut
    to ``k_nn``. Recovers ADC's quantization-error misrankings at the
    cost of re-reading only the shortlist's full vectors.

    Scale shape — no new scan pattern and no Python in the rerank:
    the shortlist (<= Q*k_nn*refine id pairs, metadata-sized) and the
    Q query vectors are both broadcast; the corpus scan joins them
    map-side and the exact integer distance
    ``qn2 + norm2 - 2*dot(q_query, q_vec)`` is a pure Catalyst
    aggregate over the zipped arrays (JVM-side, whole-stage codegen).
    The final window ranks <= Q*k_nn*refine rows. Deterministic
    end-to-end -> reproduced bit-for-bit by
    :func:`ivf_pq_rerank_topk_sql`."""
    from .similarity import dot

    cand = ivf_pq_topk(
        emb, k_nn=k_nn * refine, n_queries=n_queries, m=m, k=k,
        pq_stride=pq_stride, centroid_stride=centroid_stride,
        nprobe=nprobe, codebooks=codebooks, centroids=centroids,
        id_col=id_col, vec_col=vec_col,
    ).select("query_id", "neighbor_id")
    corpus = _with_quant(emb, id_col, vec_col)
    qdf = (
        corpus.filter(F.col(id_col) < n_queries)
        .select(
            F.col(id_col).alias("query_id"),
            F.col("q").alias("qq"),
            F.col("norm2").alias("qn2"),
        )
    )
    scored = (
        corpus.join(
            F.broadcast(cand), F.col(id_col) == F.col("neighbor_id")
        )
        .join(F.broadcast(qdf), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            (
                F.col("qn2")
                + F.col("norm2")
                - F.lit(2) * dot(F.col("qq"), F.col("q"))
            ).alias("exact_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("exact_dist"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k_nn)
        .select("query_id", "neighbor_id", "rank", "exact_dist")
    )


def ivf_pq_rerank_topk_sql(
    k_nn: int = 5,
    refine: int = 4,
    n_queries: int = 10,
    m: int = 8,
    k: int = 16,
    pq_stride: int = 31,
    centroid_stride: int = 37,
    nprobe: int = 4,
    table: str = "embeddings",
) -> str:
    """DuckDB oracle for :func:`ivf_pq_rerank_topk` — the full
    ivf_pq_topk oracle (at k_nn*refine) as a candidate CTE, re-scored
    with exact integer L2 over the quantized vectors, same tie rules."""
    inner = ivf_pq_topk_sql(
        k_nn=k_nn * refine, n_queries=n_queries, m=m, k=k,
        pq_stride=pq_stride, centroid_stride=centroid_stride,
        nprobe=nprobe, table=table,
    ).strip()
    d2 = (
        "list_sum(list_transform(range(1, len(a.qv) + 1), "
        "i -> (a.qv[CAST(i AS INT)] - b.qv[CAST(i AS INT)]) * "
        "(a.qv[CAST(i AS INT)] - b.qv[CAST(i AS INT)])))"
    )
    return f"""
WITH cand AS (
{inner}
), q2 AS (
  SELECT vec_id, {QUANT_SQL} AS qv FROM {table}
), exact AS (
  SELECT c.query_id, c.neighbor_id, CAST({d2} AS BIGINT) AS exact_dist
  FROM cand c
  JOIN q2 a ON a.vec_id = c.query_id
  JOIN q2 b ON b.vec_id = c.neighbor_id
)
SELECT query_id, neighbor_id, rank, exact_dist FROM (
  SELECT query_id, neighbor_id, exact_dist,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY exact_dist, neighbor_id) AS rank
  FROM exact
) WHERE rank <= {k_nn}
"""
