"""Vector search over embedding columns (``array<float>`` / ``array<double>``).

Every top-k path returns ``(query_id, neighbor_id, rank, cosine)``: no
self-matches, cosines rounded to 6 (HALF_UP, like the SQL oracle), ties
to the lower neighbor id.  The families:

- exact ``cosine_topk_df``: the query side ships in the kernel closure
  (broadcast contract), the corpus streams through one GEMM per batch;
- int8 ``quantize_int8_df`` / ``int8_topk_df``: the exact path over
  per-vector int8-quantized values;
- LSH ``lsh_buckets_df`` / ``lsh_topk_df``: sign-hyperplane buckets from
  md5 bits (``plane_component``), candidates by bucket equi-join;
- IVF ``ivf_centroids`` / ``ivf_assign_df`` / ``ivf_topk_df``: spherical
  k-means lists, candidates by probed-centroid equi-join; persisted by
  ``ivf_write_index`` / ``ivf_load_centroids`` / ``ivf_query_index``;
- PQ ``pq_train`` / ``pq_encode_df`` / ``pq_topk_df`` and IVFPQ
  ``ivfpq_residual_train`` / ``ivfpq_encode_df`` / ``ivfpq_topk_df``:
  product-quantized codes (of the residual to the coarse centroid, for
  IVFPQ) scored by asymmetric-distance lookups;
- the persisted embedding index: ``embedding_write_index``,
  ``embedding_read_index``, ``embedding_register_index``,
  ``embedding_index_topk`` and ``corpus_fingerprint``.

Shared mechanisms, one owner each: ``_rank_topk`` (per-query rank window
and final select), ``_batch_topk`` (a kernel's per-batch pre-selection,
a superset of the global top-k) merged by ``_kernel_topk``,
``_pair_topk`` (join-form pair scoring), ``_nearest_centroids``,
``_train_sample`` (the driver-side sample of every quantizer; all train
deterministically, no RNG), ``_pq_codebooks`` and ``_pq_codes``.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

__all__ = [
    "cosine_topk_df",
    "lsh_buckets_df",
    "lsh_topk_df",
    "plane_component",
    "ivf_centroids",
    "ivf_assign_df",
    "ivf_topk_df",
    "ivf_write_index",
    "ivf_query_index",
    "ivf_load_centroids",
    "pq_train",
    "ivfpq_encode_df",
    "ivfpq_residual_train",
    "ivfpq_topk_df",
    "pq_encode_df",
    "pq_topk_df",
    "quantize_int8_df",
    "int8_topk_df",
    "embedding_write_index",
    "embedding_read_index",
    "embedding_register_index",
    "embedding_index_topk",
    "corpus_fingerprint",
]


# Broadcast contract for the exact top-k paths: the query side ships in the
# kernel closure, so it must fit comfortably in driver + executor memory.
_TOPK_BROADCAST_MAX = 100_000


def _collect_query_side(queries: DataFrame, id_col: str, vec_col: str, fn_name: str):
    """Driver-collect the query side under the broadcast contract: raises a
    clear error past ``_TOPK_BROADCAST_MAX`` vectors instead of silently
    OOMing the driver; preserves the input id dtype (long/int/string ids all
    work).  Returns (qid ndarray, qmatrix, id_type_ddl)."""
    id_type = dict(queries.dtypes)[id_col]
    rows = queries.select(F.col(id_col), F.col(vec_col)).limit(_TOPK_BROADCAST_MAX + 1).collect()
    if len(rows) > _TOPK_BROADCAST_MAX:
        raise ValueError(
            f"{fn_name}: query side exceeds the broadcast contract "
            f"(> {_TOPK_BROADCAST_MAX} vectors); route through lsh_topk_df or "
            "ivf_topk_df for large query sides"
        )
    rows.sort(key=lambda r: r[0])
    if not rows:
        return None, None, id_type
    qid = np.asarray([r[0] for r in rows])  # native dtype: int64 or object/str
    qm = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
    return qid, qm, id_type


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)


def _norm(c):
    return F.sqrt(F.aggregate(F.transform(c, lambda x: x * x), F.lit(0.0), lambda s, x: s + x))


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """The per-query rank window and final select of every top-k path: each
    query keeps its ``k`` best ``scored`` rows by ``cosine`` descending,
    ties to the lower ``neighbor_id``."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def _batch_topk(sim, nid, qid, k: int):
    """One Arrow batch's candidate pre-selection in a kernel top-k path.

    ``sim`` is the ``[batch, nq]`` raw cosine of neighbors ``nid`` against
    queries ``qid``; self-matches are masked out in place.  Selection uses
    the final ranking's rounded grain, and keeps every row within 2e-6 of a
    query's k-th value: that makes the batch winners a superset of the
    global winners under any tie-break AND any rounding-mode disagreement
    (np.round here is binary half-even, the final F.round is decimal
    HALF_UP — one grain each way), so ``_rank_topk`` over the union of all
    batches is exact.  Yields one ``(query_id, neighbor_id, cosine_raw)``
    frame, or nothing when no candidate survives.
    """
    sim[nid[:, None] == qid[None, :]] = np.nan  # self-matches out
    r = np.round(sim, 6)
    kk = int(k)
    out_q, out_n, out_c = [], [], []
    for j in range(len(qid)):
        idx = np.flatnonzero(~np.isnan(r[:, j]))
        if idx.size == 0:
            continue
        col = r[idx, j]
        if idx.size > kk:
            thr = np.partition(col, idx.size - kk)[idx.size - kk] - 2e-6
            idx = idx[col >= thr]
        out_q.append(np.full(idx.size, qid[j]))
        out_n.append(nid[idx])
        out_c.append(sim[idx, j])
    if out_q:
        yield pd.DataFrame(
            {
                "query_id": np.concatenate(out_q),
                "neighbor_id": np.concatenate(out_n),
                "cosine_raw": np.concatenate(out_c),
            }
        )


def _kernel_topk(frame: DataFrame, scan, q_type: str, k: int) -> DataFrame:
    """Run a kernel top-k ``scan`` (a ``mapInPandas`` function yielding
    ``_batch_topk`` candidates) over ``frame``'s ``neighbor_id`` rows, then
    round in Spark and merge per query through ``_rank_topk``.  Rounding
    in Spark keeps the value semantics of column-expression scoring
    (HALF_UP, like the SQL oracle)."""
    c_type = dict(frame.dtypes)["neighbor_id"]
    cand = frame.mapInPandas(scan, f"query_id {q_type}, neighbor_id {c_type}, cosine_raw double")
    return _rank_topk(cand.withColumn("cosine", F.round("cosine_raw", 6)), k)


def _empty_topk(corpus: DataFrame, id_col: str, q_type: str) -> DataFrame:
    """The empty result of a kernel top-k path with no queries, correctly typed."""
    c_type = dict(corpus.dtypes)[id_col]
    return corpus.sparkSession.createDataFrame(
        [], f"query_id {q_type}, neighbor_id {c_type}, rank int, cosine double"
    )


def _pair_topk(corpus_side: DataFrame, query_side: DataFrame, on: str, k: int) -> DataFrame:
    """Join-form top-k: candidate pairs are the equi-join of ``(neighbor_id,
    cv, cn)`` corpus rows with ``(query_id, qv, qn)`` query rows on ``on``.
    Norms are per-vector constants computed once per side before the join,
    so per-pair work is one dot product; the self pair is dropped."""
    scored = (
        corpus_side.join(query_side, on=on)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", F.round(_dot("qv", "cv") / (F.col("qn") * F.col("cn")), 6))
    )
    return _rank_topk(scored, k)


def _nearest_centroids(x, c, p: int):
    """Ids of each row of ``x``'s ``p`` nearest centroids ``c`` by cosine,
    best first, ties to the lower id."""
    xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    return np.argsort(-(xn @ c.T), axis=1, kind="stable")[:, :p]


def _train_sample(corpus: DataFrame, sample_size: int, id_col: str, vec_col: str, fn_name: str):
    """The deterministic driver-side training sample of every quantizer: the
    ``sample_size`` vectors with the lowest ids, stacked as float64."""
    sample = (
        corpus.select(id_col, vec_col).orderBy(id_col).limit(int(sample_size)).toPandas()[vec_col]
    )
    if not len(sample):
        raise ValueError(f"{fn_name}: empty training sample — the corpus has no rows")
    return np.stack([np.asarray(x, dtype=np.float64) for x in sample])


def _pq_codebooks(v, m: int, ksub: int, n_iter: int):
    """Per-subspace L2 k-means over the sample ``v``: ``m`` contiguous
    subspaces, ``ksub`` centroids each, first-k init, empty clusters keep
    their centroid; a subspace with fewer than ``ksub`` rows pads with its
    first centroid.  Returns the [m, ksub, dsub] codebook."""
    dim = v.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    books = np.empty((m, ksub, dsub))
    for s in range(m):
        vs = v[:, s * dsub : (s + 1) * dsub]
        k = min(ksub, len(vs))
        c = vs[:k].copy()
        for _ in range(n_iter):
            d2 = ((vs[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for j in range(k):
                members = vs[assign == j]
                if len(members):
                    c[j] = members.mean(axis=0)
        books[s, :k] = c
        if k < ksub:
            books[s, k:] = c[0]
    return books


def _pq_codes(x, books):
    """PQ-encode the rows of ``x``: the nearest (L2) entry of each subspace's
    codebook, as an [n, m] int32 array."""
    m, _, dsub = books.shape
    codes = np.empty((len(x), m), dtype=np.int32)
    for s in range(m):
        xs = x[:, s * dsub : (s + 1) * dsub]
        d2 = ((xs[:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
        codes[:, s] = d2.argmin(axis=1)
    return codes


def cosine_topk_df(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query: ``(query_id, neighbor_id, rank, cosine)``.

    Excludes self-matches.  Deterministic tie-break on neighbor id.

    Plan: the query side is materialized once on the driver (broadcast
    contract — exact top-k is only the right tool when queries fit in memory,
    <~100k vectors; past that use the LSH/IVF paths) and shipped in the
    kernel closure.  The corpus then streams through ``mapInPandas``: each
    Arrow batch is scored with one float64 GEMM ``[batch, dim] @ [dim, m]``
    and reduced to its local top-k candidates per query, so the surviving
    row count is ~``num_batches * m * k`` instead of ``n * m``; one final
    window over that sliver picks the global winners.  No per-pair lambda
    evaluation anywhere, no shuffle of the corpus, and per-vector norms are
    computed exactly once.
    """
    qid, qm, q_type = _collect_query_side(queries, id_col, vec_col, "cosine_topk_df")
    if qid is None:
        return _empty_topk(corpus, id_col, q_type)
    qn = np.linalg.norm(qm, axis=1)

    def scan(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            nid = pdf["neighbor_id"].to_numpy()
            cm = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["cv"]])
            cn = np.linalg.norm(cm, axis=1)
            sim = (cm @ qm.T) / (cn[:, None] * qn[None, :])
            yield from _batch_topk(sim, nid, qid, k)

    frame = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    return _kernel_topk(frame, scan, q_type, k)


def plane_component(dim_index: int, plane: int) -> float:
    """Deterministic pseudo-random hyperplane component in [-1, 1)."""
    h = hashlib.md5(f"plane{plane}|dim{dim_index}".encode()).hexdigest()
    return int(h[:8], 16) / float(2**31) - 1.0


def lsh_buckets_df(
    df: DataFrame,
    planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector a sign-LSH bucket id: ``(vec_id, bucket)``.

    One Arrow-batched GEMM against the [planes, dim] hyperplane matrix
    shipped in the UDF closure — plan size stays constant in the embedding
    dim (a planes*dim expression tree would explode Catalyst codegen at
    dim >= 1024), and the projection is a single ``m @ w.T`` so the kernel
    cost is BLAS-bound, not interpreter-bound, at any dim.
    """
    from pyspark.sql.pandas.functions import pandas_udf

    w = np.array(
        [[plane_component(d, p) for d in range(dim)] for p in range(planes)],
        dtype=np.float64,
    )
    weights = np.asarray([2**p for p in range(planes)], dtype=np.int64)

    @pandas_udf("int")
    def bucket(vecs: pd.Series) -> pd.Series:
        m = np.stack([np.asarray(x, dtype=np.float64) for x in vecs])[:, :dim]
        proj = m @ w.T
        return pd.Series(((proj >= 0) @ weights).astype("int32"))

    return df.select(F.col(id_col), bucket(F.col(vec_col)).alias("bucket"))


def ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    n_iter: int = 5,
    sample_size: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Train an IVF coarse quantizer: spherical k-means centroids (numpy).

    The quantizer trains on a deterministic driver-side sample (lowest ids) —
    the standard IVF recipe: sample-train the codebook, assign the full
    corpus distributively.  Init = first k sample vectors; empty clusters
    keep their previous centroid; fully deterministic, no RNG.  An empty
    corpus raises ``ValueError``.
    """
    v = _train_sample(corpus, sample_size, id_col, vec_col, "ivf_centroids")
    v = v / np.maximum(np.linalg.norm(v, axis=1, keepdims=True), 1e-12)
    k = min(n_centroids, len(v))
    c = v[:k].copy()
    for _ in range(n_iter):
        assign = (v @ c.T).argmax(axis=1)
        for j in range(k):
            members = v[assign == j]
            if len(members):
                c[j] = members.sum(axis=0)
        c = c / np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)
    return c


def ivf_assign_df(
    df: DataFrame,
    centroids,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_id: str = "vec_id",
) -> DataFrame:
    """Assign each vector its ``n_probe`` nearest centroid ids (by cosine):
    ``(out_id, vec, centroid_id)`` — one exploded row per probe.

    The centroid matrix ships in the UDF closure (k x dim, tiny); assignment
    is one Arrow-batched GEMM + sort per batch, so the corpus streams
    through executors with no shuffle until the probe join.
    """
    from pyspark.sql.pandas.functions import pandas_udf

    c = np.asarray(centroids, dtype=np.float64)
    p = int(min(n_probe, len(c)))

    @pandas_udf("array<int>")
    def probes(vecs: pd.Series) -> pd.Series:
        m = np.stack([np.asarray(x, dtype=np.float64) for x in vecs])
        order = _nearest_centroids(m, c, p)
        return pd.Series([row.astype("int32").tolist() for row in order])

    return df.select(
        F.col(id_col).alias(out_id),
        F.col(vec_col).alias("vec"),
        F.explode(probes(F.col(vec_col))).alias("centroid_id"),
    )


def _ivf_lists(corpus: DataFrame, n_centroids: int, id_col: str, vec_col: str):
    """Train the coarse quantizer and build the inverted lists: returns the
    centroids and the ``(neighbor_id, cv, centroid_id, cn)`` rows."""
    cents = ivf_centroids(corpus, n_centroids, id_col=id_col, vec_col=vec_col)
    inv = (
        ivf_assign_df(corpus, cents, 1, id_col, vec_col, out_id="neighbor_id")
        .withColumnRenamed("vec", "cv")
        .withColumn("cn", _norm("cv"))
    )
    return cents, inv


def _ivf_probes(queries: DataFrame, centroids, n_probe: int, id_col: str, vec_col: str):
    """One ``(query_id, qv, centroid_id, qn)`` row per query and probed list."""
    return (
        ivf_assign_df(queries, centroids, n_probe, id_col, vec_col, out_id="query_id")
        .withColumnRenamed("vec", "qv")
        .withColumn("qn", _norm("qv"))
    )


def ivf_topk_df(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_centroids: int = 16,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: corpus vectors live in their nearest-centroid
    inverted list; each query scans only its ``n_probe`` closest lists.

    The candidate join is an equi-join on centroid_id — the cross product
    never materializes, and the inverted lists partition the corpus so the
    plan scales with corpus size.  ``n_probe == n_centroids`` degenerates to
    exact brute force (tested); recall tunes with n_probe.
    """
    cents, inv = _ivf_lists(corpus, n_centroids, id_col, vec_col)
    qp = _ivf_probes(queries, cents, n_probe, id_col, vec_col)
    return _pair_topk(inv, qp, "centroid_id", k)


def lsh_topk_df(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    planes: int = 6,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates share an LSH bucket, cosine ranks them.

    The bucket equi-join replaces the cross product; recall is tunable via
    ``planes`` (fewer planes -> bigger buckets -> higher recall, more work).
    """
    cb = lsh_buckets_df(corpus, planes, dim, id_col, vec_col).withColumnRenamed(
        id_col, "neighbor_id"
    )
    qb = lsh_buckets_df(queries, planes, dim, id_col, vec_col).withColumnRenamed(
        id_col, "query_id"
    )
    c = (
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
        .join(cb, on="neighbor_id")
        .withColumn("cn", _norm("cv"))
    )
    q = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
        .join(qb, on="query_id")
        .withColumn("qn", _norm("qv"))
    )
    return _pair_topk(c, q, "bucket", k)


def ivf_write_index(
    corpus: DataFrame,
    table: str,
    n_centroids: int = 16,
    path: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Build a persisted IVF index: inverted lists bucketed by ``centroid_id``
    (``sources.parquet.write_bucketed``), per-vector norms precomputed and
    stored.  Returns the centroid codebook (tiny [k, dim] numpy array — the
    caller keeps it alongside the table name).

    The build pays the corpus shuffle ONCE at write time; every subsequent
    query batch joins its probes against the bucketed lists with no exchange
    on the corpus side — the build-once/probe-many shape a production ANN
    service needs at 100 TB.
    """
    from ..sources.parquet import write_bucketed

    cents, inv = _ivf_lists(corpus, n_centroids, id_col, vec_col)
    write_bucketed(
        inv, table, ["centroid_id"], num_buckets=int(n_centroids), path=path
    )
    # persist the codebook next to the lists: a service restart (or another
    # session) can probe without retraining — without this the index is only
    # usable by the process that built it
    spark = corpus.sparkSession
    rows = [(int(i), [float(x) for x in c]) for i, c in enumerate(cents)]
    cdf = spark.createDataFrame(rows, "centroid_id int, centroid array<double>")
    w = cdf.coalesce(1).write.mode("overwrite").format("parquet")
    if path:
        w = w.option("path", f"{path}__centroids")
    w.saveAsTable(f"{table}__centroids")
    return cents


def ivf_load_centroids(spark, table: str):
    """Load the codebook persisted by ``ivf_write_index`` as the [k, dim]
    numpy array ``ivf_query_index`` expects — the missing half of
    build-once/probe-many across sessions."""
    rows = spark.table(f"{table}__centroids").orderBy("centroid_id").collect()
    if not rows:
        raise ValueError(f"no centroids stored for IVF index {table!r}")
    return np.asarray([r["centroid"] for r in rows], dtype=np.float64)


def ivf_query_index(
    spark,
    table: str,
    queries: DataFrame,
    centroids,
    k: int = 3,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a persisted IVF index built by ``ivf_write_index``: only the
    (small) query side shuffles to the lists' bucketing; scoring reuses the
    stored norms so a candidate pair costs one dot product."""
    qp = _ivf_probes(queries, centroids, n_probe, id_col, vec_col)
    return _pair_topk(spark.table(table), qp, "centroid_id", k)


def pq_train(
    corpus: DataFrame,
    m: int = 8,
    ksub: int = 16,
    n_iter: int = 5,
    sample_size: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Train a product quantizer: the embedding dim is split into ``m``
    contiguous subspaces, each with its own ``ksub``-centroid L2 k-means
    codebook — a vector compresses to ``m`` small codes (~32x smaller than
    float32 at m=8), the standard way 100 TB of embeddings fits an ANN index.

    Same deterministic recipe as ``ivf_centroids``: driver-side sample of the
    lowest ids, first-k init, empty clusters keep their centroid.  Returns
    a [m, ksub, dsub] numpy array.
    """
    v = _train_sample(corpus, sample_size, id_col, vec_col, "pq_train")
    return _pq_codebooks(v, m, ksub, n_iter)


def pq_encode_df(
    df: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode vectors to PQ codes: ``(vec_id, codes array<int>)``.

    The [m, ksub, dsub] codebook ships in the kernel closure; each Arrow
    batch runs one argmin-over-centroids per subspace — no shuffle, the
    corpus streams."""
    from pyspark.sql.pandas.functions import pandas_udf

    books = np.asarray(codebooks, dtype=np.float64)

    @pandas_udf("array<int>")
    def enc(vecs: pd.Series) -> pd.Series:
        x = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        return pd.Series([row.tolist() for row in _pq_codes(x, books)])

    return df.select(F.col(id_col), enc(F.col(vec_col)).alias("codes"))


def pq_topk_df(
    corpus_codes: DataFrame,
    queries: DataFrame,
    codebooks,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k over PQ codes by asymmetric distance computation:
    per query, an [m, ksub] lookup table of subspace dot products (plus the
    exact reconstruction norms — subspaces are orthogonal, so
    ``|recon|^2 = sum_s |c_s|^2``); scoring a candidate is ``m`` table
    lookups, never a decode.  Queries ship in the kernel closure (broadcast
    contract, as in ``cosine_topk_df``); codes stream through mapInPandas
    with per-batch top-k and a window merge."""
    books = np.asarray(codebooks, dtype=np.float64)
    m, ksub, dsub = books.shape
    sq_lut = (books**2).sum(axis=2)  # [m, ksub]

    qid, qm, q_type = _collect_query_side(queries, id_col, vec_col, "pq_topk_df")
    if qid is None:
        return _empty_topk(corpus_codes, id_col, q_type)
    qn = np.linalg.norm(qm, axis=1)
    # dot LUT per query: [nq, m, ksub]
    dot_lut = np.einsum("qsd,skd->qsk", qm.reshape(len(qm), m, dsub), books)
    subs = np.arange(m)

    def scan(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            nid = pdf["neighbor_id"].to_numpy()
            codes = np.stack([np.asarray(c, dtype=np.int64) for c in pdf["codes"]])
            cn = np.sqrt(sq_lut[subs, codes].sum(axis=1))  # [b] exact recon norms
            dots = dot_lut[:, subs, codes].sum(axis=2)  # [q, b]
            # zero-norm reconstructions (or queries) score 0, like the cosine
            # paths — a 0/0 would otherwise become nan and silently vanish
            # from rankings.
            denom = cn[None, :] * qn[:, None]
            sim = np.divide(dots, denom, out=np.zeros_like(dots), where=denom > 0).T  # [b, q]
            yield from _batch_topk(sim, nid, qid, k)

    frame = corpus_codes.select(F.col(id_col).alias("neighbor_id"), "codes")
    return _kernel_topk(frame, scan, q_type, k)


def ivfpq_encode_df(
    corpus: DataFrame,
    centroids,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Build the IVFPQ index rows: ``(vec_id, centroid_id, codes)``.

    One Arrow kernel per batch assigns each vector its nearest coarse
    centroid (cosine, matching ``ivf_assign_df``'s stable tie-break) and
    PQ-encodes the RESIDUAL ``x - c`` — the classic IVFPQ layout: coarse
    geometry in the inverted list, fine detail in ~m bytes of codes.  No
    shuffle; the corpus streams.  Written ``partitionBy("centroid_id")``,
    the probe filter prunes whole lists at scan time.
    """
    c = np.asarray(centroids, dtype=np.float64)
    books = np.asarray(codebooks, dtype=np.float64)
    id_type = dict(corpus.dtypes)[id_col]

    def enc(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            assign = _nearest_centroids(x, c, 1)[:, 0]
            codes = _pq_codes(x - c[assign], books)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "centroid_id": assign.astype(np.int32),
                    "codes": [row.tolist() for row in codes],
                }
            )

    return corpus.select(id_col, vec_col).mapInPandas(
        enc, f"{id_col} {id_type}, centroid_id int, codes array<int>"
    )


def ivfpq_residual_train(
    corpus: DataFrame,
    centroids,
    m: int = 8,
    ksub: int = 16,
    n_iter: int = 5,
    sample_size: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Train PQ codebooks on coarse-quantization RESIDUALS (the IVFPQ
    recipe): driver-side sample of the lowest ids, assign each to its
    nearest centroid, k-means each residual subspace.  Deterministic like
    ``pq_train`` (first-k init, empty clusters keep their centroid)."""
    c = np.asarray(centroids, dtype=np.float64)
    x = _train_sample(corpus, sample_size, id_col, vec_col, "ivfpq_residual_train")
    assign = _nearest_centroids(x, c, 1)[:, 0]
    return _pq_codebooks(x - c[assign], m, ksub, n_iter)


def ivfpq_topk_df(
    index: DataFrame,
    queries: DataFrame,
    centroids,
    codebooks,
    k: int = 3,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFPQ approximate top-k: probe the ``n_probe`` nearest inverted
    lists, score their PQ codes by asymmetric distance — never a decode,
    never a cross product, and the only scan is over the probed lists
    (``centroid_id IN (...)`` is a pushable predicate: with the index
    partitioned by centroid_id it prunes whole lists).

    Exact-cosine algebra over the reconstruction ``x̂ = c + r̂``:
    ``dot(q, x̂) = dot(q, c) + Σ_s LUT_q[s, code_s]`` and
    ``|x̂|² = |c|² + 2·Σ_s LUT_c[s, code_s] + Σ_s |book_s[code_s]|²`` —
    all table lookups, queries and LUTs ship in the kernel closure
    (broadcast contract, like ``pq_topk_df``).  With ``n_probe`` = number
    of centroids and a saturated residual codebook this is EXACT cosine
    top-k (the driver gate); at realistic settings recall tunes with
    n_probe and ksub.
    """
    cents = np.asarray(centroids, dtype=np.float64)
    books = np.asarray(codebooks, dtype=np.float64)
    m, ksub, dsub = books.shape
    qid, qm, q_type = _collect_query_side(queries, id_col, vec_col, "ivfpq_topk_df")
    if qid is None:
        return _empty_topk(index, id_col, q_type)
    qn = np.linalg.norm(qm, axis=1)
    order = _nearest_centroids(qm, cents, int(min(n_probe, len(cents))))
    probe_union = sorted({int(cc) for row in order for cc in row})
    probing = {}
    for qi, row in enumerate(order):
        for cc in row:
            probing.setdefault(int(cc), []).append(qi)
    probing = {cc: np.asarray(qs) for cc, qs in probing.items()}

    dot_lut = np.einsum("qsd,skd->qsk", qm.reshape(len(qm), m, dsub), books)
    qc_dot = qm @ cents.T                                  # [nq, nc]
    cent_lut = np.einsum("csd,skd->csk", cents.reshape(len(cents), m, dsub), books)
    sq_lut = (books**2).sum(axis=2)                        # [m, ksub]
    cent_n2 = (cents**2).sum(axis=1)                       # [nc]
    subs = np.arange(m)

    def scan(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            for cval, grp in pdf.groupby("centroid_id"):
                cval = int(cval)
                qs = probing.get(cval)
                if qs is None or not len(qs):
                    continue
                nid = grp["neighbor_id"].to_numpy()
                codes = np.stack([np.asarray(x, dtype=np.int64) for x in grp["codes"]])
                res_dots = dot_lut[qs][:, subs, codes].sum(axis=2)      # [nq', b]
                dots = res_dots + qc_dot[qs, cval][:, None]
                n2 = (
                    cent_n2[cval]
                    + 2.0 * cent_lut[cval, subs, codes].sum(axis=1)
                    + sq_lut[subs, codes].sum(axis=1)
                )                                                        # [b]
                cn = np.sqrt(np.maximum(n2, 0.0))
                denom = cn[None, :] * qn[qs][:, None]
                sim = np.divide(
                    dots, denom, out=np.zeros_like(dots), where=denom > 0
                ).T                                                      # [b, nq']
                yield from _batch_topk(sim, nid, qid[qs], k)

    frame = (
        index.filter(F.col("centroid_id").isin(probe_union))
        .select(F.col(id_col).alias("neighbor_id"), "centroid_id", "codes")
    )
    return _kernel_topk(frame, scan, q_type, k)


def quantize_int8_df(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``(id, scale, qvec)`` with
    ``qvec[i] = round(v[i] / scale)`` and ``scale = max(|v|) / 127`` — the
    standard storage/serving compression for embedding corpora (4x smaller
    than float32, 8x than float64; integer SIMD dot products downstream).
    A zero vector quantizes to zeros with ``scale = 0``.

    ZERO shuffles — pure row-local array expressions.  The scale is bound
    as a lambda variable (nested ``transform(array(..), s -> ..)`` scoping)
    so the ``array_max`` reduction evaluates once per VECTOR, not once per
    element (the CollapseProject lambda-inlining trap: a projection column
    referenced inside a lambda body is re-evaluated per invocation).

    Exactness contract (what the ``sim_int8`` gate leans on): float32 ->
    double casts are exact, the divisions are single correctly-rounded
    IEEE ops, and ROUND lands on an integer — so any engine reproduces
    ``qvec`` bit-for-bit from the same floats, and COSINE over qvecs is
    fully order-independent (integer dots < 2^53 are exact in float64
    regardless of summation order; the scales cancel algebraically).
    """
    q = (
        f"transform(array(CAST({vec_col} AS ARRAY<DOUBLE>)), v ->"
        f" transform(array(array_max(transform(v, x -> abs(x))) / CAST(127 AS DOUBLE)), s ->"
        f"  named_struct('scale', s,"
        f"   'q', transform(v, x -> CAST(ROUND(IF(s = 0D, 0D, x / s)) AS TINYINT))))[0]"
        f")[0]"
    )
    return df.selectExpr(f"{id_col}", f"{q} AS st").select(
        F.col(id_col), F.col("st.scale").alias("scale"), F.col("st.q").alias("qvec")
    )


def int8_topk_df(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors computed over int8-QUANTIZED vectors:
    the serving-time plan when the corpus is stored quantized.  Same
    output shape and broadcast/streaming plan as :func:`cosine_topk_df`
    (query side broadcast, corpus streamed through one GEMM per Arrow
    batch) — the GEMM just runs on the quantized values, where the
    per-vector scales cancel out of cosine entirely:
    ``cos(s_a*qa, s_b*qb) = (qa.qb) / (|qa||qb|)``.  Scoring is therefore
    INTEGER-exact (every partial sum < 2^53), which makes the ranking
    engine- and order-independent without any snapping tricks.

    The ranking differs from float cosine only by the quantization error
    itself (~1/254 of the max component per element) — the accuracy/size
    trade the caller opted into by quantizing.
    """
    qc = quantize_int8_df(corpus, id_col=id_col, vec_col=vec_col).selectExpr(
        id_col, "CAST(qvec AS ARRAY<DOUBLE>) AS embedding"
    )
    qq = quantize_int8_df(queries, id_col=id_col, vec_col=vec_col).selectExpr(
        id_col, "CAST(qvec AS ARRAY<DOUBLE>) AS embedding"
    )
    return cosine_topk_df(qc, qq, k=k, id_col=id_col, vec_col="embedding")


# ---- persisted embedding index (write once, probe many) -------------------

_EMB_PROP_PREFIX = "imops.emb."


def _emb_stored_props(
    spark,
    table: str,
    prefix: str | None = None,
    int_keys: tuple = ("dim", "num_buckets"),
) -> dict:
    """The ``{prefix}*`` stamp stored on ``table`` (default ``imops.emb.*``),
    or ``{}`` when the table does not exist / carries none.  ``prefix`` and
    ``int_keys`` parameterize the helper for OTHER stamped index types
    (the bm25 inverted index reuses it) — one owner for the
    SHOW TBLPROPERTIES parsing."""
    prefix = _EMB_PROP_PREFIX if prefix is None else prefix
    try:
        out: dict = {}
        for row in spark.sql(f"SHOW TBLPROPERTIES {table}").collect():
            if not row["key"].startswith(prefix):
                continue
            name = row["key"].removeprefix(prefix)
            out[name] = int(row["value"]) if name in int_keys else row["value"]
        return out
    except Exception:
        return {}


def _check_stamp_value(name: str, value) -> None:
    """Stamp values splice into SET TBLPROPERTIES SQL text; rather than
    bet on engine-specific quote escaping (the BPE fold's lesson), refuse
    values outside a conservative identifier alphabet up front — a family
    label or fingerprint has no business containing quotes."""
    import re

    if not re.fullmatch(r"[A-Za-z0-9_.:+=/@-]+", str(value)):
        raise ValueError(
            f"{name}={value!r} contains characters outside [A-Za-z0-9_.:+=/@-]; "
            "stamp values are spliced into SQL table properties and must be "
            "plain identifiers"
        )


def _emb_write_sidecar(spark, path: str, stamp: dict) -> None:
    """Persist the stamp NEXT TO the data: table properties live in the
    session-local catalog and die with it, so cross-process reuse needs
    the stamp on the filesystem (the ``ivf_write_index __centroids``
    sidecar recipe applied to metadata)."""
    rows = [
        (str(k), None if v is None else str(v)) for k, v in sorted(stamp.items())
    ]
    (
        spark.createDataFrame(rows, "key string, value string")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{path}__meta")
    )


def _emb_read_sidecar(
    spark, path: str, int_keys: tuple = ("dim", "num_buckets")
) -> dict:
    """The sidecar stamp at ``path__meta``, or ``{}`` when MISSING.

    Only filesystem absence means "no sidecar" — any other read failure
    propagates (the bloom status-read lesson: a swallowed transient error
    here would fail the staleness guard OPEN, e.g. an append would skip
    dropping a now-stale fingerprint and a later re-registration would
    restore it as if current).  ``int_keys`` parameterizes the helper for
    other stamped index types (bm25)."""
    meta = f"{path}__meta"
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(meta)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return {}
    out: dict = {}
    for row in spark.read.parquet(meta).collect():
        if row["value"] is None:
            continue
        out[row["key"]] = (
            int(row["value"]) if row["key"] in int_keys else row["value"]
        )
    return out


def corpus_fingerprint(docs: DataFrame, col: str = "text") -> str:
    """A cheap corpus identity for index-staleness checks:
    ``"{row_count}:{sum(length(col))}"`` from one columnar aggregation —
    no hashing pass, but any add/remove/edit that changes either total is
    caught, which covers every append/recrawl workflow.  Stamp it into
    ``embedding_write_index(fingerprint=...)`` and validate at read time
    to make "is this index current for this corpus?" answerable without
    trust."""
    r = docs.agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.length(F.col(col))).alias("c")
    ).first()
    return f"{int(r['n'])}:{int(r['c'] or 0)}"


def embedding_write_index(
    emb: DataFrame,
    table: str,
    family: str,
    dim: int | None = None,
    num_buckets: int = 16,
    path: str | None = None,
    mode: str = "overwrite",
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    fingerprint: str | None = None,
) -> None:
    """Persist an embedding column as a stamped, bucketed index table
    ``(doc_id, embedding array<double>)``.

    The corpus pays its featurization ONCE at write time; every consumer —
    ``embedding_index_topk``, the ANN builders (IVF/PQ train straight off
    the table), the selection family's joins on ``doc_id`` — reads the
    stored column instead of re-deriving it per query job.  That is the
    ``lsh_write_index`` economics applied to the embedding column itself:
    at 100 TB the featurization (tokenize + hash + aggregate, or a model
    forward pass) dwarfs one bucketed 8-bytes-per-component write.

    The index is SELF-DESCRIBING (the bloom ``key_type`` recipe): the
    embedding ``family`` (provenance — e.g. ``'hashed_md5'`` for
    ``text.hashed_embedding_df``, a model name for real embeddings),
    ``dim``, and the id column's type are stamped as table properties at
    build time.  Readers and appends validate against the stamp and RAISE
    on mismatch — cosine between vectors from different families or dims
    is silently meaningless, which is strictly worse than an error.
    Every written row's vector is length-checked against ``dim`` inside
    the write plan (a short row would poison every downstream GEMM).

    ``mode='append'`` is the incremental-maintenance path
    (``streaming.similarity.start_embedding_index_maintenance`` calls this
    per micro-batch): appends REQUIRE an existing stamp and an exact
    ``(family, dim, id_type)`` match.
    """
    from ..sources.parquet import write_bucketed

    spark = emb.sparkSession
    if not family:
        raise ValueError(
            "family must name the embedding provenance (e.g. 'hashed_md5')"
        )
    if dim is None:
        probe = emb.select(F.size(F.col(vec_col)).alias("d")).limit(1).collect()
        if not probe:
            raise ValueError(
                "cannot infer dim from an empty frame; pass dim= explicitly"
            )
        dim = int(probe[0]["d"])
    dim = int(dim)
    id_type = dict(emb.dtypes)[id_col]
    _check_stamp_value("family", family)
    if fingerprint is not None:
        _check_stamp_value("fingerprint", fingerprint)
    asked = {"family": str(family), "dim": dim, "id_type": id_type}
    if mode == "append":
        stored = _emb_stored_props(spark, table)
        if not stored:
            raise ValueError(
                f"embedding index {table!r} carries no {_EMB_PROP_PREFIX}* "
                "stamp; appends require an index built by embedding_write_index"
            )
        if {k: stored.get(k) for k in asked} != asked:
            raise ValueError(
                f"embedding index {table!r} was built with {stored}; appending "
                f"with {asked} would mix meaningless-to-compare vectors"
            )
    # length-check inside the write plan: when/otherwise keeps the check
    # un-prunable (a dangling assert_true column would be optimized away)
    checked = (
        F.when(
            F.size(F.col(vec_col)) == dim,
            F.col(vec_col).cast("array<double>"),
        )
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"embedding length != dim={dim} at {id_col}="),
                    F.col(id_col).cast("string"),
                )
            ).cast("array<double>")
        )
        .alias("embedding")
    )
    out = emb.select(F.col(id_col).alias("doc_id"), checked)
    write_bucketed(
        out, table, ["doc_id"], num_buckets=int(num_buckets), path=path, mode=mode
    )
    if mode != "append":
        stamp = dict(asked)
        # num_buckets rides in the stamp so cross-session re-registration
        # can recreate the table WITH its bucket spec — without it the
        # recreated table is unbucketed and every subsequent bucketed
        # append fails with 'Specified bucketing does not match'
        stamp["num_buckets"] = int(num_buckets)
        if fingerprint is not None:
            stamp["fingerprint"] = str(fingerprint)
        props = ", ".join(
            f"'{_EMB_PROP_PREFIX}{name}'='{v}'" for name, v in stamp.items()
        )
        spark.sql(f"ALTER TABLE {table} SET TBLPROPERTIES({props})")
        if path:
            _emb_write_sidecar(spark, path, stamp)
    else:
        # an append changes the content, so any stored corpus fingerprint
        # no longer describes it — drop it rather than let a stale stamp
        # vouch for a different corpus
        if _emb_stored_props(spark, table).get("fingerprint") is not None:
            spark.sql(
                f"ALTER TABLE {table} UNSET TBLPROPERTIES "
                f"('{_EMB_PROP_PREFIX}fingerprint')"
            )
        if path:
            side = _emb_read_sidecar(spark, path)
            if side.pop("fingerprint", None) is not None:
                _emb_write_sidecar(spark, path, side)


def embedding_read_index(
    spark,
    table: str,
    family: str | None = None,
    dim: int | None = None,
    fingerprint: str | None = None,
) -> DataFrame:
    """Load a persisted embedding index as ``(doc_id, embedding)``,
    validating the caller's expectations against the stored stamp.  A
    table without the stamp is refused outright — this index type never
    existed pre-stamp, so an unstamped table is not one (no legacy
    loophole to keep unenforceable forever).  ``fingerprint`` (from
    :func:`corpus_fingerprint` over the corpus the caller is ABOUT to
    serve) additionally checks index currency: a mismatch means the
    corpus changed since the build — rebuild, don't probe."""
    stored = _emb_stored_props(spark, table)
    if not stored:
        raise ValueError(
            f"{table!r} carries no {_EMB_PROP_PREFIX}* stamp — not an "
            "embedding index built by embedding_write_index"
        )
    if family is not None and stored.get("family") != str(family):
        raise ValueError(
            f"embedding index {table!r} holds family={stored.get('family')!r}, "
            f"asked for {family!r}: cosine across families is meaningless"
        )
    if dim is not None and stored.get("dim") != int(dim):
        raise ValueError(
            f"embedding index {table!r} holds dim={stored.get('dim')}, "
            f"asked for {int(dim)}"
        )
    if fingerprint is not None and stored.get("fingerprint") != str(fingerprint):
        raise ValueError(
            f"embedding index {table!r} was built from corpus fingerprint "
            f"{stored.get('fingerprint')!r}, the corpus now fingerprints "
            f"{fingerprint!r}: the index is stale — rebuild it"
        )
    return spark.table(table)


def embedding_register_index(spark, table: str, path: str) -> DataFrame:
    """Re-register an embedding index written by another session: table
    properties live in the session-local catalog and die with it, but the
    stamp also persists in the ``path__meta`` sidecar — this reads it,
    (re)creates the external table at ``path`` WITH its original bucket
    spec (``num_buckets`` rides in the stamp — an unbucketed recreate
    would make every subsequent ``mode='append'`` fail with 'Specified
    bucketing does not match', killing cross-process maintenance),
    restores the properties, and returns the frame.  Idempotent
    (drop + recreate)."""
    stamp = _emb_read_sidecar(spark, path)
    if not stamp:
        raise ValueError(
            f"no embedding-index sidecar at {path}__meta — was this index "
            "written by embedding_write_index with an explicit path?"
        )
    for key in ("id_type", "num_buckets"):
        if key not in stamp:
            raise ValueError(
                f"embedding-index sidecar at {path}__meta lacks {key!r}; "
                "rebuild the index with this version's embedding_write_index"
            )
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    loc = path.replace("'", "''")
    spark.sql(
        f"CREATE TABLE {table} (doc_id {stamp['id_type']}, "
        f"embedding array<double>) USING parquet "
        f"CLUSTERED BY (doc_id) INTO {int(stamp['num_buckets'])} BUCKETS "
        f"LOCATION '{loc}'"
    )
    props = ", ".join(
        f"'{_EMB_PROP_PREFIX}{name}'='{v}'" for name, v in sorted(stamp.items())
    )
    spark.sql(f"ALTER TABLE {table} SET TBLPROPERTIES({props})")
    return spark.table(table)


def embedding_index_topk(
    spark,
    table: str,
    queries: DataFrame,
    k: int = 3,
    family: str | None = None,
    dim: int | None = None,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k against a persisted embedding index: the corpus
    side is the stored column (ZERO featurization at query time — the
    whole point of the index), the query side broadcasts under
    ``cosine_topk_df``'s contract.  Query vectors are length-checked
    against the stamped dim inside the plan — a wrong-dim query would
    otherwise surface as an opaque numpy shape error deep in the executor
    GEMM instead of the stamp error this module promises."""
    corpus = embedding_read_index(spark, table, family=family, dim=dim)
    stored_dim = _emb_stored_props(spark, table).get("dim")
    qvec = F.col(vec_col)
    if stored_dim is not None:
        qvec = (
            F.when(F.size(F.col(vec_col)) == int(stored_dim), F.col(vec_col))
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            f"query embedding length != index dim={stored_dim}"
                            f" at {id_col}="
                        ),
                        F.col(id_col).cast("string"),
                    )
                ).cast(dict(queries.dtypes)[vec_col])
            )
        )
    q = queries.select(F.col(id_col).alias("doc_id"), qvec.alias("embedding"))
    return cosine_topk_df(corpus, q, k=k, id_col="doc_id", vec_col="embedding")
