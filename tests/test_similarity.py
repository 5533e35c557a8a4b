"""Tests for similarity search: exact top-k vs a numpy brute-force oracle,
LSH bucket determinism + GEMM parity, IVF exactness at full probe."""

import numpy as np
import pytest

from imops_spark.functions.similarity import (
    cosine_topk_df,
    ivf_topk_df,
    lsh_buckets_df,
    lsh_topk_df,
    plane_component,
)

DIM = 16


def _vectors(spark, n, seed):
    rng = np.random.default_rng(seed)
    m = rng.standard_normal((n, DIM))
    rows = [(i, [float(v) for v in m[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>"), m


def _np_topk(m, qm, qids, k):
    """Brute-force oracle replicating the engine's round(.,6) + id tie-break."""
    out = {}
    norms = np.linalg.norm(m, axis=1)
    for qi, qv in zip(qids, qm):
        cos = np.round(m @ qv / (norms * np.linalg.norm(qv)), 6)
        cand = [(float(c), int(i)) for i, c in enumerate(cos) if i != qi]
        cand.sort(key=lambda t: (-t[0], t[1]))
        out[qi] = cand[:k]
    return out


def test_cosine_topk_matches_bruteforce(spark):
    df, m = _vectors(spark, 40, 31)
    queries = df.filter("vec_id < 5")
    got = cosine_topk_df(df, queries, k=4).collect()
    exp = _np_topk(m, m[:5], range(5), 4)
    assert len(got) == 5 * 4
    for r in got:
        c, i = exp[r["query_id"]][r["rank"] - 1]
        assert r["neighbor_id"] == i and abs(r["cosine"] - c) < 1e-9


def test_lsh_buckets_deterministic_and_match_numpy(spark):
    df, m = _vectors(spark, 30, 32)
    got = {r["vec_id"]: r["bucket"] for r in lsh_buckets_df(df, planes=5, dim=DIM).collect()}
    w = np.array([[plane_component(d, p) for d in range(DIM)] for p in range(5)])
    # single GEMM, as the kernel does
    exp = (((m @ w.T) >= 0) @ (2 ** np.arange(5))).astype(int)
    assert got == {i: int(exp[i]) for i in range(30)}
    # stable across invocations (hyperplanes are hash-derived, no RNG state)
    again = {r["vec_id"]: r["bucket"] for r in lsh_buckets_df(df, planes=5, dim=DIM).collect()}
    assert got == again


def test_lsh_topk_subset_of_bucketmates_ranked_exactly(spark):
    df, m = _vectors(spark, 50, 33)
    queries = df.filter("vec_id < 4")
    buckets = {r["vec_id"]: r["bucket"] for r in lsh_buckets_df(df, planes=3, dim=DIM).collect()}
    got = lsh_topk_df(df, queries, k=3, planes=3, dim=DIM).collect()
    norms = np.linalg.norm(m, axis=1)
    for qi in range(4):
        mates = [i for i in range(50) if i != qi and buckets[i] == buckets[qi]]
        cand = sorted(
            ((-(np.round(m[i] @ m[qi] / (norms[i] * norms[qi]), 6)), i) for i in mates)
        )[:3]
        rows = sorted((r for r in got if r["query_id"] == qi), key=lambda r: r["rank"])
        assert [r["neighbor_id"] for r in rows] == [i for _, i in cand]


def test_ivf_full_probe_equals_exact(spark):
    """n_probe == n_centroids degenerates IVF to exact brute force."""
    df, m = _vectors(spark, 40, 34)
    queries = df.filter("vec_id < 5")
    exact = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in cosine_topk_df(df, queries, k=3).collect()
    )
    ivf = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in ivf_topk_df(df, queries, k=3, n_centroids=4, n_probe=4).collect()
    )
    assert ivf == exact


def test_ivf_probe_recall_reasonable(spark):
    """At n_probe=2 of 4 lists, top-1 recall on random gaussian data should
    be well above chance (the top-1 neighbor's list is probed unless the
    query sits right on a centroid boundary)."""
    df, _ = _vectors(spark, 120, 35)
    queries = df.filter("vec_id < 20")
    exact = {
        r["query_id"]: r["neighbor_id"]
        for r in cosine_topk_df(df, queries, k=1).collect()
    }
    approx = {
        r["query_id"]: r["neighbor_id"]
        for r in ivf_topk_df(df, queries, k=1, n_centroids=4, n_probe=2).collect()
    }
    hits = sum(1 for q in exact if approx.get(q) == exact[q])
    assert hits >= 10, f"top-1 recall {hits}/20 too low"


def test_lsh_buckets_high_dim_smoke(spark):
    """dim >= 1024: the plan stays constant-size and the GEMM kernel keeps
    parity with a numpy re-derivation (the scale case the per-dimension
    column arithmetic could never survive)."""
    dim, planes, n = 2048, 8, 12
    rng = np.random.default_rng(77)
    m = rng.standard_normal((n, dim))
    rows = [(i, [float(v) for v in m[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r["bucket"] for r in lsh_buckets_df(df, planes=planes, dim=dim).collect()}
    w = np.array([[plane_component(d, p) for d in range(dim)] for p in range(planes)])
    exp = (((m @ w.T) >= 0) @ (2 ** np.arange(planes))).astype(int)
    assert got == {i: int(exp[i]) for i in range(n)}


def test_cosine_topk_ties_and_small_batches(spark):
    """Duplicate/antipodal vectors force rounded-cosine ties across arrow
    batches; the per-batch candidate expansion must keep every tied row so
    the global (cosine desc, id asc) ranking is exact."""
    base = np.array([1.0, 0.0, 0.0, 0.0])
    rows = []
    for i in range(12):
        v = base if i % 3 != 2 else np.array([0.0, 1.0, 0.0, 0.0])
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").repartition(5)
    queries = df.filter("vec_id = 0")
    got = sorted(
        (r["rank"], r["neighbor_id"], r["cosine"])
        for r in cosine_topk_df(df, queries, k=5).collect()
    )
    # neighbors: ids 1,3,4,6,7 all cosine 1.0 (ties -> id asc); 2,5,... are 0.0
    assert got == [(1, 1, 1.0), (2, 3, 1.0), (3, 4, 1.0), (4, 6, 1.0), (5, 7, 1.0)]


def test_ivf_persisted_index_matches_inline_and_skips_corpus_shuffle(spark, tmp_path):
    """ivf_write_index / ivf_query_index: results equal the inline ivf_topk_df
    with the same codebook, and the probe join's executed plan shuffles only
    the query side (the corpus lists are pre-bucketed by centroid_id)."""
    from imops_spark.functions.similarity import (
        ivf_assign_df,
        ivf_centroids,
        ivf_query_index,
        ivf_write_index,
    )

    df, m = _vectors(spark, 200, 36)
    queries = df.filter("vec_id < 5")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cents = ivf_write_index(
            df, "ivf_idx_test", n_centroids=4, path=str(tmp_path / "ivf")
        )
        # the codebook round-trips through its sidecar table bit-exactly —
        # probing from a fresh session needs no retraining
        from imops_spark.functions.similarity import ivf_load_centroids
        import numpy as np

        np.testing.assert_array_equal(ivf_load_centroids(spark, "ivf_idx_test"), cents)
        cents = ivf_load_centroids(spark, "ivf_idx_test")
        got = ivf_query_index(spark, "ivf_idx_test", queries, cents, k=3, n_probe=4)
        plan = got._jdf.queryExecution().executedPlan().toString()
        # corpus side: bucketed scan, no exchange; query side + window: yes
        scan_part = plan[plan.index("Scan parquet") :] if "Scan parquet" in plan else plan
        assert "SelectedBucketsCount" in plan, plan
        rows = sorted(
            (r["query_id"], r["rank"], r["neighbor_id"], r["cosine"])
            for r in got.collect()
        )
        # inline twin with the same codebook
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        from imops_spark.functions.similarity import _dot, _norm

        inv = (
            ivf_assign_df(df, cents, 1, out_id="neighbor_id")
            .withColumnRenamed("vec", "cv").withColumn("cn", _norm("cv"))
        )
        qp = (
            ivf_assign_df(queries, cents, 4, out_id="query_id")
            .withColumnRenamed("vec", "qv").withColumn("qn", _norm("qv"))
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
        exp = sorted(
            (r["query_id"], r["rank"], r["neighbor_id"], r["cosine"])
            for r in (
                inv.join(qp, on="centroid_id")
                .filter(F.col("query_id") != F.col("neighbor_id"))
                .withColumn("cosine", F.round(_dot("qv", "cv") / (F.col("qn") * F.col("cn")), 6))
                .withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= 3)
                .collect()
            )
        )
        assert rows == exp and len(rows) == 15
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS ivf_idx_test")
        spark.sql("DROP TABLE IF EXISTS ivf_idx_test__centroids")


def test_cosine_topk_empty_query_side(spark):
    df, _ = _vectors(spark, 10, 37)
    out = cosine_topk_df(df, df.filter("vec_id < 0"), k=3)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["query_id", "neighbor_id", "rank", "cosine"]


def test_pq_exact_when_codebook_covers_corpus(spark):
    """ksub >= distinct subvectors: every vector reconstructs exactly, so
    PQ ADC top-k equals exact brute-force top-k."""
    from imops_spark.functions.similarity import pq_encode_df, pq_topk_df, pq_train

    rng = np.random.default_rng(41)
    protos = rng.standard_normal((8, 16))
    rows = [(i, [float(v) for v in protos[i % 8]]) for i in range(32)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = pq_train(df, m=4, ksub=16)
    codes = pq_encode_df(df, books)
    queries = df.filter("vec_id < 4")
    got = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in pq_topk_df(codes, queries, books, k=3).collect()
    )
    exp = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in cosine_topk_df(df, queries, k=3).collect()
    )
    assert got == exp


def test_cosine_topk_string_ids(spark):
    """The broadcast top-k paths must preserve the input id dtype — string
    ids used to crash on np.int64 coercion."""
    rng = np.random.default_rng(8)
    rows = [(f"doc-{i}", [float(v) for v in rng.standard_normal(8)]) for i in range(12)]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    out = cosine_topk_df(df, df.filter("vec_id IN ('doc-0', 'doc-1')"), k=2).collect()
    assert {r["query_id"] for r in out} == {"doc-0", "doc-1"}
    assert all(isinstance(r["neighbor_id"], str) for r in out)
    empty = cosine_topk_df(df, df.filter("vec_id = 'nope'"), k=2)
    assert dict(empty.dtypes)["query_id"] == "string"


def test_cosine_topk_query_side_guard(spark, monkeypatch):
    """Past the broadcast contract the collect must raise a clear error, not
    silently OOM the driver."""
    import imops_spark.functions.similarity as sim

    monkeypatch.setattr(sim, "_TOPK_BROADCAST_MAX", 5)
    df, _ = _vectors(spark, 10, 8)
    with pytest.raises(ValueError, match="broadcast contract"):
        sim.cosine_topk_df(df, df, k=2)


def test_pq_train_empty_corpus_raises(spark):
    """Every quantizer trainer refuses an empty corpus with the same named
    error (``ivf_centroids`` used to fail inside numpy's stack)."""
    from imops_spark.functions.similarity import (
        ivf_centroids,
        ivfpq_residual_train,
        pq_train,
    )

    df = spark.createDataFrame([], "vec_id long, embedding array<double>")
    trainers = {
        "pq_train": lambda: pq_train(df, m=4, ksub=4),
        "ivf_centroids": lambda: ivf_centroids(df, n_centroids=2),
        "ivfpq_residual_train": lambda: ivfpq_residual_train(
            df, np.zeros((2, 4)), m=4, ksub=4
        ),
    }
    for name, train in trainers.items():
        with pytest.raises(ValueError, match=f"{name}: empty training sample"):
            train()


def test_pq_zero_norm_reconstruction_scores_zero(spark):
    """A zero vector reconstructs to a zero-norm code; its ADC similarity
    must be 0 (like the cosine paths), not nan/inf silently dropped from the
    ranking."""
    from imops_spark.functions.similarity import pq_encode_df, pq_topk_df

    rows = [
        (0, [1.0, 0.0, 0.0, 1.0]),
        (1, [0.0, 0.0, 0.0, 0.0]),  # zero vector
        (2, [1.0, 1.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    vecs = np.array([r[1] for r in rows])
    books = np.stack([vecs[:, :2], vecs[:, 2:]])  # saturated codebook
    codes = pq_encode_df(df, books)
    out = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in pq_topk_df(codes, df.filter("vec_id = 0"), books, k=3).collect()
    }
    assert out[(0, 1)] == 0.0  # zero-norm neighbor present, scored 0
    assert len(out) == 2


def test_pq_recall_on_clustered_data(spark):
    """Clustered vectors (prototypes + small noise): ADC top-1 recall vs
    exact must be high — the regime PQ is built for."""
    from imops_spark.functions.similarity import pq_encode_df, pq_topk_df, pq_train

    rng = np.random.default_rng(42)
    protos = rng.standard_normal((10, 32)) * 3
    vecs = np.array([protos[i % 10] + rng.standard_normal(32) * 0.15 for i in range(120)])
    rows = [(i, [float(v) for v in vecs[i]]) for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = pq_train(df, m=8, ksub=16)
    codes = pq_encode_df(df, books)
    queries = df.filter("vec_id < 20")
    exact = {
        r["query_id"]: r["neighbor_id"] for r in cosine_topk_df(df, queries, k=1).collect()
    }
    approx = {
        r["query_id"]: r["neighbor_id"]
        for r in pq_topk_df(codes, queries, books, k=1).collect()
    }
    # Quantization collapses intra-cluster detail (same-cluster members often
    # share a code and tie), so the honest PQ guarantee is CLUSTER recall:
    # the approx top-1 lives in the same prototype cluster as the true top-1.
    hits = sum(1 for q in exact if approx.get(q, -1) % 10 == exact[q] % 10)
    assert hits >= 18, f"PQ cluster recall {hits}/20 too low"


def test_embedding_near_dup_block_invariance(spark):
    """The block-GEMM pair set must be independent of the block count: auto
    sizing (single block for a small corpus), a forced multi-block split,
    and a numpy re-derivation all agree exactly."""
    from imops_spark.functions.dedup import embedding_near_dup_df

    rng = np.random.default_rng(5)
    n, dim = 60, 8
    m = rng.standard_normal((n, dim))
    m[17] = m[3] * 2.0       # planted near-dup (same direction, scaled)
    m[41] = m[9] + 1e-9      # planted near-identical
    df = spark.createDataFrame(
        [(i, [float(v) for v in m[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    ).repartition(7)

    thr = 0.95
    got_auto = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_near_dup_df(df, threshold=thr).collect()
    }
    got_forced = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_near_dup_df(df, threshold=thr, num_blocks=5).collect()
    }
    norm = m / np.linalg.norm(m, axis=1, keepdims=True)
    cos = np.round(norm @ norm.T, 6)
    exp = {
        (i, j): cos[i, j]
        for i in range(n)
        for j in range(i + 1, n)
        if cos[i, j] >= thr
    }
    assert got_auto == got_forced == exp
    assert (3, 17) in exp and (9, 41) in exp


def _ivfpq_parts(spark, n=80, dim=16, seed=11):
    from imops_spark.functions.similarity import ivf_centroids

    rng = np.random.default_rng(seed)
    m = rng.standard_normal((n, dim))
    df = spark.createDataFrame(
        [(i, [float(v) for v in m[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    cents = ivf_centroids(df, n_centroids=4)
    return df, m, cents


def test_ivfpq_full_probe_saturated_books_is_exact(spark):
    """Full probe + saturated residual codebook => IVFPQ equals exact
    brute-force cosine top-k (the sim_ivf / sim_pq exactness trick composed:
    residual reconstruction is lossless, so ADC scores are exact cosines and
    probing every list removes the coarse approximation)."""
    from imops_spark.functions.similarity import (
        cosine_topk_df,
        ivfpq_encode_df,
        ivfpq_topk_df,
    )

    df, m, cents = _ivfpq_parts(spark)
    # saturated residual codebook: every corpus residual subvector a centroid
    xn = m / np.linalg.norm(m, axis=1, keepdims=True)
    assign = np.argsort(-(xn @ np.asarray(cents).T), axis=1, kind="stable")[:, 0]
    res = m - np.asarray(cents)[assign]
    mm, dsub = 4, m.shape[1] // 4
    books = np.stack([res[:, s * dsub : (s + 1) * dsub] for s in range(mm)])
    queries = df.filter("vec_id < 6")
    index = ivfpq_encode_df(df, cents, books)
    got = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
        for r in ivfpq_topk_df(index, queries, cents, books, k=3, n_probe=4).collect()
    }
    exp = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
        for r in cosine_topk_df(df, queries, k=3).collect()
    }
    assert got == exp and len(got) == 18


def test_ivfpq_realistic_recall_and_partition_prune(spark, tmp_path):
    """Realistic codebooks: recall@3 above a floor, and the probe filter
    prunes whole inverted lists when the index is written partitioned by
    centroid_id (PartitionFilters in the scan — the at-scale skip)."""
    from imops_spark.functions.similarity import (
        cosine_topk_df,
        ivfpq_encode_df,
        ivfpq_residual_train,
        ivfpq_topk_df,
    )

    df, m, cents = _ivfpq_parts(spark, n=120)
    books = ivfpq_residual_train(df, cents, m=4, ksub=32)
    queries = df.filter("vec_id < 10")
    path = str(tmp_path / "ivfpq")
    ivfpq_encode_df(df, cents, books).write.partitionBy("centroid_id").parquet(path)
    index = spark.read.parquet(path)

    out = ivfpq_topk_df(index, queries, cents, books, k=3, n_probe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "centroid_id" in plan.split("PartitionFilters")[1][:200], plan

    got = {}
    for r in out.collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    exact = {}
    for r in cosine_topk_df(df, queries, k=3).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(len(got.get(q, set()) & nbrs) for q, nbrs in exact.items())
    total = sum(len(nbrs) for nbrs in exact.values())
    assert hits / total >= 0.5, (hits, total)


@pytest.mark.parametrize("num_hashes,k", [(4, 2), (8, 3), (7, 4)])
def test_minhash_sql_build_matches_lambda_build(spark, num_hashes, k):
    """The single-parse SQL formulation of the MinHash pipeline must be
    value-identical to the original lambda-based Column-API formulation
    (kept here as the oracle) for odd/even hash counts and shingle sizes."""
    from pyspark.sql import functions as F

    from imops_spark.functions.dedup import minhash_signatures_df, normalized_text

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    ).limit(60)

    # oracle: the pre-round-5 lambda-based build
    toks = docs.where(F.col("text").isNotNull()).select(
        "doc_id", F.split(normalized_text(), r"\s+").alias("t")
    )
    n = F.size("t")
    arr = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(n - k, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice("t", i + 1, k)),
        )
    )
    sh = toks.select("doc_id", arr.alias("shingles"))

    def digest(s):
        return F.transform("shingles", lambda x: F.md5(F.concat(F.lit(f"{s}|"), x)))

    digs = sh.select(
        "doc_id",
        *[digest(s).alias(f"__d{s}") for s in range((num_hashes + 1) // 2)],
    )
    cols = []
    for i in range(num_hashes):
        sub = F.array_min(
            F.transform(f"__d{i // 2}", lambda d: F.substring(d, 1 + 16 * (i % 2), 15))
        )
        cols.append(F.conv(sub, 16, 10).cast("long").alias(f"mh{i}"))
    exp = {tuple(r) for r in digs.select("doc_id", *cols).collect()}

    got = {
        tuple(r)
        for r in minhash_signatures_df(docs, num_hashes=num_hashes, k=k).collect()
    }
    assert got == exp and len(got) > 0


def test_quantize_int8_roundtrip_and_props(spark):
    from imops_spark.functions.similarity import quantize_int8_df

    df, m = _vectors(spark, 30, 77)
    rows = {r["vec_id"]: r for r in quantize_int8_df(df).collect()}
    for i in range(30):
        v = m[i]
        scale = float(np.max(np.abs(v))) / 127.0
        assert rows[i]["scale"] == pytest.approx(scale, rel=0, abs=0)
        q = np.asarray(rows[i]["qvec"], dtype=np.int64)
        assert q.min() >= -127 and q.max() <= 127
        # the max-magnitude component quantizes to exactly +-127
        assert np.max(np.abs(q)) == 127
        # per-element reconstruction error bounded by half a step
        assert np.max(np.abs(v - q * scale)) <= scale / 2 + 1e-12
        # bit-exact vs the numpy re-derivation (round-half-even matches
        # Java HALF_UP except exactly ON .5, measure-zero for real data)
        assert np.array_equal(q, np.round(v / scale).astype(np.int64))


def test_quantize_int8_zero_vector(spark):
    from imops_spark.functions.similarity import quantize_int8_df

    df = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.0]), (1, [1.0, -2.0, 0.5])],
        "vec_id long, embedding array<double>",
    )
    rows = {r["vec_id"]: r for r in quantize_int8_df(df).collect()}
    assert rows[0]["scale"] == 0.0 and list(rows[0]["qvec"]) == [0, 0, 0]
    assert list(rows[1]["qvec"]) == [64, -127, 32]


def test_int8_topk_matches_numpy_int8_oracle(spark):
    from imops_spark.functions.similarity import int8_topk_df

    df, m = _vectors(spark, 40, 93)
    queries = df.filter("vec_id < 6")
    got = int8_topk_df(df, queries, k=4).collect()
    scales = np.max(np.abs(m), axis=1) / 127.0
    qm = np.round(m / scales[:, None]).astype(np.int64).astype(np.float64)
    want = _np_topk(qm, qm[:6], range(6), 4)
    got_map = {}
    for r in got:
        got_map.setdefault(r["query_id"], []).append(
            (r["rank"], r["cosine"], r["neighbor_id"])
        )
    for qi in range(6):
        ranked = sorted(got_map[qi])
        assert [(c, n) for _, c, n in ranked] == want[qi]
