"""Round-10 Arrow twins: hashed_embedding_local_df, classifier_score_local_df,
and md5 winnowing on the Arrow kernel — stateless mapInPandas kernels in
place of interpreted row-local JVM HOFs (the class measured bimodal in
long-lived mixed JVMs), each compared bit-for-bit against a pure-JVM batch
form (the token_entropy_local_df recipe, round 9)."""

import numpy as np
import pytest


def test_round_half_up_6_vec_matches_decimal():
    from imops_spark.functions.text import _round_half_up_r, _round_half_up_r_vec

    rng = np.random.default_rng(19)
    x = np.concatenate([
        rng.uniform(-1, 1, 400),
        np.array([0.0, 1.0, -1.0, 0.1234565, -0.1234565, 0.9999995,
                  -0.9999995, 0.49999999999999994, 2.5e-7, -2.5e-7]),
    ])
    got = _round_half_up_r_vec(x, 6)
    want = np.array([_round_half_up_r(float(v), 6) for v in x])
    assert got.tolist() == want.tolist()


def test_sigmoid_round6_vec_matches_decimal_arbiter():
    from imops_spark.functions.curate import (
        _sigmoid_round6_decimal,
        _sigmoid_round6_vec,
    )

    lm = np.array(
        [0, 1, -1, 100000, -100000, 2_000_000, -2_000_000, 13_862_944,
         -13_862_944, 57, -57, 999_999, 7_000_000],
        dtype=np.int64,
    )
    got = _sigmoid_round6_vec(lm)
    for j, v in enumerate(lm):
        x = float(np.float64(v) / 1e6)
        exact = _sigmoid_round6_decimal(x)
        # off the tie band the fast path must equal the exact arbiter
        assert abs(got[j] - exact) < 1.5e-6, (v, got[j], exact)


def test_hashed_embedding_arrow_twin(spark):
    """batch == arrow bit-for-bit across dims, including NULL
    text, whitespace-only docs, multi-byte tokens, and single-token
    docs; arrow plan has no Exchange and no interpreted filter HOFs."""
    from imops_spark.functions.text import (
        hashed_embedding_df,
        hashed_embedding_local_df,
    )

    docs = spark.range(300).selectExpr(
        "id AS doc_id",
        "CASE WHEN id % 29 = 0 THEN NULL"
        " WHEN id % 31 = 0 THEN '   '"
        " WHEN id % 13 = 0 THEN 'single'"
        " ELSE concat('tok', CAST(id % 17 AS STRING), ' foo 世界 bar',"
        " repeat(' w', CAST(id % 7 AS INT)), ' ', CAST(id % 50 AS STRING))"
        " END AS text",
    )
    for dim in (1, 16, 60):
        b = sorted(
            (r[0], tuple(r[1]))
            for r in hashed_embedding_df(docs, dim=dim).collect()
        )
        a = sorted(
            (r[0], tuple(r[1]))
            for r in hashed_embedding_local_df(docs, dim=dim).collect()
        )
        assert b == a, dim
    plan = (
        hashed_embedding_local_df(docs, dim=16)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "MapInPandas" in plan and "Exchange" not in plan
    for removed in ("window", "hof"):  # the removed strategy parameter
        with pytest.raises(TypeError):
            hashed_embedding_local_df(docs, strategy=removed)
    with pytest.raises(ValueError, match="dim"):
        hashed_embedding_local_df(docs, dim=61)


def test_hashed_embedding_arrow_streaming(spark, tmp_path):
    """The arrow twin drains a stream to exactly the batch rows."""
    from imops_spark.functions.text import hashed_embedding_local_df
    from imops_spark.streaming.events import run_stream_to_memory

    static = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    stream = (
        spark.readStream.schema(static.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet("/root/testdata/sf0.001")
        .select("doc_id", "text")
    )
    out = hashed_embedding_local_df(stream, dim=8)
    assert out.isStreaming
    drained = run_stream_to_memory(
        out, "emb_arrow_twin_test", spark, mode="append"
    )
    want = sorted(
        (r[0], tuple(r[1]))
        for r in hashed_embedding_local_df(
            static.select("doc_id", "text"), dim=8
        ).collect()
    )
    got = sorted((r[0], tuple(r[1])) for r in drained.collect())
    assert got == want


def test_classifier_score_arrow_twin(spark):
    """groupBy == arrow bit-for-bit, including negative bias,
    non-default salt/buckets, single-token docs (no bigrams), and
    out-of-range weight buckets (ignored by every form)."""
    from imops_spark.functions.curate import (
        classifier_score_df,
        classifier_score_local_df,
    )

    docs = spark.range(400).selectExpr(
        "id AS doc_id",
        "CASE WHEN id % 29 = 0 THEN NULL"
        " WHEN id % 31 = 0 THEN '   '"
        " WHEN id % 13 = 0 THEN 'single'"
        " ELSE concat('tok', CAST(id % 17 AS STRING), ' foo 世界 bar ',"
        " CAST(id % 50 AS STRING))"
        " END AS text",
    )
    weights = spark.range(600).selectExpr(  # 512..599 are out of range
        "id AS bucket",
        "CAST((id * 2654435761) % 1000003 AS DOUBLE)"
        " / CAST(1000003 AS DOUBLE) - CAST(0.5 AS DOUBLE) AS weight",
    )
    for kw in (
        {"num_buckets": 512, "bias": 0.1},
        {"num_buckets": 64, "bias": -0.7, "salt": 9},
    ):
        g = sorted(
            map(tuple, classifier_score_df(docs, weights, **kw).collect())
        )
        a = sorted(
            map(tuple, classifier_score_local_df(docs, weights, **kw).collect())
        )
        assert g == a, kw
    plan = (
        classifier_score_local_df(docs, weights, num_buckets=512)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "MapInPandas" in plan and "Exchange" not in plan
    for removed in ("fold", "hof"):  # the removed strategy parameter
        with pytest.raises(TypeError):
            classifier_score_local_df(docs, weights, strategy=removed)


def test_winnow_md5_arrow_twin(spark):
    """md5 winnowing on the Arrow kernel == window (fp-set and
    positional forms), on multi-byte text too; streams auto-route to the
    kernel since round 10."""
    from imops_spark.functions.text import (
        winnow_fingerprints_df,
        winnow_fp_set_df,
    )

    docs = spark.range(200).selectExpr(
        "id AS doc_id",
        "CASE WHEN id % 29 = 0 THEN NULL"
        " ELSE concat('the quick 世界 brown fox ', CAST(id % 23 AS STRING),"
        " ' jumps over the lazy dog ', repeat('abcdef ', CAST(id % 9 AS INT)))"
        " END AS text",
    )
    w = sorted(map(tuple, winnow_fp_set_df(docs, strategy="window").collect()))
    a = sorted(map(tuple, winnow_fp_set_df(docs, strategy="arrow").collect()))
    assert w == a
    pw = sorted(
        map(tuple, winnow_fingerprints_df(docs, strategy="window").collect())
    )
    pa = sorted(
        map(tuple, winnow_fingerprints_df(docs, strategy="arrow").collect())
    )
    assert pw == pa

    static = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    stream = (
        spark.readStream.schema(static.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet("/root/testdata/sf0.001")
        .select("doc_id", "text")
    )
    splan = (
        winnow_fp_set_df(stream)  # auto, md5
        ._jdf.queryExecution().analyzed().toString()
    )
    assert "mapInPandas" in splan or "MapInPandas" in splan


# NULL, empty, whitespace-only, leading-tab, multi-byte, multi-line and
# over-one-chunk documents (the chunk is monkeypatched to 8 below)
_EDGE_ROWS = [
    (1, None),
    (2, ""),
    (3, "   \n\t  "),
    (4, "\tleading tab doc with several words in it"),
    (5, "héllo wörld 中文 测试 naïve café über-gruß 東京 résumé"),
    (6, " ".join(f"tok{i % 37}" for i in range(200))),
    (7, "the quick brown fox\njumps over\nthe quick brown fox"),
    (8, "short"),
]


def _edge_pairs(name, docs):
    """``(kernel rows, twin rows)`` for one of the nine document kernels;
    the twin is the operator's JVM/agg strategy, Spark's own char-gram
    expression, or the repetition metrics' Python re-derivation."""
    from imops_spark.functions import curate, dedup, text
    from tests.test_minhash_char_entropy_arrow import _spark_char_minhash
    from tests.test_text_repetition_pii import _expected

    if name == "minhash":
        return [
            dedup.minhash_signatures_df(docs, num_hashes=6, strategy=s)
            for s in ("arrow", "jvm")
        ]
    if name == "minhash_char":
        return [
            dedup.minhash_signatures_char_df(docs, num_hashes=4, k=5),
            _spark_char_minhash(docs, 4, 5),
        ]
    if name == "simhash":
        return [dedup.simhash_df(docs, strategy=s) for s in ("arrow", "local")]
    if name == "winnow":
        return [
            text.winnow_fingerprints_df(docs, k=4, window=3, strategy=s)
            for s in ("arrow", "window")
        ]
    if name == "entropy":
        return [text.token_entropy_local_df(docs), text.token_entropy_df(docs)]
    if name == "lm":
        return [text.ngram_lm_df(docs, strategy=s) for s in ("arrow", "agg")]
    if name == "repetition":
        want = [
            {"doc_id": i, **_expected(t, (2, 3), (2,))}
            for i, t in _EDGE_ROWS
            if t is not None
        ]
        return [text.repetition_df(docs, top_ns=(2, 3), dup_ns=(2,)), want]
    if name == "embedding":
        return [
            text.hashed_embedding_local_df(docs, dim=8),
            text.hashed_embedding_df(docs, dim=8),
        ]
    assert name == "feature_sum"
    target = docs.where("doc_id % 2 = 0")
    return [
        curate.dsir_logweights_df(docs, target, num_buckets=64, strategy=s)
        for s in ("arrow", "agg")
    ]


@pytest.mark.parametrize(
    "name",
    [
        "minhash", "minhash_char", "simhash", "winnow", "entropy", "lm",
        "repetition", "embedding", "feature_sum",
    ],
)
def test_doc_kernels_match_twins_on_edge_rows(spark, monkeypatch, name):
    """Every document kernel equals its twin on edge rows spread over more
    partitions than rows, so most Python tasks see no rows at all and
    documents dropped by the kernel leave batches with nothing to emit.
    Spark sends an empty partition no batch at all, so the kernel's task
    function is also fed an empty batch directly: it must emit nothing."""
    import pandas as pd

    from imops_spark import utils
    from imops_spark.functions import md5v

    monkeypatch.setattr(md5v, "_MINHASH_CHUNK_SHINGLES", 8)
    tasks = []
    real = utils.map_in_pandas_renamed

    def spy(df, run, out_fields):
        tasks.append((df.columns, run))
        return real(df, run, out_fields)

    monkeypatch.setattr(utils, "map_in_pandas_renamed", spy)
    docs = spark.createDataFrame(_EDGE_ROWS, "doc_id long, text string").repartition(
        3 * len(_EDGE_ROWS)
    )
    got, want = _edge_pairs(name, docs)

    def rows(x):
        x = x if isinstance(x, list) else [r.asDict() for r in x.collect()]
        return sorted(tuple(sorted(r.items())) for r in x)

    assert rows(got) == rows(want) and rows(got)
    cols, run = tasks[0]
    empty = pd.DataFrame({c: pd.Series([], dtype=object) for c in cols})
    assert list(run(iter([empty]))) == []
