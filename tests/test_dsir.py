"""DSIR importance resampling (curate.dsir_logweights_df / dsir_sample_df).

Differential oracle: a pure-python md5 re-derivation of the hashed-n-gram
bucket models and micro-nat log-weights — an independent implementation of
the same published recipe (Xie et al. 2023), exact to the integer grid.
The cross-engine (DuckDB) check is the driver gate `cur_dsir`.
"""

from __future__ import annotations

import hashlib
import math
import re
import warnings

import pytest
from pyspark.sql import functions as F

from imops_spark.functions.curate import dsir_logweights_df, dsir_sample_df

TARGETY = [
    "the quick brown fox jumps over the lazy dog",
    "the lazy dog sleeps under the brown tree",
    "a quick fox and a lazy dog play in the sun",
    "brown fox quick dog lazy the the the",
]
RAWY = [
    "stock prices fell sharply amid market turmoil today",
    "the committee approved the quarterly budget revision",
    "insert tab a into slot b and rotate clockwise",
    "error code forty two retry the transaction later",
    "qzx vbn mlk jhg fds apw oeiru tyqn",
]


def _corpus(spark, with_empty=True):
    rows = [(i, t) for i, t in enumerate(TARGETY + RAWY)]
    if with_empty:
        rows += [(90, "   "), (91, None)]  # no tokens / NULL text: absent
    return spark.createDataFrame(rows, "doc_id long, text string")


def _target(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(TARGETY)], "doc_id long, text string"
    )


def _py_feats(text):
    toks = [x for x in re.sub(r"\s+", " ", text.strip().lower()).split(" ") if x]
    return toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]


def _py_h60(s, salt):
    return int(hashlib.md5(f"{salt}|{s}".encode()).hexdigest()[:15], 16)


def _py_weights(docs, target, B, a=1.0, salt=50):
    tc, rc = {}, {}
    for _, t in target:
        for f in _py_feats(t):
            b = _py_h60(f, salt) % B
            tc[b] = tc.get(b, 0) + 1
    for _, t in docs:
        for f in _py_feats(t):
            b = _py_h60(f, salt) % B
            rc[b] = rc.get(b, 0) + 1
    tt, rt = sum(tc.values()), sum(rc.values())
    out = {}
    for did, t in docs:
        fs = _py_feats(t)
        if not fs:
            continue
        s = 0
        for f in fs:
            b = _py_h60(f, salt) % B
            lr = math.log(
                ((tc.get(b, 0) + a) / (tt + a * B))
                / ((rc.get(b, 0) + a) / (rt + a * B))
            )
            s += round(lr * 1e6)
        out[did] = (len(fs), s)
    return out


def test_logweights_match_python_rederivation(spark):
    docs = _corpus(spark)
    got = {
        r["doc_id"]: (r["n_feats"], r["logw_micro"])
        for r in dsir_logweights_df(docs, _target(spark), num_buckets=128).collect()
    }
    py_docs = [(i, t) for i, t in enumerate(TARGETY + RAWY)]
    want = _py_weights(py_docs, list(enumerate(TARGETY)), B=128)
    assert got == want
    # zero-token and NULL docs produce no features and are absent
    assert 90 not in got and 91 not in got


def test_target_like_docs_score_higher(spark):
    docs = _corpus(spark, with_empty=False)
    w = {
        r["doc_id"]: r["logw_micro"] / r["n_feats"]
        for r in dsir_logweights_df(docs, _target(spark), num_buckets=256).collect()
    }
    tgt_ids = set(range(len(TARGETY)))
    tgt_mean = sum(w[i] for i in tgt_ids) / len(tgt_ids)
    raw_ids = set(w) - tgt_ids
    raw_mean = sum(w[i] for i in raw_ids) / len(raw_ids)
    assert tgt_mean > raw_mean  # the selection signal DSIR exists for
    assert max(w[i] for i in raw_ids) < min(w[i] for i in tgt_ids)


def test_sample_topk_and_gumbel(spark):
    docs = _corpus(spark, with_empty=False)
    tgt = _target(spark)
    plain = dsir_sample_df(docs, tgt, k=4, num_buckets=256, gumbel=False)
    rows = plain.collect()
    assert [r["key"] for r in rows] == sorted(
        (r["key"] for r in rows), reverse=True
    )
    # gumbel=False is pure argmax-k: key IS the log weight
    assert all(r["key"] == r["logw_micro"] for r in rows)
    w = {
        r["doc_id"]: r["logw_micro"]
        for r in dsir_logweights_df(docs, tgt, num_buckets=256).collect()
    }
    want_top = set(sorted(w, key=lambda d: (-w[d], d))[:4])
    assert {r["doc_id"] for r in rows} == want_top

    g1 = dsir_sample_df(docs, tgt, k=4, num_buckets=256).collect()
    g2 = dsir_sample_df(docs, tgt, k=4, num_buckets=256).collect()
    assert g1 == g2  # hash-derived Gumbel: reruns are identical
    # the gumbel key is the log weight plus the doc's micro-snapped variate
    for r in g1:
        h = int(
            hashlib.md5(f"51|{r['doc_id']}".encode()).hexdigest()[:15], 16
        )
        u = (h % 1_000_000 + 0.5) / 1_000_000.0
        assert r["key"] == r["logw_micro"] + round(-math.log(-math.log(u)) * 1e6)


def test_validation_and_plan(spark):
    from imops_spark.functions import curate as c

    docs = _corpus(spark, with_empty=False)
    tgt = _target(spark)
    frame = c.dsir_feature_frame_df(docs)
    ex = c.dsir_exploded_features_df(frame, num_buckets=64)
    model = c.dsir_model_df(docs, tgt, num_buckets=64)
    w = spark.createDataFrame([(1, 0.5)], "bucket long, weight double")
    nb = r"^num_buckets must be positive, got 0$"
    ak = r"^add_k must be > 0, got 0\.0$"
    kp = r"^k must be positive, got 0$"
    # every validating entry point, with each check it makes
    cases = [
        (nb, lambda: dsir_logweights_df(docs, tgt, num_buckets=0)),
        (ak, lambda: dsir_logweights_df(docs, tgt, add_k=0.0)),
        (kp, lambda: dsir_sample_df(docs, tgt, k=0)),
        (nb, lambda: c.dsir_model_df(docs, tgt, num_buckets=0)),
        (ak, lambda: c.dsir_model_df(docs, tgt, add_k=0.0)),
        (nb, lambda: c.dsir_score_local_df(docs, model, num_buckets=0)),
        (ak, lambda: c.dsir_score_local_df(docs, model, add_k=0.0)),
        (nb, lambda: c.dsir_model_from_features_df(frame, frame, num_buckets=0)),
        (ak, lambda: c.dsir_model_from_features_df(frame, frame, add_k=0.0)),
        (kp, lambda: c.dsir_sample_from_features_df(frame, frame, k=0)),
        (nb, lambda: c.dsir_exploded_features_df(frame, num_buckets=0)),
        (ak, lambda: c.dsir_model_from_exploded_df(ex, add_k=0.0)),
        (kp, lambda: c.dsir_sample_from_exploded_df(ex, k=0)),
        (nb, lambda: c.classifier_score_df(docs, w, num_buckets=0)),
        (nb, lambda: c.classifier_score_from_features_df(frame, w, num_buckets=0)),
        (nb, lambda: c.classifier_score_local_df(docs, w, num_buckets=0)),
        (nb, lambda: c.classifier_train_df(docs, num_buckets=0)),
        (nb, lambda: c.classifier_train_early_stop_df(docs, docs, num_buckets=0)),
    ]
    for msg, call in cases:
        with pytest.raises(ValueError, match=msg):
            call()

    with pytest.raises(ValueError, match="strategy"):
        dsir_logweights_df(docs, tgt, strategy="bogus")

    # agg form: model tables broadcast; the corpus side never sort-merge
    # joins
    w = dsir_logweights_df(docs, tgt, num_buckets=128, strategy="agg")
    plan = w._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "MapInPandas" not in plan
    # auto = arrow for batch frames: the scoring side is one stateless
    # mapInPandas — no join, no exchange of the feature stream at all
    wa = dsir_logweights_df(docs, tgt, num_buckets=128)
    aplan = wa._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in aplan
    assert "SortMergeJoin" not in aplan and "BroadcastHashJoin" not in aplan
    s = dsir_sample_df(docs, tgt, k=3, num_buckets=128)
    splan = s._jdf.queryExecution().executedPlan().toString()
    # global top-k must be per-partition heaps + driver merge, not a sort
    assert "TakeOrderedAndProject" in splan


# --- snapshot diff (dedup.snapshot_diff_df) ---


def test_snapshot_diff_statuses(spark):
    from imops_spark.functions.dedup import snapshot_diff_df, snapshot_diff_stats_df

    old = spark.createDataFrame(
        [
            (1, "alpha beta"),
            (2, "to be removed"),
            (3, "will change"),
            (4, "  Alpha\t Beta  "),  # same as 5's new text modulo whitespace/case
            (5, None),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (1, "alpha beta"),
            (3, "has changed"),
            (4, "alpha beta"),  # normalization: reflow is 'unchanged'
            (5, None),  # NULL -> sentinel fp -> 'unchanged', not 3VL surprise
            (6, "brand new"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["status"] for r in snapshot_diff_df(old, new).collect()}
    assert got == {
        1: "unchanged",
        2: "removed",
        3: "changed",
        4: "unchanged",
        5: "unchanged",
        6: "added",
    }
    stats = {
        r["status"]: r["n_docs"]
        for r in snapshot_diff_stats_df(old, new).collect()
    }
    assert stats == {"unchanged": 3, "removed": 1, "changed": 1, "added": 1}


def test_snapshot_diff_fp_pushed_below_join(spark):
    """Only (id, fp) pairs may shuffle: the md5 projection must sit under
    the join, not above it (document bodies never cross the exchange)."""
    from imops_spark.functions.dedup import snapshot_diff_df

    old = spark.range(10).selectExpr("id AS doc_id", "CAST(id AS STRING) AS text")
    new = spark.range(5).selectExpr("id AS doc_id", "CAST(id + 1 AS STRING) AS text")
    plan = snapshot_diff_df(old, new)._jdf.queryExecution().executedPlan().toString()
    join_pos = plan.find("Join")
    assert join_pos != -1
    # every md5 evaluation appears below the (outer) join in the plan tree
    assert "md5" not in plan[:join_pos].lower()


# --- hashed linear classifier apply (curate.classifier_score_df) ---


def test_classifier_score_matches_python(spark):
    from imops_spark.functions.curate import classifier_score_df

    docs = _corpus(spark)
    B = 64
    wmap = {b: (b % 7 - 3) / 10.0 for b in range(B)}
    weights = spark.createDataFrame(
        [(b, w) for b, w in wmap.items()], "bucket long, weight double"
    )
    got = {
        r["doc_id"]: (r["n_feats"], r["logit_micro"], r["prob"])
        for r in classifier_score_df(docs, weights, num_buckets=B, bias=0.25).collect()
    }
    for did, t in enumerate(TARGETY + RAWY):
        fs = _py_feats(t)
        wm = [round(wmap[_py_h60(f, 50) % B] * 1e6) for f in fs]
        s, n = sum(wm), len(wm)
        mean = (2 * s + n) // (2 * n) if s >= 0 else -((2 * -s + n) // (2 * n))
        logit = 250000 + mean
        prob = round(1.0 / (1.0 + math.exp(-logit / 1e6)), 6)
        assert got[did] == (n, logit, prob)
    assert 90 not in got and 91 not in got  # featureless docs absent


def test_classifier_missing_buckets_weigh_zero(spark):
    from imops_spark.functions.curate import classifier_score_df

    docs = _corpus(spark, with_empty=False)
    empty_w = spark.createDataFrame([], "bucket long, weight double")
    rows = classifier_score_df(docs, empty_w, num_buckets=64, bias=-0.4).collect()
    assert rows  # every doc scored
    for r in rows:
        assert r["logit_micro"] == -400000  # bias only
        assert r["prob"] == round(1.0 / (1.0 + math.exp(0.4)), 6)


def test_classifier_local_twin_is_value_identical(spark):
    from imops_spark.functions.curate import (
        classifier_score_df,
        classifier_score_local_df,
    )

    docs = _corpus(spark)
    B = 64
    holes = [(b, (b % 9 - 4) / 7.0) for b in range(0, B, 2)]  # missing -> 0
    # a NULL weight weighs 0 in both forms: the join form's sum skips it
    for rows in (holes, holes + [(1, None)]):
        weights = spark.createDataFrame(rows, "bucket long, weight double")
        a = {
            r["doc_id"]: (r["n_feats"], r["logit_micro"], r["prob"])
            for r in classifier_score_df(
                docs, weights, num_buckets=B, bias=-0.2
            ).collect()
        }
        with warnings.catch_warnings():
            warnings.simplefilter("error", RuntimeWarning)  # no NaN cast
            local = classifier_score_local_df(docs, weights, num_buckets=B, bias=-0.2)
        b = {
            r["doc_id"]: (r["n_feats"], r["logit_micro"], r["prob"])
            for r in local.collect()
        }
        assert a == b
    # the corpus side must be exchange-free: the weight table is collected
    # at build, so nothing shuffles on doc_id
    plan = local._jdf.queryExecution().executedPlan().toString()
    ex = [
        ln for ln in plan.splitlines()
        if "Exchange" in ln and "Broadcast" not in ln and "SinglePartition" not in ln
    ]
    assert all("bucket" in ln for ln in ex)
    assert not any("doc_id" in ln for ln in ex)


def test_classifier_local_is_streaming_legal(spark, tmp_path):
    from imops_spark.functions.curate import (
        classifier_score_df,
        classifier_score_local_df,
    )
    from imops_spark.streaming.events import run_stream_to_memory

    src = str(tmp_path / "docs")
    _corpus(spark, with_empty=False).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    weights = spark.createDataFrame(
        [(b, (b % 5 - 2) / 3.0) for b in range(32)], "bucket long, weight double"
    )
    out = classifier_score_local_df(stream, weights, num_buckets=32, bias=0.3)
    assert out.isStreaming
    got = run_stream_to_memory(out, "clf_stream_t", spark, mode="append")
    want = classifier_score_df(
        spark.read.parquet(src), weights, num_buckets=32, bias=0.3
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


# --- distributed classifier training (curate.classifier_train_df) ---


def _labeled_corpus(spark):
    good = [
        "solid factual prose with careful analysis and clear structure",
        "careful clear analysis of factual structure in prose form",
        "the analysis remains factual careful and clear throughout",
    ]
    bad = [
        "click here buy now cheap deal free offer win prize",
        "free prize win now buy cheap click offer deal here",
        "cheap free deal buy prize click now win here offer",
    ]
    rows, did = [], 0
    for rep in range(8):
        for t in good:
            rows.append((did, f"{t} variant {rep}", 1.0))
            did += 1
        for t in bad:
            rows.append((did, f"{t} variant {rep}", 0.0))
            did += 1
    return (
        spark.createDataFrame(rows, "doc_id long, text string, label double"),
        {d: y for d, _, y in rows},
    )


def test_train_then_apply_separates_classes(spark):
    from imops_spark.functions.curate import (
        classifier_score_local_df,
        classifier_train_df,
    )

    docs, labels = _labeled_corpus(spark)
    wdf, bias = classifier_train_df(docs, num_buckets=256, steps=20, lr=2.0)
    scored = classifier_score_local_df(
        docs.select("doc_id", "text"), wdf, num_buckets=256, bias=bias
    )
    got = {r["doc_id"]: r["prob"] for r in scored.collect()}
    acc = sum((got[d] > 0.5) == (labels[d] > 0.5) for d in got) / len(got)
    assert acc == 1.0  # linearly separable vocabularies
    # and the classes are cleanly separated (margins widen only
    # logarithmically for the mean-feature parameterization — the decision
    # gap, not its absolute width, is the convergence signal)
    goods = [p for d, p in got.items() if labels[d] == 1.0]
    bads = [p for d, p in got.items() if labels[d] == 0.0]
    assert min(goods) > 0.53 and max(bads) < 0.47
    assert min(goods) - max(bads) > 0.08


def test_train_more_steps_decreases_loss(spark):
    import math as m

    from imops_spark.functions.curate import (
        classifier_score_local_df,
        classifier_train_df,
    )

    docs, labels = _labeled_corpus(spark)

    def loss(steps):
        wdf, bias = classifier_train_df(docs, num_buckets=256, steps=steps, lr=1.0)
        got = {
            r["doc_id"]: r["prob"]
            for r in classifier_score_local_df(
                docs.select("doc_id", "text"), wdf, num_buckets=256, bias=bias
            ).collect()
        }
        eps = 1e-9
        return -sum(
            m.log(max(got[d], eps)) if labels[d] == 1.0 else m.log(max(1 - got[d], eps))
            for d in got
        ) / len(got)

    assert loss(8) < loss(2) < m.log(2) + 1e-9  # both below the w=0 start


def test_train_validation(spark):
    from imops_spark.functions.curate import classifier_train_df

    docs, _ = _labeled_corpus(spark)
    with pytest.raises(ValueError, match="steps"):
        classifier_train_df(docs, steps=0)
    with pytest.raises(ValueError, match="num_buckets"):
        classifier_train_df(docs, num_buckets=0)
    empty = spark.createDataFrame([], "doc_id long, text string, label double")
    with pytest.raises(ValueError, match="no labeled"):
        classifier_train_df(empty, num_buckets=16, steps=1)


def test_train_matches_python_gradient_steps(spark):
    """The update rule itself: two full-batch GD steps with L2 against a
    plain-Python loop over the same hashed feature rows — mean-feature
    sigmoid, residual share ``(p - y)/nf`` per feature, summed residual for
    the bias, ``l2 * w`` on the weights only."""
    from imops_spark.functions.curate import _labeled_features, classifier_train_df

    B, lr, l2 = 64, 1.0, 0.1
    docs, _ = _labeled_corpus(spark)
    wdf, bias = classifier_train_df(docs, num_buckets=B, steps=2, lr=lr, l2=l2)
    feats = _labeled_features(docs, "label", 50, B).collect()
    rows = [(r["y"], list(r["fb"])) for r in feats]
    w, b, n = [0.0] * B, 0.0, len(rows)
    for _ in range(2):
        g, gb = [0.0] * B, 0.0
        for y, fb in rows:
            p = 1.0 / (1.0 + math.exp(-(b + sum(w[f] for f in fb) / len(fb))))
            gb += p - y
            for f in fb:
                g[f] += (p - y) / len(fb)
        w = [wi - lr * (gi / n + l2 * wi) for wi, gi in zip(w, g)]
        b -= lr * gb / n
    got = {r["bucket"]: r["weight"] for r in wdf.collect()}
    assert sorted(got) == list(range(B))
    assert max(abs(got[k] - w[k]) for k in range(B)) < 1e-12
    assert abs(bias - b) < 1e-12
    assert any(abs(x) > 1e-3 for x in w)  # the steps actually moved


def test_train_is_run_to_run_identical(spark):
    """Each partition sums its own gradient and the driver adds the partials
    in partition order, so a fixed partitioning trains bit-identically."""
    from imops_spark.functions.curate import classifier_train_df

    docs = _labeled_corpus(spark)[0].repartition(3, "doc_id")
    assert docs.rdd.getNumPartitions() == 3
    runs = [classifier_train_df(docs, num_buckets=128, steps=3) for _ in range(2)]
    (w1, b1), (w2, b2) = [
        (sorted((r["bucket"], r["weight"]) for r in wdf.collect()), b)
        for wdf, b in runs
    ]
    assert w1 == w2 and b1 == b2


# --- per-group top-fraction filter (curate.keep_top_fraction_df) ---


def test_keep_top_fraction(spark):
    from imops_spark.functions.curate import keep_top_fraction_df

    rows = [(i, "a" if i < 10 else "b", i * 7 % 13) for i in range(13)]
    df = spark.createDataFrame(rows, "doc_id long, g string, score long")
    kept = keep_top_fraction_df(df, "g", "score", 0.4, "doc_id").collect()
    by_g = {}
    for r in kept:
        by_g.setdefault(r["g"], []).append((r["score"], r["doc_id"]))
    # group a: 10 rows -> ceil(4.0) = 4 kept; group b: 3 rows -> ceil(1.2) = 2
    assert len(by_g["a"]) == 4 and len(by_g["b"]) == 2
    # exactly the top scores, doc_id tie-break
    want_a = sorted(((i * 7 % 13, i) for i in range(10)), key=lambda t: (-t[0], t[1]))[:4]
    assert sorted(by_g["a"], key=lambda t: (-t[0], t[1])) == want_a
    # every non-empty group keeps at least one row even at tiny fractions
    tiny = keep_top_fraction_df(df, "g", "score", 0.01, "doc_id").collect()
    assert {r["g"] for r in tiny} == {"a", "b"}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="fraction"):
        keep_top_fraction_df(df, "g", "score", 0.0, "doc_id")
    # ascending mode: keeps the LOWEST scores (e.g. perplexity filters)
    asc = keep_top_fraction_df(df, "g", "score", 0.2, "doc_id", descending=False)
    a_rows = [r for r in asc.collect() if r["g"] == "a"]
    assert len(a_rows) == 2
    assert {r["score"] for r in a_rows} == set(
        sorted(i * 7 % 13 for i in range(10))[:2]
    )


# --- model-as-data + streaming DSIR scoring (curate.dsir_score_local_df) ---


def test_dsir_local_twin_matches_join_path(spark):
    from imops_spark.functions.curate import dsir_model_df, dsir_score_local_df

    docs = _corpus(spark)
    tgt = _target(spark)
    a = {
        r["doc_id"]: (r["n_feats"], r["logw_micro"])
        for r in dsir_logweights_df(
            docs, tgt, num_buckets=128, strategy="agg"
        ).collect()
    }
    model = dsir_model_df(docs, tgt, num_buckets=128)
    local = dsir_score_local_df(docs, model, num_buckets=128)
    b = {
        r["doc_id"]: (r["n_feats"], r["logw_micro"]) for r in local.collect()
    }
    assert a == b
    # the scored side is exchange-free: the model is collected at build,
    # so nothing shuffles on doc_id
    plan = local._jdf.queryExecution().executedPlan().toString()
    ex = [
        ln for ln in plan.splitlines()
        if "Exchange" in ln and "Broadcast" not in ln and "SinglePartition" not in ln
    ]
    assert not any("doc_id" in ln for ln in ex)


def test_dsir_local_unseen_bucket_scores_prior(spark):
    from imops_spark.functions.curate import dsir_model_df, dsir_score_local_df

    docs = _corpus(spark, with_empty=False)
    tgt = _target(spark)
    B = 4096  # large B: novel tokens land in buckets no corpus feature hit
    model = dsir_model_df(docs, tgt, num_buckets=B)
    novel = spark.createDataFrame(
        [(999, "zzzqqqxx wwvvuutt")], "doc_id long, text string"
    )
    r = dsir_score_local_df(novel, model, num_buckets=B).collect()[0]
    # all 3 features (2 unigrams + 1 bigram) unseen -> 3x the prior ratio
    rows = model.select("tt", "rt").first()
    tt, rt = rows["tt"], rows["rt"]
    prior = round(
        math.log((1.0 / (tt + float(B))) / (1.0 / (rt + float(B)))) * 1e6
    )
    # guard: the novel features genuinely miss every model bucket
    feats = ["zzzqqqxx", "wwvvuutt", "zzzqqqxx wwvvuutt"]
    hit = {_py_h60(f, 50) % B for f in feats}
    model_buckets = {x["bucket"] for x in model.select("bucket").collect()}
    assert not (hit & model_buckets)
    assert (r["n_feats"], r["logw_micro"]) == (3, 3 * prior)
    # a model row with a NULL lrm scores the prior too
    nulled = model.withColumn("lrm", F.lit(None).cast("long"))
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)  # no NaN cast
        got = dsir_score_local_df(docs, nulled, num_buckets=B).collect()
    assert len(got) == len(TARGETY + RAWY)
    assert all(r["logw_micro"] == r["n_feats"] * prior for r in got)


def test_dsir_local_is_streaming_legal(spark, tmp_path):
    from imops_spark.functions.curate import dsir_model_df, dsir_score_local_df
    from imops_spark.streaming.events import run_stream_to_memory

    src = str(tmp_path / "docs")
    _corpus(spark, with_empty=False).write.parquet(src)
    model = dsir_model_df(
        spark.read.parquet(src), _target(spark), num_buckets=128
    )
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    out = dsir_score_local_df(stream, model, num_buckets=128)
    assert out.isStreaming
    got = run_stream_to_memory(out, "dsir_stream_t", spark, mode="append")
    want = dsir_logweights_df(
        spark.read.parquet(src), _target(spark), num_buckets=128
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_classifier_duplicate_bucket_rows_raise(spark):
    """A weight or DSIR model table with duplicate bucket rows must fail
    LOUDLY in every scorer — silently, the dense form would keep one
    arbitrary row while the join forms double-count (wrong AND
    different)."""
    from imops_spark.functions.curate import (
        classifier_score_df,
        classifier_score_from_features_df,
        classifier_score_local_df,
        dsir_feature_frame_df,
        dsir_score_local_df,
    )

    docs = _corpus(spark, with_empty=False)
    dup = spark.createDataFrame(
        [(5, 0.1), (5, 0.2), (6, 0.3)], "bucket long, weight double"
    )
    dup_model = spark.createDataFrame(
        [(5, 1, 2, 9, 9, 10), (5, 2, 1, 9, 9, -10), (6, 1, 1, 9, 9, 0)],
        "bucket long, tc long, rc long, tt long, rt long, lrm long",
    )
    frame = dsir_feature_frame_df(docs)
    for fn, src, table in (
        (classifier_score_df, docs, dup),
        (classifier_score_local_df, docs, dup),
        (classifier_score_from_features_df, frame, dup),
        (dsir_score_local_df, docs, dup_model),
    ):
        with pytest.raises(Exception, match=f"{fn.__name__}: duplicate bucket rows"):
            fn(src, table, num_buckets=64).collect()


def test_snapshot_diff_stream_matches_batch_minus_removed(spark, tmp_path):
    from imops_spark.functions.dedup import snapshot_diff_df, snapshot_diff_stream_df
    from imops_spark.streaming.events import run_stream_to_memory

    old_rows = [(1, "same"), (2, "gone"), (3, "before"), (4, None)]
    new_rows = [(1, "same"), (3, "after"), (4, None), (9, "fresh")]
    old = spark.createDataFrame(old_rows, "doc_id long, text string")
    src = str(tmp_path / "new")
    spark.createDataFrame(new_rows, "doc_id long, text string").write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    out = snapshot_diff_stream_df(stream, old_docs=old)
    assert out.isStreaming
    got = run_stream_to_memory(out, "snapdiff_stream_t", spark, mode="append")
    want = snapshot_diff_df(
        old, spark.read.parquet(src)
    ).filter("status <> 'removed'")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # and the statuses themselves are right
    st = {r["doc_id"]: r["status"] for r in got.collect()}
    assert st == {1: "unchanged", 3: "changed", 4: "unchanged", 9: "added"}


def test_feature_frame_twins_are_value_identical(spark):
    """Every *_from_features twin fed from one shared dsir_feature_frame_df
    must equal its inline counterpart bit-for-bit — the single-derivation
    contract that lets a selection pipeline persist the frame once."""
    from imops_spark.functions.curate import (
        classifier_score_df,
        classifier_score_from_features_df,
        dsir_feature_frame_df,
        dsir_logweights_from_features_df,
        dsir_model_df,
        dsir_model_from_features_df,
        dsir_sample_df,
        dsir_sample_from_features_df,
    )

    docs = _corpus(spark)
    target = _target(spark)
    B = 64
    frame = dsir_feature_frame_df(docs)
    tframe = dsir_feature_frame_df(target)

    m_new = {r["bucket"]: tuple(r) for r in dsir_model_from_features_df(
        frame, tframe, num_buckets=B).collect()}
    m_old = {r["bucket"]: tuple(r) for r in dsir_model_df(
        docs, target, num_buckets=B).collect()}
    assert m_new == m_old and m_new

    w_new = {r["doc_id"]: (r["n_feats"], r["logw_micro"]) for r in
             dsir_logweights_from_features_df(
                 frame, dsir_model_from_features_df(frame, tframe, num_buckets=B),
                 num_buckets=B).collect()}
    w_old = {r["doc_id"]: (r["n_feats"], r["logw_micro"]) for r in
             dsir_logweights_df(docs, target, num_buckets=B).collect()}
    assert w_new == w_old and 90 not in w_new and 91 not in w_new

    s_new = [tuple(r) for r in dsir_sample_from_features_df(
        frame, tframe, k=4, num_buckets=B).collect()]
    s_old = [tuple(r) for r in dsir_sample_df(
        docs, target, k=4, num_buckets=B).collect()]
    assert s_new == s_old and len(s_new) == 4

    weights = spark.range(B).selectExpr(
        "id AS bucket", "CAST((id * 37) % 101 AS DOUBLE) / 101 - 0.5 AS weight"
    )
    c_new = {r["doc_id"]: tuple(r) for r in classifier_score_from_features_df(
        frame, weights, num_buckets=B, bias=0.25).collect()}
    c_old = {r["doc_id"]: tuple(r) for r in classifier_score_df(
        docs, weights, num_buckets=B, bias=0.25).collect()}
    assert c_new == c_old and c_new


def test_feature_frame_carry_and_one_scan(spark, tmp_path):
    """Carry columns ride through the frame untouched (reserved names
    raise), and a composed classifier+DSIR consumer plan over one
    localCheckpoint-ed frame scans the parquet source exactly once."""
    import pytest

    from imops_spark.functions.curate import (
        classifier_score_from_features_df,
        dsir_feature_frame_df,
        dsir_sample_from_features_df,
    )

    p = str(tmp_path / "docs")
    _corpus(spark).withColumn("lang", F.lit("en")).write.parquet(p)
    docs = spark.read.parquet(p)
    frame = dsir_feature_frame_df(docs, carry=("lang",))
    assert frame.columns == ["doc_id", "lang", "fh"]
    with pytest.raises(ValueError, match="reserved"):
        dsir_feature_frame_df(docs, carry=("toks",))

    ck = frame.localCheckpoint(eager=False)
    weights = spark.range(64).selectExpr(
        "id AS bucket", "CAST(id AS DOUBLE) / 64 - 0.5 AS weight"
    )
    scored = classifier_score_from_features_df(ck, weights, num_buckets=64)
    keep = scored.filter(F.col("prob") >= 0.5).select("doc_id")
    surv = ck.join(keep, "doc_id", "left_semi")
    out = dsir_sample_from_features_df(
        surv, surv.filter(F.col("lang") == "en"), k=3, num_buckets=64
    )
    rows = out.collect()
    assert len(rows) == 3
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 0  # everything reads the checkpoint
    assert plan.count("Scan ExistingRDD") >= 1


def test_train_early_stopping_stops_and_keeps_best(spark):
    """With a dev set, training must stop well before max_steps once the
    held-out loss plateaus (patience), return the BEST-snapshot weights,
    and the dev-loss history must actually descend from the w=0 start."""
    import math as m

    from imops_spark.functions.curate import (
        classifier_score_local_df,
        classifier_train_early_stop_df,
    )

    docs, labels = _labeled_corpus(spark)
    # held-out split: last repetition block as dev (distinct doc_ids)
    dev = docs.filter(F.col("doc_id") >= 42)
    train = docs.filter(F.col("doc_id") < 42)
    wdf, bias, hist = classifier_train_early_stop_df(
        train,
        dev,
        num_buckets=256,
        max_steps=200,
        lr=4.0,
        patience=3,
        min_delta=2e-2,
    )
    # plateau detection fired: nowhere near the 200-step budget (the
    # mean-feature parameterization descends logarithmically, so the
    # per-step gain sinks below min_delta long before convergence)
    assert 4 <= len(hist) < 100
    assert hist[0] < m.log(2)  # first step already beats the w=0 loss
    assert min(hist) <= hist[0]
    # the returned snapshot is the best one: rescoring dev with the
    # returned weights reproduces min(hist) up to float association
    got = {
        r["doc_id"]: r["prob"]
        for r in classifier_score_local_df(
            dev.select("doc_id", "text"), wdf, num_buckets=256, bias=bias
        ).collect()
    }
    eps = 1e-12
    dev_loss = -sum(
        m.log(max(p, eps)) if labels[d] == 1.0 else m.log(max(1 - p, eps))
        for d, p in got.items()
    ) / len(got)
    # the apply path quantizes weights/logits to the micro grid and
    # rounds prob at 6, so equality holds only up to that grain
    assert abs(dev_loss - min(hist)) < 1e-4
    # and the model still separates the classes
    acc = sum((p > 0.5) == (labels[d] > 0.5) for d, p in got.items()) / len(got)
    assert acc == 1.0


def test_train_early_stopping_validation(spark):
    from imops_spark.functions.curate import classifier_train_early_stop_df

    docs, _ = _labeled_corpus(spark)
    empty = docs.filter(F.col("doc_id") < 0)
    with pytest.raises(ValueError, match="patience"):
        classifier_train_early_stop_df(docs, docs, patience=0)
    with pytest.raises(ValueError, match="dev"):
        classifier_train_early_stop_df(docs, empty, num_buckets=64, max_steps=2)


def test_exploded_path_is_value_identical(spark):
    """The single-explode DSIR path (dsir_*_from_exploded_df over one
    checkpointed (doc_id, is_tgt, bucket) stream) must equal the
    two-frame *_from_features path bit-for-bit when the target is a
    flagged slice of the scored corpus — the cur_select2 shape."""
    from imops_spark.functions.curate import (
        dsir_exploded_features_df,
        dsir_feature_frame_df,
        dsir_logweights_from_exploded_df,
        dsir_logweights_from_features_df,
        dsir_model_from_exploded_df,
        dsir_model_from_features_df,
        dsir_sample_from_exploded_df,
        dsir_sample_from_features_df,
    )

    docs = _corpus(spark)
    B = 64
    frame = dsir_feature_frame_df(docs)
    tframe = dsir_feature_frame_df(_target(spark))
    # the target is the doc_id < 4 slice of the corpus (identical texts)
    ex = dsir_exploded_features_df(
        frame, num_buckets=B, target_flag=F.col("doc_id") < 4
    ).localCheckpoint(eager=False)

    m_new = {r["bucket"]: tuple(r) for r in dsir_model_from_exploded_df(
        ex, num_buckets=B).collect()}
    m_old = {r["bucket"]: tuple(r) for r in dsir_model_from_features_df(
        frame, tframe, num_buckets=B).collect()}
    assert m_new == m_old and m_new

    model = dsir_model_from_exploded_df(ex, num_buckets=B)
    w_new = {r["doc_id"]: (r["n_feats"], r["logw_micro"]) for r in
             dsir_logweights_from_exploded_df(ex, model).collect()}
    w_old = {r["doc_id"]: (r["n_feats"], r["logw_micro"]) for r in
             dsir_logweights_from_features_df(
                 frame, model, num_buckets=B).collect()}
    assert w_new == w_old and 90 not in w_new and 91 not in w_new

    s_new = [tuple(r) for r in dsir_sample_from_exploded_df(
        ex, k=4, num_buckets=B).collect()]
    s_old = [tuple(r) for r in dsir_sample_from_features_df(
        frame, tframe, k=4, num_buckets=B).collect()]
    assert s_new == s_old and len(s_new) == 4

    with pytest.raises(ValueError, match="num_buckets"):
        dsir_exploded_features_df(frame, num_buckets=0)
    with pytest.raises(ValueError, match="k must be"):
        dsir_sample_from_exploded_df(ex, k=0, num_buckets=B)


# ---------------------------------------------------------------------------
# roc_points_df
# ---------------------------------------------------------------------------


def _roc_reference(rows, n, lo=None, hi=None):
    """Independent python re-derivation of the bucketed ROC."""
    pts = [(int(s), int(y)) for s, y in rows if s is not None and y is not None]
    lo = min(s for s, _ in pts) if lo is None else lo
    hi = max(s for s, _ in pts) if hi is None else hi
    width = hi - lo + 1
    per = {}
    for s, y in pts:
        b = int(((max(lo, min(hi, s)) - lo) * n) / width)
        r = per.setdefault(b, [0, 0])
        r[0] += 1
        r[1] += y
    P = sum(v[1] for v in per.values())
    N = sum(v[0] - v[1] for v in per.values())
    out, tp, fp = {}, 0, 0
    for b in sorted(per, reverse=True):
        n_rows, n_pos = per[b]
        tp += n_pos
        fp += n_rows - n_pos
        out[b] = (
            lo + (b * width + n - 1) // n,  # ceil: smallest score in bucket
            n_rows,
            n_pos,
            tp,
            fp,
            (tp * 1_000_000) // P if P else None,
            (fp * 1_000_000) // N if N else None,
            (tp * 1_000_000) // (tp + fp) if tp + fp else None,
        )
    return out


def test_roc_points_differential_vs_python(spark):
    """roc_points_df == the python re-derivation on random integer
    scores, including negative scores, clamping under explicit bounds,
    and NULL score/label exclusion."""
    import random

    from imops_spark.functions.curate import roc_points_df

    rng = random.Random(3)
    rows = [
        (i, rng.randint(-5_000_000, 5_000_000), rng.randint(0, 1))
        for i in range(500)
    ]
    rows += [(1000, None, 1), (1001, 7, None)]
    df = spark.createDataFrame(rows, "doc_id long, logit_micro long, label int")

    for kwargs in ({"n_buckets": 16}, {"n_buckets": 8, "lo": -1_000_000, "hi": 1_000_000}):
        got = {
            r["bucket"]: (
                r["threshold_micro"], r["n_rows"], r["n_pos"], r["tp"],
                r["fp"], r["tpr_micro"], r["fpr_micro"], r["prec_micro"],
            )
            for r in roc_points_df(df, "label", "logit_micro", **kwargs).collect()
        }
        want = _roc_reference(
            [(s, y) for _, s, y in rows],
            kwargs["n_buckets"],
            kwargs.get("lo"),
            kwargs.get("hi"),
        )
        assert got == want, kwargs


def test_roc_points_degenerate_and_guards(spark):
    from imops_spark.functions.curate import roc_points_df

    import pytest

    allpos = spark.createDataFrame(
        [(i, i * 10, 1) for i in range(20)], "doc_id long, s long, label int"
    )
    rows = roc_points_df(allpos, "label", "s", n_buckets=4).collect()
    assert all(r["fpr_micro"] is None for r in rows)  # N == 0: guarded NULL
    assert all(r["tpr_micro"] is not None for r in rows)

    with pytest.raises(ValueError, match="n_buckets"):
        roc_points_df(allpos, "label", "s", n_buckets=1)
    empty = spark.createDataFrame([], "doc_id long, s long, label int")
    with pytest.raises(ValueError, match="no scorable"):
        roc_points_df(empty, "label", "s")


def test_roc_threshold_is_deployable(spark):
    """The contract pin: deploying the filter `score >= threshold_micro`
    reproduces tp/fp EXACTLY.  width=10, n=4 — n does not divide width,
    the case where a floored bucket edge would also admit the top score
    of the bucket below."""
    from imops_spark.functions.curate import roc_points_df

    rows = [(i, s, int(s % 2 == 0)) for i, s in enumerate(range(10))]
    df = spark.createDataFrame(rows, "doc_id long, s long, label int")
    pts = roc_points_df(df, "label", "s", n_buckets=4, lo=0, hi=9).collect()
    assert len(pts) == 4
    for r in pts:
        t = r["threshold_micro"]
        assert df.filter(f"s >= {t} AND label = 1").count() == r["tp"], t
        assert df.filter(f"s >= {t} AND label = 0").count() == r["fp"], t


def test_select_by_roc_composes(spark):
    """select_by_roc_df survivors == exactly the tp+fp of the picked
    curve point (the most permissive threshold within the fpr budget),
    every survivor scores >= the deployed threshold, and the deployed
    threshold is stamped on every row."""
    import random

    from imops_spark.functions.curate import roc_points_df, select_by_roc_df

    rng = random.Random(11)
    rows = [
        (i, rng.randint(-2_000_000, 2_000_000), rng.randint(0, 1))
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "doc_id long, s long, label int")
    cap = 350_000
    got = select_by_roc_df(df, "label", "s", n_buckets=16, max_fpr_micro=cap)
    out = got.collect()

    curve = {
        r["threshold_micro"]: r
        for r in roc_points_df(df, "label", "s", n_buckets=16).collect()
    }
    eligible = [t for t, r in curve.items() if (r["fpr_micro"] or 0) <= cap
                and r["fpr_micro"] is not None]
    thr = min(eligible)
    assert all(r["threshold_micro"] == thr for r in out)
    assert all(r["s"] >= thr for r in out)
    assert len(out) == curve[thr]["tp"] + curve[thr]["fp"]


def test_span_kernels_match_agg_on_edge_whitespace(spark):
    """``normalized_text`` trims spaces only, so a leading or trailing
    tab/newline leaves one edge space in ``nt``; the JVM forms drop the
    empty token it splits into.  DSIR's and the classifier's shared Arrow
    kernel must too: same n_feats and sums, and a doc of only such
    whitespace is absent."""
    from imops_spark.functions.curate import (
        classifier_score_df,
        classifier_score_local_df,
    )

    rows = [
        (1, "abc def\n"),
        (2, "\tghi jkl"),
        (3, "plain text here"),
        (4, "\n"),
        (5, "x\t\ty\r\n"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    tgt = spark.createDataFrame(rows[2:3], "doc_id long, text string")
    agg, arw = (
        sorted(map(tuple, dsir_logweights_df(docs, tgt, 32, strategy=s).collect()))
        for s in ("agg", "arrow")
    )
    assert arw == agg and [r[:2] for r in arw] == [(1, 3), (2, 3), (3, 5), (5, 3)]
    w = spark.range(32).selectExpr(
        "id AS bucket", "CAST(id AS DOUBLE) / 32 - 0.5 AS weight"
    )
    g = sorted(map(tuple, classifier_score_df(docs, w, num_buckets=32).collect()))
    a = sorted(map(tuple, classifier_score_local_df(docs, w, num_buckets=32).collect()))
    assert a == g and len(a) == 4


def test_select_by_roc_guards(spark):
    import pytest

    from imops_spark.functions.curate import select_by_roc_df

    # every bucket's fpr exceeds a zero budget once any negative is
    # admitted; with all scores equal the single bucket has fpr 10^6
    allneg = spark.createDataFrame(
        [(i, 5, 0) for i in range(10)], "doc_id long, s long, label int"
    )
    with pytest.raises(ValueError, match="no curve point"):
        select_by_roc_df(allneg, "label", "s", n_buckets=4, max_fpr_micro=0)

    # no negative labels: fpr unmeasurable everywhere -> raise, never a
    # silently unfiltered corpus
    allpos = spark.createDataFrame(
        [(i, i, 1) for i in range(10)], "doc_id long, s long, label int"
    )
    with pytest.raises(ValueError, match="no curve point"):
        select_by_roc_df(allpos, "label", "s", n_buckets=4)


def test_arrow_matches_agg_on_edge_shapes(spark, monkeypatch):
    """strategy='arrow' == strategy='agg' tuple-for-tuple on hostile
    shapes: single-token docs (no bigrams), a space-free CJK doc whose one
    feature is the whole text (the hashlib >1-block fallback), very long
    words, unicode spaces inside tokens, and an oversized doc forcing the
    sub-chunk addition fold (chunk size monkeypatched tiny)."""
    from imops_spark.functions import md5v

    monkeypatch.setattr(md5v, "_MINHASH_CHUNK_SHINGLES", 16)
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "single"),
        (3, None),
        (4, ""),
        (5, "日本語のテキストに空白はありません"),  # one giant token -> fallback
        (6, "a" * 80 + " " + "b" * 80),  # >52-byte unigrams AND bigram
        (7, " nbsp　inside token here"),
        (8, " ".join(f"tok{i % 11}" for i in range(120))),  # >> 16 features
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    tgt = spark.createDataFrame(rows[:2], "doc_id long, text string")
    agg = sorted(
        map(
            tuple,
            dsir_logweights_df(docs, tgt, num_buckets=64, strategy="agg").collect(),
        )
    )
    arw = sorted(
        map(
            tuple,
            dsir_logweights_df(docs, tgt, num_buckets=64, strategy="arrow").collect(),
        )
    )
    assert arw == agg
    assert len(arw) == 6  # NULL and whitespace-only docs absent
