"""Differential tests for the bigram-LM cross-entropy scorer
(``text.ngram_lm_df``): the full model — add-k bigram probabilities,
context counts, vocab size, micro-nat snapping — re-derived in plain
Python on the same rows, plus the off-corpus backoff path and guards."""

import math
import re
from collections import Counter

import pytest

from imops_spark.functions.text import ngram_lm_df

ROWS = [
    (1, "the cat sat on the mat"),
    (2, "the cat ran"),
    (3, "a dog and a dog and a dog"),
    (4, None),
    (5, ""),
    (6, "   "),
    (7, "single"),
    (8, "The CAT  sat"),  # normalization folds onto doc 1's prefix
]


def _toks(text):
    nt = re.sub(r"\s+", " ", text.strip().lower())
    return [t for t in nt.split(" ") if t != ""]


def _reference(score_rows, train_rows, add_k=1.0):
    def bigrams(rows):
        out = []
        for doc_id, text in rows:
            if text is None:
                continue
            toks = _toks(text)
            if not toks:
                continue
            s = ["<s>"] + toks
            out.append((doc_id, [(s[i], s[i + 1]) for i in range(len(toks))]))
        return out

    c2 = Counter()
    for _, bgs in bigrams(train_rows):
        c2.update(bgs)
    c1 = Counter()
    for (p, _), n in c2.items():
        c1[p] += n
    v = len({c for (_, c) in c2})
    exp = {}
    for doc_id, bgs in bigrams(score_rows):
        lpm = 0
        for p, c in bgs:
            lp = math.log((c2[(p, c)] + add_k) / (c1[p] + add_k * v))
            lpm += round(lp * 1e6)
        n = len(bgs)
        # exact integer round-half-up of |lpm|/n micro-nats (tie-proof —
        # mirrors the operator; Python's round() is half-EVEN and disagrees
        # on the grid hits this corpus deliberately contains)
        xent = ((-lpm) * 2 + n) // (2 * n) / 1e6
        exp[doc_id] = (n, lpm, xent, round(math.exp(xent), 4))
    return exp


def _collect(df):
    return {
        r["doc_id"]: (r["n_bigrams"], r["lp_micro_sum"], r["xent"], r["ppl"])
        for r in df.collect()
    }


def test_self_trained_matches_reference(spark):
    docs = spark.createDataFrame(ROWS, "doc_id long, text string")
    got = _collect(ngram_lm_df(docs))
    exp = _reference(ROWS, ROWS)
    assert got == exp
    # null/empty/whitespace docs produce no bigrams and are absent
    assert set(got) == {1, 2, 3, 7, 8}
    # a single-token doc is scored on its one (<s>, tok) bigram
    assert got[7][0] == 1


def test_off_corpus_train_backoff(spark):
    """Scoring a corpus against a DIFFERENT training corpus exercises the
    unseen-event path: zero c2/c1 back off to a / (a * V)."""
    train_rows = ROWS
    score_rows = [(100, "the cat sat"), (101, "entirely unseen tokens here")]
    train = spark.createDataFrame(train_rows, "doc_id long, text string")
    score = spark.createDataFrame(score_rows, "doc_id long, text string")
    got = _collect(ngram_lm_df(score, train_docs=train))
    exp = _reference(score_rows, train_rows)
    assert got == exp
    # the unseen doc must score strictly worse than the in-distribution one
    assert got[101][2] > got[100][2]


def test_add_k_validation(spark):
    docs = spark.createDataFrame(ROWS, "doc_id long, text string")
    with pytest.raises(ValueError, match="add_k"):
        ngram_lm_df(docs, add_k=0)


def test_no_python_in_plan(spark):
    """auto on a non-file frame (no footer estimate) keeps the pure-JVM
    agg form — no Python evaluation node of any kind."""
    docs = spark.createDataFrame(ROWS, "doc_id long, text string")
    plan = ngram_lm_df(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "MapInPandas" not in plan


def _bench_rows():
    """The seeded 1,000-doc corpus of the ``curation`` benchmark: a 30-word
    vocabulary and ~5% near-duplicate rows, so every context and
    predicted token repeats many times."""
    import numpy as np

    from perfbench.gen import documents_table

    t = documents_table(np.random.default_rng([1, 2]), 1000)
    return list(zip(t["doc_id"].to_pylist(), t["text"].to_pylist()))


def test_arrow_strategy_matches_agg_and_reference(spark):
    """strategy='arrow' (integer-lookup scoring kernel) must equal both the
    agg form and the Python reference tuple-for-tuple — self-trained and
    off-corpus (the lpm1/lpm0 backoff rows) — on the toy rows and on the
    benchmark corpus, whose repeats exercise the model's c1 and V."""
    for rows in (ROWS, _bench_rows()):
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = _collect(ngram_lm_df(docs, strategy="arrow"))
        assert got == _reference(rows, rows)
        assert got == _collect(ngram_lm_df(docs, strategy="agg"))

        score_rows = [(100, "the cat sat"), (101, "entirely unseen tokens here")]
        score = spark.createDataFrame(score_rows, "doc_id long, text string")
        got2 = _collect(ngram_lm_df(score, train_docs=docs, strategy="arrow"))
        assert got2 == _reference(score_rows, rows)


def test_arrow_model_is_one_build_action(spark, tmp_path):
    """The arrow form collects its model with ONE query at plan build:
    one toPandas whose shuffle stages (the c2 count, the c1 and
    first-``cur`` windows, the global V window) plus the result stage
    make five Spark jobs.  Two model actions would re-run the c2 stages."""
    src = str(tmp_path / "docs")
    spark.createDataFrame(ROWS, "doc_id long, text string").write.parquet(src)
    docs = spark.read.parquet(src)
    sc = spark.sparkContext
    sc.setJobGroup("ngram_lm_build", "ngram_lm_df arrow build")
    try:
        df = ngram_lm_df(docs, strategy="arrow")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup("ngram_lm_build")) == 5
    assert _collect(df) == _reference(ROWS, ROWS)


def test_arrow_matches_agg_on_empty_train_side(spark):
    """A train side with no tokens is an empty model (V = 0).  The arrow
    form must not crash at plan build; it returns what the agg form
    returns: no rows when no scored doc has a token, and (with ANSI
    division off) the same NULL-scored rows when some do."""
    train = spark.createDataFrame(
        [(1, "   "), (2, None), (3, "")], "doc_id long, text string"
    )
    blank = spark.createDataFrame([(7, " "), (8, None)], "doc_id long, text string")
    for scored in (blank, spark.createDataFrame(ROWS, "doc_id long, text string")):
        conf = spark.conf.get("spark.sql.ansi.enabled")
        spark.conf.set("spark.sql.ansi.enabled", "false")
        try:
            arw = ngram_lm_df(scored, train_docs=train, strategy="arrow")
            agg = ngram_lm_df(scored, train_docs=train, strategy="agg")
            got = sorted(map(tuple, arw.collect()))
            assert got == sorted(map(tuple, agg.collect()))
        finally:
            spark.conf.set("spark.sql.ansi.enabled", conf)
    assert got and all(r[2] is None for r in got)


def test_strategy_dispatch(spark, tmp_path):
    """auto -> arrow for a small file-backed train side (footer estimate
    under the collect budget), agg for non-file frames; bad strategy
    raises."""
    import pytest as _pytest

    src = str(tmp_path / "docs")
    spark.createDataFrame(ROWS, "doc_id long, text string").write.parquet(src)
    fdocs = spark.read.parquet(src)
    plan = ngram_lm_df(fdocs)._jdf.queryExecution().toString()
    assert "MapInPandas" in plan
    got = _collect(ngram_lm_df(fdocs))
    exp = _reference(ROWS, ROWS)
    # parquet round-trip preserves rows; compare as dicts
    assert got == exp
    with _pytest.raises(ValueError, match="strategy"):
        ngram_lm_df(fdocs, strategy="bogus")


def test_repetitive_doc_scores_lower_xent(spark):
    """Sanity: under a self-trained model, a doc whose bigrams repeat many
    times (doc 3) must have lower cross-entropy than the one-off doc 2."""
    docs = spark.createDataFrame(ROWS, "doc_id long, text string")
    got = _collect(ngram_lm_df(docs))
    assert got[3][2] < got[2][2]
