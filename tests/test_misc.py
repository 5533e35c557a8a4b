"""Coverage for utils parity surface + extra dimensional cases."""

import numpy as np
import pytest
from numpy.testing import assert_array_equal

from imops_spark.utils import (
    build_slices,
    imops_num_threads,
    normalize_num_threads,
    set_num_threads,
)


def test_build_slices():
    assert build_slices([1, 2]) == (slice(1), slice(2))
    assert build_slices([1, 2], [5, 6]) == (slice(1, 5), slice(2, 6))
    assert build_slices([1], [5], [2]) == (slice(1, 5, 2),)


def test_num_threads_controls():
    base = normalize_num_threads(-1)
    assert base >= 1
    set_num_threads(2)
    try:
        assert normalize_num_threads(-1) <= 2
        assert normalize_num_threads(8) <= 2
    finally:
        set_num_threads(10**6)
    with imops_num_threads(1):
        assert normalize_num_threads(-1) == 1
    with pytest.raises(ValueError):
        normalize_num_threads(0)


def test_label_3d(spark):
    from imops_spark import label
    from tests.test_measure import np_label

    a = np.random.binomial(1, 0.2, (6, 6, 6)).astype(bool)
    a[0, 0, 0] = True
    got, n = label(a, return_num=True, connectivity=1)
    exp, n_exp = np_label(a.astype(int), connectivity=1)
    assert n == n_exp
    assert_array_equal(got.astype(np.int64), exp)


def test_sliding_avg_stream(spark):
    from imops_spark.streaming.events import (
        run_stream_to_memory,
        sliding_avg_stream,
        stream_events,
    )

    stream = stream_events(spark, "/root/testdata/sf0.001")
    out = run_stream_to_memory(
        sliding_avg_stream(stream), "sliding_avg", spark, mode="complete"
    )
    rows = out.collect()
    assert len(rows) > 0
    # every (win_start, user) window mean is within the raw value range
    assert all(0 <= r["avg_value"] <= 1000 for r in rows)


def test_tfidf_matches_hand_computation(spark):
    import math

    from imops_spark.functions.text import tfidf_df

    docs = spark.createDataFrame(
        [(0, "a b a"), (1, "a c"), (2, "b  b c ")],
        "doc_id long, text string",
    )
    got = {(r["doc_id"], r["token"]): r for r in tfidf_df(docs).collect()}
    # df: a->2 docs, b->2, c->2; n_docs=3
    exp_tf = {(0, "a"): 2, (0, "b"): 1, (1, "a"): 1, (1, "c"): 1, (2, "b"): 2, (2, "c"): 1}
    assert set(got) == set(exp_tf)
    for k, tf in exp_tf.items():
        assert got[k]["tf"] == tf and got[k]["df"] == 2
        assert abs(got[k]["tfidf"] - round(tf * math.log(3 / 2), 6)) < 1e-9


def test_winnow_guarantee_and_determinism(spark):
    """Winnowing guarantee: any shared substring of length >= k + window - 1
    (= 11 here) yields at least one shared (hash) fingerprint; selection is
    deterministic and short docs produce nothing."""
    from imops_spark.functions.text import winnow_fingerprints_df

    shared = "the quick brown fox jumps"
    docs = spark.createDataFrame(
        [
            (0, f"aaa {shared} bbb ccc ddd"),
            (1, f"xxxxx yyy {shared} zzz"),
            (2, "short"),  # < k chars -> no fingerprints
        ],
        "doc_id long, text string",
    )
    rows = winnow_fingerprints_df(docs, k=8, window=4).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert 2 not in by_doc
    assert by_doc[0] & by_doc[1], "no shared fingerprint for a shared 25-char substring"
    again = winnow_fingerprints_df(docs, k=8, window=4).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_asof_join_inclusive_ties_and_groups(spark):
    from imops_spark.functions.events import asof_join_df

    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 20, 200.0), (2, 15, 150.0)],
        "user_id long, ts_sec long, value double",
    )
    left = spark.createDataFrame(
        [(1, 9, 0), (1, 10, 1), (1, 19, 2), (1, 25, 3), (2, 14, 4), (2, 15, 5)],
        "user_id long, ts_sec long, event_id long",
    )
    got = {
        r["event_id"]: r["asof_value"]
        for r in asof_join_df(
            left, right, on="ts_sec", by=["user_id"], value_cols=["value"]
        ).collect()
    }
    # event 0: no prior knot -> dropped; 1: tie is inclusive -> 100;
    # 2: last knot <=19 is 100; 3: 200; 4: dropped; 5: tie -> 150
    assert got == {1: 100.0, 2: 100.0, 3: 200.0, 5: 150.0}


def test_asof_join_forward_direction(spark):
    from imops_spark.functions.events import asof_join_df

    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 20, 200.0)], "user_id long, ts_sec long, value double"
    )
    left = spark.createDataFrame(
        [(1, 9, 0), (1, 10, 1), (1, 15, 2), (1, 21, 3)],
        "user_id long, ts_sec long, event_id long",
    )
    got = {
        r["event_id"]: r["asof_value"]
        for r in asof_join_df(
            left, right, on="ts_sec", by=["user_id"], value_cols=["value"],
            direction="forward",
        ).collect()
    }
    # 0 -> next knot at 10; 1 -> tie inclusive 10; 2 -> 20; 3 -> none, dropped
    assert got == {0: 100.0, 1: 100.0, 2: 200.0}


def test_asof_join_null_values_from_matched_row(spark):
    """A matched right row whose value is NULL must yield NULL (and keep the
    left row) — not silently carry an older row's value or drop the match.
    With multiple value_cols, all values must come from the SAME matched row
    (no per-column tearing)."""
    from imops_spark.functions.events import asof_join_df

    right = spark.createDataFrame(
        [(1, 10, 100.0, "a"), (1, 20, None, "b"), (1, 30, 300.0, None)],
        "user_id long, ts_sec long, value double, tag string",
    )
    left = spark.createDataFrame(
        [(1, 5, 0), (1, 15, 1), (1, 25, 2), (1, 35, 3)],
        "user_id long, ts_sec long, event_id long",
    )
    rows = {
        r["event_id"]: (r["asof_value"], r["asof_tag"])
        for r in asof_join_df(
            left, right, on="ts_sec", by=["user_id"], value_cols=["value", "tag"]
        ).collect()
    }
    # event 0: no prior row -> dropped (inner asof);
    # 1: matched row (10, 100.0, 'a'); 2: matched row (20, NULL, 'b') — value
    # stays NULL, tag comes from the SAME row; 3: (30, 300.0, NULL).
    assert rows == {1: (100.0, "a"), 2: (None, "b"), 3: (300.0, None)}


def test_asof_join_empty_value_cols_raises(spark):
    from imops_spark.functions.events import asof_join_df

    right = spark.createDataFrame([(1, 10)], "user_id long, ts_sec long")
    left = spark.createDataFrame([(1, 15, 0)], "user_id long, ts_sec long, event_id long")
    with pytest.raises(ValueError, match="no value columns"):
        asof_join_df(left, right, on="ts_sec", by=["user_id"])


def test_drop_near_duplicates_keeps_canonical(spark):
    from imops_spark.functions.dedup import drop_near_duplicates_df

    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = spark.createDataFrame(
        [
            (0, base),
            (1, base + " extra"),          # near-dup of 0 -> dropped (0 kept)
            (5, base.replace("fox", "cat")),  # near-dup of 0 too -> dropped
            (9, "completely different text about spark engines and parquet files"),
        ],
        "doc_id long, text string",
    )
    kept = sorted(r["doc_id"] for r in drop_near_duplicates_df(docs).collect())
    assert 9 in kept and 0 in kept
    assert 1 not in kept or 5 not in kept  # cluster collapsed to its canonical
    assert kept[0] == 0


def test_bpe_pretokenize_exact_segmentation(spark):
    """bpe_pretokenize: the GPT-2-style split must produce the exact expected
    segments (contractions split off, punctuation and digit runs separate,
    space prefixes retained) and the count frame must agree."""
    from imops_spark.functions.text import bpe_pretokenize, bpe_token_count_df

    texts = {
        1: "Hello, world! It's 2024-01-01.",
        2: "a'b's'll don't 3.14 x+y=z",
        3: None,
    }
    df = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id long, text string"
    )
    toks = {
        r["doc_id"]: r["bpe_tokens"]
        for r in bpe_pretokenize(df.where("text is not null")).collect()
    }
    assert toks[1] == [
        "Hello", ",", " world", "!", " It", "'s", " 2024", "-", "01", "-", "01", ".",
    ]
    assert toks[2] == [
        "a", "'", "b", "'s", "'ll", " don", "'t", " 3", ".", "14", " x", "+", "y", "=", "z",
    ]
    counts = {r["doc_id"]: r for r in bpe_token_count_df(df).collect()}
    assert set(counts) == {1, 2}  # NULL text filtered
    assert counts[1]["n_bpe"] == 12 and counts[1]["n_words"] == 4
    assert counts[2]["n_bpe"] == 15
    assert counts[2]["n_unique_bpe"] == len(set(toks[2]))


def test_sketch_distinct_partials_merge_within_error(spark):
    """HLL partial-then-merge must estimate the global distinct count within
    the sketch's error envelope, and merging per-shard partials must equal
    (exactly — HLL union is deterministic) sketching the whole frame."""
    from pyspark.sql import functions as F

    from imops_spark.functions.sketch import (
        approx_distinct_df,
        distinct_sketch_by,
        merge_distinct_sketches,
    )

    n, dup = 50_000, 5
    df = spark.range(n).select(
        (F.col("id") % 16).alias("shard"), (F.col("id") % (n // dup)).alias("v")
    )
    exact = n // dup

    partials = distinct_sketch_by(df, ["shard"], "v")
    (row,) = merge_distinct_sketches(partials).collect()
    assert abs(row["approx_distinct"] - exact) / exact < 0.05
    assert row["n_rows"] == n

    # merging shard partials == one global sketch (mergeability, not luck)
    (whole,) = merge_distinct_sketches(
        distinct_sketch_by(df.withColumn("g", F.lit(0)), ["g"], "v")
    ).collect()
    assert row["approx_distinct"] == whole["approx_distinct"]

    (ad,) = approx_distinct_df(df.withColumn("g", F.lit(0)), ["g"], "v", rsd=0.02).collect()
    assert abs(ad["approx_distinct"] - exact) / exact < 0.06


def test_theta_set_cardinalities(spark):
    """Theta set algebra: |A|, |B|, |A∪B|, |A∩B|, |A\\B| estimates within 5%
    of the constructed overlap."""
    from pyspark.sql import functions as F

    from imops_spark.functions.sketch import theta_set_cardinalities

    a = spark.range(0, 30_000).select(F.col("id").alias("v"))         # [0, 30k)
    b = spark.range(20_000, 60_000).select(F.col("id").alias("v"))    # [20k, 60k)
    (r,) = theta_set_cardinalities(a, b, "v").collect()
    for got, exp in [
        (r["n_a"], 30_000),
        (r["n_b"], 40_000),
        (r["n_union"], 60_000),
        (r["n_intersection"], 10_000),
        (r["n_only_a"], 20_000),
    ]:
        assert abs(got - exp) / exp < 0.05, (got, exp)


def test_kll_quantile_partials_merge_within_rank_error(spark):
    """KLL quantiles: per-shard partials merged must put each estimated
    quantile within 2% RANK error of the true order statistic (the KLL
    guarantee is on rank, not value)."""
    from pyspark.sql import functions as F

    from imops_spark.functions.sketch import merge_quantile_sketches, quantile_sketch_by

    n = 100_000
    df = spark.range(n).select(
        (F.col("id") % 8).alias("shard"),
        (F.pmod(F.xxhash64("id"), F.lit(1_000_000))).cast("double").alias("v"),
    )
    vals = [r["v"] for r in df.select("v").collect()]
    vals.sort()
    partials = quantile_sketch_by(df, ["shard"], "v")
    (row,) = merge_quantile_sketches(partials, [0.1, 0.5, 0.99]).collect()
    import bisect

    for p in (0.1, 0.5, 0.99):
        est = row[f"q_{str(p).replace('.', '_')}"]
        rank = bisect.bisect_left(vals, est) / n
        assert abs(rank - p) < 0.02, (p, est, rank)


def test_cms_freq_partials_merge_and_envelope(spark):
    """Count-Min partial-then-merge: merged shard partials must estimate
    like a single global sketch, estimates never undercount, and the
    overcount stays within eps * total at the sketch's confidence."""
    from pyspark.sql import functions as F

    from imops_spark.functions.sketch import cms_estimate, cms_merge, freq_sketch_by

    n = 50_000
    # zipf-ish: value v appears ~ n/(v+1) times via modular skew
    df = spark.range(n).select(
        (F.col("id") % 8).alias("shard"),
        F.expr("CAST(id % (1 + id % 100) AS BIGINT)").alias("v"),
    )
    eps = 1e-3
    partials = freq_sketch_by(df, ["shard"], "v", eps=eps)
    blobs = [r["freq_sketch"] for r in partials.collect()]
    merged = cms_merge(spark, blobs)

    (whole,) = freq_sketch_by(df, [], "v", eps=eps).collect()
    truth = {r["v"]: r["c"] for r in df.groupBy("v").agg(F.count("*").alias("c")).collect()}
    items = sorted(truth)[:50]
    est_merged = cms_estimate(spark, merged, items)
    est_whole = cms_estimate(spark, bytes(whole["freq_sketch"]), items)
    # merge is exact table addition: merged partials == global sketch
    assert est_merged == est_whole
    for it, est in zip(items, est_merged):
        assert est >= truth[it]  # one-sided error
        assert est <= truth[it] + eps * n * 3  # loose envelope

    # incompatible params must refuse to merge
    other = freq_sketch_by(df, [], "v", eps=eps, seed=7).collect()[0]["freq_sketch"]
    import pytest as _pytest

    with _pytest.raises(Exception):
        cms_merge(spark, [blobs[0], bytes(other)])


def test_cms_string_items(spark):
    from pyspark.sql import functions as F

    from imops_spark.functions.sketch import cms_estimate, freq_sketch_by

    df = spark.range(1000).select(F.expr("CAST(id % 10 AS STRING)").alias("s"))
    (row,) = freq_sketch_by(df, [], "s", eps=1e-3).collect()
    est = cms_estimate(spark, bytes(row["freq_sketch"]), ["0", "9", "missing"])
    assert est[0] == 100 and est[1] == 100
    assert est[2] <= 1e-3 * 1000 * 3  # absent item ~0 (within envelope)


def test_top_items_exact_when_saturated(spark):
    """approx_top_k with k >= n_distinct is exact: nothing is evicted or
    cut, so after the (count DESC, item) re-sort the output equals a plain
    GROUP BY.  (At k < n_distinct the rank-k TIE-break is the aggregate's
    internal order — the docstring's documented caveat — so the
    deterministic claim is only made for the saturated regime.)"""
    from pyspark.sql import functions as F

    from imops_spark.functions.sketch import top_items_df

    df = spark.range(10_000).select(
        (F.col("id") % 4).alias("g"), F.expr("CAST(id % (1 + id % 37) AS BIGINT)").alias("v")
    )
    got = [tuple(r) for r in top_items_df(df, "v", k=50, by=["g"]).collect()]
    want = [
        tuple(r)
        for r in df.groupBy("g", "v")
        .agg(F.count("*").alias("est_count"))
        .select("g", F.col("v").alias("item"), "est_count")
        .orderBy("g", F.col("est_count").desc(), "item")
        .collect()
    ]
    assert got == want


def test_vocab_df_counts_and_coverage(spark):
    """vocab_df's counts must equal a hand aggregation, cum_coverage must
    be monotone and end at the kept mass, and the top-k cut must follow
    the (count DESC, token) order."""
    from pyspark.sql import functions as F

    from imops_spark.functions.text import vocab_df

    rows = [(1, "a b b c c c"), (2, "c d d a"), (3, "e")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["token"]: r for r in vocab_df(docs, top_k=3).collect()}
    # counts: c=4 (docs 1,2), d=2 (doc 2), b=2 (doc 1), a=2 (docs 1,2)
    # order: c(4), then ties at 2 break alphabetically: a, b -> top3 = c,a,b
    assert set(got) == {"c", "a", "b"}
    assert got["c"]["n_occurrences"] == 4 and got["c"]["n_docs"] == 2
    assert got["a"]["n_occurrences"] == 2 and got["a"]["n_docs"] == 2
    assert [got[t]["rank"] for t in ("c", "a", "b")] == [1, 2, 3]
    total = 11
    assert got["c"]["coverage"] == round(4 / total, 6)
    assert got["b"]["cum_coverage"] == round(8 / total, 6)
    # monotone
    ranks = sorted(got.values(), key=lambda r: r["rank"])
    assert all(
        ranks[i]["cum_coverage"] <= ranks[i + 1]["cum_coverage"]
        for i in range(len(ranks) - 1)
    )


def test_temperature_mixture_flattens_head(spark):
    """alpha<1 must move realized shares from the raw distribution toward
    uniform, the fractions must realize the temperature mix (rate*n ~
    target share), and the sampler must stay deterministic."""
    from pyspark.sql import functions as F

    from imops_spark.functions.curate import (
        temperature_fractions_df,
        temperature_mixture_sample_df,
    )

    # skewed groups: 8000 / 1500 / 500
    df = spark.range(10_000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 8000, "big")
        .when(F.col("id") < 9500, "mid")
        .otherwise("small")
        .alias("g"),
    )
    fr = {r["g"]: r for r in temperature_fractions_df(df, "g", alpha=0.5, target_rate=0.5).collect()}
    assert fr["big"]["p_temp"] < fr["big"]["p_raw"]  # head flattened
    assert fr["small"]["p_temp"] > fr["small"]["p_raw"]  # tail boosted
    assert abs(sum(r["p_temp"] for r in fr.values()) - 1.0) < 1e-5
    # kept counts realize the temperature shares (hash sampler ~ binomial)
    kept = (
        temperature_mixture_sample_df(df, "g", "k", alpha=0.5, target_rate=0.5)
        .groupBy("g")
        .count()
        .collect()
    )
    kept = {r["g"]: r["count"] for r in kept}
    total_kept = sum(kept.values())
    for g in fr:
        expect = fr[g]["p_temp"]
        assert abs(kept[g] / total_kept - expect) < 0.05
    # determinism: second run identical
    again = (
        temperature_mixture_sample_df(df, "g", "k", alpha=0.5, target_rate=0.5)
        .groupBy("g")
        .count()
        .collect()
    )
    assert {r["g"]: r["count"] for r in again} == kept

    import pytest as _pytest

    with _pytest.raises(ValueError):
        temperature_fractions_df(df, "g", alpha=1.5)


def test_corpus_profile_single_scan_one_exchange(spark):
    """The fused data card must stay one scan + one aggregation exchange —
    the reason it exists instead of joining the standalone metric ops —
    and its totals must be consistent with the unfused operators."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from imops_spark.functions.curate import corpus_profile_df
    from imops_spark.functions.text import token_count_df

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    prof = corpus_profile_df(docs, min_tokens=60)
    plan = prof._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    # AQE wraps the plan; count only shuffle exchanges
    assert plan.count("Exchange hashpartitioning") <= 1

    rows = prof.collect()
    total_docs = sum(r["n_docs"] for r in rows)
    total_tokens = sum(r["total_tokens"] for r in rows)
    assert total_docs == docs.count()
    exact_tokens = token_count_df(docs).agg(F.sum("n_tokens")).collect()[0][0]
    assert total_tokens == exact_tokens

    with _pytest.raises(ValueError):
        corpus_profile_df(docs, n_langs=9)


def test_curate_documents_pipeline(spark):
    """curate_documents: quality rejects garbage, exact dup collapses,
    near-dup cluster keeps its canonical, survivors carry token budgets —
    and the result equals composing the gated stages by hand."""
    from pyspark.sql import functions as F

    from imops_spark.functions.curate import curate_documents, quality_filter_df
    from imops_spark.functions.dedup import drop_exact_duplicates, drop_near_duplicates_df
    from imops_spark.functions.text import bpe_token_count_df

    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = spark.createDataFrame(
        [
            (0, base),
            (1, base),                          # exact dup of 0 -> dropped
            (2, base + " extra"),               # near dup of 0 -> dropped
            (3, "completely different text about spark engines and parquet files"),
            (4, "aa"),                          # too short -> quality-dropped
            (5, "x " * 200),                    # type-token ratio ~0 -> dropped
            (6, None),                          # NULL text -> dropped
        ],
        "doc_id long, text string",
    )
    out = curate_documents(docs).collect()
    kept = {r["doc_id"]: r for r in out}
    assert set(kept) == {0, 3}
    assert kept[0]["n_words"] == len(base.split())
    assert kept[0]["n_bpe"] >= kept[0]["n_words"]  # punctuation-free text: >=
    assert all(r["n_unique_bpe"] <= r["n_bpe"] for r in out)

    manual = drop_near_duplicates_df(
        drop_exact_duplicates(quality_filter_df(docs)),
        num_hashes=8, bands=4, rows_per_band=2, threshold=0.6,
    )
    manual_ids = {r["doc_id"] for r in manual.collect()}
    assert manual_ids == set(kept)


def test_hash_sampling_and_splits(spark):
    """hash_sample_df / split_by_hash_df / cap_per_group_df: deterministic
    across calls, disjoint+exhaustive splits, subset-stability (the property
    RNG sampling lacks: a row's membership never depends on the rest of the
    frame), and quota caps with hash-order selection."""
    import pytest
    from pyspark.sql import functions as F

    from imops_spark.functions.curate import (
        cap_per_group_df,
        hash_sample_df,
        split_by_hash_df,
    )

    df = spark.range(2000).select(F.col("id").alias("k"), (F.col("id") % 7).alias("g"))

    s1 = {r["k"] for r in hash_sample_df(df, "k", 0.3, salt=1).collect()}
    s2 = {r["k"] for r in hash_sample_df(df, "k", 0.3, salt=1).collect()}
    assert s1 == s2
    assert 0.2 < len(s1) / 2000 < 0.4
    # different salt -> a genuinely different draw
    s3 = {r["k"] for r in hash_sample_df(df, "k", 0.3, salt=2).collect()}
    assert s3 != s1
    # subset stability: sampling a filtered frame = filtering the sample
    half = df.where(F.col("k") < 1000)
    s_half = {r["k"] for r in hash_sample_df(half, "k", 0.3, salt=1).collect()}
    assert s_half == {k for k in s1 if k < 1000}
    # fraction edge cases + validation
    assert hash_sample_df(df, "k", 0.0).count() == 0
    assert hash_sample_df(df, "k", 1.0).count() == 2000
    with pytest.raises(ValueError, match="fraction"):
        hash_sample_df(df, "k", 1.5)

    split = split_by_hash_df(df, "k", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in split.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 2000  # exhaustive
    assert set(counts) == {"train", "val", "test"}  # all splits hit
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]
    # disjoint by construction (one row one label); group-keyed split keeps
    # whole groups together
    gsplit = split_by_hash_df(df, "g", {"a": 0.5, "b": 0.5})
    assert gsplit.groupBy("g").agg(F.countDistinct("split").alias("n")).filter("n > 1").count() == 0
    with pytest.raises(ValueError, match="sum to 1"):
        split_by_hash_df(df, "k", {"a": 0.5, "b": 0.3})

    capped = cap_per_group_df(df, "g", 5, "k")
    sizes = {r["g"]: r["n"] for r in capped.groupBy("g").agg(F.count("*").alias("n")).collect()}
    assert all(n == 5 for n in sizes.values())
    # deterministic selection: same rows every run
    again = cap_per_group_df(df, "g", 5, "k")
    assert {tuple(r) for r in capped.collect()} == {tuple(r) for r in again.collect()}
    # n larger than any group: everything survives
    assert cap_per_group_df(df, "g", 10_000, "k").count() == 2000
    with pytest.raises(ValueError, match="n must be"):
        cap_per_group_df(df, "g", 0, "k")


def test_asof_join_nearest_direction(spark):
    """direction='nearest': each left row takes whichever of the backward /
    forward candidates is closer; exact ties resolve backward (the pandas
    merge_asof convention); one-sided rows fall back to the available side;
    rows with no candidate at all are dropped."""
    from imops_spark.functions.events import asof_join_df

    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 20, 200.0), (2, 50, 500.0)],
        "user_id long, ts_sec long, value double",
    )
    left = spark.createDataFrame(
        [
            (1, 12, 0),   # 2 back vs 8 fwd -> 100
            (1, 18, 1),   # 8 back vs 2 fwd -> 200
            (1, 15, 2),   # exact tie -> backward -> 100
            (1, 5, 3),    # before all knots -> forward 100
            (1, 99, 4),   # after all knots -> backward 200
            (2, 10, 5),   # only forward exists -> 500
            (3, 10, 6),   # no knots in group -> dropped
        ],
        "user_id long, ts_sec long, event_id long",
    )
    got = {
        r["event_id"]: r["asof_value"]
        for r in asof_join_df(
            left, right, on="ts_sec", by=["user_id"], value_cols=["value"],
            direction="nearest",
        ).collect()
    }
    assert got == {0: 100.0, 1: 200.0, 2: 100.0, 3: 100.0, 4: 200.0, 5: 500.0}

    with pytest.raises(ValueError, match="direction"):
        asof_join_df(left, right, on="ts_sec", direction="sideways")


def test_mixture_sample_and_packing(spark):
    """mixture_sample_df: per-group fractions honored independently, unnamed
    groups dropped, membership consistent with hash_sample_df (same salt =
    same draw).  pack_documents_df: every bin's weight stays <= budget
    unless a single document exceeds it alone; assignment is deterministic
    and exhaustive."""
    import pytest
    from pyspark.sql import functions as F

    from imops_spark.functions.curate import (
        hash_sample_df,
        mixture_sample_df,
        pack_documents_df,
    )

    df = spark.range(3000).select(
        F.col("id").alias("k"),
        F.concat(F.lit("g"), (F.col("id") % 3).cast("string")).alias("g"),
        (F.col("id") % 700 + 1).alias("wt"),
    )
    mix = mixture_sample_df(df, "g", {"g0": 1.0, "g1": 0.4}, key_col="k", salt=2)
    counts = {r["g"]: r["n"] for r in mix.groupBy("g").agg(F.count("*").alias("n")).collect()}
    assert counts.get("g0") == 1000          # fraction 1.0 keeps everything
    assert "g2" not in counts                # unnamed group dropped
    assert 250 < counts.get("g1", 0) < 550   # ~40% of 1000
    # same salt => the g1 subset IS the flat 40% sample restricted to g1
    flat = {r["k"] for r in hash_sample_df(df, "k", 0.4, salt=2).collect()}
    assert {r["k"] for r in mix.filter("g = 'g1'").collect()} == {
        k for k in flat if k % 3 == 1
    }
    with pytest.raises(ValueError, match="at least one group"):
        mixture_sample_df(df, "g", {}, key_col="k")

    packed = pack_documents_df(df, budget=2000, weight_col="wt", key_col="k", shards=4)
    assert packed.count() == 3000  # exhaustive
    per_bin = packed.groupBy("pack_id").agg(
        F.sum("wt").alias("tot"), F.count("*").alias("n")
    )
    # SOFT budget: a bin may overflow only by less than the straddling
    # document's weight (max wt here is 700)
    assert per_bin.filter(F.col("tot") >= 2000 + 700).count() == 0
    # deterministic across runs
    a = {(r["k"], r["pack_id"]) for r in packed.collect()}
    b = {(r["k"], r["pack_id"]) for r in pack_documents_df(
        df, budget=2000, weight_col="wt", key_col="k", shards=4
    ).collect()}
    assert a == b
    # bins are reasonably full (fill efficiency > 50% for all but the last
    # bin of each shard)
    n_bins = per_bin.count()
    assert n_bins * 2000 < 2 * 3000 * 350.5  # total weight ~ 3000*350.5
    with pytest.raises(ValueError, match="budget"):
        pack_documents_df(df, budget=0, weight_col="wt", key_col="k")


def test_sampling_null_keys_and_grain_guard(spark):
    """NULL keys hash a sentinel: consistent membership across
    hash_sample_df / split_by_hash_df / pack_documents_df (never silently
    dropped by a where() while kept by a withColumn path); fractions below
    the 1e-6 bucket grain raise instead of sampling nothing; asof value
    column '_on' is reserved."""
    import pytest
    from pyspark.sql import functions as F

    from imops_spark.functions.curate import (
        hash_sample_df,
        mixture_sample_df,
        pack_documents_df,
        split_by_hash_df,
    )
    from imops_spark.functions.events import asof_join_df

    df = spark.createDataFrame(
        [(1, "a", 10), (2, None, 10), (3, "b", 10), (None, "c", 10)],
        "k long, g string, wt long",
    )
    # NULL key rows are ASSIGNED (not dropped): full-fraction sample keeps
    # all 4, split labels all 4, packing bins all 4
    assert hash_sample_df(df, "k", 1.0).count() == 4
    split = split_by_hash_df(df, "k", {"x": 0.5, "y": 0.5})
    assert split.count() == 4 and split.filter("split IS NULL").count() == 0
    packed = pack_documents_df(df, budget=100, weight_col="wt", key_col="k")
    assert packed.count() == 4 and packed.filter("pack_id IS NULL").count() == 0
    # and membership at fraction f is a deterministic subset incl. NULL's fate
    s1 = {tuple(r) for r in hash_sample_df(df, "k", 0.5).collect()}
    s2 = {tuple(r) for r in hash_sample_df(df, "k", 0.5).collect()}
    assert s1 == s2

    with pytest.raises(ValueError, match="bucket grain"):
        hash_sample_df(df, "k", 1e-9)
    with pytest.raises(ValueError, match="bucket grain"):
        mixture_sample_df(df, "g", {"a": 1e-9}, key_col="k")

    right = spark.createDataFrame([(10, 1.0)], "_on long, v double")
    left = spark.createDataFrame([(15, 0)], "ts_sec long, event_id long")
    with pytest.raises(ValueError, match="reserved"):
        asof_join_df(left, right.withColumnRenamed("_on", "ts_sec").withColumn("_on", F.lit(1)), on="ts_sec", value_cols=["_on"])


def test_contamination_scan_and_decontaminate(spark):
    """contamination_pairs_df flags train docs sharing a >= k+window-1 char
    substring with an eval doc (the winnowing guarantee) and nothing else;
    decontaminate_df drops exactly the flagged train docs."""
    from imops_spark.functions.curate import (
        contamination_pairs_df,
        decontaminate_df,
    )

    leak = "the secret benchmark answer is forty two exactly"
    train = spark.createDataFrame(
        [
            (0, f"some long training text with {leak} embedded in the middle"),
            (1, "perfectly clean training document about distributed joins"),
            (2, "another clean one discussing parquet row group statistics"),
        ],
        "doc_id long, text string",
    )
    holdout = spark.createDataFrame(
        [(100, f"eval question: {leak}?"), (101, "unrelated eval prompt xyzzy")],
        "doc_id long, text string",
    )
    pairs = contamination_pairs_df(train, holdout, min_shared=1).collect()
    assert {(r["train_id"], r["eval_id"]) for r in pairs} == {(0, 100)}
    assert all(r["n_shared"] >= 1 for r in pairs)

    kept = sorted(r["doc_id"] for r in decontaminate_df(train, holdout).collect())
    assert kept == [1, 2]


def test_testdata_documents_ascii_invariant(spark):
    """The multimodal gates regenerate pixels/samples from document text
    bytes via md5/ord arithmetic, which assumes ASCII (char length ==
    byte length).  If the driver regenerates testdata with non-ASCII
    text, fail HERE with a clear message instead of as mysterious
    value-hash misses in mm_* gates (HANDOFF watch item)."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bad = docs.filter(
        F.col("text").isNotNull()
        & (F.length("text") != F.octet_length("text"))
    ).count()
    assert bad == 0, (
        f"{bad} non-ASCII documents: mm_audio/mm_image_raw oracle byte "
        "arithmetic no longer matches — regenerate gate fixtures"
    )


def test_bench_contention_stats_flags_loaded_run():
    """bench.contention_stats: the r5 poisoned-driver episode must flag
    itself (many wide steady-state spreads AND a busy pre-run load), an
    idle-shaped run must not, pass 1 (codegen compile) must be excluded
    from the spread, and — the round-9 rule — wide spreads WITHOUT a busy
    load stamp must NOT flag (within-JVM JIT/GC mode flips produced 50
    wide queries on a verified-idle box; only an outside process eating
    cores is 'contended', and that always shows in the load)."""
    import os

    import bench

    busy_load = 2 * max(1.0, (os.cpu_count() or 8) / 8.0)  # twice the threshold
    # idle shape: steady passes repeat within noise; one GC-unlucky query
    # (1.6x) is normal and stays under the >=3-query threshold
    idle = {
        "q1": [0.9, 0.31, 0.30],
        "q2": [0.5, 0.20, 0.21],
        "q3": [0.4, 0.25, 0.40],  # the one unlucky query
        "q4": [0.8, 0.52, 0.50],
    }
    s = bench.contention_stats(idle, load_before=busy_load)
    assert not s["contended"]
    assert s["n_queries_spread_gt_1p5"] == 1
    # pass-1 exclusion: q1's 3x first pass does not count as spread
    assert s["spread_max_over_min"]["q1"] < 1.1

    # contended shape (r5 driver episode): uniform slowdown with several
    # multi-x steady-state outliers, on a box whose load shows the intruder
    loaded = {
        "q1": [1.2, 0.4, 1.6],
        "q2": [0.9, 0.3, 0.7],
        "q3": [2.0, 0.5, 1.9],
        "q4": [0.6, 0.21, 0.22],
        "q5": [1.1, 0.35, 1.0],
    }
    s = bench.contention_stats(loaded, load_before=busy_load)
    assert s["contended"]
    assert s["n_queries_spread_gt_1p5"] >= 3

    # the SAME spreads with an idle load stamp: JIT-mode flips, not an
    # outside process — must not frame the box
    idle_load = max(1.0, (os.cpu_count() or 8) / 8.0) / 2  # half the threshold
    s = bench.contention_stats(loaded, load_before=idle_load)
    assert not s["contended"]
    assert s["n_queries_spread_gt_1p5"] >= 3  # the diagnostic stays visible

    # two-pass fallback: with no steady-state pair, both passes count
    s = bench.contention_stats({"q1": [1.0, 0.2]})
    assert s["spread_max_over_min"]["q1"] == 5.0


def test_cpus_falls_back_on_malformed_env(monkeypatch):
    """One parser for $SPARK_GRAFT_CPUS: a malformed or non-positive value
    falls back to the host's core count instead of crashing the session
    builder or bench.py."""
    import os

    from imops_spark.session import _cpus

    host = os.cpu_count() or 4
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    assert _cpus() == 6
    for bad in ("four", "", "2.5", "0", "-3"):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", bad)
        assert _cpus() == host, bad
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert _cpus() == host


def test_core_scaling_ratio_table_tolerates_missing_op(monkeypatch):
    """An op the low-core run lost reads a null ratio, not a KeyError
    after both multi-minute runs."""
    import os

    monkeypatch.syspath_prepend(
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
    )
    from core_scaling_probe import ratio_table

    table = ratio_table({8: {"a": 4.0}, 32: {"a": 1.0, "b": 2.0}})
    assert table["a"] == {"c8": 4.0, "c32": 1.0, "ratio": 4.0}
    assert table["b"] == {"c8": None, "c32": 2.0, "ratio": None}


def test_plan_capture_parses_documented_flags(monkeypatch):
    """The Usage form ``--tag X --suffix Y`` must name the output files
    exactly as ``--tag=X --suffix=Y`` does; a flag that silently fell back
    to a default would overwrite committed plan files.  Unknown flags and
    a missing tag/suffix are errors."""
    import os

    import pytest

    monkeypatch.syspath_prepend(
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
    )
    from plan_capture import parse_args

    spaced = parse_args(["--tag", "demo", "--suffix", "after", "--queries", "a,b"])
    joined = parse_args(["--tag=demo", "--suffix=after", "--queries=a,b"])
    assert spaced == joined
    assert (spaced.tag, spaced.suffix, spaced.queries) == ("demo", "after", "a,b")
    assert not spaced.time and spaced.passes == 3
    timed = parse_args(["--tag", "t", "--suffix", "s", "--time", "--passes", "5"])
    assert timed.time and timed.passes == 5
    for bad in (["--tag", "t", "--suffix", "s", "--bogus"], ["--suffix", "s"], []):
        with pytest.raises(SystemExit):
            parse_args(bad)


def test_top_items_param_validation(spark):
    """max_tracked=0 must RAISE, not silently fall back to the 10000
    default (the `if max_tracked` falsy trap), and garbage values must not
    reach the generated SQL."""
    import pytest
    from pyspark.sql import functions as F

    from imops_spark.functions.sketch import top_items_df

    df = spark.range(10).select((F.col("id") % 5).alias("v"))
    with pytest.raises(ValueError, match="max_tracked"):
        top_items_df(df, "v", k=5, max_tracked=0)
    with pytest.raises(ValueError, match="max_tracked"):
        top_items_df(df, "v", k=5, max_tracked=3)  # < k
    with pytest.raises(ValueError, match="k must be positive"):
        top_items_df(df, "v", k=0)
    # a valid explicit max_tracked still works
    assert top_items_df(df, "v", k=5, max_tracked=5).count() == 5


def test_corpus_profile_short_frac(spark):
    """short_frac must be exactly n_short / n_docs per language row."""
    from imops_spark.functions.curate import corpus_profile_df

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = corpus_profile_df(docs, min_tokens=60).collect()
    assert rows
    for r in rows:
        assert r["short_frac"] == round(r["n_short"] / r["n_docs"], 6)


def test_snapshot_diff_stream_old_docs_is_keyword_only(spark):
    """The reversed-parameter silent-swap hazard vs snapshot_diff_df is
    closed: positional old_docs must TypeError."""
    import pytest
    from pyspark.sql import functions as F

    from imops_spark.functions.dedup import snapshot_diff_stream_df

    docs = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(TypeError):
        snapshot_diff_stream_df(docs, docs)
    out = snapshot_diff_stream_df(docs, old_docs=docs)
    assert out.filter(F.col("status") == "unchanged").count() == 1


def _dup_corpus(spark):
    """40 docs in 20 near-identical pairs plus 20 distinct singletons —
    clear separation so ANY sound hash family finds exactly the pairs."""
    from pyspark.sql import functions as F  # noqa: F401

    rows = []
    for i in range(20):
        # per-pair vocabulary is fully disjoint (cross-pair Jaccard 0, so
        # the only candidates are the planted pairs) and each pair is an
        # exact shingle-set duplicate (Jaccard 1, so EVERY band matches
        # under ANY hash family — a near-dup at J<1 would make the test a
        # coin-flip on the per-family band-collision odds)
        base = " ".join(f"p{i}w{j}" for j in range(12))
        rows.append((2 * i, base))
        rows.append((2 * i + 1, base))
    for i in range(20):
        rows.append((100 + i, " ".join(f"s{i}u{j}" for j in range(10))))
    return rows


def test_minhash_xxhash64_fast_path_same_verdicts(spark):
    """The xxhash64 minhash fast path must produce the SAME candidate
    pairs and the SAME near-dup survivors as the md5 gate path on a
    separated corpus (signature values differ by design — consumers
    depend only on hash equality)."""
    import pytest

    from imops_spark.functions.dedup import (
        drop_near_duplicates_df,
        lsh_candidate_pairs_df,
        minhash_signatures_df,
    )

    docs = spark.createDataFrame(_dup_corpus(spark), "doc_id long, text string")
    pairs = {}
    for fn in ("md5", "xxhash64"):
        sigs = minhash_signatures_df(docs, num_hashes=8, hash_fn=fn)
        pairs[fn] = {
            (r["doc_a"], r["doc_b"])
            for r in lsh_candidate_pairs_df(sigs, bands=4, rows_per_band=2).collect()
        }
    want = {(2 * i, 2 * i + 1) for i in range(20)}
    assert pairs["md5"] == pairs["xxhash64"] == want

    surv_md5 = {r["doc_id"] for r in drop_near_duplicates_df(docs).collect()}
    surv_xx = {
        r["doc_id"] for r in drop_near_duplicates_df(docs, hash_fn="xxhash64").collect()
    }
    assert surv_md5 == surv_xx
    assert all(2 * i in surv_md5 and 2 * i + 1 not in surv_md5 for i in range(20))
    with pytest.raises(ValueError, match="hash_fn"):
        minhash_signatures_df(docs, hash_fn="sha1")


def test_winnow_xxhash64_fast_path_same_verdicts(spark):
    """The xxhash64 winnowing fast path must keep the winnowing guarantee
    (verbatim overlap >= k + window - 1 always produces a shared
    fingerprint) and yield the SAME decontamination survivors as md5 on a
    planted-leak corpus; the positional Arrow kernel (auto) must stay
    value-identical to the window batch chain UNDER EACH hash_fn."""
    import pytest

    from imops_spark.functions.curate import decontaminate_df
    from imops_spark.functions.text import winnow_fingerprints_df

    leak = "the exact benchmark answer string nobody should train on"
    train = spark.createDataFrame(
        [(i, f"ordinary training text t{i}a t{i}b t{i}c t{i}d") for i in range(30)]
        + [(90 + i, f"document containing {leak} verbatim plus padding p{i}") for i in range(3)],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(0, f"eval question about {leak} here")], "doc_id long, text string"
    )
    surv = {}
    for fn in ("md5", "xxhash64"):
        surv[fn] = {
            r["doc_id"]
            for r in decontaminate_df(train, ev, min_shared=3, hash_fn=fn).collect()
        }
        # positional kernel == window batch chain under this hash_fn
        a = {
            (r["doc_id"], r["pos"], r["fp"])
            for r in winnow_fingerprints_df(train, hash_fn=fn).collect()
        }
        b = {
            (r["doc_id"], r["pos"], r["fp"])
            for r in winnow_fingerprints_df(
                train, hash_fn=fn, strategy="window"
            ).collect()
        }
        assert a == b and a
    assert surv["md5"] == surv["xxhash64"] == set(range(30))
    with pytest.raises(ValueError, match="hash_fn"):
        winnow_fingerprints_df(train, hash_fn="crc32")


def test_training_order_shards_balanced_total_and_one_exchange(spark):
    """training_order_df: a total reproducible order (every (shard, pos)
    unique, pos dense 1..n_shard), tight balance from the md5 buckets, and
    a plan with ONE hash exchange and NO range partitioning (a global
    ORDER BY would range-shuffle + globally sort)."""
    import pytest
    from pyspark.sql import functions as F

    from imops_spark.functions.curate import training_order_df

    docs = spark.range(10_000).select(F.col("id").alias("doc_id"))
    out = training_order_df(docs, n_shards=8)
    rows = out.collect()
    assert len(rows) == 10_000
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    assert set(by_shard) == set(range(8))
    for positions in by_shard.values():
        assert sorted(positions) == list(range(1, len(positions) + 1))
    sizes = sorted(len(v) for v in by_shard.values())
    assert sizes[0] > 0.85 * 10_000 / 8 and sizes[-1] < 1.15 * 10_000 / 8
    # rerun identical (determinism), and a different salt reshuffles
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, rows))
    other = {
        (r["doc_id"], r["shard"], r["pos"])
        for r in training_order_df(docs, n_shards=8, salt=78).collect()
    }
    assert other != {(r["doc_id"], r["shard"], r["pos"]) for r in rows}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("rangepartitioning") == 0
    with pytest.raises(ValueError, match="n_shards"):
        training_order_df(docs, n_shards=0)


def test_training_order_duplicate_ids_tiebreak(spark):
    """Duplicate ids share the hash, so pos AMONG them is arbitrary unless
    tiebreak_cols extends the sort key: with it, the full (doc_id, text,
    shard, pos) assignment is identical across differently-partitioned
    reruns; reserved tiebreak names raise."""
    import pytest
    from pyspark.sql import functions as F

    from imops_spark.functions.curate import training_order_df

    rows = [(i % 50, f"text-{i}") for i in range(400)]  # 8 dups per id
    a = spark.createDataFrame(rows, "doc_id long, text string").repartition(4)
    b = spark.createDataFrame(rows, "doc_id long, text string").repartition(
        13, "text"
    )
    ta = sorted(
        map(tuple, training_order_df(a, 8, tiebreak_cols=("text",)).collect())
    )
    tb = sorted(
        map(tuple, training_order_df(b, 8, tiebreak_cols=("text",)).collect())
    )
    assert ta == tb and len(ta) == 400
    # the position SET per id group is stable even without a tiebreak
    base = training_order_df(a, 8).collect()
    posset = {}
    for r in base:
        posset.setdefault(r["doc_id"], set()).add((r["shard"], r["pos"]))
    for r in ta:
        assert (r[2], r[3]) in posset[r[0]]
    with pytest.raises(ValueError, match="tiebreak"):
        training_order_df(a, 8, tiebreak_cols=("pos",))
    with pytest.raises(ValueError, match="tiebreak"):
        training_order_df(a, 8, tiebreak_cols=("__x",))


def test_sentences_df_matches_python_re(spark):
    """sentences_df == a python re re-derivation (same pattern, same
    full-whitespace trim, same min_chars filter, same ordinal-with-gaps
    semantics); NULL text dropped; unterminated tails kept; terminator
    runs stay attached."""
    import re

    import pytest

    from imops_spark.functions.text import SENTENCE_PATTERN, sentences_df

    rows = [
        (0, "First sentence. Second one! Third?? And a tail without end"),
        (1, "One liner"),
        (2, "Dots... then more.\nNewline lead. !"),
        (3, None),
        (4, "  .  "),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["sent_ix"]): (r["sentence"], r["n_chars"])
        for r in sentences_df(docs, min_chars=2).collect()
    }
    want = {}
    for did, text in rows:
        if text is None:
            continue
        for ix, m in enumerate(re.findall(SENTENCE_PATTERN, text)):
            sent = re.sub(r"^\s+|\s+$", "", m)
            if len(sent) >= 2:
                want[(did, ix)] = (sent, len(sent))
    assert got == want
    assert (0, 3) in got and got[(0, 3)][0] == "And a tail without end"
    assert got[(0, 2)][0] == "Third??"
    assert all(k[0] != 4 for k in got)  # punctuation-only doc fully dropped
    with pytest.raises(ValueError, match="min_chars"):
        sentences_df(docs, min_chars=0)


def test_winnow_strategies_value_identical_and_dispatch(spark):
    """Both winnowing formulations — the sliding-window batch chain and
    auto (the Arrow kernel) — must produce identical (doc_id, pos, fp)
    and (doc_id, fp) sets (carry riding through the window path too);
    auto picks the kernel; unknown and removed strategies raise."""
    import pytest
    from pyspark.sql import functions as F

    from imops_spark.backend import choose_form
    from imops_spark.functions.text import (
        winnow_fingerprints_df,
        winnow_fp_set_df,
    )

    shared = "the quick brown fox jumps over the lazy dog"
    rows = [(i, f"doc {i} prefix {shared} suffix {i * 13} tail tail") for i in range(40)]
    rows += [(99, "short"), (100, None)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    pos_window = sorted(
        map(
            tuple,
            winnow_fingerprints_df(docs, k=8, window=4, strategy="window").collect(),
        )
    )
    pos_auto = sorted(
        map(tuple, winnow_fingerprints_df(docs, k=8, window=4).collect())
    )
    assert pos_window == pos_auto and pos_window

    set_auto = sorted(
        map(tuple, winnow_fp_set_df(docs, k=8, window=4).collect())
    )
    set_window = sorted(
        map(
            tuple,
            winnow_fp_set_df(docs, k=8, window=4, strategy="window").collect(),
        )
    )
    assert set_auto == set_window and set_auto
    # carry columns ride through the window path and pair uniqueness holds
    docs_c = docs.withColumn("src", F.concat(F.lit("s"), F.col("doc_id")))
    wc = winnow_fp_set_df(docs_c, k=8, window=4, carry=("src",), strategy="window")
    got = wc.collect()
    assert wc.columns == ["doc_id", "src", "fp"]
    assert len(got) == len({(r["doc_id"], r["fp"]) for r in got})
    assert all(r["src"] == f"s{r['doc_id']}" for r in got)

    # dispatch (the winnow row of backend.ROUTES): batch auto assumes a
    # LEAF and picks the arrow kernel for BOTH hash families; composing
    # operators that join on the fingerprints take md5 back to the
    # pure-JVM window form
    for h in ("md5", "xxhash64"):
        assert choose_form("winnow", "auto", docs, hash_fn=h) == "arrow"
    assert choose_form("winnow", "auto", docs, hash_fn="md5", composed=True) == "window"
    assert choose_form("winnow", "auto", docs, hash_fn="xxhash64", composed=True) == "arrow"
    for bad in ("nope", "local"):  # 'local' is the removed row-local form
        with pytest.raises(ValueError, match="strategy"):
            winnow_fp_set_df(docs, strategy=bad)
        with pytest.raises(ValueError, match="strategy"):
            winnow_fingerprints_df(docs, strategy=bad)


def test_pack_sequences_invariants_and_determinism(spark):
    """pack_sequences_df: per-doc overlap rows reconstruct the document
    exactly (contiguous doc_offsets summing to n_tokens); per-sequence
    rows tile [0, seq_len) without gaps or overlap (every sequence full
    except the tape tail); placement is identical across input
    partitionings (the two-phase prefix sum is exact); precomputed token
    counts and validation paths work."""
    import pytest
    from pyspark.sql import functions as F

    from imops_spark.functions.curate import pack_sequences_df

    rows = [(i, "tok " * (5 + (i * 7) % 90)) for i in range(120)]
    rows += [(900, None), (901, "   ")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    L = 64
    out = pack_sequences_df(docs, seq_len=L, n_shards=8).collect()
    assert {r["doc_id"] for r in out} == {i for i, _ in rows[:120]}

    by_doc, by_seq = {}, {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
        by_seq.setdefault(r["seq_id"], []).append(r)
    for did, rs in by_doc.items():
        rs.sort(key=lambda r: r["doc_offset"])
        n = rs[0]["n_tokens"]
        assert sum(r["len"] for r in rs) == n
        assert rs[0]["doc_offset"] == 0
        for a, b in zip(rs, rs[1:]):
            assert b["doc_offset"] == a["doc_offset"] + a["len"]
            assert b["seq_id"] == a["seq_id"] + 1  # consecutive tape windows
            assert b["seq_offset"] == 0  # continuation rows start a sequence
    total = sum(r["n_tokens"] for r in spark.createDataFrame(
        [(i, 5 + (i * 7) % 90) for i in range(120)], "doc_id long, n_tokens int"
    ).collect())
    n_seqs = -(-total // L)
    assert set(by_seq) == set(range(n_seqs))
    for sid, rs in by_seq.items():
        rs.sort(key=lambda r: r["seq_offset"])
        assert rs[0]["seq_offset"] == 0
        for a, b in zip(rs, rs[1:]):
            assert b["seq_offset"] == a["seq_offset"] + a["len"]
        full = sum(r["len"] for r in rs)
        assert full == (L if sid < n_seqs - 1 else total - L * (n_seqs - 1))

    # partitioning-proof: same placement from a differently-partitioned input
    again = pack_sequences_df(
        docs.repartition(13, "text"), seq_len=L, n_shards=8
    ).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))

    # precomputed token counts: same result as derived counts
    pre = docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.size(F.array_remove(F.split(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), " "), "")).alias("nt"),
    )
    out2 = pack_sequences_df(pre, seq_len=L, n_tokens_col="nt", n_shards=8).collect()
    assert sorted(map(tuple, out2)) == sorted(map(tuple, out))

    with pytest.raises(ValueError, match="seq_len"):
        pack_sequences_df(docs, seq_len=0)
    with pytest.raises(ValueError, match="n_shards"):
        pack_sequences_df(docs, seq_len=8, n_shards=0)


def test_pack_sequence_tokens_materialization(spark):
    """pack_sequence_tokens_df: concatenating the materialized sequences
    in seq_id order reproduces the corpus tape exactly (every token, in
    order); every sequence is full except the tail; n_docs matches the
    placement arity."""
    from imops_spark.functions.curate import (
        pack_sequence_tokens_df,
        pack_sequences_df,
    )

    rows = [(i, " ".join(f"w{i}x{j}" for j in range(3 + (i * 5) % 40))) for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    L = 32
    seqs = {r["seq_id"]: r for r in pack_sequence_tokens_df(docs, L, n_shards=8).collect()}
    n_seqs = max(seqs) + 1
    assert set(seqs) == set(range(n_seqs))
    for sid, r in seqs.items():
        assert r["n_tokens"] == len(r["tokens"])
        if sid < n_seqs - 1:
            assert r["n_tokens"] == L
    # the tape reconstructs every document's tokens contiguously
    tape = []
    for sid in range(n_seqs):
        tape.extend(seqs[sid]["tokens"])
    placement = pack_sequences_df(docs, L, n_shards=8).collect()
    starts = {}
    for p in placement:
        s = p["seq_id"] * L + p["seq_offset"] - p["doc_offset"]
        starts.setdefault(p["doc_id"], set()).add(s)
    assert all(len(v) == 1 for v in starts.values())  # one tape start per doc
    for did, text in rows:
        toks = text.split(" ")
        s = starts[did].pop()
        assert tape[s : s + len(toks)] == toks
    # n_docs equals the placement arity per sequence
    arity = {}
    for p in placement:
        arity[p["seq_id"]] = arity.get(p["seq_id"], 0) + 1
    assert {sid: r["n_docs"] for sid, r in seqs.items()} == arity


def test_pack_sequence_tokens_over_bpe_ids(spark):
    """tokens_col: packing bpe_encode_df's integer ids — the tape of
    concatenated sequences reproduces every document's token_ids
    contiguously, with the output element type following the input."""
    from imops_spark.functions.bpe import bpe_encode_df, bpe_train_df
    from imops_spark.functions.curate import pack_sequence_tokens_df

    rows = [(i, f"low lower newest widest doc{i} " * (1 + i % 4)) for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    merges = bpe_train_df(docs, n_merges=6, min_freq=2)
    enc = bpe_encode_df(docs, merges)
    out = pack_sequence_tokens_df(enc, 48, n_shards=4, tokens_col="token_ids")
    assert dict(out.dtypes)["tokens"] == "array<bigint>"
    seqs = {r["seq_id"]: r for r in out.collect()}
    n_seqs = max(seqs) + 1
    tape = []
    for sid in range(n_seqs):
        if sid < n_seqs - 1:
            assert seqs[sid]["n_tokens"] == 48
        tape.extend(seqs[sid]["tokens"])
    ids = {r["doc_id"]: list(r["token_ids"]) for r in enc.collect()}
    assert len(tape) == sum(len(v) for v in ids.values())
    # every doc's ids appear contiguously somewhere on the tape
    for did, v in ids.items():
        assert any(
            tape[s : s + len(v)] == v for s in range(len(tape) - len(v) + 1)
        ), did


def test_winnow_explicit_window_on_stream_raises(spark, tmp_path):
    """strategy='window' on a streaming frame must fail with a clear
    error at build time, not a deep AnalysisException from the sizing
    pre-pass."""
    import pytest

    from imops_spark.functions.text import winnow_fp_set_df

    static = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    stream = (
        spark.readStream.schema(static.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet("/root/testdata/sf0.001")
        .select("doc_id", "text")
    )
    with pytest.raises(ValueError, match="illegal on a streaming"):
        winnow_fp_set_df(stream, strategy="window")
    # auto on a stream builds the Arrow-kernel plan without touching an action
    df = winnow_fp_set_df(stream)
    assert df.isStreaming


def test_daemon_preload_wiring(spark):
    """get_spark wires the preloading worker daemon (the counter to
    Spark's hardcoded 1-minute idle-worker cull) plus the package root on
    the worker PYTHONPATH so a fresh daemon interpreter can import it."""
    import os

    import imops_spark

    assert (
        spark.conf.get("spark.python.daemon.module") == "imops_spark.daemon"
    )
    pkg_root = os.path.dirname(
        os.path.dirname(os.path.abspath(imops_spark.__file__))
    )
    assert spark.conf.get("spark.executorEnv.PYTHONPATH").startswith(pkg_root)


def test_daemon_module_is_passthrough_importable():
    """The daemon module must import cleanly and expose pyspark.daemon's
    manager unchanged (its stdout protocol is what the JVM reads)."""
    import imops_spark.daemon as d
    from pyspark.daemon import manager

    assert d.manager is manager
