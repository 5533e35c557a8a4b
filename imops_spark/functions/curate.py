"""End-to-end document curation: the one call a training-data pipeline makes.

Composes the individually-gated operators of ``functions.text`` and
``functions.dedup`` into the standard pretraining-corpus recipe:

1. **Quality gate** — C4/Gopher-style column-arithmetic filters
   (token count, chars/token, stopword ratio, type-token ratio) drop
   boilerplate and garbage rows at scan speed (predicates are pure
   expressions, so Catalyst pushes what it can into the scan).
2. **Exact dedup** — md5-of-normalized-text groupBy keeps the lowest
   doc_id per identical document.
3. **Near dedup** — MinHash -> banded LSH -> exact n-gram Jaccard
   verification -> connected components; one canonical survivor per
   cluster (``dedup.drop_near_duplicates_df``).
4. **Token budgeting** — whitespace word and BPE-pre-token counts
   annotated per surviving document (``text.bpe_token_count_df``), the
   numbers a training-mix planner consumes.

Stage order matters at 100 TB: quality filtering is the cheapest stage and
runs first so the (shuffle-bearing) dedup stages see only rows that can
survive; near dedup runs after exact dedup so identical copies collapse
before signatures are computed.

Every stage is the already-hash-gated operator — this module adds
composition and bookkeeping, no new math.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..backend import choose_form
from .dedup import (
    _doc_kernel,
    _md5_hash_col,
    _widen,
    drop_exact_duplicates,
    drop_near_duplicates_df,
    normalized_text,
)
from .text import bpe_token_count_df, quality_df

__all__ = [
    "quality_filter_df",
    "curate_documents",
    "hash_sample_df",
    "split_by_hash_df",
    "cap_per_group_df",
    "mixture_sample_df",
    "temperature_fractions_df",
    "temperature_mixture_sample_df",
    "pack_documents_df",
    "filter_by_quantile_df",
    "contamination_pairs_df",
    "contamination_pairs_bloom_df",
    "contamination_report_df",
    "decontaminate_df",
    "decontaminate_bloom_df",
    "corpus_profile_df",
    "dsir_logweights_df",
    "dsir_sample_df",
    "dsir_model_df",
    "dsir_score_local_df",
    "dsir_feature_frame_df",
    "dsir_model_from_features_df",
    "dsir_logweights_from_features_df",
    "dsir_sample_from_features_df",
    "dsir_exploded_features_df",
    "dsir_model_from_exploded_df",
    "dsir_logweights_from_exploded_df",
    "dsir_sample_from_exploded_df",
    "classifier_score_df",
    "classifier_score_from_features_df",
    "classifier_score_local_df",
    "classifier_train_df",
    "classifier_train_early_stop_df",
    "keep_top_fraction_df",
    "roc_points_df",
    "training_order_df",
    "pack_sequences_df",
    "pack_sequence_tokens_df",
]


def _key_hash(key_col: str, salt: int):
    """md5 hash of the key — the shared ordering/membership primitive of
    every sampler/splitter/packer here.  NULL keys hash a sentinel instead
    of propagating NULL (which would silently DROP rows from where()
    filters while withColumn paths kept them, and scramble NULLS FIRST
    orderings): a NULL key is data and gets a stable value like any
    other."""
    key = F.coalesce(F.col(key_col).cast("string"), F.lit("\x00<null-key>"))
    return _md5_hash_col(key, salt)


def _hash_bucket(key_col: str, salt: int):
    return _key_hash(key_col, salt) % F.lit(1_000_000)


def _fraction_buckets(fraction: float, what: str) -> int:
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"{what} must be in [0, 1], got {fraction}")
    buckets = int(round(fraction * 1_000_000))
    if fraction > 0.0 and buckets == 0:
        raise ValueError(
            f"{what}={fraction} is below the 1e-6 bucket grain and would "
            "silently sample nothing; use a coarser fraction or pre-shard"
        )
    return buckets


def hash_sample_df(
    df: DataFrame, key_col: str, fraction: float, salt: int = 0
) -> DataFrame:
    """Deterministic ``fraction``-sample keyed on ``md5(salt|key)``.

    The sampling primitive a reprocessable pipeline needs is NOT an RNG
    draw: re-running the job, adding columns, or repartitioning must never
    change which rows are in the sample, and late-arriving rows must join
    the same sample their key dictates.  Hash-bucketing gives all of that —
    a row is in iff ``hash(key) % 10^6 < fraction * 10^6`` — plus exact
    reproducibility in any engine with md5 (the DuckDB oracle recomputes
    it verbatim).  Changing ``salt`` draws an independent sample.

    Pure column expression: no shuffle, no state, scan-speed at 100 TB.
    Sub-1e-6 fractions raise (bucket grain); NULL keys hash a sentinel, so
    they are sampled like any other single key value.
    """
    return df.where(
        _hash_bucket(key_col, salt) < F.lit(_fraction_buckets(fraction, "fraction"))
    )


def split_by_hash_df(
    df: DataFrame, key_col: str, fractions: dict[str, float], salt: int = 0
) -> DataFrame:
    """Assign every row to exactly one named split (train/val/test...) by
    hash bucket: splits are disjoint, exhaustive, reproducible, and stable
    under reprocessing — and keying on a GROUP column (e.g. ``source``)
    puts whole groups in one split, the leakage guard evaluation needs.

    ``fractions`` maps split name -> fraction; must sum to 1 (±1e-9).
    Returns ``df`` plus a ``split`` column.  Buckets are carved as
    cumulative ranges over ``md5(salt|key) % 10^6``, so the boundaries are
    integers and every engine agrees on membership exactly.  NULL keys
    hash a sentinel — same deterministic bucket semantics as
    ``hash_sample_df``, never a silent catch-all assignment.
    """
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    bucket = _hash_bucket(key_col, salt)
    expr = None
    hi = 0
    names = list(fractions)
    for name in names[:-1]:
        hi += int(round(fractions[name] * 1_000_000))
        case = F.when(bucket < F.lit(hi), F.lit(name))
        expr = case if expr is None else expr.when(bucket < F.lit(hi), F.lit(name))
    # the last split absorbs the rounding remainder: exhaustive by
    # construction
    expr = F.lit(names[-1]) if expr is None else expr.otherwise(F.lit(names[-1]))
    return df.withColumn("split", expr)


def cap_per_group_df(
    df: DataFrame, group_col: str, n: int, key_col: str, salt: int = 0
) -> DataFrame:
    """Keep at most ``n`` rows per group, chosen deterministically by hash
    order — the source-balancing step of a corpus mix (cap any one domain
    before it dominates training).  Selection order is
    ``(md5(salt|key), key)``: pseudo-random within the group yet exactly
    reproducible, with the raw key as a total tie-break.

    **Precondition**: ``key_col`` must be unique within each group (the
    standard id-column contract, as in ``asof_join_df``) — duplicate keys
    make the order non-total, and which duplicate ``row_number`` keeps
    could then vary across runs and engines.

    One shuffle on ``group_col`` (window rank); skewed giant groups are the
    expected case — AQE handles the partition imbalance, and the rank
    early-outs at ``n`` per group.
    """
    from pyspark.sql.window import Window

    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    order = _key_hash(key_col, salt)
    w = Window.partitionBy(group_col).orderBy(order, F.col(key_col))
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= n)
        .drop("_rk")
    )


def quality_filter_df(
    docs: DataFrame,
    min_tokens: int = 5,
    max_chars_per_token: float = 12.0,
    min_stopword_ratio: float = 0.0,
    min_type_token_ratio: float = 0.2,
) -> DataFrame:
    """Documents passing the heuristic quality gate (same metrics as the
    gated ``quality_df``); NULL-text rows never pass."""
    q = quality_df(docs.where(F.col("text").isNotNull()))
    keep = q.filter(
        (F.col("n_tokens") >= min_tokens)
        & (F.col("chars_per_token") <= max_chars_per_token)
        & (F.col("stopword_ratio") >= min_stopword_ratio)
        & (F.col("type_token_ratio") >= min_type_token_ratio)
    ).select("doc_id")
    return docs.join(keep, "doc_id", "left_semi")


def mixture_sample_df(
    df: DataFrame, group_col: str, fractions: dict[str, float], key_col: str, salt: int = 0
) -> DataFrame:
    """Per-group hash sampling with a DIFFERENT fraction per group — the
    mixture-weighting step of a training recipe ("keep 100% of books, 30%
    of web, 5% of logs").  Groups not named in ``fractions`` are dropped
    (an explicit mix is the whole point).  Same md5-bucket membership as
    ``hash_sample_df``, so the draw is reproducible, subset-stable, and
    per-group independent of every other group's fraction.

    The fraction lookup is a literal MAP expression — no join, no shuffle,
    scan-speed like the flat sampler.
    """
    if not fractions:
        raise ValueError("fractions must name at least one group")
    pairs = []
    for name, frac in fractions.items():
        pairs += [F.lit(name), F.lit(_fraction_buckets(frac, f"fraction for {name!r}"))]
    thresholds = F.create_map(*pairs)
    bucket = _hash_bucket(key_col, salt)
    return df.where(bucket < F.coalesce(thresholds[F.col(group_col)], F.lit(0)))


def temperature_fractions_df(
    df: DataFrame, group_col: str, alpha: float = 0.5, target_rate: float = 1.0
) -> DataFrame:
    """Temperature-scaled mixture weights from observed group sizes — the
    alpha-sampling recipe (multilingual/UniMax style): a group holding raw
    share ``p_i = n_i/N`` gets target share ``q_i = n_i^alpha / sum_j
    n_j^alpha``, flattening the head and boosting the tail as ``alpha``
    drops from 1 (proportional) toward 0 (uniform).

    Returns one row per group: ``(group, n_rows, p_raw, p_temp,
    sampling_frac)`` where ``sampling_frac = min(1, target_rate * N * q_i
    / n_i)`` is the per-group keep rate that realizes the temperature mix
    by downsampling (rates are capped at 1 — boosting a tail group beyond
    its size needs repetition, which sampling cannot provide; the cap is
    the standard epoch-1 behavior).  Feed the collected rows to
    :func:`mixture_sample_df` (or use
    :func:`temperature_mixture_sample_df`).

    Two bounded aggregations: per-group counts (one exchange, key domain =
    the group vocabulary) and a 1-row total broadcast back.  ``alpha=0.5``
    computes via ``sqrt`` (IEEE-correctly-rounded, hence bit-identical
    across engines — the gate pins this); other alphas use ``pow``.
    """
    a = float(alpha)
    if not 0.0 <= a <= 1.0:
        raise ValueError(f"alpha must be in [0, 1], got {alpha}")
    powed = (
        F.sqrt(F.col("n_rows"))
        if a == 0.5
        else F.pow(F.col("n_rows"), F.lit(a))
    )
    g = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_rows"))
    g = g.withColumn("_pw", powed)
    tot = g.agg(
        F.sum("n_rows").alias("_N"), F.sum("_pw").alias("_S")
    )
    rate = F.lit(float(target_rate)) * F.col("_N") * (F.col("_pw") / F.col("_S")) / F.col(
        "n_rows"
    )
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            group_col,
            "n_rows",
            F.round(F.col("n_rows") / F.col("_N"), 6).alias("p_raw"),
            F.round(F.col("_pw") / F.col("_S"), 6).alias("p_temp"),
            F.round(F.least(F.lit(1.0), rate), 6).alias("sampling_frac"),
        )
    )


def temperature_mixture_sample_df(
    df: DataFrame,
    group_col: str,
    key_col: str,
    alpha: float = 0.5,
    target_rate: float = 1.0,
    salt: int = 0,
) -> DataFrame:
    """One-call temperature mixture: derive per-group keep rates from the
    observed sizes (:func:`temperature_fractions_df` — the collect is one
    row per GROUP, bounded by the group vocabulary, not the data) and apply
    them with the deterministic md5-bucket sampler
    (:func:`mixture_sample_df`) — reproducible, subset-stable, no RNG."""
    rows = temperature_fractions_df(
        df, group_col, alpha=alpha, target_rate=target_rate
    ).collect()
    fractions = {r[group_col]: float(r["sampling_frac"]) for r in rows}
    return mixture_sample_df(df, group_col, fractions, key_col, salt=salt)


def pack_documents_df(
    df: DataFrame,
    budget: int,
    weight_col: str = "n_chars",
    key_col: str = "doc_id",
    shards: int = 1024,
    salt: int = 0,
) -> DataFrame:
    """Assign every document to a fixed-budget pack (the sequence-packing
    step before pretraining): documents are ordered pseudo-randomly by
    ``md5(salt|key)`` within a hash shard and filled into consecutive
    running-sum bins of ``budget`` total ``weight_col`` — a document
    belongs to the bin where its cumulative range ENDS.  The budget is
    therefore SOFT: a boundary-straddling document pushes its bin over by
    less than its own weight, which is exactly the shape
    concatenate-and-split sequence packing wants — the materializer walks
    each shard in (hash, key) order and cuts at exact budget boundaries,
    splitting the straddler; ``pack_id`` tells it which cut each document
    finishes in.  (A hard per-bin cap would be a sequential recurrence —
    not expressible as one window pass, and unnecessary downstream.)

    Deterministic by construction — the pack of a document is a pure
    function of the corpus content, so re-runs and engine changes cannot
    reshuffle training sequences.  **Precondition**: ``key_col`` must be
    unique (the id-column contract) — duplicate keys make the
    ``(hash, key)`` order non-total and the running-sum assignment of the
    duplicates run-dependent.  Scale shape: packing is per-shard
    (``pmod(hash, shards)``), so the running sum is a window over ~1/shards
    of the corpus instead of a global single-partition sort — the standard
    distributed-packing tradeoff (no cross-shard bins).  Returns ``df``
    plus ``pack_id`` (= bin * shards + shard: collision-free across
    shards).
    """
    from pyspark.sql.window import Window

    if budget < 1:
        raise ValueError(f"budget must be >= 1, got {budget}")
    h = _key_hash(key_col, salt)
    shard = F.pmod(h, F.lit(shards))
    w = (
        Window.partitionBy("_shard")
        .orderBy("_h", key_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        df.withColumn("_h", h)
        .withColumn("_shard", shard)
        .withColumn("_cum", F.sum(F.col(weight_col)).over(w))
        .withColumn(
            "pack_id",
            # greatest(.., 0): zero-weight prefixes must not produce bin -1
            F.floor(F.greatest(F.col("_cum") - 1, F.lit(0)) / F.lit(budget)) * shards
            + F.col("_shard"),
        )
        .drop("_h", "_shard", "_cum")
    )


def filter_by_quantile_df(
    df: DataFrame,
    col: str,
    lo: float = 0.05,
    hi: float = 0.95,
    round_to: int = 5,
) -> DataFrame:
    """Keep rows whose ``col`` lies within the corpus's exact [``lo``,
    ``hi``] quantiles — the outlier trim every length-based cleaning
    recipe starts with (truncated docs at the bottom, concatenation
    accidents at the top).  Output = the surviving input rows.

    Plan: ONE 1-row exact-percentile aggregation broadcast in, then a
    row-local range filter — no second scan shape, no sort.  Thresholds
    round at ``round_to`` before comparing (the evt_median recipe: both
    engines compute the same interpolated double, rounding keeps the
    last-ulp question out of the verdicts).

    Scale note: Spark's exact ``percentile`` holds per-partition state
    bounded by the column's DISTINCT-value count — fine for the bounded
    integer columns this is built for (lengths, token counts).  For
    unbounded doubles at 100 TB use ``approx_percentile`` instead and
    accept the rank error; exactness is what makes this gate-able."""
    if not (0.0 <= float(lo) <= float(hi) <= 1.0):
        raise ValueError(f"need 0 <= lo <= hi <= 1, got lo={lo} hi={hi}")
    q = df.agg(
        F.round(F.expr(f"percentile({col}, {float(lo)!r}D)"), round_to).alias(
            "__qlo"
        ),
        F.round(F.expr(f"percentile({col}, {float(hi)!r}D)"), round_to).alias(
            "__qhi"
        ),
    # The 1-row threshold frame is localCheckpoint-ed (lazily) because a
    # COMPOSING caller that reuses the filtered output in several plan
    # branches would otherwise re-plan this subtree — scan + percentile
    # aggregation — once PER BRANCH (round-11 plan audit: cur_select3
    # carried FOUR copies of it, four full corpus scans for two numbers).
    # Lazy, so a single-use caller pays exactly the old plan; the
    # checkpoint dies with the DataFrame (no cacheManager entry).
    ).localCheckpoint(eager=False)
    return (
        df.crossJoin(F.broadcast(q))
        .filter((F.col(col) >= F.col("__qlo")) & (F.col(col) <= F.col("__qhi")))
        .drop("__qlo", "__qhi")
    )


def _joined_fp_set(docs: DataFrame, k: int, window: int, hash_fn: str) -> DataFrame:
    """``text.winnow_fp_set_df`` for a caller that joins on the
    fingerprints: the composed form of the ``winnow`` row of
    ``backend.ROUTES``."""
    from .text import winnow_fp_set_df

    form = choose_form("winnow", "auto", docs, hash_fn=hash_fn, composed=True)
    return winnow_fp_set_df(docs, k=k, window=window, hash_fn=hash_fn, strategy=form)


def contamination_pairs_df(
    train_docs: DataFrame,
    eval_docs: DataFrame,
    k: int = 8,
    window: int = 4,
    min_shared: int = 1,
    hash_fn: str = "md5",
) -> DataFrame:
    """Train/eval contamination scan (the decontamination step of an LLM
    data pipeline): pairs of (train doc, eval doc) sharing at least
    ``min_shared`` winnowing fingerprints — the winnowing guarantee makes
    any verbatim overlap of length >= ``k + window - 1`` chars produce at
    least one shared fingerprint, so leakage cannot hide below the
    threshold by luck.

    Plan shape: per-document fingerprint sets are ROW-LOCALLY distinct
    (``text.winnow_fp_set_df`` — each (doc, fp) exists exactly once with
    zero shuffles, replacing the old winnow-chain + dropDuplicates which
    paid two dedup shuffles per side), the candidate step is an EQUI-join
    on the fingerprint hash — no train x eval cross product — and the pair
    count is one groupBy: the whole scan is join + one aggregation.
    Returns ``(train_id, eval_id, n_shared)``.
    """
    tf = _joined_fp_set(train_docs, k, window, hash_fn).select(
        F.col("doc_id").alias("train_id"), "fp"
    )
    ef = _joined_fp_set(eval_docs, k, window, hash_fn).select(
        F.col("doc_id").alias("eval_id"), "fp"
    )
    return (
        tf.join(ef, "fp")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= int(min_shared))
    )


def contamination_pairs_bloom_df(
    train_docs: DataFrame,
    eval_docs: DataFrame,
    k: int = 8,
    window: int = 4,
    min_shared: int = 1,
    num_bits: int = 1 << 20,
    num_hashes: int = 5,
    hash_fn: str = "md5",
) -> DataFrame:
    """:func:`contamination_pairs_df` with a Bloom-filter prefilter on the
    train side — BIT-IDENTICAL output, built for the regime where the TRAIN
    corpus is the 100 TB side.

    Why the exact plan stops scaling first: the fp equi-join shuffles (or
    at best broadcasts the eval set against) EVERY train fingerprint —
    tens of fps per doc, so a 10^10-doc corpus pushes ~10^11 rows into the
    exchange even though almost none of them match anything.  The fix:
    build a Bloom filter over the EVAL fingerprints (one bounded-cardinality
    exchange — <= num_bits/64 rows — however large the eval set is, see
    ``bloom.bloom_build``), broadcast its bits, and drop non-matching train
    fps ROW-LOCALLY before the join.  No false negatives means every truly
    shared fp survives; surviving false positives (at
    ``bloom_fpr(num_bits, num_hashes, n_eval_fps)``) are killed by the
    exact equi-join that follows, so the pair counts — and therefore the
    decontamination decisions — are exactly those of the exact plan, while
    the join input shrinks to ``true matches + fpr * n_train_fps``.

    Size ``num_bits`` with ``bloom.bloom_size(n_eval_fps, fpp)`` — at the
    default 2^20 bits / 5 hashes a ~60k-fp holdout probes at fpr ~2e-3.
    """
    from .bloom import bloom_build, bloom_filter_df
    tf = _joined_fp_set(train_docs, k, window, hash_fn).select(
        F.col("doc_id").alias("train_id"), "fp"
    )
    ef = _joined_fp_set(eval_docs, k, window, hash_fn).select(
        F.col("doc_id").alias("eval_id"), "fp"
    )
    bloom = bloom_build(ef, "fp", num_bits=num_bits, num_hashes=num_hashes)
    tf_pruned = bloom_filter_df(tf, "fp", bloom)
    return (
        tf_pruned.join(ef, "fp")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= int(min_shared))
    )


def decontaminate_df(
    train_docs: DataFrame,
    eval_docs: DataFrame,
    k: int = 8,
    window: int = 4,
    min_shared: int = 3,
    hash_fn: str = "md5",
) -> DataFrame:
    """Drop every training document that shares >= ``min_shared`` winnowing
    fingerprints with any eval document (anti-join on the contamination
    pairs) — the one-call eval-leakage guard.

    Threshold tradeoff: ``min_shared=1`` flags ANY verbatim overlap of
    ``k + window - 1`` chars — including stock phrases that ordinary
    shared vocabulary produces — and silently over-deletes clean training
    data; real corpora want a higher bar (the driver gate uses 30 to
    separate planted duplicates at 51-203 shared fingerprints from
    background noise).  The default of 3 is a conservative floor; tune on
    a sample of your corpus with ``contamination_pairs_df`` first."""
    bad = contamination_pairs_df(
        train_docs, eval_docs, k=k, window=window, min_shared=min_shared,
        hash_fn=hash_fn,
    ).select(F.col("train_id").alias("doc_id")).dropDuplicates()
    return train_docs.join(bad, "doc_id", "left_anti")


def contamination_report_df(
    train_docs: DataFrame,
    eval_docs: DataFrame,
    k: int = 8,
    window: int = 4,
    hash_fn: str = "md5",
) -> DataFrame:
    """Per-eval-document contamination report: for each eval doc, how many
    of its winnowing fingerprints appear ANYWHERE in the training corpus —
    ``(eval_id, n_fps, n_hit, frac)``.  This is the benchmark-integrity
    summary an eval owner reads (``frac`` near 1 = the eval item is
    verbatim in training data; a long tail of small fractions = shared
    boilerplate), where :func:`contamination_pairs_df` answers the
    per-PAIR question for the decontamination side.

    Plan shape for the asymmetric regime (eval = thousands of docs, train
    = the 100 TB side): the eval fingerprint set is row-locally distinct
    and SMALL, so it broadcasts; train fingerprints are probed against it
    ROW-LOCALLY (broadcast left-semi join — the train side is never
    shuffled, aggregated, or deduplicated), and the surviving hit set —
    bounded by the EVAL fingerprint count, however large train is — is
    deduped in one tiny exchange and broadcast back to tag each eval
    fingerprint.  Totals and hits are then one bounded groupBy on the eval
    side.  If even the eval fingerprint set outgrows the broadcast budget,
    prefilter train with :mod:`.bloom` first (the
    :func:`contamination_pairs_bloom_df` recipe) and fall back to the
    equi-join.
    """
    from .text import winnow_fp_set_df

    # The train side takes the joined (composed) winnow form, the eval
    # side the leaf one.  The round-11 and round-12 A/Bs of this shape
    # disagreed (arrow 3.24-3.47 vs window 4.33-4.95 s, then window
    # 2.2-4.4 vs arrow 4.7-11.1 s): the win is allocator/page-regime-
    # shaped, not plan-shaped, so the pick follows the measured box in
    # the ``winnow`` row of ``backend.ROUTES`` (FASTPATH.md round-12).
    #
    # the eval fp frame feeds BOTH the probe set and the report tail —
    # localCheckpoint it so the eval winnowing chain executes once (two
    # plan branches would re-run it; the frame is small by the asymmetric
    # contract, and a local checkpoint dies with the DataFrame instead of
    # leaving a cacheManager entry behind — the cur_select2 recipe)
    ef = (
        winnow_fp_set_df(eval_docs, k=k, window=window, hash_fn=hash_fn)
        .select(F.col("doc_id").alias("eval_id"), "fp")
        .localCheckpoint(eager=False)
    )
    tf = _joined_fp_set(train_docs, k, window, hash_fn).select("fp")
    ef_fps = ef.select("fp").dropDuplicates()
    # train fps that hit the eval set: row-local probe, result bounded by
    # |eval fps| — the only train-side work is the scan itself
    hit_fps = (
        tf.join(F.broadcast(ef_fps), "fp", "left_semi").dropDuplicates()
    )
    return _contamination_report_tail(ef, hit_fps)


def _contamination_report_tail(ef: DataFrame, hit_fps: DataFrame) -> DataFrame:
    """Shared tail of :func:`contamination_report_df` and the streaming
    hit-log reader (``streaming.curate.contamination_report_from_hits``):
    tag each eval ``(eval_id, fp)`` against the hit-fp set — bounded by
    the EVAL fingerprint count, so it broadcasts — then one bounded
    eval-side groupBy.  One owner for the n_fps/n_hit/frac semantics."""
    tagged = ef.join(F.broadcast(hit_fps.withColumn("_hit", F.lit(1))), "fp", "left")
    return (
        tagged.groupBy("eval_id")
        .agg(
            F.count(F.lit(1)).alias("n_fps"),
            F.coalesce(F.sum("_hit"), F.lit(0)).cast("long").alias("n_hit"),
        )
        .select(
            "eval_id",
            "n_fps",
            "n_hit",
            F.round(F.col("n_hit") / F.col("n_fps"), 6).alias("frac"),
        )
    )


def decontaminate_bloom_df(
    train_docs: DataFrame,
    eval_docs: DataFrame,
    k: int = 8,
    window: int = 4,
    min_shared: int = 3,
    num_bits: int = 1 << 20,
    num_hashes: int = 5,
    hash_fn: str = "md5",
) -> DataFrame:
    """:func:`decontaminate_df` through the Bloom-prefiltered scan —
    identical survivors (the prefilter changes the join INPUT, never the
    join RESULT; see :func:`contamination_pairs_bloom_df`), built for
    100 TB train corpora."""
    bad = (
        contamination_pairs_bloom_df(
            train_docs,
            eval_docs,
            k=k,
            window=window,
            min_shared=min_shared,
            num_bits=num_bits,
            num_hashes=num_hashes,
            hash_fn=hash_fn,
        )
        .select(F.col("train_id").alias("doc_id"))
        .dropDuplicates()
    )
    return train_docs.join(bad, "doc_id", "left_anti")


def corpus_profile_df(docs: DataFrame, min_tokens: int = 5, n_langs: int = 5) -> DataFrame:
    """Per-language corpus data card — the summary table a training-mix
    owner reads before touching the mixture weights: document/token/char
    volumes, mean quality ratios, and the short-document count (``n_short``)
    plus fraction (``short_frac = n_short / n_docs``), grouped by predicted
    language.

    Plan shape (the whole point at 100 TB): every per-document metric —
    token counts, quality ratios (the ``text.quality_df`` arithmetic), and
    the language bucket (the ``text.langid_df`` vote) — is computed
    ROW-LOCALLY in one projection over ONE scan, then a single
    map-side-combined ``groupBy(lang_pred)`` aggregation produces the
    card.  Composing the standalone operators with joins instead would
    re-scan the corpus per metric family and shuffle on doc_id; this is
    the fused form.  Per-doc ratios are rounded to the 4-decimal grain
    BEFORE averaging (the repo's cross-engine determinism recipe) and the
    averages to 6.
    """
    from .text import _lang_pred, _quality_ratios, with_tokens

    cpt, stop_r, ttr = _quality_ratios()
    t = with_tokens(docs).select(
        _lang_pred(n_langs).alias("lang_pred"),
        F.size("tokens").alias("n_tok"),
        F.length("text").alias("n_chars"),
        cpt.alias("cpt"),
        stop_r.alias("stop_r"),
        ttr.alias("ttr"),
    )
    return t.groupBy("lang_pred").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.round(F.avg("n_tok"), 4).alias("avg_tokens"),
        F.round(F.avg("cpt"), 6).alias("avg_chars_per_token"),
        F.round(F.avg("stop_r"), 6).alias("avg_stopword_ratio"),
        F.round(F.avg("ttr"), 6).alias("avg_type_token_ratio"),
        F.sum((F.col("n_tok") < int(min_tokens)).cast("bigint")).alias("n_short"),
    ).withColumn(
        # the FRACTION the docstring promises, next to the absolute count;
        # a ratio of two bigints is the same double on every engine
        "short_frac",
        F.round(F.col("n_short") / F.col("n_docs"), 6),
    )


def curate_documents(
    docs: DataFrame,
    min_tokens: int = 5,
    max_chars_per_token: float = 12.0,
    min_type_token_ratio: float = 0.2,
    near_dup_threshold: float = 0.6,
    num_hashes: int = 8,
    bands: int = 4,
    rows_per_band: int = 2,
) -> DataFrame:
    """Full curation: quality gate -> exact dedup -> near dedup -> token
    budgets.  Returns the surviving documents with ``n_words`` / ``n_bpe``
    annotations: ``(doc_id, text, n_words, n_bpe, n_unique_bpe)``.
    """
    passed = quality_filter_df(
        docs,
        min_tokens=min_tokens,
        max_chars_per_token=max_chars_per_token,
        min_type_token_ratio=min_type_token_ratio,
    )
    unique = drop_exact_duplicates(passed)
    survivors = drop_near_duplicates_df(
        unique,
        num_hashes=num_hashes,
        bands=bands,
        rows_per_band=rows_per_band,
        threshold=near_dup_threshold,
    )
    budgets = bpe_token_count_df(survivors)
    return survivors.join(budgets, "doc_id").select(
        "doc_id", "text", "n_words", "n_bpe", "n_unique_bpe"
    )


def _feature_array_sql(toks: str = "toks") -> str:
    """The SINGLE owner of the unigram+bigram feature-array SQL (row-local,
    ``toks`` bound as a lambda variable against the CollapseProject
    re-evaluation trap).  Every fit/apply/train path MUST build features
    from this string — four hand-maintained copies had already drifted in
    lambda naming, and any real divergence silently breaks the
    "bucket ids line up by construction" contract between fit and apply."""
    return (
        f"concat({toks}, transform(array({toks}), t -> if(size(t) >= 2,"
        f" transform(sequence(1, size(t) - 1), i -> concat(t[i - 1], ' ', t[i])),"
        f" array()))[0])"
    )


def _raw_hash_sql(expr: str, salt: int) -> str:
    """The 60-bit md5 feature hash as SQL text BEFORE the bucket modulus
    (mirrors dedup._md5_hash_col) — what the shared feature frame stores
    so ONE frame serves consumers with different bucket counts."""
    return (
        f"CAST(conv(substring(md5(concat('{int(salt)}|', {expr})), 1, 15),"
        f" 16, 10) AS BIGINT)"
    )


def _bucket_hash_sql(expr: str, salt: int, B: int) -> str:
    """md5 feature-bucket hash as SQL text."""
    return f"CAST({_raw_hash_sql(expr, salt)} % {int(B)} AS INT)"


def _logit_prob_df(
    buckets: DataFrame, weights: DataFrame, bias: float, what: str
) -> DataFrame:
    """Shared body of both join-form classifier scorers over a ``(doc_id,
    bucket)`` feature stream: the weight snap, the per-doc micro-weight
    sum (missing buckets weigh 0), its signed round-half-away mean plus
    bias, then the sigmoid of the tie-free micro logit, rounded at 6 (see
    classifier_score_df for the rationale).  ``what`` names the caller in
    the duplicate-bucket assert."""
    wm, bias_micro = _snap_weights(weights, bias, what)
    agg = _doc_sums(buckets, wm, F.coalesce("w_micro", F.lit(0)), "s")
    return agg.selectExpr(
        "doc_id",
        "n_feats",
        f"CAST({bias_micro} AS BIGINT) + CASE WHEN s >= 0"
        " THEN (2 * s + n_feats) DIV (2 * n_feats)"
        " ELSE -((2 * (-s) + n_feats) DIV (2 * n_feats)) END AS logit_micro",
    ).selectExpr(
        "doc_id",
        "n_feats",
        "logit_micro",
        "ROUND(CAST(1 AS DOUBLE) /"
        " (CAST(1 AS DOUBLE) + EXP(CAST(0 AS DOUBLE) - logit_micro / CAST(1000000 AS DOUBLE))), 6)"
        " AS prob",
    )


def roc_points_df(
    scored: DataFrame,
    label_col: str,
    score_col: str = "logit_micro",
    n_buckets: int = 64,
    lo: int | None = None,
    hi: int | None = None,
) -> DataFrame:
    """Bucketed ROC/precision curve over an INTEGER score column — how a
    pipeline picks the classifier filter threshold ("keep documents the
    quality model scores above X") with measured tradeoffs instead of a
    guess.  One row per non-empty score bucket, descending-threshold
    cumulative counts: ``(bucket, threshold_micro, n_rows, n_pos, tp,
    fp, tpr_micro, fpr_micro, prec_micro)`` where ``threshold_micro``
    is the SMALLEST score the bucket contains (the ceiling of its exact
    lower edge), ``tp``/``fp`` count rows with ``score >=
    threshold_micro`` (exactly — deploying that filter reproduces the
    reported rates), and the rates are integer micro-ratios
    (``x * 10^6 DIV total`` — exact, order-proof, cross-engine).

    Scale shape: an EXACT ROC needs a global sort by score (every
    distinct score is a threshold) — a non-starter at 100 TB.  Bucketing
    the integer score space first makes the curve a MODEL-SIZE object:
    one map-side-combined ``groupBy(bucket)`` over the corpus (≤
    ``n_buckets`` output rows), then the cumulative window runs over
    those ≤ ``n_buckets`` rows on one partition — sorting a model, not a
    corpus (the ``bpe_vocab_df`` precedent).  ``lo``/``hi`` bound the
    score space; omitted, ONE 1-row min/max aggregate is collected
    (bounded driver action, the ``filter_by_quantile_df`` precedent).
    Scores outside [lo, hi] clamp into the edge buckets.

    ``label_col`` must be 0/1 (ints or booleans).  NULL scores/labels
    are excluded.  All-positive or all-negative inputs yield NULL
    fpr/tpr respectively (division guarded on BOTH engines — DuckDB
    errors on integer division by zero where Spark returns NULL)."""
    from pyspark.sql.window import Window

    n = int(n_buckets)
    if n < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    d = scored.filter(
        F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(
        F.col(score_col).cast("long").alias("__s"),
        F.col(label_col).cast("int").alias("__y"),
    )
    if lo is None or hi is None:
        r = d.agg(F.min("__s").alias("lo"), F.max("__s").alias("hi")).first()
        if r["lo"] is None:
            raise ValueError("roc_points_df: no scorable rows")
        lo = int(r["lo"]) if lo is None else int(lo)
        hi = int(r["hi"]) if hi is None else int(hi)
    lo, hi = int(lo), int(hi)
    if hi < lo:
        raise ValueError(f"hi must be >= lo, got [{lo}, {hi}]")
    width = hi - lo + 1
    clamped = F.greatest(F.lit(lo), F.least(F.lit(hi), F.col("__s")))
    per = (
        d.select(
            F.floor(((clamped - F.lit(lo)) * F.lit(n)) / F.lit(width))
            .cast("int")
            .alias("bucket"),
            "__y",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("__y").cast("long").alias("n_pos"),
        )
    )
    w_cum = Window.orderBy(F.desc("bucket")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.orderBy(F.desc("bucket")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        per.withColumn("tp", F.sum("n_pos").over(w_cum))
        .withColumn("fp", (F.sum("n_rows").over(w_cum) - F.col("tp")))
        .withColumn("__P", F.sum("n_pos").over(w_all))
        .withColumn("__N", F.sum(F.col("n_rows") - F.col("n_pos")).over(w_all))
        .selectExpr(
            "bucket",
            # CEILING of the bucket's exact lower edge: the smallest
            # integer score bucket b can contain is lo + ceil(b*width/n)
            # (floor((s-lo)*n/width) = b  <=>  s-lo >= ceil(b*width/n)),
            # so 'score >= threshold_micro' selects exactly the rows
            # tp/fp count — a floored edge would also admit the top of
            # bucket b-1 whenever n does not divide width
            f"CAST({lo} AS BIGINT)"
            f" + (CAST(bucket AS BIGINT) * {width} + {n - 1}) DIV {n}"
            " AS threshold_micro",
            "n_rows",
            "n_pos",
            "tp",
            "fp",
            "CASE WHEN __P > 0 THEN (tp * 1000000) DIV __P END AS tpr_micro",
            "CASE WHEN __N > 0 THEN (fp * 1000000) DIV __N END AS fpr_micro",
            "CASE WHEN tp + fp > 0 THEN (tp * 1000000) DIV (tp + fp) END"
            " AS prec_micro",
        )
    )


def select_by_roc_df(
    scored: DataFrame,
    label_col: str,
    score_col: str = "logit_micro",
    n_buckets: int = 64,
    max_fpr_micro: int = 100000,
    lo: int | None = None,
    hi: int | None = None,
    persist: bool = True,
) -> DataFrame:
    """Curve -> threshold -> filter, composed: pick the MOST PERMISSIVE
    operating point on the :func:`roc_points_df` curve whose measured
    false-positive rate fits the budget (the smallest ``threshold_micro``
    with ``fpr_micro <= max_fpr_micro`` — descending thresholds only add
    fp, so this is the max-recall point within budget) and deploy it as
    the filter ``score >= threshold``.  Because ``threshold_micro`` is
    the ceiling of its bucket's exact lower edge (roc_points_df's
    contract), the deployed filter admits EXACTLY the rows whose tp/fp
    the curve reported for that point — the selection rate you measured
    is the one you ship.  Survivors keep their columns plus
    ``threshold_micro`` (the deployed constant, auditable in the output
    — a data card should record it).

    Scale shape: the curve is a model-size object (<= n_buckets rows),
    so the threshold pick is a bounded 1-row driver action (the
    filter_by_quantile_df precedent); the deployed filter is a pure
    row-local predicate.  The input is scanned twice (curve + filter),
    so by default it is persisted HERE (MEMORY_AND_DISK, skipped when
    already cached): if the upstream plan is non-deterministic
    (sampling, changing source files), an unpersisted second scan could
    ship a threshold whose measured curve came from different rows —
    breaking the exactness contract above.  Pass ``persist=False`` only
    when the input is deterministic AND too large to cache (then the
    contract holds because both scans see the same rows anyway).
    Raises if no curve point fits the budget (the top bucket's fpr
    already exceeds it) or fpr is unmeasurable (no negative labels)."""
    from pyspark import StorageLevel

    # storageLevel asks the CacheManager about the PLAN (catches a cache
    # made through another DataFrame reference, unlike the is_cached flag)
    if persist and scored.storageLevel == StorageLevel.NONE:
        scored = scored.persist(StorageLevel.MEMORY_AND_DISK)
    curve = roc_points_df(scored, label_col, score_col, n_buckets, lo, hi)
    row = (
        curve.filter(F.col("fpr_micro") <= int(max_fpr_micro))
        .agg(F.min("threshold_micro").alias("thr"))
        .first()
    )
    if row is None or row["thr"] is None:
        raise ValueError(
            "select_by_roc_df: no curve point has fpr_micro <= "
            f"{max_fpr_micro} (or no negative labels to measure fpr)"
        )
    thr = int(row["thr"])
    return scored.filter(F.col(score_col) >= thr).withColumn(
        "threshold_micro", F.lit(thr).cast("long")
    )


def _assert_unique_buckets(weights: DataFrame, val_col: str, what: str) -> DataFrame:
    """Collapse a ``(bucket, <val>)`` table to unique buckets with a LOUD
    runtime guard: duplicate bucket rows raise instead of silently
    corrupting scores (the dense-vector form would keep one arbitrary
    row; the join form would double-count features — the
    worst kind of divergence, both wrong and different).  Any further
    column rides along as its per-bucket max."""
    rest = [c for c in weights.columns if c not in ("bucket", val_col)]
    g = weights.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("_c"),
        *[F.max(c).alias(c) for c in (val_col, *rest)],
    )
    return g.selectExpr(
        "bucket",
        f"{val_col} + coalesce(CAST(assert_true(_c = 1,"
        f" '{what}: duplicate bucket rows in the weight/model table')"
        f" AS BIGINT), CAST(0 AS BIGINT)) AS {val_col}",
        *rest,
    )


def _check_args(num_buckets=None, add_k=None, k=None) -> None:
    """The selection family's one argument validator: each entry point
    passes exactly the arguments it checks (``None``: not checked)."""
    if num_buckets is not None and int(num_buckets) <= 0:
        raise ValueError(f"num_buckets must be positive, got {num_buckets}")
    if add_k is not None and float(add_k) <= 0:
        raise ValueError(f"add_k must be > 0, got {add_k}")
    if k is not None and k <= 0:
        raise ValueError(f"k must be positive, got {k}")


def _snap_weights(weights: DataFrame, bias: float, what: str):
    """The classifier scorers' one weight snap: a ``(bucket, weight)``
    table to unique-bucket ``(bucket, w_micro)`` rows on the integer
    micro grid (``what`` names the caller in the duplicate-bucket
    assert), and ``bias`` to micro-units.  Returns ``(wm, bias_micro)``."""
    wm = _assert_unique_buckets(
        weights.select(
            F.col("bucket").cast("long").alias("bucket"),
            F.expr("CAST(ROUND(weight * 1000000) AS BIGINT)").alias("w_micro"),
        ),
        "w_micro",
        what,
    )
    return wm, round(float(bias) * 1_000_000)


def _doc_sums(buckets: DataFrame, table: DataFrame, value, out: str) -> DataFrame:
    """The selection family's one join-form scoring tail: broadcast the
    ``<= B``-row ``(bucket, ..)`` table onto a ``(doc_id, bucket)``
    feature stream and aggregate per document into ``(doc_id, n_feats,
    <out>)``, ``<out> = sum(value)``.  A stream already partitioned by
    doc_id satisfies the ``groupBy`` with no further exchange."""
    return (
        buckets.join(F.broadcast(table), "bucket", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_feats"),
            F.sum(value).alias(out),
        )
    )


def _dsir_features(d: DataFrame, by_doc: bool = False) -> DataFrame:
    """Exploded hashed-n-gram feature stream ``(doc_id, feat)``: unigrams
    plus space-joined bigrams of the normalized whitespace tokens — the
    feature space of Xie et al. 2023 (DSIR), which hashes exactly these
    into a bounded bucket table.  Row-local explode, no shuffle.

    ``by_doc=True`` repartitions by doc_id while rows are still COMPACT
    documents so the caller's final ``groupBy(doc_id)`` is satisfied
    without exploded-row shuffling.  The
    bigram builder binds ``toks`` as a lambda variable (``transform(array
    (toks), t -> ..)[0]``) — referencing an expression column inside a
    lambda body re-evaluates it per invocation otherwise (the
    CollapseProject trap, see dedup.simhash_df's 'local' fold comment)."""
    base = d.filter(F.col("text").isNotNull()).select(
        "doc_id", F.array_remove(F.split(normalized_text(), " "), "").alias("toks")
    )
    if by_doc:
        base = base.repartition("doc_id")
    return base.selectExpr(
        "doc_id",
        f"explode({_feature_array_sql()}) AS feat",
    )


def _dense_weights(wdf: DataFrame, col: str, B: int, fill: str = "0") -> "object":
    """The row-local scorers' one model-to-vector step: collect a ``(bucket,
    col)`` table of ``<= B`` rows (one Spark job, at plan build) into a
    dense ``B``-long int64 vector.  Missing buckets and NULL ``col``
    values take the fill, SQL text evaluated per row in the same query
    (every row of a model carries the same; an empty model fills 0):
    ``0`` for classifier weights, which is ``F.sum``'s NULL-skip in the
    join form, and the smoothing prior for a DSIR model.  Out-of-range
    buckets are dropped: they never join a ``% B`` bucket in the join
    forms."""
    import numpy as np

    mp = wdf.selectExpr("bucket", col, f"{fill} AS fill").toPandas()
    f = int(mp["fill"].max()) if mp["fill"].notna().any() else 0
    b = mp["bucket"].to_numpy(dtype=np.int64)
    ok = (b >= 0) & (b < B)
    w = np.full(B, f, dtype=np.int64)
    w[b[ok]] = mp[col].fillna(f).to_numpy(dtype=np.int64)[ok]
    return w


def _feature_sum_arrow_df(
    docs: DataFrame, w: "object", salt: int, fields: list, finish
) -> DataFrame:
    """The hashed-feature-sum Arrow kernel shared by DSIR scoring and
    classifier scoring: per document ``s = sum w[md5_60(salt|feat) %
    B]`` over its unigram + bigram features, ``B = len(w)``, with zero
    scoring-side shuffles.  ``finish(n_feats, s)`` maps one batch's
    per-doc int64 arrays to the output columns after ``doc_id``
    (``fields``, as ``(name, ddl_type)`` pairs).

    Exact parity with the JVM forms by construction:

    - tokens: the plan trims the normalized text (``normalized_text``
      leaves one space where a leading or trailing tab/newline was) and
      drops empty rows, so its single-space split equals ``array_remove(
      split(nt, ' '), '')`` and zero-token documents are absent, as the
      explode forms drop them;
    - features: after normalization a unigram and an adjacent-pair
      bigram are both contiguous BYTE SPANS of ``nt`` (a bigram runs
      from its first token's start to its second token's end), so the
      kernel never builds feature strings
      (:func:`~imops_spark.functions.md5v.tokenize_spaces`);
    - hashes: the 60-bit md5 bucket hash (``conv(substring(md5('{salt}|'
      + feat), 1, 15), 16, 10) % B``) by the vectorized single-block MD5
      with its per-row ``hashlib`` fallback for long features
      (:func:`~imops_spark.functions.md5v.md5_top60_spans`);
    - sums: integer gathers from ``w`` and ``np.add.reduceat`` over
      per-doc segments in int64 — exact (at |w| < 2.4e7 a document would
      need ~4e11 features to approach int64) and order-free, so a
      document over one hash chunk folds its sub-ranges by addition
      (:func:`~imops_spark.functions.md5v.fold_chunks`).

    ``w`` ships in the UDF closure: no broadcast variable outlives the
    query."""
    import numpy as np

    from .md5v import _MINHASH_CHUNK_SHINGLES as chunk_feats
    from .md5v import fold_chunks, md5_top60_spans, tokenize_spaces

    prefix = [f"{int(salt)}|".encode()]
    BB = np.uint64(len(w))

    def batch(pdf):
        data, ts, te, n = tokenize_spaces(pdf["nt"])
        # per doc: u0 b01 u1 b12 .. u(n-1) — unigram i then the bigram
        # it starts, except after the doc's last token
        nxt_end = np.append(te[1:], 0)
        keep = np.ones(2 * len(ts), dtype=bool)
        keep[2 * np.cumsum(n) - 1] = False
        f_start = np.repeat(ts, 2)[keep]
        f_len = np.stack([te, nxt_end], axis=1).ravel()[keep] - f_start
        m = 2 * n - 1

        def chunk_sums(s0, s1, seg):
            (h,) = md5_top60_spans(data, f_start[s0:s1], f_len[s0:s1], prefix)
            return np.add.reduceat(w[(h % BB).astype(np.int64)], seg)

        sums = np.empty(len(pdf), dtype=np.int64)
        fold_chunks(m, chunk_feats, chunk_sums, np.add, sums)
        return slice(None), finish(m, sums)

    return _doc_kernel(
        docs,
        fields,
        lambda: batch,
        nt=F.trim(normalized_text()),
        where=F.length("nt") > 0,
    )


def dsir_logweights_df(
    docs: DataFrame,
    target_docs: DataFrame,
    num_buckets: int = 1024,
    add_k: float = 1.0,
    salt: int = 50,
    strategy: str = "auto",
) -> DataFrame:
    """Per-document DSIR importance log-weights: score every document in
    ``docs`` by how much more likely its hashed-n-gram features are under
    the TARGET distribution (fit on ``target_docs``) than under the RAW
    distribution (fit on ``docs``) — Data Selection via Importance
    Resampling (Xie et al., NeurIPS 2023).  This is the published recipe
    for skewing a web-scale crawl toward a quality domain (Wikipedia,
    books, a curated eval-adjacent corpus) without training a classifier.
    On a batch ``docs`` the default ``strategy`` (``'arrow'``) fits and
    collects the ``<= num_buckets``-row model EAGERLY, at plan build: the
    call itself runs the model job over both corpora before it returns.

    Model: features are unigrams + bigrams hashed into ``num_buckets``
    buckets (``md5(salt|feat) % B`` — the repo's cross-engine hash); each
    corpus induces an add-``add_k``-smoothed multinomial over buckets;

        log w(doc) = sum_{feature occurrences} [ log p_tgt(b) - log p_raw(b) ]

    Output: ``(doc_id, n_feats, logw_micro)`` where ``logw_micro`` is the
    integer micro-nat sum — each feature's log-ratio is snapped to
    ``round(lr * 1e6)`` BEFORE summation so the per-document total is
    exact integer arithmetic, order-independent under Spark's partial
    aggregation (the ngram_lm_df determinism recipe).  Documents with no
    tokens produce no features and are absent.  An EMPTY ``target_docs``
    degrades to the uniform smoothing prior (every bucket scores
    ``log((a/aB) / p_raw)``) — callers own validating their target
    sample.

    Plan shape at 100 TB: BOTH bucket distributions come out of ONE tagged
    aggregation — the target and raw feature streams union with a source
    flag, one map-side-combined ``groupBy(bucket)`` produces ``(bucket,
    tc, rc)``, and the totals ride along as unpartitioned window sums over
    the ``<= B``-row aggregate (no re-planned total branches: a separate
    ``agg(sum)`` re-scans the whole feature subtree, because column
    pruning differentiates the branches and defeats ReusedExchange — the
    dd_spans lesson).  The scoring side then takes the single model table
    as ONE broadcast join; the corpus itself shuffles exactly once, by
    doc_id, while rows are still compact documents — explode, hash, join
    and the final ``groupBy(doc_id)`` all run inside that one exchange.
    Scoring ``docs`` against itself still plans the raw feature subtree
    twice (model branch + score branch) — same accepted trade as
    self-trained ``text.ngram_lm_df``; at real scale fit the raw model on
    a ``hash_sample_df`` slice instead and the model branch shrinks to a
    sample scan.

    ``strategy``: ``'agg'`` — the explode + broadcast-join + doc
    aggregation scoring above; ``'arrow'`` — :func:`dsir_score_local_df`
    over the fitted model (the hashed-feature-sum kernel: vectorized
    single-block md5 bucket hashing over byte spans + integer gathers
    from the collected ``<= B``-row model, zero scoring-side shuffles —
    one pushed scan (+ the conditional ``_widen``) into a stateless
    ``mapInPandas`` — exact parity by construction); ``'auto'`` — the
    ``dsir`` row of ``backend.ROUTES``.
    """
    B = int(num_buckets)
    form = choose_form("dsir", strategy, docs)
    model = dsir_model_df(
        docs, target_docs, num_buckets=num_buckets, add_k=add_k, salt=salt
    )
    if form == "arrow":
        return dsir_score_local_df(
            docs, model, num_buckets=num_buckets, add_k=add_k, salt=salt
        )
    # every scored bucket is in the model by construction (the raw stream
    # IS the scored corpus), so lrm is never NULL here
    return _doc_sums(
        _dsir_bucketed(docs, B, salt, by_doc=True),
        model.select("bucket", "lrm"),
        "lrm",
        "logw_micro",
    )


def _dsir_bucketed(d: DataFrame, B: int, salt: int, by_doc: bool = False) -> DataFrame:
    f = _dsir_features(d, by_doc=by_doc)
    return f.select(
        "doc_id", (_md5_hash_col(F.col("feat"), salt) % F.lit(B)).alias("bucket")
    )


def dsir_feature_frame_df(
    docs: DataFrame, salt: int = 50, by_doc: bool = True, carry: tuple = ()
) -> DataFrame:
    """The SHARED hashed-feature frame of the selection family:
    ``(doc_id, fh array<long>)``, one COMPACT row per document holding the
    60-bit md5 hashes of its unigram+bigram features (pre-modulus, so one
    frame serves any ``num_buckets``).  Derive it ONCE, ``persist()`` it,
    and feed every ``*_from_features`` twin — classifier apply, DSIR model
    fit, DSIR scoring/sampling — from the same materialization.

    Why this exists: a selection pipeline (classifier filter -> DSIR fit
    on survivors -> importance sampling) otherwise re-derives the same
    normalize/tokenize/bigram/md5 work per stage — at sf0.1 the composed
    ``cur_select2`` plan scanned and re-featurized ``documents`` three
    times, and at 100 TB the duplicated feature extraction dominates the
    job.  The compact array form keeps the persisted footprint at ~8
    bytes per feature occurrence (no per-row doc_id repetition), and
    ``by_doc=True`` pre-partitions by doc_id so every consumer's final
    ``groupBy(doc_id)`` is satisfied by the persisted partitioning —
    explode preserves partitioning, so scoring needs ZERO further
    exchanges of the wide feature stream.

    Zero-token documents keep an empty array here and vanish on the
    consumers' explode — identical absence semantics to the inline paths
    (differential-tested).

    ``carry`` names extra input columns to ride along (e.g. a language
    tag, a precomputed chunk budget): they let a whole selection pipeline
    derive EVERYTHING from this one frame instead of re-scanning the
    corpus for metadata.  Consumers prune them automatically."""
    from ..utils import quote_carry

    carry = quote_carry(carry, frozenset({"doc_id", "toks", "fh"}))
    base = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", *carry, F.col("text")
    )
    if by_doc:
        # repartition the RAW text, not the token arrays: the exchange then
        # carries compact strings and — more importantly — the tokenize/
        # bigram/hash CPU all runs at full width after it (a narrow parquet
        # scan otherwise does the tokenization on its 1-2 splits: profiled
        # as cur_select2's 2-task 0.8 s straggler stage)
        base = base.repartition("doc_id")
    return base.select(
        "doc_id",
        *carry,
        F.array_remove(F.split(normalized_text(), " "), "").alias("toks"),
    ).selectExpr(
        "doc_id",
        *carry,
        f"transform({_feature_array_sql()}, f -> {_raw_hash_sql('f', salt)}) AS fh",
    )


def _explode_bucketed(frame: DataFrame, B: int) -> DataFrame:
    """Shared-frame -> exploded ``(doc_id, bucket)`` stream (the
    :func:`_dsir_bucketed` shape, minus the re-derivation): explode the
    persisted hash arrays and apply this consumer's modulus.  The stored
    hash is non-negative, so ``%`` equals pmod."""
    return frame.select("doc_id", F.explode("fh").alias("__fh")).select(
        "doc_id", (F.col("__fh") % F.lit(int(B))).alias("bucket")
    )


def dsir_model_from_features_df(
    raw_frame: DataFrame,
    target_frame: DataFrame,
    num_buckets: int = 1024,
    add_k: float = 1.0,
) -> DataFrame:
    """:func:`dsir_model_df` fed from persisted
    :func:`dsir_feature_frame_df` frames instead of raw documents — same
    output, same tagged-union single-aggregation plan, no re-featurizing.
    Both frames must share the salt they were built with."""
    _check_args(num_buckets=num_buckets, add_k=add_k)
    B = int(num_buckets)
    return _dsir_fit_union(
        _explode_bucketed(target_frame, B), _explode_bucketed(raw_frame, B), B, add_k
    )


def dsir_logweights_from_features_df(
    frame: DataFrame, model: DataFrame, num_buckets: int = 1024
) -> DataFrame:
    """:func:`dsir_logweights_df`'s scoring half over a persisted feature
    frame and a pre-fit model: broadcast model join + one ``groupBy
    (doc_id)`` that the frame's doc_id partitioning already satisfies.
    Buckets absent from the model score NULL — fit the model on (a
    superset of) the scored corpus, or use :func:`dsir_score_local_df`
    whose dense array fills unseen buckets with the smoothing prior."""
    return _doc_sums(
        _explode_bucketed(frame, int(num_buckets)),
        model.select("bucket", "lrm"),
        "lrm",
        "logw_micro",
    )


def _gumbel_topk(k: int, salt: int, gumbel: bool, weights) -> DataFrame:
    """Shared tail of the DSIR samplers: deterministic md5-derived Gumbel
    key in integer micro-nats, global top-k as TakeOrderedAndProject.
    ``weights`` is a zero-argument builder of the ``(doc_id, ..,
    logw_micro)`` frame, called only after ``k`` passes its check — so a
    bad ``k`` fails before any eager model job."""
    _check_args(k=k)
    w = weights()
    if gumbel:
        h = _md5_hash_col(F.col("doc_id").cast("string"), salt + 1)
        u = (h % F.lit(1_000_000) + F.lit(0.5)) / F.lit(1_000_000.0)
        key = F.col("logw_micro") + F.round(-F.log(-F.log(u)) * 1_000_000).cast(
            "long"
        )
    else:
        key = F.col("logw_micro")
    return (
        w.withColumn("key", key)
        .orderBy(F.desc("key"), F.asc("doc_id"))
        .limit(int(k))
    )


def dsir_sample_from_features_df(
    frame: DataFrame,
    target_frame: DataFrame,
    k: int,
    num_buckets: int = 1024,
    add_k: float = 1.0,
    salt: int = 50,
    gumbel: bool = True,
) -> DataFrame:
    """:func:`dsir_sample_df` over persisted feature frames: fit the model
    and score from the SAME materialization (``salt`` must match the
    frames' build salt — it also seeds the Gumbel keys)."""

    def weights():
        model = dsir_model_from_features_df(
            frame, target_frame, num_buckets=num_buckets, add_k=add_k
        )
        return dsir_logweights_from_features_df(frame, model, num_buckets=num_buckets)

    return _gumbel_topk(k, salt, gumbel, weights)


def dsir_exploded_features_df(
    frame: DataFrame, num_buckets: int = 1024, target_flag=None
) -> DataFrame:
    """Explode a persisted :func:`dsir_feature_frame_df` ONCE with this
    consumer's modulus: ``(doc_id, is_tgt, bucket)``.  ``target_flag`` is
    a boolean Column over the frame's columns marking target-distribution
    membership (e.g. ``F.col("lang") == "en"``).

    Why: when the DSIR target is a SLICE of the scored corpus (the common
    shape — a language, a source, a quality tier), fitting the model and
    scoring from separate frames explodes the feature arrays three times
    (target stream + raw stream + scoring stream).  Checkpoint THIS
    instead and feed both :func:`dsir_model_from_exploded_df` and
    :func:`dsir_logweights_from_exploded_df` from it: ONE explode of the
    frame, measured ~12% off the composed selection chain at sf0.1 and a
    3x reduction of the widest stream's evaluations at scale.  The
    explode preserves the frame's doc_id partitioning, so the scoring
    groupBy still needs no exchange."""
    _check_args(num_buckets=num_buckets)
    B = int(num_buckets)
    flag = (
        F.lit(0) if target_flag is None else target_flag.cast("int")
    )
    return frame.select(
        "doc_id", flag.alias("is_tgt"), F.explode("fh").alias("__fh")
    ).select("doc_id", "is_tgt", (F.col("__fh") % F.lit(B)).alias("bucket"))


def dsir_model_from_exploded_df(
    ex: DataFrame, num_buckets: int = 1024, add_k: float = 1.0
) -> DataFrame:
    """:func:`dsir_model_df` fit from ONE exploded stream
    (:func:`dsir_exploded_features_df`): ``tc`` counts target-flagged
    occurrences, ``rc`` counts ALL occurrences — identical semantics to
    the tagged-union fit where the raw side is the whole frame and the
    target side its flagged slice (differential-tested bit-identical)."""
    _check_args(add_k=add_k)
    return _dsir_fit(ex, F.count(F.lit(1)), int(num_buckets), add_k)


def dsir_logweights_from_exploded_df(ex: DataFrame, model: DataFrame) -> DataFrame:
    """:func:`dsir_logweights_from_features_df` over the SAME exploded
    stream the model was fit from — broadcast model join + one
    ``groupBy(doc_id)`` the inherited partitioning already satisfies."""
    return _doc_sums(ex, model.select("bucket", "lrm"), "lrm", "logw_micro")


def dsir_sample_from_exploded_df(
    ex: DataFrame,
    k: int,
    num_buckets: int = 1024,
    add_k: float = 1.0,
    salt: int = 50,
    gumbel: bool = True,
) -> DataFrame:
    """:func:`dsir_sample_from_features_df` when the target is a flagged
    SLICE of the scored corpus: fit + score from one checkpointed explode
    (``salt`` must match the frame's build salt — it also seeds the
    Gumbel keys)."""

    def weights():
        model = dsir_model_from_exploded_df(ex, num_buckets=num_buckets, add_k=add_k)
        return dsir_logweights_from_exploded_df(ex, model)

    return _gumbel_topk(k, salt, gumbel, weights)


def classifier_score_from_features_df(
    frame: DataFrame,
    weights: DataFrame,
    num_buckets: int = 1024,
    bias: float = 0.0,
) -> DataFrame:
    """:func:`classifier_score_df` over a persisted
    :func:`dsir_feature_frame_df` (same salt as training): broadcast
    weight join + one doc_id aggregation the frame's partitioning already
    satisfies."""
    _check_args(num_buckets=num_buckets)
    return _logit_prob_df(
        _explode_bucketed(frame, int(num_buckets)),
        weights,
        bias,
        "classifier_score_from_features_df",
    )


def _dsir_lrm_sql(a: float, aB: float, tc: str = "tc", rc: str = "rc") -> str:
    # textual twin of the oracle's formula: integer inputs -> identical
    # doubles -> identical LN -> identical micro grid in both engines.
    # The D suffix is load-bearing: a bare `1.0` in Spark SQL TEXT is a
    # DECIMAL literal, and decimal division rounds at ~7 significant
    # digits BEFORE the LN — measured 1e-7-relative drift vs the oracle's
    # ::DOUBLE arithmetic (the Column-API F.lit(1.0) doesn't have this
    # trap; only parsed SQL does).
    return (
        f"CAST(ROUND(LN((({tc} + {a!r}D) / (tt + {aB!r}D))"
        f" / (({rc} + {a!r}D) / (rt + {aB!r}D))) * 1000000) AS BIGINT)"
    )


def _dsir_fit(tagged: DataFrame, rc, B: int, add_k: float) -> DataFrame:
    """The DSIR model-fit tail: ONE map-side-combined ``groupBy(bucket)``
    over a ``(bucket, is_tgt)`` stream gives ``tc`` (target occurrences)
    and ``rc`` (the caller's raw-count aggregate), the totals ride along
    as unpartitioned window sums over the ``<= B``-row aggregate, and
    ``lrm`` is each bucket's micro-nat log-ratio."""
    from pyspark.sql import Window

    a = float(add_k)
    everything = Window.partitionBy()  # <= B rows: single-partition sums
    return (
        tagged.groupBy("bucket")
        .agg(F.sum("is_tgt").cast("long").alias("tc"), rc.cast("long").alias("rc"))
        .withColumn("tt", F.sum("tc").over(everything))
        .withColumn("rt", F.sum("rc").over(everything))
        .selectExpr(
            "bucket", "tc", "rc", "tt", "rt",
            f"{_dsir_lrm_sql(a, a * B)} AS lrm",
        )
    )


def _dsir_fit_union(
    target: DataFrame, raw: DataFrame, B: int, add_k: float
) -> DataFrame:
    """:func:`_dsir_fit` over the tagged union of a target and a raw
    ``(.., bucket)`` stream, the raw side counted as ``1 - is_tgt``."""
    tagged = target.select("bucket", F.lit(1).alias("is_tgt")).unionAll(
        raw.select("bucket", F.lit(0).alias("is_tgt"))
    )
    return _dsir_fit(tagged, F.sum(F.lit(1) - F.col("is_tgt")), B, add_k)


def dsir_model_df(
    docs: DataFrame,
    target_docs: DataFrame,
    num_buckets: int = 1024,
    add_k: float = 1.0,
    salt: int = 50,
) -> DataFrame:
    """The fitted DSIR model as data: ``(bucket, tc, rc, tt, rt, lrm)``,
    one row per hashed-feature bucket observed in either corpus (``<=
    num_buckets`` rows) — target count, raw count, the two totals, and
    the micro-nat log-ratio each feature occurrence of that bucket
    contributes.  Fit once on a batch (persist it like any small table),
    apply anywhere: :func:`dsir_logweights_df` joins it, and
    :func:`dsir_score_local_df` scores it row-locally, also over a
    STREAM.

    Plan: BOTH distributions come out of ONE tagged union aggregation —
    one map-side-combined ``groupBy(bucket)`` produces ``(bucket, tc,
    rc)`` and the totals ride along as unpartitioned window sums over the
    ``<= B``-row aggregate (separate ``agg(sum)`` branches would re-plan
    and re-scan the whole feature subtree: column pruning differentiates
    the branches and defeats ReusedExchange — the dd_spans lesson)."""
    _check_args(num_buckets=num_buckets, add_k=add_k)
    B = int(num_buckets)
    return _dsir_fit_union(
        _dsir_bucketed(target_docs, B, salt), _dsir_bucketed(docs, B, salt), B, add_k
    )


def dsir_score_local_df(
    data: DataFrame,
    model: DataFrame,
    num_buckets: int = 1024,
    add_k: float = 1.0,
    salt: int = 50,
) -> DataFrame:
    """ZERO-SHUFFLE, streaming-legal DSIR scoring against a pre-fit
    :func:`dsir_model_df`: calling this function collects the model
    EAGERLY, at plan build (one model-size Spark job; its duplicate-bucket
    assert fires then), into ONE dense ``num_buckets``-long micro-nat
    vector, and each document sums its own features' log-ratios in the
    hashed-feature-sum kernel (:func:`_feature_sum_arrow_df`) — no
    explode, no join key, no doc_id exchange.  Output ``(doc_id, n_feats,
    logw_micro)``, value-identical to :func:`dsir_logweights_df` on the
    fitting corpus (differential-tested; its ``'arrow'`` form IS this
    call) and append-mode streaming-legal, so a crawl can be
    importance-scored AS IT LANDS against a model fit on yesterday's
    snapshot.  The vector is a build-time snapshot: re-call to pick up a
    refit model.

    Buckets the model never saw (possible only for NEW documents, e.g.
    streamed arrivals with novel vocabulary) and model rows with a NULL
    ``lrm`` score the smoothing-prior log-ratio ``ln((a/(tt+aB)) /
    (a/(rt+aB)))`` — exactly what the join formulation would produce had
    the bucket carried zero counts."""
    _check_args(num_buckets=num_buckets, add_k=add_k)
    B = int(num_buckets)
    a = float(add_k)
    unique = _assert_unique_buckets(
        model.select("bucket", "lrm", "tt", "rt"), "lrm", "dsir_score_local_df"
    )
    return _feature_sum_arrow_df(
        _widen(data),
        _dense_weights(unique, "lrm", B, _dsir_lrm_sql(a, a * B, tc="0", rc="0")),
        salt,
        [("n_feats", "long"), ("logw_micro", "long")],
        lambda n, s: {"n_feats": n, "logw_micro": s},
    )


def dsir_sample_df(
    docs: DataFrame,
    target_docs: DataFrame,
    k: int,
    num_buckets: int = 1024,
    add_k: float = 1.0,
    salt: int = 50,
    gumbel: bool = True,
) -> DataFrame:
    """Select ``k`` documents by DSIR importance resampling: Gumbel
    top-``k`` over the :func:`dsir_logweights_df` log-weights — the exact
    sampling-without-replacement the paper prescribes (top-k of
    ``log w + Gumbel noise`` draws k docs proportionally to ``w`` without
    replacement), made REPRODUCIBLE by deriving each document's Gumbel
    variate from its key hash instead of an RNG: ``u = (md5(salt+1|doc_id)
    % 1e6 + 0.5) / 1e6``, ``g = -ln(-ln(u))`` — deterministic across
    reruns, engines, and partitionings, like every sampler in this module.
    ``gumbel=False`` degrades to plain top-``k`` by weight (the paper's
    "top-k" ablation; favors the mode, loses diversity).

    Output: ``(doc_id, n_feats, logw_micro, key)``, the selected rows.
    ``key`` is in integer micro-nats (``logw_micro`` plus the micro-snapped
    Gumbel), so ordering is exact and ties break on doc_id.

    Plan: the global top-k compiles to TakeOrderedAndProject — per-partition
    heaps + a driver merge of k rows, never a full sort shuffle."""
    return _gumbel_topk(
        k,
        salt,
        gumbel,
        lambda: dsir_logweights_df(
            docs, target_docs, num_buckets=num_buckets, add_k=add_k, salt=salt
        ),
    )


def classifier_score_df(
    docs: DataFrame,
    weights: DataFrame,
    num_buckets: int = 1024,
    bias: float = 0.0,
    salt: int = 50,
) -> DataFrame:
    """Apply a linear hashed-bag-of-n-grams classifier at corpus scale —
    the fastText-style quality scorer of the CCNet / LLaMA pipelines
    ("does this page look like a Wikipedia reference?"), split the way a
    100 TB pipeline actually splits it: the model TRAINS offline on a
    sample, and this operator does the scale part, scoring every document
    with a broadcast weight table.

    ``weights`` is a ``(bucket int, weight double)`` frame (``<=
    num_buckets`` rows; missing buckets weigh 0).  Features are the DSIR
    unigram+bigram space under the SAME ``salt``/``num_buckets`` hashing —
    train the model on :func:`dsir_logweights_df`-compatible features and
    the bucket ids line up by construction.

    Output: ``(doc_id, n_feats, logit_micro, prob)`` where
    ``logit_micro = bias_micro + round_half_away(sum(w_micro)/n)`` — the
    MEAN feature weight plus bias, in integer micro-units end to end:
    weights snap to the micro grid once (B rows), the per-doc sum is exact
    integer arithmetic (order-independent under partial aggregation), and
    the mean uses the signed integer round-half-away division (a double
    ROUND lands exactly ON the half grid whenever n divides 2*sum oddly —
    the txt_lm lesson).  ``prob = round(sigmoid(logit), 6)`` exponentiates
    the tie-free micro value, so both engines exp() the identical double.
    Zero-token documents have no features and are absent.

    Plan: broadcast weight join + ONE compact doc_id exchange (the
    :func:`dsir_logweights_df` shape minus the model-fit branch).
    """
    _check_args(num_buckets=num_buckets)
    return _logit_prob_df(
        _dsir_bucketed(docs, int(num_buckets), salt, by_doc=True),
        weights,
        bias,
        "classifier_score_df",
    )


def _sigmoid_round6_decimal(x: float) -> float:
    """Tie-band arbiter for ``ROUND(1/(1+EXP(-x)), 6)``: the sigmoid
    computed to 40 digits over the EXACT binary double ``x`` — the
    entropy-twin recipe applied to ``exp`` (both runtimes' exp is
    1-ulp-accurate; a tie decision must not depend on whose ulp)."""
    from decimal import ROUND_HALF_UP, Decimal, localcontext

    with localcontext() as ctx:
        ctx.prec = 40
        p = 1 / (1 + (-Decimal(x)).exp())
        return float(p.quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


def _sigmoid_round6_vec(lm: "object") -> "object":
    """Vectorized ``ROUND(1/(1+EXP(0 - lm/1e6)), 6)`` over an int64
    micro-logit array — the numpy twin of :func:`_logit_prob_df`'s prob
    column.  Elements whose scaled probability lands near a ``.5``
    boundary at the 6th decimal are re-decided by
    :func:`_sigmoid_round6_decimal` (the cross-runtime exp band)."""
    import numpy as np

    x = lm.astype(np.float64) / 1e6
    p = 1.0 / (1.0 + np.exp(0.0 - x))
    scaled = p * 1e6
    out = np.floor(scaled + 0.5) / 1e6
    near = np.abs((scaled % 1.0) - 0.5) < 1e-6
    if near.any():
        for j in np.nonzero(near)[0]:
            out[j] = _sigmoid_round6_decimal(float(x[j]))
    return out


def classifier_score_local_df(
    docs: DataFrame,
    weights: DataFrame,
    num_buckets: int = 1024,
    bias: float = 0.0,
    salt: int = 50,
) -> DataFrame:
    """ZERO-SHUFFLE, streaming-legal twin of :func:`classifier_score_df`
    (value-identical, differential-tested): the weight table is densified
    into ONE ``num_buckets``-long micro-weight vector, and each document
    sums its own features' weights with O(1) array lookups — no explode,
    no join key, no doc_id exchange, so the score is a pure row-local
    projection that runs at scan speed on 100 TB and composes into any
    Structured Streaming pipeline in append mode (no state, no watermark
    needed).  Calling this function collects the weight table EAGERLY,
    at plan build (one model-size Spark job; see below).

    This is the plan you actually want for model APPLY: the groupBy
    formulation exists because it shares the exploded feature stream with
    model FITTING (:func:`dsir_logweights_df`); once weights are fixed,
    grouping by doc_id only re-assembles rows the fold never needed to
    take apart.  Density is the trick that makes it legal: a lookup in a
    dense array is O(1), where a ``map_from_entries`` lookup is a linear
    scan per feature (Spark maps are entry arrays — the bloom _densify
    lesson, measured 30x there).

    Featureless documents (no tokens after normalization) are dropped,
    matching the explode semantics of the groupBy twin.

    Scoring runs inside a ``mapInPandas`` kernel (the entropy-twin
    recipe): the snapped micro-weight table is collected ONCE at plan
    build into a dense ``B``-long int64 vector (a bounded model-size
    driver action, the roc/quantile precedent).  EAGER-SNAPSHOT
    SEMANTICS: calling this function runs a model-size Spark job
    immediately (duplicate-bucket asserts fire at BUILD time, not first
    execution), and the weight vector is frozen at that moment — if the
    weights table's underlying data changes before the returned plan
    executes, it still scores with the build-time snapshot, where the
    lazy :func:`classifier_score_df` would re-read.  For apply-time
    scoring that frozen snapshot is what you want (a deployed model must
    not drift mid-job); re-call the function to pick up retrained
    weights.  The per-doc weight sums come from the hashed-feature-sum
    kernel shared with DSIR scoring (:func:`_feature_sum_arrow_df`:
    vectorized md5 bucket hashes over byte spans, segmented
    ``add.reduceat`` gathers), the micro-logit is exact integer
    arithmetic, and the sigmoid's ROUND(·, 6) runs through a
    cross-runtime exp tie band (:func:`_sigmoid_round6_vec`) — zero
    interpreted JVM expressions, so nothing can go bimodal in a
    long-lived mixed JVM.
    """
    import numpy as np

    _check_args(num_buckets=num_buckets)
    wm, bias_micro = _snap_weights(weights, bias, "classifier_score_local_df")

    def finish(n, s):
        # signed round-half-away mean + bias, exact integer arithmetic
        lm = bias_micro + np.where(
            s >= 0, (2 * s + n) // (2 * n), -((2 * (-s) + n) // (2 * n))
        )
        return {"n_feats": n, "logit_micro": lm, "prob": _sigmoid_round6_vec(lm)}

    return _feature_sum_arrow_df(
        docs,
        _dense_weights(wm, "w_micro", int(num_buckets)),
        salt,
        [("n_feats", "bigint"), ("logit_micro", "bigint"), ("prob", "double")],
        finish,
    )


def classifier_train_df(
    docs: DataFrame,
    label_col: str = "label",
    num_buckets: int = 1024,
    salt: int = 50,
    steps: int = 20,
    lr: float = 1.0,
    l2: float = 0.0,
) -> tuple[DataFrame, float]:
    """Train the fastText-style hashed-bag logistic classifier at corpus
    scale: full-batch gradient descent on ``p = sigmoid(bias + mean_f
    w[bucket(f)])`` over the DSIR unigram+bigram feature space — the
    TRAINING half whose APPLY half is :func:`classifier_score_df` /
    :func:`classifier_score_local_df` (same ``salt``/``num_buckets``
    hashing, so the learned weights feed them directly).

    Returns ``(weights_df, bias)``: a ``(bucket, weight)`` frame and the
    scalar intercept.

    Distribution shape per step (``steps`` jobs, each ONE pass over the
    persisted feature frame, with no shuffle stage): the current weights
    ship in the pass's UDF closure; every partition scores its documents
    ROW-LOCALLY in NumPy (``add.reduceat`` of the weight gathers per
    document), spreads the residual share ``(p - y)/n_feats`` over its
    feature buckets with one ``bincount``, and yields ONE dense
    ``B``-gradient plus the bias gradient; the driver adds the partials.
    The corpus is feature-hashed ONCE up front and persisted as compact
    ``(y, fb array<int>)`` rows; driver state is the B-float weight
    vector — the model, never the data (MLlib's LogisticRegression loop
    has the same shape).  Nothing quadratic, no per-row Python.

    Determinism note: the driver adds the per-partition partials in
    partition order, so trained weights are run-to-run identical for a
    fixed input partitioning; a different partitioning regroups the
    float sums and moves the weights in the last bits.  They are float
    values either way, so this is a TRAINING op (tested by loss descent,
    held-out accuracy and a Python re-derivation of the update rule), not
    a hash-gated one; APPLY stays exactly deterministic given fixed
    weights.  NULL-label, NULL-text, and zero-token rows are excluded.
    """
    _check_args(num_buckets=num_buckets)
    B = int(num_buckets)
    if steps < 1:
        raise ValueError(f"steps must be >= 1, got {steps}")
    weights_df, bias, _ = _classifier_train_impl(
        docs, label_col, B, salt, int(steps), float(lr), float(l2), None, 0, 0.0
    )
    return weights_df, bias


def classifier_train_early_stop_df(
    docs: DataFrame,
    dev_docs: DataFrame,
    label_col: str = "label",
    num_buckets: int = 1024,
    salt: int = 50,
    max_steps: int = 200,
    lr: float = 1.0,
    l2: float = 0.0,
    patience: int = 3,
    min_delta: float = 0.0,
) -> tuple[DataFrame, float, list[float]]:
    """:func:`classifier_train_df` with DEV-SET EARLY STOPPING: train up
    to ``max_steps`` full-batch GD steps, evaluate held-out log-loss on
    ``dev_docs`` after every step (one extra job over the PERSISTED dev
    feature frame — the corpus is never re-featurized), and stop once the
    loss hasn't improved by more than ``min_delta`` for ``patience``
    consecutive evaluations.  Returns ``(weights_df, bias, history)``
    where ``history`` is the per-step dev-loss trace (its length tells
    you when training stopped) and the returned weights are the BEST
    snapshot, not the last — the standard guard against overfitting past
    the dev minimum.  Same determinism note as the base trainer (identical
    per fixed partitioning, float-valued); the dev trace is what tests pin."""
    _check_args(num_buckets=num_buckets)
    B = int(num_buckets)
    if max_steps < 1:
        raise ValueError(f"max_steps must be >= 1, got {max_steps}")
    if patience < 1:
        raise ValueError(f"patience must be >= 1, got {patience}")
    return _classifier_train_impl(
        docs,
        label_col,
        B,
        salt,
        int(max_steps),
        float(lr),
        float(l2),
        dev_docs,
        int(patience),
        float(min_delta),
    )


def _labeled_features(docs, label_col, salt, B):
    lab = (
        docs.filter(F.col("text").isNotNull() & F.col(label_col).isNotNull())
        .select(
            F.col(label_col).cast("double").alias("y"),
            F.array_remove(F.split(normalized_text(), " "), "").alias("toks"),
        )
        .filter(F.size("toks") > 0)
    )
    feat = (
        f"transform({_feature_array_sql()}, f ->"
        f" {_bucket_hash_sql('f', salt, B)})"
    )
    return lab.selectExpr("y", f"{feat} AS fb")


def _train_pass(frame: DataFrame, w: "object", bias: float):
    """One full-batch pass of the classifier over a persisted ``(y, fb)``
    frame at weights ``w`` (a ``B``-long float vector, shipped in the UDF
    closure) and ``bias``: ``p = sigmoid(bias + mean w[fb])`` per document,
    residual ``r = p - y``.  Returns ``(weight_grad, bias_grad, loss_sum)``:
    the summed residual shares ``r / n_feats`` per bucket, the summed
    ``r``, and the summed clipped log-loss.  Each partition accumulates its
    batches into ONE ``B + 2``-double row (one Spark job, no shuffle); the
    driver adds the partials in partition order, so a fixed input
    partitioning gives run-to-run identical sums.  The gradient step and
    the dev-loss evaluation both call this, so both score the same model."""
    import numpy as np
    import pandas as pd

    B = len(w)

    def run(batches):
        acc = np.zeros(B + 2)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            nf = pdf["fb"].map(len).to_numpy()
            fb = np.concatenate(pdf["fb"].to_numpy())
            y = pdf["y"].to_numpy(dtype=np.float64)
            s = np.add.reduceat(w[fb], np.cumsum(nf) - nf)
            p = 1.0 / (1.0 + np.exp(-(bias + s / nf)))
            r = p - y
            acc[:B] += np.bincount(fb, weights=np.repeat(r / nf, nf), minlength=B)
            acc[B] += r.sum()
            acc[B + 1] -= np.sum(
                y * np.log(np.maximum(p, 1e-12))
                + (1.0 - y) * np.log(np.maximum(1.0 - p, 1e-12))
            )
        yield pd.DataFrame({"g": [acc]})

    tot = np.zeros(B + 2)
    for row in frame.mapInPandas(run, schema="g array<double>").collect():
        tot += row["g"]
    return tot[:B], tot[B], tot[B + 1]


def _classifier_train_impl(
    docs, label_col, B, salt, steps, lr, l2, dev_docs, patience, min_delta
):
    import numpy as np

    spark = docs.sparkSession
    base = _labeled_features(docs, label_col, salt, B).persist()
    dev = (
        _labeled_features(dev_docs, label_col, salt, B).persist()
        if dev_docs is not None
        else None
    )
    try:
        n_docs = base.count()  # also materializes the persisted features
        if n_docs == 0:
            raise ValueError("classifier_train_df: no labeled, tokenized rows")
        n_dev = dev.count() if dev is not None else 0
        if dev is not None and n_dev == 0:
            raise ValueError("classifier_train_early_stop_df: empty dev set")
        w = np.zeros(B)
        bias = 0.0
        best = (float("inf"), w.copy(), bias)
        sig_ref = float("inf")
        bad = 0
        history: list[float] = []
        for _ in range(int(steps)):
            gvec, bias_g, _ = _train_pass(base, w, bias)
            w -= float(lr) * (gvec / n_docs + float(l2) * w)
            bias -= float(lr) * float(bias_g) / n_docs
            if dev is not None:
                loss = float(_train_pass(dev, w, bias)[2] / n_dev)
                history.append(loss)
                # best snapshot tracks ANY improvement; patience counts
                # only SIGNIFICANT ones (> min_delta vs the last
                # significant mark) — otherwise a slow sub-min_delta
                # descent would return a stale snapshot above min(history)
                if loss < best[0]:
                    best = (loss, w.copy(), bias)
                if sig_ref - loss > min_delta:
                    sig_ref = loss
                    bad = 0
                else:
                    bad += 1
                    if bad >= patience:
                        break
        if dev is not None and best[0] < float("inf"):
            _, w, bias = best
    finally:
        base.unpersist()
        if dev is not None:
            dev.unpersist()
    weights_df = spark.createDataFrame(
        [(int(b), float(w[b])) for b in range(B)], "bucket long, weight double"
    )
    return weights_df, float(bias), history


def training_order_df(
    df: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    salt: int = 77,
    tiebreak_cols: tuple = (),
) -> DataFrame:
    """Deterministic global training order as balanced shards:
    ``(*input columns, shard, pos)`` where ``shard`` is an md5-derived
    bucket of the key and ``pos`` the document's rank within its shard by
    the SAME hash (ties broken on the key) — the decorrelation shuffle a
    training run needs (adjacent crawl documents are highly correlated;
    hash order is as good as a seeded permutation and, unlike one, is
    reproducible across engines, reruns, and partitionings, like every
    sampler in this module).  Readers consume shard files in (shard, pos)
    order; concatenating shards 0..n-1 yields one canonical global
    permutation.

    Plan shape at 100 TB: ONE exchange, NO global sort — a total ORDER BY
    hash would range-partition and globally sort the corpus, but a reader
    only ever needs order WITHIN a shard, so the plan is an exchange by
    ``shard`` plus an in-partition window sort (each shard sorts
    independently; shard count is the parallelism knob and bounds the
    per-task sort to corpus/n_shards — the dd_spans partition-sizing
    discipline applied to ordering).  Balance: md5 buckets are uniform,
    so shard sizes concentrate tightly around n/n_shards (no planner-
    visible skew).  NULL keys hash a sentinel (the _key_hash contract).

    Duplicate keys: rows sharing an ``id_col`` value also share the hash,
    so which of them gets which ``pos`` is partition-order-dependent —
    reproducible BETWEEN the duplicates' positions (the set of positions
    is fixed) but arbitrary AMONG them.  When duplicate ids are expected
    and full reproducibility matters, pass ``tiebreak_cols`` (e.g. a
    content column or precomputed content hash): they extend the
    within-shard sort key and restore a total order."""
    n_shards = int(n_shards)
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    from pyspark.sql import Window

    for c in tiebreak_cols:
        if c in ("shard", "pos") or c.startswith("__"):
            raise ValueError(
                f"tiebreak column {c!r} collides with an output/internal name"
            )
    h = _key_hash(id_col, salt)
    w = Window.partitionBy("shard").orderBy("__h", id_col, *tiebreak_cols)
    return (
        df.withColumn("__h", h)
        .withColumn("shard", F.pmod("__h", F.lit(n_shards)).cast("int"))
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .drop("__h")
    )


def pack_sequences_df(
    docs: DataFrame,
    seq_len: int,
    n_tokens_col: str | None = None,
    n_shards: int = 64,
    id_col: str = "doc_id",
    salt: int = 77,
) -> DataFrame:
    """GPT-style concat-and-chunk sequence packing: lay every document
    head-to-tail on one global token tape in a deterministic hash order,
    cut the tape into fixed ``seq_len`` windows, and emit one row per
    (document, sequence) OVERLAP — ``(doc_id, n_tokens, seq_id,
    doc_offset, seq_offset, len)`` — the placement metadata a training
    loader needs to materialize packed sequences with document-boundary
    attention masks (every production LLM data pipeline ends with exactly
    this step; the alternative bin-packing formulations trade determinism
    for marginally fewer padding tokens and are NOT reproducible across
    reruns).

    ``n_tokens_col`` names a precomputed token-count column (e.g. from
    ``bpe_apply_df``); default derives whitespace token counts of the
    normalized text row-locally.  Zero-token and NULL-text documents are
    dropped (they occupy no tape).  The tape order is ``(shard, h,
    doc_id)`` with ``h = md5(salt|id)`` and ``shard = h % n_shards`` —
    the :func:`training_order_df` decorrelation order, reproducible
    across engines and reruns.

    Plan shape at 100 TB — the point of this formulation: a global
    running sum over a total order would be ONE partition sorting the
    whole corpus, so the prefix sum is TWO-PHASE instead: (1) one
    exchange by ``shard`` + an in-partition window cumsum (each task
    sorts corpus/n_shards rows — the dd_spans sizing discipline applied
    to ordering, same as training_order_df), (2) per-shard totals
    (n_shards rows) get their own prefix sum on a single tiny partition
    and broadcast-join back as shard offsets.  The window explosion is
    row-local arithmetic (a doc overlaps ``~n/seq_len + 1`` sequences).
    Token positions are exact BIGINT arithmetic (integer DIV — double
    division would misround past 2^53 on a 100 TB tape)."""
    from pyspark.sql import Window

    L = int(seq_len)
    S = int(n_shards)
    if L <= 0:
        raise ValueError(f"seq_len must be positive, got {seq_len}")
    if S <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    if n_tokens_col is None:
        n = F.size(F.array_remove(F.split(normalized_text(), " "), ""))
        base = docs.filter(F.col("text").isNotNull()).select(
            F.col(id_col), n.cast("long").alias("__n")
        )
    else:
        base = docs.select(F.col(id_col), F.col(n_tokens_col).cast("long").alias("__n"))
    h = _key_hash(id_col, salt)
    base = (
        base.filter(F.col("__n") > 0)
        .withColumn("__h", h)
        .withColumn("__shard", F.pmod("__h", F.lit(S)).cast("int"))
    )
    w = (
        Window.partitionBy("__shard")
        .orderBy("__h", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = base.withColumn("__lend", F.sum("__n").over(w))
    totals = base.groupBy("__shard").agg(F.sum("__n").alias("__tot"))
    wp = (
        Window.orderBy("__shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = totals.select(
        "__shard", F.coalesce(F.sum("__tot").over(wp), F.lit(0)).alias("__off")
    )
    placed = local.join(F.broadcast(prefix), "__shard").selectExpr(
        f"{id_col}",
        "__n AS n_tokens",
        "__off + __lend - __n AS __start",
    )
    return placed.selectExpr(
        id_col,
        "n_tokens",
        f"explode(sequence(__start DIV {L}, (__start + n_tokens - 1) DIV {L}))"
        " AS seq_id",
        "__start",
    ).selectExpr(
        id_col,
        "n_tokens",
        "seq_id",
        f"CAST(GREATEST(seq_id * {L} - __start, 0) AS BIGINT) AS doc_offset",
        f"CAST(GREATEST(__start - seq_id * {L}, 0) AS BIGINT) AS seq_offset",
        f"CAST(LEAST((seq_id + 1) * {L}, __start + n_tokens)"
        f" - GREATEST(seq_id * {L}, __start) AS BIGINT) AS len",
    )


def pack_sequence_tokens_df(
    docs: DataFrame,
    seq_len: int,
    n_shards: int = 64,
    id_col: str = "doc_id",
    salt: int = 77,
    tokens_col: str | None = None,
) -> DataFrame:
    """Materialize the packed training sequences
    :func:`pack_sequences_df` plans: ``(seq_id, tokens array<string>,
    n_tokens, n_docs)`` — each sequence's actual token content assembled
    from the documents' slices in tape order.  Every sequence is exactly
    ``seq_len`` tokens except the tape tail; ``n_docs`` counts the
    documents contributing to the sequence (the boundary-mask arity).

    Tokens default to the whitespace tokens of the normalized text;
    ``tokens_col`` names a precomputed token ARRAY column instead (e.g.
    ``bpe_encode_df``'s ``token_ids`` — the output ``tokens`` column then
    carries that element type), with the token counts derived from the
    same arrays so placement and content can never disagree.  Plan: the
    placement rows
    join the per-doc token arrays on ``id_col`` (both sides compact —
    placement is ~n/seq_len + 1 rows per doc, token arrays one row per
    doc), each overlap slices its piece ROW-LOCALLY, and one exchange by
    ``seq_id`` assembles pieces in ``seq_offset`` order (``array_sort``
    over structs — sequences are bounded by ``seq_len``, so the per-group
    state is a training sample, never a corpus)."""
    L = int(seq_len)
    if tokens_col is None:
        toks = docs.filter(F.col("text").isNotNull()).select(
            F.col(id_col),
            F.array_remove(F.split(normalized_text(), " "), "").alias("__toks"),
        )
    else:
        toks = docs.select(F.col(id_col), F.col(tokens_col).alias("__toks"))
    # ONE tokenization, checkpointed: placement (needs only the counts)
    # and assembly (needs the arrays) both read it — without the
    # materialization, column pruning differentiates the two subtrees and
    # the corpus normalizes/splits twice (the cur_select2 lesson).
    # Counting from the same arrays also makes placement/content
    # agreement structural rather than by matching expressions.
    toks = toks.localCheckpoint(eager=False)
    placement = pack_sequences_df(
        toks.select(F.col(id_col), F.size("__toks").cast("long").alias("__n")),
        L,
        n_tokens_col="__n",
        n_shards=n_shards,
        id_col=id_col,
        salt=salt,
    )
    parts = placement.join(toks, id_col).select(
        "seq_id",
        "seq_offset",
        F.expr("slice(__toks, doc_offset + 1, len)").alias("__piece"),
    )
    assembled = parts.groupBy("seq_id").agg(
        F.flatten(
            F.expr(
                "transform(array_sort(collect_list(struct(seq_offset, __piece))),"
                " x -> x.__piece)"
            )
        ).alias("tokens"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    return assembled.select(
        "seq_id",
        "tokens",
        F.size("tokens").cast("long").alias("n_tokens"),
        "n_docs",
    )


def keep_top_fraction_df(
    df: DataFrame,
    group_col: str,
    score_col: str,
    fraction: float,
    id_col: str,
    descending: bool = True,
) -> DataFrame:
    """Keep the top ``fraction`` of rows PER GROUP by score — the dynamic
    quality threshold a mixture owner actually wants ("best 30% of each
    language by quality score"), as opposed to a global absolute cutoff
    that over-prunes low-resource groups and under-prunes high-resource
    ones.  Deterministic: rank order is ``(score, id_col)`` with the id as
    total tie-break (the cap_per_group_df uniqueness contract), and the
    per-group quota is ``ceil(fraction * n)`` — every non-empty group
    keeps at least one row, and both engines compute the same integer
    quota.

    One shuffle (window over ``group_col``); the rank and the group count
    come from the SAME window partition, so no second pass or join.
    Skewed giant groups are expected — AQE rebalances, and the filter
    discards past the quota."""
    from pyspark.sql.window import Window

    if not 0.0 < fraction <= 1.0:
        raise ValueError(f"fraction must be in (0, 1], got {fraction}")
    order = [
        F.desc(score_col) if descending else F.asc(score_col),
        F.asc(id_col),
    ]
    w = Window.partitionBy(group_col).orderBy(*order)
    wg = Window.partitionBy(group_col)
    frac_micro = int(round(float(fraction) * 1_000_000))
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(wg))
        # quota = ceil(frac * n) in exact integer arithmetic: both engines
        # agree on (n * fm + 999999) DIV 1000000, no float boundary (the
        # Column-API `/` would be a double division and can misround past
        # 2^53 at extreme group sizes)
        .where(
            F.expr(f"_rk <= (_n * CAST({frac_micro} AS BIGINT) + 999999) DIV 1000000")
        )
        .drop("_rk", "_n")
    )
