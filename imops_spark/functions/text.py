"""Text analysis operators for large-scale training-data pipelines.

All operators are pure Spark column expressions (whole-stage codegen, no
Python UDFs) so they stream over 100 TB of documents: tokenization via
``split``, quality metrics via length/ratio arithmetic, language ID via a
deterministic character-n-gram hash vote, fingerprinting via md5.  Every
formula is also expressible in ANSI SQL, which is how the DuckDB oracle
validates them (see ``__spark_entry__.oracle_sql``).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..backend import choose_form
from ..utils import quote_carry, unquote_carry
from .dedup import _doc_kernel, _widen, normalized_text

# internal aliases of the winnowing pipelines — carry columns may not shadow
# these (quote_carry raises); see utils.quote_carry.
_WINNOW_RESERVED = frozenset({"doc_id", "nt", "s", "pos", "fp", "fps"})

__all__ = [
    "BPE_PRETOKEN_PATTERN",
    "bpe_pretokenize",
    "bpe_token_count_df",
    "with_tokens",
    "token_count_df",
    "quality_df",
    "langid_df",
    "fingerprint_df",
    "winnow_fingerprints_df",
    "winnow_fp_set_df",
    "tfidf_df",
    "bm25_constants",
    "bm25_topk_df",
    "canonical_url",
    "canonical_urls_df",
    "token_entropy_df",
    "token_entropy_local_df",
    "bm25_write_index",
    "bm25_read_index",
    "bm25_register_index",
    "bm25_index_topk",
    "bm25_phrase_topk_df",
    "bm25_phrase_index_topk",
    "ngram_lm_df",
    "repetition_df",
    "HTML_STRIP_STEPS",
    "HTML_ENTITIES",
    "HTML_WS_STEPS",
    "strip_html_column",
    "strip_html_df",
    "PII_PATTERNS",
    "pii_df",
    "redact_pii_df",
    "C4_TERMINAL_PUNCT",
    "c4_rules_df",
    "URL_PATTERN",
    "urls_df",
    "filter_by_domain_df",
    "vocab_df",
    "remove_boilerplate_lines_df",
    "chunk_documents_df",
    "sentences_df",
    "SENTENCE_PATTERN",
    "hashed_embedding_df",
    "hashed_embedding_local_df",
]

# Tiny multilingual stopword sets; deterministic, used for quality scoring.
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it", "data", "value"]


def with_tokens(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokenization (JVM-side split)."""
    return df.withColumn("tokens", F.split(F.trim(F.col(text_col)), r"\s+"))


# GPT-2-family pre-tokenizer split, minus the trailing-space lookahead (both
# Java regex and RE2 — i.e. Spark and the DuckDB oracle — support this exact
# pattern, and lookahead is what RE2 lacks): contraction suffixes, then
# optionally-space-prefixed letter runs, digit runs, punctuation runs, then
# whitespace runs.  Token COUNTS under this split approximate BPE token
# budgets far better than whitespace words (punctuation and digits tokenize
# separately, exactly like a trained byte-BPE's pre-tokenization stage).
BPE_PRETOKEN_PATTERN = (
    r"'(?:s|t|re|ve|m|ll|d)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+|\s+"
)


def bpe_pretokenize(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add ``bpe_tokens``: the BPE pre-tokenizer segmentation of the text.

    ``regexp_extract_all`` runs JVM-side in whole-stage codegen — the full
    vocabulary-merge step of real BPE needs the merges table and is out of
    scope; pre-tokenization is the part pipelines use for token budgeting
    and is exactly reproducible in SQL (the driver gate cross-checks it
    against DuckDB's RE2 on the same pattern).
    """
    return df.withColumn(
        "bpe_tokens",
        F.regexp_extract_all(text_col, F.lit(BPE_PRETOKEN_PATTERN), 0),
    )


def bpe_token_count_df(docs: DataFrame) -> DataFrame:
    """Per-document BPE-pre-token counts next to whitespace word counts:
    ``(doc_id, n_bpe, n_unique_bpe, n_words)`` — the budget numbers a
    training-mix planner reads per document."""
    return bpe_pretokenize(docs.where(F.col("text").isNotNull())).select(
        "doc_id",
        F.size("bpe_tokens").alias("n_bpe"),
        F.size(F.array_distinct("bpe_tokens")).alias("n_unique_bpe"),
        F.size(F.split(F.trim("text"), r"\s+")).alias("n_words"),
    )


def token_count_df(docs: DataFrame) -> DataFrame:
    """Per-document token and character counts."""
    return with_tokens(docs).select(
        "doc_id",
        F.size("tokens").alias("n_tokens"),
        F.length("text").alias("n_chars_computed"),
        F.size(F.array_distinct("tokens")).alias("n_unique_tokens"),
    )


def quality_df(docs: DataFrame) -> DataFrame:
    """Heuristic quality metrics: length, mean token length, stopword ratio,
    type-token ratio.  Mirrors the usual pretraining-corpus filters
    (C4/Gopher-style rules) as pure column arithmetic."""
    cpt, stop_r, ttr = _quality_ratios()
    return with_tokens(docs).select(
        "doc_id",
        F.size("tokens").alias("n_tokens"),
        cpt.alias("chars_per_token"),
        stop_r.alias("stopword_ratio"),
        ttr.alias("type_token_ratio"),
    )


def _quality_ratios():
    """The three per-document quality ratios over ``with_tokens`` columns,
    each rounded to 4: chars per token, stopword ratio, type-token ratio.
    One owner for ``quality_df`` and ``curate.corpus_profile_df``."""
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter("tokens", lambda x: F.array_contains(stop_arr, x)))
    return (
        F.round(F.length("text") / F.size("tokens"), 4),
        F.round(n_stop / F.size("tokens"), 4),
        F.round(F.size(F.array_distinct("tokens")) / F.size("tokens"), 4),
    )


def langid_df(docs: DataFrame, n_langs: int = 5) -> DataFrame:
    """Deterministic n-gram-hash language vote.

    Real language ID needs a trained model; at engine level what matters is
    the dataflow: doc -> char trigrams -> hash -> per-bucket vote -> argmax.
    We use a reproducible surrogate (md5 of the first trigrams) so the DuckDB
    oracle can verify the distributed computation end-to-end.
    """
    return docs.select("doc_id", _lang_pred(n_langs).alias("lang_pred"))


_LANGS = ("en", "zh", "fr", "es", "de")


def _lang_pred(n_langs: int):
    """The predicted-language column: the md5 bucket of the first 24
    characters, modulo ``n_langs``, names one of the first ``n_langs`` of
    ``_LANGS``.  One owner for ``langid_df`` and
    ``curate.corpus_profile_df``."""
    if not 1 <= n_langs <= len(_LANGS):
        # bucket is taken modulo n_langs, so a value past the list would
        # silently yield NULL predictions (or raise under ANSI mode)
        raise ValueError(f"n_langs must be in 1..{len(_LANGS)}, got {n_langs}")
    bucket = (
        F.conv(F.substring(F.md5(F.substring(F.col("text"), 1, 24)), 1, 8), 16, 10)
        .cast("long") % n_langs
    )
    lang_arr = F.array(*[F.lit(x) for x in _LANGS[:n_langs]])
    return F.element_at(lang_arr, (bucket + 1).cast("int"))


def winnow_fingerprints_df(
    docs: DataFrame,
    k: int = 8,
    window: int = 4,
    hash_fn: str = "md5",
    strategy: str = "auto",
) -> DataFrame:
    """Winnowing document fingerprints (the MOSS rolling-hash scheme):
    hash every character ``k``-gram of the normalized text, then keep the
    minimum hash of each ``window`` consecutive k-grams (leftmost tie-break)
    — ``(doc_id, pos, fp)``, one row per distinct selected fingerprint.

    Guarantees any shared substring of length >= ``k + window - 1`` yields a
    shared fingerprint, the plagiarism/near-dup detection primitive.
    The default gram hash is md5 (cross-engine deterministic).

    ``strategy``: ``'arrow'`` is the zero-shuffle kernel
    (:func:`_winnow_selected_arrow_df`), ``'window'`` the pure-JVM sized
    sliding-window batch chain (:func:`_winnow_selected_window_df`);
    ``'auto'`` follows the ``winnow`` row of ``backend.ROUTES``.
    Value-identical across strategies (equivalence-tested).

    ``hash_fn='xxhash64'`` is the production fast path (JVM-intrinsic,
    not DuckDB-reproducible): fingerprint VALUES differ but the winnowing
    guarantee — any shared substring of length >= k + window - 1 yields a
    shared fingerprint — holds for ANY hash, so contamination/
    decontamination verdicts are path-equivalence tested instead of
    value-pinned.  See FASTPATH.md for the measured row.
    """
    _check_hash_fn(hash_fn)
    if choose_form("winnow", strategy, docs, hash_fn=hash_fn) == "arrow":
        return _winnow_selected_arrow_df(
            docs, int(k), int(window), (), positional=True, hash_fn=hash_fn
        )
    sel = _winnow_selected_window_df(docs, int(k), int(window), (), hash_fn)
    # same (pos, fp) can win several adjacent windows; the doc_id
    # partitioning the window just established satisfies this dedup, so
    # no further exchange
    return sel.dropDuplicates(["doc_id", "pos", "fp"])


def _check_hash_fn(hash_fn: str) -> None:
    if hash_fn not in ("md5", "xxhash64"):
        raise ValueError(f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r}")


def _winnow_selected_window_df(
    docs: DataFrame,
    k: int,
    window: int,
    carry: tuple,
    hash_fn: str,
) -> DataFrame:
    """The batch winnowing core: selected fingerprints ``(doc_id, *carry,
    pos, fp)`` (positions NOT yet dedup'd — one winner row per window
    start) via explode + sliding ``ROWS BETWEEN`` window min.

    Plan shape at 100 TB: one scan, ONE size-aware doc_id exchange
    (the dd_spans sizing discipline — both sides of a gram-wide exchange
    must be held to ~``_GRAM_ROWS_PER_TASK`` rows per task or they
    spill), an in-partition sort, and a per-row O(window) running min.
    No ``x window`` row multiplication (the old explode-spread form) and
    no interpreted HOFs.  The min is over ``struct(h, pos)`` — leftmost
    tie-break, identical to the Arrow kernel's ``argmin``."""
    from pyspark.sql.window import Window

    from .dedup import _gram_exchange_sizing

    norm = normalized_text()
    d = docs.select("doc_id", *carry, norm.alias("nt")).filter(
        F.length("nt") >= k + window - 1
    )
    _, n_parts = _gram_exchange_sizing(docs)
    if n_parts >= 2 * d.rdd.getNumPartitions():
        d = d.repartition(n_parts)
    gram = F.substring("nt", F.col("pos"), k)
    h = (
        F.conv(F.substring(F.md5(gram), 1, 15), 16, 10).cast("long")
        if hash_fn == "md5"
        else F.xxhash64(gram)
    )
    grams = d.select(
        "doc_id",
        *carry,
        F.explode(F.sequence(F.lit(1), F.length("nt") - (k - 1))).alias("pos"),
        (F.length("nt") - (k - 1)).alias("ng"),
        F.col("nt"),
    ).select("doc_id", *carry, "pos", "ng", h.alias("h"))
    g = grams.repartition(n_parts, "doc_id")
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, window - 1)
    return (
        g.withColumn("w", F.min(F.struct("h", "pos")).over(w))
        .filter(F.col("pos") <= F.col("ng") - (window - 1))
        .select(
            "doc_id",
            *carry,
            F.col("w.pos").alias("pos"),
            F.col("w.h").alias("fp"),
        )
    )


def _winnow_selected_arrow_df(
    docs: DataFrame,
    k: int,
    window: int,
    carry: tuple,
    positional: bool,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """The Arrow winnowing core: normalized text goes to the kernel as
    STRINGS, every gram hash is computed inside the Python worker —
    vectorized uint64 numpy for ``xxhash64`` (``functions.xxh`` —
    bit-identical to Spark's intrinsic, test-pinned), C-speed ``hashlib``
    behind a per-worker gram cache for ``md5`` (identical digests by
    definition: the oracle hash, so the md5-arrow path stays hash-gated)
    — and the sliding min/argmin runs as one strided numpy pass.  ZERO
    shuffles, zero interpreted JVM HOFs (the hash-array ``transform``
    measured BIMODAL, 15→88 s pass-to-pass, in long-lived JVMs), no
    145M-row gram explode (the window form's exchange+sort).
    Streaming-legal (stateless mapInPandas).

    ``positional=True`` emits dedup'd ``(doc_id, *carry, pos, fp)`` with
    the leftmost tie-break (``argmin`` returns the FIRST minimum — the
    same rule as ``min(struct(h, pos))``); otherwise the per-doc
    distinct fp set, exploded."""
    from .xxh import xxh64_bytes, xxh64_sliding

    _check_hash_fn(hash_fn)
    k, window = int(k), int(window)
    fields = unquote_carry(carry) + (
        [("pos", "int"), ("fp", "long")] if positional else [("fp", "long")]
    )

    def make():
        from .md5v import md5_top60_cached

        md5_gram = md5_top60_cached()

        def batch(pdf):
            rows, pos_parts, fp_parts = [], [], []
            for i, nt in enumerate(pdf["nt"]):
                n_grams = len(nt) - k + 1
                if hash_fn == "md5":
                    hs = np.fromiter(
                        (md5_gram(nt[p : p + k]) for p in range(n_grams)),
                        dtype=np.int64,
                        count=n_grams,
                    )
                elif nt.isascii() and k < 32:
                    hs = xxh64_sliding(
                        np.frombuffer(nt.encode(), dtype=np.uint8), k
                    )
                else:
                    # multi-byte grams have varying UTF-8 widths (and
                    # k >= 32 leaves the small-input path): scalar XXH64
                    # per gram, same bits, rare
                    hs = np.fromiter(
                        (
                            xxh64_bytes(nt[p : p + k].encode())
                            for p in range(n_grams)
                        ),
                        dtype=np.int64,
                        count=n_grams,
                    )
                sw = np.lib.stride_tricks.sliding_window_view(hs, window)
                mins = sw.min(axis=1)
                if positional:
                    pos = (
                        sw.argmin(axis=1) + np.arange(len(mins)) + 1
                    ).astype(np.int32)
                    pairs = np.unique(np.stack([pos, mins.view(np.int64)], axis=1), axis=0)
                    pos_parts.append(pairs[:, 0].astype(np.int32))
                    fp_parts.append(pairs[:, 1])
                else:
                    fp_parts.append(np.unique(mins))
                rows.append(np.full(len(fp_parts[-1]), i))
            cols = {"pos": np.concatenate(pos_parts)} if positional else {}
            cols["fp"] = np.concatenate(fp_parts)
            return np.concatenate(rows), cols

        return batch

    return _doc_kernel(
        docs, fields, make, carry, where=F.length("nt") >= k + window - 1
    )


def winnow_fp_set_df(
    docs: DataFrame,
    k: int = 8,
    window: int = 4,
    carry: tuple = (),
    hash_fn: str = "md5",
    strategy: str = "auto",
) -> DataFrame:
    """Distinct winnowing fingerprints per document, ``(doc_id, fp)``.

    ``strategy``: ``'arrow'`` is the numpy kernel
    (:func:`_winnow_selected_arrow_df`: gram hashes computed inside the
    Arrow batch, zero shuffles, numpy/pandas in the executors' Python
    workers), ``'window'`` the sized exploded chain
    (:func:`_winnow_selected_window_df`) plus a per-doc dedup the doc_id
    partitioning already satisfies.  ``'auto'`` follows the ``winnow``
    row of ``backend.ROUTES``, assuming the output is a leaf; a caller
    that JOINS on the fingerprints resolves the form with
    ``choose_form("winnow", "auto", docs, hash_fn=.., composed=True)``
    and passes it in, as the contamination family does.

    Both forms are value-identical per hash family (equivalence-tested)."""
    _check_hash_fn(hash_fn)
    form = choose_form("winnow", strategy, docs, hash_fn=hash_fn)
    qcarry = quote_carry(carry, _WINNOW_RESERVED)
    if form == "arrow":
        return _winnow_selected_arrow_df(
            docs, int(k), int(window), qcarry, positional=False, hash_fn=hash_fn
        )
    sel = _winnow_selected_window_df(docs, int(k), int(window), qcarry, hash_fn)
    return sel.dropDuplicates(["doc_id", "fp"]).drop("pos")


def tfidf_df(docs: DataFrame, round_to: int = 6) -> DataFrame:
    """Per-(doc, token) tf-idf over the corpus: ``tf`` = in-document term
    count, ``df`` = number of documents containing the term,
    ``tfidf = tf * ln(n_docs / df)`` (SURVEY.md §2.4 "tf-idf via
    groupBy+join").

    Plan shape at 100 TB: one explode, two map-side-combined groupBys (tf
    keyed by (doc, token); df keyed by token — strictly smaller), one
    equi-join of tf against the token-df table (AQE broadcasts it when it
    fits), and the 1-row corpus count cross-joined in by broadcast.  No
    driver collection, no Python in the hot path.
    """
    norm = normalized_text()
    tok = docs.select(
        "doc_id", F.explode(F.split(norm, " ")).alias("token")
    ).filter(F.col("token") != "")
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    n = docs.agg(F.countDistinct("doc_id").alias("n_docs"))
    return (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), round_to
            ).alias("tfidf"),
        )
    )


def bm25_constants(k1: float = 1.2, b: float = 0.75) -> dict:
    """The derived BM25 constants, computed ONCE in Python so the Spark plan
    and any SQL oracle interpolate the SAME doubles (``k1 + 1`` computed
    engine-side could land on a different ulp than a ``2.2`` literal —
    shortest-repr round-tripping of one shared Python float sidesteps the
    cross-engine last-bit question entirely)."""
    k1 = float(k1)
    b = float(b)
    return {"k1": k1, "k1p1": k1 + 1.0, "b": b, "one_minus_b": 1.0 - b}


def bm25_topk_df(
    docs: DataFrame,
    query: str,
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
) -> DataFrame:
    """BM25 retrieval over the corpus: top ``top_k`` documents for ``query``
    (Robertson/Okapi with the Lucene ``ln(1 + (N - df + 0.5)/(df + 0.5))``
    idf), returning ``(doc_id, n_terms, score_micro, rank)``.  Query-term
    multiplicity is ignored (distinct terms), the standard bag-of-terms
    simplification.

    Determinism: each (doc, term) partial score is rounded to integer
    MICRO-units before the per-doc SUM (the ``ngram_lm_df`` recipe), so the
    aggregate is order-proof BIGINT addition, and the top-k orders by
    ``(score_micro DESC, doc_id)`` — tie-safe.

    Plan shape at 100 TB: document length is computed ROW-LOCALLY
    (``size(filter(split(...)))`` — no explode, no aggregation), the
    corpus-wide ``(n_docs, total_len)`` pair is ONE 1-row aggregate
    broadcast in, and the explode is filtered to the query's terms BEFORE
    the (doc, term) groupBy — the exchange carries only rows matching the
    handful of query terms, not the corpus vocabulary.  Document
    frequencies derive from that same filtered aggregate.  The final
    top-k is ``ORDER BY .. LIMIT k`` = TakeOrderedAndProject (distributed
    heap, never a global sort); the rank window runs over <= top_k rows.

    Documents with NULL text score nothing but are excluded from
    ``n_docs``/``avgdl`` too (mirror any oracle with ``WHERE text IS NOT
    NULL``)."""
    terms = _bm25_terms(query, "bm25_topk_df")
    consts = bm25_constants(k1, b)
    with_dl = _bm25_doc_tokens(docs)
    stats = with_dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("tot_len"),
    )
    # tf feeds TWO consumers in the tail (dfreq and the scoring join) and
    # its subtree here is the full corpus scan + explode — the term
    # filter sits AFTER the Generate, so each consumer re-plans a corpus
    # pass (the round-11 txt_bm25 before-plan carried 3 parquet scans /
    # 2 Generates).  Column pruning makes the two aggregate subtrees
    # canonically different, so Spark's ReuseExchange never fires.  The
    # lazy localCheckpoint materializes only the term-filtered tf frame —
    # bounded by the query terms' postings, tiny next to the corpus —
    # and both consumers reuse it: one scan + one explode.  The
    # checkpoint lives HERE, not in the shared tail: the index probe's tf
    # rides a token-BUCKETED scan whose clustering makes dfreq
    # exchange-free, and a checkpoint there would erase the bucketing and
    # ADD an exchange (measured: txt_bm25_idx 3->4 exchanges).
    tf = (
        with_dl.select("doc_id", "dl", F.explode("toks").alias("token"))
        .filter(F.col("token").isin(terms))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"), F.min("dl").alias("dl"))
        .localCheckpoint(eager=False)
    )
    return _bm25_score_tail(tf, stats, consts, top_k)


def _bm25_terms(query: str, fn: str) -> list:
    """Distinct normalized query terms (same normalization as the corpus
    tokenization) — one owner so inline scoring, index probes, and any
    oracle agree on what a term is."""
    import re as _re

    terms = sorted(
        {t for t in _re.sub(r"\s+", " ", query.strip().lower()).split(" ") if t}
    )
    if not terms:
        raise ValueError(f"{fn}: query produced no terms")
    return terms


def _bm25_doc_tokens(docs: DataFrame) -> DataFrame:
    """``(doc_id, dl, toks)`` — the shared corpus tokenization: NULL text
    excluded (mirror oracles with ``WHERE text IS NOT NULL``), document
    length ROW-LOCAL (no explode, no aggregation)."""
    return docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.filter(F.split(normalized_text(), " "), lambda x: x != "").alias("toks"),
    ).select("doc_id", F.size("toks").alias("dl"), "toks")


def _bm25_score_tail(tf: DataFrame, stats: DataFrame, consts: dict, top_k: int):
    """The shared BM25 scoring tail: per-(doc, term) micro-integer partial
    scores (order-proof BIGINT sum), document frequencies derived from the
    term-filtered ``tf`` frame itself, the 1-row ``stats`` broadcast, and
    a TakeOrderedAndProject top-k.  One owner for the expression trees so
    the inline operator and the index probe produce BIT-IDENTICAL scores
    (and so any SQL oracle only has to match one shape)."""
    from pyspark.sql.window import Window

    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    avgdl = F.col("tot_len") / F.col("n_docs")
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    num = F.col("tf").cast("double") * F.lit(consts["k1p1"])
    den = F.col("tf").cast("double") + F.lit(consts["k1"]) * (
        F.lit(consts["one_minus_b"]) + F.lit(consts["b"]) * (F.col("dl") / avgdl)
    )
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (F.round((idf * (num / den)) * F.lit(1000000.0), 0))
            .cast("long")
            .alias("term_micro"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("term_micro").alias("score_micro"),
        )
    )
    top = scored.orderBy(F.desc("score_micro"), F.asc("doc_id")).limit(int(top_k))
    w = Window.orderBy(F.desc("score_micro"), F.asc("doc_id"))
    return top.select(
        "doc_id", "n_terms", "score_micro", F.row_number().over(w).alias("rank")
    )


def token_entropy_df(docs: DataFrame) -> DataFrame:
    """Per-document unigram Shannon entropy over whitespace tokens —
    ``(doc_id, n_tokens, n_types, h_micro, h)`` with ``h`` in nats.  A
    quality signal adjacent to the Gopher repetition family: near-zero
    entropy = one token repeated (template/spam/keyword-stuffed text),
    ``ln(n_tokens)`` = every token distinct; filter the low tail.

    Determinism: each token's ``p*ln(p)`` term is rounded to integer
    MICRO-nats before the per-doc sum (the ``ngram_lm_df`` recipe — the
    sum is order-proof BIGINT addition; negative values round away from
    zero identically in both engines), and ``h = -h_micro/1e6`` rounded
    at 6.  Documents with zero tokens are excluded (no entropy to
    report); NULL text likewise.

    Plan shape at 100 TB: document length row-locally (``size``, no
    counting aggregation), then the compact-document recipe — compact
    docs repartition by ``doc_id`` ONCE, and both groupBys
    (``(doc_id, token)`` then ``doc_id``) are satisfied by that
    partitioning under the subset-of-keys rule: one exchange total,
    explode and both aggregations inside it (plan-shape-tested).
    """
    with_dl = (
        _bm25_doc_tokens(docs).filter(F.col("dl") > 0).repartition("doc_id")
    )
    cnt = (
        with_dl.select("doc_id", "dl", F.explode("toks").alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("c"), F.min("dl").alias("n"))
    )
    p = F.col("c") / F.col("n")
    term_micro = (
        F.round(p * F.log(p) * F.lit(1000000.0), 0).cast("long").alias("tm")
    )
    return (
        cnt.select("doc_id", "n", term_micro)
        .groupBy("doc_id")
        .agg(
            F.min("n").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_types"),
            (-F.sum("tm")).alias("h_micro"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_types",
            "h_micro",
            F.round(F.col("h_micro") / F.lit(1000000.0), 6).alias("h"),
        )
    )


def token_entropy_local_df(docs: DataFrame) -> DataFrame:
    """Zero-shuffle row-local twin of :func:`token_entropy_df` — the
    streaming form (ingestion-time quality scoring: a crawl scores each
    document's entropy as it lands, appends, no state).  Same output, the
    same micro-nat terms, BIT-IDENTICAL values (differential-tested).

    The counts + micro-nat terms are computed inside a ``mapInPandas``
    kernel (:func:`_token_entropy_arrow_df`) — zero interpreted JVM
    expressions, so nothing on the 100 TB ingestion path can go bimodal
    in a long-lived JVM (the winnowing lesson: an interpreted hash-array
    ``transform`` measured 15→88 s pass-to-pass in a long-lived mixed
    JVM).  The kernel reproduces Spark's arithmetic exactly: IEEE
    division and the left-associated ``(p * LN(p)) * 1e6`` product are
    bit-equal by the IEEE rules, and ``ROUND``'s
    HALF_UP-on-shortest-decimal-repr semantics are emulated with a
    vectorized fast path plus a ``decimal``-exact fixup inside the
    half-ulp boundary band.  Streams can't aggregate mid-plan, so the
    batch exchange form is never legal here."""
    return _token_entropy_arrow_df(docs)


def _round_half_up_micro(x: "np.ndarray") -> "np.ndarray":
    """Spark's ``ROUND(double)`` (HALF_UP over the double's SHORTEST
    decimal representation — ``BigDecimal.valueOf``/``Double.toString``
    semantics), vectorized: ``floor(x + 0.5)`` / ``ceil(x - 0.5)`` is
    exact except within a few ulp of a ``.5`` boundary, where the
    ``x + 0.5`` addition itself can cross an integer; those rare
    elements are recomputed with ``decimal`` over ``repr(x)`` (Python's
    ``repr`` is the same shortest-round-trip decimal).  The tie band is
    MAGNITUDE-AWARE — ``max(1e-9, 4*ulp(x))`` — so the emulation is
    exact at ANY double magnitude, not just the micro-nat domain
    (|x| <= ~3.7e5) it was written for: above ~2^52, where every double
    is an integer and ``x + 0.5`` can round-to-even across it, the band
    (>= 4 ulp >= 4) routes everything through the exact decimal path."""
    fast = np.where(x >= 0, np.floor(x + 0.5), np.ceil(x - 0.5))
    ax = np.abs(x)
    near = np.abs((ax % 1.0) - 0.5) < np.maximum(1e-9, 4.0 * np.spacing(ax))
    if near.any():
        from decimal import ROUND_HALF_UP, Decimal

        for j in np.nonzero(near)[0]:
            fast[j] = int(
                Decimal(repr(float(x[j]))).quantize(
                    Decimal(1), rounding=ROUND_HALF_UP
                )
            )
    return fast.astype(np.int64)


def _round_half_up_r_vec(x: "np.ndarray", r: int) -> "np.ndarray":
    """Vectorized Spark ``ROUND(double, r)`` for any non-negative scale
    ``r``: scale by ``10**r``, HALF_UP the integer part, divide back —
    exact except where the SCALED double sits near a ``.5`` boundary
    (double scaling error or the shortest-decimal-repr semantics could
    disagree there); those rare elements take :func:`_round_half_up_r`
    (decimal over ``repr``, the exact form).  The final division is
    correctly rounded to the same double the decimal quantize converts
    to, so fast and exact paths agree bit-for-bit wherever both are
    valid.  Band is magnitude-aware like :func:`_round_half_up_micro`'s."""
    scale = 10.0 ** r
    scaled = x * scale
    fast = np.where(scaled >= 0, np.floor(scaled + 0.5), np.ceil(scaled - 0.5))
    out = fast / scale
    a = np.abs(scaled)
    near = np.abs((a % 1.0) - 0.5) < np.maximum(1e-6, 8.0 * np.spacing(a))
    if near.any():
        for j in np.nonzero(near)[0]:
            out[j] = _round_half_up_r(float(x[j]), r)
    return out


def _round_half_up_r(v: float, r: int) -> float:
    """Spark's ``ROUND(double, r)`` for one value — exact, via HALF_UP
    over the shortest decimal repr (O(docs) calls, never O(tokens))."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(float(v))).quantize(
            Decimal(1).scaleb(-int(r)), rounding=ROUND_HALF_UP
        )
    )


def _entropy_term_decimal(p: float) -> int:
    """The tie-band arbiter for one micro-nat term: HALF_UP of
    ``p * ln(p) * 1e6`` with ``ln`` and the products computed to 40
    digits over the EXACT binary value of the double ``p`` — numpy-
    version-independent truth for elements whose double-arithmetic term
    lands within a few runtime-log-ulps of a ``.5`` boundary."""
    from decimal import ROUND_HALF_UP, Decimal, localcontext

    with localcontext() as ctx:
        ctx.prec = 40
        t = Decimal(p) * Decimal(p).ln() * Decimal(1000000)
        return int(t.quantize(Decimal(1), rounding=ROUND_HALF_UP))


# half-width of the term tie band: a 1-ulp log error scales to at most
# ~2e-9 after * p * 1e6 (|ln p| <= ~18 for any nonempty doc, plus two
# 0.5-ulp products), so 4e-9 covers every runtime's excursion
_ENTROPY_TIE_BAND = 4e-9


def _token_entropy_arrow_df(docs: DataFrame) -> DataFrame:
    """The Arrow kernel behind ``token_entropy_local_df``:
    tokenization of the ALREADY-NORMALIZED text (Spark computes
    ``normalized_text`` in the plan; the kernel only splits on the single
    space the normalization guarantees), per-type counts, and the exact
    micro-nat term ``ROUND((c/n) * LN(c/n) * 1e6)`` per type — bit-equal
    to :func:`token_entropy_df`'s JVM ``LN`` (differential-tested): the division and the
    left-associated products are IEEE-identical by construction, and the
    rounding emulates Spark's HALF_UP exactly.  Zero shuffles, zero
    interpreted JVM expressions, stateless ``mapInPandas`` —
    streaming-legal, nothing left to deoptimize in a long-lived JVM.

    Cross-runtime log assumption, made explicit (round-9 advice): the
    JVM's ``Math.log`` and numpy's vectorized ``np.log`` are each
    allowed 1 ulp of error, so their doubles can differ — which only
    matters when the scaled term lands within ~2e-9 of a ``.5`` rounding
    boundary.  Terms inside a 4e-9 band around a boundary are therefore
    re-decided by :func:`_entropy_term_decimal` (40-digit exact ln over
    the same double ``p``), making the kernel's tie decisions
    numpy-version- and SIMD-path-independent.  Residual divergence
    requires the JVM's OWN 1-ulp error to cross a boundary the true
    value sits within ~2e-9 of — unobserved, untestable by fixture, and
    platform-stable if it ever occurs.  The boundary-hunt differential
    test (test_minhash_char_entropy_arrow.py) pins kernel == JVM on
    adversarial near-tie inputs at every release of numpy this repo
    moves to."""
    from collections import Counter

    def batch(pdf):
        rows, n_tok, n_typ, hms, hs = [], [], [], [], []
        for i, nt in enumerate(pdf["nt"]):
            cnt = Counter(t for t in nt.split(" ") if t)
            n = sum(cnt.values())
            if n == 0:
                continue
            cs = np.fromiter(cnt.values(), dtype=np.int64, count=len(cnt))
            p = cs / np.float64(n)
            terms = (p * np.log(p)) * 1e6
            rounded = _round_half_up_micro(terms)
            at = np.abs(terms)
            tie = np.abs((at % 1.0) - 0.5) < _ENTROPY_TIE_BAND
            if tie.any():
                for j in np.nonzero(tie)[0]:
                    rounded[j] = _entropy_term_decimal(float(p[j]))
            hm = -int(rounded.sum())
            rows.append(i)
            n_tok.append(n)
            n_typ.append(len(cnt))
            hms.append(hm)
            hs.append(_round_half_up_r(hm / 1e6, 6))
        return rows, {
            "n_tokens": np.array(n_tok, dtype=np.int32),
            "n_types": np.array(n_typ, dtype=np.int32),
            "h_micro": np.array(hms, dtype=np.int64),
            "h": np.array(hs, dtype=np.float64),
        }

    return _doc_kernel(
        docs,
        [("n_tokens", "int"), ("n_types", "int"), ("h_micro", "long"), ("h", "double")],
        lambda: batch,
    )


_BM25_PROP_PREFIX = "imops.bm25."
_BM25_INT_KEYS = ("n_docs", "tot_len", "num_buckets", "positions")
# the tokenizer identity stamped into every index: whitespace split of
# lower/trim/space-collapsed text — bump if the normalization ever changes
_BM25_NORM_FAMILY = "ws_lower_v1"


def bm25_write_index(
    docs: DataFrame,
    table: str,
    num_buckets: int = 16,
    path: str | None = None,
    fingerprint: str | None = None,
    positions: bool = False,
) -> None:
    """Persist the corpus as a BM25 INVERTED INDEX: a postings table
    ``(token, doc_id, tf, dl)`` bucketed by token, with the corpus-global
    statistics (``n_docs``, ``tot_len``) and the tokenizer identity
    stamped as table properties + a ``path__meta`` sidecar (the
    ``embedding_write_index`` recipe).  The corpus pays tokenization ONCE
    at write time; every :func:`bm25_index_topk` probe scans only the
    postings of its query's terms — at 100 TB that is the difference
    between a full corpus re-tokenization per query and a few
    bucket-pruned posting reads.

    ``positions=True`` adds POSITIONAL postings: each row carries the
    sorted token positions (``pos array<int>``, 0-based over the
    whitespace tokenization), enabling :func:`bm25_phrase_index_topk`
    phrase queries against the same index.  The extra column costs
    ~one int per token occurrence at write time and nothing at
    term-query time (column pruning drops it from non-phrase probes).

    NO append mode, by design: BM25 scores depend on corpus-GLOBAL
    statistics (df, n_docs, avgdl), so an appended index would silently
    score with stale idf — strictly worse than the rebuild this forces.
    Stamp ``fingerprint=corpus_fingerprint(docs)`` to make staleness
    detectable at probe time."""
    from ..sources.parquet import write_bucketed
    from .similarity import _check_stamp_value, _emb_write_sidecar

    spark = docs.sparkSession
    if fingerprint is not None:
        _check_stamp_value("fingerprint", fingerprint)
    with_dl = _bm25_doc_tokens(docs)
    r = with_dl.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("c")
    ).first()
    n_docs, tot_len = int(r["n"]), int(r["c"] or 0)
    id_type = dict(docs.dtypes)["doc_id"]
    exploded = with_dl.select(
        "doc_id", "dl", F.posexplode("toks").alias("pos", "token")
    )
    aggs = [F.count(F.lit(1)).alias("tf"), F.min("dl").alias("dl")]
    cols = ["token", "doc_id", "tf", "dl"]
    if positions:
        aggs.append(F.sort_array(F.collect_list("pos")).alias("pos"))
        cols.append("pos")
    postings = exploded.groupBy("token", "doc_id").agg(*aggs)
    write_bucketed(
        postings.select(*cols),
        table,
        ["token"],
        num_buckets=int(num_buckets),
        path=path,
        mode="overwrite",
    )
    stamp = {
        "norm": _BM25_NORM_FAMILY,
        "n_docs": n_docs,
        "tot_len": tot_len,
        "num_buckets": int(num_buckets),
        "id_type": id_type,
        "positions": int(bool(positions)),
    }
    if fingerprint is not None:
        stamp["fingerprint"] = str(fingerprint)
    props = ", ".join(
        f"'{_BM25_PROP_PREFIX}{name}'='{v}'" for name, v in stamp.items()
    )
    spark.sql(f"ALTER TABLE {table} SET TBLPROPERTIES({props})")
    if path:
        _emb_write_sidecar(spark, path, stamp)


def bm25_read_index(spark, table: str, fingerprint: str | None = None):
    """Load a persisted BM25 index: returns ``(postings DataFrame, stamp
    dict)`` after validating the stamp exists, the tokenizer identity
    matches this module's, and — when the caller passes the CURRENT
    corpus ``fingerprint`` — that the index is not stale."""
    from .similarity import _emb_stored_props

    stored = _emb_stored_props(
        spark, table, prefix=_BM25_PROP_PREFIX, int_keys=_BM25_INT_KEYS
    )
    if not stored:
        raise ValueError(
            f"{table!r} carries no {_BM25_PROP_PREFIX}* stamp — not a BM25 "
            "index built by bm25_write_index"
        )
    if stored.get("norm") != _BM25_NORM_FAMILY:
        raise ValueError(
            f"BM25 index {table!r} was tokenized as {stored.get('norm')!r}, "
            f"this module tokenizes as {_BM25_NORM_FAMILY!r}: scores would "
            "silently mix tokenizations — rebuild the index"
        )
    if fingerprint is not None and stored.get("fingerprint") != str(fingerprint):
        raise ValueError(
            f"BM25 index {table!r} was built from corpus fingerprint "
            f"{stored.get('fingerprint')!r}, the corpus now fingerprints "
            f"{fingerprint!r}: the index is stale — rebuild it"
        )
    return spark.table(table), stored


def bm25_register_index(spark, table: str, path: str) -> None:
    """Re-register a BM25 index written by another session from its
    ``path__meta`` sidecar: (re)creates the external table WITH its
    original bucket spec and restores the properties (the
    ``embedding_register_index`` recipe — an unbucketed recreate would
    silently lose the bucket-pruned probe path).  Idempotent."""
    from .similarity import _emb_read_sidecar

    stamp = _emb_read_sidecar(spark, path, int_keys=_BM25_INT_KEYS)
    if not stamp:
        raise ValueError(
            f"no BM25-index sidecar at {path}__meta — was this index "
            "written by bm25_write_index with an explicit path?"
        )
    for key in ("id_type", "num_buckets", "norm", "n_docs", "tot_len"):
        if key not in stamp:
            raise ValueError(
                f"BM25-index sidecar at {path}__meta lacks {key!r}; "
                "rebuild the index with this version's bm25_write_index"
            )
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    loc = path.replace("'", "''")
    # pre-positions sidecars lack the key: those indexes were written
    # without the pos column, so re-register with the original schema
    pos_col = ", pos array<int>" if int(stamp.get("positions", 0)) else ""
    spark.sql(
        f"CREATE TABLE {table} (token string, doc_id {stamp['id_type']}, "
        f"tf bigint, dl int{pos_col}) USING parquet "
        f"CLUSTERED BY (token) INTO {int(stamp['num_buckets'])} BUCKETS "
        f"LOCATION '{loc}'"
    )
    props = ", ".join(
        f"'{_BM25_PROP_PREFIX}{name}'='{v}'" for name, v in sorted(stamp.items())
    )
    spark.sql(f"ALTER TABLE {table} SET TBLPROPERTIES({props})")


def bm25_index_topk(
    spark,
    table: str,
    query: str,
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
    fingerprint: str | None = None,
) -> DataFrame:
    """BM25 top-k against a persisted inverted index — BIT-IDENTICAL
    scores to :func:`bm25_topk_df` over the indexed corpus (the scoring
    tail is shared code; document frequencies derive from the stored
    postings exactly as the inline operator derives them from its
    filtered explode).  The probe reads ONLY the query terms' postings
    (token filter on the token-bucketed table), and the corpus-global
    stats come from the stamp — zero corpus-side work at query time."""
    terms = _bm25_terms(query, "bm25_index_topk")
    consts = bm25_constants(k1, b)
    postings, stored = bm25_read_index(spark, table, fingerprint=fingerprint)
    tf = postings.filter(F.col("token").isin(terms)).select(
        "doc_id", "token", "tf", "dl"
    )
    stats = spark.createDataFrame(
        [(int(stored["n_docs"]), int(stored["tot_len"]))],
        "n_docs long, tot_len long",
    )
    return _bm25_score_tail(tf, stats, consts, top_k)


def _bm25_phrase_toks(phrase: str, fn: str) -> list:
    """The phrase's normalized tokens IN ORDER (not deduped — slot i of
    the phrase is matched against position p+i), same normalization as
    the corpus tokenization."""
    import re as _re

    toks = [t for t in _re.sub(r"\s+", " ", phrase.strip().lower()).split(" ") if t]
    if not toks:
        raise ValueError(f"{fn}: phrase produced no tokens")
    return toks


def bm25_phrase_topk_df(
    docs: DataFrame,
    phrase: str,
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
) -> DataFrame:
    """EXACT-PHRASE BM25 retrieval: top ``top_k`` documents containing
    ``phrase`` as consecutive whitespace tokens, returning ``(doc_id,
    phrase_tf, score_micro, rank)``.  The phrase scores as ONE virtual
    term — tf = the number of (possibly overlapping) phrase occurrences,
    df = the number of documents with >= 1 occurrence — through the same
    Lucene-idf / k1 / b formula as :func:`bm25_topk_df`, micro-rounded
    for cross-engine determinism.

    Plan shape at 100 TB: the corpus explode is filtered to the phrase's
    DISTINCT terms before its groupBy (the bm25_topk_df recipe — the
    exchange carries only matching term occurrences, each with its
    position), each candidate document assembles a term→positions map
    row-locally, and the phrase test is a row-local positional
    intersection (position p matches iff slot i's term has position p+i
    for every i — overlapping occurrences count, the positional-index
    semantics).  Document frequency is a 1-row broadcast aggregate over
    the candidates; the top-k is TakeOrderedAndProject."""
    toks = _bm25_phrase_toks(phrase, "bm25_phrase_topk_df")
    consts = bm25_constants(k1, b)
    with_dl = _bm25_doc_tokens(docs)
    stats = with_dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("tot_len")
    )
    pos = (
        with_dl.select("doc_id", "dl", F.posexplode("toks").alias("pos", "token"))
        .filter(F.col("token").isin(sorted(set(toks))))
        .groupBy("doc_id", "token")
        .agg(
            F.min("dl").alias("dl"),
            F.sort_array(F.collect_list("pos")).alias("pos"),
        )
    )
    return _bm25_phrase_tail(
        pos, stats, toks, consts, top_k, checkpoint_cand=True
    )


def bm25_phrase_index_topk(
    spark,
    table: str,
    phrase: str,
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
    fingerprint: str | None = None,
) -> DataFrame:
    """Exact-phrase BM25 against a POSITIONAL persisted index (built with
    ``bm25_write_index(..., positions=True)``) — BIT-IDENTICAL scores to
    :func:`bm25_phrase_topk_df` over the indexed corpus (the positional
    tail is shared code; the stored sorted position arrays are exactly
    what the inline operator derives).  The probe reads ONLY the phrase
    terms' postings (bucket-pruned on the token-bucketed table); corpus
    stats come from the stamp — zero corpus-side work at query time.
    Probing a non-positional index RAISES (a silent term-only fallback
    would return phrase-free documents)."""
    toks = _bm25_phrase_toks(phrase, "bm25_phrase_index_topk")
    consts = bm25_constants(k1, b)
    postings, stored = bm25_read_index(spark, table, fingerprint=fingerprint)
    if not int(stored.get("positions", 0)):
        raise ValueError(
            f"BM25 index {table!r} has no positional postings — phrase "
            "queries need bm25_write_index(..., positions=True); rebuild "
            "the index"
        )
    # the (token, doc_id) regroup is a NO-OP on data ((token, doc_id) is
    # unique in the index) whose clustering requirement is satisfied by
    # the token bucketing under the subset-of-keys rule — it runs
    # map-side with no exchange, and its presence is what keeps the
    # planner from discarding the bucketed scan (Spark drops bucket
    # PRUNING together with the bucketed scan when nothing downstream
    # consumes the token partitioning; measured: SelectedBucketsCount
    # disappears without this)
    pos = (
        postings.filter(F.col("token").isin(sorted(set(toks))))
        .groupBy("token", "doc_id")
        .agg(F.min("dl").alias("dl"), F.first("pos").alias("pos"))
        .select("doc_id", "token", "dl", "pos")
    )
    stats = spark.createDataFrame(
        [(int(stored["n_docs"]), int(stored["tot_len"]))],
        "n_docs long, tot_len long",
    )
    return _bm25_phrase_tail(pos, stats, toks, consts, top_k)


def _bm25_phrase_tail(
    pos_postings: DataFrame,
    stats: DataFrame,
    toks: list,
    consts: dict,
    top_k: int,
    checkpoint_cand: bool = False,
):
    """The shared phrase-BM25 tail: per-doc term→positions map assembly,
    row-local positional-intersection phrase count, candidate-set
    document frequency as a 1-row broadcast, micro-rounded single-term
    score, TakeOrderedAndProject top-k.  One owner so the inline operator
    and the index probe produce BIT-IDENTICAL scores.

    ``pos_postings`` is ``(doc_id, token, dl, pos array<int>)`` already
    filtered to the phrase's distinct terms, positions sorted 0-based.

    The candidate frame feeds TWO consumers (the scored rows and the
    1-row df broadcast).  For the INLINE operator its subtree is the full
    corpus scan + posexplode — the term filter sits after the Generate —
    so an unshared plan re-runs a corpus pass per consumer (round-11
    txt_bm25_phrase inline before-plan: 2 parquet scans); the inline
    caller therefore passes ``checkpoint_cand=True`` and ``cand`` (the
    phrase-matching candidate set, tiny next to the corpus) is lazily
    localCheckpoint-ed so both consumers reuse one materialization.  The
    INDEX probe passes False: its replan is bounded by the bucket-pruned
    phrase-term postings, and a checkpoint would hide the bucketed scan
    (``SelectedBucketsCount``) from the executed plan — the pruning
    contract the probe's test pins.  (The single-pass alternative — a
    global window count over candidates — would funnel every candidate
    through one partition; worse at scale.)"""
    from pyspark.sql.window import Window

    n_distinct = len(set(toks))
    per_doc = (
        pos_postings.groupBy("doc_id")
        .agg(
            F.min("dl").alias("dl"),
            F.count(F.lit(1)).alias("nt"),
            F.map_from_entries(F.collect_list(F.struct("token", "pos"))).alias(
                "tp"
            ),
        )
        .filter(F.col("nt") == n_distinct)
    )
    first = F.element_at(F.col("tp"), F.lit(toks[0]))
    if len(toks) == 1:
        tf_col = F.size(first)
    else:

        def _match(q):
            cond = None
            for i, t in enumerate(toks[1:], start=1):
                c = F.array_contains(
                    F.element_at(F.col("tp"), F.lit(t)), q + F.lit(i)
                )
                cond = c if cond is None else cond & c
            return cond

        tf_col = F.size(F.filter(first, _match))
    cand = per_doc.select(
        "doc_id", "dl", tf_col.cast("long").alias("phrase_tf")
    ).filter(F.col("phrase_tf") > 0)
    if checkpoint_cand:
        cand = cand.localCheckpoint(eager=False)
    dfp = cand.agg(F.count(F.lit(1)).alias("df"))
    avgdl = F.col("tot_len") / F.col("n_docs")
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    num = F.col("phrase_tf").cast("double") * F.lit(consts["k1p1"])
    den = F.col("phrase_tf").cast("double") + F.lit(consts["k1"]) * (
        F.lit(consts["one_minus_b"]) + F.lit(consts["b"]) * (F.col("dl") / avgdl)
    )
    scored = (
        cand.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(dfp))
        .select(
            "doc_id",
            "phrase_tf",
            (F.round((idf * (num / den)) * F.lit(1000000.0), 0))
            .cast("long")
            .alias("score_micro"),
        )
    )
    top = scored.orderBy(F.desc("score_micro"), F.asc("doc_id")).limit(int(top_k))
    w = Window.orderBy(F.desc("score_micro"), F.asc("doc_id"))
    return top.select(
        "doc_id", "phrase_tf", "score_micro", F.row_number().over(w).alias("rank")
    )


# The HTML-strip pipeline as DATA, one owner for the Spark column builder
# and any SQL oracle: ordered (regex, replacement) steps in the
# Java-regex ∩ RE2 common subset (inline (?is) flags, non-greedy .*?,
# no lookaround, no backrefs), then ordered LITERAL entity decodes.
# Replacements avoid '$' and '\' (special in Java replacement strings).
HTML_STRIP_STEPS: list = [
    # container elements whose CONTENT is not text
    (r"(?is)<script[^<>]*>.*?</script>", " "),
    (r"(?is)<style[^<>]*>.*?</style>", " "),
    (r"(?s)<!--.*?-->", " "),
    (r"(?is)<!doctype[^<>]*>", " "),
    # block-level structure becomes line structure
    (r"(?i)<br[^<>]*>", "\n"),
    (r"(?i)</(?:p|div|li|h[1-6]|tr|table|ul|ol|blockquote)>", "\n"),
    # every remaining tag is formatting — a tag starts with '<' plus an
    # optional '/' and a LETTER and contains no nested angle brackets, so
    # prose like '3 < 5 and x > y' survives intact (a bare '<[^>]*>'
    # would eat it from '< 5' to the next '>')
    (r"</?[a-zA-Z][^<>]*>", " "),
]
# &amp; decodes LAST: single-pass semantics — '&amp;lt;' becomes '&lt;'
# (one level of unescaping), never '<'
HTML_ENTITIES: list = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
]
HTML_WS_STEPS: list = [
    (r"[ \t\r]+", " "),
    (r" *\n *", "\n"),
    (r"\n{3,}", "\n\n"),
    (r"^\s+|\s+$", ""),
]


def strip_html_column(col) -> "F.Column":
    """The HTML→text extraction as a pure column expression: script/
    style/comment removal, block tags → newlines, tag strip, common
    entity decode, whitespace normalization — applied in the exact order
    of the module-level step tables (which an oracle can mirror
    step-for-step in any RE2 engine)."""
    out = col
    for pat, rep in HTML_STRIP_STEPS:
        out = F.regexp_replace(out, pat, rep)
    for ent, rep in HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(rep))
    for pat, rep in HTML_WS_STEPS:
        out = F.regexp_replace(out, pat, rep)
    return out


def strip_html_df(
    docs: DataFrame, text_col: str = "text", out_col: str = "text_clean"
) -> DataFrame:
    """HTML→text extraction (the WET-style first step of a web-corpus
    pipeline) over ``text_col``: returns ``docs`` plus ``out_col``.

    Deliberately a REGEX extractor, not a DOM parse: it is a pure
    zero-shuffle column expression (scan-speed at 100 TB,
    streaming-legal at ingestion time, whole-stage-codegen'd), it
    degrades gracefully on the malformed markup a crawl actually
    contains (a real parser rejects or "corrects" it
    engine-dependently), and every step lives in the Java∩RE2 regex
    subset so the transformation is reproducible across engines —
    the property the gate pins.  A ``<`` not followed by a letter (math,
    code, broken markup) survives as text, as does an unterminated tag
    (the common-crawl WET convention of leaving broken markup in place).
    NULL text stays NULL."""
    return docs.withColumn(out_col, strip_html_column(F.col(text_col)))


def ngram_lm_df(
    docs: DataFrame,
    train_docs: DataFrame | None = None,
    add_k: float = 1.0,
    strategy: str = "auto",
) -> DataFrame:
    """Bigram language-model cross-entropy per document — the relational
    core of the CCNet-style "LM perplexity" quality filter (Wenzek et al.
    2020 score with a KenLM 5-gram; the engine-level shape is identical,
    only the model order and estimator differ): train add-``add_k``
    (Laplace) bigram counts on ``train_docs`` (default: the scored corpus
    itself), then score every document's average negative log-likelihood.
    Output: ``(doc_id, n_bigrams, lp_micro_sum, xent, ppl)`` where ``xent``
    is in nats per bigram and ``ppl = exp(xent)``.  When ``strategy``
    resolves to ``'arrow'`` the call collects the bigram model EAGERLY,
    at plan build: it runs one model query over the train side, collected
    with one ``toPandas``, before it returns.

    Model: per document the token sequence is ``['<s>'] + tokens`` of the
    normalized text;  ``P(cur | prev) = (c2(prev,cur) + a) /
    (c1(prev) + a*V)`` with ``c2`` the train bigram count, ``c1(prev) =
    sum_cur c2(prev,cur)`` (the CONTEXT count, so probabilities normalize),
    and ``V`` the number of distinct predicted-token types.  Unseen events
    (scoring off-train corpora) back off to the same formula with zero
    counts.  Zero-token documents have no bigrams and are not scored.

    Cross-engine determinism (this is hash-gated against DuckDB): each
    bigram's ``ln P`` is snapped to an integer micro-nat grid
    (``round(lp * 1e6)`` as BIGINT) BEFORE the per-document sum, so the
    sum is exact integer arithmetic — order-independent under Spark's
    arbitrary partial-aggregation order, where a double sum would drift in
    the last ULPs.  ``xent`` is the micro-nat MEAN computed entirely in
    integers — ``(2*|sum| + n) DIV (2*n)``, i.e. exact round-half-up of
    ``|sum|/n`` — because a double ``ROUND(sum/(n*1e6), 6)`` lands exactly
    ON the half-grid whenever ``n`` divides ``2*sum`` oddly (~1/n of
    documents), and there Spark's decimal-string HALF_UP and DuckDB's
    binary ``std::round`` are free to disagree.  ``ppl`` exponentiates the
    tie-free xent so both engines exp() the identical double.

    Plan shape at 100 TB: one explode of the scored corpus feeding both
    the count side and the scoring side (two scans of the gram subtree
    when self-trained — column pruning differentiates the branches, the
    dd_spans ReusedExchange caveat), ``c2`` one shuffle keyed (prev, cur),
    ``c1``/``V`` derived from ``c2`` (strictly smaller), scoring join on
    (prev, cur) + broadcast of the 1-row V, final groupBy(doc_id).  At
    real scale train on a ``hash_sample_df`` slice so the count tables
    AQE-broadcast, exactly as CCNet trains its LM on a Wikipedia-sized
    sample rather than the corpus being scored.

    ``strategy``: ``'agg'`` — the explode + model-join + groupBy scoring
    above; ``'arrow'`` — the round-12 scoring kernel
    (:func:`_lm_score_arrow_df`): the per-bigram micro-nat scores are
    precomputed ON THE MODEL TABLE by the SAME JVM ``LN`` expression
    (vocab-bounded rows, never per occurrence), collected once, and the
    corpus is scored by a zero-shuffle ``mapInPandas`` doing pure
    integer dictionary lookups — no float is ever computed in Python,
    so ``arrow == agg`` bit-for-bit by construction; ``'auto'`` — the
    ``ngram_lm`` row of ``backend.ROUTES``, which sizes the TRAIN side:
    a 100 TB self-trained model stays on agg, the CCNet regime
    (sample-trained model, huge scored corpus) takes arrow.
    """
    a = float(add_k)
    if a <= 0:
        raise ValueError(f"add_k must be > 0, got {add_k}")
    form = choose_form("ngram_lm", strategy, docs, train=train_docs)

    def _bigrams(d: DataFrame) -> DataFrame:
        # `toks` is re-bound as the outer lambda's variable `t` so element
        # accesses inside the inner lambda touch a bound array, not the
        # inlined array_remove(split(..)) chain (the CollapseProject
        # lambda-CSE trap: an expression column referenced inside a lambda
        # body is re-evaluated PER INVOCATION — see dedup.simhash_df's
        # 'local' fold comment).
        # A HOF's top-level ARGUMENT is evaluated once, which is what the
        # transform(array(toks), t -> ..)[0] binding exploits.
        norm = normalized_text()
        return (
            d.filter(F.col("text").isNotNull())
            .select(
                "doc_id",
                F.array_remove(F.split(norm, " "), "").alias("toks"),
            )
            .filter(F.size("toks") > 0)
            .select(
                "doc_id",
                F.expr(
                    "explode(transform(array(toks), t ->"
                    " transform(sequence(1, size(t)), i -> named_struct("
                    "   'prev', if(i = 1, '<s>', t[i - 2]),"
                    "   'cur', t[i - 1])))[0])"
                ).alias("g"),
            )
            .select("doc_id", "g.prev", "g.cur")
        )

    # c2 is the MODEL table: one row per distinct train bigram, bounded
    # by vocabulary^2, not corpus size.
    big = _bigrams(docs)
    train_big = _bigrams(train_docs) if train_docs is not None else big
    c2 = train_big.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("c2"))
    if form == "arrow":
        per_doc = _lm_score_arrow_df(docs, c2, a)
        if per_doc is not None:
            return _lm_tail(per_doc)
        # an empty model (no train tokens): the agg form below scores it
    # The agg plan reads c2 THREE times: c1, V and the scoring join.
    # Without the (lazy) localCheckpoint each consumer re-plans the full
    # train explode + count (the round-11 plan audit showed the corpus
    # gram Generate FOUR times in txt_lm's plan: train x3 + scoring).
    # Checkpointed, the explode runs once per side; lazy, so nothing
    # executes at build time, and the blocks die with the DataFrame.
    c2 = c2.localCheckpoint(eager=False)
    c1 = c2.groupBy("prev").agg(F.sum("c2").alias("c1"))
    v = c2.agg(F.countDistinct("cur").alias("v"))
    scored = (
        big.join(c2, ["prev", "cur"], "left")
        .join(c1, ["prev"], "left")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            F.expr(_lm_lpm_sql("coalesce(c2, 0)", "coalesce(c1, 0)", a)).alias("lpm"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("lpm").alias("lp_micro_sum"),
    )
    return _lm_tail(per_doc)


def _lm_lpm_sql(c2: str, c1: str, a: float) -> str:
    """SQL for :func:`ngram_lm_df`'s one log-prob, ``ln((c2 + a) / (c1 +
    a*v))`` as BIGINT micro-nats, over operands ``c2``/``c1`` and a ``v``
    column."""
    return f"CAST(ROUND(LN(({c2} + {a!r}) / ({c1} + {a!r} * v)) * 1000000) AS BIGINT)"


def _lm_tail(per_doc: DataFrame) -> DataFrame:
    """Shared xent/ppl projection over ``(doc_id, n_bigrams,
    lp_micro_sum)`` — one owner for the tie-proof integer arithmetic (see
    :func:`ngram_lm_df`); ``lp_micro_sum <= 0`` always since every
    ``P <= 1``."""
    xent = F.expr(
        "CAST(((-lp_micro_sum) * 2 + n_bigrams) DIV (2 * n_bigrams)"
        " AS DOUBLE) / 1000000.0"
    )
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        "lp_micro_sum",
        xent.alias("xent"),
        F.round(F.exp(xent), 4).alias("ppl"),
    )


def _lm_score_arrow_df(docs: DataFrame, c2: DataFrame, a: float) -> DataFrame | None:
    """The Arrow scoring kernel behind ``ngram_lm_df(strategy='arrow')``:
    returns ``(doc_id, n_bigrams, lp_micro_sum)`` with ZERO scoring-side
    shuffles, or None for an empty model (no train tokens: zero model
    rows), which the caller scores with the agg form.

    Exact parity with the agg form by construction — the kernel never
    computes a float:

    - the per-bigram micro-nat scores are precomputed on the MODEL
      table by the SAME JVM expression the agg form applies per
      occurrence (:func:`_lm_lpm_sql`), for all three backoff cases as
      columns of every model row: seen bigram (``lpm2``), seen
      context/unseen bigram (``lpm1`` — ``c2`` coalesces to 0, and
      ``0 + a == a`` exactly in IEEE), unseen context (``lpm0``).  The
      model rows are vocab-bounded, so this costs one digest per
      DISTINCT bigram, never per occurrence;
    - tokens: ``nt.split(' ')`` minus empties over the plan-computed
      normalized text — bit-parity with ``array_remove(split(norm, ' '),
      '')`` (the minhash-kernel tokenization argument: normalization
      collapses every whitespace run to one space);
    - the per-document sum is exact integer addition of the looked-up
      micro-nat scores — associative, so Python's arbitrary-precision
      sum equals Spark's int64 partial-agg sum on any non-degenerate
      model (scores are ~1e7-scale negatives; an int64 sum cannot wrap
      below ~1e11 bigrams per document).

    The model is one query over ``c2`` (``c1`` a window sum over ``prev``,
    ``V`` a global sum of first-occurrence-of-``cur`` flags), collected
    with one ``toPandas`` at plan build and shipped via a Spark broadcast:
    each Python worker unpickles it once and keeps it across its tasks.
    The removed work is the per-occurrence bigram explode, two model
    joins, and the corpus-wide doc aggregation.
    """
    from pyspark.sql.window import Window

    first = F.row_number().over(Window.partitionBy("cur").orderBy("prev")) == 1
    m = (
        c2.select(
            "*",
            F.sum("c2").over(Window.partitionBy("prev")).alias("c1"),
            first.cast("int").alias("first"),
        )
        .withColumn("v", F.sum("first").over(Window.partitionBy()))
        .selectExpr(
            "prev",
            "cur",
            f"{_lm_lpm_sql('c2', 'c1', a)} AS lpm2",
            f"{_lm_lpm_sql('0', 'c1', a)} AS lpm1",
            f"{_lm_lpm_sql('0', '0', a)} AS lpm0",
        )
        .toPandas()
    )
    if m.empty:
        return None
    d2 = dict(zip(zip(m["prev"].tolist(), m["cur"].tolist()), m["lpm2"].tolist()))
    d1 = dict(zip(m["prev"].tolist(), m["lpm1"].tolist()))
    bc = docs.sparkSession.sparkContext.broadcast((d2, d1, int(m["lpm0"].iat[0])))

    def make():
        g2, g1, l0 = bc.value
        get2, get1 = g2.get, g1.get

        def batch(pdf):
            rows, ns, sums = [], [], []
            for i, nt in enumerate(pdf["nt"]):
                toks = [t for t in nt.split(" ") if t]
                if not toks:
                    continue  # zero-token docs are not scored (agg parity)
                s = 0
                prev = "<s>"
                for cur in toks:
                    v2 = get2((prev, cur))
                    if v2 is None:
                        v2 = get1(prev, l0)
                    s += v2
                    prev = cur
                rows.append(i)
                ns.append(len(toks))
                sums.append(s)
            return rows, {"n_bigrams": ns, "lp_micro_sum": sums}

        return batch

    return _doc_kernel(
        _widen(docs), [("n_bigrams", "long"), ("lp_micro_sum", "long")], make
    )


def fingerprint_df(docs: DataFrame, prefix: int = 64) -> DataFrame:
    """Document fingerprint: md5 over the lowercased, whitespace-normalized
    text plus a prefix fingerprint (cheap near-dup blocking key)."""
    # normalized_text() INCLUDES trim — the one inline copy here had
    # dropped it, so ' abc' and 'abc' fingerprinted differently while
    # exact_dup_groups_df (and the declared DuckDB oracle, which always
    # trimmed) grouped them as identical
    norm = normalized_text()
    return docs.select(
        "doc_id",
        F.md5(norm).alias("fp_full"),
        F.md5(F.substring(norm, 1, prefix)).alias("fp_prefix"),
    )


def _repetition_arrow_df(
    docs: DataFrame,
    top_ns: tuple,
    dup_ns: tuple,
    line_sep: str,
    round_to: int,
) -> DataFrame:
    """The zero-shuffle Arrow kernel behind :func:`repetition_df`: every
    metric is a function of ONE document's own text, so the whole
    computation is row-local.  The kernel counts grams per document in a
    dict and reproduces Spark's string and ``ROUND`` semantics exactly
    (tested bit-identical against a plain-Python reference):

    - tokens: ``nt.split(' ')`` over the plan-computed normalized text —
      Spark ``split(nt, ' ')`` with its keep-trailing-empties limit=-1
      semantics, which Python's explicit-separator split shares;
    - lines: literal ``line_sep`` split of the RAW text, ``trim`` =
      space-only strip (Spark/SQL trim semantics, NOT Python ``.strip()``),
      empties dropped;
    - the top gram per n is the max of ``(cnt, glen)`` — cnt first, then
      gram length; a gram string tie-break could not affect the output
      (equal (cnt, glen) ties produce the same ``cnt * glen``);
    - fractions: IEEE ``num / max(den, 1)`` on exact integer-valued
      doubles, then Spark's ``ROUND(double, r)`` (HALF_UP over the
      shortest decimal repr) via the shared vectorized emulation.

    Plan shape at 100 TB: ZERO shuffles — one corpus scan feeding a
    stateless ``mapInPandas``; the gram rows never exist as exchange
    payload.
    """
    from collections import Counter

    all_ns = sorted(set(top_ns) | set(dup_ns))
    top_cols = [f"top{n}gram_char_frac" for n in top_ns]
    dup_cols = [f"dup{n}gram_char_frac" for n in dup_ns]
    fields = [
        ("n_chars", "long"), ("n_lines", "long"),
        ("dup_line_frac", "double"), ("dup_line_char_frac", "double"),
    ] + [(c, "double") for c in top_cols + dup_cols]

    def batch(pdf):
        n_rows = len(pdf)
        n_chars = np.empty(n_rows, dtype=np.int64)
        n_lines = np.empty(n_rows, dtype=np.int64)
        # fraction numerators/denominators as exact integer doubles;
        # one vectorized ROUND pass per output column at batch end
        dl_num = np.empty(n_rows, dtype=np.float64)
        dl_den = np.empty(n_rows, dtype=np.float64)
        dc_num = np.empty(n_rows, dtype=np.float64)
        dc_den = np.empty(n_rows, dtype=np.float64)
        top_num = {n: np.zeros(n_rows, dtype=np.float64) for n in top_ns}
        dup_num = {n: np.zeros(n_rows, dtype=np.float64) for n in dup_ns}
        for i, (text, nt) in enumerate(zip(pdf["text"], pdf["nt"])):
            toks = nt.split(" ")
            nc = len(nt)
            n_chars[i] = nc
            ls = [x for x in (p.strip(" ") for p in text.split(line_sep)) if x]
            nl = len(ls)
            n_lines[i] = nl
            dl_num[i] = nl - len(set(ls))
            dl_den[i] = max(nl, 1)
            tot = 0
            dup = 0
            for line, c in Counter(ls).items():
                ll = len(line)
                tot += c * ll
                dup += (c - 1) * ll
            dc_num[i] = dup
            dc_den[i] = max(tot, 1)
            for n in all_ns:
                if len(toks) - n < 0:
                    continue
                grams = Counter(
                    " ".join(toks[j : j + n])
                    for j in range(len(toks) - n + 1)
                )
                if n in top_num:
                    c, gl = max(
                        (c, len(g)) for g, c in grams.items()
                    )
                    top_num[n][i] = c * gl
                if n in dup_num:
                    dup_num[n][i] = sum(
                        (c - 1) * len(g) for g, c in grams.items() if c > 1
                    )
        den = np.maximum(n_chars, 1).astype(np.float64)
        out = {
            "n_chars": n_chars,
            "n_lines": n_lines,
            "dup_line_frac": _round_half_up_r_vec(dl_num / dl_den, round_to),
            "dup_line_char_frac": _round_half_up_r_vec(
                dc_num / dc_den, round_to
            ),
        }
        for n, col in zip(top_ns, top_cols):
            out[col] = _round_half_up_r_vec(top_num[n] / den, round_to)
        for n, col in zip(dup_ns, dup_cols):
            out[col] = _round_half_up_r_vec(dup_num[n] / den, round_to)
        return slice(None), out

    return _doc_kernel(docs, fields, lambda: batch, ("text",))


def repetition_df(
    docs: DataFrame,
    top_ns: tuple = (2, 3, 4),
    dup_ns: tuple = (5,),
    line_sep: str = "\n",
    round_to: int = 6,
) -> DataFrame:
    """Gopher-style repetition metrics (Rae et al. 2021, table A1's
    repetition filters, as adopted by C4/Dolma-family pipelines): per
    document the fraction of duplicate lines, the fraction of line
    characters inside duplicate lines, the fraction of characters covered
    by the single most-frequent word n-gram (``top{n}gram_char_frac`` for
    each n in ``top_ns``), and the fraction of characters in repeated
    occurrences of duplicated n-grams (``dup{n}gram_char_frac`` for each n
    in ``dup_ns``).  High values on any of these are the standard
    machine-generated / boilerplate signal a pretraining filter thresholds
    on.

    Definitions (documented because published pipelines differ in the
    details): lines are ``line_sep``-separated, trimmed, empties dropped;
    ``dup_line_frac = (n_lines - n_distinct) / n_lines``;
    ``dup_line_char_frac`` counts the characters of occurrences BEYOND THE
    FIRST of each repeated line over total line characters.  n-grams are
    over whitespace tokens of the normalized text, their "characters" are
    the length of the space-joined gram, and the denominator is the
    normalized text length — overlapping occurrences are each counted, so
    the n-gram fractions are scores that can exceed 1 on degenerate
    repetition (exactly how the simplified published implementations
    behave).  All fractions round to ``round_to``; docs shorter than n
    tokens score 0 for that n.

    Every metric is a function of one document's own text, so the whole
    computation runs row-locally in the :func:`_repetition_arrow_df`
    ``mapInPandas`` kernel: one corpus scan, ZERO shuffles, batch and
    streaming alike.
    """
    top_ns = tuple(int(n) for n in top_ns)
    dup_ns = tuple(int(n) for n in dup_ns)
    all_ns = sorted(set(top_ns) | set(dup_ns))
    if not all_ns or min(all_ns) < 1:
        raise ValueError(f"n-gram sizes must be >= 1, got {top_ns} + {dup_ns}")
    return _repetition_arrow_df(docs, top_ns, dup_ns, line_sep, round_to)


# PII surface patterns — deliberately restricted to syntax BOTH regex
# engines (Spark's java.util.regex and the DuckDB oracle's RE2) match
# identically: no lookaround, no backreferences, ASCII classes, \b word
# boundaries.  Redaction replaces in DICT ORDER (emails first, then IPs,
# then phones) — order matters because the phone pattern would otherwise
# consume digit runs inside already-structured matches.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
    "phone": r"\+?[0-9][0-9() \-]{6,}[0-9]",
}


def pii_df(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document PII surface counts: ``(doc_id, n_email, n_ipv4,
    n_phone, any_pii)`` — the detection half of the scrubbing step every
    released pretraining pipeline runs (C4, Dolma, RedPajama all regex-scrub
    emails/IPs/phones).  Pure ``regexp_extract_all`` column expressions:
    zero shuffles, streaming-legal, whole-stage codegen."""
    counts = [
        F.size(F.regexp_extract_all(text_col, F.lit(pat), 0)).cast("long").alias(
            f"n_{name}"
        )
        for name, pat in PII_PATTERNS.items()
    ]
    out = docs.filter(F.col(text_col).isNotNull()).select("doc_id", *counts)
    any_pii = None
    for name in PII_PATTERNS:
        c = F.col(f"n_{name}") > 0
        any_pii = c if any_pii is None else (any_pii | c)
    return out.withColumn("any_pii", any_pii)


def redact_pii_df(
    docs: DataFrame, text_col: str = "text", keep_cols: tuple = ("doc_id",)
) -> DataFrame:
    """Redact PII in place: every match of each PII_PATTERNS entry is
    replaced by its placeholder (``<EMAIL>``/``<IPV4>``/``<PHONE>``), in
    dict order, yielding ``(*keep_cols, text_redacted)``.  Row-local
    ``regexp_replace`` chain — the same zero-shuffle scale story as
    :func:`pii_df`."""
    col = F.col(text_col)
    for name, pat in PII_PATTERNS.items():
        col = F.regexp_replace(col, pat, f"<{name.upper()}>")
    return docs.filter(F.col(text_col).isNotNull()).select(
        *keep_cols, col.alias("text_redacted")
    )


# C4 (Raffel et al. 2020) cleaning heuristics — the published line/document
# rule set, as pure column expressions.  Line rules mirror the paper: keep
# lines that end in terminal punctuation and have >= min_words words;
# document rules: no "lorem ipsum", no curly brace, no bad word, and at
# least min_kept_lines surviving lines.
C4_TERMINAL_PUNCT = (".", "!", "?", '"')


def c4_rules_df(
    docs: DataFrame,
    bad_words: tuple = ("badword",),
    min_words: int = 5,
    min_kept_lines: int = 3,
    line_sep: str = "\n",
) -> DataFrame:
    """C4-style cleaning verdicts per document: ``(doc_id, n_lines,
    n_kept_lines, has_lorem_ipsum, has_brace, has_bad_word, keep)``.

    A line is KEPT iff it ends in terminal punctuation (``. ! ? "``) and
    has at least ``min_words`` whitespace words; the document is kept iff
    it has >= ``min_kept_lines`` kept lines and none of the content flags
    fire (the paper's "lorem ipsum" / curly-brace / word-list rules —
    ``bad_words`` matches whole lowercase tokens, not substrings, so
    "assess" never trips a list containing shorter words; the flip side is
    that attached punctuation defeats it — "badword." is a different
    token — strip punctuation upstream if the list must catch those).

    Zero shuffles: line classification is an array expression with the
    line array bound as a lambda variable (the CollapseProject
    re-evaluation trap — see :func:`~.dedup.simhash_df`'s 'local' fold
    comment), flags are plain string predicates; streaming-legal at scan
    cost.
    """
    import re as _re

    min_words, min_kept_lines = int(min_words), int(min_kept_lines)
    sep_rx = _re.escape(line_sep).replace("\\", "\\\\").replace("'", "\\'")
    punct = ", ".join("'\\" + p + "'" if p == '"' else f"'{p}'" for p in C4_TERMINAL_PUNCT)
    kept = (
        f"transform(array(filter(transform(split(text, '{sep_rx}'),"
        f" x -> trim(x)), x -> x != '')),"
        f" ls -> named_struct("
        f"   'n', size(ls),"
        f"   'k', size(filter(ls, x ->"
        f"     array_contains(array({punct}), substring(x, -1, 1))"
        f"     AND size(split(x, ' +')) >= {min_words}))"
        f" ))[0]"
    )
    bw = F.array(*[F.lit(w) for w in bad_words]) if bad_words else F.array()
    toks = F.split(normalized_text(), " ")
    has_bad = (
        F.arrays_overlap(toks, bw) if bad_words else F.lit(False)
    )
    out = (
        docs.filter(F.col("text").isNotNull())
        .selectExpr("doc_id", "text", f"{kept} AS __lm")
        .select(
            "doc_id",
            F.col("__lm.n").cast("long").alias("n_lines"),
            F.col("__lm.k").cast("long").alias("n_kept_lines"),
            F.lower("text").contains("lorem ipsum").alias("has_lorem_ipsum"),
            F.col("text").contains("{").alias("has_brace"),
            has_bad.alias("has_bad_word"),
        )
    )
    return out.withColumn(
        "keep",
        (F.col("n_kept_lines") >= min_kept_lines)
        & ~F.col("has_lorem_ipsum")
        & ~F.col("has_brace")
        & ~F.col("has_bad_word"),
    )


# URL extraction: scheme-anchored, whitespace-delimited; the domain strips
# scheme, credentials-free authority up to the first / : ? #.  Both
# patterns are Java-regex/RE2-common (no lookaround).
URL_PATTERN = r"https?://[^\s]+"
_DOMAIN_FROM_URL = r"https?://([^/:?#\s]+).*"


def urls_df(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exploded URL mentions: ``(doc_id, url, domain)`` — one row per URL
    occurrence, with the lowercased registrable host.  Zero-shuffle
    (regexp_extract_all + explode), the substrate for domain-level corpus
    stats and blocklist filtering."""
    return (
        docs.filter(F.col(text_col).isNotNull())
        .select(
            "doc_id",
            F.explode(
                F.regexp_extract_all(text_col, F.lit(URL_PATTERN), 0)
            ).alias("url"),
        )
        .withColumn(
            "domain", F.lower(F.regexp_replace("url", _DOMAIN_FROM_URL, "$1"))
        )
    )


def canonical_url(col) -> "F.Column":
    """Canonical form of a URL column — the key a crawl pipeline dedups
    and joins on (the same page arrives as ``HTTP://Host:80/a?utm_x=1#f``
    and ``http://host/a`` across snapshots).  Pure column expressions
    (zero shuffle, streaming-legal), every regex in the Java-regex∩RE2
    common subset (NO lookaround — RE2 has none) so a DuckDB oracle can
    replay the chain:

    1. strip the ``#fragment``;
    2. lowercase ``scheme://authority`` (path/query case is preserved —
       paths are case-sensitive on most servers);
    3. drop default ports (``:80`` for http, ``:443`` for https) —
       anchored inside the authority, no lookahead needed;
    4. remove tracking parameters (``utm_*``, ``gclid``, ``fbclid``),
       keeping each one's preceding separator, then collapse the
       separator debris (``?&`` -> ``?``, trailing ``?``/``&`` dropped);
    5. drop a bare trailing slash (``host/`` == ``host``; deeper paths
       keep their slashes — trailing-slash semantics below the root are
       server-specific).
    """
    c = F.regexp_replace(col, r"#.*", "")
    auth = F.regexp_extract(c, r"^(https?://[^/?#]*)", 1)
    # lowercase the authority, keep the rest byte-for-byte
    rest = F.substring(c, F.length(auth) + 1, F.lit(1 << 30))
    low = F.lower(auth)
    low = F.regexp_replace(low, r"^(http://[^/?#]*):80$", "$1")
    low = F.regexp_replace(low, r"^(https://[^/?#]*):443$", "$1")
    rest = F.regexp_replace(
        rest, r"([?&])(utm_[A-Za-z0-9_]*|gclid|fbclid)=[^&#]*", "$1"
    )
    # separator debris: a removed MIDDLE param leaves '&&' (its kept
    # preceding separator + the next param's own), a removed LEADING one
    # leaves '?&', a removed TRAILING one a dangling '?' or '&' — in that
    # cleanup order
    rest = F.regexp_replace(rest, r"&&+", "&")
    rest = F.regexp_replace(rest, r"\?&", "?")
    rest = F.regexp_replace(rest, r"[?&]$", "")
    out = F.concat(low, rest)
    return F.regexp_replace(out, r"^(https?://[^/?#]+)/$", "$1")


def canonical_urls_df(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """:func:`urls_df` plus the canonical form: ``(doc_id, url,
    canonical_url, domain)`` with ``domain`` derived from the CANONICAL
    url (so ``Host:80`` and ``host`` agree).  Zero-shuffle."""
    return (
        urls_df(docs, text_col=text_col)
        .withColumn("canonical_url", canonical_url(F.col("url")))
        .withColumn(
            "domain",
            F.regexp_replace("canonical_url", _DOMAIN_FROM_URL, "$1"),
        )
    )


def filter_by_domain_df(
    docs: DataFrame, blocklist: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Drop every document that mentions a blocklisted domain (the C4
    badlist step): broadcast LEFT ANTI join of documents against the
    distinct doc_ids whose URLs hit the blocklist.  ``blocklist`` is a
    1-column ``domain`` DataFrame (tiny — broadcast); the fact side
    streams, one shuffle-free semi-join pass over the URL explode plus the
    anti join back on doc_id."""
    bad_docs = (
        urls_df(docs, text_col=text_col)
        .join(F.broadcast(blocklist.select(F.lower("domain").alias("domain"))), "domain", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return docs.join(bad_docs, "doc_id", "left_anti")


def vocab_df(docs: DataFrame, top_k: int = 1000, bpe: bool = False) -> DataFrame:
    """Corpus vocabulary: the ``top_k`` most frequent tokens with document
    frequency and CUMULATIVE corpus coverage — the table a tokenizer-budget
    or stopword decision reads ("how many tokens does a 32k vocab actually
    cover?").  ``(rank, token, n_occurrences, n_docs, coverage, cum_coverage)``;
    ties break by token text, so the cut at ``top_k`` is deterministic.

    Plan shape at 100 TB: explode -> ONE map-side-combined groupBy(token)
    (the key domain is the VOCABULARY, not the corpus — the exchange
    carries one partial count per token per partition), then a distributed
    top-k sort-limit (TakeOrderedAndProject, never a full sort), and only
    the surviving ``top_k`` rows enter the single-task running-sum window —
    bounded by the parameter, not the data.  The corpus total rides in as a
    1-row broadcast (scalar aggregate cross join).
    """
    from pyspark.sql.window import Window

    token_col = "bpe_tokens" if bpe else "tokens"
    tokens = (
        (bpe_pretokenize(docs) if bpe else with_tokens(docs))
        .select("doc_id", F.explode(token_col).alias("token"))
        .filter(F.length("token") > 0)
    )
    # exact doc frequency without a COUNT(DISTINCT) shuffle storm: two-level
    # aggregate — (token, doc_id) partial first (map-side combined), then
    # per-token totals; occurrence counts fall out of the same partials
    per_doc = tokens.groupBy("token", "doc_id").agg(
        F.count(F.lit(1)).alias("n_in_doc")
    )
    counts = per_doc.groupBy("token").agg(
        F.sum("n_in_doc").alias("n_occurrences"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    grand = tokens.agg(F.count(F.lit(1)).alias("_total"))
    top = counts.orderBy(F.col("n_occurrences").desc(), "token").limit(int(top_k))
    w = Window.orderBy(F.col("n_occurrences").desc(), "token").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        top.crossJoin(F.broadcast(grand))
        .select(
            F.row_number()
            .over(Window.orderBy(F.col("n_occurrences").desc(), "token"))
            .alias("rank"),
            "token",
            "n_occurrences",
            "n_docs",
            F.round(F.col("n_occurrences") / F.col("_total"), 6).alias("coverage"),
            F.round(F.sum("n_occurrences").over(w) / F.col("_total"), 6).alias(
                "cum_coverage"
            ),
        )
    )



def remove_boilerplate_lines_df(
    docs: DataFrame,
    min_docs: int = 2,
    line_sep: str = "\n",
    broadcast_hot: bool = True,
) -> DataFrame:
    """Strip CROSS-CORPUS boilerplate lines: any line whose trimmed form
    appears in >= ``min_docs`` DISTINCT documents is removed from every
    document (CCNet's paragraph-level dedup, the step that deletes nav
    bars, cookie banners, and shared footers that per-document repetition
    metrics cannot see).  Output: ``(doc_id, text, n_lines, n_removed)``
    with surviving lines rejoined in their original order and ORIGINAL
    (untrimmed) form; comparison is on trimmed lines; whitespace-only
    lines are never boilerplate (kept verbatim); NULL-text rows are
    excluded; a fully-boilerplate document survives with ``text = ''``.

    Plan at 100 TB — TWO corpus scans, ONE doc_id exchange, one bounded
    line-key exchange:

    - The hot-line table is its own scan branch (inherent: a line's
      corpus-wide document count must exist before any document can be
      rebuilt), aggregated on the trimmed line with HAVING >= min_docs —
      only repeated lines survive, so the table is orders of magnitude
      smaller than the corpus and ``broadcast_hot=True`` (default) ships
      it to the anti-join; set False only if your boilerplate table
      genuinely exceeds broadcast range.
    - The rebuild branch repartitions compact documents by doc_id once;
      the positional explode carries a SENTINEL (pos=-1, NULL line) row
      per document so the reassembly aggregation never loses
      fully-stripped documents — which lets line totals ride through as
      ``first()`` carries instead of a third scan branch + join (the
      naive totals-join form plans the corpus subtree three times; the
      sentinel-row lesson).  NULL-keyed sentinel rows pass the
      anti-join by definition (NULL matches nothing) and vanish in
      ``array_compact`` before the join of lines.
    """
    import re as _re

    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    sep_rx = _re.escape(line_sep)
    sep_lit = line_sep.replace("\\", "\\\\").replace("'", "\\'")

    def lines_of(d: DataFrame, by_doc: bool) -> DataFrame:
        base = d.filter(F.col("text").isNotNull()).select(
            "doc_id", F.split("text", sep_rx).alias("ls")
        )
        if by_doc:
            base = base.repartition("doc_id")
        return base.select(
            "doc_id",
            F.size("ls").alias("n_lines"),
            F.expr(
                "explode(concat("
                " array(named_struct('pos', -1, 'line', CAST(NULL AS STRING))),"
                " transform(ls, (x, i) -> named_struct('pos', i, 'line', x))"
                ")) AS e"
            ),
        ).select(
            "doc_id", "n_lines", F.col("e.pos").alias("pos"),
            F.col("e.line").alias("line"), F.trim("e.line").alias("t"),
        )

    hot = (
        lines_of(docs, by_doc=False)
        .filter(F.col("t") != "")
        .groupBy("t")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= int(min_docs))
        .select("t")
    )
    kept = lines_of(docs, by_doc=True).join(
        F.broadcast(hot) if broadcast_hot else hot, "t", "left_anti"
    )
    return kept.groupBy("doc_id").agg(
        F.expr(
            f"concat_ws('{sep_lit}', array_compact(transform("
            f"array_sort(collect_list(struct(pos, line))), x -> x.line))) AS text"
        ),
        F.first("n_lines").cast("long").alias("n_lines"),
        (F.first("n_lines") - F.count("line")).cast("long").alias("n_removed"),
    ).select("doc_id", "text", "n_lines", "n_removed")


def dedup_paragraphs_df(
    docs: DataFrame,
    min_chars: int = 20,
    line_sep: str = "\n",
) -> DataFrame:
    """Cross-corpus KEEP-FIRST paragraph dedup: every repeated paragraph
    (trimmed line of >= ``min_chars`` chars) keeps exactly its globally
    FIRST occurrence — smallest ``(doc_id, pos)`` — and every later
    occurrence is removed, in other documents or later in the same one.
    The MassiveText/C4 exact-paragraph rule, and the keep-one sibling of
    :func:`remove_boilerplate_lines_df` (which deletes ALL copies of a
    sufficiently-shared line: boilerplate removal wants navigation bars
    gone everywhere; paragraph dedup wants content kept once).

    Output ``(doc_id, text, n_lines, n_removed)``: surviving lines
    rejoined in original order and ORIGINAL (untrimmed) form; lines
    shorter than ``min_chars`` after trimming (headers, separators,
    whitespace) are never dedup candidates and survive verbatim;
    NULL-text rows are excluded; a fully-deduped document survives with
    ``text = ''``.  Winner identity is md5 of the trimmed line (the
    dd_exact convention).  Batch-only: the global first occurrence is a
    corpus aggregation no stream can know at append time.

    Plan at 100 TB — one exploded corpus, THREE exchanges, no second
    scan: (a) the winner table is a map-side-combined
    ``groupBy(line_key)`` keeping ``min(struct(doc_id, pos))`` — one row
    per DISTINCT candidate line, corpus-scale, so the keep decision is
    an equi-JOIN, never a broadcast; (b) the exploded lines join winners
    (second exchange; non-candidates and the per-document sentinel carry
    a NULL key and pass untouched — NULL joins nothing); (c) reassembly
    is one ``groupBy(doc_id)`` (third exchange) over ``(pos, line)``
    structs with the sentinel guaranteeing fully-deduped documents a row
    (the remove_boilerplate_lines_df recipe).

    Skew (round 12): the keep join's equi-key is ``(k, doc_id, pos)`` —
    UNIQUE on the lines side — not ``k`` alone.  A row keeps iff it IS
    its line's winner, so joining on all three columns is equivalent to
    the join-on-``k``-then-filter form (the winners side flattens
    ``min(struct)`` into join columns; same bytes shuffled), but a viral
    paragraph with 10M copies hashes those copies across ALL partitions
    instead of one planet-hot ``k`` partition.  The map-side partial agg
    already protects exchange (a); this removes the only hot-key
    exchange without relying on AQE's skew-join split (which covers the
    shape, but splits AFTER a 256 MB partition materializes —
    ``tools/skew_probe.py`` measures both; SCALING.md round-12)."""
    import re as _re

    if int(min_chars) < 1:
        raise ValueError(f"min_chars must be >= 1, got {min_chars}")
    sep_rx = _re.escape(line_sep)
    sep_lit = line_sep.replace("\\", "\\\\").replace("'", "\\'")
    lines = (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id", F.split("text", sep_rx).alias("ls"))
        .select(
            "doc_id",
            F.size("ls").alias("n_lines"),
            F.expr(
                "explode(concat("
                " array(named_struct('pos', -1, 'line', CAST(NULL AS STRING))),"
                " transform(ls, (x, i) -> named_struct('pos', i, 'line', x))"
                ")) AS e"
            ),
        )
        .select(
            "doc_id",
            "n_lines",
            F.col("e.pos").alias("pos"),
            F.col("e.line").alias("line"),
            # candidate key: md5 of the trimmed line, NULL for short/blank
            # lines and the sentinel — NULL-keyed rows bypass the join
            F.when(
                F.length(F.trim("e.line")) >= int(min_chars),
                F.md5(F.trim("e.line")),
            ).alias("k"),
        )
    )
    winners = (
        lines.filter(F.col("k").isNotNull())
        .groupBy("k")
        .agg(F.min(F.struct("doc_id", "pos")).alias("w"))
        # flatten to fresh-named join columns: the 3-column equi-key is
        # unique on both sides, so no single key value can own a shuffle
        # partition (the skew note above); fresh aliases also keep the
        # self-join lineage unambiguous
        .select(
            F.col("k").alias("__wk"),
            F.col("w.doc_id").alias("__wd"),
            F.col("w.pos").alias("__wp"),
        )
    )
    kept = (
        lines.join(
            winners,
            on=[
                F.col("k") == F.col("__wk"),
                F.col("doc_id") == F.col("__wd"),
                F.col("pos") == F.col("__wp"),
            ],
            how="left",
        )
        .filter(F.col("k").isNull() | F.col("__wk").isNotNull())
        .drop("k", "__wk", "__wd", "__wp")
    )
    return kept.groupBy("doc_id").agg(
        F.expr(
            f"concat_ws('{sep_lit}', array_compact(transform("
            f"array_sort(collect_list(struct(pos, line))), x -> x.line))) AS text"
        ),
        F.first("n_lines").cast("long").alias("n_lines"),
        (F.first("n_lines") - F.count("line")).cast("long").alias("n_removed"),
    ).select("doc_id", "text", "n_lines", "n_removed")


SENTENCE_PATTERN = r"[^.!?]*[.!?]+|[^.!?]+$"


def sentences_df(docs: DataFrame, min_chars: int = 1) -> DataFrame:
    """Sentence segmentation: ``(doc_id, sent_ix, sentence, n_chars)`` —
    one row per sentence in document order, the grain between documents
    and chunks that sentence-level dedup / quality / packing pipelines
    want.

    The splitter is a REGEX EXTRACTION, not a split: ``[^.!?]*[.!?]+``
    captures each run up to and including its terminal punctuation
    (consecutive terminators like ``?!`` or ``...`` stay attached to
    their sentence) and ``[^.!?]+$`` keeps a trailing unterminated
    fragment.  Deliberately lookaround-free: Java regex (Spark) and RE2
    (the DuckDB oracle) both lack/limit lookbehind, and this pattern is
    the cross-engine-identical formulation (the BPE_PRETOKEN_PATTERN
    rule).  Whitespace-only segments are dropped; ``min_chars`` filters
    on the TRIMMED sentence length.  ``sent_ix`` is the 0-based match
    ordinal (posexplode — document order, not a shuffle ordering).

    Plan: one scan, row-local regexp_extract_all + posexplode — scan
    cost, streaming-legal."""
    if int(min_chars) < 1:
        raise ValueError(f"min_chars must be >= 1, got {min_chars}")
    segs = docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.posexplode(
            F.regexp_extract_all("text", F.lit(SENTENCE_PATTERN), 0)
        ).alias("sent_ix", "__raw"),
    )
    return (
        segs.select(
            "doc_id",
            "sent_ix",
            # full \s-class trim: Spark's trim() strips SPACES only, and a
            # segment after "sentence.\n" starts with the newline
            F.regexp_replace("__raw", r"^\s+|\s+$", "").alias("sentence"),
        )
        .filter(F.length("sentence") >= int(min_chars))
        .withColumn("n_chars", F.length("sentence").cast("int"))
    )


def chunk_documents_df(
    docs: DataFrame, chunk_chars: int = 1000, overlap: int = 0
) -> DataFrame:
    """Split documents into fixed-size character chunks with optional
    overlap — the context-window prep step of RAG ingestion and
    long-document training pipelines.  Output: one row per chunk,
    ``(doc_id, chunk_ix, start_char, chunk, n_chunks)`` with 0-based
    ``chunk_ix``, 1-based ``start_char`` (substring convention), stride
    ``chunk_chars - overlap``, and the final chunk allowed to run short
    (never empty: a start position past the text yields no chunk).
    ``n_chunks = 1 + ceil(max(len - chunk_chars, 0) / stride)`` — every
    character belongs to at least one chunk and consecutive chunks share
    exactly ``overlap`` characters except possibly the last.

    Pure row-local explode + substring arithmetic: ZERO shuffles, no
    state — scan-speed on 100 TB and streaming-legal in append mode as-is.
    NULL-text and empty documents produce no chunks.
    """
    c = int(chunk_chars)
    o = int(overlap)
    if c <= 0:
        raise ValueError(f"chunk_chars must be positive, got {chunk_chars}")
    if not 0 <= o < c:
        raise ValueError(f"overlap must be in [0, chunk_chars), got {overlap}")
    stride = c - o
    return (
        docs.filter(F.col("text").isNotNull() & (F.length("text") > 0))
        .selectExpr(
            "doc_id",
            "text",
            f"CAST(1 + (GREATEST(length(text) - {c}, 0) + {stride} - 1)"
            f" DIV {stride} AS INT) AS n_chunks",
        )
        .selectExpr(
            "doc_id",
            "n_chunks",
            "posexplode(transform(sequence(0, n_chunks - 1),"
            f" i -> substring(text, 1 + i * {stride}, {c}))) AS (chunk_ix, chunk)",
        )
        .selectExpr(
            "doc_id",
            "CAST(chunk_ix AS INT) AS chunk_ix",
            f"CAST(1 + chunk_ix * {stride} AS INT) AS start_char",
            "chunk",
            "n_chunks",
        )
    )


def hashed_embedding_df(docs: DataFrame, dim: int = 32) -> DataFrame:
    """Model-free document embeddings by hashed random projection:
    ``(doc_id, embedding array<double>)``, L2-normalized.  Component ``d``
    is the sum over the document's DISTINCT tokens of ``+1/-1`` according
    to bit ``d`` of ``md5(token)`` — the pre-sign SimHash accumulator kept
    real-valued, which is exactly a random projection of the hashed
    bag-of-words onto ``dim`` ±1 directions (Achlioptas-style sign
    projections).  Cosine between two such vectors estimates the angular
    similarity of the token sets, so the output column feeds the ENTIRE
    similarity family — ``embedding_near_dup_df``, IVF/PQ indexes, exact
    top-k — giving text-only near-dup and clustering in embedding space
    with no trained model anywhere (and a drop-in upgrade path: swap this
    column for real model embeddings, keep every downstream operator).

    Cross-engine exactness: integer vote sums (codegen hash aggregate, one
    doc_id-partitioned exchange via the signature-stage widen), an integer
    squared-norm, and one division + ROUND(6) per component — both engines
    divide identical doubles.  An all-zero vector (possible only when
    every bit's votes tie) is returned as zeros rather than NaN.
    ``dim <= 60`` (one md5 yields 60 usable bits).
    """
    d = int(dim)
    if not 1 <= d <= 60:
        raise ValueError(f"dim must be in 1..60, got {dim}")
    # empty tokens are removed and zero-token docs dropped, matching the
    # dsir/classifier family (a blank doc must NOT get a phantom embedding
    # hashed from the empty string — it would make every blank doc a
    # perfect near-duplicate of a vector encoding no content, and its
    # presence here vs absence in dsir/classifier outputs would silently
    # break doc_id joins across the selection family)
    toks = (
        _widen(docs.where(F.col("text").isNotNull()))
        .select(
            "doc_id",
            F.array_distinct(
                F.array_remove(F.split(normalized_text(), r"\s+"), "")
            ).alias("tok"),
        )
        .filter(F.size("tok") > 0)
    )
    h = toks.select("doc_id", F.explode("tok").alias("x")).select(
        "doc_id",
        F.conv(F.substring(F.md5(F.concat(F.lit("0|"), F.col("x"))), 1, 15), 16, 10)
        .cast("long")
        .alias("h"),
    )
    votes = [
        F.sum(F.shiftright("h", b) % 2 * 2 - 1).alias(f"v{b}") for b in range(d)
    ]
    agg = h.groupBy("doc_id").agg(*votes)
    sq = " + ".join(f"v{b} * v{b}" for b in range(d))
    comps = ", ".join(
        f"ROUND(IF(__n = 0D, 0D, v{b} / __n), 6)" for b in range(d)
    )
    return agg.selectExpr(
        "doc_id", f"SQRT(CAST({sq} AS DOUBLE)) AS __n", *[f"v{b}" for b in range(d)]
    ).selectExpr("doc_id", f"array({comps}) AS embedding")


def hashed_embedding_local_df(docs: DataFrame, dim: int = 32) -> DataFrame:
    """ZERO-SHUFFLE, streaming-legal twin of :func:`hashed_embedding_df`
    (value-identical, differential-tested): every document embeds itself
    in one row-local projection with no explode, no aggregation, no
    exchange.  Append-mode streaming-legal: a crawl can be embedded AS IT
    LANDS, feeding the streaming near-dup / ANN maintenance sinks.

    The votes are computed inside a ``mapInPandas`` kernel (the
    entropy-twin recipe): md5 token hashes via C-speed ``hashlib``
    behind a per-worker cache (:func:`~.md5v.md5_top60_cached` — tokens
    repeat zipf-style, so most lookups never hash), per-bit vote sums as
    ``dim`` segmented ``add.reduceat`` passes over the batch-concatenated
    hash array, and ``ROUND(v / norm, 6)`` through the vectorized HALF_UP
    emulation (:func:`_round_half_up_r_vec`).  ``sqrt`` and division are
    IEEE-correctly-rounded in both runtimes, so no log/exp-style
    cross-runtime band is needed — the twin is bit-identical by
    construction.  Zero interpreted JVM expressions: nothing left to go
    bimodal in a long-lived mixed JVM (the measured dd_simhash 1 s/15 s
    hazard).

    Batch jobs should keep :func:`hashed_embedding_df`'s whole-stage-
    codegen'd vote aggregation; this twin exists for streams, where
    aggregation after the stateful op is illegal anyway."""
    d = int(dim)
    if not 1 <= d <= 60:
        raise ValueError(f"dim must be in 1..60, got {dim}")
    return _hashed_embedding_arrow_df(docs, d)


def _hashed_embedding_arrow_df(docs: DataFrame, d: int) -> DataFrame:
    """The Arrow kernel behind ``hashed_embedding_local_df`` — see its
    docstring for the recipe and the bit-identity argument."""
    def make():
        from .md5v import md5_top60_cached

        tok_hash = md5_top60_cached(b"0|")

        def batch(pdf):
            rows, docs_toks = [], []
            for i, nt in enumerate(pdf["nt"]):
                ts = [t for t in set(nt.split(" ")) if t]
                if not ts:
                    continue
                rows.append(i)
                docs_toks.append(ts)
            if not rows:
                return rows, {}
            n_toks = np.fromiter(
                (len(t) for t in docs_toks), np.int64, count=len(rows)
            )
            all_h = np.fromiter(
                (tok_hash(t) for ts in docs_toks for t in ts),
                dtype=np.int64,
                count=int(n_toks.sum()),
            )
            seg = np.zeros(len(rows), dtype=np.int64)
            np.cumsum(n_toks[:-1], out=seg[1:])
            votes = np.empty((d, len(rows)), dtype=np.int64)
            for b in range(d):
                votes[b] = (
                    2 * np.add.reduceat((all_h >> np.int64(b)) & 1, seg)
                    - n_toks
                )
            sq = (votes * votes).sum(axis=0)
            nrm = np.sqrt(sq.astype(np.float64))
            with np.errstate(invalid="ignore", divide="ignore"):
                comps = votes.astype(np.float64) / nrm
            comps[:, sq == 0] = 0.0
            emb = _round_half_up_r_vec(np.ascontiguousarray(comps.T).reshape(-1), 6)
            return rows, {"embedding": list(emb.reshape(len(rows), d))}

        return batch

    return _doc_kernel(docs, [("embedding", "array<double>")], make)
