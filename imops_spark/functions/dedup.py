"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Design for 100 TB:
- exact dedup is a hash groupBy (md5 of normalized text) — one shuffle, AQE
  handles skew on pathological duplicate clusters;
- MinHash signatures are computed per document with ZERO extra shuffles
  (batch-md5 default: the round-11 ``md5v`` Arrow kernel — vectorized
  single-block MD5 over substring-derived shingle spans; JVM twin: the
  shingle set as a row-local array, each hash's minimum an ``array_min``
  over a ``transform``), then LSH banding turns the O(n^2) pair problem
  into an equi-join on band keys — the shuffle is keyed by band hash, so
  candidate generation scales linearly with corpus size.  Operators that
  feed the signatures straight into that band join take the JVM form
  (the ``minhash`` row of ``backend.ROUTES``: the kernel loses composed
  once the join is sort-merge — FASTPATH.md round-11 session 3);
- SimHash packs a 32-bit signature from token-hash bit votes — pure column
  arithmetic;
- verification (Jaccard on shingle sets) only runs on LSH candidates.

Hash function: md5 (bit-identical across Spark and DuckDB, which is what lets
the oracle validate signatures exactly) — ``hash_i(s) = int(md5(i||s)[:15])``.
On a production cluster xxhash64 would be ~3x faster; md5 keeps the gate
cross-engine-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..backend import choose_form
from ..utils import quote_carry, unquote_carry

__all__ = [
    "normalized_text",
    "exact_dup_groups_df",
    "drop_exact_duplicates",
    "shingles_df",
    "shingle_array_df",
    "minhash_signatures_df",
    "minhash_signatures_char_df",
    "band_entries_df",
    "lsh_candidate_pairs_df",
    "ngram_jaccard_df",
    "edit_similarity_df",
    "drop_near_duplicates_df",
    "simhash_df",
    "embedding_near_dup_df",
    "cross_near_dup_df",
    "decontaminate_by_embedding_df",
    "drop_url_duplicates_df",
    "semdedup_df",
    "duplicate_spans_df",
    "duplicate_span_stats_df",
    "lsh_write_index",
    "lsh_query_index",
    "snapshot_diff_df",
    "snapshot_diff_stats_df",
    "snapshot_diff_stream_df",
]


def normalized_text(col: str = "text"):
    return F.regexp_replace(F.lower(F.trim(F.col(col))), r"\s+", " ")


# internal aliases of the shingle/signature pipelines — carry columns may not
# shadow these (quote_carry raises); '__'-prefixed names are reserved too
# (the per-salt digest arrays are '__d{i}').
_SHINGLE_RESERVED = frozenset({"doc_id", "t", "shingles"})
_BAND_RESERVED = frozenset({"doc_id", "band", "band_key", "e"})


def _widen(docs: DataFrame, key: str = "doc_id") -> DataFrame:
    """Match partition count to cores before a CPU-dense per-row stage.

    Signature computation does tens of md5 digests per row; when the scan
    under-partitions (one small parquet file -> one task), every core but one
    idles.  The repartition moves only the raw text once — cheap next to the
    hashing it parallelizes — and is a no-op shuffle-wise when the input is
    already as wide as the cluster (the common case at scale, where this
    never triggers).
    """
    if docs.isStreaming:  # micro-batch sizing is the source's job; .rdd is illegal here
        return docs
    target = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < target:
        return docs.repartition(target, key)
    return docs


def _doc_kernel(docs, fields, make, carry=(), nt=None, where=None) -> DataFrame:
    """The one ``mapInPandas`` boundary of the row-local text kernels.

    - Rows with NULL ``text`` never reach the kernel.  The rest are
      selected as ``(doc_id, *carry, nt)``, where ``nt`` is
      :func:`normalized_text` unless the caller passes its own expression,
      and ``where`` (a predicate over ``nt``) drops rows in the plan.
    - The output is ``doc_id``, then the bare names in ``fields`` (input
      columns passed through, typed from the input schema), then its
      ``(name, ddl_type)`` pairs (the columns the kernel computes).
    - Each task tunes the allocator once (``_mem.ensure_malloc_tuning``)
      and calls ``make()`` once.  It returns the per-batch function, so
      per-task state (token caches, broadcast values) lives for the task.
    - The per-batch function maps a non-empty pandas batch to ``(rows,
      cols)``: ``rows`` indexes the batch rows whose passthrough columns
      lead the output rows (``slice(None)`` for one row per input row),
      and ``cols`` holds the computed columns in ``fields`` order.
    - Empty input batches are skipped and empty outputs are not yielded.
    """
    import pandas as pd

    from ..utils import map_in_pandas_renamed

    d = docs.where(F.col("text").isNotNull()).select(
        "doc_id", *carry, (normalized_text() if nt is None else nt).alias("nt")
    )
    if where is not None:
        d = d.filter(where)
    types = {f.name: f.dataType.simpleString() for f in d.schema.fields}
    keys = ["doc_id", *(f for f in fields if isinstance(f, str))]
    out_fields = [(c, types[c]) for c in keys] + [
        f for f in fields if not isinstance(f, str)
    ]

    def run(batches):
        from ._mem import ensure_malloc_tuning

        ensure_malloc_tuning()
        per_batch = make()
        for pdf in batches:
            if len(pdf) == 0:
                continue  # empty Arrow batches type columns wrong — skip
            rows, cols = per_batch(pdf)
            res = pd.DataFrame({**{c: pdf[c].values[rows] for c in keys}, **cols})
            if len(res):
                yield res

    return map_in_pandas_renamed(d, run, out_fields)


def exact_dup_groups_df(docs: DataFrame) -> DataFrame:
    """Group documents by content hash: ``(content_hash, n_docs, min_doc_id)``."""
    return (
        docs.select("doc_id", F.md5(normalized_text()).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
    )


def drop_exact_duplicates(docs: DataFrame) -> DataFrame:
    """Keep the lowest doc_id per identical content (deterministic survivor)."""
    h = docs.withColumn("__h", F.md5(normalized_text()))
    keep = h.groupBy("__h").agg(F.min("doc_id").alias("doc_id"))
    return h.join(keep, on=["__h", "doc_id"], how="inner").drop("__h")


def shingle_array_df(
    docs: DataFrame, k: int = 3, distinct: bool = True, carry: tuple = ()
) -> DataFrame:
    """Word k-shingles per document as a row-local array: ``(doc_id, shingles)``.

    Tokens come from a whitespace split of normalized text; shingles are the
    space-joined k-grams — ``transform`` over token indices keeps everything
    JVM-side.  ``distinct=True`` dedups ROW-LOCALLY with ``array_distinct``
    (shingle sets are per-document, so no shuffle is ever needed).
    ``carry`` names extra input columns to pass through unchanged (e.g. an
    event-time column for streaming watermarks).  Names are backtick-quoted
    before splicing into generated SQL; the internal aliases
    ``t``/``shingles`` (and ``__``-prefixed names) are reserved.
    """
    carry = quote_carry(carry, _SHINGLE_RESERVED)
    toks = docs.select(
        "doc_id", *carry, F.split(normalized_text(), r"\s+").alias("t")
    )
    # The shingle expression is built as ONE SQL string: each lambda-based
    # F.transform costs ~25 py4j round-trips (~12 ms) at plan-build time,
    # and signature pipelines build dozens of them — a single F.expr parse
    # is one round-trip for the identical Catalyst tree.  (The regex above
    # stays in the Column API: SQL string literals eat backslashes.)
    k = int(k)
    arr = (
        f"transform(sequence(0, greatest(size(t) - {k}, 0)),"
        f" i -> concat_ws(' ', slice(t, i + 1, {k})))"
    )
    if distinct:
        arr = f"array_distinct({arr})"
    return toks.select("doc_id", *carry, F.expr(arr).alias("shingles"))


def shingles_df(docs: DataFrame, k: int = 3, distinct: bool = True) -> DataFrame:
    """Word k-shingles per document, exploded: ``(doc_id, shingle)``."""
    return shingle_array_df(docs, k=k, distinct=distinct).select(
        "doc_id", F.explode("shingles").alias("shingle")
    )


def _md5_hash_col(col, salt: int, part: int = 0):
    # 60-bit positive int from md5(salt || value): cross-engine exact.
    # ``part`` selects the low (0) or high (1) 15 hex chars of the digest —
    # one md5 yields two independent 60-bit hashes.
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(str(salt) + "|"), col)), 1 + 16 * part, 15),
        16,
        10,
    ).cast("long")


def _minhash_arrow_df(
    docs: DataFrame, num_hashes: int, k: int, carry: tuple
) -> DataFrame:
    """The Arrow kernel behind ``minhash_signatures_df(strategy='arrow')``:
    the md5 half-signature family computed as vectorized single-block MD5
    (``functions/md5v.py``) instead of a codegen'd per-shingle expression
    chain.

    Exact parity with the JVM form (differential- and gate-tested):

    - tokens: ``nt.split(' ')`` over the plan-computed normalized text —
      the established simhash-kernel parity argument (normalization makes
      every ASCII-whitespace run one space, so Java ``split('\\s+', -1)``
      == Python split-on-space, empties included);
    - shingles: after normalization a word k-shingle (``concat_ws(' ',
      slice(t, i+1, k))``) is a contiguous SUBSTRING of ``nt`` — the
      kernel never builds shingle strings, it derives (start, len) byte
      spans from the token spans of the batch's concatenated UTF-8
      buffer (:func:`~imops_spark.functions.md5v.tokenize_spaces`).
      Docs with fewer than k tokens produce exactly one shingle (the
      whole ``nt``), matching ``sequence(0, greatest(size(t) - k, 0))``;
    - hashes: hash i = top 60 bits of half ``i % 2`` of
      ``md5('{i//2}|' + shingle)`` — computed for ALL shingles of a chunk
      at once by :func:`~imops_spark.functions.md5v.md5_words_rows` (64
      vectorized uint32 rounds over packed single blocks; ~5.5x a
      per-message hashlib loop, measured).  The salted message is packed
      ONCE per chunk and salt width with a prefix gap and re-hashed per
      salt by rewriting the prefix bytes
      (:func:`~imops_spark.functions.md5v.md5_top60_spans`, which also
      owns the per-row ``hashlib`` fallback for messages over one MD5
      block — 3-word shingles of very long words);
    - minima: ``np.minimum.reduceat`` over per-doc shingle segments, in
      bounded chunks (:func:`~imops_spark.functions.md5v.fold_chunks`;
      a document over one chunk folds its sub-ranges with
      ``np.minimum``).  No ``array_distinct`` is needed: MIN over a
      multiset equals MIN over its set, so in-doc duplicate shingles cost
      only a few spare hash lanes (the JVM form dedups first because each
      duplicate would otherwise pay a full md5 expression chain).

    Plan shape at 100 TB: identical to the JVM form (the conditional
    ``_widen`` repartition stays — hashing is the CPU-dense stage it
    parallelizes when a scan under-partitions, and it is a no-op at
    scale) with the ``transform``/``array_min`` projection replaced by
    one stateless ``mapInPandas``.  Streaming-legal, though ``'auto'``
    keeps streams on the JVM form (no Python stage per micro-batch —
    the simhash precedent).
    """
    import numpy as np

    n_salts = (num_hashes + 1) // 2
    # salts grouped by decimal width: one pack per width, prefix rewritten
    # per salt ("{s}|" -> 2 bytes for s < 10, 3 for s < 100, ...)
    by_plen: dict = {}
    for s in range(n_salts):
        by_plen.setdefault(len(str(s)) + 1, []).append(s)
    # read at plan build: tests shrink it to reach the oversized-doc path
    from .md5v import _MINHASH_CHUNK_SHINGLES as chunk_shingles
    from .md5v import fold_chunks, md5_top60_spans, seg_starts, tokenize_spaces

    def batch(pdf):
        n_docs = len(pdf)
        data, ts, te, n = tokenize_spaces(pdf["nt"])
        tok_base = seg_starts(n)
        # shingle i of doc d spans tokens [i, min(i + k - 1, n - 1)]
        m = np.maximum(n - k, 0) + 1
        sh_doc = np.repeat(np.arange(n_docs, dtype=np.int64), m)
        i_in = np.arange(len(sh_doc), dtype=np.int64) - np.repeat(seg_starts(m), m)
        sh_start = ts[tok_base[sh_doc] + i_in]
        sh_len = (
            te[tok_base[sh_doc] + np.minimum(i_in + k - 1, n[sh_doc] - 1)]
            - sh_start
        )

        def chunk_mins(s0, s1, seg):
            """Per-salt hashing + segmented minima over shingles
            ``[s0, s1)``: the ``(num_hashes, len(seg))`` minima."""
            out = np.empty((num_hashes, len(seg)), dtype=np.uint64)
            for salts in by_plen.values():
                hashes = md5_top60_spans(
                    data,
                    sh_start[s0:s1],
                    sh_len[s0:s1],
                    [f"{s}|".encode() for s in salts],
                    both=True,
                )
                for s, (lo, hi) in zip(salts, hashes):
                    out[2 * s] = np.minimum.reduceat(lo, seg)
                    if 2 * s + 1 < num_hashes:
                        out[2 * s + 1] = np.minimum.reduceat(hi, seg)
            return out

        sigs = np.empty((num_hashes, n_docs), dtype=np.uint64)
        fold_chunks(m, chunk_shingles, chunk_mins, np.minimum, sigs)
        sigs = sigs.view(np.int64)
        return slice(None), {f"mh{i}": sigs[i] for i in range(num_hashes)}

    return _doc_kernel(
        _widen(docs),
        unquote_carry(carry) + [(f"mh{i}", "long") for i in range(num_hashes)],
        lambda: batch,
        carry,
    )


def minhash_signatures_df(
    docs: DataFrame,
    num_hashes: int = 16,
    k: int = 3,
    carry: tuple = (),
    hash_fn: str = "md5",
    strategy: str = "auto",
) -> DataFrame:
    """MinHash signatures: ``(doc_id, mh0..mh{H-1})``.

    ZERO shuffles: the shingle set is row-local (an array column), so the
    per-hash minimum is row-local too — ``array_min`` over a ``transform``
    of the shingle array replaces the explode + groupBy(min) formulation
    entirely.  Hash i reads 60 bits from half of ``md5(i//2 | shingle)``:
    each salt's digest array is materialized once per row and feeds BOTH
    half-signatures, so the md5 count is num_hashes/2 per distinct shingle
    (``array_distinct`` first — MIN is set-invariant, and natural text
    repeats shingles).  MIN runs on the fixed-width hex substring
    (lexicographic == numeric for same-length lowercase hex) and the
    hex->decimal conv runs once per doc, not once per shingle.

    ``hash_fn``: ``'md5'`` (default) is the cross-engine hash the gates
    reproduce in DuckDB; ``'xxhash64'`` is the production fast path —
    hash i is the SEEDED JVM-intrinsic ``xxhash64(shingle, i)`` (one
    cheap hash per (shingle, i); no digest-splitting needed because the
    seed gives independent streams).  Signature VALUES differ from the
    md5 path, but every consumer depends only on hash EQUALITY — LSH
    banding, candidate pairs, and the near-dup verdicts are
    set-identical on duplicate-vs-distinct corpora (path-equivalence
    tested).  Per-shingle hash cost drops from ~num_hashes/2 md5 digests
    to num_hashes xxhash64 evals (~6x cheaper each); see FASTPATH.md
    for the measured end-to-end row.  Not DuckDB-reproducible, so the
    oracles stay on md5.

    ``strategy`` (md5 family only): ``'arrow'`` — the round-11 kernel
    (:func:`_minhash_arrow_df`): vectorized single-block MD5 over
    substring-derived shingle spans, bit-identical to this JVM form
    (differential- and gate-pinned); ``'jvm'`` — the
    ``array_min``/``transform`` expression form below (kept as the
    no-Python-workers fallback and the parity twin, and xxhash64's form:
    one cheap seeded JVM hash per (shingle, i)); ``'auto'`` — the
    ``minhash`` row of ``backend.ROUTES``."""
    if hash_fn not in ("md5", "xxhash64"):
        raise ValueError(f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r}")
    form = choose_form("minhash", strategy, docs, hash_fn=hash_fn)
    num_hashes, k = int(num_hashes), int(k)
    if num_hashes < 1 or k < 1:
        raise ValueError(f"num_hashes and k must be >= 1, got {num_hashes}, {k}")
    if form == "arrow":
        arrow_carry = quote_carry(
            carry,
            _SHINGLE_RESERVED | {"nt"} | {f"mh{i}" for i in range(num_hashes)},
        )
        return _minhash_arrow_df(docs, num_hashes, k, arrow_carry)
    # NULL-text docs produced no shingle rows on the old explode path; the
    # equivalent guard here must be a SCAN-level predicate (text IS NOT NULL)
    # — a post-hoc size(shingles) > 0 filter would be pushed below the widen
    # exchange and re-derive the whole shingle array inside the narrow scan
    # stage, serializing exactly the work the exchange parallelizes.
    sh = shingle_array_df(
        _widen(docs.where(F.col("text").isNotNull())), k=k, distinct=True, carry=carry
    )
    # quote AFTER the sub-call (which quotes its own copy): mh{i} outputs and
    # '__d{i}' digest aliases are reserved alongside the shingle aliases.
    carry = quote_carry(
        carry, _SHINGLE_RESERVED | {f"mh{i}" for i in range(num_hashes)}
    )

    if hash_fn == "xxhash64":
        # seeded intrinsic: one flat projection, one hash per (shingle, i)
        cols = [
            f"array_min(transform(shingles, x -> xxhash64(x, {i}))) AS mh{i}"
            for i in range(num_hashes)
        ]
        return sh.selectExpr("doc_id", *carry, *cols)
    # One digest array per salt, shared by the low/high half-signatures.
    # Both stages are single-parse SQL strings instead of lambda-based
    # F.transform (25 py4j round-trips each at build time — measured ~0.4 s
    # of driver latency per signature build for 8 hashes); the Catalyst
    # trees are identical.
    digs = sh.selectExpr(
        "doc_id",
        *carry,
        *[
            f"transform(shingles, x -> md5(concat('{s}|', x))) AS __d{s}"
            for s in range((num_hashes + 1) // 2)
        ],
    )
    cols = []
    for i in range(num_hashes):
        off = 1 + 16 * (i % 2)
        cols.append(
            f"CAST(conv(array_min(transform(__d{i // 2},"
            f" v -> substring(v, {off}, 15))), 16, 10) AS BIGINT) AS mh{i}"
        )
    return digs.selectExpr("doc_id", *carry, *cols)


def minhash_signatures_char_df(
    docs: DataFrame,
    num_hashes: int = 16,
    k: int = 9,
    carry: tuple = (),
) -> DataFrame:
    """Char-gram MinHash signatures ``(doc_id, mh0..mh{H-1})`` — the
    production fast path of the MinHash family, hashed INSIDE an Arrow
    kernel.

    Same downstream contract as :func:`minhash_signatures_df` (band with
    :func:`band_entries_df`, pair with :func:`lsh_candidate_pairs_df`);
    the shingle unit is a FIXED-WIDTH ``k``-char gram of the normalized
    text instead of a word k-shingle.  Fixed width is what makes the
    hashing vectorizable: all ``len - k + 1`` gram hashes come from ONE
    strided ``xxh64_sliding`` pass (the winnowing kernel's recipe), and
    each family member ``i`` then costs only the 8-op
    :func:`~imops_spark.functions.xxh.xxh64_chain_int` mix — hash family
    member ``i`` is bit-identical to Spark's ``xxhash64(gram, i)``, so
    ``mh{i}`` equals Spark's ``array_min(transform(sequence(1,
    length(nt) - k + 1), p -> xxhash64(substring(nt, p, k), i)))``
    (test-pinned against that expression).

    Why this exists: the word-shingle ``hash_fn='xxhash64'`` form is
    ``array_min(transform(...))`` — an interpreted JVM higher-order
    expression, the class measured BIMODAL in long-lived mixed JVMs
    (15→88 s pass-to-pass on the winnowing HOF), and the md5 form
    (the cross-engine oracle hash) pays ~``num_hashes/2`` digests per
    distinct shingle — the profiled cost driver of ``dd_minhash``'s 0.86
    deep-probe slope (FASTPATH.md).  Here every per-gram hash is one
    shared numpy pass + ``num_hashes`` cheap chain mixes, zero
    interpreted JVM expressions, zero shuffles, streaming-legal
    (stateless ``mapInPandas``).

    MIN is set-invariant, so no gram dedup is needed (duplicated grams
    cannot change a minimum) — the kernel mins over ALL sliding windows.
    Documents whose normalized text is shorter than ``k`` chars produce
    no signature row (same contract as the winnowing family); NULL text
    likewise.

    Multi-byte text (CJK, any non-ASCII) is vectorized too: grams are
    ``k`` codepoints whose UTF-8 byte widths vary, so the kernel finds
    codepoint offsets with one lead-byte mask, gathers grams grouped by
    byte width into matrices for :func:`~imops_spark.functions.xxh.
    xxh64_rows`, and mins with the same segmented reduceat — measured
    4.5x over the per-gram scalar loop it replaced (FASTPATH.md; 160k x
    200-char CJK docs: 2.2 s vs ~10 s est. on local[32]).  Only grams
    whose BYTE width reaches 32 (astral-plane-heavy text at large k)
    fall to scalar hashing.

    Signature VALUES differ from the md5 word path; every consumer
    depends only on hash equality, so LSH banding and near-dup verdicts
    are hash-family-invariant on duplicate-vs-distinct corpora
    (path-equivalence tested).  Not DuckDB-reproducible (xxhash64), so
    the gates stay on the md5 word path.
    """
    num_hashes, k = int(num_hashes), int(k)
    if num_hashes < 1 or k < 1:
        raise ValueError(
            f"num_hashes and k must be >= 1, got {num_hashes}, {k}"
        )
    carry = quote_carry(
        carry,
        _SHINGLE_RESERVED | {"nt"} | {f"mh{i}" for i in range(num_hashes)},
    )

    import numpy as np

    from .xxh import xxh64_bytes, xxh64_chain_int, xxh64_rows, xxh64_sliding

    # ~4M windows per numpy pass: bounds every temporary to ~32 MB while
    # amortizing numpy call overhead across thousands of documents — the
    # per-document formulation measured 8 s at 10k docs because 16 chains
    # x ~10 vector ops PER DOC is call-overhead-bound, not compute-bound
    chunk_windows = 4_000_000

    def _sigs_chunk(bs: list, out_rows: list) -> None:
        """One concatenated numpy pass over ASCII docs ``bs`` (list of
        bytes): a single sliding XXH64 over the joined buffer (windows
        crossing document boundaries are computed and DISCARDED — k-1
        wasted rows per doc), then per hash-family member one chain mix +
        one segmented ``minimum.reduceat``."""
        n_docs = len(bs)
        lens = np.fromiter((len(b) for b in bs), dtype=np.int64, count=n_docs)
        buf = np.frombuffer(b"".join(bs), dtype=np.uint8)
        base = xxh64_sliding(buf, k)
        starts = np.zeros(n_docs, dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        n_win = lens - k + 1
        if k == 1:
            offs = starts  # no cross-boundary windows: segments touch
            take = slice(None)
        else:
            # interleave (start, end) so reduceat's odd segments are the
            # discarded boundary windows; the final end (== len(base)) is
            # omitted — the last segment runs to the end on its own
            offs = np.empty(2 * n_docs - 1, dtype=np.int64)
            offs[0::2] = starts
            offs[1::2] = (starts + n_win)[:-1]
            take = slice(None, None, 2)
        sigs = np.empty((num_hashes, n_docs), dtype=np.int64)
        for i in range(num_hashes):
            sigs[i] = np.minimum.reduceat(xxh64_chain_int(base, i), offs)[take]
        out_rows.append(sigs)

    def _sigs_chunk_multibyte(strs: list, out_rows: list) -> None:
        """One vectorized pass over MULTI-BYTE docs ``strs``: grams are
        ``k`` CODEPOINTS (Spark's ``substring`` semantics) whose UTF-8
        byte widths vary, so instead of one sliding pass the kernel (1)
        finds every codepoint's byte offset with one lead-byte mask over
        the concatenated buffer — doc boundaries need no special-casing
        because a gram's end offset is the NEXT codepoint's start and
        adjacent docs abut, (2) gathers grams GROUPED BY BYTE WIDTH into
        ``(n, width)`` matrices for :func:`xxh64_rows` (same small-input
        bits as the sliding pass; widths >= 32 — e.g. astral-plane-heavy
        text at large k — fall to scalar ``xxh64_bytes`` per gram), and
        (3) takes per-doc minima with the same segmented ``reduceat``.
        Replaces the round-9 per-gram Python generator: CJK-heavy docs
        now cost a few numpy passes per CHUNK, not ~len(doc) scalar
        hashes per DOC."""
        n_docs = len(strs)
        encs = [s.encode() for s in strs]
        byte_lens = np.fromiter((len(e) for e in encs), np.int64, count=n_docs)
        buf = np.frombuffer(b"".join(encs), dtype=np.uint8)
        doc_start = np.zeros(n_docs + 1, dtype=np.int64)
        np.cumsum(byte_lens, out=doc_start[1:])
        # byte offset of every codepoint (UTF-8 lead bytes), plus the
        # total length as the final gram-end sentinel
        cp_pos = np.nonzero((buf & 0xC0) != 0x80)[0].astype(np.int64)
        cp_ext = np.append(cp_pos, doc_start[-1])
        cp_at_doc = np.searchsorted(cp_pos, doc_start)  # cp index per doc edge
        n_grams = np.diff(cp_at_doc) - k + 1  # >= 1: length(nt) >= k upstream
        total = int(n_grams.sum())
        # global cp_pos index of each gram's first codepoint, all docs:
        # a segmented arange offset to each doc's first-codepoint index
        seg_off = np.zeros(n_docs, dtype=np.int64)
        np.cumsum(n_grams[:-1], out=seg_off[1:])
        gidx = (
            np.arange(total, dtype=np.int64)
            - np.repeat(seg_off, n_grams)
            + np.repeat(cp_at_doc[:-1], n_grams)
        )
        gs = cp_ext[gidx]
        widths = cp_ext[gidx + k] - gs
        base = np.empty(total, dtype=np.int64)
        for wv in np.unique(widths):
            m = widths == wv
            starts = gs[m]
            if wv < 32:
                base[m] = xxh64_rows(
                    buf[starts[:, None] + np.arange(int(wv), dtype=np.int64)]
                )
            else:
                base[m] = np.fromiter(
                    (
                        xxh64_bytes(buf[s : s + int(wv)].tobytes())
                        for s in starts
                    ),
                    dtype=np.int64,
                    count=len(starts),
                )
        sigs = np.empty((num_hashes, n_docs), dtype=np.int64)
        for i in range(num_hashes):
            sigs[i] = np.minimum.reduceat(xxh64_chain_int(base, i), seg_off)
        out_rows.append(sigs)

    def batch(pdf):
        nts = pdf["nt"]
        ascii_ok = (
            np.fromiter(
                (s.isascii() for s in nts), dtype=bool, count=len(nts)
            )
            if k < 32
            else np.zeros(len(nts), dtype=bool)
        )
        sig_parts: list = []
        if ascii_ok.any():
            bs_all = [nts.iloc[int(j)].encode() for j in np.nonzero(ascii_ok)[0]]
            lo = 0
            while lo < len(bs_all):
                hi, tot = lo, 0
                while hi < len(bs_all) and tot < chunk_windows:
                    tot += len(bs_all[hi])
                    hi += 1
                _sigs_chunk(bs_all[lo:hi], sig_parts)
                lo = hi
        sigs_ascii = (
            np.concatenate(sig_parts, axis=1)
            if sig_parts
            else np.empty((num_hashes, 0), dtype=np.int64)
        )
        # multi-byte docs (and ALL docs at k >= 32, where the
        # sliding small-input path is unavailable) go through the
        # width-grouped vectorized pass — same bits, same chunking
        mb_parts: list = []
        mb_pos = np.nonzero(~ascii_ok)[0]
        if mb_pos.size:
            ss_all = [nts.iloc[int(j)] for j in mb_pos]
            lo = 0
            while lo < len(ss_all):
                hi, tot = lo, 0
                while hi < len(ss_all) and tot < chunk_windows:
                    tot += len(ss_all[hi])
                    hi += 1
                _sigs_chunk_multibyte(ss_all[lo:hi], mb_parts)
                lo = hi
        sigs_mb = (
            np.concatenate(mb_parts, axis=1)
            if mb_parts
            else np.empty((num_hashes, 0), dtype=np.int64)
        )
        sigs = np.empty((num_hashes, len(pdf)), dtype=np.int64)
        sigs[:, ascii_ok] = sigs_ascii
        sigs[:, ~ascii_ok] = sigs_mb
        return slice(None), {f"mh{i}": sigs[i] for i in range(num_hashes)}

    return _doc_kernel(
        _widen(docs),
        unquote_carry(carry) + [(f"mh{i}", "long") for i in range(num_hashes)],
        lambda: batch,
        carry,
        where=F.length("nt") >= k,
    )


def band_entries_df(
    signatures: DataFrame, bands: int = 4, rows_per_band: int = 4, carry: tuple = ()
) -> DataFrame:
    """Banded bucket keys per doc: ``(doc_id, band, band_key)``.

    The band key is md5 over the band's minhash values.  One explode over an
    inline (band, key) array: the signature subtree is scanned once, not
    ``bands`` times (a unionAll of per-band selects would re-evaluate the
    signature computation per branch).  Pure row-local column expressions —
    usable on batch AND streaming frames.
    """
    carry = quote_carry(carry, _BAND_RESERVED)
    entries = []
    for b in range(bands):
        cols = [f"mh{b * rows_per_band + r}" for r in range(rows_per_band)]
        key = F.md5(F.concat_ws(",", *[F.col(c).cast("string") for c in cols]))
        entries.append(F.struct(F.lit(b).alias("band"), key.alias("band_key")))
    return signatures.select(
        "doc_id", *carry, F.explode(F.array(*entries)).alias("e")
    ).select(
        "doc_id",
        *carry,
        F.col("e.band").alias("band"),
        F.col("e.band_key").alias("band_key"),
    )


def lsh_candidate_pairs_df(
    signatures: DataFrame, bands: int = 4, rows_per_band: int = 4
) -> DataFrame:
    """LSH banding: docs sharing any band signature become candidate pairs
    ``(doc_a, doc_b)`` with doc_a < doc_b.

    The self-join is an equi-join on (band, key) — linear shuffle, no cross
    product.
    """
    buckets = band_entries_df(signatures, bands=bands, rows_per_band=rows_per_band)
    a = buckets.alias("a")
    b = buckets.alias("b")
    pairs = (
        a.join(b, on=["band", "band_key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return pairs


def edit_similarity_df(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact Levenshtein verification for candidate pairs: edit distance
    over the NORMALIZED texts plus a length-normalized similarity
    ``1 - dist / max(len_a, len_b)`` — the character-level alternative to
    ``ngram_jaccard_df`` (order-sensitive where shingle Jaccard is not:
    a shuffled paragraph scores high Jaccard but low edit similarity).

    Runs only on the (LSH-pruned) candidate pairs, never all pairs —
    Levenshtein is O(len_a x len_b) per pair, so the pruning IS the scale
    story.  Distances are exact integers (built-in JVM kernel, no Python);
    the similarity divides two exact ints.  Cross-engine determinism is
    verified for ASCII text: Spark's ``levenshtein``/``length`` count
    UTF-16 code units, and other engines (e.g. DuckDB) may count Unicode
    text differently (codepoints/graphemes), so non-BMP or multi-byte
    content can legitimately score differently across engines.
    """
    ta = docs.select(F.col("doc_id").alias("doc_a"), normalized_text().alias("text_a"))
    tb = docs.select(F.col("doc_id").alias("doc_b"), normalized_text().alias("text_b"))
    dist = F.levenshtein("text_a", "text_b")
    max_len = F.greatest(F.length("text_a"), F.length("text_b"))
    return (
        pairs.join(ta, on="doc_a")
        .join(tb, on="doc_b")
        .select(
            "doc_a",
            "doc_b",
            dist.alias("edit_dist"),
            F.round(
                F.when(max_len == 0, 1.0).otherwise(1.0 - dist / max_len), 6
            ).alias("edit_sim"),
        )
    )


def ngram_jaccard_df(docs: DataFrame, pairs: DataFrame, k: int = 3) -> DataFrame:
    """Exact Jaccard similarity of word-k-shingle sets for given doc pairs.

    ``|A∩B|`` via join of shingle sets on the pair, sizes via pre-aggregated
    counts — runs only on (LSH-pruned) candidates, never all pairs.
    """
    sh = shingles_df(docs, k=k)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    sa = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        pairs.join(sa, on="doc_a").join(sb, on=["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(inter, on=["doc_a", "doc_b"], how="left")
        .join(na, on="doc_a")
        .join(nb, on="doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.coalesce(F.col("n_inter"), F.lit(0))
                / (F.col("n_a") + F.col("n_b") - F.coalesce(F.col("n_inter"), F.lit(0))),
                6,
            ).alias("jaccard"),
        )
    )


def _simhash_arrow_df(docs: DataFrame, bits: int) -> DataFrame:
    """The zero-shuffle Arrow kernel behind ``simhash_df(strategy='arrow')``:
    a SimHash signature is a function of ONE document's own distinct-token
    set, so the whole computation is row-local — no exchange, explode or
    aggregate is needed to count the per-(doc, token) votes.

    Exact parity with the 'local' fold's arithmetic (differential-tested):

    - tokens: ``nt.split(' ')`` over the plan-computed normalized text —
      after ``normalized_text()`` every whitespace run is a single ASCII
      space, so Java ``split('\\s+', -1)`` and Python's explicit-separator
      split produce identical lists (including the leading/trailing-empty
      cases: trim() strips spaces only, so a leading tab normalizes to a
      leading space and both engines emit a leading '' token);
      ``array_distinct`` = Python set (vote sums are order-free);
    - hash: top 60 bits of ``md5('0|' + token)`` — the
      ``conv(substring(md5, 1, 15), 16, 10)`` recipe, behind a per-task
      token cache (:func:`~.md5v.md5_top60_cached`: the corpus vocabulary
      repeats across documents, so one digest per distinct token per
      task, not per occurrence);
    - votes: ``bits`` vectorized shift-mask-``add.reduceat`` passes over
      the batch's flat token-hash array (temporaries bounded to the flat
      array size — no n_tokens x bits bit-matrix); bit b of the signature
      is set when ``2 * ones > n_distinct_tokens``, exact integers.

    Plan shape at 100 TB: ZERO shuffles — one corpus scan feeding a
    stateless ``mapInPandas``; parallelism comes from the scan split
    (at scale a corpus is many files), not a repartition of the text.
    Streaming-legal, though the streaming default stays 'local' (pure-JVM
    projection — no Python stage per micro-batch).
    """
    import numpy as np

    if not 1 <= int(bits) <= 62:
        raise ValueError(f"bits must be in [1, 62], got {bits}")
    pows = (np.int64(1) << np.arange(bits, dtype=np.int64)).reshape(-1, 1)

    def make():
        from .md5v import md5_top60_cached

        tok_hash = md5_top60_cached(b"0|")

        def batch(pdf):
            n_rows = len(pdf)
            # set == array_distinct here: the vote sum is order-invariant
            tok_sets = [set(nt.split(" ")) for nt in pdf["nt"]]
            lens = np.fromiter(
                (len(s) for s in tok_sets), dtype=np.int64, count=n_rows
            )
            total = int(lens.sum())  # >= n_rows: split() never returns []
            flat = np.fromiter(
                (tok_hash(t) for s in tok_sets for t in s),
                dtype=np.uint64,
                count=total,
            )
            starts = np.zeros(n_rows, dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            votes = np.empty((bits, n_rows), dtype=np.int64)
            tmp = np.empty(total, dtype=np.uint64)
            for b in range(bits):
                np.right_shift(flat, np.uint64(b), out=tmp)
                np.bitwise_and(tmp, np.uint64(1), out=tmp)
                votes[b] = np.add.reduceat(tmp, starts)
            sigs = ((votes * 2 > lens[None, :]) * pows).sum(axis=0)
            return slice(None), {"simhash": sigs}

        return batch

    return _doc_kernel(docs, [("simhash", "long")], make)


def simhash_df(docs: DataFrame, bits: int = 32, strategy: str = "auto") -> DataFrame:
    """SimHash signature per document: ``(doc_id, simhash)``.  Bit b of the
    signature is set when ones out-vote zeros among the distinct tokens'
    hash bits (2*ones > n).  Two value-identical strategies:

    - ``'arrow'``: ZERO shuffles — one stateless ``mapInPandas`` kernel
      over the plan-computed normalized text; token md5s come from a
      per-task cache (the corpus vocabulary repeats across documents, so
      each distinct token is digested once per task instead of once per
      (doc, token) occurrence — the same economics as the winnowing
      kernel's gram cache) and the bit votes are one vectorized numpy
      ``reduceat`` per batch.
    - ``'local'``: ZERO shuffles — the vote fold runs row-locally in one
      ``aggregate`` pass over the hash array (zip_with against each
      hash's bit vector).  No aggregation operator anywhere,
      so it composes under stream-stream joins and further stateful ops.
      CAVEAT (measured, round 6): higher-order functions evaluate on the
      INTERPRETED expression path, and in a JVM that has run other
      workloads the shared Expression.eval call sites go megamorphic —
      the same pass flips between ~1 s and ~15 s at 80k docs (GC logs
      clean, bimodal per execution), so 'auto' (the ``simhash`` row of
      ``backend.ROUTES``) takes it for streams only.

    The 'local' fold keeps the lambda-bound struct form (the
    CollapseProject trap — see the fold comment in the code).
    """
    if choose_form("simhash", strategy, docs) == "arrow":
        return _simhash_arrow_df(docs, int(bits))
    # scan-level guard: NULL-text docs get no row (as in the arrow
    # kernel); a size(null) comparison would silently emit sig=0 instead
    toks = _widen(docs.where(F.col("text").isNotNull())).select(
        "doc_id",
        F.array_distinct(F.split(normalized_text(), r"\s+")).alias("tok"),
    )
    # Single-parse SQL string for the whole HOF pipeline (vs lambda-based
    # F.transform/F.aggregate: ~25 py4j round-trips EACH at build time),
    # with the token hashes and count LAMBDA-BOUND in one struct.
    #
    # The CollapseProject lambda-binding trap (the library-wide note other
    # HOF pipelines point at): written as stacked projections, an
    # expression column referenced inside a downstream lambda BODY is
    # inlined there by CollapseProject, and subexpression elimination
    # stops at lambda boundaries — so it re-evaluates once PER LAMBDA
    # INVOCATION.  Here `n = size(tok)` and the tokenization would re-run
    # once per bit; a winnowing fold that referenced the document's hash
    # array inside its per-window lambda re-hashed the whole document per
    # window (measured 30x slower on 100 docs, unbounded with doc length).
    # Binding the value as a lambda variable (`transform(array(x), v ->
    # ...)[0]`) materializes it once per row: lambda scoping is the
    # optimizer-proof common-subexpression barrier for array pipelines.
    # (A HOF's top-level ARGUMENT is evaluated once, so referencing a
    # projected column there is safe.)  Bound form measured ~15% faster
    # at sf0.1 here and structurally immune to the re-evaluation.
    pows = "array(" + ", ".join(f"CAST({2 ** b} AS BIGINT)" for b in range(bits)) + ")"
    sig = (
        f"transform(array(named_struct("
        f" 'th', transform(tok, x -> CAST(conv(substring(md5(concat('0|', x)),"
        f"        1, 15), 16, 10) AS BIGINT)),"
        f" 'n', size(tok))),"
        f" s -> aggregate("
        f"   zip_with("
        f"     aggregate(s.th, array_repeat(0, {int(bits)}),"
        f"       (acc, h) -> zip_with(acc,"
        f"         transform({pows}, p -> IF(h % (p * 2) >= p, 1, 0)),"
        f"         (a, v) -> a + v)),"
        f"     {pows},"
        f"     (cnt, p) -> IF(cnt * 2 > s.n, p, CAST(0 AS BIGINT))),"
        f"   CAST(0 AS BIGINT), (a, x) -> a + x))[0]"
    )
    return toks.selectExpr("doc_id", f"{sig} AS simhash")


def _row_count_estimate(df: DataFrame) -> int:
    """Row count for block sizing WITHOUT a Spark count job when the frame
    is parquet-file-backed: sum the footer ``num_rows`` of its input files
    via pyarrow (pure driver-side metadata reads — no executors, no scan).
    Falls back to ``count()`` for non-file frames.

    The estimate ignores any filters above the scan (footer counts are
    pre-filter), which is fine here: the count only picks ``num_blocks``,
    and the pair output is block-count-invariant (test-pinned), so an
    overestimate costs at most some extra empty block tasks.
    (``spark.sql.parquet.aggregatePushdown`` was tried first and does not
    apply: it only covers the DSv2 read path and parquet defaults to V1,
    which bucketed tables and the streaming sinks rely on.)
    """
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if files and all(f.endswith(".parquet") for f in files):
        try:
            import pyarrow.parquet as pq

            total = 0
            for f in files:
                path = f.removeprefix("file://").removeprefix("file:")
                total += pq.ParquetFile(path).metadata.num_rows
            return total
        except Exception:
            pass  # remote FS / unreadable footer: pay the count job
    return df.count()


def _text_chars_estimate(df: DataFrame, col: str = "text") -> int | None:
    """Upper-bound estimate of ``sum(length(col))`` WITHOUT a Spark job
    when the frame is parquet-file-backed: sum the ``col`` column chunks'
    ``total_uncompressed_size`` from the file footers (pure driver-side
    metadata reads — the :func:`_row_count_estimate` recipe applied to the
    gram-exchange sizing pre-pass, which otherwise pays a full
    text-column scan+aggregate job per operator call).

    Why the footer number is the safe direction: for PLAIN-encoded
    BYTE_ARRAY pages the uncompressed size is the value bytes plus a
    4-byte length prefix per value, and UTF-8 bytes >= characters — both
    overestimates, and the estimate ignores any filters above the scan
    (pre-filter totals), a further overestimate.  Oversizing costs a few
    extra sub-full tasks; UNDERsizing causes the superlinear map+reduce
    spill the sizing discipline exists to prevent.  The one hazard is
    dictionary encoding (a page of exact-duplicate values stores each
    distinct value once), so when any chunk carries a dictionary page the
    total is doubled as headroom — a corpus would need >2x page-local
    exact-duplicate text repetition to undersize, and parquet writers
    fall back to PLAIN precisely when text values do not repeat.

    Returns ``None`` (caller pays the aggregation job) for non-file
    frames, non-parquet files, or a missing/unreadable ``col``.
    """
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files or not all(f.endswith(".parquet") for f in files):
        return None
    try:
        import pyarrow.parquet as pq

        total = 0
        any_dict = False
        for f in files:
            path = f.removeprefix("file://").removeprefix("file:")
            md = pq.ParquetFile(path).metadata
            idx = next(
                (
                    i
                    for i in range(md.num_columns)
                    if md.schema.column(i).name == col
                ),
                None,
            )
            if idx is None:
                return None
            for rg in range(md.num_row_groups):
                cc = md.row_group(rg).column(idx)
                any_dict = any_dict or cc.has_dictionary_page
                total += cc.total_uncompressed_size
        return total * 2 if any_dict else total
    except Exception:
        return None


def embedding_near_dup_df(
    embeddings: DataFrame,
    threshold: float = 0.98,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_blocks: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs above ``threshold`` (exact).

    Block-matrix similarity join: vectors are hashed into ``num_blocks``
    blocks; every block pair (i <= j) is shipped to one Arrow task that
    computes the cross-cosine matrix with a single numpy GEMM.  Exact O(n^2)
    math, but the FLOPs run vectorized in C and the cross product never
    exists as Spark rows — each vector is replicated ``num_blocks + 1``
    times instead of ``n`` times.  ``num_blocks=None`` sizes blocks to
    ~4k vectors from a count (one cheap pre-job): small corpora collapse to
    a single GEMM instead of paying fan-out overhead, big ones keep every
    pair task's matrix bounded.  At 100 TB the same plan holds; the
    sub-quadratic path is ``similarity.lsh_topk_df``.

    The pair replication is a row-local explode of each vector's pair list
    — one scan, no join: a vector in block b is the LEFT side of pairs
    (b, j>=b) and the RIGHT side of pairs (i<=b, b).
    """
    import math

    if num_blocks is None:
        n = _row_count_estimate(embeddings)
        num_blocks = min(max(1, math.ceil(n / 4096)), 64)
    emb = embeddings.select(
        F.col(id_col).alias("vid").cast("long"),
        F.col(vec_col).cast("array<double>").alias("vec"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(num_blocks)).cast("int").alias("blk"),
        F.lit(int(num_blocks)).alias("nblk"),
    )
    return _pair_replicated(emb).groupBy("bi", "bj").applyInPandas(
        _cosine_pairs_compute(threshold), schema="id_a long, id_b long, cosine double"
    )


def _pair_replicated(emb: DataFrame, group_cols: tuple = ()) -> DataFrame:
    """The row-local pair-replication explode shared by the block-GEMM
    similarity operators: each vector in block ``blk`` (of a per-row
    ``nblk`` total — constant for the global near-dup join, per-cluster
    for semdedup) becomes the LEFT side of block pairs (blk, j >= blk)
    and the RIGHT side of (i <= blk, blk).  One scan, no join."""
    pairs = (
        "explode(concat("
        " transform(sequence(blk, nblk - 1),"
        "   j -> named_struct('bi', blk, 'bj', j, 'side', 0)),"
        " transform(sequence(0, blk),"
        "   i -> named_struct('bi', i, 'bj', blk, 'side', 1))"
        ")) AS p"
    )
    return emb.selectExpr(*group_cols, pairs, "vid", "vec").selectExpr(
        *group_cols, "p.bi AS bi", "p.bj AS bj", "p.side AS side", "vid", "vec"
    )


_COS_SCRATCH: dict = {}  # per-worker GEMM scratch — see _cosine_scratch


def _cosine_scratch(kind: str, dtype, n: int):
    """Per-worker persistent scratch for the block-GEMM kernels: a flat
    buffer per dtype kind, grown monotonically and viewed per call.

    Why this exists (round-10 root cause of the bench bimodality): a
    fresh 4k x 4k block allocates ~280 MB of numpy temporaries per call
    (GEMM result + rounded copy + bool mask), and on this class of box
    FIRST-TOUCH page faults measured ~90 us/page — 2.9 s to touch a
    fresh 128 MB buffer vs 15 ms to refill it (kernel zeroing + THP
    path; reproduced with plain numpy, no Spark).  Whether glibc reused
    the arena (fast) or had returned the blocks to the OS (slow) flipped
    pass to pass, which WAS the 'unexplained Arrow-stage slow mode'.
    Persistent scratch keeps the pages mapped, so every call after the
    worker's first runs at refill speed.  Peak memory is unchanged —
    the scratch is never larger than the temporaries it replaces
    (bounded by the ~4k block cap: ~150 MB)."""
    import numpy as np

    buf = _COS_SCRATCH.get(kind)
    if buf is None or buf.size < n:
        from ._mem import touch_pages

        buf = np.empty(n, dtype=dtype)
        # parallel first-touch: a cold worker otherwise faults the fresh
        # buffer one page at a time INSIDE the GEMM (round-11 event-log
        # finding: 5-10 s single-task stalls at ~1 ms/page on
        # overcommitted hosts; threads fault ~15x faster)
        touch_pages(buf)
        _COS_SCRATCH[kind] = buf
    return buf[:n]


def _cosine_pairs_compute(threshold: float):
    """The per-block-pair Arrow task: one numpy GEMM over the (left, right)
    sides — into per-worker scratch (see :func:`_cosine_scratch`) —
    rounded cosines thresholded, diagonal blocks deduped to
    id_a < id_b."""
    import pandas as pd

    thr = float(threshold)

    def compute(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        from ._mem import ensure_malloc_tuning

        ensure_malloc_tuning()  # the stack()/normalize temporaries (_mem)
        empty = pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
            {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
        )
        bi, bj = int(pdf["bi"].iloc[0]), int(pdf["bj"].iloc[0])
        lmask = pdf["side"] == 0
        if lmask.sum() == 0 or (~lmask).sum() == 0:
            return empty
        lids = pdf.loc[lmask, "vid"].to_numpy()
        rids = pdf.loc[~lmask, "vid"].to_numpy()
        lm = np.stack(pdf.loc[lmask, "vec"].to_numpy())
        rm = np.stack(pdf.loc[~lmask, "vec"].to_numpy())
        ln = lm / np.linalg.norm(lm, axis=1, keepdims=True)
        rn = rm / np.linalg.norm(rm, axis=1, keepdims=True)
        n_l, n_r = len(lids), len(rids)
        cos = _cosine_scratch("f8", np.float64, n_l * n_r).reshape(n_l, n_r)
        np.matmul(ln, rn.T, out=cos)
        np.round(cos, 6, out=cos)
        mask = _cosine_scratch("b1", np.bool_, n_l * n_r).reshape(n_l, n_r)
        np.greater_equal(cos, thr, out=mask)
        ii, jj = np.nonzero(mask)
        if len(ii) == 0:
            return empty
        ia, ib = lids[ii], rids[jj]
        c = cos[ii, jj]
        if bi == bj:
            keep = ia < ib  # dedupe the symmetric diagonal block
            ia, ib, c = ia[keep], ib[keep], c[keep]
        else:
            ia, ib = np.minimum(ia, ib), np.maximum(ia, ib)
        return pd.DataFrame({"id_a": ia, "id_b": ib, "cosine": c})

    return compute


def drop_url_duplicates_df(
    pages: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """URL-keyed dedup — the crawl pipeline's FIRST dedup pass, upstream
    of any content hashing: keep exactly one page per CANONICAL url
    (``text.canonical_url`` — fragments, default ports, tracking params,
    and authority case collapse), choosing the lowest ``id_col`` within
    each group so reruns are deterministic.  Output = the surviving input
    rows plus the ``canonical_url`` column.

    Plan shape at 100 TB: canonicalization is row-local column
    expressions; the keep-one is a single window ``row_number`` over ONE
    canonical-url exchange — no join, no second scan (the
    ``drop_exact_duplicates`` shape keyed on the url instead of a content
    hash)."""
    from pyspark.sql.window import Window

    from .text import canonical_url

    w = Window.partitionBy("canonical_url").orderBy(F.col(id_col).asc())
    return (
        pages.withColumn("canonical_url", canonical_url(F.col(url_col)))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def cross_near_dup_df(
    corpus: DataFrame,
    queries: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cross-corpus embedding near-duplicates: every ``(corpus_id,
    query_id, cosine)`` pair with exact cosine >= ``threshold`` between a
    corpus vector and a QUERY-side vector — the semantic analogue of
    winnowing decontamination (eval items whose meaning, not verbatim
    text, leaked into training data).

    Asymmetric by design, unlike :func:`embedding_near_dup_df`'s
    symmetric block join: the query side (an eval benchmark — thousands
    of vectors) is driver-collected under the 100k broadcast contract and
    shipped to every corpus partition, where ONE numpy GEMM per Arrow
    batch scores it against the local corpus rows.  The 100 TB corpus
    side is never shuffled, never replicated, and never aggregated — the
    scan IS the whole plan (`mapInPandas`, zero exchanges).  Cosines are
    rounded to 6dp before thresholding (the `embedding_near_dup_df`
    convention, so relational oracles agree bit-for-bit).
    """
    from .similarity import _collect_query_side

    qid, qm, qid_type = _collect_query_side(
        queries, id_col, vec_col, "cross_near_dup_df"
    )
    thr = float(threshold)
    # preserve both sides' id dtypes (string doc ids work — the
    # hardcoded-long Arrow schema was a live bug in bpe_apply_df once)
    cid_type = dict(corpus.dtypes)[id_col]
    out_schema = f"corpus_id {cid_type}, query_id {qid_type}, cosine double"
    src = corpus.select(
        F.col(id_col).alias("cid"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    if qid is None:
        return src.sparkSession.createDataFrame([], out_schema)

    def score(batches):
        import numpy as np
        import pandas as pd

        qn = np.asarray(qm, dtype=np.float64)
        qn = qn / np.linalg.norm(qn, axis=1, keepdims=True)
        qids = np.asarray(qid)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cm = np.stack(pdf["vec"].to_numpy())
            cn = cm / np.linalg.norm(cm, axis=1, keepdims=True)
            cos = np.round(cn @ qn.T, 6)
            ii, jj = np.nonzero(cos >= thr)
            if len(ii) == 0:
                continue
            yield pd.DataFrame(
                {
                    "corpus_id": pdf["cid"].to_numpy()[ii],
                    "query_id": qids[jj],
                    "cosine": cos[ii, jj],
                }
            )

    return src.mapInPandas(score, schema=out_schema)


def decontaminate_by_embedding_df(
    corpus: DataFrame,
    queries: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Drop every corpus row whose embedding is cosine-similar (>=
    ``threshold``) to ANY query-side vector — semantic decontamination in
    one call (:func:`cross_near_dup_df` + anti-join).  The flagged-id set
    is bounded by the corpus-side matches; the anti-join is the only
    exchange."""
    bad = (
        cross_near_dup_df(
            corpus, queries, threshold=threshold, id_col=id_col, vec_col=vec_col
        )
        .select(F.col("corpus_id").alias(id_col))
        .dropDuplicates()
    )
    return corpus.join(bad, id_col, "left_anti")


def semdedup_df(
    embeddings: DataFrame,
    n_clusters: int = 8,
    threshold: float = 0.95,
    n_iter: int = 5,
    sample_size: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_target: int = 4096,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means-cluster the embedding space,
    then prune near-duplicates WITHIN each cluster — ``(id_col,
    centroid_id, dup_of, keep)``.  A vector is dropped (``keep = false``,
    ``dup_of`` = its lowest-id in-cluster neighbor above ``threshold``)
    iff a lower-id vector in the same cluster is cosine-similar above
    ``threshold``; cross-cluster near-dups are deliberately not examined —
    clustering is what bounds the pair problem to per-cluster blocks
    instead of corpus x corpus.  ``n_clusters = 1`` degenerates to exact
    global near-dup pruning (how the driver gate verifies it).

    Plan shape at 100 TB: centroids train on a deterministic driver-side
    sample (``similarity.ivf_centroids`` — the IVF recipe); assignment is
    one Arrow GEMM pass, NO shuffle; then ONE exchange on centroid_id
    serves everything downstream — the per-cluster size (a window count,
    so no driver collect and no second assignment pass) that derives each
    cluster's block count ``ceil(n_c / block_target)``, the pair-replicate
    explode (narrow), and the (centroid, block-pair) Arrow GEMM groups,
    whose partitioning requirement the centroid_id exchange already
    satisfies.  The drop rule then aggregates pairs by id_b and left-joins
    assignments.  A severely skewed cluster concentrates its window count
    on one partition (WindowExec spills); its GEMM work still fans out
    across that cluster's block pairs.
    """
    from .similarity import ivf_assign_df, ivf_centroids

    cents = ivf_centroids(
        embeddings,
        n_centroids=int(n_clusters),
        n_iter=n_iter,
        sample_size=sample_size,
        id_col=id_col,
        vec_col=vec_col,
    )
    assign = ivf_assign_df(
        embeddings, cents, n_probe=1, id_col=id_col, vec_col=vec_col
    )
    w_c = Window.partitionBy("centroid_id")
    emb = (
        assign.withColumn("__n", F.count(F.lit(1)).over(w_c))
        .select(
            "centroid_id",
            F.col("vec_id").alias("vid").cast("long"),
            F.col("vec").cast("array<double>").alias("vec"),
            F.least(
                F.ceil(F.col("__n") / F.lit(int(block_target))), F.lit(64)
            )
            .cast("int")
            .alias("nblk"),
        )
        .withColumn(
            "blk", F.pmod(F.xxhash64("vid"), F.col("nblk")).cast("int")
        )
    )
    pairs = (
        _pair_replicated(emb, group_cols=("centroid_id",))
        .groupBy("centroid_id", "bi", "bj")
        .applyInPandas(
            _cosine_pairs_compute(threshold),
            schema="id_a long, id_b long, cosine double",
        )
    )
    dup = pairs.groupBy(F.col("id_b").alias("vid")).agg(
        F.min("id_a").alias("dup_of")
    )
    return (
        assign.select(
            F.col("vec_id").alias("vid").cast("long"), "centroid_id"
        )
        .join(dup, "vid", "left")
        .select(
            F.col("vid").alias(id_col),
            "centroid_id",
            "dup_of",
            F.col("dup_of").isNull().alias("keep"),
        )
    )


def drop_near_duplicates_df(
    docs: DataFrame,
    num_hashes: int = 8,
    k: int = 3,
    bands: int = 4,
    rows_per_band: int = 2,
    threshold: float = 0.6,
    hash_fn: str = "md5",
) -> DataFrame:
    """The actionable end of the near-dup pipeline: keep one canonical
    document (the min doc_id) per duplicate cluster and every unclustered
    document — MinHash signatures -> banded LSH candidates -> n-gram Jaccard
    verification -> connected components -> anti-join of the losers.

    Every stage is the individually-gated operator (dd_minhash,
    dd_lsh_pairs, dd_jaccard, dd_clusters); this composes them into the one
    call a training-data pipeline makes.
    """
    from ..operators.graph import connected_components_df

    sigs = minhash_signatures_df(
        docs, num_hashes=num_hashes, k=k, hash_fn=hash_fn,
        strategy=choose_form("minhash", "auto", docs, hash_fn=hash_fn, composed=True),
    )
    pairs = lsh_candidate_pairs_df(sigs, bands=bands, rows_per_band=rows_per_band)
    edges = (
        ngram_jaccard_df(docs, pairs)
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    cc = connected_components_df(edges)
    losers = cc.filter(F.col("node") != F.col("comp")).select(
        F.col("node").alias("doc_id")
    )
    return docs.join(losers, "doc_id", "left_anti")


def _bucket_key_col():
    # single-column join key: band id folded into the key string so the
    # persisted index can bucket on ONE column (a (band, band_key) composite
    # bucket would force requireAllClusterKeysForCoPartition gymnastics) and
    # cross-band hash collisions cannot alias buckets.
    return F.concat_ws(":", F.col("band").cast("string"), F.col("band_key")).alias(
        "bucket_key"
    )


def lsh_write_index(
    docs: DataFrame,
    table: str,
    num_hashes: int = 16,
    bands: int = 4,
    rows_per_band: int = 4,
    k: int = 3,
    num_buckets: int = 16,
    path: str | None = None,
    mode: str = "overwrite",
    hash_fn: str = "md5",
) -> None:
    """Persist the LSH band index for ``docs``: ``(doc_id, bucket_key)``
    bucketed by ``bucket_key`` (``sources.parquet.write_bucketed``) — the
    build-once/probe-many shape of incremental corpus dedup.

    The historical corpus pays its signature computation and bucket shuffle
    ONCE at build time; every subsequent batch of new documents computes only
    its OWN signatures and joins against the bucketed index with no exchange
    on the index side (`lsh_query_index`).  That turns daily dedup of a
    100 TB corpus from O(corpus) re-hashing per day into O(new batch) —
    the same economics as ``similarity.ivf_write_index`` for ANN.

    Banding parameters (``num_hashes, bands, rows_per_band, k``) are part of
    the index contract: a mismatched probe would silently miss every bucket,
    so the index is SELF-DESCRIBING — the parameters are stored as table
    properties at build time and ``lsh_query_index`` validates its arguments
    against them, failing loudly instead of returning an empty join.

    ``mode='append'`` is the incremental-maintenance path
    (``streaming.dedup.start_lsh_index_maintenance`` calls this per
    micro-batch): the bucketed append validates the bucket spec against the
    existing table, and the banding parameters are validated against the
    stored ``imops.lsh.*`` properties — an append with mismatched
    ``num_hashes/bands/rows_per_band/k`` would write band entries that can
    never align with existing buckets AND (if the properties were silently
    re-written, as before round 6) flip what ``lsh_query_index`` validates
    against, so probes would silently return incomplete results.  Appends
    therefore RAISE on mismatch; properties are only written on initial
    build (overwrite, or first append to a property-less table).
    """
    from ..sources.parquet import write_bucketed

    if hash_fn not in ("md5", "xxhash64"):
        raise ValueError(f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r}")
    spark = docs.sparkSession
    asked = {
        "num_hashes": int(num_hashes),
        "bands": int(bands),
        "rows_per_band": int(rows_per_band),
        "k": int(k),
        # part of the index contract like the banding params: band keys
        # from one hash family can never align with the other's, and a
        # mixed-family index would silently return incomplete candidates
        "hash_fn": hash_fn,
    }
    if mode == "append":
        stored = _lsh_stored_props(spark, table)
        if stored and stored != asked:
            raise ValueError(
                f"LSH index {table!r} was built with {stored}; appending with "
                f"{asked} would corrupt the index (band keys cannot align)"
            )
    sigs = minhash_signatures_df(
        docs, num_hashes=num_hashes, k=k, hash_fn=hash_fn,
        strategy=choose_form("minhash", "auto", docs, hash_fn=hash_fn, composed=True),
    )
    entries = band_entries_df(sigs, bands=bands, rows_per_band=rows_per_band).select(
        "doc_id", _bucket_key_col()
    )
    write_bucketed(
        entries, table, ["bucket_key"], num_buckets=num_buckets, path=path, mode=mode
    )
    if mode != "append" or not _lsh_stored_props(spark, table):
        props = ", ".join(
            f"'imops.lsh.{name}'='{v}'" for name, v in asked.items()
        )
        spark.sql(f"ALTER TABLE {table} SET TBLPROPERTIES({props})")


def _lsh_stored_props(spark, table: str) -> dict:
    """The ``imops.lsh.*`` banding parameters stored on ``table``, or ``{}``
    when the table does not exist / carries none (e.g. built elsewhere).
    Pre-stamp tables (built before the hash-family property existed) load
    with ``hash_fn='md5'`` — the only family that ever wrote them."""
    try:
        out = {}
        for row in spark.sql(f"SHOW TBLPROPERTIES {table}").collect():
            if not row["key"].startswith("imops.lsh."):
                continue
            name = row["key"].removeprefix("imops.lsh.")
            out[name] = row["value"] if name == "hash_fn" else int(row["value"])
        if out:
            out.setdefault("hash_fn", "md5")
        return out
    except Exception:
        return {}


def lsh_query_index(
    spark,
    table: str,
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    rows_per_band: int = 4,
    k: int = 3,
    hash_fn: str = "md5",
) -> DataFrame:
    """Probe a persisted LSH index built by ``lsh_write_index`` with a batch
    of new documents: returns candidate near-duplicate pairs
    ``(index_doc_id, probe_doc_id)`` — new docs that share any band bucket
    with an indexed doc.  Only the (small) probe side shuffles to the
    index's bucketing; verification (``ngram_jaccard_df``) and the
    drop decision run on candidates only, exactly like the inline pipeline.

    Probe parameters are validated against the table properties written by
    ``lsh_write_index`` (when present — tables built by other writers skip
    the check): a silent mismatch would return zero candidates.
    """
    stored = _lsh_stored_props(spark, table)
    if stored:
        asked = {
            "num_hashes": int(num_hashes),
            "bands": int(bands),
            "rows_per_band": int(rows_per_band),
            "k": int(k),
            "hash_fn": hash_fn,
        }
        if stored != asked:
            raise ValueError(
                f"LSH index {table!r} was built with {stored}, probed with "
                f"{asked}: bucket keys cannot align"
            )
    idx = spark.table(table).select(
        F.col("doc_id").alias("index_doc_id"), "bucket_key"
    )
    sigs = minhash_signatures_df(
        docs, num_hashes=num_hashes, k=k, hash_fn=hash_fn,
        strategy=choose_form("minhash", "auto", docs, hash_fn=hash_fn, composed=True),
    )
    probe = band_entries_df(sigs, bands=bands, rows_per_band=rows_per_band).select(
        F.col("doc_id").alias("probe_doc_id"), _bucket_key_col()
    )
    return (
        idx.join(probe, on="bucket_key")
        .filter(F.col("index_doc_id") != F.col("probe_doc_id"))
        .select("index_doc_id", "probe_doc_id")
        .distinct()
    )


_GRAM_ROWS_PER_TASK = 2_000_000  # ~64 MB of (doc_id, pos, h) unsafe rows


def _gram_exchange_sizing(docs: DataFrame) -> tuple[int, int]:
    """``(raw_chars, n_parts)`` for a gram-wide exchange over ``docs``
    (one row per character of corpus), computed BEFORE it is built.

    ``raw_chars`` upper-bounds the gram count (normalization only
    shrinks text): the parquet-footer estimate
    (:func:`_text_chars_estimate` — driver-side metadata only, zero
    executor work), falling back to the ``sum(length(text))`` columnar
    aggregation job for non-parquet frames.  ``n_parts`` holds each task
    to ~``_GRAM_ROWS_PER_TASK`` rows, never fewer tasks than
    ``spark.sql.shuffle.partitions``: that keeps every task of both
    exchange sides inside its execution-memory share — the profiled
    alternative is map- AND reduce-side spill, and the spill is
    superlinear."""
    raw_chars = _text_chars_estimate(docs)
    if raw_chars is None:
        raw_chars = docs.select(F.sum(F.length("text"))).first()[0] or 0
    default_parts = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    n_parts = max(default_parts, -(-int(raw_chars) // _GRAM_ROWS_PER_TASK))
    return int(raw_chars), n_parts


def _hot_gram_rows_estimate(
    d: DataFrame, k: int, raw_chars: int, sample_rows: int = 200_000
) -> int:
    """Estimated corpus-wide row count of the HOTTEST ``k``-gram, from a
    deterministic document sample targeting ``~sample_rows`` gram rows.
    Groups the sampled gram STRINGS directly (gram equality is the
    semantics; hashing the sample would only add cost).  Drives
    ``duplicate_spans_df``'s ``strategy='auto'`` window-vs-agg dispatch:
    the window funnels EVERY row of a gram into one sort partition, so
    the decision variable is whether the hottest gram alone exceeds the
    per-task sizing budget."""
    if raw_chars <= 0:
        return 0
    f = min(1.0, float(sample_rows) / float(raw_chars))
    s = d if f >= 1.0 else d.sample(fraction=f, seed=7)
    top = (
        s.select(
            F.explode(F.sequence(F.lit(1), F.length("nt") - (k - 1))).alias("pos"),
            "nt",
        )
        .select(F.substring("nt", F.col("pos"), k).alias("g"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.max("c"))
        .first()[0]
    )
    return int((top or 0) / f)


def duplicate_spans_df(
    docs: DataFrame,
    k: int = 20,
    min_docs: int = 2,
    hash_fn: str = "md5",
    strategy: str = "auto",
) -> DataFrame:
    """Exact substring deduplication, span-level (the Lee et al. 2021
    "Deduplicating Training Data Makes Language Models Better" primitive,
    re-expressed relationally): per document the MAXIMAL character spans
    whose every ``k``-gram also occurs in at least ``min_docs`` distinct
    documents — ``(doc_id, span_start, span_len, n_grams)``, 1-based
    start over the normalized text.

    The reference C++ implementation builds a corpus suffix array; the
    Spark-native equivalent is hash-relational: every position's k-gram
    hash (the winnowing/md5 recipe — cross-engine deterministic),
    ``groupBy(hash)`` for the distinct-document count, a semi-join back to
    positions, then per-document island merging (``pos - row_number``)
    into maximal runs.  A span of length L >= k appears iff all its
    L - k + 1 gram starts are duplicated, which is exactly the suffix-array
    criterion for shared substrings of length >= k.

    Plan shape at 100 TB (``strategy='window'``, auto's typical pick): one scan,
    one SIZE-AWARE gram exchange, ``min/max(doc_id) OVER (PARTITION BY
    h)`` on it, then the island merge.  The gram exchange carries one row
    per character of corpus, so BOTH of its sides must be sized to
    execution memory or they spill — and the spill, not the sort, is the
    superlinear term (profiled at 1.28M docs / 418M grams, local[32]:
    the 32-task map side alone spilled 9.1 GB and burned 2,845 s of CPU;
    pre-widening the map side and sizing the reducer count dropped the
    operator 122 s -> 74 s with ZERO spill).  A cheap pre-pass sums
    ``length(text)`` (columnar scan, no regex) to estimate the gram
    count, then both the pre-explode document repartition and the gram
    exchange's reducer count are set to ``~3M gram rows (~100 MB) per
    task``.  This is the partition-sizing discipline every 100 TB plan
    needs, applied from inside the operator because the gram explosion
    multiplies row width by ~character count — no session-level
    ``spark.sql.shuffle.partitions`` can be right for both this exchange
    and everything else in the job.

    ``strategy='auto'`` (the default) picks between the two forms below
    by the ``duplicate_spans`` row of ``backend.ROUTES``: a sampled
    heavy-hitter probe keeps 'window' unless the hottest k-gram alone is
    estimated to exceed the per-task row budget (in which case its sort
    partition would straggle) — then 'agg'.  The probe only runs when
    the corpus is big enough to have needed sizing up, so small jobs pay
    nothing.  Both forms are result-identical (equivalence-tested).

    ``strategy='agg'`` (the skew-safe form)
    replaces the window with a map-side-combined ``groupBy(h)``
    min/max + shuffle-hash semi-join back to the grams.  When the
    pre-explode widen triggers, its exchange doubles as a shared
    materialization point (both gram branches consume it via
    ReusedExchange — one scan); otherwise the branches scan twice.  Each
    branch re-derives explode + hash, and measured at 320k docs the form
    is ~2x SLOWER than the sized window (36 s vs 17 s): grams are mostly
    unique, so partial aggregation reduces nothing and builds two giant
    per-task hash maps (partial + final) that lose to one Tungsten radix
    sort.  Kept for two reasons: it is the right base if a counting
    prefilter ever prunes the unique grams, and it is the SKEW-SAFE
    form — a pathologically hot gram (site boilerplate repeated across
    millions of documents) funnels ALL its rows into one sort partition
    under the window, while the groupBy's map-side combine collapses it
    to one row per input partition before the exchange.  On a corpus
    with known heavy boilerplate, pass ``strategy='agg'``.

    The island window then shuffles only the matched positions (a
    filtered subset) by doc_id.  ``min_docs > 2`` uses a two-phase
    ``countDistinct(doc_id)`` + semi-join under either strategy (window
    functions cannot COUNT DISTINCT) — and needs NO heavy-hitter probe,
    because there is no skew-fragile alternative to dispatch away from:
    the probe exists solely to choose between the window (which funnels
    every row of a hot gram into one sort partition) and the agg, and
    the countDistinct path is already agg-shaped at every stage.
    Concretely, under a pathologically hot gram: the distinct pre-pass
    exchanges on ``(h, doc_id)``, so the hot gram's rows SPREAD across
    reducers by doc_id; the count stage receives one deduped row per
    (h, doc_id) with a map-side partial count collapsing them to one row
    per input partition before the ``h`` exchange; and the semi-join
    back is a shuffle-hash probe whose stream side never buffers — the
    hot gram's task is a linear scan against a build side bounded by
    DISTINCT qualifying hashes, the same streamed shape the
    ``min_docs == 2`` probe deliberately PICKS when it detects skew
    (skew-fixture-tested at min_docs=3).  Hash collisions (60- or 64-bit)
    can merge unrelated grams — at corpus scale that admits a rare
    false-positive gram into a span, the standard trade of every
    hashed-substring formulation.

    ``hash_fn``: ``'md5'`` (default) is the cross-engine hash every gate
    and oracle reproduces; ``'xxhash64'`` is the production fast path —
    the per-position md5 is the largest CPU term of this operator and
    xxhash64 is a JVM-intrinsic non-cryptographic hash with the same span
    semantics (span membership depends only on hash equality) — measured
    ~1.5x end-to-end at 80k x 1kB docs (24.2s -> 16.3s warm, local[32]).
    Test-pinned equal spans; not DuckDB-reproducible, so the oracle stays
    on md5.
    """
    k, min_docs = int(k), int(min_docs)
    if k < 1 or min_docs < 1:
        raise ValueError(f"k and min_docs must be >= 1, got {k}, {min_docs}")
    if hash_fn not in ("md5", "xxhash64"):
        raise ValueError(f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r}")
    raw_chars, n_parts = _gram_exchange_sizing(docs)
    d = docs.select("doc_id", normalized_text().alias("nt")).filter(
        F.length("nt") >= k
    )
    form = choose_form(
        "duplicate_spans", strategy, docs,
        grams=d, k=k, raw_chars=raw_chars, n_parts=n_parts, min_docs=min_docs,
    )
    # widen the MAP side only when it is genuinely narrow (the full-text
    # round-robin shuffle is not free): each map task buffers its whole
    # gram output in the shuffle writer, so per-task gram volume must fit
    # the execution-memory share — profiled at 1.28M docs, 32 fat map
    # tasks spilled 9.1 GB / 2,845 s CPU where 136 sized tasks spilled
    # nothing (122 s -> 74 s end-to-end)
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
        F.explode(F.sequence(F.lit(1), F.length("nt") - (k - 1))).alias("pos"),
        F.col("nt"),
    ).select("doc_id", "pos", h.alias("h"))
    if min_docs == 2 and form == "window":
        g = grams.repartition(n_parts, "h")
        w_h = Window.partitionBy("h")
        hits = (
            g.withColumn("__mn", F.min("doc_id").over(w_h))
            .withColumn("__mx", F.max("doc_id").over(w_h))
            .filter(F.col("__mn") != F.col("__mx"))
            .select("doc_id", "pos")
        )
    elif min_docs == 2:
        dup = (
            grams.groupBy("h")
            .agg(F.min("doc_id").alias("__mn"), F.max("doc_id").alias("__mx"))
            .filter(F.col("__mn") != F.col("__mx"))
            .select("h")
        )
        # shuffle_hash: a sort-merge pick would re-sort the gram side —
        # the exact cost the agg formulation exists to avoid
        hits = grams.join(dup.hint("shuffle_hash"), "h", "left_semi").select(
            "doc_id", "pos"
        )
    else:
        dup = (
            grams.groupBy("h")
            .agg(F.countDistinct("doc_id").alias("__nd"))
            .filter(F.col("__nd") >= min_docs)
            .select("h")
        )
        hits = grams.join(dup.hint("shuffle_hash"), "h", "left_semi").select(
            "doc_id", "pos"
        )
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = hits.withColumn("grp", F.col("pos") - F.row_number().over(w))
    return runs.groupBy("doc_id", "grp").agg(
        F.min("pos").cast("long").alias("span_start"),
        (F.max("pos") - F.min("pos") + k).cast("long").alias("span_len"),
        F.count(F.lit(1)).cast("long").alias("n_grams"),
    ).drop("grp")


def duplicate_span_stats_df(
    docs: DataFrame,
    k: int = 20,
    min_docs: int = 2,
    hash_fn: str = "md5",
    strategy: str = "auto",
) -> DataFrame:
    """Per-document duplicate-span summary: ``(doc_id, n_spans,
    dup_span_chars, dup_span_char_frac)`` — the thresholdable curation
    signal ("drop documents that are mostly copied").  Maximal spans never
    overlap, so summed span lengths are the exact duplicated-character
    coverage of the normalized text.  Documents with no duplicated span
    (including those shorter than ``k``) report zeros."""
    spans = duplicate_spans_df(
        docs, k=k, min_docs=min_docs, hash_fn=hash_fn, strategy=strategy
    )
    agg = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum("span_len").alias("dup_span_chars"),
    )
    base = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", F.length(normalized_text()).cast("long").alias("n_chars")
    )
    return base.join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
        F.coalesce("dup_span_chars", F.lit(0)).alias("dup_span_chars"),
        F.round(
            F.coalesce("dup_span_chars", F.lit(0)).cast("double")
            / F.greatest("n_chars", F.lit(1)).cast("double"),
            6,
        ).alias("dup_span_char_frac"),
    )


def snapshot_diff_df(
    old_docs: DataFrame, new_docs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Incremental corpus diff between two snapshots: ``(doc_id, status,
    old_fp, new_fp)`` with status in {'added', 'removed', 'changed',
    'unchanged'} — the first question an incremental reprocessing pipeline
    asks of a new crawl drop ("what actually changed since the last run?"),
    and the input to change-data-capture downstream (re-embed only
    'added'+'changed', tombstone 'removed', skip the rest).

    Content identity is ``md5(normalized_text)`` — whitespace/case-
    normalized like every dedup operator here, so a reflowed copy of the
    same document is 'unchanged', exactly matching what exact dedup would
    collapse.  NULL text carries a sentinel fingerprint distinct from
    every real digest (a NULL fp would make 'changed' vs 'unchanged'
    three-valued-logic dependent).

    Plan at 100 TB: fingerprints are row-local projections pushed below
    the join, so the full outer join ships (id, fp) pairs — two compact
    shuffles on doc_id, never the document bodies.  If both snapshots are
    written bucketed by ``id_col`` (``sources.parquet.write_bucketed``),
    the exchanges disappear entirely.
    """
    fp = F.coalesce(F.md5(normalized_text()), F.lit("<null-text>"))
    o = old_docs.select(F.col(id_col), fp.alias("old_fp"))
    n = new_docs.select(F.col(id_col), fp.alias("new_fp"))
    return o.join(n, id_col, "full_outer").select(
        F.col(id_col),
        F.when(F.col("old_fp").isNull(), F.lit("added"))
        .when(F.col("new_fp").isNull(), F.lit("removed"))
        .when(F.col("old_fp") == F.col("new_fp"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
        .alias("status"),
        "old_fp",
        "new_fp",
    )


def snapshot_diff_stats_df(
    old_docs: DataFrame, new_docs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Aggregate of :func:`snapshot_diff_df`: one row per status with its
    document count — the four numbers an ingestion report leads with.  The
    map-side partial aggregation collapses each partition to <= 4 rows, so
    the second exchange is negligible next to the diff join's."""
    return (
        snapshot_diff_df(old_docs, new_docs, id_col=id_col)
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def snapshot_diff_stream_df(
    new_docs: DataFrame, *, old_docs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Streaming half of :func:`snapshot_diff_df`: classify a NEW snapshot
    AS IT ARRIVES against the static previous snapshot — each landing
    document is 'added' (id unseen before), 'changed', or 'unchanged',
    row-locally fingerprinted and LEFT-joined against the old (id, fp)
    set (stream-static joins are append-legal with zero state; the full
    outer join of the batch diff is not a streamable shape).  'removed'
    is inherently NOT emittable from a stream — absence is only knowable
    once the stream is declared complete; run the batch diff (or an anti
    join) at snapshot close for the removal set.  Identical status
    semantics otherwise (normalized-text md5, NULL-text sentinel), gated
    streamed == the batch diff minus its 'removed' rows.

    ``old_docs`` is KEYWORD-ONLY: this function naturally leads with the
    streaming frame while :func:`snapshot_diff_df` takes (old, new) —
    swapped positional args would still run and silently invert
    added/changed, so positional misuse is made impossible instead."""
    fp = F.coalesce(F.md5(normalized_text()), F.lit("<null-text>"))
    o = old_docs.select(F.col(id_col), fp.alias("old_fp"))
    n = new_docs.select(F.col(id_col), fp.alias("new_fp"))
    return n.join(o, id_col, "left").select(
        F.col(id_col),
        F.when(F.col("old_fp").isNull(), F.lit("added"))
        .when(F.col("old_fp") == F.col("new_fp"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
        .alias("status"),
        "old_fp",
        "new_fp",
    )
