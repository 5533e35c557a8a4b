"""Pure-numpy single-block MD5 matching ``hashlib.md5`` (and Spark's
``md5``) bit-for-bit for messages of at most 55 bytes.

Why this exists: the MinHash signature family's gate hash is
``conv(substring(md5(concat(salt, '|', shingle)), ...), 16, 10)`` — a
cross-engine (DuckDB-reproducible) recipe that costs ``num_hashes/2``
md5 digests per shingle occurrence.  Computed JVM-side that is a
codegen'd per-element expression chain (concat -> md5 -> hex ->
substring -> conv) over a ``transform`` of the shingle array; computed
here it is 64 vectorized uint32 rounds over an ``(n, 16)`` word matrix
— measured ~5.5x the throughput of a per-message ``hashlib`` loop and
the enabler for the round-11 word-shingle MinHash Arrow kernel.

A salted-shingle message (``"{salt}|" + shingle``) is almost always
<= 55 bytes, i.e. exactly ONE padded MD5 block — the only case the
vectorized rounds implement.  Longer messages take a per-row
``hashlib`` fallback inside :func:`md5_top60_spans`.

The byte-span core shared by the md5 Arrow kernels (word-shingle
MinHash in ``dedup``, DSIR and classifier scoring in ``curate``) lives
here too: :func:`tokenize_spaces` turns a batch of normalized strings
into token byte spans, :func:`md5_top60_spans` hashes prefixed spans,
and :func:`fold_chunks` reduces them per document in bounded chunks of
at most ``_MINHASH_CHUNK_SHINGLES`` spans.

:func:`md5_top60_cached` is the per-string ``hashlib`` form of the
same top-60 hash, for kernels that hash whole Python strings (SimHash
and hashed-embedding tokens, winnowing grams).

The algorithm is the public RFC 1321 specification; bit-equality is
pinned by test against ``hashlib.md5`` over random messages of every
length 0..55 and against Spark's ``md5`` via the MinHash parity tests.

Little-endian layout note: the packed block matrix is viewed as
``uint32`` words in host byte order; MD5's words are little-endian, so
the zero-copy ``view`` is only correct on a little-endian host (x86,
aarch64 — every supported Spark platform).  A big-endian host would
need a byteswap; ``pack_rows_single_block`` asserts the host order.
"""

from __future__ import annotations

import functools
import hashlib
import math
import sys

import numpy as np

__all__ = [
    "md5_words_rows",
    "pack_rows_single_block",
    "be64_top60",
    "seg_starts",
    "tokenize_spaces",
    "md5_top60_spans",
    "fold_chunks",
    "md5_top60_cached",
]

# RFC 1321: per-round left-rotation amounts and sine-derived constants.
_S = (
    [7, 12, 17, 22] * 4 + [5, 9, 14, 20] * 4 + [4, 11, 16, 23] * 4
    + [6, 10, 15, 21] * 4
)
_T = np.array(
    [int(abs(math.sin(i + 1)) * 2**32) & 0xFFFFFFFF for i in range(64)],
    dtype=np.uint32,
)
# message-word index per round: g = i | (5i+1)%16 | (3i+5)%16 | (7i)%16
_G = [
    i if i < 16 else (5 * i + 1) % 16 if i < 32 else
    (3 * i + 5) % 16 if i < 48 else (7 * i) % 16
    for i in range(64)
]
# gather indices stay int32 below this bound (module-level so the int64
# fallback is testable without multi-GB fixtures)
_INT32_SAFE = 2**31
# spans per hash chunk: ~256k bounds the packed block matrix to ~16 MB and
# the pack's gather-index triple to ~24 MB.  On hosts that reclaim guest
# memory aggressively (~1 ms/page re-fault) the chunk working set is the
# kernel's fault surface, and per-worker steady state must stay small
# enough for the malloc-tuned brk heap to keep every page warm across
# chunks and batches.  Kernels read it at plan build and ship it in the
# UDF closure (module-level so the oversized-document path is testable
# at a small size).
_MINHASH_CHUNK_SHINGLES = 262_144

# entries of one md5_top60_cached cache before it is cleared: bounds a
# Python worker's cache memory on an unbounded vocabulary
_TOP60_CACHE_MAX = 2_000_000

_A0 = np.uint32(0x67452301)
_B0 = np.uint32(0xEFCDAB89)
_C0 = np.uint32(0x98BADCFE)
_D0 = np.uint32(0x10325476)


def md5_words_rows(M: np.ndarray) -> tuple[np.ndarray, ...]:
    """MD5 of one padded 64-byte block per row.

    ``M``: ``(n, 16)`` uint32 — each row a fully padded block (message
    bytes, 0x80 terminator, zero fill, bit length in words 14/15) in
    little-endian word order, as produced by
    :func:`pack_rows_single_block`.

    Returns the four digest words ``(w0, w1, w2, w3)`` as uint32 arrays:
    digest bytes 0-3 are ``w0`` little-endian, 4-7 ``w1``, and so on —
    i.e. ``hashlib.md5(m).digest() == w0.tobytes() + w1.tobytes() + ...``
    row-wise (test-pinned).
    """
    n = M.shape[0]
    a = np.full(n, _A0, dtype=np.uint32)
    b = np.full(n, _B0, dtype=np.uint32)
    c = np.full(n, _C0, dtype=np.uint32)
    d = np.full(n, _D0, dtype=np.uint32)
    # two scratch vectors; each round's output vector BECOMES register b,
    # so the round loop cycles through at most 6 live (n,) arrays total.
    f = np.empty(n, dtype=np.uint32)
    tmp = np.empty(n, dtype=np.uint32)
    with np.errstate(over="ignore"):
        for i in range(64):
            if i < 16:
                # F = (b & c) | (~b & d)  ==  d ^ (b & (c ^ d))
                np.bitwise_xor(c, d, out=f)
                np.bitwise_and(f, b, out=f)
                np.bitwise_xor(f, d, out=f)
            elif i < 32:
                # G = (d & b) | (~d & c)  ==  c ^ (d & (b ^ c))
                np.bitwise_xor(b, c, out=f)
                np.bitwise_and(f, d, out=f)
                np.bitwise_xor(f, c, out=f)
            elif i < 48:
                # H = b ^ c ^ d
                np.bitwise_xor(b, c, out=f)
                np.bitwise_xor(f, d, out=f)
            else:
                # I = c ^ (b | ~d)
                np.bitwise_not(d, out=f)
                np.bitwise_or(f, b, out=f)
                np.bitwise_xor(f, c, out=f)
            f += a
            f += M[:, _G[i]]
            f += _T[i]
            s = _S[i]
            np.left_shift(f, np.uint32(s), out=tmp)
            np.right_shift(f, np.uint32(32 - s), out=f)
            np.bitwise_or(f, tmp, out=f)
            f += b
            # register rotation: (a, b, c, d) <- (d, f, b, c); the array
            # displaced from ``a`` becomes the next round's scratch.
            a, b, c, d, f = d, f, b, c, a
        a += _A0
        b += _B0
        c += _C0
        d += _D0
    return a, b, c, d


def pack_rows_single_block(
    data: np.ndarray,
    starts: np.ndarray,
    lens: np.ndarray,
    prefix_len: int,
) -> np.ndarray:
    """Gather-pack variable-length byte slices into padded MD5 blocks.

    Row ``i``'s message is ``prefix_len`` reserved bytes (the caller
    writes the salt prefix into columns ``[0, prefix_len)`` of the
    returned byte view before hashing — once per salt, reusing ONE pack)
    followed by ``data[starts[i] : starts[i] + lens[i]]``.  Every
    ``prefix_len + lens[i]`` must be <= 55 (single-block); the caller
    routes longer rows to its scalar fallback.

    Returns the ``(n, 16)`` uint32 word matrix ready for
    :func:`md5_words_rows`; ``.view(np.uint8)`` of it is the ``(n, 64)``
    byte matrix (shared memory — prefix writes through the byte view are
    seen by the word view).

    The gather-index triple built here is the pack's dominant
    allocation; it is int32 (halving it) whenever the chunk's total
    message bytes AND its highest source offset provably fit — the
    common case, since callers pass CHUNK-relative offsets and an Arrow
    string batch caps one column at 2 GiB.  A chunk that exceeds either
    bound (one pathological multi-GB document whose shingle spans sum
    past 2**31) falls back to int64 indices instead of silently
    wrapping them into wrong gather offsets (ADVICE round-11).  On
    hosts that reclaim idle guest pages (the round-11 box pathology)
    every byte of steady-state working set is a potential ~1 ms
    re-fault, so the index arithmetic stays as small as the data
    allows.
    """
    if sys.byteorder != "little":  # pragma: no cover - x86/aarch64 only
        raise RuntimeError("pack_rows_single_block requires a little-endian host")
    n = len(lens)
    lens64 = lens.astype(np.int64, copy=False)
    B = np.zeros((n, 64), dtype=np.uint8)
    if n:
        total = int(lens64.sum())
        max_src = int(starts.max()) + int(lens64.max())
        idx_t = (
            np.int32
            if total < _INT32_SAFE and max_src < _INT32_SAFE
            else np.int64
        )
        if total:
            lens_i = lens64.astype(idx_t, copy=False)
            rows = np.repeat(np.arange(n, dtype=idx_t), lens_i)
            cum = np.zeros(n, dtype=idx_t)
            np.cumsum(lens_i[:-1], out=cum[1:])
            within = np.arange(total, dtype=idx_t) - np.repeat(cum, lens_i)
            B[rows, prefix_len + within] = data[
                np.repeat(starts.astype(idx_t, copy=False), lens_i) + within
            ]
        B[np.arange(n, dtype=np.int64), prefix_len + lens64] = 0x80
    W = B.view(np.uint32).reshape(n, 16)
    W[:, 14] = (lens64.astype(np.uint32) + np.uint32(prefix_len)) * np.uint32(8)
    return W


def be64_top60(w0: np.ndarray, w1: np.ndarray) -> np.ndarray:
    """Top 60 bits of the big-endian u64 made of digest bytes
    ``[8*half, 8*half+8)`` — pass ``(w0, w1)`` for the low half-signature
    or ``(w2, w3)`` for the high one.  This is exactly Spark's
    ``conv(substring(md5_hex, 1 + 16*half, 15), 16, 10)``: 15 hex chars
    == 60 bits.  uint64 out (< 2**60, so the int64 cast is lossless)."""

    def bswap(w: np.ndarray) -> np.ndarray:
        w = w.astype(np.uint64)
        return (
            ((w & np.uint64(0xFF)) << np.uint64(24))
            | ((w & np.uint64(0xFF00)) << np.uint64(8))
            | ((w >> np.uint64(8)) & np.uint64(0xFF00))
            | (w >> np.uint64(24))
        )

    return ((bswap(w0) << np.uint64(32)) | bswap(w1)) >> np.uint64(4)


def seg_starts(counts: np.ndarray) -> np.ndarray:
    """Exclusive prefix sum: the first flat index of each segment."""
    base = np.zeros(len(counts), dtype=np.int64)
    np.cumsum(counts[:-1], out=base[1:])
    return base


def tokenize_spaces(strings) -> tuple[np.ndarray, ...]:
    """Token byte spans of a non-empty batch of normalized strings.

    Returns ``(data, ts, te, n)``: ``data`` is the batch's concatenated
    UTF-8 buffer, ``ts``/``te`` the int64 start/end offsets of every
    token in it (documents in order), ``n`` the per-document token
    count.  Tokens are split on single spaces exactly like Python's
    ``str.split(' ')`` (a UTF-8 multi-byte sequence never holds 0x20),
    empties included: a leading or trailing space yields an empty
    token, and an empty string is one empty token.
    """
    enc = [s.encode() for s in strings]
    doc_len = np.fromiter(map(len, enc), dtype=np.int64, count=len(enc))
    doc_off = np.zeros(len(enc) + 1, dtype=np.int64)
    np.cumsum(doc_len, out=doc_off[1:])
    data = np.frombuffer(b"".join(enc), dtype=np.uint8)
    spaces = np.nonzero(data == 0x20)[0]
    # doc d owns the spaces in [cnt[d], cnt[d+1]); its tokens start at its
    # own start and after each space, and end at each space and its end
    cnt = np.searchsorted(spaces, doc_off)
    ts = np.insert(spaces + 1, cnt[:-1], doc_off[:-1])
    te = np.insert(spaces, cnt[1:], doc_off[1:])
    return data, ts, te, np.diff(cnt) + 1


def md5_top60_spans(
    data: np.ndarray,
    starts: np.ndarray,
    lens: np.ndarray,
    prefixes: list,
    both: bool = False,
):
    """Top-60-bit md5 hashes of ``prefix + data[start : start + len]``.

    A generator over ``prefixes`` (byte strings, all of ONE length):
    the spans are packed once and re-hashed per prefix by rewriting the
    prefix bytes.  Yields per prefix the low-half hash array (Spark's
    ``conv(substring(md5(m), 1, 15), 16, 10)``), or the pair ``(low,
    high)`` of both digest halves when ``both``.  Messages over 55
    bytes exceed one MD5 block and take a per-row ``hashlib`` fallback —
    same bits.  Offsets are rebased on the lowest start, so the pack's
    gather indices stay int32 whenever the spans' own byte range fits.
    """
    off0 = int(starts.min())
    data = data[off0:]
    starts = starts - off0
    plen = len(prefixes[0])
    cap = 55 - plen
    long_pos = np.nonzero(lens > cap)[0]
    W = pack_rows_single_block(data, starts, np.minimum(lens, cap), plen)
    Bv = W.view(np.uint8).reshape(-1, 64)
    for pre in prefixes:
        Bv[:, :plen] = np.frombuffer(pre, dtype=np.uint8)
        w0, w1, w2, w3 = md5_words_rows(W)
        lo = be64_top60(w0, w1)
        hi = be64_top60(w2, w3) if both else None
        for j in long_pos:  # rare: a span longer than 55 - plen bytes
            b = int(starts[j])
            dg = hashlib.md5(pre + data[b : b + int(lens[j])].tobytes()).digest()
            lo[j] = int.from_bytes(dg[:8], "big") >> 4
            if both:
                hi[j] = int.from_bytes(dg[8:], "big") >> 4
        yield (lo, hi) if both else lo


def fold_chunks(counts, budget, reduce_chunk, ufunc, out) -> None:
    """Per-document reductions over flat spans, in chunks of <= ``budget``.

    Document ``d`` owns ``counts[d] >= 1`` consecutive spans.
    ``reduce_chunk(s0, s1, seg)`` reduces the spans ``[s0, s1)`` of
    whole documents whose first spans sit at the chunk-relative offsets
    ``seg`` and returns an array whose last axis is per document; it is
    written to ``out[..., d0:d1]``.  Chunks are cut on document END
    offsets, so a chunk never holds more than ``budget`` spans unless
    it is one oversized document.  Such a document is reduced in
    sub-ranges of ``budget`` spans folded with ``ufunc`` (``np.minimum``
    or ``np.add``: both associative), so the pack's gather indices and
    the per-batch temporaries stay bounded.
    """
    end = np.cumsum(counts)
    base = end - counts
    one_seg = np.zeros(1, dtype=np.int64)
    d0 = 0
    while d0 < len(counts):
        lo = int(base[d0])
        d1 = max(int(np.searchsorted(end, lo + budget, side="right")), d0 + 1)
        hi = int(end[d1 - 1])
        if hi - lo <= budget:
            out[..., d0:d1] = reduce_chunk(lo, hi, base[d0:d1] - lo)
        else:
            out[..., d0] = functools.reduce(
                ufunc,
                (
                    reduce_chunk(s0, min(s0 + budget, hi), one_seg)[..., 0]
                    for s0 in range(lo, hi, budget)
                ),
            )
        d0 = d1


def md5_top60_cached(prefix: bytes = b""):
    """A ``str -> int`` hasher: the top 60 bits of ``md5(prefix + s)``
    (Spark's ``conv(substring(md5(m), 1, 15), 16, 10)``), via ``hashlib``
    behind a dict cache — vocabularies repeat across documents, so each
    distinct string is digested once per cache lifetime, not per
    occurrence.  The cache is cleared when it holds
    ``_TOP60_CACHE_MAX`` entries."""
    cache: dict = {}
    md5 = hashlib.md5

    def top60(s: str) -> int:
        h = cache.get(s)
        if h is None:
            if len(cache) >= _TOP60_CACHE_MAX:
                cache.clear()
            h = int.from_bytes(md5(prefix + s.encode()).digest()[:8], "big") >> 4
            cache[s] = h
        return h

    return top60
